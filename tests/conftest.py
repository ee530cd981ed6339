from __future__ import annotations

import os

import pytest

from name_deduplication_python_spark.session import get_spark

# The session's 24g default driver heap is larger than a 16 GB host: the
# suite's JVM grows past 12 GB resident and can be OOM-killed mid-run.
# An 8g heap bounds it; an explicit SPARK_DRIVER_MEM still wins.
os.environ.setdefault("SPARK_DRIVER_MEM", "8g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()
