from __future__ import annotations

import pytest

from name_deduplication_python_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()
