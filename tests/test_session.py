"""SparkSession factory defaults."""

from __future__ import annotations

from name_deduplication_python_spark.session import default_driver_memory


def test_default_driver_memory_is_half_of_memtotal_capped(tmp_path):
    meminfo = tmp_path / "meminfo"
    for mem_total_kb, want in (
        (16_479_424, "8046m"),  # a 16 GB host: half of MemTotal
        (2_097_152, "1024m"),
        (134_217_728, "24576m"),  # 128 GiB: capped at 24g
    ):
        meminfo.write_text(f"MemTotal:       {mem_total_kb} kB\nMemFree:  1 kB\n")
        assert default_driver_memory(str(meminfo)) == want
    meminfo.write_text("MemFree:  1 kB\n")
    assert default_driver_memory(str(meminfo)) == "24g"
    assert default_driver_memory(str(tmp_path / "missing")) == "24g"
