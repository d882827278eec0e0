"""Host-derived driver heap default (no SparkSession needed): about 60%
of ``MemTotal``, capped at 24g."""

from __future__ import annotations

from binancedatapipelineinaws_spark.session import default_driver_mem


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_default_driver_mem_is_60_percent_of_memtotal(tmp_path):
    # a 15 GiB host gets 9216m, not the old fixed 24g
    assert default_driver_mem(_meminfo(tmp_path, 15 * 1024 * 1024)) == "9216m"
    assert default_driver_mem(_meminfo(tmp_path, 4 * 1024 * 1024)) == "2457m"


def test_default_driver_mem_capped_at_24g(tmp_path):
    assert default_driver_mem(_meminfo(tmp_path, 256 * 1024 * 1024)) == "24576m"


def test_default_driver_mem_without_meminfo(tmp_path):
    assert default_driver_mem(str(tmp_path / "missing")) == "24g"
