"""Host-derived engine defaults (session.py)."""

from __future__ import annotations

import os

from logicash_etl_spark.session import default_driver_memory


def test_driver_memory_is_half_of_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemFree:  1000 kB\nMemTotal:       16000000 kB\nSwapTotal: 0 kB\n")
    assert default_driver_memory(str(meminfo)) == f"{16000000 // 2048}m"


def test_driver_memory_never_below_one_gib(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal: 1048576 kB\n")
    assert default_driver_memory(str(meminfo)) == "1024m"


def test_driver_memory_falls_back_to_sysconf(tmp_path):
    kib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024
    expected = f"{max(kib // 2048, 1024)}m"
    assert default_driver_memory(str(tmp_path / "absent")) == expected
    (tmp_path / "no_total").write_text("MemFree: 1000 kB\n")
    assert default_driver_memory(str(tmp_path / "no_total")) == expected
