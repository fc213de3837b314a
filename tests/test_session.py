"""Session sizing: the default driver heap is pre-touched at JVM start, so
it must fit in the host's RAM."""

from __future__ import annotations

import re

from relieff_lsh_spark.session import (
    _jvm_flags,
    default_driver_mem,
    host_cpus,
    mem_total_mb,
)


def _xms_mb(flags: str) -> int:
    num, unit = re.search(r"-Xms(\d+)([mg])", flags).groups()
    return int(num) * (1024 if unit == "g" else 1)


def test_default_xms_fits_in_memtotal():
    total = mem_total_mb()
    flags = _jvm_flags(default_driver_mem(total), host_cpus())
    assert _xms_mb(flags) <= total // 2
    assert f"-XX:ParallelGCThreads={host_cpus()}" in flags


def test_default_driver_mem_is_half_of_ram_capped(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16456384 kB\nMemFree: 1 kB\n")
    assert default_driver_mem(mem_total_mb(str(meminfo))) == "8035m"
    assert default_driver_mem(256 * 1024) == "16384m"
