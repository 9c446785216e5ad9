"""The local session's default heap comes from the host, not a constant.

The heap is committed up front (-Xms = -Xmx), so a default the host cannot
commit kills the JVM before the first test runs.
"""

from __future__ import annotations

import os

from apachebeam_python_spark.session import default_driver_mem


def _mb(size: str) -> int:
    units = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    return int(float(size[:-1]) * units[size[-1].lower()])


def _meminfo_kb(field: str) -> int:
    with open("/proc/meminfo") as f:
        return next(int(ln.split()[1]) for ln in f if ln.startswith(field + ":"))


def test_default_heap_fits_in_physical_memory():
    assert _mb(default_driver_mem()) <= _meminfo_kb("MemTotal") // 1024 // 2 + 1


def test_default_heap_is_half_of_available_within_bounds(tmp_path):
    def derived(avail_kb: int) -> str:
        p = tmp_path / "meminfo"
        p.write_text(f"MemTotal: {2 * avail_kb} kB\nMemAvailable: {avail_kb} kB\n")
        return default_driver_mem(str(p))

    assert derived(15_943_072) == "7784m"  # 15 GB host: half, not 16g
    assert derived(1_000_000) == "1024m"  # floor
    assert derived(256 * 1024 * 1024) == "16384m"  # cap: the former default
    assert default_driver_mem(str(tmp_path / "absent")) == "2g"


def test_running_session_heap_fits_and_is_presized(spark):
    mem = spark.conf.get("spark.driver.memory")
    assert _mb(mem) <= _meminfo_kb("MemTotal") // 1024
    assert f"-Xms{mem}" in spark.conf.get("spark.driver.extraJavaOptions")
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        assert mem == override
