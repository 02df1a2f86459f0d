"""Session defaults that must be safe on the host they run on — checked
without starting a JVM."""

from __future__ import annotations

from pydatalake_gen2_spark.session import default_driver_memory


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {kb} kB\nMemFree:         1024 kB\n"
        "MemAvailable:    2048 kB\n"
    )
    return str(p)


def test_default_driver_memory_is_60_percent_of_host_ram(tmp_path):
    gib = 1024 * 1024  # kB per GiB
    # a 15.7 GiB host (4-core VM) gets 9g, never the 16g it lacks
    assert default_driver_memory(_meminfo(tmp_path, 16_479_424)) == "9g"
    assert default_driver_memory(_meminfo(tmp_path, 64 * gib)) == "38g"
    assert default_driver_memory(_meminfo(tmp_path, 10 * gib)) == "6g"
    # floored to whole GB, never below 1g
    assert default_driver_memory(_meminfo(tmp_path, gib)) == "1g"
    assert default_driver_memory(_meminfo(tmp_path, gib // 4)) == "1g"


def test_default_driver_memory_without_meminfo_uses_sysconf(tmp_path):
    # sysconf's physical pages and MemTotal both report the kernel's
    # total RAM, so the fallback lands on the same figure
    assert default_driver_memory(str(tmp_path / "absent")) == default_driver_memory()
