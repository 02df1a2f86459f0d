"""Session defaults that must be safe on the host they run on, and the
engine's Python daemon: checked without a JVM except where a test takes
the ``spark`` fixture."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

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


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


def test_worker_guard_rereads_an_archive_only_when_it_changed(tmp_path, monkeypatch):
    from pydatalake_gen2_spark import worker  # installs the guard

    assert zipimport.zipimporter.invalidate_caches is worker.invalidate_caches
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zguard_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "zguard_a", raising=False)
    monkeypatch.delitem(sys.modules, "zguard_b", raising=False)
    assert importlib.import_module("zguard_a").X == 1

    reads = []
    read_directory = zipimport._read_directory

    def spy(path):
        if path == str(archive):
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    importlib.invalidate_caches()  # records the archive's stat
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"zguard_a": "X = 1\n", "zguard_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module("zguard_b").Y == 2

    os.remove(archive)  # a failed stat re-reads on every call
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [str(archive)] * 2


def test_python_workers_run_the_guarded_daemon(spark):
    def report(batches):
        import zipimport

        import pandas as pd

        code = zipimport.zipimporter.invalidate_caches.__code__
        for _ in batches:
            yield pd.DataFrame({"f": [code.co_filename]})

    rows = spark.range(8, numPartitions=2).mapInPandas(report, "f string").collect()
    assert rows
    for r in rows:
        assert r.f.endswith(os.path.join("pydatalake_gen2_spark", "worker.py")), r.f


def test_registry_import_makes_no_sink_dir(tmp_path):
    """The sink root is made by the first ``_tmp`` call and removed at
    interpreter exit; importing the registry alone makes nothing."""
    code = (
        "import os, sys\n"
        "from pydatalake_gen2_spark.registry import load_all\n"
        "load_all()\n"
        "assert os.listdir(sys.argv[1]) == [], os.listdir(sys.argv[1])\n"
        "from pydatalake_gen2_spark.queries.scans import _tmp\n"
        "assert os.path.isdir(os.path.dirname(_tmp('s02_csv', '/x')))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": root}
    subprocess.run([sys.executable, "-c", code, str(tmp_path)], env=env, check=True)
    assert os.listdir(tmp_path) == []
