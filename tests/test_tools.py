"""The measurement and oracle tools under tools/.

``measure.py`` times through bench.py's protocol and adds one traced run
per query; both it and ``check.py`` must import the package from their own
tree, so a tool run from a second checkout measures that checkout.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _load(tool: str):
    spec = importlib.util.spec_from_file_location(tool, os.path.join(ROOT, "tools", f"{tool}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("tool", ["check", "measure"])
def test_tool_imports_its_own_tree(tmp_path, tool):
    ignore = shutil.ignore_patterns("__pycache__", "_data", "_out")
    for d in ("tools", "pydatalake_gen2_spark", "perfbench"):
        shutil.copytree(os.path.join(ROOT, d), tmp_path / d, ignore=ignore)
    shutil.copy(os.path.join(ROOT, "bench.py"), tmp_path)
    code = (
        "import importlib.util, sys\n"
        "spec = importlib.util.spec_from_file_location('t', sys.argv[1])\n"
        "spec.loader.exec_module(importlib.util.module_from_spec(spec))\n"
        "import pydatalake_gen2_spark, pyspark.sql\n"
        "assert pyspark.sql.SparkSession.getActiveSession() is None\n"
        "print(pydatalake_gen2_spark.__file__)\n"
    )
    # Started from an unrelated directory, with the real repo on
    # PYTHONPATH: only the tool's own tree can make the copy win.
    (tmp_path / "cwd").mkdir()
    env = {**os.environ, "PYTHONPATH": ROOT}
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path / "tools" / f"{tool}.py")],
        cwd=tmp_path / "cwd", env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip() == str(tmp_path / "pydatalake_gen2_spark" / "__init__.py")


def test_measure_ab_and_plans(spark, sf_dir, tmp_path):
    measure = _load("measure")
    rec = measure.ab(spark, sf_dir, "t", ["u01_union_all"])
    host = rec["host"]
    assert host["cores"] >= 1 and host["mem_total_gb"] > 0 and host["driver_memory"]
    assert rec["queries"]["u01_union_all"] > 0
    assert rec["total"] == rec["queries"]["u01_union_all"]
    assert rec["probe_start"] > 0 and rec["probe_end"] > 0
    traced = rec["traced"]["u01_union_all"]
    assert traced["jobs"] >= 1 and traced["stages"] >= 1 and traced["tasks"] >= 1
    assert traced["construct_jobs"] == 0
    for k in ("construct_s", "execute_s", "executor_run_s", "executor_cpu_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        assert traced[k] >= 0, k

    (line,) = measure.plans(spark, sf_dir, ["u01_union_all"], str(tmp_path / "p"))
    assert line["host"] == host
    with open(line["path"]) as f:
        plan = f.read()
    assert line["path"] == str(tmp_path / "p" / "u01_union_all.txt")
    assert "Union" in plan and len(plan) == line["chars"]


def test_traced_runs_count_only_their_own_jobs(spark, sf_dir):
    measure = _load("measure")
    fn = measure.load_all()["u01_union_all"].spark_fn
    first, second = (measure.traced_run(spark, fn, sf_dir) for _ in range(2))
    assert first["jobs"] >= 1
    for k in ("jobs", "stages", "tasks", "construct_jobs"):
        assert second[k] == first[k], k


def test_check_rejects_a_prefix_that_matches_no_pair():
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check.py"),
         "/nonexistent", "no_such_prefix_"],
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 2
    assert "no registered pair matches" in out.stderr


def test_check_counts_unpartitioned_windows(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    check = _load("check")
    df = spark.range(10).withColumn("g", F.col("id") % 2)
    rn = F.row_number()
    assert check.unpartitioned_windows(df.withColumn("r", rn.over(Window.orderBy("id")))) == 1
    by_g = Window.partitionBy("g").orderBy("id")
    assert check.unpartitioned_windows(df.withColumn("r", rn.over(by_g))) == 0
    sub = spark.sql(
        "SELECT id, (SELECT max(r) FROM (SELECT row_number() OVER (ORDER BY id) r"
        " FROM range(3))) m FROM range(2)"
    )
    assert check.unpartitioned_windows(sub) == 1
