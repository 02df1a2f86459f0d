"""Measurement toolkit: A/B timings, decade-ladder points and plan dumps.

Every timing goes through bench.py's protocol (``noop_median``: discarded
warm-up, ``release_persisted()``, median of noop-sink runs) and its u01
host probe, and every output line is one JSON object that records the host
shape (cores, MemTotal, driver memory in effect).

Usage:
    python tools/measure.py ab <label> q1 [q2 ...]
        $SPARK_GRAFT_SF_DIR (default sf0.1). Per query: the bench median,
        then ONE extra traced run (perfbench's Tracer: construct/execute
        split, jobs, stages, tasks, executor time, shuffle and spill bytes).
        u01 probe ratio at start and end. Prints one line.
    python tools/measure.py ladder <sf_dir> [sf_dir ...] -- q1 [q2 ...]
        One session; per scale and query a cold run, a warm run and the
        result row count. Prints one line per (scale, query).
    python tools/measure.py plans <tag> [q1 ...]
        $SPARK_GRAFT_SF_DIR. Formatted physical plans into plans/<tag>/,
        default every bench query. Prints one line per plan.

The package, bench.py and perfbench are imported from this file's own
tree, so an A/B of two checkouts runs each checkout's tools/measure.py.
"""

from __future__ import annotations

import itertools
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import BENCH_QUERIES, noop_median, probe_ratio  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from pydatalake_gen2_spark.operators.util import release_persisted  # noqa: E402
from pydatalake_gen2_spark.registry import ensure_views, load_all  # noqa: E402
from pydatalake_gen2_spark.session import get_spark, mem_total_bytes  # noqa: E402


def host_shape(spark) -> dict:
    return {
        "cores": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_total_bytes() / 2**30, 1),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "master": spark.sparkContext.master,
    }


# The status store returns every retained job of a job group for the whole
# session, so each traced run tags its jobs with its own op id.
_OP_IDS = itertools.count()


def traced_run(spark, fn, sf_dir: str) -> dict:
    """One more run of ``fn`` under perfbench's Tracer, in the state the
    timed runs left (their persisted frames still held): construct and
    execute wall time plus the status-store totals of the jobs each phase
    started. Releases persisted frames afterwards."""
    op = next(_OP_IDS)
    tr = Tracer(spark, True)
    with tr.span("queries.construct", op, job_group=True):
        df = fn(spark, sf_dir)
    with tr.span("spark.execute", op, job_group=True):
        df.write.format("noop").mode("overwrite").save()
    release_persisted()
    tr.collect_jobs(op)
    wall = {s["name"]: round(s["end"] - s["start"], 3) for s in tr.spans}
    out = {"construct_s": wall["queries.construct"], "execute_s": wall["spark.execute"]}
    out.update({k: round(v, 3) for k, v in tr.ops[op].items()})
    return out


def ab(spark, sf_dir: str, label: str, names: list[str]) -> dict:
    out = {"variant": label, "sf_dir": sf_dir, "host": host_shape(spark),
           "probe_start": probe_ratio(spark, sf_dir)}
    queries, traced = {}, {}
    for name in names:
        fn = load_all()[name].spark_fn
        queries[name] = round(noop_median(spark, fn, sf_dir), 3)
        traced[name] = traced_run(spark, fn, sf_dir)
    out["queries"] = queries
    out["total"] = round(sum(queries.values()), 3)
    out["traced"] = traced
    out["probe_end"] = probe_ratio(spark, sf_dir)
    return out


def ladder(spark, sf_dirs: list[str], names: list[str]):
    host = host_shape(spark)
    for sf_dir in sf_dirs:
        ensure_views(spark, sf_dir)
        for name in names:
            fn = load_all()[name].spark_fn
            rec = {"sf_dir": sf_dir, "query": name}
            for run in ("cold_s", "warm_s"):
                rec[run] = round(noop_median(spark, fn, sf_dir, runs=1, warm=0), 3)
            release_persisted()
            rec["rows"] = fn(spark, sf_dir).count()
            release_persisted()
            yield {**rec, "host": host}


def plans(spark, sf_dir: str, names: list[str], out_dir: str):
    """Write each query's formatted physical plan to ``out_dir/<name>.txt``.
    Construction only: the plan is not executed (eager jobs inside a
    query's builder still run)."""
    os.makedirs(out_dir, exist_ok=True)
    host = host_shape(spark)
    for name in names:
        try:
            df = load_all()[name].spark_fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 — record the failure verbatim
            plan = f"EXPLAIN FAILED: {type(e).__name__}: {e}"
        release_persisted()
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(plan)
        yield {"query": name, "path": path, "chars": len(plan), "host": host}


def main(argv: list[str]) -> int:
    if not argv or argv[0] not in ("ab", "ladder", "plans"):
        print(__doc__, file=sys.stderr)
        return 2
    cmd, args = argv[0], argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(f"measure-{cmd}")
    if cmd == "ab":
        lines = [ab(spark, sf_dir, args[0], args[1:])]
    elif cmd == "ladder":
        cut = args.index("--")
        lines = ladder(spark, args[:cut], args[cut + 1:])
    else:
        out_dir = os.path.join(ROOT, "plans", args[0])
        lines = plans(spark, sf_dir, args[1:] or BENCH_QUERIES, out_dir)
    for line in lines:
        print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
