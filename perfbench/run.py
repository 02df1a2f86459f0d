"""Run one benchmark workload at one seed and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload olap-sf1 --seed 1 --seconds 7 --trace 0

Phases of a run:

1. harness: build the seeded fixtures on first use (perfbench/gen.py,
   cached under perfbench/_data) and hash them. Not part of ``setup_s``.
2. setup: ``get_spark``, view registration, workload preparation and one
   or two discarded warm-up passes over every op type. ``setup_s`` runs
   from process start to the first timed op, less the harness time.
3. timed: round(--seconds / the workload's nominal pass time) whole
   passes (at least one) over its op types, in seeded order. The pass
   count depends only on the arguments, so every run of a workload times
   the same ops on any host and on both sides of an A/B. One client
   thread, closed loop.
4. check: every op's output against its oracle or recorded invariant.

``--trace 1`` runs the timed passes both untraced and traced, in ABBA
order and at least twice each, and prints the per-layer metrics instead of the end-to-end
ones; spans and per-op Spark metrics go to perfbench/_out/. The last
stdout line is the result object; the line before it holds harness facts
(fixture hash, generation time, pass count, per-pass op time).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import gen
import metrics
from tracing import Tracer, jvm_peak_rss_mb


def _process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.time()


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "_data")
OUT = os.path.join(HERE, "_out")
DRIVER_MEM = "4g"

# workload -> (fixture scale in multiples of sf0.1, nominal seconds per
# warm timed pass on a 4-core host, warm-up passes). A second warm-up pass
# brings the query workloads' first timed pass to within ~10% of later
# ones: after one warm-up pass it still ran 30-60% slower.
WORKLOADS = {"olap-sf1": (10, 3.1, 2), "llm-sf0.1": (1, 3.3, 2), "lake-commit": (1, 8.5, 1)}


def fixture(scale: int) -> tuple[str, str, float]:
    """Path, content hash and build time of the fixture at ``scale``."""
    t0 = time.time()
    path = os.path.join(DATA, f"x{scale}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_tables(tmp, scale)
        try:
            os.rename(tmp, path)
        except OSError:  # a concurrent run built it first
            shutil.rmtree(tmp, ignore_errors=True)
    return path, gen.content_hash(path), time.time() - t0


def configure_env(scratch: str) -> None:
    """Keep every file Spark writes inside the checkout, pin the driver
    heap, and put the repository on the Python workers' path."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM child to exit, even when the
    gateway connection is already broken (a signal mid-call)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
        gw.shutdown()
    finally:
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()


def timed_phase(wl, passes, n_passes: int, tracer, first_id: int):
    """Run ``n_passes`` passes. Returns one record per op (id, kind, name,
    class, pass, seconds, ok) and the wall time."""
    recs: list[dict] = []
    op_id = first_id
    t0 = time.perf_counter()
    for i in range(n_passes):
        for op in next(passes):
            op_id += 1
            s = time.perf_counter()
            try:
                with tracer.span("op", op_id):
                    ok = wl.run(op, op_id)
            except Exception as e:
                ok = False
                print(f"op {op} failed: {type(e).__name__}: {e}"[:400], file=sys.stderr)
            recs.append(
                {"id": op_id, "kind": op["kind"], "name": op.get("name", op["kind"]),
                 "class": wl.op_class(op), "pass": i,
                 "s": time.perf_counter() - s, "ok": ok}
            )
            tracer.collect_jobs(op_id)
    return recs, time.perf_counter() - t0


def layer_metrics(tracer, recs: list[dict], extra: dict) -> dict[str, float]:
    """Per-layer metrics per timed op, from the traced phase."""
    ids = {r["id"] for r in recs}
    n = len(ids)
    spans = [s for s in tracer.spans if s["op"] in ids]

    def span_mean(name: str, per_op: bool = True) -> float:
        d = [s["end"] - s["start"] for s in spans if s["name"] == name]
        return sum(d) / (n if per_op else max(1, len(d)))

    def op_sum(key: str, among=ids) -> float:
        return sum(tracer.ops.get(i, {}).get(key, 0) for i in among)

    def kind_mean(kind: str) -> float:
        got = [r["s"] for r in recs if r["kind"] == kind]
        return sum(got) / len(got) if got else 0.0

    busy = {i: tracer.job_busy_s(i) for i in ids}
    reads = [i for i in ids if "files" in tracer.ops.get(i, {})]
    m = {
        "queries.construct_s": span_mean("queries.construct"),
        "queries.construct_jobs": op_sum("construct_jobs") / n,
        "queries.driver_gap_s": sum(r["s"] - busy[r["id"]] for r in recs) / n,
        "spark.execute_s": span_mean("spark.execute"),
        "spark.executor_run_s": op_sum("executor_run_s") / n,
        "spark.executor_cpu_s": op_sum("executor_cpu_s") / n,
        "spark.cpu_per_run": op_sum("executor_cpu_s") / max(1e-9, op_sum("executor_run_s")),
        "spark.shuffle_read_bytes": op_sum("shuffle_read_bytes") / n,
        "spark.shuffle_write_bytes": op_sum("shuffle_write_bytes") / n,
        "spark.spill_bytes": op_sum("spill_bytes") / n,
        "spark.gc_s": op_sum("gc_s") / n,
        "spark.jobs": op_sum("jobs") / n,
        "spark.stages": op_sum("stages") / n,
        "spark.tasks": op_sum("tasks") / n,
        "spark.job_busy_s": sum(busy.values()) / n,
        "spark.storage_bytes": op_sum("storage_bytes") / n,
        "operators.util.released_frames": op_sum("released_frames") / n,
        "operators.util.release_persisted_s": span_mean("operators.util.release_persisted"),
        "versioned.append_commit_s": span_mean("versioned.append_commit", False),
        "versioned.resolve_s": span_mean("versioned.resolve", False),
        "versioned.optimize_s": span_mean("versioned.optimize", False),
        "versioned.expire_s": span_mean("versioned.expire", False),
        "versioned.scan_s": kind_mean("scan"),
        "versioned.time_travel_s": kind_mean("time_travel"),
        "versioned.read_changes_s": kind_mean("changes"),
        "versioned.files_per_read": op_sum("files", reads) / len(reads) if reads else 0.0,
    }
    selfs = tracer.self_times(ids)
    for layer in ("bench", "queries", "spark_driver", "spark_jobs", "operators", "versioned"):
        m[f"self.{layer}_s"] = selfs.get(layer, 0.0) / n
    m.update(extra)
    return {k: m[k] for k in metrics.PER_LAYER}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    proc_start = _process_start()

    if not os.path.isdir(os.path.join(ROOT, "pydatalake_gen2_spark")):
        print(f"engine package not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads as W

    from pydatalake_gen2_spark.harness import duck_connect
    from pydatalake_gen2_spark.registry import ensure_views
    from pydatalake_gen2_spark.session import get_spark

    # SIGTERM unwinds through the finally below, so Spark is stopped
    # and the run's scratch directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scale, pass_s, warm_passes = WORKLOADS[args.workload]
    n_passes = max(1, round(args.seconds / pass_s))
    sf_dir, data_hash, harness_s = fixture(scale)
    scratch = os.path.join(DATA, f"run-{os.getpid()}")
    spark = wl = None
    try:
        configure_env(scratch)
        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
                # no hsperfdata file under /tmp
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
                ),
            },
        )
        get_spark_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        ensure_views(spark, sf_dir)
        ensure_views_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        tracer = Tracer(spark, False)
        if args.workload == "lake-commit":
            wl = W.LakeWorkload(spark, sf_dir, os.path.join(scratch, "lake"), tracer)
            passes = W.lake_passes(args.seed)
        else:
            names = W.OLAP_OPS if args.workload == "olap-sf1" else W.LLM_OPS
            con = duck_connect(sf_dir)
            con.execute("SET threads = 4")
            con.execute("SET memory_limit = '2GB'")
            con.execute(f"SET temp_directory = '{os.environ['TMPDIR']}'")
            wl = W.QueryWorkload(spark, sf_dir, names, con, tracer)
            passes = W.query_passes(names, args.seed)

        prepare_s = time.perf_counter() - t0
        attempted = failed = 0
        warm: dict[str, list[float]] = {}
        for op in [op for _ in range(warm_passes) for op in wl.op_types()]:
            s = time.perf_counter()
            attempted += 1
            try:
                failed += not wl.run(op, 0)
            except Exception as e:
                failed += 1
                print(f"warm-up {op} failed: {type(e).__name__}: {e}"[:400], file=sys.stderr)
            warm.setdefault(op.get("name", op["kind"]), []).append(time.perf_counter() - s)
        setup_s = time.time() - proc_start - harness_s

        recs, recs_t, wall, wall_t = [], [], 0.0, 0.0
        if args.trace:
            # Untraced and traced passes alternate in ABBA order, so both
            # phases see the same warm-up state and linear host drift.
            order = ([False, True, True, False] * n_passes)[: max(4, 2 * n_passes)]
            for k, traced in enumerate(order):
                tracer.enabled = traced
                r, w = timed_phase(wl, passes, 1, tracer, len(recs) + len(recs_t))
                for x in r:
                    x["pass"] = k
                if traced:
                    recs_t, wall_t = recs_t + r, wall_t + w
                else:
                    recs, wall = recs + r, wall + w
            tracer.enabled = False
        else:
            recs, wall = timed_phase(wl, passes, n_passes, tracer, 0)
        t0 = time.perf_counter()
        checks = wl.check()
        check_s = time.perf_counter() - t0
        attempted += len(recs) + len(recs_t) + len(checks)
        failed += sum(not r["ok"] for r in recs + recs_t)
        for name, ok, detail in checks:
            failed += not ok
            if not ok:
                print(f"check {name} failed: {detail}", file=sys.stderr)

        harness = {
            "workload": args.workload,
            "seed": args.seed,
            "fixture": os.path.relpath(sf_dir, ROOT),
            "fixture_sha256": data_hash,
            "harness_s": harness_s,
            "passes": n_passes,
            "timed_ops": len(recs),
            "timed_wall_s": wall,
            "pass_s": [
                sum(r["s"] for r in recs if r["pass"] == i)
                for i in sorted({r["pass"] for r in recs})
            ],
            "setup_parts_s": {
                "get_spark": get_spark_s,
                "ensure_views": ensure_views_s,
                "prepare": prepare_s,
                "warmup": sum(map(sum, warm.values())),
            },
            "warmup_s": warm,
            "check_s": check_s,
            "op_medians_s": {
                name: metrics.median([r["s"] for r in recs if r["name"] == name])
                for name in sorted({r["name"] for r in recs})
            },
            "checks": [[n, ok, d] for n, ok, d in checks],
        }
        if args.trace:
            lake = args.workload == "lake-commit"
            extra = {
                "session.get_spark_s": get_spark_s,
                "registry.ensure_views_s": ensure_views_s,
                "queries.warmup_s": sum(t[0] for t in warm.values()),
                "session.jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
                "versioned.bytes_written_per_user_byte": (
                    wl.written_bytes / wl.user_bytes if lake else 0.0
                ),
                "versioned.space_amplification": wl.space_amplification() if lake else 0.0,
                "trace.overhead_ratio": (len(recs) / wall) / (len(recs_t) / wall_t),
            }
            values = layer_metrics(tracer, recs_t, extra)
            spec = {k: v[:2] for k, v in metrics.PER_LAYER.items()}
            os.makedirs(OUT, exist_ok=True)
            tracer.write(
                os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"),
                {"harness": harness, "metrics": values},
            )
        else:
            values = metrics.end_to_end([(r["class"], r["s"]) for r in recs], wall, setup_s)
            spec = metrics.END_TO_END
        print(json.dumps({"harness": harness}))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": metrics.with_units(values, spec),
                }
            )
        )
        return 0
    finally:
        try:
            if isinstance(wl, W.LakeWorkload):
                wl.close()
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
