"""Metric definitions and the statistics the benchmark reports.

``END_TO_END`` and ``PER_LAYER`` are the source of ``BENCHMARK.json``'s
metric lists; ``PER_LAYER`` also records, for each per-layer metric, the
end-to-end metric it should move and the workloads it moves it on
(``BENCHMARK.json`` allows no extra keys, so the map lives here).
"""

from __future__ import annotations

import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
WORKLOADS = ("olap-sf1", "llm-sf0.1", "lake-commit")
ALL = WORKLOADS  # a metric that every workload moves

# name -> (unit, better)
END_TO_END: dict[str, tuple[str, str]] = {
    "throughput_ops_s": ("1/s", "higher"),
    "latency_p50_s": ("s", "lower"),
    "latency_tail_p90_s": ("s", "lower"),
    "commit_latency_p50_s": ("s", "lower"),
    "read_latency_p50_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
}

# name -> (unit, better, end-to-end metric it moves, workloads it moves it on)
PER_LAYER: dict[str, tuple[str, str, str, tuple[str, ...]]] = {
    "session.get_spark_s": ("s", "lower", "setup_s", ALL),
    "registry.ensure_views_s": ("s", "lower", "setup_s", ALL),
    "queries.warmup_s": ("s", "lower", "setup_s", ("llm-sf0.1",)),
    "queries.construct_s": ("s", "lower", "latency_p50_s", ("llm-sf0.1",)),
    "queries.construct_jobs": ("count", "lower", "latency_p50_s", ("llm-sf0.1",)),
    "queries.driver_gap_s": ("s", "lower", "latency_p50_s", ("llm-sf0.1",)),
    "spark.execute_s": ("s", "lower", "throughput_ops_s", ("olap-sf1",)),
    "spark.executor_run_s": ("s", "lower", "throughput_ops_s", ("olap-sf1",)),
    "spark.executor_cpu_s": ("s", "lower", "throughput_ops_s", ("olap-sf1",)),
    "spark.cpu_per_run": ("ratio", "higher", "throughput_ops_s", ("olap-sf1",)),
    "spark.shuffle_read_bytes": ("bytes", "lower", "throughput_ops_s", ("olap-sf1",)),
    "spark.shuffle_write_bytes": ("bytes", "lower", "latency_tail_p90_s", ("olap-sf1",)),
    "spark.spill_bytes": ("bytes", "lower", "latency_tail_p90_s", ("olap-sf1",)),
    "spark.gc_s": ("s", "lower", "latency_tail_p90_s", ("olap-sf1",)),
    "spark.jobs": ("count", "lower", "latency_p50_s", ("llm-sf0.1",)),
    "spark.stages": ("count", "lower", "latency_p50_s", ("llm-sf0.1",)),
    "spark.tasks": ("count", "lower", "latency_p50_s", ("llm-sf0.1",)),
    "spark.job_busy_s": ("s", "lower", "latency_p50_s", ("llm-sf0.1",)),
    "spark.storage_bytes": ("bytes", "lower", "throughput_ops_s", ("llm-sf0.1",)),
    "operators.util.released_frames": ("count", "lower", "throughput_ops_s", ("llm-sf0.1",)),
    "operators.util.release_persisted_s": ("s", "lower", "throughput_ops_s", ("llm-sf0.1",)),
    # No end-to-end metric moves with it directly: it shows memory
    # traded for the throughput of any workload.
    "session.jvm_peak_rss_mb": ("MB", "lower", "throughput_ops_s", ALL),
    "versioned.append_commit_s": ("s", "lower", "commit_latency_p50_s", ("lake-commit",)),
    "versioned.bytes_written_per_user_byte": (
        "ratio", "lower", "commit_latency_p50_s", ("lake-commit",)
    ),
    "versioned.resolve_s": ("s", "lower", "read_latency_p50_s", ("lake-commit",)),
    "versioned.scan_s": ("s", "lower", "read_latency_p50_s", ("lake-commit",)),
    "versioned.time_travel_s": ("s", "lower", "read_latency_p50_s", ("lake-commit",)),
    "versioned.read_changes_s": ("s", "lower", "read_latency_p50_s", ("lake-commit",)),
    "versioned.files_per_read": ("count", "lower", "read_latency_p50_s", ("lake-commit",)),
    "versioned.optimize_s": ("s", "lower", "latency_tail_p90_s", ("lake-commit",)),
    "versioned.expire_s": ("s", "lower", "latency_tail_p90_s", ("lake-commit",)),
    # Trades against read latency: fewer rewrites leave more bytes behind.
    "versioned.space_amplification": ("ratio", "lower", "read_latency_p50_s", ("lake-commit",)),
    # Self time per timed op of each traced layer (span time minus the
    # time of the spans nested in it).
    "self.bench_s": ("s", "lower", "latency_p50_s", ALL),
    "self.queries_s": ("s", "lower", "latency_p50_s", ("llm-sf0.1",)),
    "self.spark_driver_s": ("s", "lower", "latency_p50_s", ("llm-sf0.1",)),
    "self.spark_jobs_s": ("s", "lower", "throughput_ops_s", ("olap-sf1",)),
    "self.operators_s": ("s", "lower", "throughput_ops_s", ("llm-sf0.1",)),
    "self.versioned_s": ("s", "lower", "commit_latency_p50_s", ("lake-commit",)),
    # Untraced over traced throughput of the same run: the cost of tracing.
    "trace.overhead_ratio": ("ratio", "lower", "throughput_ops_s", ALL),
}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default 'linear' method)."""
    if not values:
        return 0.0
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def end_to_end(
    latencies: list[tuple[str, float]], wall_s: float, setup_s: float
) -> dict[str, float]:
    """End-to-end figures of one timed phase.

    ``latencies`` holds (kind, seconds) per timed op, kind "read" or
    "write". A workload with no write ops (every op reads the lake and
    writes its result to Spark's noop sink) reports its overall median as
    the commit median too, so every workload prints every metric.
    """
    all_s = [t for _, t in latencies]
    reads = [t for k, t in latencies if k == "read"] or all_s
    writes = [t for k, t in latencies if k == "write"] or all_s
    return {
        "throughput_ops_s": len(all_s) / wall_s,
        "latency_p50_s": median(all_s),
        "latency_tail_p90_s": quantile(all_s, 0.9),
        "commit_latency_p50_s": median(writes),
        "read_latency_p50_s": median(reads),
        "setup_s": setup_s,
    }


def with_units(values: dict[str, float], spec: dict) -> dict[str, dict]:
    return {k: {"value": float(values[k]), "unit": spec[k][0]} for k in spec}
