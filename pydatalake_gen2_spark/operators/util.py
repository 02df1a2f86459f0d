"""Shared operator plumbing."""

from __future__ import annotations

from pyspark import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Frames held past the operator call that made them: persisted
# intermediates (ivf_topk / lsh_topk) and the final checkpointed state of
# the iterative loops, which ``RoundState`` hands over on normal exit.
# Callers own the lifecycle: consume the result, then call
# ``release_persisted()``. bench.py and the test harness do this between
# queries; a long-lived session that skips it holds evictable
# MEMORY_AND_DISK blocks, not a hard leak. A persisted frame recomputes
# from lineage after release; a checkpointed one does not (see
# ``checkpoint_truncate``).
_TRACKED: list[DataFrame] = []
# Broadcasts created by library operators (lsh_topk's small-path matrix).
# Unlike a persisted frame, a destroyed broadcast CANNOT be recomputed: a
# returned DataFrame whose plan reads it fails if executed again after
# ``release_persisted()`` — the same consume-then-release contract as
# ``checkpoint_truncate``.
_BROADCASTS: list[Broadcast] = []


def track(df: DataFrame) -> DataFrame:
    """Register an already-materialized frame for ``release_persisted()``."""
    _TRACKED.append(df)
    return df


def track_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for ``release_persisted()``."""
    df.persist()
    _TRACKED.append(df)
    return df


def track_broadcast(bc: Broadcast) -> Broadcast:
    """Register a broadcast for ``destroy()`` in ``release_persisted()``."""
    _BROADCASTS.append(bc)
    return bc


def checkpoint_truncate(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and TRUNCATE its logical plan (localCheckpoint).

    Iterative algorithms (connected components' pointer doubling) reference
    the previous round's frame several times per round; ``persist()`` caches
    the *data* but the analyzed logical plan still grows multiplicatively
    (~4x/round here), and analyzing a 4^k-leaf tree OOMs the driver long
    before the data does. ``localCheckpoint(eager=True)`` cuts the plan to a
    flat ``LogicalRDD`` so every round starts from a constant-size plan —
    the same reason GraphFrames/GraphX checkpoint each superstep. The blocks
    are executor-local (an executor loss mid-loop fails the job and the
    caller reruns; a production session that needs fault tolerance sets
    ``sparkContext.setCheckpointDir`` and swaps in ``.checkpoint()``).

    NOTE: unlike plain persist, a truncated frame CANNOT be recomputed
    after its blocks are released — release only after fully consuming.

    ``eager=False`` defers materialization to the caller's NEXT action —
    used by the iterative loops to fuse the round's convergence count
    into the materialization job (one driver job per round instead of
    two — guide §7 driver overhead). The caller MUST then run an action
    that computes EVERY partition (a full count/aggregate, never
    limit(1)) before releasing the frame it was derived from: a
    partially-materialized lazy checkpoint recomputes missing partitions
    from lineage, and the parent's blocks must still exist for that.
    """
    return df.localCheckpoint(eager=eager)


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks behind a ``checkpoint_truncate`` frame immediately.

    ``DataFrame.unpersist`` is a no-op for localCheckpointed frames (their
    RDD is not in the CacheManager), and waiting for the ContextCleaner
    makes block release nondeterministic — so reach through to the
    ``LogicalRDD``'s underlying RDD and unpersist it directly.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            # JVM field read on the checkpoint's backing RDD to free its
            # blocks — NOT a DataFrame->RDD conversion (nothing is
            # recomputed or re-planned), hence exempt from the
            # test_no_rdd_conversion_in_source gate.
            plan.rdd().unpersist(False)  # jvm-rdd-release
    except Exception:
        pass  # session already stopped / plan shape changed


def release_persisted() -> int:
    """Unpersist every operator-cached frame and destroy every tracked
    broadcast; returns how many frames were held."""
    n = len(_TRACKED)
    for df in _TRACKED:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped
        release_checkpoint(df)
    _TRACKED.clear()
    for bc in _BROADCASTS:
        try:
            bc.destroy()
        except Exception:
            pass  # session already stopped
    _BROADCASTS.clear()
    return n


class RoundState:
    """Owner of an iterative loop's held frames, used as a ``with`` block.

    ``persist(df)`` holds a loop input (the edge list every round joins)
    until the block exits; ``checkpoint(df, eager)`` materializes a round
    through ``checkpoint_truncate`` and holds it; ``drop(df)`` frees a
    superseded or unadopted round at once (frames match by identity). If
    the block raises — a failed job or a loop's own non-convergence
    ``RuntimeError`` — every held round is freed. On normal exit the
    rounds still held back the loop's result, so they pass to
    ``release_persisted()`` for the caller to free after consuming it.
    """

    def __init__(self) -> None:
        self._inputs: list[DataFrame] = []
        self._rounds: list[DataFrame] = []

    def __enter__(self) -> RoundState:
        return self

    def persist(self, df: DataFrame) -> DataFrame:
        self._inputs.append(df.persist())
        return df

    def checkpoint(self, df: DataFrame, eager: bool = True) -> DataFrame:
        cp = checkpoint_truncate(df, eager)
        self._rounds.append(cp)
        return cp

    def drop(self, df: DataFrame) -> None:
        self._rounds = [r for r in self._rounds if r is not df]
        release_checkpoint(df)

    def __exit__(self, exc_type, exc, tb) -> None:
        for df in self._inputs:
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped
        for df in self._rounds:
            if exc_type is None:
                track(df)
            else:
                release_checkpoint(df)


def undirected(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """(s BIGINT, d BIGINT): the edge list closed under reversal, deduped."""
    e = edges.select(
        F.col(src_col).cast("bigint").alias("s"),
        F.col(dst_col).cast("bigint").alias("d"),
    )
    return e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d"))).distinct()


def _parse_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value ('134217728b', '128m', '1g')."""
    s = str(v).strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    return int(float(s)) * mult


def spread(df: DataFrame) -> DataFrame:
    """Ensure per-row-heavy work fans out across the cluster's cores.

    Heavy per-row work (HOF expressions, hashing, explodes) inherits the
    input's split count. A small local fixture arrives as ONE parquet
    split, so without this the whole pipeline runs in a single task. On a
    real cluster the scan already has far more splits than cores and this
    must stay a no-op — repartitioning a 100 TB scan down to
    defaultParallelism would be a catastrophic shuffle.

    The decision comes from the optimizer's size estimate
    (``optimizedPlan().stats().sizeInBytes`` — a plan inspection, no job,
    no logical→RDD conversion): inputs smaller than
    defaultParallelism × maxPartitionBytes are the ones the file scanner
    would have packed into fewer-than-core-count splits, so only those
    get the round-robin exchange.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        max_pb = _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    except Exception:
        max_pb = 128 << 20
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        # Fail SAFE, not fast: if the stats read is unavailable (a Spark
        # upgrade moving the py4j surface, a plan shape without stats),
        # repartitioning here would be exactly the catastrophic full
        # shuffle of an unknown-size input this function promises never
        # to introduce. The no-op merely forgoes a local-scale speedup.
        return df
    if size <= par * max_pb:
        return df.repartition(par)
    return df
