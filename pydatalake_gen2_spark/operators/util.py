"""Shared operator plumbing."""

from __future__ import annotations

from operator import methodcaller

from pyspark import Broadcast, SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _unpersist_checkpoint(df: DataFrame) -> None:
    # ``DataFrame.unpersist`` is a no-op for a local checkpoint (its RDD is
    # not in the CacheManager) and the ContextCleaner frees it only at some
    # later GC, so unpersist the ``LogicalRDD``'s backing RDD directly: a
    # JVM field read to free blocks, NOT a DataFrame->RDD conversion
    # (nothing is recomputed or re-planned), hence exempt from the
    # test_no_rdd_conversion_in_source gate.
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)  # jvm-rdd-release


def _free(items: list, free) -> None:
    """Free and forget every item. Only a stopped SparkContext excuses a
    failed free (its blocks went with it); any other failure raises, so a
    leak surfaces instead of passing silently."""
    try:
        for x in items:
            try:
                free(x)
            except Exception:
                if SparkContext._active_spark_context is not None:
                    raise
    finally:
        items.clear()


class Held:
    """The one owner of the Spark resources an operator holds past a call.

    Three kinds, each freed by its own routine, and one rule between them:
    a persisted frame (``persist``) recomputes from its lineage after it is
    freed; a local checkpoint (``checkpoint``) or a broadcast
    (``broadcast``) cannot, so a plan that reads one fails if it runs
    again after release.

    ``HELD``, the module's session owner, holds what a returned result
    still reads. ``release_persisted()`` frees it; bench.py, perfbench and
    the test harness call it after consuming each query's result. A
    long-lived session that skips it keeps those blocks until it stops.

    ``with Held() as h`` scopes an operator's own state (an iterative
    loop's rounds, a query's shared intermediates). On exit its persisted
    frames are freed: anything downstream can recompute them. Its
    checkpoints and broadcasts back the result, so on a normal exit they
    pass to ``HELD``; if the block raises, everything is freed.
    """

    def __init__(self) -> None:
        self._frames: list[DataFrame] = []
        self._checkpoints: list[DataFrame] = []
        self._broadcasts: list[Broadcast] = []

    def __enter__(self) -> Held:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            HELD._checkpoints += self._checkpoints
            HELD._broadcasts += self._broadcasts
            self._checkpoints, self._broadcasts = [], []
        self.release()

    def persist(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` at the default storage level and hold it."""
        self._frames.append(df.persist())
        return df

    def checkpoint(self, df: DataFrame, eager: bool = True) -> DataFrame:
        """Materialize ``df`` as a local checkpoint that TRUNCATES its
        logical plan, and hold it.

        Iterative algorithms (connected components' pointer doubling)
        reference the previous round's frame several times per round;
        ``persist()`` caches the *data* but the analyzed logical plan still
        grows multiplicatively (~4x/round here), and analyzing a 4^k-leaf
        tree OOMs the driver long before the data does. ``localCheckpoint``
        cuts the plan to a flat ``LogicalRDD`` so every round starts from a
        constant-size plan — the same reason GraphFrames/GraphX checkpoint
        each superstep. The blocks are executor-local: an executor loss
        mid-loop fails the job and the caller reruns it. There is no
        reliable (checkpoint-dir) form: no caller sets a checkpoint dir.

        Unlike a persisted frame, a checkpoint CANNOT be recomputed after
        its blocks are freed — free it (``drop``, scope exit on error,
        ``release_persisted()``) only after fully consuming it.

        ``eager=False`` defers materialization to the caller's NEXT action
        — used by the iterative loops to fuse the round's convergence count
        into the materialization job (one driver job per round instead of
        two — guide §7 driver overhead). The caller MUST then run an action
        that computes EVERY partition (a full count/aggregate, never
        limit(1)) before freeing the frame it was derived from: a
        partially-materialized lazy checkpoint recomputes missing
        partitions from lineage, and the parent's blocks must still exist
        for that.
        """
        cp = df.localCheckpoint(eager=eager)
        self._checkpoints.append(cp)
        return cp

    def broadcast(self, sc: SparkContext, value) -> Broadcast:
        """Broadcast ``value`` and hold it; release destroys it."""
        bc = sc.broadcast(value)
        self._broadcasts.append(bc)
        return bc

    def drop(self, df: DataFrame) -> None:
        """Free a held checkpoint now (a superseded or unadopted round);
        frames match by identity."""
        self._checkpoints = [c for c in self._checkpoints if c is not df]
        _free([df], _unpersist_checkpoint)

    def release(self) -> int:
        """Free everything held; returns how many frames (persisted and
        checkpointed) were held."""
        n = len(self._frames) + len(self._checkpoints)
        _free(self._frames, methodcaller("unpersist"))
        _free(self._checkpoints, _unpersist_checkpoint)
        _free(self._broadcasts, methodcaller("destroy"))
        return n


HELD = Held()


def release_persisted() -> int:
    """Free everything the session owner ``HELD`` holds; returns how many
    frames were held."""
    return HELD.release()


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
