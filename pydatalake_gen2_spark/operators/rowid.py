"""Global ordered row-id assignment without a single-partition sort.

The naive Spark spelling of ``ROW_NUMBER() OVER (ORDER BY key)`` collapses
the whole table into ONE window partition — a single-task sort that is the
canonical 100 TB scale-killer. This operator produces the identical ids with
the classic two-pass range-partitioned layout (the DataFrame-native
equivalent of ``RDD.zipWithIndex``):

1. ``repartitionByRange(order_cols)`` — Spark's range partitioner samples
   split points (deterministic seed per partition index) and produces
   partitions that are *disjoint, ordered key ranges*: every row in
   partition i sorts before every row in partition i+1.
2. ``sortWithinPartitions`` + one Arrow-batched ``mapInPandas`` pass
   assigns each row its LOCAL 1-based rank inside its partition — no
   shuffle, no JVM->Python per-row cost.
3. A tiny per-partition count aggregate (one row per partition, collected
   on the driver — bounded by the partition count, never the data) turns
   into cumulative offsets, broadcast-joined back; ``row_id = offset +
   local_rank``.

Because the ranges are disjoint and ordered, ``offset + local_rank`` IS the
exact global rank regardless of where the sampled split points landed — the
result is deterministic as long as ``order_cols`` is a total (tie-free)
order, which the caller must guarantee (same contract as ROW_NUMBER
determinism). Cost at scale: one range shuffle of the data + one metadata
agg, vs the naive plan's all-data-to-one-task sort.

Reference parity note: the reference client has no notion of row identity
(opaque byte streams, client.py:528-546); this operator exists for the
engine layer's training-data pipelines (stable example ids).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pydatalake_gen2_spark.operators.util import HELD


def global_row_ids(
    df: DataFrame,
    order_cols: Sequence[str],
    id_col: str = "row_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign 1-based global ranks by ``order_cols`` with no global sort.

    ``order_cols`` must be a unique (total-order) key set; ties would make
    the assignment of equal rows to ranks arbitrary, exactly as with
    ROW_NUMBER. The ranked intermediate is persisted so the offset pass and
    the output pass see the same sampled range boundaries; the session
    owner ``util.HELD`` holds it, so call ``util.release_persisted()``
    after consuming the result.

    ``df`` must also be DETERMINISTIC under recompute (a re-evaluated
    lineage yields the same rows): the two passes share the persisted frame,
    but if a cached block is evicted/lost between them Spark recomputes it
    from lineage, and a nondeterministic upstream (unseeded sample, shuffled
    input without a stable order) could then disagree with the collected
    offsets — duplicate or missing ids. Feed nondeterministic inputs through
    a local checkpoint (``df.localCheckpoint()``, or ``util.HELD.checkpoint``
    to have it freed with the rest) first to sever the lineage.
    """
    cols = list(order_cols)
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(n_parts, *[F.col(c) for c in cols])
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
    )

    # Copy — StructType.add mutates, and df.schema is cached on the frame.
    out_schema = T.StructType(
        list(ranged.schema.fields) + [T.StructField("_lrank", T.LongType())]
    )

    def assign_local_ranks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Runs once per partition; batches arrive in the partition's sorted
        # order, so a running counter is the local rank.
        seen = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf["_lrank"] = range(seen + 1, seen + 1 + len(pdf))
            seen += len(pdf)
            yield pdf

    ranked = HELD.persist(ranged.mapInPandas(assign_local_ranks, out_schema))

    # One row per partition — driver-side size is O(num_partitions).
    counts = ranked.groupBy("_pid").count().collect()
    offsets = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += row["count"]
    offsets_df = ranked.sparkSession.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid INT, _offset LONG"
    )

    return (
        ranked.join(F.broadcast(offsets_df), "_pid")
        .withColumn(id_col, (F.col("_offset") + F.col("_lrank")).cast("long"))
        .drop("_pid", "_lrank", "_offset")
    )
