"""Distributed EXACT Lloyd k-means over integer-quantized embeddings.

The IVF/PQ stack (operators/pq.py, queries/llm.py lx_ivf*) trains its
codebooks with driver-side numpy k-means over a bounded sample — correct
for codebook training, but not a DISTRIBUTED clustering operator. This
module is that operator: Lloyd iterations where every arithmetic step is
exact integer math, so the result is bit-reproducible across engines,
partitionings, and retries — the property float k-means lacks (float
centroid means depend on reduction order).

Recipe (each step deterministic in any IEEE-754 engine):
  1. quantize: q_d = floor(x_d * 1e6 + 0.5) as int64 (identical doubles
     in, identical ints out — components are |x| <= ~1 floats, so q is
     exact and distances fit comfortably in int64).
  2. assign: argmin_j sum_d (q_d - c_jd)^2 in pure int64, ties to the
     smallest centroid id (min over (dist, j) structs).
  3. update: c'_jd = floor(sum_d / n_j) — exact floor division (sums are
     < 2^53, so FLOOR(double-div) is exact and cross-engine identical;
     the driver uses Python's big-int //, same value). Empty clusters
     keep their previous centroid.

Scale posture: per iteration = ONE map-only pass and ONE job. Each
map task assigns its points and emits int64 (cid, n, s[dim]) partial
sums for the clusters it saw (at most k rows per task, a few KB); the
driver collects them and reduces with Python ints. No round shuffles,
and the next iteration's centroids ship in the UDF closure. That is the
textbook 1000-executor k-means loop — no lineage growth because each
iteration rebuilds the plan from collected literals (the
iterative-operator discipline operators/graph.py uses).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydatalake_gen2_spark.operators.vectors import as_double

QUANT = 1_000_000.0


def quantize(df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, q ARRAY<BIGINT>): exact 1e-6 fixed-point quantization."""
    q = F.transform(
        as_double(vec_col),
        lambda x: F.floor(x * F.lit(QUANT) + F.lit(0.5)).cast("bigint"),
    )
    return df.select(F.col(id_col).alias("vec_id"), q.alias("q"))


def _nearest(x: np.ndarray, c: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(dist, cid) int64 arrays: each row of ``x`` against codebook ``c``.

    EXACT numpy int64 (|q| <= 1e6, so diffs, squares, and 64-term sums
    all stay far inside int64 — bit-identical to any integer engine); a
    strict ``<`` over ascending j keeps the first minimum, i.e. the
    smallest-cid tie-break."""
    best_d = None
    best_j = np.zeros(len(x), dtype=np.int64)
    for j in range(c.shape[0]):
        diff = x - c[j]
        d2 = (diff * diff).sum(axis=1)
        if best_d is None:
            best_d = d2
        else:
            m = d2 < best_d
            best_d = np.where(m, d2, best_d)
            best_j = np.where(m, np.int64(j), best_j)
    return best_d, best_j


def assign(pts: DataFrame, cents: list[list[int]]) -> DataFrame:
    """(vec_id, q, dist, cid): nearest centroid, ties to smallest cid.

    Arrow pandas UDF over the ``_nearest`` kernel. The codebook rides in
    the closure, NOT as per-centroid literal expression trees, so the
    plan is O(1) in k x dim and codegen never recompiles a giant tree
    per Lloyd round — the same design call as operators/similarity.
    ivf_topk (measured: the literal-tree form spent 2-4 s/round
    COMPILING at k=8; at the k=256 a real IVF trainer needs it would be
    unusable)."""
    c = np.asarray(cents, dtype=np.int64)

    @F.pandas_udf("array<bigint>")
    def pick(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        d, j = _nearest(np.stack(v.to_numpy()).astype(np.int64), c)
        return pd.Series(np.stack([d, j], axis=1).tolist())

    picked = pts.select("vec_id", "q", pick("q").alias("_p"))
    return picked.select(
        "vec_id", "q",
        F.col("_p").getItem(0).alias("dist"),
        F.col("_p").getItem(1).cast("int").alias("cid"),
    )


def update(pts: DataFrame, cents: list[list[int]], dim: int) -> list[list[int]]:
    """One Lloyd round: assign ``pts`` under ``cents`` and return the
    floor-mean centroids; empty clusters keep their previous centroid.

    A single mapInPandas pass (1 job, 1 stage, no shuffle): each task
    runs the ``_nearest`` kernel over its batches and emits its int64
    (cid, n, s[dim]) partial sums, one row per cluster it saw. The
    driver sums the <= k rows per task with Python ints and applies the
    exact floor ``//``."""
    c = np.asarray(cents, dtype=np.int64)
    k = c.shape[0]

    def partials(batches):
        n = np.zeros(k, dtype=np.int64)
        s = np.zeros((k, dim), dtype=np.int64)
        for b in batches:
            if len(b) == 0:
                continue
            x = np.stack(b["q"].to_numpy()).astype(np.int64)
            _, j = _nearest(x, c)
            n += np.bincount(j, minlength=k)
            np.add.at(s, j, x)
        seen = np.flatnonzero(n)
        if len(seen):
            yield pd.DataFrame({
                "cid": seen.astype(np.int32),
                "n": n[seen],
                "s": list(s[seen]),
            })

    rows = pts.select("q").mapInPandas(
        partials, "cid int, n bigint, s array<bigint>"
    ).collect()
    n = [0] * k
    tot = [[0] * dim for _ in range(k)]
    for r in rows:
        n[r["cid"]] += r["n"]
        tot[r["cid"]] = [a + b for a, b in zip(tot[r["cid"]], r["s"])]
    return [
        [t // n[j] for t in tot[j]] if n[j] else list(cents[j])
        for j in range(k)
    ]


def lloyd(
    pts: DataFrame, k: int, iters: int, dim: int
) -> tuple[list[list[int]], DataFrame]:
    """Run `iters` exact Lloyd rounds from the k smallest-id points;
    returns (final centroids, final assignment under them)."""
    init = pts.orderBy("vec_id").limit(k).collect()
    cents = [list(r["q"]) for r in init]
    if len(cents) < k:
        raise ValueError(
            f"lloyd: k={k} centroids requested but the corpus has only "
            f"{len(cents)} vectors — callers (lx_kmeans's fixed-k render) "
            "assume k seeded centroids exist"
        )
    for _ in range(iters):
        cents = update(pts, cents, dim)
    return cents, assign(pts, cents)
