"""Similarity search over embedding columns (L03, plus the scale path).

- `cosine_topk`: brute-force exact top-k. The query side is broadcast, the
  corpus side streams through codegen — no shuffle of the corpus, and the
  per-query top-k is a window over (query, corpus) pairs. Right at test
  scale AND the correct baseline at cluster scale when k·|queries| is small.
- `lsh_bucket`/`lsh_topk`: random-hyperplane LSH (signed projections with a
  seed-pinned deterministic hyperplane set). Buckets become the join key, so
  candidate generation is an equi-join (shuffle on bucket id) instead of a
  cross product — the 100 TB path. Recall is property-tested against
  brute force (tier P).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pydatalake_gen2_spark.operators.util import spread, track_broadcast, track_persist
from pydatalake_gen2_spark.operators.vectors import as_double, cosine, dot, l2_norm


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbours per query vector (self-matches excluded).

    Output: (query_id, vec_id, cos, rn) with rn 1..k ranked by
    (cos DESC, vec_id) — unique corpus ids make the result deterministic.
    """
    # Norms are materialized ONCE PER ROW on each side before the join:
    # inlining cosine() would re-fold sqrt(dot(v,v)) for every PAIR —
    # 3x the higher-order-function work of the dot product alone. The
    # value is the identical IEEE expression (same fold, same sqrt, same
    # multiply), so results stay bit-identical to the inline form and to
    # the oracle's sqrt(list_dot_product(...)) * sqrt(...).
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        as_double(vec_col).alias("_qv"),
    ).withColumn("_qn", l2_norm(F.col("_qv")))
    # spread(): the per-pair scoring runs on the corpus scan's split
    # layout — a single-split local fixture serialized the whole
    # broadcast-join + HOF-dot stage into ONE task (r11 event-log:
    # l41's 1.4 s single-task stage; spreading cut this 2.8 s -> 1.3 s
    # at sf0.1, rows identical). No-op on real multi-split layouts.
    c = spread(
        corpus.select(F.col(id_col).alias(id_col), as_double(vec_col).alias("_cv"))
    ).withColumn("_cn", l2_norm(F.col("_cv")))
    pairs = c.join(F.broadcast(q), F.col(query_id_col) != F.col(id_col)).select(
        query_id_col,
        id_col,
        (dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))).alias("cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= k)
        .withColumn("cos", F.round(F.col("cos"), 4))
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).astype(float).tolist()


def lsh_bucket(
    df: DataFrame,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Add a `buckets` ARRAY<BIGINT> column: one sign-pattern bucket id per
    hash table (n_tables tables of n_planes seeded hyperplanes each —
    OR-amplification). Deterministic: hyperplanes are generated
    driver-side from the seed and inlined as literals (shipped with the
    plan, not re-drawn per executor). Bucket ids are table-offset so ids
    from different tables never collide."""
    # One vectorized Arrow kernel instead of n_tables*n_planes unrolled
    # aggregate(zip_with(v, [64 literals])) expression trees: the unrolled
    # form made whole-stage codegen compile a ~3000-leaf expression and
    # then evaluate 48 interpreted HOF folds per row (~2-3s of the query's
    # wall time at sf0.1 — the r7-verdict #6 constant). The kernel's
    # accumulation loop runs SEQUENTIALLY over dimensions (vectorized
    # across rows), i.e. each row's projection is the identical IEEE
    # left-fold s = ((0 + x0*y0) + x1*y1) + ..., so every sign decision
    # and bucket id stays bit-identical to the expression form and to the
    # DuckDB oracle's list_dot_product.
    return df.withColumn(
        "buckets",
        _lsh_buckets_arrow(n_planes, n_tables, seed, dim=64)(F.col(vec_col)),
    )


def _lsh_buckets_arrow(n_planes: int, n_tables: int, seed: int, dim: int = 64):
    """Arrow pandas-UDF factory for LSH sign-pattern buckets (closure-built
    so cloudpickle ships the plane matrix by value). float32 -> float64
    widening is exact; each per-row projection follows the exact
    sequential dimension order of operators.vectors.dot."""
    planes = np.array(
        [_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)],
        dtype=np.float64,
    )  # (n_tables, n_planes, dim)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def _buckets(v: pd.Series) -> pd.Series:
        x = np.vstack(v.to_numpy()).astype(np.float64)  # exact widen
        n = x.shape[0]
        out = np.empty((n, n_tables), dtype=np.int64)
        for t in range(n_tables):
            b = np.full(n, t * (2**n_planes), dtype=np.int64)
            for i in range(n_planes):
                acc = np.zeros(n, dtype=np.float64)
                for d in range(dim):  # sequential: the exact dot() fold
                    acc = acc + x[:, d] * planes[t, i, d]
                b = b + np.where(acc >= 0.0, np.int64(2**i), np.int64(0))
            out[:, t] = b
        return pd.Series(list(out))

    return _buckets


def _pair_cos_map_arrow(dim: int = 64, id_col: str = "vec_id",
                        local_k: int | None = None):
    """mapInArrow scorer: cosine over candidate-pair batches of
    (query_id, id, _qv, _v) -> (query_id, id, cos).

    ``local_k``: per-batch EXACT top-k prune (guide §2.3 aggregate before
    you shuffle). When the candidate frame arrives partitioned by
    query_id (lsh_topk dedups on a query_id-keyed exchange for exactly
    this reason), each query's candidates sit in one task, so keeping the
    k best per (query, batch) under the SAME total order the downstream
    window ranks by — (cos DESC, id ASC), with NaN sorted LARGEST to
    match Spark's double ordering — is a superset of the global top-k:
    the final exchange+sort sees ~k rows per query instead of every
    candidate (131M rows at the sf10 ladder point). The window after it
    stays the single source of ranking truth; the prune only drops rows
    that provably cannot rank.

    mapInArrow instead of a pandas UDF because the pair frame is huge
    (131M rows at the sf10 ladder point): the pandas path materializes
    one python ndarray PER ROW and np.vstack's them (~60% of the stage's
    CPU there); Arrow's list layout already stores each batch's vectors
    as ONE contiguous values buffer, so reshape(-1, dim) is a zero-copy
    view. The dimension loop is sequential (vectorized across rows), so
    dot and both squared norms are bit-identical to
    operators.vectors.dot/l2_norm; float32 -> float64 widening, sqrt and
    the final division are exact/correctly-rounded single IEEE ops —
    scores hash-match the expression form exactly."""

    def _score(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            q = b.column("_qv").flatten().to_numpy(zero_copy_only=False)
            c = b.column("_v").flatten().to_numpy(zero_copy_only=False)
            qm = q.reshape(-1, dim).astype(np.float64)
            cm = c.reshape(-1, dim).astype(np.float64)
            n = qm.shape[0]
            acc_qc = np.zeros(n, dtype=np.float64)
            acc_qq = np.zeros(n, dtype=np.float64)
            acc_cc = np.zeros(n, dtype=np.float64)
            for d in range(dim):  # sequential: the exact dot() fold
                qd, cd = qm[:, d], cm[:, d]
                acc_qc = acc_qc + qd * cd
                acc_qq = acc_qq + qd * qd
                acc_cc = acc_cc + cd * cd
            cos = acc_qc / (np.sqrt(acc_qq) * np.sqrt(acc_cc))
            if local_k is not None and n > local_k:
                qids = b.column("query_id").to_numpy(zero_copy_only=False)
                ids = b.column(id_col).to_numpy(zero_copy_only=False)
                keep = _local_topk_indices(qids, ids, cos, local_k)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(qids[keep]),
                        pa.array(ids[keep]),
                        pa.array(cos[keep]),
                    ],
                    names=["query_id", id_col, "cos"],
                )
                continue
            yield pa.RecordBatch.from_arrays(
                [b.column("query_id"), b.column(id_col), pa.array(cos)],
                names=["query_id", id_col, "cos"],
            )

    return _score


def _local_topk_indices(qids, ids, cos, k):
    """Indices of each query's k best rows within one batch, under EXACTLY
    the downstream window's total order (cos DESC, id ASC): Spark orders
    NaN greater than any double, so DESC puts NaN first -> map NaN to
    -inf in the ASCENDING negated key."""
    import numpy as np

    neg = np.where(np.isnan(cos), -np.inf, -cos)
    order = np.lexsort((ids, neg, qids))  # qid, then cos desc, then id
    sq = qids[order]
    starts = np.flatnonzero(np.r_[True, sq[1:] != sq[:-1]])
    counts = np.diff(np.r_[starts, len(sq)])
    rank = np.arange(len(sq)) - np.repeat(starts, counts)
    return np.sort(order[rank < k])


def _lookup(sorted_ids, keys):
    """Row positions of ``keys`` in the sorted id array; raises on any key
    the matrix does not hold (a bare searchsorted would silently return a
    neighbour's position and score the wrong vector)."""
    import numpy as np

    idx = np.minimum(np.searchsorted(sorted_ids, keys), len(sorted_ids) - 1)
    hit = sorted_ids[idx] == keys
    if not hit.all():
        raise KeyError(
            f"{int((~hit).sum())} id(s) absent from the broadcast matrix, "
            f"e.g. {keys[~hit][:4].tolist()}"
        )
    return idx


def _pair_cos_lookup_arrow(bc, dim: int = 64, id_col: str = "vec_id",
                           local_k: int | None = None):
    """mapInArrow scorer over (query_id, id) KEY batches: both vectors are
    gathered from a torrent-broadcast (sorted_ids, float32 matrix) pair
    instead of riding each pair row (guide §8 — at 131M candidates the
    per-pair vector copies were ~67 GB of Arrow serialization; the keys
    are 16 bytes/row). Gathered rows widen float32->float64 per batch and
    run the same sequential dimension fold as _pair_cos_map_arrow, so
    scores are bit-identical to it and to the dot()/l2_norm() expression
    form."""

    def _score(batches):
        import numpy as np
        import pyarrow as pa

        sorted_ids, mat = bc.value  # (n,), (n, dim) float32, id-sorted
        for b in batches:
            if b.num_rows == 0:
                continue
            qids = b.column("query_id").to_numpy(zero_copy_only=False)
            ids = b.column(id_col).to_numpy(zero_copy_only=False)
            qm = mat[_lookup(sorted_ids, qids)].astype(np.float64)
            cm = mat[_lookup(sorted_ids, ids)].astype(np.float64)
            n = qm.shape[0]
            acc_qc = np.zeros(n, dtype=np.float64)
            acc_qq = np.zeros(n, dtype=np.float64)
            acc_cc = np.zeros(n, dtype=np.float64)
            for d in range(dim):  # sequential: the exact dot() fold
                qd, cd = qm[:, d], cm[:, d]
                acc_qc = acc_qc + qd * cd
                acc_qq = acc_qq + qd * qd
                acc_cc = acc_cc + cd * cd
            cos = acc_qc / (np.sqrt(acc_qq) * np.sqrt(acc_cc))
            if local_k is not None and n > local_k:
                keep = _local_topk_indices(qids, ids, cos, local_k)
                qids, ids, cos = qids[keep], ids[keep], cos[keep]
            yield pa.RecordBatch.from_arrays(
                [pa.array(qids), pa.array(ids), pa.array(cos)],
                names=["query_id", id_col, "cos"],
            )

    return _score


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 512,
    iters: int = 10,
    corpus_n: int | None = None,
) -> list[list[float]]:
    """Deterministic IVF codebook: k-means (Lloyd) on a seeded hash-based
    sample (rows where pmod(hash(id), m) == 0 — unbiased w.r.t. id order),
    seeded init. The codebook is tiny (n_cells × dim doubles), computed
    driver-side and broadcast. Cost at scale: one projection of two
    columns over the corpus with a hash filter, then a bounded collect —
    a full scan, but of a 2-column projection with no shuffle."""
    two_cols = corpus.select(id_col, as_double(vec_col).alias("_v"))
    if corpus_n and corpus_n > sample_n:
        m = max(1, corpus_n // sample_n)
        sampled = two_cols.filter(F.pmod(F.hash(F.col(id_col)), F.lit(m)) == 0)
    else:
        sampled = two_cols
    rows = sampled.orderBy(id_col).limit(sample_n).collect()
    if len(rows) < n_cells:  # tiny corpus / over-aggressive filter
        rows = two_cols.orderBy(id_col).limit(sample_n).collect()
    x = np.array([r["_v"] for r in rows], dtype=float)
    rng = np.random.RandomState(seed)
    cent = x[rng.permutation(len(x))[:n_cells]].copy()
    x_sq = (x * x).sum(axis=1)
    for _ in range(iters):
        # argmin over ||x||^2 - 2 x.c + ||c||^2 via one gemm — same result
        # as the 3-D broadcast form but O(n*k) memory instead of O(n*k*d)
        d2 = x_sq[:, None] - 2.0 * (x @ cent.T) + (cent * cent).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        for c in range(n_cells):
            m = assign == c
            if m.any():
                cent[c] = x[m].mean(axis=0)
    return cent.tolist()


def _cell_assigner(cents: list[list[float]], n_probe: int):
    """Arrow-batched cell assignment against a closure-broadcast codebook.

    Returns struct<cell, probes>: nearest centroid and the n_probe nearest
    cells (sorted by distance, stable ties). A vectorized numpy matmul per
    Arrow batch replaces the former per-centroid literal expression trees
    — the codebook never bloats the plan, the projection is narrow (no
    shuffle), and cost is one BLAS gemm per batch. This is the same shape
    Spark ML's KMeansModel.transform uses (broadcast centers + per-row
    argmin); built-in SQL operators can't express argmin-over-broadcast-
    matrix without exploding an n x n_cells join."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
    )

    c = np.asarray(cents, dtype=float)  # (n_cells, dim)
    c_sq = (c * c).sum(axis=1)  # (n_cells,)
    p = min(n_probe, len(cents))
    out_type = StructType(
        [
            StructField("cell", LongType()),
            StructField("probes", ArrayType(LongType())),
        ]
    )

    @F.pandas_udf(out_type)
    def assign(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame({"cell": [], "probes": []})
        x = np.stack(v.to_numpy())  # (b, dim)
        # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; ||x||^2 constant per row
        d2 = c_sq[None, :] - 2.0 * (x @ c.T)
        order = np.argsort(d2, axis=1, kind="stable")[:, :p]
        return pd.DataFrame(
            {"cell": order[:, 0], "probes": list(order.astype("int64"))}
        )

    return assign


def ivf_topk(
    corpus: DataFrame,
    k: int,
    n_cells: int | None = None,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    query_pred=None,
) -> DataFrame:
    """Approximate all-pairs top-k via IVF (inverted-file) cells: corpus
    rows live in their nearest-centroid cell; each query probes its
    `n_probe` nearest cells only. Candidate generation is an equi-join on
    `cell` (shuffle keyed by cell id) — no cross product. n_probe=n_cells
    degenerates to exact brute force (the property test's anchor).

    Scale design (round-2 rework of the r01 skew-by-construction version):
    - n_cells defaults to ~sqrt(n), so cells (the join key) number in the
      thousands at cluster scale instead of 8 — no single-reducer funnel,
      and candidates per query stay ~n_probe*sqrt(n), not O(n).
    - The codebook rides in a pandas-UDF closure (numpy argmin), not as
      per-centroid literal expression trees, so the plan stays O(1) in
      n_cells and assignment is computed exactly once per row.
    - Norms are computed once per row, not once per candidate pair; the
      pair score dot/(qn*cn) is bit-identical to cosine() on the pair.
    """
    if centroids is not None:
        # prebuilt codebook (index-build/query separation — real IVF
        # systems train once and serve many queries; see lx_ivf_topk's
        # per-corpus codebook cache)
        cents = centroids
        n_cells = len(cents)
    else:
        n = corpus.count()  # parquet metadata count: cheap, no scan
        if n_cells is None:
            n_cells = max(8, int(n**0.5))
        cents = ivf_centroids(corpus, n_cells, seed, id_col, vec_col, corpus_n=n)
    assign = _cell_assigner(cents, n_probe)
    # spread(): a small corpus arrives as one input split, and AQE
    # broadcasts the tiny inverted file — without the spread the whole
    # candidate-scoring stage would run in a single task.
    two = spread(corpus.select(F.col(id_col), as_double(vec_col).alias("_v")))
    # track_persist: cached so the assignment gemm runs once for the
    # inverted file AND the probe side; caller releases via
    # util.release_persisted() after consuming (see util.py contract).
    base = track_persist(
        two.withColumn("_a", assign("_v")).withColumn("_n", l2_norm(F.col("_v")))
    )
    inv = base.select(id_col, "_v", "_n", F.col("_a.cell").alias("cell"))
    # query_pred restricts the PROBE side only (e.g. an audit over a
    # deterministic query sample) — the inverted file still indexes the
    # whole corpus, and the filter lands before the probe explode+join.
    qbase = base.filter(query_pred) if query_pred is not None else base
    probes = qbase.select(
        F.col(id_col).alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_n").alias("_qn"),
        F.explode("_a.probes").alias("cell"),
    )
    cand = (
        probes.join(inv, on="cell")
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            id_col,
            (dot(F.col("_qv"), F.col("_v")) / (F.col("_qn") * F.col("_n"))).alias(
                "cos"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        cand.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= k)
        .withColumn("cos", F.round(F.col("cos"), 4))
    )


def lsh_topk(
    corpus: DataFrame,
    k: int,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate all-pairs top-k: explode per-table buckets, equi-join on
    bucket id, dedup candidate pairs, exact cosine on candidates only.
    Candidate generation is a shuffle on `bucket` (O(n·bucket_size·L)) —
    never a cross product. Recall grows with n_tables (OR-amplification);
    precision is exact because survivors are re-scored."""
    corpus = spread(corpus)  # hyperplane projections are per-row heavy
    # track_persist: bucket projections feed both join sides; caller
    # releases via util.release_persisted() (see util.py contract).
    bucketed = track_persist(lsh_bucket(corpus, n_planes, n_tables, seed, vec_col))
    # Candidate generation moves ONLY (id, bucket) pairs through the
    # equi-join and the dedup — the 512-byte vectors never ride the
    # candidate shuffle (at n_tables=8 a pair can surface 8x; deduping
    # wide rows was the r01 hot spot). Vectors re-attach afterwards via a
    # join on id against the corpus (broadcast locally, hash join at
    # scale), with norms computed once per row — dot/(qn*cn) is the same
    # expression tree cosine() builds, so scores stay bit-identical.
    ids = bucketed.select(F.col(id_col), F.explode("buckets").alias("bucket"))
    # The pair dedup needs one exchange either way (a pair surfaces up to
    # n_tables times, from DIFFERENT bucket partitions, so map-side
    # partial dedup never fired on the old (query_id, id) key). Keying
    # that exchange on query_id ALONE still satisfies the dedup's
    # clustering requirement (no second exchange — plan-pinned) and
    # additionally lands every query's whole candidate set in ONE task,
    # which is what lets the scorer's local_k prune (below) collapse the
    # final window's input from every candidate to ~k rows per query
    # (guide §2.3 aggregate-before-shuffle; the 131M-row candidate sort
    # was the dominant stage at the sf10 ladder point).
    pairs = (
        ids.select(F.col(id_col).alias("query_id"), "bucket")
        .join(ids, on="bucket")
        .filter(F.col("query_id") != F.col(id_col))
        .select("query_id", id_col)
        .repartition("query_id")
        .dropDuplicates(["query_id", id_col])
    )
    # Scoring is ONE vectorized Arrow pass over the candidate pairs with a
    # per-batch exact top-k prune; the kernel's sequential dimension loop
    # keeps scores bit-identical to the dot()/l2_norm() expression form.
    #
    # While the (id, vector) projection is modest (<= ~256 MB), the pairs
    # frame carries ONLY (query_id, id) — 16 bytes/row — and the worker
    # looks both vectors up in a torrent-BROADCAST float32 matrix (guide
    # §8: move keys, not payloads). The old form attached both vectors to
    # every pair via broadcast joins, which shipped ~2x256 B per pair
    # across the JVM->Arrow->Python boundary — ~67 GB of serialization at
    # the sf10 ladder point's 131M candidates, the dominant cost once the
    # candidate sort was gone. The driver-side footprint is the same 256MB
    # the broadcast-join hash relation already cost. Past the bound the
    # planner's shuffle join attaches vectors the classic way: at a true
    # 100 TB corpus the bucket-local candidate join IS the shuffle that
    # matters, and vectors must ride it.
    n_vecs = bucketed.count()  # persisted: metadata-cheap, also warms it
    dim = len(bucketed.select(vec_col).first()[0])
    small = n_vecs * dim * 4 <= 256 * 1024 * 1024
    if small:
        # One Arrow transfer, zero per-row Python: the list column's
        # values buffer reshapes straight into the (n, dim) matrix (the
        # toPandas + np.stack form cost ~20 s of SERIAL driver time at
        # the sf10 point's 1M rows).
        tbl = bucketed.select(F.col(id_col), F.col(vec_col).alias("_v")).toArrow()
        ids_np = tbl.column(id_col).combine_chunks().to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        mat = (
            tbl.column("_v").combine_chunks().flatten()
            .to_numpy(zero_copy_only=False).reshape(len(ids_np), dim)
        )
        order = np.argsort(ids_np, kind="stable")
        # Tracked: release_persisted() destroys it, so consume the result
        # before releasing (util.py contract).
        bc = track_broadcast(corpus.sparkSession.sparkContext.broadcast(
            (ids_np[order], mat[order])
        ))
        scored = pairs.mapInArrow(
            _pair_cos_lookup_arrow(bc, dim=dim, id_col=id_col, local_k=k),
            schema=f"query_id BIGINT, {id_col} BIGINT, cos DOUBLE",
        )
    else:
        vec = bucketed.select(F.col(id_col), F.col(vec_col).alias("_v"))
        scored = (
            pairs.join(
                vec.select(
                    F.col(id_col).alias("query_id"), F.col("_v").alias("_qv")
                ),
                on="query_id",
            )
            .join(vec, on=id_col)
            .select("query_id", id_col, "_qv", "_v")
            .mapInArrow(
                _pair_cos_map_arrow(id_col=id_col, local_k=k),
                schema=f"query_id BIGINT, {id_col} BIGINT, cos DOUBLE",
            )
        )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= k)
        .withColumn("cos", F.round(F.col("cos"), 4))
    )


def hard_negative_topk(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor, the k corpus
    vectors with the HIGHEST cosine similarity among those with a
    DIFFERENT label — the negatives a triplet/InfoNCE trainer learns the
    most from. Same broadcast-anchors / corpus-streams shape as
    cosine_topk (norms hoisted once per row, identical IEEE fold), with
    the label-mismatch predicate applied BEFORE ranking so the window
    ranks only eligible negatives.

    Output: (query_id, vec_id, neg_label, cos, rn), rn 1..k by
    (cos DESC, vec_id).
    """
    q = anchors.select(
        F.col(id_col).alias(query_id_col),
        as_double(vec_col).alias("_qv"),
        F.col(label_col).alias("_qlabel"),
    ).withColumn("_qn", l2_norm(F.col("_qv")))
    # spread(): same single-split fan-out as cosine_topk (see note there)
    c = spread(
        corpus.select(
            F.col(id_col), as_double(vec_col).alias("_cv"), F.col(label_col)
        )
    ).withColumn("_cn", l2_norm(F.col("_cv")))
    pairs = c.join(
        F.broadcast(q),
        (F.col(query_id_col) != F.col(id_col))
        & (F.col("_qlabel") != F.col(label_col)),
    ).select(
        query_id_col,
        id_col,
        F.col(label_col).alias("neg_label"),
        (dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))).alias("cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= k)
        .withColumn("cos", F.round(F.col("cos"), 4))
    )
