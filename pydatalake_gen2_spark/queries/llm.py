"""LLM-data-pipeline operators — SURVEY.md §2B.10 (L01-L10) plus the
training-pipeline extensions (language-ID, quality scoring, token counting,
fingerprinting, SimHash, LSH) the task brief adds as first-class.

Oracles are DuckDB compositions over the same parquet — exact integer /
raw-IEEE-division outputs wherever values are rational (no ROUND
half-boundary risk), ROUND only over transcendental-valued expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pydatalake_gen2_spark.operators import dedup, similarity, text
from pydatalake_gen2_spark.operators.util import HELD, Held
from pydatalake_gen2_spark.operators.vectors import as_double, dot, l2_norm, normalize
from pydatalake_gen2_spark.registry import register


@register(
    "l01_dedup_exact",
    duck_sql="""
    SELECT sha256(text) AS h,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS dup_cnt
    FROM documents GROUP BY sha256(text)
    """,
)
def l01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-hash dedup; canonical row = min doc_id per hash."""
    return dedup.dedup_exact(spark.table("documents"))


@register(
    "l02_minhash_neardup",
    duck_sql="""
    WITH sets AS (
      SELECT doc_id AS id,
             list_distinct(list_transform(generate_series(1, len(t) - 2),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS toks
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
      WHERE len(t) >= 3),
    inv AS (SELECT id, len(toks) AS n_toks, unnest(toks) AS tok FROM sets),
    shared AS (
      SELECT a.id AS id_a, b.id AS id_b, a.n_toks AS na, b.n_toks AS nb,
             COUNT(*) AS n_shared
      FROM inv a JOIN inv b ON a.tok = b.tok AND a.id < b.id
      GROUP BY 1, 2, 3, 4)
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           TRUE AS full_recall,
           TRUE AS zero_false_positives
    FROM shared
    WHERE n_shared / (na + nb - n_shared) >= 0.3
    """,
)
def l02_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection (MLlib MinHashLSH, seed=42) over
    3-gram shingles, exact-verified at Jaccard >= 0.3 — folded to the
    hashable form H (G04/G18 precedent: the oracle can't run MLlib's
    hash family, but it CAN compute the exact truth set): n_pairs is the
    engine's VERIFIED MinHash pair count, which the oracle states as the
    exact inverted-index Jaccard pair count (l02b's SQL), so the hash
    certifies |minhash pairs| == |true pairs|; full_recall /
    zero_false_positives fold the two anti-join emptiness checks into
    the row (TRUE iff the sets are identical, not just same-sized).
    The per-pair listing rides l02b (exact) and l36 (pure-SQL banded
    minhash). Scale: LSH banding keeps candidate generation an
    equi-join; the exact-verify touches candidates only."""
    import pandas as pd

    docs = spark.table("documents")
    cand = dedup.minhash_candidate_pairs(docs, tau=0.3).select("id_a", "id_b")
    truth = dedup.exact_jaccard_pairs(docs, tau=0.3).select("id_a", "id_b")
    with Held() as held:
        held.persist(cand)
        held.persist(truth)
        n_pairs = cand.count()
        missed = truth.join(cand, ["id_a", "id_b"], "left_anti").count()
        spurious = cand.join(truth, ["id_a", "id_b"], "left_anti").count()
    return spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "n_pairs": n_pairs,
                    "full_recall": missed == 0,
                    "zero_false_positives": spurious == 0,
                }
            ]
        ),
        schema="n_pairs bigint, full_recall boolean, zero_false_positives boolean",
    )


@register(
    "l02b_ngram_jaccard",
    duck_sql="""
    WITH sets AS (
      SELECT doc_id AS id,
             list_distinct(list_transform(generate_series(1, len(t) - 2),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS toks
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
      WHERE len(t) >= 3),
    inv AS (SELECT id, len(toks) AS n_toks, unnest(toks) AS tok FROM sets),
    shared AS (
      SELECT a.id AS id_a, b.id AS id_b, a.n_toks AS na, b.n_toks AS nb,
             COUNT(*) AS n_shared
      FROM inv a JOIN inv b ON a.tok = b.tok AND a.id < b.id
      GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b,
           CAST(n_shared AS BIGINT) AS n_shared,
           CAST(na + nb - n_shared AS BIGINT) AS n_union,
           n_shared / (na + nb - n_shared) AS jaccard
    FROM shared
    WHERE n_shared / (na + nb - n_shared) >= 0.3
    """,
)
def l02b_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard pairs >= 0.3 via inverted-index join —
    shingles are rare (|V|^3 space), so the join output stays near-linear
    in the number of true near-dup pairs."""
    return dedup.exact_jaccard_pairs(spark.table("documents"), tau=0.3)


@register(
    "l03_cosine_topk",
    duck_sql="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 3),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
    pairs AS (
      SELECT query_id, vec_id,
             list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
      FROM c CROSS JOIN q WHERE vec_id <> query_id),
    ranked AS (
      SELECT query_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
      FROM pairs)
    SELECT query_id, vec_id, ROUND(cos, 4) AS cos, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 5
    """,
)
def l03_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 3 query vectors (broadcast queries,
    corpus streams — the exact baseline for the LSH scale path)."""
    emb = spark.table("embeddings")
    return similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)


@register(
    "l04_vector_ops",
    duck_sql="""
    SELECT vec_id,
           ROUND(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]), 6) AS norm2,
           ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS norm,
           ROUND(embedding[1]::DOUBLE / sqrt(list_dot_product(embedding::DOUBLE[],
                                                              embedding::DOUBLE[])), 6)
               AS unit_first
    FROM embeddings
    """,
)
def l04_vector_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dot / L2 norm / normalize as JVM higher-order functions."""
    v = as_double("embedding")
    return spark.table("embeddings").select(
        "vec_id",
        F.round(dot(v, v), 6).alias("norm2"),
        F.round(l2_norm(v), 6).alias("norm"),
        F.round(F.element_at(normalize(v), 1), 6).alias("unit_first"),
    )


@register(
    "l02c_embedding_neardup",
    duck_sql="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
    SELECT id_a, id_b, ROUND(cos, 4) AS cos FROM p WHERE cos >= 0.35
    """,
)
def l02c_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.35). All-pairs here
    (fixtures are small); the LSH-bucketed variant is the scale path and
    is recall-tested against this in tests/."""
    from pydatalake_gen2_spark.operators.util import spread

    e = spread(
        spark.table("embeddings").select("vec_id", as_double("embedding").alias("v"))
    )
    a = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    cos = dot(F.col("va"), F.col("vb")) / (l2_norm(F.col("va")) * l2_norm(F.col("vb")))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= 0.35)
        .withColumn("cos", F.round("cos", 4))
    )


@register(
    "l05_token_freq",
    duck_sql="""
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents) t
    GROUP BY token
    """,
)
def l05_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequencies (explode + partial-agg groupBy)."""
    return text.token_frequencies(spark.table("documents"))


@register(
    "l06_ngrams",
    duck_sql="""
    WITH toks AS (SELECT string_split(lower(text), ' ') AS t FROM documents),
    grams AS (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i + 1])) AS gram
      FROM toks WHERE len(t) >= 2)
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS n
    FROM grams GROUP BY gram HAVING COUNT(*) >= 5
    """,
)
def l06_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word bigram counts via sequence+slice HOF (no python)."""
    docs = spark.table("documents")
    grams = docs.select(F.explode(text.ngrams(text.tokens(), 2)).alias("gram"))
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )


@register(
    "l07_tfidf",
    duck_sql="""
    WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                 FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df
              FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, ROUND(tf.tf * ln((n.n + 1.0) / (dfreq.df + 1.0)), 4) AS score
      FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
      FROM scored)
    SELECT doc_id, term, score, CAST(rn AS BIGINT) AS rn FROM ranked WHERE rn <= 3
    """,
)
def l07_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (broadcast term dictionary)."""
    return text.tfidf_top_terms(spark.table("documents"), k=3)


@register(
    "l08_corpus_stats",
    duck_sql="""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang, source
    """,
)
def l08_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats by (lang, source) incl. the n_chars=length(text)
    validation invariant."""
    d = spark.table("documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.when(F.length("text") == F.col("n_chars"), 1).otherwise(0)).alias("n_valid"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "l09_centroid_purity",
    duck_sql="""
    WITH ex AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
             unnest(embedding::DOUBLE[]) AS x
      FROM embeddings),
    cent AS (SELECT label, pos, AVG(x) AS c FROM ex GROUP BY label, pos),
    dist AS (
      SELECT e.vec_id, e.label, sqrt(SUM((e.x - cent.c) * (e.x - cent.c))) AS d
      FROM ex e JOIN cent ON e.label = cent.label AND e.pos = cent.pos
      GROUP BY e.vec_id, e.label)
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(d), 4) AS avg_dist, ROUND(MAX(d), 4) AS max_dist
    FROM dist GROUP BY label
    """,
)
def l09_centroid_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid distance stats: posexplode → per-dim centroid →
    rejoin → per-vector L2 distance → per-label stats. Shuffles on
    (label,pos) then (vec_id) — dimension-parallel, no driver math."""
    ex = spark.table("embeddings").select(
        "vec_id", "label", F.posexplode(as_double("embedding")).alias("pos", "x")
    )
    cent = ex.groupBy("label", "pos").agg(F.avg("x").alias("c"))
    dist = (
        ex.join(cent, ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.sqrt(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))).alias("d"))
    )
    return dist.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("d"), 4).alias("avg_dist"),
        F.round(F.max("d"), 4).alias("max_dist"),
    )


def _lx_simhash_duck(bits: int = 48) -> str:
    """Bit-exact SimHash oracle: md5 is engine-independent, so every
    per-token 60-bit hash, per-bit signed tally, and sign-pack is
    recomputable in DuckDB — bit i of the token hash is bit (i%4) of
    hex nibble i//4, decoded with the portable instr-on-hex idiom
    (dq06's). P→H upgrade: the fingerprints themselves hash-match, not
    just their properties."""
    tallies = ", ".join(
        f"SUM(CASE WHEN CAST(FLOOR((instr('0123456789abcdef',"
        f" substring(h, {15 - (i // 4)}, 1)) - 1) / {2 ** (i % 4)}) AS BIGINT)"
        f" % 2 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({2 ** i} AS BIGINT) ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(string_split(lower(coalesce(text, '')), ' ')) AS tok
      FROM documents),
    nib AS (SELECT doc_id, md5(tok) AS h FROM toks),
    bt AS (SELECT doc_id, {tallies} FROM nib GROUP BY doc_id)
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bt ORDER BY doc_id
    """


def _lx_simhash_neardup_duck(r: int = 4) -> str:
    """Brute-force Hamming-radius oracle over the bit-exact fingerprints:
    the banded join's pigeonhole recall is EXACTLY 1.0 (no band cap in
    the registered entry) and its verify is exact, so its output must
    EQUAL all pairs at bit_count(xor) <= r — the oracle states that set
    directly (P→H upgrade; the n^2 compare is oracle-side only)."""
    base = _lx_simhash_duck()
    cut = base.rindex("ORDER BY doc_id")
    base = base[:cut].strip()  # fingerprint SELECT without the final sort
    return f"""
    WITH fp AS ({base})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {r}
    ORDER BY id_a, id_b
    """


@register("lx_simhash", duck_sql=_lx_simhash_duck())
def lx_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit SimHash fingerprints, BIT-EXACT against the DuckDB oracle
    (md5 token hashes are engine-independent; see _lx_simhash_duck).
    One explode + one partial-aggregated groupBy(doc_id) with 48 signed
    tallies — the shuffle carries 48 int64s per doc, never tokens.
    Property tests additionally cover the semantic claims (identical
    docs → identical hash; near-dups → small Hamming distance)."""
    return dedup.simhash(spark.table("documents")).orderBy("doc_id")


# PQ codebook per corpus dir — same build/query split as _IVF_CODEBOOKS.
_PQ_CODEBOOKS: dict[str, list] = {}


def _pq_codebook(spark: SparkSession, sf_dir: str) -> list:
    cb = _PQ_CODEBOOKS.get(sf_dir)
    if cb is None:
        from pydatalake_gen2_spark.operators import pq

        corpus = spark.table("embeddings")
        cb = pq.pq_train(corpus, m=16, k=32, corpus_n=corpus.count())
        _PQ_CODEBOOKS[sf_dir] = cb
    return cb


@register(
    "lx_pq_encode",
    duck_sql="""
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(16 AS INT) AS m_subspaces,
           TRUE AS codes_in_range,
           TRUE AS recon_cos_ge_07
    FROM embeddings
    """,
)
def lx_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding audit: 64-float embeddings → 16
    uint5 codes (16× compression for the ANN scan path), folded to the
    hashable form H (the G04/G18 precedent — the oracle can't run
    k-means, but it CAN state what a correct encoder must produce):
    every vector encodes (n_vectors exact), to exactly 16 codes each in
    [0,32) (codes_in_range), and the codes reconstruct the normalized
    vectors to mean cosine ≥ 0.7 (recon_cos_ge_07, the invariant that
    makes ADC scores meaningful — pq.pq_recon_cosine, one Arrow pass).
    The per-vector code table itself rides lx_pq_topk/lx_pq_rerank.
    Scale: two single-pass Arrow aggregates, no shuffle beyond the
    1-row agg — the audit costs one compressed-scan equivalent at any
    corpus size."""
    from pydatalake_gen2_spark.operators import pq

    emb = spark.table("embeddings")
    cb = _pq_codebook(spark, sf_dir)
    codes = pq.pq_encode(emb, cb)
    code_stats = codes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.max(F.size("codes")).cast("int").alias("m_subspaces"),
        (
            (F.min(F.size("codes")) == F.max(F.size("codes")))
            & (F.min(F.array_min("codes")) >= 0)
            & (F.max(F.array_max("codes")) < 32)
        ).alias("codes_in_range"),
    )
    recon = pq.pq_recon_cosine(emb, cb).agg(
        (F.avg("recon_cos") >= 0.7).alias("recon_cos_ge_07")
    )
    return code_stats.crossJoin(recon).select(
        "n_vectors", "m_subspaces", "codes_in_range", "recon_cos_ge_07"
    )


# --- ANN audit-row machinery (round-7 P->H upgrades) -----------------------
#
# The IVF/PQ codebooks are trained k-means — not SQL-expressible — so these
# pairs hash a per-query AUDIT ROW instead of the raw approximate ranking
# (the lx_mrl_recall / lx_sq8_recall / lx_pq_encode fold): the row carries
# (a) the EXACT top-k leg, which the oracle recomputes as brute force
# (cross-engine hash evidence on real ranking output), and (b) recall /
# shape booleans about the approximate leg, which are deterministic
# (seed-pinned codebooks, stable ties) and whose expected value the oracle
# states. Bounds were measured at sf0.001/0.01/0.1 (round-7 session):
# ivf sampled-mean .72/.68/.49, ivfpq .48/.52/.31, pq .43/.50/.35,
# rerank .81/.88/.76 — each bound sits >=1.5x below every measured point.

_ANN_K = 5
_IVF_RECALL_BOUND = 0.3
_IVFPQ_RECALL_BOUND = 0.2
_PQ_RECALL_BOUND = 0.2
_RERANK_RECALL_BOUND = 0.5


def _ann_exact_duck(query_where: str, extra_cols: str, k: int = _ANN_K,
                    ids_col: str = "exact_topk_ids",
                    cos_col: str = "exact_top1_cos") -> str:
    """Oracle text for the exact leg: brute-force per-query top-k over the
    sampled queries, rendered as a rank-ordered id string + rounded top-1
    cosine, plus stated booleans for the approximate-leg audit."""
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE {query_where}),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
    ranked AS (
      SELECT query_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id) AS rn
      FROM (SELECT q.query_id, c.vec_id,
                   list_dot_product(qv, cv)
                     / (sqrt(list_dot_product(qv, qv))
                        * sqrt(list_dot_product(cv, cv))) AS cos
            FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id) t)
    SELECT query_id,
           string_agg(CAST(vec_id AS STRING), ',' ORDER BY rn) AS {ids_col},
           ROUND(MAX(CASE WHEN rn = 1 THEN cos END), 4) AS {cos_col},
           {extra_cols}
    FROM ranked WHERE rn <= {k}
    GROUP BY query_id ORDER BY query_id
    """


def _ann_rank_fold(ranked: DataFrame, ids_col: str, cos_col: str) -> DataFrame:
    """(query_id, vec_id, cos|adc_ip, rn) -> one row per query with the
    rank-ordered id string and the rounded top-1 score."""
    score = "cos" if "cos" in ranked.columns else "adc_ip"
    return ranked.groupBy("query_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "vec_id"))),
                lambda s: s["vec_id"].cast("string"),
            ),
            ",",
        ).alias(ids_col),
        F.max(F.when(F.col("rn") == 1, F.col(score))).alias(cos_col),
    )


def _ann_recall_per_query(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """(query_id, recall) of approx's id set vs exact's, per query."""
    a = approx.select(
        F.col("query_id").alias("_aq"), F.col("vec_id").alias("_av")
    )
    return (
        exact.select("query_id", "vec_id")
        .join(
            a,
            (F.col("query_id") == F.col("_aq"))
            & (F.col("vec_id") == F.col("_av")),
            "left",
        )
        .groupBy("query_id")
        .agg((F.count("_av") / F.count(F.lit(1))).alias("recall"))
    )


@register(
    "lx_pq_topk",
    duck_sql=_ann_exact_duck(
        f"vec_id < 20",
        f"TRUE AS pq_returned_k, TRUE AS adc_mean_recall_ge_{int(_PQ_RECALL_BOUND * 100):03d}",
    ),
)
def lx_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k over PQ codes for a query batch (vec_id < 20): the corpus
    side is scanned as 8-byte codes with per-batch LUT gather-adds — the
    bandwidth-bound compressed scan that replaces reading 256-byte vectors
    at 100 TB. Tier H since round 7 (audit-row fold, see module comment):
    the exact leg (l03 brute force over the same queries) hash-matches the
    oracle's recomputation; the ADC leg is audited by pq_returned_k (every
    query returns exactly k candidates) and the measured-with-margin mean
    recall bound. Also recall property-tested in tests/test_properties.py."""
    from pydatalake_gen2_spark.operators import pq

    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    # adc feeds per_q + gate, exact feeds rows + gate: persist the tiny
    # (|queries| x k) results so the compressed code scan and brute-force
    # leg run once each, not per consumer (see lx_ivf_topk note).
    adc = HELD.persist(
        pq.pq_topk(emb, queries, k=_ANN_K, codebooks=_pq_codebook(spark, sf_dir))
    )
    exact = HELD.persist(similarity.cosine_topk(emb, queries, k=_ANN_K))
    rows = _ann_rank_fold(exact, "exact_topk_ids", "exact_top1_cos")
    per_q = adc.groupBy("query_id").agg(
        (F.count(F.lit(1)) == _ANN_K).alias("pq_returned_k")
    )
    gate = _ann_recall_per_query(exact, adc).agg(
        (F.avg("recall") >= F.lit(_PQ_RECALL_BOUND)).alias(
            f"adc_mean_recall_ge_{int(_PQ_RECALL_BOUND * 100):03d}"
        )
    )
    return (
        rows.join(per_q, "query_id")
        .crossJoin(F.broadcast(gate))
        .select(
            "query_id", "exact_topk_ids", "exact_top1_cos", "pq_returned_k",
            f"adc_mean_recall_ge_{int(_PQ_RECALL_BOUND * 100):03d}",
        )
        .orderBy("query_id")
    )


@register(
    "lx_pq_rerank",
    duck_sql=_ann_exact_duck(
        "vec_id < 20",
        "TRUE AS rerank_recall_ge_adc, "
        f"TRUE AS rerank_mean_recall_ge_{int(_RERANK_RECALL_BOUND * 100):03d}",
    ),
)
def lx_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN refine: ADC shortlist (4k over the compressed codes)
    → exact cosine re-rank of shortlist ids only. The full-precision
    vectors are read for |queries|·4k rows, never for the corpus scan —
    the standard way a 100 TB deployment buys back the PQ recall loss.
    Tier H since round 7 (audit-row fold): exact leg hash-matched;
    rerank_recall_ge_adc is per-query and THEOREM-backed (the rerank
    top-k is the exact-cosine best of a shortlist that contains the ADC
    top-k, so every exact-top-k member the ADC leg found survives the
    rerank), plus the measured-with-margin mean recall bound."""
    from pydatalake_gen2_spark.operators import pq

    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    cb = _pq_codebook(spark, sf_dir)
    # ONE compressed ADC scan serves both stages: the widened shortlist
    # is persisted, its rn<=k prefix IS pq_topk(k) (same window, same
    # unrounded ranking; the per-batch prune keeps k*mult+1 >= k+1), and
    # the rerank consumes the same frame (round-7 bench fix: the audit
    # previously paid the corpus code scan twice).
    shortlist = HELD.persist(pq.pq_topk(emb, queries, k=_ANN_K * 4, codebooks=cb))
    adc = shortlist.filter(F.col("rn") <= _ANN_K)
    rr = pq.pq_rerank(
        emb, queries, k=_ANN_K, codebooks=cb,
        shortlist=shortlist.select("query_id", "vec_id"),
    )
    # exact feeds THREE consumers (rows, adc_r, rr_r) and per_q feeds two
    # (final join + gate): persist both tiny frames so the brute-force
    # exact leg and the rerank recall join run once (see lx_ivf_topk note).
    exact = HELD.persist(similarity.cosine_topk(emb, queries, k=_ANN_K))
    rows = _ann_rank_fold(exact, "exact_topk_ids", "exact_top1_cos")
    adc_r = _ann_recall_per_query(exact, adc).withColumnRenamed("recall", "_ar")
    rr_r = _ann_recall_per_query(exact, rr).withColumnRenamed("recall", "_rr")
    per_q = HELD.persist(adc_r.join(rr_r, "query_id").select(
        "query_id", (F.col("_rr") >= F.col("_ar")).alias("rerank_recall_ge_adc"),
        "_rr",
    ))
    gate = per_q.agg(
        (F.avg("_rr") >= F.lit(_RERANK_RECALL_BOUND)).alias(
            f"rerank_mean_recall_ge_{int(_RERANK_RECALL_BOUND * 100):03d}"
        )
    )
    return (
        rows.join(per_q.drop("_rr"), "query_id")
        .crossJoin(F.broadcast(gate))
        .select(
            "query_id", "exact_topk_ids", "exact_top1_cos",
            "rerank_recall_ge_adc",
            f"rerank_mean_recall_ge_{int(_RERANK_RECALL_BOUND * 100):03d}",
        )
        .orderBy("query_id")
    )


@register(
    "lx_ivfpq_topk",
    duck_sql=_ann_exact_duck(
        "vec_id % 100 = 0 AND vec_id < 2000",
        "TRUE AS ivfpq_returned_k, "
        f"TRUE AS ivfpq_mean_recall_ge_{int(_IVFPQ_RECALL_BOUND * 100):03d}",
    ),
)
def lx_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k over a deterministic FIXED-SIZE query sample
    (vec_id % 100 = 0 AND vec_id < 2000 — at most 20 queries at any
    corpus size; identical to the plain %100 sample at every
    hash-compared scale, corpus <= 2000 there). The cap is the round-7
    sf3-ladder fix: a fixed-FRACTION sample made the audit's exact leg
    grow as corpus^2 (measured exponent 1.9 at sf1->sf3); a fixed-size
    query batch is the real serving shape and keeps the audit O(corpus):
    centroid cells partition the corpus, the inverted file's postings are
    16-byte PQ codes (not 256-byte vectors), candidates are ADC-scored per
    Arrow batch. The billion-scale layout: probe join shuffles codes only.
    Tier H since round 7 (audit-row fold): exact leg hash-matched vs the
    oracle's brute force over the same sample; the IVF-PQ leg is audited
    by ivfpq_returned_k and the measured-with-margin mean recall bound."""
    from pydatalake_gen2_spark.operators import pq

    emb = spark.table("embeddings")
    pred = (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000)
    # Leg result frames feed two consumers each (appx -> per_q + gate,
    # exact -> rows + gate): persist so the probe join / brute-force
    # scoring runs once, not once per consumer (see lx_ivf_topk note).
    appx = HELD.persist(pq.ivfpq_topk(
        emb, k=_ANN_K, codebooks=_pq_codebook(spark, sf_dir),
        centroids=_ivf_codebook(spark, sf_dir), n_probe=6, query_pred=pred,
    ))
    exact = HELD.persist(similarity.cosine_topk(emb, emb.filter(pred), k=_ANN_K))
    rows = _ann_rank_fold(exact, "exact_topk_ids", "exact_top1_cos")
    per_q = appx.groupBy("query_id").agg(
        (F.count(F.lit(1)) == _ANN_K).alias("ivfpq_returned_k")
    )
    gate = _ann_recall_per_query(exact, appx).agg(
        (F.avg("recall") >= F.lit(_IVFPQ_RECALL_BOUND)).alias(
            f"ivfpq_mean_recall_ge_{int(_IVFPQ_RECALL_BOUND * 100):03d}"
        )
    )
    return (
        rows.join(per_q, "query_id")
        .crossJoin(F.broadcast(gate))
        .select(
            "query_id", "exact_topk_ids", "exact_top1_cos",
            "ivfpq_returned_k",
            f"ivfpq_mean_recall_ge_{int(_IVFPQ_RECALL_BOUND * 100):03d}",
        )
        .orderBy("query_id")
    )


@register("lx_simhash_neardup", duck_sql=_lx_simhash_neardup_duck())
def lx_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Hamming-radius near-dup join over 48-bit SimHash (r=4,
    5 disjoint bands → pigeonhole guarantees 1.0 recall; exact
    bit_count(xor) verify → exact precision). P→H: the oracle states
    the full brute-force Hamming pair set over bit-exact md5
    fingerprints — equality certifies recall AND precision in one hash
    (the engine never runs the n² compare; plan-gated equi-join).
    Also property-tested in tests/test_properties.py.

    Bench note: the synthetic fixture's 31-word vocabulary makes SimHash
    fingerprints pathologically clustered (sf0.1: 3445 distinct over 5000
    docs, ~1.6M TRUE pairs within r=4 — 13% of all pairs), so this
    query's wall time is output-volume-bound, not plan-bound; real
    corpora emit near-linear pair counts through the identical plan."""
    return dedup.simhash_neardup_pairs(
        spark.table("documents"), r=4, exact_recall=True
    )


def _lx_lsh_duck(
    k: int = 5, np_max: int = 16, n_tables: int = 8, seed: int = 42,
    dim: int = 64,
) -> str:
    """Full LSH oracle (round-7 P->H upgrade; SCALE-AWARE since round 10
    — r9 verdict #5): the hyperplane set is DETERMINISTIC (seed-pinned,
    generated driver-side), so the oracle replicates the ENTIRE pipeline
    — sign-pattern buckets, bucket equi-join candidates, exact cosine
    rerank — with the plane vectors embedded as literals.

    The operator auto-scales its plane count with corpus size
    (n_planes = max(6, ceil(log2(n/64)))); a 6-plane-only oracle
    therefore diverged BY CONTRACT at sf1 (40,960 vectors -> 9 planes —
    the one documented r9 boundary). The oracle now computes the SAME
    formula in SQL from count(*) and selects the first ``np`` planes of
    an embedded np_max-plane literal set. That prefix trick is sound
    because numpy's RandomState(seed).randn(n_planes, dim) fills
    row-major from one stream: the rows of a (6, dim) draw are exactly
    the first 6 rows of a (16, dim) draw with the same seed (asserted in
    tests/test_properties.py::test_lsh_plane_prefix_property), so the
    engine's n_planes planes are literally a prefix of the embedded set
    at EVERY corpus size up to 64 * 2**np_max (= 4.2M vectors) — one
    static SQL string, hash-green at every oracle scale. The log2/ceil
    breakpoints agree between engines because log2 is exact at binary
    powers (the only places ceil could flip on a last-ulp difference).

    Literals use e-notation so DuckDB parses them as DOUBLE via strtod
    (correctly rounded, bit-identical to the floats Spark ships in the
    plan) instead of the DECIMAL literal path whose wide-decimal->double
    cast is not correctly rounded."""
    from pydatalake_gen2_spark.operators.similarity import _hyperplanes

    def flit(x: float) -> str:
        r = repr(x)
        return r if ("e" in r or "E" in r) else r + "e0"

    rows = []
    for t in range(n_tables):
        for i, p in enumerate(_hyperplanes(dim, np_max, seed + t)):
            lits = ", ".join(flit(x) for x in p)
            rows.append(f"({t}, {i}, [{lits}]::DOUBLE[])")
    values = ",\n      ".join(rows)
    return f"""
    WITH np AS (
      SELECT GREATEST(6, CAST(ceil(log2(GREATEST(count(*), 128) / 64.0))
                         AS INT)) AS np
      FROM embeddings),
    planes(t, i, p) AS (VALUES
      {values}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (
      SELECT e.vec_id, pl.t,
             CAST(pl.t * (1::BIGINT << np.np) AS BIGINT)
             + SUM(CASE WHEN list_dot_product(e.v, pl.p) >= 0
                        THEN (1::BIGINT << pl.i) ELSE 0 END) AS bucket
      FROM e CROSS JOIN np CROSS JOIN planes pl
      WHERE pl.i < np.np
      GROUP BY e.vec_id, pl.t, np.np),
    pairs AS (
      SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS vec_id
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
    scored AS (
      SELECT p.query_id, p.vec_id,
             list_dot_product(q.v, d.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(d.v, d.v))) AS cos
      FROM pairs p
      JOIN e q ON p.query_id = q.vec_id
      JOIN e d ON p.vec_id = d.vec_id)
    SELECT query_id, vec_id, ROUND(cos, 4) AS cos, CAST(rn AS BIGINT) AS rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, vec_id) AS rn
          FROM scored) t
    WHERE rn <= {k}
    """


@register("lx_lsh_topk", duck_sql=_lx_lsh_duck())
def lx_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k neighbours (the 100 TB similarity
    path). Tier H since round 7: the seed-pinned hyperplanes make the
    whole pipeline oracle-replicable (_lx_lsh_duck embeds the plane
    literals; buckets, candidate equi-join, and exact-cosine rerank all
    hash-match), on top of the existing recall property test vs l03
    brute force.

    Plane count AUTO-SCALES with corpus size (the round-7 sf3-ladder
    fix): fixed 6 planes = 64 buckets/table means bucket occupancy and
    therefore candidate volume grow as n^2/64 — measured as the
    slowest sf3 ladder entry. n_planes = max(6, ceil(log2(n/64)))
    pins mean occupancy at ~64, so candidates stay ~O(n * 64 * tables)
    — linear. Since round 10 the oracle computes the SAME plane-count
    formula in SQL and selects a prefix of its embedded plane literals
    (see _lx_lsh_duck: randn's row-major stream makes smaller draws
    prefixes of larger ones), so this pair hash-matches at EVERY oracle
    scale — the r9 six-plane-oracle boundary at sf1 is gone."""
    import math

    emb = spark.table("embeddings")
    n = emb.count()  # parquet metadata count: no scan
    n_planes = max(6, math.ceil(math.log2(max(n, 128) / 64)))
    if n_planes > 16:
        # The oracle embeds a 16-plane literal set (_lx_lsh_duck np_max);
        # beyond 64 * 2**16 (~4.2M) vectors the formula exceeds it and
        # the hash compare is INVALID — keep that boundary loud (the r7
        # lesson: a silent contract edge reads as a confusing mismatch
        # two decades later). Regenerate the oracle with a larger np_max
        # before certifying such a corpus.
        import warnings

        warnings.warn(
            f"lx_lsh_topk: corpus has {n} vectors -> n_planes={n_planes},"
            " beyond the oracle's embedded 16-plane set (valid to ~4.2M"
            " vectors) — do NOT hash-compare this run; regenerate"
            " _lx_lsh_duck(np_max=...) first.",
            stacklevel=2,
        )
    return similarity.lsh_topk(emb, k=5, n_planes=n_planes)


# IVF codebook per corpus dir — index-build/query separation. Training the
# codebook (count + bounded sample collect + driver k-means) is the BUILD
# phase of an IVF index; real ANN systems run it once per corpus and serve
# many queries. The cache keys on the corpus location, so repeated query
# runs (bench iterations, sessions reusing one sf_dir) pay the build once.
_IVF_CODEBOOKS: dict[str, list[list[float]]] = {}


def _ivf_codebook(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    cb = _IVF_CODEBOOKS.get(sf_dir)
    if cb is None:
        corpus = spark.table("embeddings")
        n = corpus.count()
        cb = similarity.ivf_centroids(
            corpus, n_cells=max(8, int(n**0.5)), corpus_n=n
        )
        _IVF_CODEBOOKS[sf_dir] = cb
    return cb


@register(
    "lx_ivf_topk",
    duck_sql=_ann_exact_duck(
        "vec_id % 100 = 0 AND vec_id < 2000",
        "TRUE AS ivf_returned_k, "
        f"TRUE AS probe_mean_recall_ge_{int(_IVF_RECALL_BOUND * 100):03d}",
        ids_col="fullprobe_topk_ids",
        cos_col="fullprobe_top1_cos",
    ),
)
def lx_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-k neighbours over a
    deterministic FIXED-SIZE query sample (vec_id % 100 = 0 AND
    vec_id < 2000: at most 20 queries at any corpus size — identical to
    the plain %100 sample at every hash-compared scale, and the round-7
    sf3-ladder fix that keeps the audit O(corpus) instead of the
    measured corpus^1.9 a fixed-fraction sample caused) — the centroid-
    partitioned ANN scale path. n_cells auto-scales to ~sqrt(corpus) so
    the cell join key never funnels into a handful of reducers; the
    codebook is trained once per corpus dir and reused (_ivf_codebook).

    Tier H since round 7, and the strongest of the ANN audits: the
    hash-matched leg is the IVF machinery itself at FULL PROBE
    (n_probe = n_cells degenerates to exact brute force — every cell is
    probed, the inverted file still routes every candidate through the
    cell equi-join and the assignment UDF), which the oracle recomputes
    as brute force. The production n_probe=6 leg is audited by
    ivf_returned_k and the measured-with-margin mean recall bound."""
    emb = spark.table("embeddings")
    cents = _ivf_codebook(spark, sf_dir)
    pred = (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000)
    # Both leg RESULT frames (|queries| x k rows) feed TWO consumers each
    # (full -> rows + gate, appx -> per_q + gate); without the persist the
    # heavy candidate join + window ran once per consumer — ReusedExchange
    # does not fire for concurrent identical subtrees (the r11 event-log
    # finding), but block-level get-or-compute on a persisted frame does.
    full = HELD.persist(similarity.ivf_topk(
        emb, k=_ANN_K, n_probe=len(cents), centroids=cents, query_pred=pred
    ))
    appx = HELD.persist(similarity.ivf_topk(
        emb, k=_ANN_K, n_probe=6, centroids=cents, query_pred=pred
    ))
    rows = _ann_rank_fold(full, "fullprobe_topk_ids", "fullprobe_top1_cos")
    per_q = appx.groupBy("query_id").agg(
        (F.count(F.lit(1)) == _ANN_K).alias("ivf_returned_k")
    )
    gate = _ann_recall_per_query(full, appx).agg(
        (F.avg("recall") >= F.lit(_IVF_RECALL_BOUND)).alias(
            f"probe_mean_recall_ge_{int(_IVF_RECALL_BOUND * 100):03d}"
        )
    )
    return (
        rows.join(per_q, "query_id")
        .crossJoin(F.broadcast(gate))
        .select(
            "query_id", "fullprobe_topk_ids", "fullprobe_top1_cos",
            "ivf_returned_k",
            f"probe_mean_recall_ge_{int(_IVF_RECALL_BOUND * 100):03d}",
        )
        .orderBy("query_id")
    )


@register(
    "l11_dedup_clusters",
    duck_sql="""
    WITH RECURSIVE sets AS (
      SELECT doc_id AS id,
             list_distinct(list_transform(generate_series(1, len(t) - 2),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS toks
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
      WHERE len(t) >= 3),
    inv AS (SELECT id, len(toks) AS n_toks, unnest(toks) AS tok FROM sets),
    shared AS (
      SELECT a.id AS id_a, b.id AS id_b, a.n_toks AS na, b.n_toks AS nb,
             COUNT(*) AS n_shared
      FROM inv a JOIN inv b ON a.tok = b.tok AND a.id < b.id
      GROUP BY 1, 2, 3, 4),
    pairs AS (
      SELECT id_a, id_b FROM shared
      WHERE n_shared / (na + nb - n_shared) >= 0.3),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
      SELECT s, s FROM edges
      UNION SELECT s, d FROM edges
      UNION SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s)
    SELECT id AS doc_id, MIN(r) AS component, id = MIN(r) AS keep
    FROM reach GROUP BY id
    """,
)
def l11_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution: Jaccard pairs → connected components
    (iterative min-label propagation, O(log n) shuffle-join rounds) → one
    canonical keeper per cluster. The step after pair generation in every
    training-data dedup pipeline — pairs alone over-delete transitive
    groups. Oracle: DuckDB recursive-CTE transitive closure."""
    return dedup.dedup_clusters(spark.table("documents"), tau=0.3)


@register(
    "l12_deterministic_sample",
    duck_sql="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '2000'
    """,
)
def l12_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~12.5% Bernoulli sample keyed on md5(doc_id) — the
    reproducible corpus-downsampling primitive. Unlike rand(), the same
    row set comes back on every run, engine, and partitioning (md5 is
    bit-identical across Spark and the oracle); the filter is a pure
    per-row predicate, so it pushes into the scan with no shuffle."""
    d = spark.table("documents")
    return d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < "2000"
    ).select("doc_id", "lang", "n_chars")


@register(
    "l13_stratified_sample",
    duck_sql="""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents)
    SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= CAST(ceil(0.2 * n_lang) AS BIGINT)
    """,
)
def l13_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 20%-per-stratum sample: rank rows inside each lang stratum by
    md5(doc_id) (a deterministic uniform ordering) and keep the first
    ceil(0.2*n) — every stratum is represented at exactly the target
    fraction, unlike Bernoulli sampling which drifts on small strata.
    One window shuffle on the stratum key."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    wc = Window.partitionBy("lang")
    return (
        spark.table("documents")
        .select(
            "doc_id",
            "lang",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n_lang"),
        )
        .filter(F.col("rn") <= F.ceil(0.2 * F.col("n_lang")).cast("bigint"))
        .select("doc_id", "lang", "rn")
    )


@register(
    "l14_topk_per_group_sample",
    duck_sql="""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    SELECT doc_id, source, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 25
    """,
)
def l14_topk_per_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-k-per-group sample (25 docs per source, md5-ordered) — the
    distributed, deterministic stand-in for per-group reservoir sampling:
    one window shuffle, no driver state, same rows every run."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        spark.table("documents")
        .select("doc_id", "source", F.row_number().over(w).cast("bigint").alias("rn"))
        .filter(F.col("rn") <= 25)
    )


@register(
    "l15_sequence_packing",
    duck_sql="""
    WITH toks AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    packed AS (
      SELECT doc_id, n_tokens,
             CAST(floor((SUM(n_tokens) OVER (ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n_tokens) / 256.0)
                  AS BIGINT) AS bin_id
      FROM toks)
    SELECT bin_id, CAST(count(*) AS BIGINT) AS docs_in_bin,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY bin_id
    """,
)
def l15_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window sequence packing: assign docs (in deterministic id
    order) to ~256-token training bins via a running token total —
    bin_id = floor((cumsum - own) / target). The packing itself is one
    window; at scale you partition the window by a shard key (e.g.
    source) so no single ordered window spans the corpus."""
    from pyspark.sql.window import Window

    toks = spark.table("documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    packed = toks.select(
        "doc_id",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 256.0)
        .cast("bigint")
        .alias("bin_id"),
    )
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("docs_in_bin"),
        F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
    )


@register(
    "l16_corpus_mix_weights",
    duck_sql="""
    WITH obs AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY lang),
    tot AS (SELECT sum(n_docs) AS total FROM obs)
    SELECT lang, n_docs, n_chars,
           n_docs / (SELECT total FROM tot) AS observed_frac,
           0.2 / (n_docs / (SELECT total FROM tot)) AS resample_weight
    FROM obs
    """,
)
def l16_corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixing weights: observed per-lang share vs a uniform 20%
    target → per-doc resampling weight (target/observed). The driver-side
    scalar is one tiny agg; the weight application is a broadcast join in
    the consuming pipeline."""
    obs = (
        spark.table("documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
    )
    total = obs.agg(F.sum("n_docs")).first()[0]
    return obs.select(
        "lang",
        "n_docs",
        "n_chars",
        (F.col("n_docs") / F.lit(total)).alias("observed_frac"),
        (F.lit(0.2) / (F.col("n_docs") / F.lit(total))).alias("resample_weight"),
    )


@register(
    "l17_decontaminate",
    duck_sql="""
    WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(generate_series(1, len(t) - 4),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS gram
      FROM toks WHERE len(t) >= 5),
    bench AS (
      SELECT DISTINCT gram FROM g
      WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '10'),
    hits AS (
      SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_contaminated_grams
      FROM g JOIN bench USING (gram)
      WHERE substring(md5(CAST(g.doc_id AS VARCHAR)), 1, 2) >= '10'
      GROUP BY g.doc_id)
    SELECT doc_id, CAST(n_contaminated_grams AS BIGINT) AS n_contaminated_grams
    FROM hits
    """,
)
def l17_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    5-gram with a held-out benchmark set (here a deterministic md5-keyed
    ~6% slice standing in for an eval suite; production uses 13-grams).
    The benchmark gram set is tiny relative to a 100 TB corpus, so it is
    BROADCAST and the corpus side needs no shuffle before the per-doc
    count — at extreme gram cardinality swap the broadcast for a bloom
    filter pre-pass, same plan shape.

    Each side filters its doc slice BEFORE tokenizing (the bench side
    shingles only the ~6% held-out docs), and because grams are already
    distinct within a doc (array_distinct before the explode) the per-doc
    tally is a plain COUNT — no distinct-aggregate expansion."""
    from pydatalake_gen2_spark.operators.util import spread

    d = spark.table("documents")
    t = text.tokens()
    is_bench = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "10"
    gram = F.explode(F.array_distinct(text.ngrams(t, 5))).alias("gram")
    bench = d.filter(is_bench).select(gram).distinct()
    # spread(): the corpus-side tokenize + 5-gram explode + broadcast
    # probe + partial agg all run BEFORE any exchange, so on the
    # single-split local fixture the whole heavy pipeline ran in ONE
    # task (r11 event-log: a 2.1 s single-task stage was ~85% of the
    # query). On a real cluster the scan has more splits than cores and
    # spread() is a no-op. Measured: ~2x at sf0.1, rows identical.
    return (
        spread(d.filter(~is_bench))
        .select("doc_id", gram)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count("gram").alias("n_contaminated_grams"))
    )


@register(
    "l18_weighted_sample",
    duck_sql="""
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           LEAST(1.0, n_chars / 512.0) AS keep_prob
    FROM documents
    WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          < LEAST(4294967296, CAST(n_chars AS BIGINT) * 8388608)
    """,
)
def l18_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Bernoulli sample with P(keep) ∝ doc length (token-budget
    sampling): keep iff hash32(doc_id) < n_chars * 2^32/512, i.e. a
    PURE-INTEGER comparison — bit-deterministic across engines, runs, and
    partitionings (no float RNG), and a plain scan predicate so it pushes
    down with zero shuffle. For exact-k weighted reservoirs see
    l18b_weighted_reservoir (operators/sampling.py)."""
    from pydatalake_gen2_spark.operators import sampling

    d = spark.table("documents")
    return sampling.weighted_bernoulli(
        d, F.col("n_chars"), "doc_id", scale=512
    ).select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.least(F.lit(1.0), F.col("n_chars") / F.lit(512.0)).alias("keep_prob"),
    )


@register(
    "l19_dataset_card",
    duck_sql="""
    WITH d AS (
      SELECT doc_id, source, lang, text,
             len(string_split(lower(text), ' ')) AS n_tokens
      FROM documents),
    h AS (SELECT source, sha256(text) AS hsh, COUNT(*) AS c
          FROM d GROUP BY source, sha256(text)),
    dup AS (SELECT source, SUM(c) - COUNT(*) AS n_dup_docs FROM h GROUP BY source),
    agg AS (
      SELECT source, COUNT(*) AS n_docs, SUM(n_tokens) AS total_tokens,
             COUNT(DISTINCT lang) AS n_langs,
             MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens
      FROM d GROUP BY source)
    SELECT a.source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST(n_langs AS BIGINT) AS n_langs,
           CAST(min_tokens AS BIGINT) AS min_tokens,
           CAST(max_tokens AS BIGINT) AS max_tokens,
           total_tokens / n_docs AS mean_tokens,
           CAST(COALESCE(n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
           COALESCE(n_dup_docs, 0) / n_docs AS dup_frac
    FROM agg a LEFT JOIN dup USING (source)
    """,
)
def l19_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source "dataset card": doc/token counts, token-length range,
    language breadth, and exact-duplicate rate in one pass — the summary
    block a corpus release ships with. Two partial-agg shuffles (one on
    (source, content-hash) for the dup rate, one on source); both combine
    map-side, so the exchanges carry pre-aggregated rows, not documents."""
    d = spark.table("documents").select(
        "source",
        "lang",
        F.sha2(F.col("text"), 256).alias("hsh"),
        F.size(F.split(F.lower("text"), " ")).alias("n_tokens"),
    )
    dup = (
        d.groupBy("source", "hsh")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source")
        .agg((F.sum("c") - F.count(F.lit(1))).alias("n_dup_docs"))
    )
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        F.min("n_tokens").cast("bigint").alias("min_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
    )
    return agg.join(dup, "source", "left").select(
        "source",
        "n_docs",
        F.col("total_tokens").cast("bigint").alias("total_tokens"),
        "n_langs",
        "min_tokens",
        "max_tokens",
        (F.col("total_tokens") / F.col("n_docs")).alias("mean_tokens"),
        F.coalesce(F.col("n_dup_docs"), F.lit(0)).cast("bigint").alias("n_dup_docs"),
        (F.coalesce(F.col("n_dup_docs"), F.lit(0)) / F.col("n_docs")).alias("dup_frac"),
    )


@register(
    "l18b_weighted_reservoir",
    duck_sql="""
    WITH d AS (
      SELECT doc_id, lang, n_chars,
             POW((CAST(('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8))
                       ::BIGINT AS BIGINT) + 0.5) / 4294967296.0,
                 1.0 / CAST(n_chars AS DOUBLE)) AS k
      FROM documents)
    SELECT doc_id, lang, n_chars, ROUND(k, 4) AS es_key
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY k DESC, doc_id) AS rn FROM d)
    WHERE rn <= 50
    """,
)
def l18b_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k (k=50) weighted sample without replacement via the
    Efraimidis-Spirakis u^(1/w) key over a deterministic per-row uniform
    (u from md5(doc_id), w = n_chars). Executes as
    TakeOrderedAndProject — k rows per partition cross the exchange,
    never a total sort.

    Tier H since round 7. The key is transcendental (POW), and Spark's
    Math.pow and DuckDB's libm pow were MEASURED to differ on ~84% of
    rows at sf0.1 — but only by <= 8.8e-13, while the keys' adjacent
    order-statistic gaps near rank 50 are ~1.6e-6 at fixture density:
    the SELECTED SET agrees unless the rank-50/51 gap lands below 1e-12
    (~1e-6 probability), and the RENDERED key is ROUND(4) so a rendered
    cell flips only within 8.8e-13 of a 5e-5 rounding boundary. The
    ordering itself stays raw-key (the operator's semantics are
    untouched); property tests (determinism across partitionings,
    weight-rescale invariance, numpy recompute) still run in
    tests/test_properties.py."""
    from pydatalake_gen2_spark.operators import sampling

    d = spark.table("documents").select("doc_id", "lang", "n_chars")
    return sampling.weighted_reservoir_k(
        d, F.col("n_chars"), "doc_id", k=50
    ).withColumn("es_key", F.round("es_key", 4))


@register(
    "l20_line_dedup",
    duck_sql="""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    ix AS (SELECT doc_id, toks,
                  unnest(generate_series(1, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS i
           FROM t),
    keyed AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(toks[((i-1)*8+1):((i-1)*8+8)], ' ') AS line
      FROM ix),
    keeper AS (
      SELECT doc_id, pos, line,
             ROW_NUMBER() OVER (PARTITION BY lower(trim(line)) ORDER BY doc_id, pos) AS rn
      FROM keyed),
    agg AS (SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS text_clean,
                   COUNT(*) AS n_kept
            FROM keeper WHERE rn = 1 GROUP BY doc_id),
    tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM keyed GROUP BY doc_id)
    SELECT t.doc_id, coalesce(a.text_clean, '') AS text_clean,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(t.n_lines - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
    FROM tot t LEFT JOIN agg a USING (doc_id)
    """,
)
def l20_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level line dedup (keep first occurrence of every
    distinct line, reassemble docs). The fixture has no newlines, so
    pseudo-lines are 8-word blocks (``block=8``); real corpora pass
    ``delim="\\n"``. Scale: groupBy(line).min(struct) keeper — partial-
    aggregated, skew-safe — instead of a window over the hot line key."""
    return dedup.line_dedup(spark.table("documents"), delim=None, block=8)


@register(
    "l21_chunk_overlap",
    duck_sql="""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    c AS (SELECT doc_id, toks,
                 1 + CAST(floor((greatest(len(toks) - 64, 0) + 47) / 48.0) AS BIGINT)
                     AS n_chunks
          FROM t),
    ix AS (SELECT doc_id, toks, unnest(generate_series(0, n_chunks - 1)) AS i FROM c)
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
           array_to_string(toks[(i*48+1):(i*48+64)], ' ') AS chunk_text,
           CAST(least(len(toks) - i*48, 64) AS BIGINT) AS n_tokens
    FROM ix
    """,
)
def l21_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window training-sample chunking (64-token windows, stride
    48 → 16-token overlap). Row-local explode + array slices: zero
    shuffle; the 1→N fan-out is the only data growth."""
    return text.chunk_tokens(spark.table("documents"), size=64, stride=48)


@register(
    "l22_bm25",
    duck_sql="""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    base AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
           FROM base WHERE term IN ('vector', 'stream', 'merge', 'window')
           GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    stats AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM t),
    scored AS (
      SELECT tf.doc_id,
             ROUND(ln(1.0 + (CAST(stats.n - dfreq.df AS DOUBLE) + 0.5) / (dfreq.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)), 4) AS s
      FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
    agg AS (SELECT doc_id, ROUND(SUM(s), 4) AS bm25 FROM scored GROUP BY doc_id)
    SELECT doc_id, bm25,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rn
    FROM agg
    """,
)
def l22_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval scores for a 4-term query bag over the corpus
    (tokens filtered to the bag before the shuffle; df + corpus stats
    broadcast; ROUND(…,4) float discipline — see operators/text.py)."""
    return text.bm25_scores(
        spark.table("documents"), ["vector", "stream", "merge", "window"]
    )


@register(
    "l23_span_dedup",
    duck_sql="""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    g AS (SELECT doc_id, i AS pos, array_to_string(toks[i:(i+9)], ' ') AS gram
          FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 9)) AS i
                FROM t)
          WHERE len(toks) >= 10),
    dup AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        FROM g) WHERE rn > 1),
    d2 AS (SELECT doc_id, list_sort(list(pos)) AS dps FROM dup GROUP BY doc_id),
    j AS (SELECT t.doc_id, toks, coalesce(dps, []) AS dps
          FROM t LEFT JOIN d2 USING (doc_id)),
    k AS (SELECT doc_id, toks,
                 list_filter(generate_series(1, len(toks)),
                             ti -> len(list_filter(dps, p -> p >= ti - 9 AND p <= ti)) = 0)
                     AS kept
          FROM j)
    SELECT doc_id,
           coalesce(array_to_string(list_transform(kept, ti -> toks[ti]), ' '), '')
               AS text_clean,
           CAST(len(kept) AS BIGINT) AS n_kept,
           CAST(len(toks) - len(kept) AS BIGINT) AS n_removed
    FROM k
    """,
)
def l23_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (Lee et al. 2022 relaxation): remove every
    token covered by a non-first duplicated 10-gram occurrence, keeping
    first occurrences intact. md5-keyed gram shuffle + min(struct)
    keeper groupBy (skew-safe) + row-local coverage — no suffix array,
    no window over the hot gram key."""
    return dedup.span_dedup(spark.table("documents"), L=10)


@register(
    "l24_incremental_dedup",
    duck_sql="""
    WITH hashed AS (
      SELECT doc_id, sha256(text) AS content_hash,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= 'c' AS is_batch
      FROM documents),
    seen AS (SELECT DISTINCT content_hash FROM hashed WHERE NOT is_batch),
    firsts AS (
      SELECT doc_id, content_hash,
             ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
      FROM hashed WHERE is_batch)
    SELECT f.doc_id, f.content_hash,
           s.content_hash IS NOT NULL AS dup_of_corpus,
           f.rn > 1 AS dup_within_batch,
           (s.content_hash IS NULL AND f.rn = 1) AS keep
    FROM firsts f LEFT JOIN seen s USING (content_hash)
    """,
)
def l24_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: a new batch (deterministic ~25% md5
    slice) dedups against the already-ingested corpus's content-hash
    index AND within itself (first-occurrence keeper). The corpus index
    is exactly what a production pipeline persists between ingests; the
    batch joins it on the 64-hex hash — one shuffle keyed by hash, both
    the within-batch keeper and the index probe partial-aggregate /
    bucket by the same key, so at 100 TB the index side can be written
    hash-bucketed once and every future ingest joins shuffle-free."""
    d = spark.table("documents")
    hashed = d.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("content_hash"),
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) >= "c").alias(
            "is_batch"
        ),
    )
    seen = hashed.filter(~F.col("is_batch")).select("content_hash").distinct()
    from pyspark.sql.window import Window

    w = Window.partitionBy("content_hash").orderBy("doc_id")
    firsts = (
        hashed.filter("is_batch")
        .withColumn("rn", F.row_number().over(w))
    )
    return (
        firsts.join(seen.withColumn("_seen", F.lit(True)), "content_hash", "left")
        .select(
            "doc_id",
            "content_hash",
            F.coalesce("_seen", F.lit(False)).alias("dup_of_corpus"),
            (F.col("rn") > 1).alias("dup_within_batch"),
            (F.col("_seen").isNull() & (F.col("rn") == 1)).alias("keep"),
        )
    )


_L25_DOC = """Temperature-rebalanced corpus sampling (mT5/XLM-R style:
per-language mixture weight q_l ∝ n_l^0.5 upweights low-resource
languages). The per-stratum keep threshold is computed ENTIRELY in
integer arithmetic — w_l = round(1000·sqrt(n_l)) (sqrt is IEEE
correctly-rounded, so bit-identical across engines), then integer DIV
chains — and the keep decision is the l18 pure-integer hash compare, so
the sample is bit-deterministic across engines, partitionings, and
retries, and the predicate evaluates scan-side after a broadcast join
of the 5-row threshold table (plan: one tiny agg + one broadcast join,
zero corpus shuffle). DIV-early ordering keeps every intermediate under
2^63 at any corpus size (documented in SCALE.md)."""

from pydatalake_gen2_spark.registry import sql_pair as _sql_pair

_sql_pair(
    "l25_temperature_sample",
    spark_sql="""
    WITH s AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
    w AS (SELECT lang, n_l, CAST(round(sqrt(n_l) * 1000) AS BIGINT) AS w_l FROM s),
    tot AS (SELECT SUM(w_l) AS sw, SUM(n_l) AS n FROM w),
    thr AS (SELECT lang, n_l,
                   ((w_l * 4294967296 DIV sw) * (n DIV 2)) DIV n_l AS threshold
            FROM w CROSS JOIN tot)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN thr ON d.lang = thr.lang
    WHERE CAST(conv(substring(md5(CAST(d.doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)
          < threshold
    """,
    duck_sql="""
    WITH s AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
    w AS (SELECT lang, n_l, CAST(round(sqrt(n_l) * 1000) AS BIGINT) AS w_l FROM s),
    tot AS (SELECT SUM(w_l) AS sw, SUM(n_l) AS n FROM w),
    thr AS (SELECT lang, n_l,
                   ((w_l * 4294967296 // sw) * (n // 2)) // n_l AS threshold
            FROM w CROSS JOIN tot)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN thr ON d.lang = thr.lang
    WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          < threshold
    """,
    doc=_L25_DOC,
)


@register(
    "l26_e2e_pipeline",
    duck_sql="""
    WITH gated AS (
      SELECT doc_id, lang, text FROM documents WHERE n_chars >= 120),
    keeper AS (
      SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY sha256(text)),
    deduped AS (
      SELECT g.doc_id, g.lang, g.text FROM gated g JOIN keeper USING (doc_id)),
    s AS (SELECT lang, COUNT(*) AS n_l FROM deduped GROUP BY lang),
    w AS (SELECT lang, n_l, CAST(round(sqrt(n_l) * 1000) AS BIGINT) AS w_l FROM s),
    tot AS (SELECT SUM(w_l) AS sw, SUM(n_l) AS n FROM w),
    thr AS (SELECT lang, n_l,
                   ((w_l * 4294967296 // sw) * (n // 2)) // n_l AS threshold
            FROM w CROSS JOIN tot),
    sampled AS (
      SELECT d.doc_id, d.lang, d.text
      FROM deduped d JOIN thr ON d.lang = thr.lang
      WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
            < threshold),
    t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks FROM sampled),
    c AS (SELECT doc_id, lang, toks,
                 1 + CAST(floor((greatest(len(toks) - 32, 0) + 31) / 32.0) AS BIGINT)
                     AS n_chunks
          FROM t),
    ix AS (SELECT doc_id, lang, toks, unnest(generate_series(0, n_chunks - 1)) AS i
           FROM c)
    SELECT doc_id, lang, CAST(i AS BIGINT) AS chunk_id,
           CAST(least(len(toks) - i*32, 32) AS BIGINT) AS n_tokens,
           md5(array_to_string(toks[(i*32+1):(i*32+32)], ' ')) AS chunk_sig
    FROM ix
    """,
)
def l26_e2e_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data pipeline as ONE composed plan: quality
    gate (scan predicate) → exact dedup (hash groupBy keeper) →
    temperature-rebalanced language sampling (broadcast integer
    thresholds, scan-side hash predicate) → 32-token chunking (row-local
    explode). Every stage is the registered operator's exact logic, so
    the hash match certifies the COMPOSITION, not just the pieces — and
    the whole thing is still three shuffles (dedup keeper, sample-stats
    agg, none for chunking) at any corpus size. Chunks are emitted as
    md5 signatures (driver canonicalizer contract for long strings)."""
    d = spark.table("documents")
    gated = d.filter(F.col("n_chars") >= 120).select("doc_id", "lang", "text")
    keeper = gated.groupBy(F.sha2("text", 256)).agg(F.min("doc_id").alias("doc_id"))
    deduped = gated.join(keeper.select("doc_id"), "doc_id")
    s = deduped.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    w = s.select(
        "lang", "n_l", F.round(F.sqrt("n_l") * 1000).cast("bigint").alias("w_l")
    )
    tot = w.agg(F.sum("w_l").alias("sw"), F.sum("n_l").alias("n"))
    thr = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.expr("((w_l * 4294967296 DIV sw) * (n DIV 2)) DIV n_l").alias("threshold"),
    )
    h32 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )
    sampled = deduped.join(F.broadcast(thr), "lang").filter(h32 < F.col("threshold"))
    toks = F.split(F.lower(F.col("text")), " ")
    n = F.size(toks)
    n_chunks = (
        F.lit(1) + F.floor((F.greatest(n - 32, F.lit(0)) + F.lit(31)) / F.lit(32))
    ).cast("int")
    base = sampled.select(
        "doc_id", "lang", toks.alias("_t"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("i"),
    )
    return base.select(
        "doc_id",
        "lang",
        F.col("i").cast("bigint").alias("chunk_id"),
        F.least(F.size("_t") - F.col("i") * 32, F.lit(32)).cast("bigint").alias("n_tokens"),
        F.md5(F.array_join(F.slice("_t", F.col("i") * 32 + 1, F.lit(32)), " ")).alias(
            "chunk_sig"
        ),
    )


@register(
    "l27_quality_classifier",
    duck_sql="""
    WITH f AS (
      SELECT doc_id, len(string_split(lower(text), ' ')) AS n_tok,
             CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
               / len(string_split(lower(text), ' ')) AS ttr,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  w -> w IN ('a', 'the'))) AS DOUBLE)
               / len(string_split(lower(text), ' ')) AS stop_r
      FROM documents)
    SELECT doc_id,
           ROUND(1.0 / (1.0 + exp(-(3.0 * ttr + 4.0 * stop_r - 0.01 * n_tok - 1.5))), 4)
             AS quality,
           (1.0 / (1.0 + exp(-(3.0 * ttr + 4.0 * stop_r - 0.01 * n_tok - 1.5)))) >= 0.5
             AS keep
    FROM f ORDER BY doc_id
    """,
)
def l27_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering stand-in: a fixed-weight logistic
    scorer over row-local lexical features (type-token ratio, stopword
    ratio, length) — the shape of fastText/linear quality classifiers in
    production data pipelines (the real model swaps in as a broadcast
    coefficient vector; the plan is identical). Zero shuffle, pure JVM
    expressions; threshold keep-decision rides in the row."""
    toks = F.split(F.lower(F.col("text")), " ")
    f = spark.table("documents").select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("ttr"),
        (
            F.size(F.filter(toks, lambda w: w.isin("a", "the"))).cast("double")
            / F.size(toks)
        ).alias("stop_r"),
    )
    z = 3.0 * F.col("ttr") + 4.0 * F.col("stop_r") - 0.01 * F.col("n_tok") - 1.5
    score = 1.0 / (1.0 + F.exp(-z))
    return f.select(
        "doc_id",
        F.round(score, 4).alias("quality"),
        (score >= 0.5).alias("keep"),
    ).orderBy("doc_id")


@register(
    "l28_token_length_histogram",
    duck_sql="""
    WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
    b AS (SELECT doc_id, n_tok,
                 CAST(floor(n_tok / 16.0) AS BIGINT) * 16 AS bucket,
                 CAST(ceil(n_tok / 128.0) AS BIGINT) AS n_chunks
          FROM t)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
           CAST(SUM(n_chunks * 128 - n_tok) AS BIGINT) AS pad_tokens
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def l28_token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length distribution + packing-cost report: tokens per doc
    bucketed to 16-wide bins, with the padding overhead a naive
    one-doc-per-128-token-window batching would pay (the number l15's
    sequence packing exists to eliminate). The planning query every
    training-data pipeline runs before choosing context length and
    packing strategy. One partial-agg shuffle over ~n/16 buckets."""
    t = spark.table("documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tok")
    )
    b = t.select(
        "n_tok",
        (F.floor(F.col("n_tok") / 16) * 16).cast("bigint").alias("bucket"),
        F.ceil(F.col("n_tok") / 128.0).cast("bigint").alias("n_chunks"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.sum("n_chunks").cast("bigint").alias("total_chunks"),
            F.sum(F.col("n_chunks") * 128 - F.col("n_tok"))
            .cast("bigint")
            .alias("pad_tokens"),
        )
        .orderBy("bucket")
    )


@register(
    "l30_unigram_lm_score",
    duck_sql="""
    WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                 FROM documents),
    lm AS (SELECT tok, COUNT(*) AS freq FROM tok GROUP BY tok),
    j AS (SELECT t.doc_id, l.freq FROM tok t JOIN lm l ON t.tok = l.tok)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           CAST(SUM(freq) AS BIGINT) AS sum_freq,
           CAST(MIN(freq) AS BIGINT) AS min_freq,
           ROUND(CAST(SUM(freq) AS DOUBLE) / COUNT(*), 4) AS mean_freq
    FROM j GROUP BY doc_id ORDER BY doc_id
    """,
)
def l30_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document scoring — the KenLM-perplexity-filter shape
    (CCNet/RedPajama pipelines): train a token model over the corpus
    (one partial-agg shuffle), join it back to the exploded tokens (the
    model side is orders of magnitude smaller than the corpus —
    broadcastable at any web scale), aggregate per doc. Scores here are
    integer-exact corpus frequencies (sum/min/mean) so the pair is
    hash-stable; a production deployment swaps the freq column for
    log-probs without touching the plan. min_freq flags docs containing
    corpus-rare (likely garbage) tokens."""
    tok = spark.table("documents").select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    )
    lm = tok.groupBy("tok").agg(F.count("*").alias("freq"))
    j = tok.join(lm, on="tok")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            F.sum("freq").cast("bigint").alias("sum_freq"),
            F.min("freq").cast("bigint").alias("min_freq"),
            F.round(
                F.sum("freq").cast("double") / F.count("*"), 4
            ).alias("mean_freq"),
        )
        .orderBy("doc_id")
    )


@register(
    "l17b_decontaminate_bloom",
    duck_sql="""
    WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(generate_series(1, len(t) - 4),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS gram
      FROM toks WHERE len(t) >= 5),
    bench AS (
      SELECT DISTINCT gram FROM g
      WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '10'),
    hits AS (
      SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_contaminated_grams
      FROM g JOIN bench USING (gram)
      WHERE substring(md5(CAST(g.doc_id AS VARCHAR)), 1, 2) >= '10'
      GROUP BY g.doc_id)
    SELECT doc_id, CAST(n_contaminated_grams AS BIGINT) AS n_contaminated_grams
    FROM hits
    """,
)
def l17b_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bloom-filter scale path promised in l17's docstring: when the
    held-out gram set is too large to broadcast as an exact hash set
    (13-gram suites over many benchmarks), build a BLOOM over it
    (operators/bloom.py — distributed bit_or word build, k=7 double
    hashing) and probe every corpus gram with pure-codegen bit tests
    before the exact confirm join. The bloom eliminates the overwhelming
    majority of corpus grams scan-side (never-shuffled); only the tiny
    surviving candidate set — bloom true-positives plus an ~fpp sliver of
    false positives — reaches the exact join, so the OUTPUT is
    hash-identical to l17 (bloom false positives cannot survive the
    confirm; false negatives are impossible). Same oracle as l17 by
    construction. At 100 TB the bloom is ~32 KB-32 MB broadcast vs a
    multi-GB exact set — the same trade Spark's InjectRuntimeFilter makes.
    """
    from pydatalake_gen2_spark.operators import bloom as B
    from pydatalake_gen2_spark.operators import text

    M, K = 1 << 18, 7
    d = spark.table("documents")
    t = text.tokens()
    is_bench = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "10"
    gram = F.explode(F.array_distinct(text.ngrams(t, 5))).alias("gram")
    bench = d.filter(is_bench).select(gram).distinct()
    bloom_df = B.build_bloom(bench, "gram", M, K)
    corpus = d.filter(~is_bench).select("doc_id", gram)
    candidates = corpus.join(F.broadcast(bloom_df)).filter(
        B.might_contain(F.col("gram"), F.col("bloom_words"), M, K)
    ).drop("bloom_words")
    return (
        candidates.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count("gram").alias("n_contaminated_grams"))
    )


def _kmeans_stages_duck(k: int, iters: int) -> tuple[str, str, str]:
    """Shared unrolled exact-Lloyd CTE prefix (used by lx_kmeans AND
    l31_semdedup's oracle): MATERIALIZED per-round CTEs (the iterative-op
    oracle discipline), distances via list_dot_product on exactly-
    representable int64 doubles (< 2^53, so the double math IS integer
    math), floor-mean updates, empty clusters COALESCE to the prior
    round's centroid. Returns (cte_body, final_assign_cte_name,
    final_centroid_cte_name) — the assign CTE carries (vec_id, q, cid,
    dist) under the FINAL centroids."""
    stages = [
        f"""pts AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                 x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS q
      FROM embeddings),
    c0 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, q AS c
      FROM pts ORDER BY vec_id LIMIT {k})"""
    ]
    for i in range(1, iters + 2):
        prev = f"c{i-1}"
        stages.append(f"""d{i} AS MATERIALIZED (
      SELECT p.vec_id, p.q, c.cid,
             CAST(list_dot_product(p.q::DOUBLE[], p.q::DOUBLE[])
                  - 2 * list_dot_product(p.q::DOUBLE[], c.c::DOUBLE[])
                  + list_dot_product(c.c::DOUBLE[], c.c::DOUBLE[])
                  AS BIGINT) AS dist
      FROM pts p CROSS JOIN {prev} c),
    a{i} AS MATERIALIZED (
      SELECT vec_id, q, cid, dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cid) AS rn
        FROM d{i}) t WHERE rn = 1)""")
        if i <= iters:
            stages.append(f"""u{i} AS MATERIALIZED (
      SELECT cid, g.d AS d,
             CAST(FLOOR(CAST(sum(q[g.d]) AS DOUBLE) / count(*)) AS BIGINT) AS v
      FROM a{i} CROSS JOIN generate_series(1, 64) AS g(d)
      GROUP BY cid, g.d),
    c{i} AS MATERIALIZED (
      SELECT p.cid, COALESCE(u.c, p.c) AS c
      FROM c{i-1} p LEFT JOIN (
        SELECT cid, list(v ORDER BY d) AS c FROM u{i} GROUP BY cid) u
      ON p.cid = u.cid)""")
    return ",\n    ".join(stages), f"a{iters + 1}", f"c{iters}"


def _l31_semdedup_duck(k: int = 8, iters: int = 2, tau: float = 0.9) -> str:
    """Full SemDeDup oracle (round-7 P->H): the shared exact-Lloyd
    assignment prefix (lx_kmeans's hash-certified recurrence) gives the
    cells; within-cell tau-pairs come from EXACT int64 dots rendered as
    <2^53 doubles (mul+sqrt+div only — bit-identical to the engine's
    numpy path); components contract via the l11 recursive-CTE pattern;
    keeper = (cent_sim, vec_id) argmin per group."""
    body, a, c = _kmeans_stages_duck(k, iters)
    return f"""
    WITH RECURSIVE {body},
    mem AS MATERIALIZED (
      SELECT s.vec_id, s.cid, s.q,
             list_dot_product(s.q::DOUBLE[], s.q::DOUBLE[]) AS n2,
             list_dot_product(s.q::DOUBLE[], cc.c::DOUBLE[]) AS cdot,
             list_dot_product(cc.c::DOUBLE[], cc.c::DOUBLE[]) AS cn2
      FROM {a} s JOIN {c} cc ON s.cid = cc.cid),
    prs AS MATERIALIZED (
      SELECT x.vec_id AS i, y.vec_id AS j
      FROM mem x JOIN mem y ON x.cid = y.cid AND x.vec_id < y.vec_id
      WHERE list_dot_product(x.q::DOUBLE[], y.q::DOUBLE[])
            / sqrt(x.n2 * y.n2) >= {tau!r}),
    edges AS (SELECT i AS s, j AS d FROM prs
              UNION ALL SELECT j, i FROM prs),
    reach(id, r) AS (
      SELECT s, s FROM edges
      UNION SELECT s, d FROM edges
      UNION SELECT reach.id, edges.d
      FROM reach JOIN edges ON reach.r = edges.s),
    comp AS (SELECT id, MIN(r) AS grp FROM reach GROUP BY id),
    labeled AS (
      SELECT m.vec_id, CAST(m.cid AS BIGINT) AS cell,
             COALESCE(cp.grp, m.vec_id) AS grp,
             m.cdot / sqrt(m.n2 * m.cn2) AS cent_sim
      FROM mem m LEFT JOIN comp cp ON m.vec_id = cp.id)
    SELECT vec_id, cell, grp, ROUND(cent_sim, 6) AS cent_sim,
           (ROW_NUMBER() OVER (PARTITION BY grp
                               ORDER BY cent_sim, vec_id) = 1) AS keep
    FROM labeled ORDER BY vec_id
    """


@register("l31_semdedup", duck_sql=_l31_semdedup_duck())
def l31_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L31 SemDeDup (Abbas et al. 2023): semantic near-dup pruning —
    k-means cells, within-cell pairwise cosine >= tau, keep the
    least-central member per dup group.

    Tier H since round 7: the cells come from the bit-reproducible
    integer Lloyd that lx_kmeans already hash-certifies, and every
    similarity is an exact int64 dot pushed through <=3 correctly-rounded
    IEEE ops (operators/dedup.py::semdedup_exact), so the oracle
    (_l31_semdedup_duck) replays the ENTIRE pipeline — assignment,
    tau-pairs, component contraction, keeper election — and hash-matches
    it. The float-gemm variant (dedup.semdedup) remains the scale
    reference implementation and is still brute-force property-tested."""
    from pydatalake_gen2_spark.operators.dedup import semdedup_exact

    emb = spark.table("embeddings")
    return (
        semdedup_exact(emb, n_cells=8, iters=2, tau=0.9)
        .select(
            "vec_id", "cell", "grp",
            F.round("cent_sim", 6).alias("cent_sim"), "keep",
        )
        .orderBy("vec_id")
    )


@register(
    "l32_dictionary_encode",
    duck_sql="""
    WITH tok AS (
      SELECT doc_id,
             generate_subscripts(string_split(text, ' '), 1) AS pos,
             unnest(string_split(text, ' ')) AS tok
      FROM documents),
    vocab AS (
      SELECT tok,
             CAST(ROW_NUMBER() OVER (
               ORDER BY count(*) DESC, tok) AS BIGINT) AS token_id
      FROM tok GROUP BY tok)
    SELECT t.doc_id,
           array_to_string(list_transform(
             list_sort(list(struct_pack(p := t.pos, i := v.token_id))),
             s -> CAST(s.i AS STRING)), ' ') AS ids,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM tok t JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
    doc="L32: corpus dictionary encoding — build a frequency-ranked token "
        "vocabulary (id 1 = most frequent; ties break lexically) and "
        "re-encode every document as its token-id sequence. The "
        "normalization step before integer-token training corpora and "
        "the star-schema trick for string-heavy logs (strings stored "
        "once, facts carry ints). Scale: vocab is bounded by distinct "
        "tokens (Heaps' law — millions, not corpus-sized), so the "
        "ranking window over the vocab agg is fine and the id map "
        "broadcast-joins back to the exploded token stream; the encode "
        "is one shuffle on doc_id to reassemble ordered sequences.",
)
def l32_dictionary_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    toks = spark.table("documents").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    vocab = (
        toks.groupBy("tok")
        .count()
        .select(
            "tok",
            F.row_number()
            .over(Window.orderBy(F.col("count").desc(), F.col("tok")))
            .cast("bigint")
            .alias("token_id"),
        )
    )
    enc = toks.join(F.broadcast(vocab), "tok")
    return (
        enc.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("pos").alias("p"),
                                                         F.col("token_id").alias("i")))),
                    lambda s: s["i"].cast("string"),
                ),
                " ",
            ).alias("ids"),
            F.count("*").cast("bigint").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


@register(
    "l33_incremental_agg",
    duck_sql="""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
    doc="L33: incremental aggregate maintenance — per-(lang, source) "
        "corpus stats kept as a mergeable state table. The engine side "
        "builds the state from the 'already ingested' corpus slice "
        "(doc_id%10!=7), aggregates ONLY the new batch (doc_id%10==7), "
        "and merges state+delta by re-aggregating the union of the two "
        "key-sized frames — never rescanning the historical corpus. The "
        "oracle is the full recompute over everything, proving "
        "merge(state, delta) == recompute exactly (count/sum are "
        "decomposable; avg derives downstream as sum/count). At 100 TB "
        "this is the difference between a nightly stats job reading one "
        "day and reading three years; state and delta are key-cardinality "
        "sized, so the merge shuffle is tiny.",
)
def l33_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.table("documents")
    aggs = [
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    ]
    state = docs.filter(F.col("doc_id") % 10 != 7).groupBy("lang", "source").agg(*aggs)
    delta = docs.filter(F.col("doc_id") % 10 == 7).groupBy("lang", "source").agg(*aggs)
    return (
        state.unionByName(delta)
        .groupBy("lang", "source")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("total_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang", "source")
    )


@register(
    "l34_train_split",
    duck_sql="""
    WITH assigned AS (
      SELECT doc_id, lang,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                    THEN 'train'
                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT a.doc_id, a.lang, a.split FROM assigned a
    ORDER BY a.doc_id
    """,
    doc="L34: deterministic train/val/test split — every doc is assigned "
        "by comparing an md5(doc_id) prefix against fixed hex fences "
        "('cc' ~ 80%, 'e6' ~ 90%), so the split is reproducible across "
        "runs, engines, partitionings, and INCREMENTAL INGESTS (a new "
        "batch lands in the same splits without touching old rows — the "
        "property rand()-based splits lack). Pure per-row predicate: no "
        "shuffle, pushes to the scan; downstream writers fan the three "
        "splits out with partitionBy('split') in one pass.",
)
def l34_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return (
        spark.table("documents")
        .select(
            "doc_id",
            "lang",
            F.when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
            .alias("split"),
        )
        .orderBy("doc_id")
    )


@register(
    "l35_class_rebalance",
    duck_sql="""
    WITH sized AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
    floor_n AS (SELECT min(n) AS target FROM sized),
    ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
      FROM documents)
    SELECT r.doc_id, r.lang
    FROM ranked r, floor_n f
    WHERE r.rn <= f.target
    ORDER BY r.doc_id
    """,
    doc="L35: class rebalancing by undersampling — every lang class is "
        "cut to the size of the SMALLEST class (exact, not expected-"
        "value), choosing survivors by the deterministic md5 ordering so "
        "the rebalanced corpus is reproducible. The majority-class "
        "downsampler for classifier training sets. Scale: one window "
        "shuffle on the class key to rank, a 1-row broadcast for the "
        "floor; at extreme skew the hot class's rank window is the "
        "bottleneck — switch to l18-style integer-hash thresholding "
        "(approximate per-class fractions, zero shuffle) when exactness "
        "isn't required.",
)
def l35_class_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = spark.table("documents")
    target = (
        docs.groupBy("lang").count().agg(F.min("count").alias("target"))
    )
    ranked = docs.select(
        "doc_id",
        "lang",
        F.row_number()
        .over(
            Window.partitionBy("lang").orderBy(
                F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
            )
        )
        .alias("rn"),
    )
    return (
        ranked.join(F.broadcast(target))
        .filter(F.col("rn") <= F.col("target"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# l36: pure-SQL MinHash — deterministic, hash-matched across engines
# ---------------------------------------------------------------------------

_L36_K = 8      # signature length (8 md5-seeded min-hashes)
_L36_BANDS = 4  # 4 bands x 2 rows
_L36_TAU = 0.2  # exact-Jaccard verify threshold on candidates


@register(
    "l36_minhash_sql",
    duck_sql=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ') AS tok
      FROM documents,
           unnest(generate_series(1, len(string_split(text, ' ')) - 2)) AS g(i)),
    sigs AS (
      SELECT doc_id,
             {", ".join(f"min(md5('{i}:' || tok)) AS h{i}" for i in range(_L36_K))}
      FROM toks GROUP BY doc_id),
    bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band, md5(h{2*b} || h{2*b+1}) AS bh FROM sigs"
          for b in range(_L36_BANDS))}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS ninter
      FROM cand c
      JOIN toks ta ON ta.doc_id = c.doc_a
      JOIN toks tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
      GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b,
           i.ninter * 1.0 / (sa.n + sb.n - i.ninter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.ninter * 1.0 / (sa.n + sb.n - i.ninter) >= {_L36_TAU}
    ORDER BY i.doc_a, i.doc_b
    """,
)
def l36_minhash_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native MinHash near-dup WITHOUT MLlib: md5-seeded min-hash
    signatures -> banded candidate join -> exact-Jaccard verify, every
    stage a deterministic SQL expression, so (unlike l02's seeded
    MinHashLSH, tier P) the WHOLE pipeline hash-matches DuckDB bit-for-bit
    — the oracle runs the identical banded algorithm, not a stand-in.

    Scale shape is the canonical LSH layout: per-doc signatures are one
    explode + partial-agg min (k=8 tallies/doc); the candidate join is an
    equi-join on (band, band_hash) — docs only meet inside a bucket,
    never all-pairs; the verify join touches candidate pairs' tokens
    only. md5-on-string beats murmur here because every engine renders
    identical hex — cross-engine reproducibility is itself a pipeline
    requirement (rerunning dedup on a different engine must keep the
    same docs).
    Precondition: doc_id is unique and non-NULL, else array_distinct is not
    the corpus-wide .distinct() it replaces (tests/test_correctness.py)."""
    from pydatalake_gen2_spark.operators.util import spread

    # spread(): the local fixture is one parquet split, which would run
    # the whole explode+md5 signature pipeline in a single task; on a
    # real cluster the scan already has more splits than cores and this
    # is a no-op (see util.spread).
    docs = spread(spark.table("documents"))
    # 3-word shingles (operators/text.ngrams, the guarded sequence+slice
    # HOF): the fixture vocab is ~31 words, so UNIGRAM sets are
    # near-identical across docs and the banded join degenerates to
    # all-pairs; shingles are the standard fix (and what real near-dup
    # pipelines hash).
    # toks feeds FOUR consumers (sigs, sizes, and both verify-join sides)
    # and sigs feeds 2*_L36_BANDS more (each band select, on both sides of
    # the candidate self-join); the static plan shows NO ReusedExchange
    # across them, so unpersisted the tokenize+distinct subtree ran ~6x
    # and the 8-way md5 signature agg ~8x per query (r11 event-log
    # profile: ~475 task-seconds of duplicated work at sf0.1; persisting
    # both cut the query 9.5 s -> 4.4 s, rows identical). Storage cost at
    # 100 TB: `sigs` is doc-sized (8 hex hashes/doc) — negligible — but
    # `toks` is the exploded distinct shingle frame, roughly CORPUS-sized;
    # persisting it is a corpus-scale MEMORY_AND_DISK materialization that
    # trades one extra pass worth of storage for the ~6x recompute (guide
    # §5: cache what is reused AND expensive; spills to disk, never OOMs).
    # If the toks-dedup win doesn't hold at a given deployment, drop the
    # toks persist and keep sigs. Both are held by the session owner and
    # freed by release_persisted() after the caller consumes the result.
    # r12 (VERDICT r11 #3, guide §2.4 "a distinct on data that is already
    # unique"): (doc_id, tok) duplicates can only arise WITHIN one doc's
    # shingle array (doc_id is the table key), so array_distinct on the
    # array dedups row-locally and the corpus-wide distinct — a full
    # 147M-row exchange at the sf30 ladder point, and the spill site the
    # r11 ladder flagged (3x rows/partition at the fixed 32-partition
    # layout) — disappears outright. Row multiset identical by
    # construction; oracle re-verified at sf0.001/0.01/0.1.
    toks = HELD.persist(
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(text.ngrams(F.split(F.col("text"), " "), 3))
            ).alias("tok"),
        )
    )
    sigs = HELD.persist(
        toks.groupBy("doc_id").agg(
            *[
                F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("tok")))).alias(f"h{i}")
                for i in range(_L36_K)
            ]
        )
    )
    bands = None
    for b in range(_L36_BANDS):
        part = sigs.select(
            "doc_id",
            F.lit(b).alias("band"),
            F.md5(F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}"))).alias("bh"),
        )
        bands = part if bands is None else bands.unionByName(part)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    ta = toks.alias("ta")
    tb = toks.alias("tb")
    inter = (
        cand.join(ta, F.col("ta.doc_id") == F.col("doc_a"))
        .join(
            tb,
            (F.col("tb.doc_id") == F.col("doc_b"))
            & (F.col("tb.tok") == F.col("ta.tok")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("ninter"))
    )
    jacc = F.col("ninter") * F.lit(1.0) / (F.col("sa.n") + F.col("sb.n") - F.col("ninter"))
    return (
        inter.join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", jacc.alias("jaccard"))
        .filter(F.col("jaccard") >= _L36_TAU)
        .orderBy("doc_a", "doc_b")
    )


_L37_DUCK = """
    WITH words AS (
      SELECT t.w FROM documents, unnest(string_split(text, ' ')) AS t(w)
      WHERE t.w <> ''),
    pairs AS (
      SELECT substr(w || '_', i, 2) AS pair
      FROM words, unnest(generate_series(1, len(w))) AS g(i))
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 50
"""


@register("l37_bpe_pair_stats", duck_sql=_L37_DUCK)
def l37_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L37: the statistic a BPE tokenizer trainer iterates on — corpus-wide
    adjacent-symbol pair counts (character pairs with '_' end-of-word
    marker), top pairs under a deterministic (count DESC, pair) order.
    One training round = take the max pair, merge it into the symbol
    vocabulary, recount; this query is that round's counting step as a
    pure explode -> partial-agg plan: the shuffle carries (pair,
    partial_count) tallies — at most |alphabet|^2 keys per task — never
    raw text, so a 100 TB corpus counts pairs with a KB-sized exchange
    per task. Full BPE training iterates this with the vocabulary
    broadcast back per round (the L32 dictionary-encode layout) and the
    loop checkpointed per round (the connected-components discipline)."""
    words = (
        spark.table("documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .select(F.concat(F.col("w"), F.lit("_")).alias("w"))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(50)
    )


@register(
    "l40_quality_keeper",
    duck_sql="""
    WITH RECURSIVE sets AS (
      SELECT doc_id AS id,
             list_distinct(list_transform(generate_series(1, len(t) - 2),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS toks
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
      WHERE len(t) >= 3),
    inv AS (SELECT id, len(toks) AS n_toks, unnest(toks) AS tok FROM sets),
    shared AS (
      SELECT a.id AS id_a, b.id AS id_b, a.n_toks AS na, b.n_toks AS nb,
             COUNT(*) AS n_shared
      FROM inv a JOIN inv b ON a.tok = b.tok AND a.id < b.id
      GROUP BY 1, 2, 3, 4),
    pairs AS (
      SELECT id_a, id_b FROM shared
      WHERE n_shared / (na + nb - n_shared) >= 0.3),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
      SELECT s, s FROM edges
      UNION SELECT s, d FROM edges
      UNION SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
    SELECT c.id AS doc_id, c.component,
           row_number() OVER (PARTITION BY c.component
                              ORDER BY d.n_chars DESC, c.id) = 1 AS keep
    FROM comp c JOIN documents d ON d.doc_id = c.id
    ORDER BY doc_id
    """,
)
def l40_quality_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L40: quality-aware canonical selection — l11's near-dup clusters,
    but the keeper per cluster is the HIGHEST-QUALITY member (longest
    doc, doc_id tiebreak) instead of the smallest id. This is the rule
    real curation pipelines want: when a boilerplate family collapses to
    one survivor, keep the most complete copy, not an arbitrary one. The
    keeper pick is one row_number window over cluster-sized partitions —
    cost rides the (tiny) cluster table, never the corpus."""
    from pyspark.sql.window import Window

    comps = dedup.dedup_clusters(spark.table("documents"), tau=0.3).select(
        "doc_id", "component"
    )
    docs = spark.table("documents").select("doc_id", "n_chars")
    w = Window.partitionBy("component").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        comps.join(docs, "doc_id")
        .select(
            "doc_id",
            "component",
            (F.row_number().over(w) == 1).alias("keep"),
        )
        .orderBy("doc_id")
    )


@register(
    "l41_knn_label_propagation",
    duck_sql="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                      label AS true_label
               FROM embeddings WHERE vec_id % 20 = 0),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS cv, label
          FROM embeddings WHERE vec_id % 20 <> 0),
    pairs AS (
      SELECT query_id, vec_id, label,
             list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
      FROM c CROSS JOIN q),
    ranked AS (
      SELECT query_id, label,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id) AS rn
      FROM pairs),
    votes AS (
      SELECT query_id, label, count(*) AS v
      FROM ranked WHERE rn <= 5 GROUP BY query_id, label),
    best AS (
      SELECT query_id, label AS pred_label, v,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY v DESC, label) AS rb
      FROM votes)
    SELECT b.query_id AS query_id, q.true_label, b.pred_label,
           CAST(b.v AS BIGINT) AS votes
    FROM best b JOIN q ON q.query_id = b.query_id
    WHERE rb = 1 ORDER BY b.query_id
    """,
)
def l41_knn_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L41: k-NN weak labeling — every 20th vector is treated as unlabeled
    and receives the majority label of its 5 nearest labeled neighbours
    by cosine (ties: smaller label), the standard semi-supervised
    annotation step for training-data curation. Rides L03's exact top-k
    (broadcast queries, corpus streams); at scale the neighbour search
    swaps to the LSH/IVF candidates (lx_*) with this exact form as the
    recall oracle — the vote/argmax tail is unchanged."""
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    nn = similarity.cosine_topk(corpus, queries, k=5)
    votes = (
        nn.join(corpus.select("vec_id", "label"), "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("v").desc(), F.col("label"))
    best = (
        votes.withColumn("rb", F.row_number().over(w))
        .filter(F.col("rb") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "v")
    )
    return (
        best.join(
            queries.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("true_label"),
            ),
            "query_id",
        )
        .select(
            "query_id", "true_label", "pred_label",
            F.col("v").cast("bigint").alias("votes"),
        )
        .orderBy("query_id")
    )


def _l42_closure_rounds(n_rounds: int = 17) -> str:
    """Generated min-label + POINTER-DOUBLING rounds for l42's oracle
    closure. The natural `reach(id, r)` recursive-CTE transitive closure
    materializes one row per (node, reachable-smaller-node) pair — at the
    sf1 fixture the SimHash leg produces a ~26k-node component, i.e.
    >665M closure rows, and the oracle ground for >45 min (measured live
    in r10; the same wall class as the all-pairs Hamming scan this
    round removed). Label propagation with doubling visits each node's
    CURRENT minimum only: per round every node takes
    least(own, min over in-neighbors, label-of-its-label). The pointer
    jump halves remaining min-path lengths per round (the large-star /
    small-star contraction argument, same as the engine's
    connected_components), so ``n_rounds`` rounds cover min-paths up to
    ~2**n_rounds — 17 rounds is exhaustive for any corpus this oracle
    will ever compare (path length <= node count; certification tops out
    at 50k docs). If a corpus ever exceeded the bound, labels would come
    out too HIGH and the pair would hash-MISMATCH the engine loudly —
    insufficiency cannot pass silently.

    Every round CTE is AS MATERIALIZED: DuckDB 1.0 INLINES plain CTEs at
    each reference, and a round references its predecessor three times —
    un-materialized, the plan (and the parquet open count) grows 3^rounds
    and dies with 'Too many open files' before executing a single row.
    """
    rounds = []
    for k in range(1, n_rounds + 1):
        rounds.append(f"""
    l{k} AS MATERIALIZED (
      SELECT n.id,
             least(n.lab,
                   coalesce(nb.m, n.lab),
                   coalesce(p.lab, n.lab)) AS lab
      FROM l{k - 1} n
      LEFT JOIN (SELECT e.d AS id, min(x.lab) AS m
                 FROM edges2 e JOIN l{k - 1} x ON x.id = e.s
                 GROUP BY e.d) nb ON nb.id = n.id
      LEFT JOIN l{k - 1} p ON p.id = n.lab)""")
    return (
        """
    edges2 AS MATERIALIZED (SELECT s, d FROM edges),
    l0 AS MATERIALIZED (SELECT DISTINCT s AS id, s AS lab FROM edges2),"""
        + ",".join(rounds)
        + f""",
    lab AS (SELECT id, lab AS component FROM l{n_rounds})"""
    )


@register(
    "l42_ensemble_dedup",
    duck_sql="""
    WITH base AS (
      -- coalesce mirrors tokens_col (NULL text -> ''): the Spark side
      -- fingerprints NULL-text docs, so the oracle must too
      SELECT doc_id AS id, text, lower(coalesce(text, '')) AS lt
      FROM documents),
    -- leg 1: exact duplicates (same bytes -> same md5)
    ex AS (SELECT id, md5(text) AS h FROM base),
    exm AS (SELECT h, min(id) AS root FROM ex GROUP BY h),
    ex_edges AS (
      SELECT e.root AS s, x.id AS d FROM ex x JOIN exm e USING (h)
      WHERE x.id <> e.root),
    -- leg 2: 3-gram-shingle Jaccard >= 0.3 (l02b's exact inverted index)
    sets AS (
      SELECT id, list_distinct(list_transform(generate_series(1, len(t) - 2),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS toks
      FROM (SELECT id, string_split(lt, ' ') AS t FROM base)
      WHERE len(t) >= 3),
    inv AS (SELECT id, len(toks) AS n_toks, unnest(toks) AS tok FROM sets),
    shared AS (
      SELECT a.id AS id_a, b.id AS id_b, a.n_toks AS na, b.n_toks AS nb,
             COUNT(*) AS n_shared
      FROM inv a JOIN inv b ON a.tok = b.tok AND a.id < b.id
      GROUP BY 1, 2, 3, 4),
    jac_edges AS (
      SELECT id_a AS s, id_b AS d FROM shared
      WHERE n_shared / (na + nb - n_shared) >= 0.3),
    -- leg 3: 48-bit md5 SimHash within Hamming distance 4. Candidate
    -- generation is BANDED (5 bands over 48 bits; a pair differing in
    -- <= 4 bits leaves at least one band untouched by pigeonhole, so
    -- banding is EXACT here, not lossy) + a bit_count verify — the
    -- sf1-affordable form of the all-pairs Hamming scan, which costs
    -- ~1.25G pair comparisons single-threaded at 50k docs (>45 min; r9
    -- verdict #2). The all-pairs form is retained as a cross-check at
    -- sf0.1 by tests/test_correctness_extra.py::
    -- test_l42_banded_oracle_equals_allpairs_hamming, which proves the
    -- two SQL forms produce identical edge sets in DuckDB itself.
    wtok AS (
      SELECT id, unnest(list_distinct(string_split(lt, ' '))) AS tok
      FROM base),
    th AS (
      SELECT id,
             list_sum(list_transform(generate_series(1, 15), j ->
               CAST(strpos('0123456789abcdef',
                           substring(md5(tok), j, 1)) - 1 AS BIGINT)
               << (4 * (15 - j)))) AS th
      FROM wtok),
    tallies AS (
      SELECT id, i,
             sum(CASE WHEN (th >> i) & 1 = 1 THEN 1 ELSE -1 END) AS tally
      FROM th, unnest(generate_series(0, 47)) u(i) GROUP BY id, i),
    fp AS (
      SELECT id, sum(CASE WHEN tally > 0 THEN 1::BIGINT << i ELSE 0 END) AS sh
      FROM tallies GROUP BY id),
    bands AS (
      SELECT id, sh, i AS band,
             CASE i WHEN 0 THEN (sh >> 0)  & 1023
                    WHEN 1 THEN (sh >> 10) & 1023
                    WHEN 2 THEN (sh >> 20) & 1023
                    WHEN 3 THEN (sh >> 30) & 511
                    ELSE        (sh >> 39) & 511 END AS bkey
      FROM fp, unnest(generate_series(0, 4)) u(i)),
    cand AS (
      SELECT DISTINCT a.id AS s, b.id AS d, a.sh AS sha, b.sh AS shb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
    sim_edges AS (
      SELECT s, d FROM cand WHERE bit_count(xor(sha, shb)) <= 4),
    -- union of evidence, both directions
    edges AS (
      SELECT s, d FROM ex_edges UNION SELECT d, s FROM ex_edges
      UNION SELECT s, d FROM jac_edges UNION SELECT d, s FROM jac_edges
      UNION SELECT s, d FROM sim_edges UNION SELECT d, s FROM sim_edges),
    -- closure: generated min-label + pointer-doubling rounds (see
    -- _l42_closure_rounds; replaces the reach(id, r) transitive closure
    -- whose row count is quadratic in component size — >665M rows at
    -- sf1's ~26k-node SimHash component)
"""
    + _l42_closure_rounds()
    + """
    SELECT b.id AS doc_id,
           COALESCE(l.component, b.id) AS component,
           b.id = COALESCE(l.component, b.id) AS keep
    FROM base b LEFT JOIN lab l ON l.id = b.id
    ORDER BY doc_id
    """,
)
def l42_ensemble_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L42: ENSEMBLE dedup — the production shape where multiple dup
    signals vote: exact-hash edges ∪ 3-gram Jaccard ≥ 0.3 edges ∪
    SimHash-Hamming ≤ 4 edges, resolved TOGETHER by one connected-
    components pass so transitive evidence across different detectors
    merges clusters a single method would split. Every doc gets a row
    (singletons keep themselves). Each leg is the already-bucketed scale
    path (sha256 groupBy / shingle inverted index / banded Hamming
    join); the union adds no new shuffle class. This pair also gives the
    SimHash leg its first full cross-engine oracle: the md5-based
    fingerprint recurrence is replicated bit-for-bit in DuckDB and the
    banded join must agree with the oracle's brute-force Hamming scan
    (recall 1.0 by pigeonhole, precision exact by verify)."""
    docs = spark.table("documents")
    ex = docs.select(F.col("doc_id").alias("id"), F.sha2("text", 256).alias("h"))
    exm = ex.groupBy("h").agg(F.min("id").alias("root"))
    ex_edges = (
        ex.join(exm, "h")
        .filter(F.col("id") != F.col("root"))
        .select(F.col("root").alias("id_a"), F.col("id").alias("id_b"))
    )
    jac_edges = dedup.exact_jaccard_pairs(docs, tau=0.3).select("id_a", "id_b")
    sim_edges = dedup.simhash_neardup_pairs(
        docs, r=4, exact_recall=True
    ).select("id_a", "id_b")
    edges = ex_edges.unionByName(jac_edges).unionByName(sim_edges).distinct()
    comp = dedup.connected_components(edges, "id_a", "id_b")
    out = (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("component"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("component"))
    )
    return out.orderBy("doc_id")


# --------------------------------------------------------------------------
# l44-l48: the ML-preprocessing wave — imputation, robust outlier gating,
# feature scaling, one-hot encoding, leakage-safe grouped splitting.
# --------------------------------------------------------------------------

_sql_pair(
    "l44_impute_missing",
    """
    WITH holed AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
      FROM events),
    med AS (
      SELECT event_type, MEDIAN(v) AS m FROM holed GROUP BY event_type)
    SELECT h.event_id, h.event_type,
           ROUND(CAST(COALESCE(h.v, m.m) AS DOUBLE), 4) AS v_imputed,
           h.v IS NULL AS was_imputed
    FROM holed h JOIN med m ON h.event_type = m.event_type
    """,
    doc="L44: missing-value imputation with the per-group exact median "
        "(nulls planted deterministically on every 7th event) — the "
        "standard numeric-feature repair step before training. The "
        "group-median frame is group-count-sized (broadcast at any "
        "scale); the fill is a row-local COALESCE after the tiny join. "
        "MEDIAN aggregates ignore NULLs in both engines, so the fences "
        "come from observed values only.",
)

_sql_pair(
    "l45_outlier_filter",
    """
    WITH med AS (
      SELECT event_type, MEDIAN(value) AS m FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_id, e.event_type, e.value,
             ABS(e.value - m.m) AS absdev
      FROM events e JOIN med m ON e.event_type = m.event_type),
    mad AS (
      SELECT event_type, MEDIAN(absdev) AS mad FROM dev GROUP BY event_type)
    SELECT d.event_id, d.event_type, d.value
    FROM dev d JOIN mad x ON d.event_type = x.event_type
    WHERE ROUND(d.absdev, 4) <= ROUND(3 * x.mad, 4)
    """,
    doc="L45: robust outlier gating — keep rows within 3 MADs of the "
        "per-group median (G29's statistic applied as the curation "
        "FILTER): the heavy-tail-safe alternative to z-score clipping "
        "for corpus metrics like doc length or loss. Two exact-median "
        "tally passes over low-cardinality groups + broadcast-sized "
        "fence joins; the filter itself is row-local.",
)

_sql_pair(
    "l46_feature_scale",
    """
    WITH fences AS (
      SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type,
           CAST(CASE WHEN f.hi = f.lo THEN 0.5
                     ELSE (e.value - f.lo) / (f.hi - f.lo) END AS DOUBLE)
             AS v_scaled
    FROM events e JOIN fences f ON e.event_type = f.event_type
    """,
    doc="L46: per-group min-max feature scaling to [0,1] (degenerate "
        "groups pin to 0.5) — normalization before mixing features of "
        "different magnitudes. Fences are exact min/max partial aggs "
        "(group-count-sized, broadcast); the scale expression is one "
        "row-local IEEE subtract/divide on identical inputs in both "
        "engines, so the pair hashes with no rounding at all.",
)

_sql_pair(
    "l47_one_hot",
    """
    SELECT event_id,
           CAST(event_type = 'click'    AS INT) AS is_click,
           CAST(event_type = 'view'     AS INT) AS is_view,
           CAST(event_type = 'purchase' AS INT) AS is_purchase,
           CAST(event_type = 'signup'   AS INT) AS is_signup,
           CAST(event_type = 'error'    AS INT) AS is_error
    FROM events
    """,
    doc="L47: one-hot encoding of the event-type categorical — the "
        "expansion every tabular feature pipeline needs; row-local "
        "indicator expressions (columns from the known vocabulary; L32's "
        "dictionary-encode covers the open-vocabulary integer-id form). "
        "At 100 TB prefer the dictionary id + at-model-time expansion "
        "over materializing wide indicator columns.",
)

_sql_pair(
    "l48_grouped_split",
    """
    WITH g AS (
      SELECT source,
             CASE WHEN substring(md5(source), 1, 2) < 'cc' THEN 'train'
                  WHEN substring(md5(source), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT DISTINCT source FROM documents))
    SELECT d.doc_id, d.source, g.split
    FROM documents d JOIN g ON d.source = g.source
    ORDER BY d.doc_id
    """,
    doc="L48: GROUP-AWARE train/val/test split — the assignment hashes "
        "the SOURCE, not the doc, so every document from one origin "
        "lands in the same split: the leakage guard L34's per-doc split "
        "cannot give (near-dup docs from one source straddling train "
        "and test inflate eval). Same md5-fence reproducibility and "
        "incremental-ingest stability as L34; the distinct-source frame "
        "is tiny and broadcasts.",
)


def _l49_duck() -> str:
    mh_sigs = ", ".join(
        f"min(md5('{i}:' || tok)) AS h{i}" for i in range(_L36_K)
    )
    mh_bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(h{2*b} || h{2*b+1}) AS bh FROM msigs"
        for b in range(_L36_BANDS)
    )
    return f"""
    WITH lt AS (
      -- coalesce mirrors tokens_col (NULL text -> '') for the jaccard
      -- and simhash legs; the minhash leg intentionally matches l36's
      -- split(text) which drops NULL docs on both engines
      SELECT doc_id AS id, lower(coalesce(text, '')) AS lt, text
      FROM documents),
    -- leg 1: exact 3-gram Jaccard >= 0.3 (l02b tokenization: lowered)
    jsets AS (
      SELECT id, list_distinct(list_transform(generate_series(1, len(t) - 2),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS toks
      FROM (SELECT id, string_split(lt, ' ') AS t FROM lt)
      WHERE len(t) >= 3),
    jinv AS (SELECT id, len(toks) AS n_toks, unnest(toks) AS tok FROM jsets),
    jshared AS (
      SELECT a.id AS id_a, b.id AS id_b, a.n_toks AS na, b.n_toks AS nb,
             COUNT(*) AS n_shared
      FROM jinv a JOIN jinv b ON a.tok = b.tok AND a.id < b.id
      GROUP BY 1, 2, 3, 4),
    jc AS (
      SELECT id_a, id_b FROM jshared
      WHERE n_shared / (na + nb - n_shared) >= 0.3),
    -- leg 2: 48-bit md5 SimHash within Hamming 4 (l42's recurrence)
    wtok AS (
      SELECT id, unnest(list_distinct(string_split(lt, ' '))) AS tok FROM lt),
    th AS (
      SELECT id,
             list_sum(list_transform(generate_series(1, 15), j ->
               CAST(strpos('0123456789abcdef',
                           substring(md5(tok), j, 1)) - 1 AS BIGINT)
               << (4 * (15 - j)))) AS th
      FROM wtok),
    tallies AS (
      SELECT id, i,
             sum(CASE WHEN (th >> i) & 1 = 1 THEN 1 ELSE -1 END) AS tally
      FROM th, unnest(generate_series(0, 47)) u(i) GROUP BY id, i),
    fp AS (
      SELECT id, sum(CASE WHEN tally > 0 THEN 1::BIGINT << i ELSE 0 END) AS sh
      FROM tallies GROUP BY id),
    shp AS (
      SELECT a.id AS id_a, b.id AS id_b FROM fp a JOIN fp b ON a.id < b.id
      WHERE bit_count(xor(a.sh, b.sh)) <= 4),
    -- leg 3: banded MinHash -> exact-Jaccard verify (l36: unlowered)
    mtoks AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ') AS tok
      FROM documents,
           unnest(generate_series(1, len(string_split(text, ' ')) - 2)) AS g(i)),
    msigs AS (
      SELECT doc_id, {mh_sigs}
      FROM mtoks GROUP BY doc_id),
    mbands AS ({mh_bands}),
    mcand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM mbands a
      JOIN mbands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
    msizes AS (SELECT doc_id, count(*) AS n FROM mtoks GROUP BY doc_id),
    minter AS (
      SELECT c.id_a, c.id_b, count(*) AS ninter
      FROM mcand c
      JOIN mtoks ta ON ta.doc_id = c.id_a
      JOIN mtoks tb ON tb.doc_id = c.id_b AND tb.tok = ta.tok
      GROUP BY c.id_a, c.id_b),
    mh AS (
      SELECT i.id_a, i.id_b
      FROM minter i
      JOIN msizes sa ON sa.doc_id = i.id_a
      JOIN msizes sb ON sb.doc_id = i.id_b
      WHERE i.ninter * 1.0 / (sa.n + sb.n - i.ninter) >= {_L36_TAU})
    SELECT
      CAST((SELECT count(*) FROM jc)  AS BIGINT) AS n_jaccard,
      CAST((SELECT count(*) FROM shp) AS BIGINT) AS n_simhash,
      CAST((SELECT count(*) FROM mh)  AS BIGINT) AS n_minhash,
      CAST((SELECT count(*) FROM jc JOIN shp USING (id_a, id_b)) AS BIGINT)
        AS n_jac_sim,
      CAST((SELECT count(*) FROM jc JOIN mh USING (id_a, id_b)) AS BIGINT)
        AS n_jac_mh,
      CAST((SELECT count(*) FROM shp JOIN mh USING (id_a, id_b)) AS BIGINT)
        AS n_sim_mh,
      CAST((SELECT count(*) FROM jc JOIN shp USING (id_a, id_b)
            JOIN mh USING (id_a, id_b)) AS BIGINT) AS n_all3
    """


@register("l49_detector_agreement", duck_sql=_l49_duck())
def l49_detector_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L49: near-dup DETECTOR-AGREEMENT audit — pair counts and pairwise/
    three-way overlaps of the three engine-independent detectors (exact
    3-gram Jaccard, SimHash-Hamming, banded MinHash+verify) in one row:
    the report that tells a curation owner whether detectors corroborate
    or silently diverge (a sudden overlap drop means a tokenization or
    threshold drift). Each leg keeps its own bucketed plan; overlaps are
    joins of tiny id-pair sets. All three legs are md5-deterministic, so
    the WHOLE audit hash-matches the oracle running the identical three
    algorithms."""
    docs = spark.table("documents")
    # persist the three tiny id-pair frames: the final SQL references
    # each through 4 distinct scalar subqueries, and without caching each
    # detector pipeline would execute 4x (held by the session owner and
    # freed by release_persisted after the caller consumes the result)
    jc = HELD.persist(
        dedup.exact_jaccard_pairs(docs, tau=0.3).select("id_a", "id_b")
    )
    sh = HELD.persist(
        dedup.simhash_neardup_pairs(docs, r=4, exact_recall=True).select(
            "id_a", "id_b"
        )
    )
    mh = HELD.persist(
        l36_minhash_sql(spark, sf_dir).select(
            F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
        )
    )
    # DataFrame joins/aggs, NOT session-global temp views: fixed
    # createOrReplaceTempView names would let two interleaved invocations
    # in one session silently read each other's pair sets.
    keys = ["id_a", "id_b"]

    def n(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias(name))

    out = n(jc, "n_jaccard")
    for frame in (
        n(sh, "n_simhash"),
        n(mh, "n_minhash"),
        n(jc.join(sh, keys), "n_jac_sim"),
        n(jc.join(mh, keys), "n_jac_mh"),
        n(sh.join(mh, keys), "n_sim_mh"),
        n(jc.join(sh, keys).join(mh, keys), "n_all3"),
    ):
        out = out.crossJoin(frame)
    return out


# ---------------------------------------------------------------------------
# l50: per-line boilerplate stripping (jusText-lite quality gate)
# ---------------------------------------------------------------------------

_L50_BLOCK = 8
_L50_STOPS = ["the", "a", "and", "or", "of", "to", "in", "is", "on", "for"]


def _l50_duck() -> str:
    stops = ", ".join(f"'{w}'" for w in _L50_STOPS)
    return f"""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    ix AS (SELECT doc_id, toks,
                  unnest(generate_series(1, CAST(ceil(len(toks) / {_L50_BLOCK}.0) AS BIGINT))) AS i
           FROM t),
    lines AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(toks[((i-1)*{_L50_BLOCK}+1):((i-1)*{_L50_BLOCK}+{_L50_BLOCK})], ' ') AS line
      FROM ix),
    gated AS (
      SELECT doc_id, pos, line,
             len(list_filter(string_split(line, ' '),
                             t -> list_contains([{stops}], t))) >= 1 AS keep
      FROM lines),
    agg AS (SELECT doc_id,
                   string_agg(line, ' ' ORDER BY pos) FILTER (WHERE keep) AS text_clean,
                   CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM gated GROUP BY doc_id)
    SELECT doc_id, coalesce(text_clean, '') AS text_clean,
           n_kept, CAST(n_lines - n_kept AS BIGINT) AS n_dropped
    FROM agg ORDER BY doc_id
    """


@register("l50_boilerplate_strip", duck_sql=_l50_duck())
def l50_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L50: per-line boilerplate stripping (jusText-lite): a line survives
    only if it contains at least one function word (boilerplate — nav
    menus, footers, code dumps — is stopword-free), docs reassembled from
    surviving lines in order. The quality sibling of L20 (which dedups
    lines CORPUS-wide; this gates each line LOCALLY — zero shuffle, the
    whole gate is row-local higher-order functions on the scan). Fixture
    docs have no newlines, so pseudo-lines are 8-word blocks, the l20
    convention."""
    stops = F.array(*[F.lit(w) for w in _L50_STOPS])
    b = _L50_BLOCK
    toks = F.split(F.lower(F.col("text")), " ")
    lines = F.transform(
        F.sequence(F.lit(1), F.ceil(F.size(toks) / b).cast("int")),
        lambda i: F.concat_ws(" ", F.slice(toks, (i - F.lit(1)) * b + 1, b)),
    )
    keep = lambda line: F.size(  # noqa: E731
        F.filter(F.split(line, " "), lambda t: F.array_contains(stops, t))
    ) >= 1
    per_line = (
        spark.table("documents")
        .select("doc_id", F.posexplode(lines).alias("pos", "line"))
        .withColumn("keep", keep(F.col("line")))
    )
    return (
        per_line.groupBy("doc_id")
        .agg(
            F.coalesce(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(F.col("keep"), F.struct("pos", "line"))
                            )
                        ),
                        lambda s: s["line"],
                    ),
                ),
                F.lit(""),
            ).alias("text_clean"),
            F.sum(F.col("keep").cast("long")).cast("bigint").alias("n_kept"),
            F.sum((~F.col("keep")).cast("long")).cast("bigint").alias("n_dropped"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# l53: tokenizer vocabulary coverage / OOV-rate audit
# ---------------------------------------------------------------------------

_L53_VOCAB_K = 16


@register(
    "l53_vocab_coverage",
    duck_sql=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS c FROM toks GROUP BY tok
        ORDER BY c DESC, tok LIMIT {_L53_VOCAB_K}) v),
    flagged AS (
      SELECT t.doc_id, v.tok IS NOT NULL AS in_vocab
      FROM toks t LEFT JOIN vocab v ON t.tok = v.tok)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE NOT in_vocab) AS BIGINT) AS n_oov,
           ROUND(CAST(count(*) FILTER (WHERE NOT in_vocab) AS DOUBLE)
                 / count(*), 4) AS oov_rate
    FROM flagged GROUP BY doc_id ORDER BY doc_id
    """,
)
def l53_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L53: tokenizer-vocabulary coverage audit — rank the corpus vocabulary
    by frequency (ties alphabetic), keep the top-K as the 'tokenizer
    vocab', report each doc's OOV token count and rate: the fertility /
    coverage check run before committing a tokenizer to a corpus mix.
    Scale shape: one token-tally shuffle builds the vocab (bounded by
    Heaps' law, L32's argument), the vocab broadcast-joins back onto the
    exploded stream, per-doc rates are one partial agg."""
    toks = (
        spark.table("documents")
        .select("doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"))
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok"))
        .limit(_L53_VOCAB_K)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.col("in_vocab").isNull().cast("long")).cast("bigint").alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.round(F.col("n_oov").cast("double") / F.col("n_tokens"), 4),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# l54: PII detection + redaction report
# ---------------------------------------------------------------------------

_L54_EMAIL = "[a-z0-9._]+@[a-z0-9-]+\\.[a-z]+"
_L54_PHONE = "555-[0-9]{4}"
_L54_IP = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


def _l54_duck() -> str:
    return f"""
    WITH pii AS (
      SELECT doc_id,
             concat(text,
                    CASE WHEN doc_id % 3 <> 0
                         THEN concat(' contact user', CAST(doc_id AS STRING),
                                     '@example.com')
                         ELSE '' END,
                    CASE WHEN doc_id % 2 = 0
                         THEN concat(' call 555-',
                                     lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))
                         ELSE '' END,
                    ' from 10.0.', CAST(doc_id % 256 AS STRING), '.7') AS t
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_L54_EMAIL}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, '{_L54_PHONE}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(t, '{_L54_IP}')) AS BIGINT) AS n_ip,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
                 '{_L54_EMAIL}', '<EMAIL>', 'g'),
                 '{_L54_PHONE}', '<PHONE>', 'g'),
                 '{_L54_IP}', '<IP>', 'g')) AS redacted_md5
    FROM pii ORDER BY doc_id
    """


@register("l54_pii_scan", duck_sql=_l54_duck())
def l54_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L54: PII detection + redaction report — regex scans for emails /
    phone numbers / IPv4 addresses with per-doc match counts and the
    md5 of the fully redacted text (certifying the REDACTION itself, not
    just the counts — F52 masks a known column; this finds PII inside
    free text). The fixture corpus is synthetic word-salad, so
    deterministic PII is planted from doc_id arithmetic IN BOTH dialects
    (the F56 build-from-columns pattern) — a drifted regex, replacement
    order, or missed occurrence breaks the hash. Row-local scan work,
    zero shuffle; DuckDB needs the 'g' flag (first-match default, the
    T11 gotcha)."""
    d = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(
            d % 3 != 0,
            F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            d % 2 == 0,
            F.concat(F.lit(" call 555-"), F.lpad((d % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.lit(" from 10.0."),
        (d % 256).cast("string"),
        F.lit(".7"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _L54_EMAIL, "<EMAIL>"), _L54_PHONE, "<PHONE>"
        ),
        _L54_IP,
        "<IP>",
    )
    return (
        spark.table("documents")
        .select(
            "doc_id",
            F.size(F.regexp_extract_all(t, F.lit(_L54_EMAIL), 0)).cast("bigint").alias("n_email"),
            F.size(F.regexp_extract_all(t, F.lit(_L54_PHONE), 0)).cast("bigint").alias("n_phone"),
            F.size(F.regexp_extract_all(t, F.lit(_L54_IP), 0)).cast("bigint").alias("n_ip"),
            F.md5(redacted).alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# lx_mrl_recall: Matryoshka truncated-dimension retrieval audit
# ---------------------------------------------------------------------------

_MRL_DIM = 16
_MRL_K = 10


@register(
    "lx_mrl_recall",
    duck_sql=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 2000),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
    fullk AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                 DESC, vec_id) AS rn
        FROM c CROSS JOIN q WHERE vec_id <> query_id) t WHERE rn <= {_MRL_K}),
    trunck AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 list_dot_product(qv[1:{_MRL_DIM}], cv[1:{_MRL_DIM}]) /
                   (sqrt(list_dot_product(qv[1:{_MRL_DIM}], qv[1:{_MRL_DIM}]))
                    * sqrt(list_dot_product(cv[1:{_MRL_DIM}], cv[1:{_MRL_DIM}])))
                 DESC, vec_id) AS rn
        FROM c CROSS JOIN q WHERE vec_id <> query_id) t WHERE rn <= {_MRL_K})
    SELECT f.query_id,
           CAST(count(t.vec_id) AS BIGINT) AS n_common,
           ROUND(CAST(count(t.vec_id) AS DOUBLE) / {_MRL_K}, 4) AS recall
    FROM fullk f LEFT JOIN trunck t
      ON f.query_id = t.query_id AND f.vec_id = t.vec_id
    GROUP BY f.query_id ORDER BY f.query_id
    """,
)
def lx_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LX-MRL: Matryoshka-truncation retrieval audit — top-k recall of
    16-of-64-dim cosine search vs the full-dimension exact top-k, per
    query. THE go/no-go measurement before shipping truncated embeddings
    (MRL-style 4x index shrink + 4x dot-product speedup): cosine over a
    prefix slice needs no re-embedding, and recall quantifies what the
    truncation costs. Both legs ride L03's broadcast-queries /
    streaming-corpus shape; at 100 TB the truncated leg is the cheap
    first pass and this audit bounds its miss rate."""
    emb = spark.table("embeddings")
    q = emb.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000))
    fullk = similarity.cosine_topk(emb, q, k=_MRL_K).select("query_id", "vec_id")
    emb16 = emb.select("vec_id", F.slice("embedding", 1, _MRL_DIM).alias("embedding"))
    q16 = emb16.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000))
    trunck = similarity.cosine_topk(emb16, q16, k=_MRL_K).select(
        F.col("query_id").alias("tq"), F.col("vec_id").alias("tv")
    )
    return (
        fullk.join(
            trunck,
            (F.col("query_id") == F.col("tq")) & (F.col("vec_id") == F.col("tv")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("tv").cast("bigint").alias("n_common"))
        .withColumn("recall", F.round(F.col("n_common").cast("double") / _MRL_K, 4))
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# l58: per-source KL divergence vs the corpus unigram distribution
# ---------------------------------------------------------------------------

_sql_pair(
    "l58_kl_divergence",
    """
    WITH toks AS (
      SELECT source, explode(split(lower(text), ' ')) AS tok FROM documents),
    st AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
           FROM toks GROUP BY source, tok),
    stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM st GROUP BY source),
    ct AS (SELECT tok, CAST(sum(c) AS BIGINT) AS ctot FROM st GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM st)
    SELECT st.source, ns AS n_tokens,
           CAST(SUM(CAST(ROUND(
                 (CAST(c AS DOUBLE) / ns)
                 * LN((CAST(c AS DOUBLE) * n) / (CAST(ns AS DOUBLE) * ctot)),
                 8) AS DECIMAL(20,8))) AS DOUBLE) AS kl_vs_corpus
    FROM st JOIN stot ON st.source = stot.source
    JOIN ct ON st.tok = ct.tok
    CROSS JOIN tot
    GROUP BY st.source, ns ORDER BY st.source
    """,
    """
    WITH toks AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
    st AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
           FROM toks GROUP BY source, tok),
    stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM st GROUP BY source),
    ct AS (SELECT tok, CAST(sum(c) AS BIGINT) AS ctot FROM st GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM st)
    SELECT st.source, ns AS n_tokens,
           CAST(SUM(CAST(ROUND(
                 (CAST(c AS DOUBLE) / ns)
                 * LN((CAST(c AS DOUBLE) * n) / (CAST(ns AS DOUBLE) * ctot)),
                 8) AS DECIMAL(20,8))) AS DOUBLE) AS kl_vs_corpus
    FROM st JOIN stot ON st.source = stot.source
    JOIN ct ON st.tok = ct.tok
    CROSS JOIN tot
    GROUP BY st.source, ns ORDER BY st.source
    """,
    doc="L58: per-source KL divergence KL(p_source || p_corpus) over "
        "unigram distributions — the corpus-drift / source-novelty "
        "measurement behind mixing decisions (a source whose KL jumps "
        "between ingests changed its character; one near zero adds "
        "nothing the mix lacks). Every count is an exact integer tally "
        "(two partial-agg shuffles: per-source-token and per-token); "
        "each term's p*ln(p/q) is one IEEE expression ROUND(8)ed "
        "row-locally then summed EXACTLY as DECIMAL(20,8) — "
        "order-independent across engines (gr07's Adamic-Adar "
        "discipline). Zero-q is impossible: every source token is in "
        "the corpus by construction.",
)


# ---------------------------------------------------------------------------
# l59: incremental NEAR-dup ingest vs the persisted signature index
# ---------------------------------------------------------------------------

_L59_K = _L36_K
_L59_BANDS = _L36_BANDS
_L59_TAU = _L36_TAU


def _l59_duck() -> str:
    sig_cols = ", ".join(f"min(md5('{i}:' || tok)) AS h{i}" for i in range(_L59_K))
    band_legs = " UNION ALL ".join(
        f"SELECT doc_id, is_batch, {b} AS band, md5(h{2*b} || h{2*b+1}) AS bh FROM sigs"
        for b in range(_L59_BANDS)
    )
    return f"""
    WITH docs AS (
      SELECT doc_id, text,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= 'c' AS is_batch
      FROM documents),
    toks AS (
      SELECT DISTINCT doc_id, is_batch,
             array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ') AS tok
      FROM docs,
           unnest(generate_series(1, len(string_split(text, ' ')) - 2)) AS g(i)),
    sigs AS (
      SELECT doc_id, is_batch, {sig_cols}
      FROM toks GROUP BY doc_id, is_batch),
    bands AS ({band_legs}),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
      FROM (SELECT * FROM bands WHERE is_batch) n
      JOIN (SELECT * FROM bands WHERE NOT is_batch) o
        ON n.band = o.band AND n.bh = o.bh),
    sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
    inter AS (
      SELECT c.new_id, c.old_id, count(*) AS ninter
      FROM cand c
      JOIN toks ta ON ta.doc_id = c.new_id
      JOIN toks tb ON tb.doc_id = c.old_id AND tb.tok = ta.tok
      GROUP BY c.new_id, c.old_id),
    verified AS (
      SELECT i.new_id, i.old_id,
             i.ninter * 1.0 / (sa.n + sb.n - i.ninter) AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.new_id
      JOIN sizes sb ON sb.doc_id = i.old_id
      WHERE i.ninter * 1.0 / (sa.n + sb.n - i.ninter) >= {_L59_TAU}),
    best AS (
      SELECT new_id, old_id, jaccard,
             ROW_NUMBER() OVER (PARTITION BY new_id
                                ORDER BY jaccard DESC, old_id) AS rn
      FROM verified)
    SELECT new_id AS doc_id, old_id AS dup_of, jaccard
    FROM best WHERE rn = 1 ORDER BY doc_id
    """


@register("l59_incremental_neardup", duck_sql=_l59_duck())
def l59_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L59: incremental NEAR-dup ingest — the new batch (l24's
    deterministic md5 slice) is checked against the EXISTING corpus's
    MinHash band-signature index only: batch docs never pair with each
    other (l01/l36 own within-batch), the corpus never re-pairs with
    itself — the property that makes nightly near-dedup O(batch), not
    O(corpus²). Signatures/bands/verify are l36's md5-deterministic
    pipeline, so the whole incremental run hash-matches the oracle
    running the identical algorithm. In production the band index is
    exactly what persists between ingests (l24's argument), written
    bucketed by (band, bh) so future ingests probe it shuffle-free.
    Output: each new doc's best corpus match at Jaccard >= tau.
    Precondition: doc_id is unique and non-NULL, else array_distinct is not
    the corpus-wide .distinct() it replaces (tests/test_correctness.py)."""
    from pydatalake_gen2_spark.operators.util import spread
    from pyspark.sql.window import Window

    docs = spread(spark.table("documents")).select(
        "doc_id",
        "text",
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) >= "c").alias(
            "is_batch"
        ),
    )
    # toks feeds FOUR consumers whose exchanges hash on different keys
    # (sigs' (doc_id,is_batch) agg, sizes' doc_id agg, and both sides of
    # the exact-verify join), so without a persist the ngram explode +
    # distinct recomputes four times — measured as most of the query's
    # wall time at sf0.1. Values unchanged: caching, not recomputing.
    # r12: (doc_id, is_batch, tok) duplicates only arise within one doc's
    # shingle array (is_batch is a function of doc_id), so array_distinct
    # dedups row-locally and the corpus-wide distinct exchange disappears
    # (same rewrite as l36 — guide §2.4).
    toks = HELD.persist(
        docs.select(
            "doc_id",
            "is_batch",
            F.explode(
                F.array_distinct(text.ngrams(F.split(F.col("text"), " "), 3))
            ).alias("tok"),
        )
    )
    # sigs feeds BOTH sides of the candidate band join; unpersisted, the
    # 8-way md5 min-agg over the cached toks ran twice per query (the
    # same duplication l36 showed in the r11 event-log profile).
    sigs = HELD.persist(
        toks.groupBy("doc_id", "is_batch").agg(
            *[
                F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("tok")))).alias(f"h{i}")
                for i in range(_L59_K)
            ]
        )
    )
    # one posexplode pass instead of _L59_BANDS unioned selects of the
    # same sigs subtree (pos IS the band id; bh expressions identical)
    bands = sigs.select(
        "doc_id",
        "is_batch",
        F.posexplode(
            F.array(
                *[
                    F.md5(F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")))
                    for b in range(_L59_BANDS)
                ]
            )
        ).alias("band", "bh"),
    )
    cand = (
        bands.filter("is_batch")
        .select(F.col("doc_id").alias("new_id"), "band", "bh")
        .join(
            bands.filter(~F.col("is_batch")).select(
                F.col("doc_id").alias("old_id"), "band", "bh"
            ),
            ["band", "bh"],
        )
        .select("new_id", "old_id")
        .distinct()
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    ta = toks.alias("ta")
    tb = toks.alias("tb")
    inter = (
        cand.join(ta, F.col("ta.doc_id") == F.col("new_id"))
        .join(
            tb,
            (F.col("tb.doc_id") == F.col("old_id"))
            & (F.col("tb.tok") == F.col("ta.tok")),
        )
        .groupBy("new_id", "old_id")
        .agg(F.count("*").alias("ninter"))
    )
    jacc = (
        F.col("ninter") * F.lit(1.0) / (F.col("sa.n") + F.col("sb.n") - F.col("ninter"))
    )
    verified = (
        inter.join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("new_id"))
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("old_id"))
        .select("new_id", "old_id", jacc.alias("jaccard"))
        .filter(F.col("jaccard") >= _L59_TAU)
    )
    w = Window.partitionBy("new_id").orderBy(F.col("jaccard").desc(), F.col("old_id"))
    return (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("new_id").alias("doc_id"), F.col("old_id").alias("dup_of"), "jaccard")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# l60: train/test split-leakage audit (cross-split n-gram overlap)
# ---------------------------------------------------------------------------


@register(
    "l60_split_leakage",
    duck_sql="""
    WITH split AS (
      SELECT doc_id, text,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                    THEN 'train'
                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, split,
             array_to_string(list_slice(string_split(lower(text), ' '), i, i + 4),
                             ' ') AS gram
      FROM split,
           unnest(generate_series(1, len(string_split(lower(text), ' ')) - 4))
             AS g(i)),
    train_grams AS (SELECT DISTINCT gram FROM grams WHERE split = 'train'),
    leaks AS (
      SELECT g.doc_id, g.split, CAST(count(*) AS BIGINT) AS n_leaked,
             (SELECT count(*) FROM grams gg WHERE gg.doc_id = g.doc_id)
               AS n_grams
      FROM grams g JOIN train_grams t ON g.gram = t.gram
      WHERE g.split <> 'train'
      GROUP BY g.doc_id, g.split)
    SELECT doc_id, split, n_leaked, CAST(n_grams AS BIGINT) AS n_grams,
           ROUND(CAST(n_leaked AS DOUBLE) / n_grams, 4) AS leak_fraction
    FROM leaks WHERE n_leaked >= 3 ORDER BY doc_id
    """,
)
def l60_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L60: split-leakage audit — the held-out halves of l34's md5 split
    are scanned for word-5-grams that also appear in ANY train doc;
    val/test docs sharing >= 3 grams with train are flagged with their
    leaked-gram fraction. This is l17's decontamination machinery turned
    INWARD (l17 guards against an external benchmark; this catches the
    subtler self-inflicted leak where near-copies straddle one's own
    split fences — the failure l48's group-aware split exists to
    prevent, here measured instead of assumed away). Scale shape:
    train's distinct gram set is one partial-agg pass; the held-out gram
    stream joins it on the gram key (at extreme cardinality swap in
    l17b's bloom prefilter); per-doc tallies are one more partial agg.
    Precondition: doc_id is unique and non-NULL, else array_distinct is not
    the corpus-wide .distinct() it replaces (tests/test_correctness.py)."""
    from pydatalake_gen2_spark.operators.util import spread

    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = spread(spark.table("documents")).select(
        "doc_id",
        "text",
        F.when(h < "cc", "train").when(h < "e6", "val").otherwise("test").alias("split"),
    )
    # r12: (doc_id, split, gram) duplicates only arise within one doc's
    # gram array (split is a function of doc_id) — array_distinct dedups
    # row-locally, removing the corpus-wide distinct exchange (guide §2.4;
    # same rewrite as l36/l59). train_grams' cross-doc distinct below is
    # a genuine dedup and stays.
    grams = split.select(
        "doc_id",
        "split",
        F.explode(
            F.array_distinct(text.ngrams(F.split(F.lower(F.col("text")), " "), 5))
        ).alias("gram"),
    )
    train_grams = grams.filter(F.col("split") == "train").select("gram").distinct()
    held = grams.filter(F.col("split") != "train")
    per_doc = held.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"))
    leaked = (
        held.join(train_grams, "gram")
        .groupBy("doc_id", "split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_leaked"))
    )
    return (
        leaked.join(per_doc, "doc_id")
        .filter(F.col("n_leaked") >= 3)
        .select(
            "doc_id",
            "split",
            "n_leaked",
            "n_grams",
            F.round(F.col("n_leaked").cast("double") / F.col("n_grams"), 4).alias(
                "leak_fraction"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# lx_rbo_audit: rank-biased overlap between two retrieval configurations
# ---------------------------------------------------------------------------

_RBO_P = "0.9"
_RBO_K = 10


@register(
    "lx_rbo_audit",
    duck_sql=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 2000),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
    fullk AS (
      SELECT query_id, vec_id, rn FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                 DESC, vec_id) AS rn
        FROM c CROSS JOIN q WHERE vec_id <> query_id) t WHERE rn <= {_RBO_K}),
    trunck AS (
      SELECT query_id, vec_id, rn FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 list_dot_product(qv[1:16], cv[1:16]) /
                   (sqrt(list_dot_product(qv[1:16], qv[1:16]))
                    * sqrt(list_dot_product(cv[1:16], cv[1:16])))
                 DESC, vec_id) AS rn
        FROM c CROSS JOIN q WHERE vec_id <> query_id) t WHERE rn <= {_RBO_K}),
    both_ranked AS (
      SELECT f.query_id, greatest(f.rn, t.rn) AS mr
      FROM fullk f JOIN trunck t
        ON f.query_id = t.query_id AND f.vec_id = t.vec_id),
    depths AS (SELECT unnest(generate_series(1, {_RBO_K})) AS d),
    ovl AS (
      SELECT q.query_id, d.d,
             (SELECT count(*) FROM both_ranked b
              WHERE b.query_id = q.query_id AND b.mr <= d.d) AS x_d
      FROM (SELECT DISTINCT query_id FROM fullk) q CROSS JOIN depths d)
    SELECT query_id,
           CAST(SUM(CAST(ROUND(
                 (1 - {_RBO_P}) * POWER({_RBO_P}, d - 1)
                 * (CAST(x_d AS DOUBLE) / d), 8) AS DECIMAL(18,8)))
             AS DOUBLE) AS rbo
    FROM ovl GROUP BY query_id ORDER BY query_id
    """,
)
def lx_rbo_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LX-RBO: rank-biased overlap (Webber et al.) between the full-dim
    and truncated-dim retrieval RANKINGS — lx_mrl_recall asks 'did the
    same ids survive'; RBO asks 'in the same ORDER, weighted toward the
    top' (p=0.9: the metric a reranker consumer actually cares about).
    Per query: overlap-at-depth X_d from exact integer rank
    comparisons, each term (1-p)·p^(d-1)·X_d/d ROUND(8)ed then summed
    EXACTLY as DECIMAL (gr07 discipline; POWER is the only libm call).
    The evaluation-metric primitive for comparing ANY two retrieval
    configs — ANN vs exact, two quantizations, two embedding
    versions."""
    from pyspark.sql.window import Window

    emb = spark.table("embeddings")
    q = emb.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000))
    fullk = similarity.cosine_topk(emb, q, k=_RBO_K).select(
        "query_id", "vec_id", "rn"
    )
    emb16 = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    q16 = emb16.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000))
    trunck = similarity.cosine_topk(emb16, q16, k=_RBO_K).select(
        F.col("query_id").alias("tq"), F.col("vec_id").alias("tv"), F.col("rn").alias("trn")
    )
    both = fullk.join(
        trunck,
        (F.col("query_id") == F.col("tq")) & (F.col("vec_id") == F.col("tv")),
    ).select("query_id", F.greatest("rn", "trn").alias("mr"))
    depths = spark.range(1, _RBO_K + 1).select(F.col("id").cast("int").alias("d"))
    queries = fullk.select("query_id").distinct()
    overlaps = (
        queries.crossJoin(depths)
        .join(both, "query_id", "left")
        .groupBy("query_id", "d")
        .agg(
            F.sum(F.when(F.col("mr") <= F.col("d"), 1).otherwise(0))
            .cast("bigint")
            .alias("x_d")
        )
    )
    p = float(_RBO_P)
    term = F.round(
        (1 - p) * F.pow(F.lit(p), F.col("d") - 1) * (F.col("x_d").cast("double") / F.col("d")),
        8,
    ).cast("decimal(18,8)")
    return (
        overlaps.groupBy("query_id")
        .agg(F.sum(term).cast("double").alias("rbo"))
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# l61: per-label precision/recall/F1 for the kNN weak labeler
# ---------------------------------------------------------------------------


def _l61_duck() -> str:
    from pydatalake_gen2_spark.registry import REGISTRY

    l41 = REGISTRY["l41_knn_label_propagation"].duck_sql
    return f"""
    WITH res AS ({l41}),
    t AS (SELECT true_label AS label, CAST(count(*) AS BIGINT) AS n_true,
                 CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                      AS BIGINT) AS tp
          FROM res GROUP BY true_label),
    p AS (SELECT pred_label AS label, CAST(count(*) AS BIGINT) AS n_pred
          FROM res GROUP BY pred_label)
    SELECT coalesce(t.label, p.label) AS label,
           coalesce(n_true, 0) AS n_true,
           coalesce(n_pred, 0) AS n_pred,
           coalesce(tp, 0) AS tp,
           ROUND(CASE WHEN coalesce(n_pred, 0) = 0 THEN 0.0
                      ELSE CAST(coalesce(tp, 0) AS DOUBLE) / n_pred END, 4) AS prec,
           ROUND(CASE WHEN coalesce(n_true, 0) = 0 THEN 0.0
                      ELSE CAST(coalesce(tp, 0) AS DOUBLE) / n_true END, 4) AS rec,
           ROUND(CASE WHEN coalesce(n_true, 0) + coalesce(n_pred, 0) = 0 THEN 0.0
                      ELSE 2.0 * coalesce(tp, 0)
                           / (coalesce(n_true, 0) + coalesce(n_pred, 0)) END, 4) AS f1
    FROM t FULL JOIN p ON t.label = p.label
    ORDER BY label
    """


@register("l61_knn_eval", duck_sql=_l61_duck())
def l61_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L61: per-label precision / recall / F1 of the kNN weak labeler —
    the model-evaluation report card computed ON the engine (confusion
    tallies from l41's predictions vs held-out true labels; the
    annotate→evaluate→iterate loop's measurement half). Every metric is
    a single IEEE divide of integer tallies ROUND(4)ed (F1 spelled
    2·tp/(n_true+n_pred) so it's one expression, not a ratio of rounded
    ratios); labels never predicted or never true survive via the full
    outer join with zeroed counts. The oracle embeds l41's entire chain
    so both engines always score the same predictions."""
    res = l41_knn_label_propagation(spark, sf_dir)
    t = res.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"),
        F.sum((F.col("pred_label") == F.col("true_label")).cast("long"))
        .cast("bigint")
        .alias("tp"),
    )
    p = res.groupBy(F.col("pred_label").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pred")
    )
    j = t.join(p, "label", "full")
    n_true = F.coalesce("n_true", F.lit(0))
    n_pred = F.coalesce("n_pred", F.lit(0))
    tp = F.coalesce("tp", F.lit(0))
    return j.select(
        "label",
        n_true.alias("n_true"),
        n_pred.alias("n_pred"),
        tp.alias("tp"),
        F.round(
            F.when(n_pred == 0, 0.0).otherwise(tp.cast("double") / n_pred), 4
        ).alias("prec"),
        F.round(
            F.when(n_true == 0, 0.0).otherwise(tp.cast("double") / n_true), 4
        ).alias("rec"),
        F.round(
            F.when(n_true + n_pred == 0, 0.0).otherwise(
                2.0 * tp / (n_true + n_pred)
            ),
            4,
        ).alias("f1"),
    ).orderBy("label")


# ---------------------------------------------------------------------------
# l64: MinHash-LSH parameter planner (b,r s-curve audit on observed pairs)
# ---------------------------------------------------------------------------

_L64_CONFIGS = [(6, 8), (8, 6), (12, 4), (16, 3), (24, 2)]
_L64_TAU = 0.1


def _l64_duck() -> str:
    cfg_rows = ", ".join(f"({b}, {r})" for b, r in _L64_CONFIGS)
    return f"""
    WITH sets AS (
      SELECT doc_id AS id,
             list_distinct(list_transform(generate_series(1, len(t) - 2),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS toks
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
      WHERE len(t) >= 3),
    inv AS (SELECT id, len(toks) AS n_toks, unnest(toks) AS tok FROM sets),
    shared AS (
      SELECT a.id AS id_a, b.id AS id_b, a.n_toks AS na, b.n_toks AS nb,
             COUNT(*) AS n_shared
      FROM inv a JOIN inv b ON a.tok = b.tok AND a.id < b.id
      GROUP BY 1, 2, 3, 4),
    pairs AS (
      SELECT CAST(n_shared AS BIGINT) AS n_shared,
             CAST(na + nb - n_shared AS BIGINT) AS n_union,
             n_shared / (na + nb - n_shared) AS s
      FROM shared
      WHERE n_shared / (na + nb - n_shared) >= {_L64_TAU}),
    cfg AS (SELECT * FROM (VALUES {cfg_rows}) AS v(b, r))
    SELECT CAST(cfg.b AS INT) AS n_bands, CAST(cfg.r AS INT) AS rows_per_band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CAST(ROUND(
                 1 - POWER(1 - POWER(s, cfg.r), cfg.b), 8)
               AS DECIMAL(20,8))) AS DOUBLE) AS exp_candidates,
           CAST(SUM(CASE WHEN n_shared * 5 >= n_union * 4
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(SUM(CASE WHEN n_shared * 5 >= n_union * 4
                         THEN CAST(ROUND(
                           1 - POWER(1 - POWER(s, cfg.r), cfg.b), 8)
                         AS DECIMAL(20,8)) ELSE CAST(0 AS DECIMAL(20,8)) END)
               AS DOUBLE) AS exp_caught_high,
           ROUND(CAST(SUM(CASE WHEN n_shared * 5 >= n_union * 4
                         THEN CAST(ROUND(
                           1 - POWER(1 - POWER(s, cfg.r), cfg.b), 8)
                         AS DECIMAL(20,8)) ELSE CAST(0 AS DECIMAL(20,8)) END)
               AS DOUBLE)
               / NULLIF(SUM(CASE WHEN n_shared * 5 >= n_union * 4
                                 THEN 1 ELSE 0 END), 0), 6) AS exp_recall_high
    FROM pairs CROSS JOIN cfg
    GROUP BY cfg.b, cfg.r ORDER BY cfg.b, cfg.r
    """


@register("l64_lsh_param_plan", duck_sql=_l64_duck())
def l64_lsh_param_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L64: MinHash-LSH parameter planner — for candidate (bands, rows)
    configs with b*r = 48 hashes, evaluates the s-curve
    p(s) = 1-(1-s^r)^b against the OBSERVED pair-similarity distribution
    (exact 3-gram Jaccard pairs >= 0.1 from L02b's inverted-index
    operator): expected candidate-pair volume (index cost) and expected
    recall on true near-dups (Jaccard >= 0.8, an EXACT rational fence —
    5*shared >= 4*union — so no float decides membership). G36 pre-sizes
    a join; this pre-sizes the LSH index: pick the config whose recall
    meets the bar at the lowest candidate volume BEFORE minhashing 100 TB.
    Per-pair p is one IEEE expression ROUND(8) then summed exactly as
    DECIMAL(20,8) (L58 discipline); the pair spine is the bounded
    shingle-join output, configs broadcast (|configs| tiny)."""
    pairs = dedup.exact_jaccard_pairs(spark.table("documents"), tau=_L64_TAU)
    cfg = spark.createDataFrame(_L64_CONFIGS, "b INT, r INT")
    p = F.round(
        1 - F.pow(1 - F.pow(F.col("s"), F.col("r")), F.col("b")), 8
    ).cast("decimal(20,8)")
    high = (F.col("n_shared") * 5 >= F.col("n_union") * 4).cast("long")
    terms = (
        pairs.select(
            "n_shared",
            "n_union",
            (F.col("n_shared").cast("double") / F.col("n_union")).alias("s"),
        )
        .crossJoin(F.broadcast(cfg))
        .select(
            "b",
            "r",
            p.alias("p"),
            high.alias("high"),
        )
    )
    zero = F.lit(0).cast("decimal(20,8)")
    return (
        terms.groupBy("b", "r")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("p").cast("double").alias("exp_candidates"),
            F.sum("high").cast("bigint").alias("n_high"),
            F.sum(F.when(F.col("high") == 1, F.col("p")).otherwise(zero))
            .cast("double")
            .alias("exp_caught_high"),
        )
        .select(
            F.col("b").cast("int").alias("n_bands"),
            F.col("r").cast("int").alias("rows_per_band"),
            "n_pairs",
            "exp_candidates",
            "n_high",
            "exp_caught_high",
            F.round(
                F.col("exp_caught_high") / F.nullif(F.col("n_high").cast("double"), F.lit(0.0)),
                6,
            ).alias("exp_recall_high"),
        )
        .orderBy("n_bands", "rows_per_band")
    )


# ---------------------------------------------------------------------------
# l65: encoding-anomaly / mojibake corpus audit
# ---------------------------------------------------------------------------

_L65_REPL = "\ufffd"   # U+FFFD REPLACEMENT CHARACTER (lossy-transcode scar)
_L65_CTRL = "\x07"     # BEL, a C0 control that never belongs in clean text


def _l65_sql() -> str:
    # Both dialects plant the SAME anomalies from doc_id arithmetic
    # (L54's planting pattern): every doc_id % 7 == 3 gets a replacement
    # character, every doc_id % 11 == 5 a C0 control char. Detection then
    # re-finds them with substring counting only (no regex dialects).
    return f"""
    WITH planted AS (
      SELECT doc_id, source,
             concat(text,
                    CASE WHEN doc_id % 7 = 3
                         THEN ' caf{_L65_REPL}' ELSE '' END,
                    CASE WHEN doc_id % 11 = 5
                         THEN '{_L65_CTRL}' ELSE '' END) AS t
      FROM documents),
    flags AS (
      SELECT source,
             CAST(length(t) - length(replace(t, '{_L65_REPL}', ''))
               AS BIGINT) AS n_repl,
             CAST(length(t) - length(replace(t, '{_L65_CTRL}', ''))
               AS BIGINT) AS n_ctrl
      FROM planted)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_repl > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mojibake_docs,
           CAST(SUM(CASE WHEN n_ctrl > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ctrl_docs,
           CAST(SUM(n_repl) AS BIGINT) AS n_repl_chars,
           CAST(SUM(n_ctrl) AS BIGINT) AS n_ctrl_chars,
           ROUND(CAST(SUM(CASE WHEN n_repl > 0 OR n_ctrl > 0
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS anomaly_rate
    FROM flags GROUP BY source ORDER BY source
    """


_sql_pair(
    "l65_encoding_audit",
    _l65_sql(),
    doc="L65: encoding-anomaly (mojibake) corpus audit — per-source rates "
        "of U+FFFD replacement characters (the scar a lossy transcode "
        "leaves) and C0 control characters (binary bleed-through). A "
        "corpus whose anomaly_rate jumps between ingests changed its "
        "upstream decoding, and replacement-heavy sources poison "
        "tokenizers with junk codepoints — this is the ingest gate next "
        "to T02's quality score (quality asks 'is it good prose'; this "
        "asks 'did bytes survive decoding'). The fixture corpus is clean "
        "ASCII, so anomalies are PLANTED from doc_id arithmetic in both "
        "dialects (L54's pattern) — a drifted detector breaks the hash. "
        "Detection is pure substring counting (length-after-replace), "
        "row-local, zero shuffle beyond the per-source tally."
        " F54 validates UTF-8 at the byte/function level; this audits "
        "the decoded corpus at scale.",
)


# ---------------------------------------------------------------------------
# lx_rrf_fusion: reciprocal-rank fusion of two retrieval configurations
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_DEPTH = 10
_RRF_TOP = 5


@register(
    "lx_rrf_fusion",
    duck_sql=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 2000),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
    fullk AS (
      SELECT query_id, vec_id, rn FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                 DESC, vec_id) AS rn
        FROM c CROSS JOIN q WHERE vec_id <> query_id) t WHERE rn <= {_RRF_DEPTH}),
    trunck AS (
      SELECT query_id, vec_id, rn FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 list_dot_product(qv[1:{_MRL_DIM}], cv[1:{_MRL_DIM}]) /
                   (sqrt(list_dot_product(qv[1:{_MRL_DIM}], qv[1:{_MRL_DIM}]))
                    * sqrt(list_dot_product(cv[1:{_MRL_DIM}], cv[1:{_MRL_DIM}])))
                 DESC, vec_id) AS rn
        FROM c CROSS JOIN q WHERE vec_id <> query_id) t WHERE rn <= {_RRF_DEPTH}),
    unioned AS (
      SELECT * FROM fullk UNION ALL SELECT * FROM trunck),
    fused AS (
      SELECT query_id, vec_id,
             CAST(SUM(CAST(ROUND(1.0 / ({_RRF_K} + rn), 8)
                   AS DECIMAL(20,8))) AS DOUBLE) AS rrf_score,
             CAST(COUNT(*) AS BIGINT) AS n_lists
      FROM unioned GROUP BY query_id, vec_id)
    SELECT query_id, vec_id, rrf_score, n_lists
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY rrf_score DESC, vec_id) AS fr FROM fused) t
    WHERE fr <= {_RRF_TOP}
    ORDER BY query_id, rrf_score DESC, vec_id
    """,
)
def lx_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LX-RRF: reciprocal-rank fusion (k=60) of two retrieval
    configurations — full-dimension exact cosine top-10 and LX-MRL's
    16-dim truncated top-10 — fused per (query, candidate) as
    sum(1/(60+rank)) and re-ranked; top-5 fused results per query.
    RRF is THE standard score-free fusion for hybrid retrieval (ranks
    only, so incomparable score scales — BM25 vs cosine vs truncated
    cosine — fuse without calibration); here its two legs are the cheap
    truncated index and the exact ranker, the production shape where a
    fast leg and a precise leg vote. Ranks are integers, so each RRF
    term is ROUND(8)-then-DECIMAL-summed (L58 discipline) and the fused
    order is engine-independent (vec_id tie-break). Both legs ride
    L03's broadcast-queries/streaming-corpus shape; LX-RBO then
    measures how much the fused order moved."""
    emb = spark.table("embeddings")
    q = emb.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000))
    fullk = similarity.cosine_topk(emb, q, k=_RRF_DEPTH).select(
        "query_id", "vec_id", "rn"
    )
    emb16 = emb.select("vec_id", F.slice("embedding", 1, _MRL_DIM).alias("embedding"))
    q16 = emb16.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000))
    trunck = similarity.cosine_topk(emb16, q16, k=_RRF_DEPTH).select(
        "query_id", "vec_id", "rn"
    )
    both = fullk.unionAll(trunck)
    term = F.round(F.lit(1.0) / (_RRF_K + F.col("rn")), 8).cast("decimal(20,8)")
    fused = both.groupBy("query_id", "vec_id").agg(
        F.sum(term).cast("double").alias("rrf_score"),
        F.count(F.lit(1)).cast("bigint").alias("n_lists"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.col("vec_id"))
    return (
        fused.withColumn("fr", F.row_number().over(w))
        .filter(F.col("fr") <= _RRF_TOP)
        .drop("fr")
        .orderBy("query_id", F.desc("rrf_score"), "vec_id")
    )


# ---------------------------------------------------------------------------
# l62: hybrid retrieval — min-max score fusion of BM25 and embedding cosine
# ---------------------------------------------------------------------------

_L62_TERMS = ["vector", "stream", "merge", "window"]
_L62_TOP = 15


def _l62_duck() -> str:
    terms = ", ".join(f"'{t}'" for t in _L62_TERMS)
    return f"""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    base AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
           FROM base WHERE term IN ({terms})
           GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    stats AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM t),
    scored AS (
      SELECT tf.doc_id,
             ROUND(ln(1.0 + (CAST(stats.n - dfreq.df AS DOUBLE) + 0.5) / (dfreq.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)), 4) AS s
      FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
    bm AS (SELECT doc_id, ROUND(SUM(s), 4) AS bm25 FROM scored GROUP BY doc_id),
    qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
    cos AS (
      SELECT vec_id AS doc_id,
             ROUND(list_dot_product(cv, qv.v) /
                   (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv.v, qv.v))),
                   4) AS cos
      FROM (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
            WHERE vec_id <> 0) e CROSS JOIN qv),
    cand AS (
      SELECT cos.doc_id, COALESCE(bm.bm25, 0.0) AS bm25, cos.cos
      FROM cos LEFT JOIN bm ON cos.doc_id = bm.doc_id),
    mm AS (SELECT MIN(bm25) AS bmin, MAX(bm25) AS bmax,
                  MIN(cos) AS cmin, MAX(cos) AS cmax FROM cand)
    SELECT doc_id, bm25, cos,
           ROUND(0.5 * ((bm25 - mm.bmin) / (mm.bmax - mm.bmin))
                 + 0.5 * ((cos - mm.cmin) / (mm.cmax - mm.cmin)), 6) AS fused
    FROM cand CROSS JOIN mm
    ORDER BY fused DESC, doc_id LIMIT {_L62_TOP}
    """


@register("l62_hybrid_retrieval", duck_sql=_l62_duck())
def l62_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L62: hybrid retrieval — one query expressed BOTH ways (a lexical
    term bag and a query embedding), the BM25 leg (L22's operator) and
    the exact-cosine leg (L03's shape) min-max normalized onto [0,1] and
    averaged 50/50. This is score-based fusion, the calibrated sibling
    of LX-RRF's rank-based fusion (RRF ignores score GAPS; min-max
    keeps them but needs the per-leg extremes this computes); docs
    missing from the sparse BM25 leg enter at 0 before normalization.
    Both leg scores are ROUND(4) BEFORE fusion (the L22/L03 discipline),
    so normalization and the 50/50 average are IEEE expressions over
    identical inputs in both engines, ROUND(6) at the end; ties break on
    doc_id. Scale: each leg is its own proven shape (tiny term-filtered
    shuffle; broadcast query vector), the fusion is a key-join of two
    score frames + one broadcast 4-number extremes frame — at 100 TB
    the legs run over candidate pools (LX-IVF / inverted index), fusion
    cost unchanged."""
    docs = spark.table("documents")
    emb = spark.table("embeddings")
    bm = text.bm25_scores(docs, _L62_TERMS).select("doc_id", "bm25")
    qv = emb.filter(F.col("vec_id") == 0).select(as_double("embedding").alias("qv"))
    cand_emb = emb.filter(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("doc_id"), as_double("embedding").alias("cv")
    )
    cos = cand_emb.crossJoin(F.broadcast(qv)).select(
        "doc_id",
        F.round(
            dot(F.col("cv"), F.col("qv"))
            / (l2_norm(F.col("cv")) * l2_norm(F.col("qv"))),
            4,
        ).alias("cos"),
    )
    # cand feeds TWO consumers (the 4-number extremes aggregate and the
    # fused projection); unpersisted, BOTH legs — the BM25 pass over
    # documents AND the HOF-cosine pass over embeddings — executed twice
    # per run (concurrent identical subtrees never hit ReusedExchange,
    # the r11 finding). The persisted frame is 3 narrow columns per doc,
    # far cheaper than a second double corpus scan at any scale.
    cand = HELD.persist(cos.join(bm, "doc_id", "left").select(
        "doc_id", F.coalesce("bm25", F.lit(0.0)).alias("bm25"), "cos"
    ))
    mm = cand.agg(
        F.min("bm25").alias("bmin"),
        F.max("bm25").alias("bmax"),
        F.min("cos").alias("cmin"),
        F.max("cos").alias("cmax"),
    )
    return (
        cand.crossJoin(F.broadcast(mm))
        .select(
            "doc_id",
            "bm25",
            "cos",
            F.round(
                0.5 * ((F.col("bm25") - F.col("bmin")) / (F.col("bmax") - F.col("bmin")))
                + 0.5 * ((F.col("cos") - F.col("cmin")) / (F.col("cmax") - F.col("cmin"))),
                6,
            ).alias("fused"),
        )
        .orderBy(F.desc("fused"), "doc_id")
        .limit(_L62_TOP)
    )


# ---------------------------------------------------------------------------
# l66: BPE tokenizer training loop (3 merge rounds, distributed)
# ---------------------------------------------------------------------------

_L66_ROUNDS = 3
_L66_SEP = "\x01"


def _l66_duck() -> str:
    sep = _L66_SEP
    sql = """
    WITH wf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w),
    s0 AS MATERIALIZED (
      SELECT w, c,
             ' ' || array_to_string(
               list_transform(generate_series(1, length(w)), i -> w[i]),
               '  ') || '  _ ' AS s
      FROM wf)"""
    prev = "s0"
    for k in range(1, _L66_ROUNDS + 1):
        sql += f""",
    sy{k} AS (
      SELECT c, string_split(substr(s, 2, length(s) - 2), '  ') AS sy
      FROM {prev}),
    pc{k} AS (
      SELECT pk, CAST(SUM(c) AS BIGINT) AS n
      FROM (SELECT c,
                   unnest(list_transform(generate_series(1, len(sy) - 1),
                          i -> sy[i] || '{sep}' || sy[i+1])) AS pk
            FROM sy{k})
      GROUP BY pk),
    b{k} AS (
      SELECT pk, n, split_part(pk, '{sep}', 1) AS pa,
             split_part(pk, '{sep}', 2) AS pb
      FROM pc{k} ORDER BY n DESC, pk LIMIT 1),
    m{k} AS MATERIALIZED (
      SELECT w, c,
             replace(s, ' ' || pa || '  ' || pb || ' ',
                     ' ' || pa || pb || ' ') AS s
      FROM {prev} CROSS JOIN b{k}),
    st{k} AS (
      SELECT CAST(SUM(c * len(string_split(substr(s, 2, length(s) - 2), '  ')))
               AS BIGINT) AS n_sym
      FROM m{k})"""
        prev = f"m{k}"
    parts = [
        f"SELECT {k} AS round, pa AS pair_a, pb AS pair_b, n AS pair_count,"
        f" st{k}.n_sym AS symbols_after FROM b{k} CROSS JOIN st{k}"
        for k in range(1, _L66_ROUNDS + 1)
    ]
    sql += "\n    " + "\n    UNION ALL ".join(parts) + "\n    ORDER BY round"
    return sql


@register("l66_bpe_train", duck_sql=_l66_duck())
def l66_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L66: an ACTUAL distributed BPE tokenizer training loop — L37 counts
    one round's pair statistics; this runs 3 full rounds of
    count -> argmax(count DESC, pair) -> merge-into-every-word ->
    recount, the Sennrich et al. (2016) algorithm. Key scale insight:
    BPE trains on the WORD-FREQUENCY table, not the corpus — the corpus
    reduces once to (word, count) (vocabulary-sized), each round's pair
    tally shuffles only (pair, partial_count) keys, and the chosen merge
    broadcasts back as a 1-row frame applied with a pure string
    replace() (left-to-right non-overlapping — exactly BPE's greedy
    order; the double-space symbol encoding keeps boundaries unambiguous
    so no regex lookaround is needed, which DuckDB's RE2 couldn't run
    anyway). Every output is an integer (pair counts, post-merge symbol
    totals) with a (count DESC, pair) tie-break, so 3 rounds of an
    ITERATIVE training algorithm hash-match exactly. The DuckDB oracle
    unrolls the identical recurrence with AS MATERIALIZED rounds. At
    100 TB: same loop with the word table checkpointed every ~5 merges
    (connected-components discipline)."""
    docs = spark.table("documents")
    wf = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    words = wf.withColumn(
        "s",
        F.expr(
            "' ' || concat_ws('  ', transform(sequence(1, length(w)),"
            " i -> substring(w, i, 1))) || '  _ '"
        ),
    )
    sep = _L66_SEP
    merges = None
    for k in range(1, _L66_ROUNDS + 1):
        sy = words.withColumn(
            "sy", F.expr("split(substring(s, 2, length(s) - 2), '  ')")
        )
        pc = (
            sy.select(
                "c",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(sy) - 1),"
                        f" i -> element_at(sy, i) || '{sep}' || element_at(sy, i + 1))"
                    )
                ).alias("pk"),
            )
            .groupBy("pk")
            .agg(F.sum("c").cast("bigint").alias("n"))
        )
        best = (
            pc.orderBy(F.desc("n"), "pk")
            .limit(1)
            .select(
                F.split_part(F.col("pk"), F.lit(sep), F.lit(1)).alias("pa"),
                F.split_part(F.col("pk"), F.lit(sep), F.lit(2)).alias("pb"),
                "n",
            )
        )
        words = (
            words.crossJoin(F.broadcast(best))
            .withColumn(
                "s",
                F.expr(
                    "replace(s, ' ' || pa || '  ' || pb || ' ',"
                    " ' ' || pa || pb || ' ')"
                ),
            )
            .select("w", "c", "s")
        )
        # checkpoint-truncate the per-round state so the unrolled lineage
        # doesn't grow multiplicatively (iterative-operator discipline).
        # Held by the session owner, not dropped per round: the returned
        # `merges` plan reads every round, and a checkpoint does not
        # recompute, so all are freed by release_persisted() after use.
        words = HELD.checkpoint(words)
        stats = words.agg(
            F.sum(
                F.col("c")
                * F.size(F.expr("split(substring(s, 2, length(s) - 2), '  ')"))
            )
            .cast("bigint")
            .alias("n_sym")
        )
        row = best.crossJoin(stats).select(
            F.lit(k).alias("round"),
            F.col("pa").alias("pair_a"),
            F.col("pb").alias("pair_b"),
            F.col("n").alias("pair_count"),
            F.col("n_sym").alias("symbols_after"),
        )
        merges = row if merges is None else merges.unionAll(row)
    return merges.orderBy("round")


# ---------------------------------------------------------------------------
# lx_sq8_recall: int8 scalar-quantization retrieval audit
# ---------------------------------------------------------------------------

_SQ8_K = 10


@register(
    "lx_sq8_recall",
    duck_sql=f"""
    WITH s AS (SELECT max(list_aggregate(
                 list_transform(embedding::DOUBLE[], x -> abs(x)), 'max'))
               AS mx FROM embeddings),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS cv,
                 list_transform(embedding::DOUBLE[],
                   x -> CAST(CAST(floor(127 * x / s.mx + 0.5)
                             AS INT) AS DOUBLE)) AS qcv
          FROM embeddings CROSS JOIN s),
    q AS (SELECT vec_id AS query_id, cv AS qv, qcv AS qqv
          FROM c WHERE vec_id % 100 = 0 AND vec_id < 2000),
    fullk AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv))
                    * sqrt(list_dot_product(cv, cv)))
                 DESC, vec_id) AS rn
        FROM c CROSS JOIN q WHERE vec_id <> query_id) t
      WHERE rn <= {_SQ8_K}),
    sq8k AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 list_dot_product(qqv, qcv) /
                   (sqrt(list_dot_product(qqv, qqv))
                    * sqrt(list_dot_product(qcv, qcv)))
                 DESC, vec_id) AS rn
        FROM c CROSS JOIN q WHERE vec_id <> query_id) t
      WHERE rn <= {_SQ8_K})
    SELECT f.query_id,
           CAST(count(t.vec_id) AS BIGINT) AS n_common,
           ROUND(CAST(count(t.vec_id) AS DOUBLE) / {_SQ8_K}, 4) AS recall
    FROM fullk f LEFT JOIN sq8k t
      ON f.query_id = t.query_id AND f.vec_id = t.vec_id
    GROUP BY f.query_id ORDER BY f.query_id
    """,
)
def lx_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LX-SQ8: int8 SCALAR-quantization retrieval audit — top-k recall of
    cosine search over symmetric int8-quantized vectors (q = floor(127·x/
    max_abs + 0.5), one global scale) vs the exact full-precision top-k.
    The 4x-smaller sibling of PQ (lx_pq_topk compresses via codebooks;
    SQ8 keeps per-dimension fidelity): 8-bit dot products are exact
    INTEGER arithmetic (|q|≤127, 64 dims → |dot| ≤ 64·127² ≪ 2^53), so
    the quantized leg is bit-deterministic in both engines by
    construction — the only floats are the final norm divide, the same
    identical-IEEE-expression discipline as L03/LX-MRL. At 100 TB the
    int8 index is the memory-resident first pass (4 GB per billion
    64-dim vectors vs 16 GB float32) and this audit bounds its miss rate
    before the float rerank (lx_pq_rerank's pattern)."""
    emb = spark.table("embeddings")
    s_df = emb.agg(
        F.max(
            F.expr(
                "aggregate(embedding, cast(0.0 as double),"
                " (acc, x) -> greatest(acc, abs(cast(x as double))))"
            )
        ).alias("mx")
    )
    qemb = emb.crossJoin(F.broadcast(s_df)).select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(cast(floor("
            "127 * cast(x as double) / mx + 0.5) as int) as double))"
        ).alias("embedding"),
    )
    fullk = similarity.cosine_topk(
        emb, emb.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000)), k=_SQ8_K
    ).select("query_id", "vec_id")
    sq8k = similarity.cosine_topk(
        qemb, qemb.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000)), k=_SQ8_K
    ).select(F.col("query_id").alias("tq"), F.col("vec_id").alias("tv"))
    return (
        fullk.join(
            sq8k,
            (F.col("query_id") == F.col("tq")) & (F.col("vec_id") == F.col("tv")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("tv").cast("bigint").alias("n_common"))
        .withColumn(
            "recall", F.round(F.col("n_common").cast("double") / _SQ8_K, 4)
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# l70: DSIR-style hashed n-gram importance weighting
# ---------------------------------------------------------------------------

_L70_NB = 64  # hash buckets (feature dimension)

_L70_BODY = """
    WITH tok AS (
      SELECT doc_id, lang, token
      FROM (SELECT doc_id, lang,
                   {unnest_expr} AS token
            FROM documents) t
      WHERE token <> ''),
    btok AS (
      SELECT doc_id, lang,
             ((CASE WHEN ascii(substr(md5(token), 1, 1)) >= 97
                    THEN ascii(substr(md5(token), 1, 1)) - 87
                    ELSE ascii(substr(md5(token), 1, 1)) - 48 END) * 16
              + CASE WHEN ascii(substr(md5(token), 2, 1)) >= 97
                     THEN ascii(substr(md5(token), 2, 1)) - 87
                     ELSE ascii(substr(md5(token), 2, 1)) - 48 END
             ) % {nb} AS b
      FROM tok),
    counts AS (
      SELECT b,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS nt,
             CAST(count(*) AS BIGINT) AS ns
      FROM btok GROUP BY b),
    tots AS (
      SELECT CAST(sum(nt) AS BIGINT) AS tt, CAST(sum(ns) AS BIGINT) AS ts
      FROM counts),
    lw AS (
      SELECT b,
             CAST(ROUND(LN(((CAST(nt AS DOUBLE) + 0.5)
                            / (CAST(tt AS DOUBLE) + {nb} * 0.5))
                           / ((CAST(ns AS DOUBLE) + 0.5)
                              / (CAST(ts AS DOUBLE) + {nb} * 0.5))), 8)
                  AS DECIMAL(20,8)) AS w
      FROM counts, tots),
    scored AS (
      SELECT btok.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(w) AS DECIMAL(30,8)) AS score
      FROM btok JOIN lw ON btok.b = lw.b
      GROUP BY btok.doc_id)
    SELECT doc_id, n_tokens,
           ROUND(CAST(score AS DOUBLE), 6) AS importance
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT 50
"""

_sql_pair(
    "l70_dsir_importance",
    _L70_BODY.format(
        unnest_expr="explode(split(lower(text), ' '))", nb=_L70_NB
    ),
    _L70_BODY.format(
        unnest_expr="unnest(string_split(lower(text), ' '))", nb=_L70_NB
    ),
    doc="L70: DSIR-style importance weighting (Xie et al. 2023, 'Data "
        "Selection for Language Models via Importance Resampling' — "
        "public arXiv 2302.03169): documents scored by how target-like "
        "their hashed-token distribution is. Tokens hash into 64 "
        "buckets via md5 (first two hex nibbles decoded with "
        "engine-portable ascii() arithmetic — no conv(), which the "
        "oracle lacks); bucket log-ratios ln(p_target/p_source) use "
        "Laplace-smoothed ((n+0.5)/(N+B/2)) shares with lang='en' docs "
        "as the target and the full corpus as the source; a document's "
        "importance is the SUM of its tokens' bucket weights — exact "
        "DECIMAL(20,8) accumulation of ROUND(8)-fenced logs, so the "
        "per-doc sum is partition-order-independent (G48 discipline) — "
        "and the top 50 most-target-like docs surface. Scale: the "
        "64-row weight table is a broadcast join onto the token stream "
        "(map-side), per-doc sums are one partial+final agg, and the "
        "top-50 is a TakeOrdered micro-pass — the resampling pass over "
        "100 TB costs one scan + one shuffle on doc_id. Dialect split "
        "is explode/split vs unnest/string_split only.",
)


# ---------------------------------------------------------------------------
# lx_ndcg: graded-relevance NDCG@10 audit of the int8-quantized retriever
# ---------------------------------------------------------------------------


@register(
    "lx_ndcg_audit",
    duck_sql=f"""
    WITH s AS (SELECT max(list_aggregate(
                 list_transform(embedding::DOUBLE[], x -> abs(x)), 'max'))
               AS mx FROM embeddings),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS cv,
                 list_transform(embedding::DOUBLE[],
                   x -> CAST(CAST(floor(127 * x / s.mx + 0.5)
                             AS INT) AS DOUBLE)) AS qcv
          FROM embeddings CROSS JOIN s),
    q AS (SELECT vec_id AS query_id, cv AS qv, qcv AS qqv
          FROM c WHERE vec_id % 100 = 0 AND vec_id < 2000),
    exact20 AS (
      SELECT query_id, vec_id, rn,
             CAST(4 - CAST(floor((rn - 1) / 5.0) AS INT) AS INT) AS rel
      FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv))
                    * sqrt(list_dot_product(cv, cv)))
                 DESC, vec_id) AS rn
        FROM c CROSS JOIN q WHERE vec_id <> query_id) t
      WHERE rn <= 20),
    sys10 AS (
      SELECT query_id, vec_id, rn AS pos FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 list_dot_product(qqv, qcv) /
                   (sqrt(list_dot_product(qqv, qqv))
                    * sqrt(list_dot_product(qcv, qcv)))
                 DESC, vec_id) AS rn
        FROM c CROSS JOIN q WHERE vec_id <> query_id) t
      WHERE rn <= 10),
    dcg AS (
      SELECT s10.query_id,
             CAST(SUM(CAST(ROUND(
               (power(2, COALESCE(e.rel, 0)) - 1)
               / log2(s10.pos + 1), 8) AS DECIMAL(20,8))) AS DECIMAL(30,8))
               AS dcg10,
             CAST(SUM(CASE WHEN COALESCE(e.rel, 0) > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_relevant_in_10
      FROM sys10 s10 LEFT JOIN exact20 e
        ON s10.query_id = e.query_id AND s10.vec_id = e.vec_id
      GROUP BY s10.query_id),
    idcg AS (
      SELECT query_id,
             CAST(SUM(CAST(ROUND(
               (power(2, rel) - 1) / log2(rn + 1), 8)
               AS DECIMAL(20,8))) AS DECIMAL(30,8)) AS idcg10
      FROM exact20 WHERE rn <= 10 GROUP BY query_id)
    SELECT d.query_id, d.n_relevant_in_10,
           ROUND(CAST(d.dcg10 AS DOUBLE), 6) AS dcg10,
           ROUND(CAST(d.dcg10 AS DOUBLE) / CAST(i.idcg10 AS DOUBLE), 6)
             AS ndcg10
    FROM dcg d JOIN idcg i ON d.query_id = i.query_id
    ORDER BY d.query_id
    """,
)
def lx_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LX-NDCG: graded-relevance NDCG@10 of the int8-quantized retriever
    (LX-SQ8's index) against exact full-precision cosine ranking — the
    standard ranking-quality metric (Järvelin & Kekäläinen 2002) that
    recall@k cannot express: recall treats a hit at position 1 and
    position 10 identically, NDCG discounts by log2(pos+1) and weights
    by graded gain, so it catches a quantizer that KEEPS the right
    candidates but SCRAMBLES their order. Relevance grades derive from
    the exact ranking (positions 1-5 -> rel 4, 6-10 -> 3, 11-15 -> 2,
    16-20 -> 1, else 0), gains (2^rel - 1) are exact small integers,
    each gain/log2(pos+1) term is ROUND(8)-fenced and summed as
    DECIMAL(20,8) (order-independent, the G48 discipline), and the
    final NDCG division casts both decimal sums to DOUBLE first before
    ONE ROUND(6). Scale: both legs are the same broadcast-queries
    top-k shape as LX-SQ8 (the exact leg is the audit-time oracle, run
    on a sampled query set — the production path serves only the int8
    leg); the DCG join and per-query sums are |queries|x10 rows."""
    emb = spark.table("embeddings")
    s_df = emb.agg(
        F.max(
            F.expr(
                "aggregate(embedding, cast(0.0 as double),"
                " (acc, x) -> greatest(acc, abs(cast(x as double))))"
            )
        ).alias("mx")
    )
    qemb = emb.crossJoin(F.broadcast(s_df)).select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(cast(floor("
            "127 * cast(x as double) / mx + 0.5) as int) as double))"
        ).alias("embedding"),
    )
    queries = emb.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000))
    exact20 = (
        similarity.cosine_topk(emb, queries, k=20)
        .select(
            "query_id",
            "vec_id",
            "rn",
            (4 - F.floor((F.col("rn") - 1) / 5.0).cast("int"))
            .cast("int")
            .alias("rel"),
        )
    )
    sys10 = similarity.cosine_topk(
        qemb, qemb.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000)), k=10
    ).select(
        F.col("query_id").alias("sq"),
        F.col("vec_id").alias("sv"),
        F.col("rn").alias("pos"),
    )
    term = lambda rel, pos: F.round(  # noqa: E731
        (F.pow(F.lit(2.0), rel) - 1) / F.log2(pos + 1), 8
    ).cast("decimal(20,8)")
    dcg = (
        sys10.join(
            exact20,
            (F.col("sq") == F.col("query_id")) & (F.col("sv") == F.col("vec_id")),
            "left",
        )
        .withColumn("rel0", F.coalesce(F.col("rel"), F.lit(0)))
        .groupBy("sq")
        .agg(
            F.sum(term(F.col("rel0"), F.col("pos")))
            .cast("decimal(30,8)")
            .alias("dcg10"),
            F.sum(F.when(F.col("rel0") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_relevant_in_10"),
        )
    )
    idcg = (
        exact20.filter(F.col("rn") <= 10)
        .groupBy("query_id")
        .agg(
            F.sum(term(F.col("rel"), F.col("rn")))
            .cast("decimal(30,8)")
            .alias("idcg10")
        )
    )
    return (
        dcg.join(idcg, F.col("sq") == F.col("query_id"))
        .select(
            F.col("sq").alias("query_id"),
            "n_relevant_in_10",
            F.round(F.col("dcg10").cast("double"), 6).alias("dcg10"),
            F.round(
                F.col("dcg10").cast("double") / F.col("idcg10").cast("double"),
                6,
            ).alias("ndcg10"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# lx_bq_recall: 1-bit binary-quantization retrieval audit
# ---------------------------------------------------------------------------

_BQ_K = 10


@register(
    "lx_bq_recall",
    duck_sql=f"""
    WITH w AS (
      SELECT vec_id, embedding::DOUBLE[] AS cv,
             list_reduce(list_prepend(0::BIGINT,
               list_transform((embedding::DOUBLE[])[1:63],
                 x -> CASE WHEN x > 0 THEN 1::BIGINT ELSE 0::BIGINT END)),
               (acc, x) -> acc * 2 + x) AS bw
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, cv AS qv, bw AS qw
          FROM w WHERE vec_id % 100 = 0 AND vec_id < 2000),
    fullk AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv))
                    * sqrt(list_dot_product(cv, cv)))
                 DESC, vec_id) AS rn
        FROM w CROSS JOIN q WHERE vec_id <> query_id) t
      WHERE rn <= {_BQ_K}),
    bqk AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 bit_count(xor(qw, bw)) ASC, vec_id) AS rn
        FROM w CROSS JOIN q WHERE vec_id <> query_id) t
      WHERE rn <= {_BQ_K})
    SELECT f.query_id,
           CAST(count(t.vec_id) AS BIGINT) AS n_common,
           ROUND(CAST(count(t.vec_id) AS DOUBLE) / {_BQ_K}, 4) AS recall
    FROM fullk f LEFT JOIN bqk t
      ON f.query_id = t.query_id AND f.vec_id = t.vec_id
    GROUP BY f.query_id ORDER BY f.query_id
    """,
)
def lx_bq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LX-BQ: 1-bit BINARY-quantization retrieval audit — recall@10 of
    Hamming-distance search over sign-bit fingerprints (bit i = 1 iff
    embedding[i] > 0, 63 dims packed into ONE bigint word; 63 not 64 so
    the MSB never overflows the signed fold, same convention as the
    63-bit pHash) vs the exact full-precision cosine top-k. The extreme
    end of the quantization ladder next to SQ8 (8 bit) and PQ (codebook):
    32x smaller than float32, distance = ONE xor + popcount per pair —
    at 100 TB the binary index for a billion 64-dim vectors is 8 GB,
    fits in a single executor's memory, and the candidate stream feeds
    the float rerank (lx_pq_rerank's pattern). Everything after the
    sign() is INTEGER arithmetic, bit-deterministic in both engines;
    Hamming's heavy ties resolve by the vec_id tiebreak."""
    emb = spark.table("embeddings")
    words = emb.select(
        "vec_id",
        F.expr(
            "aggregate(slice(embedding, 1, 63), cast(0 as bigint),"
            " (acc, x) -> acc * 2 +"
            " IF(cast(x as double) > 0.0D, cast(1 as bigint), cast(0 as bigint)))"
        ).alias("bw"),
    )
    qwords = words.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000)).select(
        F.col("vec_id").alias("query_id"), F.col("bw").alias("qw")
    )
    from pyspark.sql import Window

    bqk = (
        words.crossJoin(F.broadcast(qwords))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("ham", F.bit_count(F.expr("bw ^ qw")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("ham").asc(), F.col("vec_id").asc()
                )
            ),
        )
        .filter(F.col("rn") <= _BQ_K)
        .select(F.col("query_id").alias("tq"), F.col("vec_id").alias("tv"))
    )
    fullk = similarity.cosine_topk(
        emb, emb.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000)), k=_BQ_K
    ).select("query_id", "vec_id")
    return (
        fullk.join(
            bqk,
            (F.col("query_id") == F.col("tq")) & (F.col("vec_id") == F.col("tv")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("tv").cast("bigint").alias("n_common"))
        .withColumn(
            "recall", F.round(F.col("n_common").cast("double") / _BQ_K, 4)
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# l71: contrastive hard-negative mining
# ---------------------------------------------------------------------------


@register(
    "l71_hard_negatives",
    duck_sql="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                      label AS qlabel
               FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 2000),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS cv, label FROM embeddings),
    pairs AS (
      SELECT query_id, vec_id, label AS neg_label,
             list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv))
                * sqrt(list_dot_product(cv, cv))) AS cos
      FROM c CROSS JOIN q
      WHERE vec_id <> query_id AND label <> qlabel),
    ranked AS (
      SELECT query_id, vec_id, neg_label, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id) AS rn
      FROM pairs)
    SELECT query_id, vec_id, neg_label, ROUND(cos, 4) AS cos,
           CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 5
    ORDER BY query_id, rn
    """,
)
def l71_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L71: contrastive hard-negative mining — per anchor embedding, the
    5 highest-cosine vectors carrying a DIFFERENT label
    (operators/similarity.hard_negative_topk). The training-data op that
    turns a labeled corpus into triplet/InfoNCE batches: easy negatives
    teach nothing, so the miner ranks only cross-label candidates and
    keeps the hardest. Broadcast-anchors / corpus-streams, norms hoisted
    once per row; at 100 TB the anchor set is the (small) training batch
    stream while the corpus scan shards across executors — and the
    approximate ladder (LSH/IVF/SQ8/BQ buckets) drops into the candidate
    stage unchanged when the corpus outgrows brute force."""
    emb = spark.table("embeddings")
    return similarity.hard_negative_topk(
        emb, emb.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000)), k=5
    ).orderBy("query_id", "rn")


# ---------------------------------------------------------------------------
# l72: keyword-dictionary topic tagging
# ---------------------------------------------------------------------------

_L72_TOPICS = [
    ("joins", "join"), ("joins", "merge"), ("joins", "hash"),
    ("scans", "scan"), ("scans", "filter"), ("scans", "table"),
    ("streaming", "stream"), ("streaming", "window"), ("streaming", "batch"),
    ("vectors", "vector"), ("vectors", "column"), ("vectors", "value"),
]
_L72_MIN_HITS = 3


def _l72_values() -> str:
    return ", ".join(f"('{t}', '{k}')" for t, k in _L72_TOPICS)


@register(
    "l72_topic_tagging",
    duck_sql=f"""
    WITH kw(topic, token) AS (VALUES {_l72_values()}),
    tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents),
    hits AS (
      SELECT doc_id, topic, CAST(count(*) AS BIGINT) AS n_hits
      FROM tok JOIN kw USING (token)
      GROUP BY doc_id, topic),
    ranked AS (
      SELECT doc_id, topic, n_hits,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                             ORDER BY n_hits DESC, topic) AS BIGINT) AS rnk
      FROM hits WHERE n_hits >= {_L72_MIN_HITS})
    SELECT doc_id, topic, n_hits, rnk
    FROM ranked ORDER BY doc_id, rnk
    """,
)
def l72_topic_tagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L72: dictionary-driven topic tagging — the FlashText/Aho-Corasick
    slot of a training-data pipeline (domain routing, corpus mixing by
    topic, targeted filtering) expressed Spark-first: explode tokens →
    BROADCAST join the (topic, keyword) dictionary → partial-agg hit
    counts → per-doc rank. Multi-label by construction (a doc carrying
    enough hits for two topics gets both rows); rank 1 is the dominant
    topic with a deterministic (hits DESC, topic) tiebreak. At 100 TB
    the dictionary (thousands of keywords) broadcasts everywhere, the
    token explode is linear and map-side, and the only shuffle is the
    (doc_id, topic) partial agg — no UDF, no per-row regex scan over
    full text."""
    kw = spark.createDataFrame(_L72_TOPICS, ["topic", "token"])
    tok = spark.table("documents").select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
    )
    hits = (
        tok.join(F.broadcast(kw), "token")
        .groupBy("doc_id", "topic")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
        .filter(F.col("n_hits") >= _L72_MIN_HITS)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("n_hits").desc(), F.col("topic"))
    return (
        hits.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "topic", "n_hits", "rnk")
        .orderBy("doc_id", "rnk")
    )


# ---------------------------------------------------------------------------
# l73: nucleus (top-p) vocabulary truncation
# ---------------------------------------------------------------------------

_L73_P = 0.95


@register(
    "l73_nucleus_vocab",
    duck_sql=f"""
    WITH tok AS (
      SELECT lang, unnest(string_split(lower(text), ' ')) AS token
      FROM documents),
    cnt AS (
      SELECT lang, token, CAST(count(*) AS BIGINT) AS n
      FROM tok WHERE token <> '' GROUP BY lang, token),
    tot AS (
      SELECT lang, CAST(sum(n) AS BIGINT) AS total FROM cnt GROUP BY lang),
    cum AS (
      SELECT lang, token, n,
             CAST(sum(n) OVER (PARTITION BY lang
                          ORDER BY n DESC, token
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY n DESC, token) AS BIGINT) AS rnk
      FROM cnt),
    kept AS (
      SELECT c.lang, c.rnk, c.c, t.total
      FROM cum c JOIN tot t ON c.lang = t.lang
      WHERE CAST(c.c - c.n AS DOUBLE) / t.total < {_L73_P})
    SELECT lang,
           CAST(max(rnk) AS BIGINT) AS vocab_size,
           CAST(max(c) AS BIGINT) AS covered_tokens,
           CAST(max(total) AS BIGINT) AS total_tokens,
           ROUND(CAST(max(c) AS DOUBLE) / max(total), 6) AS coverage
    FROM kept GROUP BY lang ORDER BY lang
    """,
)
def l73_nucleus_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L73: nucleus (top-p) vocabulary truncation per language — the
    smallest frequency-ranked token prefix whose cumulative mass reaches
    p=0.95: the vocab-building step of tokenizer training (keep the
    nucleus, map the tail to <unk>) and the dual of L28's length
    histogram. A token is kept iff the mass BEFORE it is < p (so the
    boundary token that crosses p is included, and the set is minimal).
    All mass arithmetic is exact integer counts; the only floats are
    int/int divides, bit-identical in both engines. One token-count
    shuffle + one per-lang window — the 100 TB shape is a partial-agg
    vocabulary (bounded by vocab size, not corpus size) then a window
    over vocab entries only."""
    from pyspark.sql import Window

    tok = spark.table("documents").select(
        "lang", F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    ).filter(F.col("token") != "")
    cnt = tok.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token"))
    cum = cnt.select(
        "lang",
        "n",
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint").alias("c"),
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )
    tot = cnt.groupBy("lang").agg(F.sum("n").cast("bigint").alias("total"))
    kept = cum.join(tot, "lang").filter(
        (F.col("c") - F.col("n")).cast("double") / F.col("total") < _L73_P
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.max("rnk").cast("bigint").alias("vocab_size"),
            F.max("c").cast("bigint").alias("covered_tokens"),
            F.max("total").cast("bigint").alias("total_tokens"),
            F.round(
                F.max("c").cast("double") / F.max("total"), 6
            ).alias("coverage"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# l74: quantile normalization across feature columns
# ---------------------------------------------------------------------------

from pydatalake_gen2_spark.registry import sql_pair as _l74_sql_pair

_l74_sql_pair(
    "l74_quantile_normalize",
    """
    WITH long AS (
      SELECT 'quantity' AS col, CAST(l_quantity AS BIGINT) * 100 AS val,
             l_orderkey AS k1, l_linenumber AS k2 FROM lineitem
      UNION ALL
      SELECT 'discount', CAST(ROUND(l_discount * 100, 0) AS BIGINT),
             l_orderkey, l_linenumber FROM lineitem
      UNION ALL
      SELECT 'tax', CAST(ROUND(l_tax * 100, 0) AS BIGINT),
             l_orderkey, l_linenumber FROM lineitem),
    ranked AS (
      SELECT col, val,
             CAST(ROW_NUMBER() OVER (PARTITION BY col
                                     ORDER BY val, k1, k2) AS BIGINT) AS rn
      FROM long),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nrows FROM lineitem),
    ref AS (
      SELECT rn, CAST(sum(val) AS BIGINT) AS s
      FROM ranked GROUP BY rn),
    norm AS (
      SELECT r.col, r.rn, ref.s
      FROM ranked r JOIN ref ON r.rn = ref.rn)
    SELECT col,
           CAST(FLOOR(((rn - 1) * 10.0) / n.nrows) AS INT) AS decile,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(s) AS BIGINT) AS sum_ref_x3,
           ROUND(CAST(sum(s) AS DOUBLE) / (3 * count(*)) / 100, 6)
             AS avg_normalized
    FROM norm CROSS JOIN n
    GROUP BY col, CAST(FLOOR(((rn - 1) * 10.0) / n.nrows) AS INT)
    ORDER BY col, decile
    """,
    doc="L74: quantile normalization — the feature-prep transform that "
    "forces k columns onto an IDENTICAL distribution (rank each column, "
    "replace every value by the cross-column mean at its rank; the "
    "bioinformatics/batch-effect standard, and the 'make the feature "
    "marginals comparable' step before distance-based dedup or kNN). "
    "Inputs are exact integer cents/counts; the per-rank reference is "
    "an integer SUM (mean deferred to one final ROUND(6) divide), ties "
    "broken deterministically by (val, orderkey, linenumber). The "
    "certified output reports per (column, rank-decile) the normalized "
    "mean — identical across columns by construction, which IS the "
    "property QN promises. Scale: the rank is one sort-shuffle per "
    "column (window over partition col), the reference one partial-agg "
    "— at 100 TB this is the approx-quantile variant's exact baseline. "
    "One SQL text, both dialects.",
)


# ---------------------------------------------------------------------------
# l75: T5-style span-corruption masking plan
# ---------------------------------------------------------------------------

# md5-nibble decode shared by both dialects (l70's ascii arithmetic).
_L75_HEX = (
    "(CASE WHEN ascii(substr(md5(CAST(doc_id AS STRING) || ':' || "
    "CAST(blk AS STRING)), {p}, 1)) >= 97 "
    "THEN ascii(substr(md5(CAST(doc_id AS STRING) || ':' || "
    "CAST(blk AS STRING)), {p}, 1)) - 87 "
    "ELSE ascii(substr(md5(CAST(doc_id AS STRING) || ':' || "
    "CAST(blk AS STRING)), {p}, 1)) - 48 END)"
)

_L75_BODY = """
    WITH tok AS ({tok_src}),
    blk AS (
      SELECT doc_id, pos, token,
             CAST(FLOOR(pos / 10.0) AS BIGINT) AS blk
      FROM tok),
    keys AS (SELECT DISTINCT doc_id, blk FROM blk),
    h AS (
      SELECT doc_id, blk,
             CAST({h1} % 7 AS BIGINT) AS start_off,
             CAST({h2} % 3 + 1 AS BIGINT) AS span_len
      FROM keys),
    masked AS (
      SELECT b.doc_id, b.blk, b.pos, b.token
      FROM blk b JOIN h ON b.doc_id = h.doc_id AND b.blk = h.blk
      WHERE b.pos - b.blk * 10 >= h.start_off
        AND b.pos - b.blk * 10 < h.start_off + h.span_len)
    SELECT doc_id, CAST(blk AS BIGINT) AS span_id,
           CAST(min(pos) AS BIGINT) AS start_tok,
           CAST(count(*) AS BIGINT) AS n_tok,
           {span_agg} AS span_text
    FROM masked
    GROUP BY doc_id, blk
    ORDER BY doc_id, span_id
"""

_l74_sql_pair(
    "l75_span_corruption",
    _L75_BODY.format(
        tok_src="SELECT doc_id, posexplode(split(lower(text), ' '))"
        " AS (pos, token) FROM documents",
        h1=_L75_HEX.format(p=1),
        h2=_L75_HEX.format(p=2),
        span_agg="listagg(token, ' ') WITHIN GROUP (ORDER BY pos)",
    ),
    _L75_BODY.format(
        tok_src="SELECT doc_id, u.i - 1 AS pos, t[u.i] AS token FROM "
        "(SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),"
        " unnest(generate_series(1, len(t))) AS u(i)",
        h1=_L75_HEX.format(p=1),
        h2=_L75_HEX.format(p=2),
        span_agg="string_agg(token, ' ' ORDER BY pos)",
    ),
    doc="L75: T5/UL2-style span-corruption PLAN — the deterministic "
    "masking schedule a denoising-objective data pipeline materializes "
    "next to the tokens: each 10-token block independently selects one "
    "span (offset = md5-nibble % 7, length = md5-nibble % 3 + 1, keyed "
    "on (doc_id, block) — the l70 ascii-arithmetic hash, portable to "
    "both engines), emitting (span_id, start_tok, n_tok, masked text). "
    "Block-local selection is the scale trick: no sequential 'skip if "
    "overlapping previous span' dependency, so the plan is one explode "
    "+ one hash + one windowless join — embarrassingly parallel at "
    "100 TB where greedy span walks would serialize per document. "
    "~15% corruption rate (avg 2 of every 10 tokens), mean span 2; "
    "ordered listagg/string_agg certifies span text exactly. Dialect "
    "split: posexplode vs lateral unnest, listagg vs string_agg.",
)


# ---------------------------------------------------------------------------
# l76/l78: synthetic classifier scores for calibration audits
# ---------------------------------------------------------------------------

# Portable md5-nibble decode (functions_ext F-family idiom): three nibbles of
# a salted md5 give a deterministic 0..999 per-mille draw in BOTH dialects.
def _pm(salt: str) -> str:
    nib = (
        "(instr('0123456789abcdef', substring(md5('{s}:' || "
        "CAST(doc_id AS STRING)), {p}, 1)) - 1)"
    )
    return (
        "(("
        + nib.format(s=salt, p=1) + " * 256 + "
        + nib.format(s=salt, p=2) + " * 16 + "
        + nib.format(s=salt, p=3)
        + ") % 1000)"
    )


# Overconfident synthetic classifier: confidence is a uniform per-mille draw;
# the true-label rate runs ~15 points BELOW confidence (clipped at 0), so the
# calibration gap the audits certify is real and deterministic.
_CLF_BASE = f"""
      SELECT doc_id,
             {_pm('c')} AS conf_pm,
             CASE WHEN {_pm('y')} < GREATEST(0, {_pm('c')} - 150)
                  THEN 1 ELSE 0 END AS label
      FROM documents
"""

_sql_pair(
    "l78_ece_reliability",
    f"""
    WITH clf AS ({_CLF_BASE}),
    bins AS (
      SELECT CAST(FLOOR(CAST(conf_pm AS DOUBLE) / 100) AS INT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(conf_pm) AS BIGINT) AS sum_conf_pm,
             CAST(SUM(label) AS BIGINT) AS sum_label
      FROM clf GROUP BY CAST(FLOOR(CAST(conf_pm AS DOUBLE) / 100) AS INT))
    SELECT bin, n,
           ROUND(CAST(sum_conf_pm AS DOUBLE) / CAST(n AS DOUBLE) / 1000, 6)
             AS avg_confidence,
           ROUND(CAST(sum_label AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS accuracy,
           ROUND(CAST(ABS(1000 * sum_label - sum_conf_pm) AS DOUBLE)
                 / CAST(1000 * n AS DOUBLE), 6) AS abs_gap,
           ROUND(CAST(SUM(ABS(1000 * sum_label - sum_conf_pm)) OVER () AS DOUBLE)
                 / CAST(1000 * SUM(n) OVER () AS DOUBLE), 6) AS ece
    FROM bins ORDER BY bin
    """,
    doc="L78: expected calibration error (ECE) reliability audit — the "
        "trust-but-verify gate on any quality/toxicity classifier whose "
        "scores drive corpus filtering (keep-if-p>t is only as good as p). "
        "The synthetic classifier is deterministic md5-nibble arithmetic "
        "(portable strpos-on-hex idiom, no RNG) built overconfident by "
        "15 points, so the audit certifies a REAL gap. Per decile bin: "
        "mean confidence vs empirical accuracy; the headline ECE is "
        "sum_b |1000·labels_b - conf_pm_b| / (1000·N) — the weighted gap "
        "folded into EXACT integer arithmetic inside ABS (per-mille "
        "confidences are ints), one final divide ROUND(6), windowed "
        "total repeated per row. Scale: ONE partial+final agg over one "
        "scan (10 bins of 3 int64 partials cross the shuffle), then "
        "10-row window math. One SQL text, both dialects.",
)

_sql_pair(
    "l76_isotonic_calibration",
    f"""
    WITH clf AS ({_CLF_BASE}),
    bins AS (
      SELECT CAST(FLOOR(CAST(conf_pm AS DOUBLE) / 50) AS INT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS w,
             CAST(SUM(label) AS BIGINT) AS y
      FROM clf GROUP BY CAST(FLOOR(CAST(conf_pm AS DOUBLE) / 50) AS INT)),
    pre AS (
      SELECT bin, w, y,
             CAST(SUM(w) OVER (ORDER BY bin) AS BIGINT) AS cw,
             CAST(SUM(y) OVER (ORDER BY bin) AS BIGINT) AS cy
      FROM bins),
    pairs AS (
      SELECT lo.bin AS i, hi.bin AS j,
             CAST(hi.cy - lo.cy + lo.y AS DOUBLE)
               / CAST(hi.cw - lo.cw + lo.w AS DOUBLE) AS seg_avg
      FROM pre lo CROSS JOIN pre hi
      WHERE lo.bin <= hi.bin),
    revmin AS (
      SELECT i, j,
             MIN(seg_avg) OVER (
               PARTITION BY i ORDER BY j DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tail_min
      FROM pairs),
    fit AS (
      SELECT j AS bin, MAX(tail_min) AS fitted
      FROM revmin GROUP BY j)
    SELECT b.bin, b.w,
           ROUND(CAST(b.y AS DOUBLE) / CAST(b.w AS DOUBLE), 6) AS raw_rate,
           ROUND(f.fitted, 6) AS isotonic_rate,
           CASE WHEN f.fitted + 1e-12 >=
                     LAG(f.fitted, 1, CAST(0 AS DOUBLE))
                       OVER (ORDER BY b.bin)
                THEN 1 ELSE 0 END AS monotone_ok
    FROM bins b JOIN fit f ON b.bin = f.bin
    ORDER BY b.bin
    """,
    doc="L76: isotonic-regression calibration (pool-adjacent-violators) "
        "of the L78 overconfident classifier — the nonparametric score-"
        "to-probability map (sklearn's IsotonicRegression) that makes "
        "filter thresholds MEAN something. Implemented via the exact "
        "minimax identity g(k) = max_{{i<=k}} min_{{j>=k}} mean(y_i..y_j), "
        "equivalent to sequential PAV but expressible as pure set "
        "operations: bin the corpus (20 weighted bins — ONE partial+"
        "final agg, the only pass over data), prefix sums, the B² "
        "segment-average lattice, a reverse running MIN per start bin, "
        "and a GROUP-BY MAX per end bin (every (i,k) pair with i<=k is "
        "exactly the lattice row (i,j=k)). Segment means divide exact "
        "integer label/weight sums once; min/max over identical IEEE "
        "doubles are dialect-stable; fitted curve certified monotone via "
        "LAG. Scale: the O(B²)=400-row lattice never touches the corpus "
        "— binning is the 100 TB pass, PAV runs on the 20-row profile. "
        "One SQL text, both dialects.",
)


# ---------------------------------------------------------------------------
# l77: feature hashing (the hashing trick) over document tokens
# ---------------------------------------------------------------------------

def _l77_nib(p: int) -> str:
    return (
        "(instr('0123456789abcdef', substring(md5(token), "
        f"{p}, 1)) - 1)"
    )


_L77_BODY = f"""
    WITH tok AS (
      SELECT doc_id, {{tok}} AS token FROM documents),
    hashed AS (
      SELECT doc_id,
             ({_l77_nib(1)} * 16 + {_l77_nib(2)}) % 64 AS bucket,
             CASE WHEN {_l77_nib(3)} < 8 THEN 1 ELSE -1 END AS sgn
      FROM tok),
    docvec AS (
      SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS wt
      FROM hashed GROUP BY doc_id, bucket)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS touched_docs,
           CAST(SUM(CASE WHEN wt <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nnz_docs,
           CAST(SUM(wt) AS BIGINT) AS total_weight,
           CAST(SUM(wt * wt) AS BIGINT) AS sum_sq_weight,
           ROUND(CAST(SUM(wt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS mean_weight
    FROM docvec GROUP BY bucket ORDER BY bucket
    """

_sql_pair(
    "l77_feature_hashing",
    _L77_BODY.format(tok="explode(split(lower(text), ' '))"),
    _L77_BODY.format(tok="unnest(string_split(lower(text), ' '))"),
    doc="L77: the hashing trick (signed feature hashing, "
        "HashingVectorizer/Vowpal-Wabbit style) — tokens map to a FIXED "
        "64-bucket space via two md5 nibbles and carry a ±1 sign from a "
        "third, so the featurizer needs NO vocabulary pass, no "
        "dictionary broadcast, and no OOV path: the exact property that "
        "makes it the 100 TB-safe text featurizer (stateless, "
        "embarrassingly parallel, one partial+final agg per level). The "
        "sign trick makes collisions cancel in expectation (certified "
        "by mean_weight ≈ 0 against total/sum-sq mass). Everything is "
        "exact integer arithmetic off the portable instr-on-hex nibble "
        "decode; per-(doc,bucket) weights then per-bucket moments are "
        "two partial+final aggs — only (bucket, 4 int64) rows cross the "
        "final shuffle regardless of corpus size. Dialect split is only "
        "the token explode spelling.",
)


# ---------------------------------------------------------------------------
# lx_mmr_rerank: maximal-marginal-relevance diversified top-k
# ---------------------------------------------------------------------------

_MMR_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def _mmr_duck(k: int = 5, lam: str = "0.7") -> str:
    steps = []
    picks = ["p1"]
    steps.append(
        "p1 AS (SELECT vec_id, rel AS sc FROM pool "
        "ORDER BY rel DESC, vec_id LIMIT 1)"
    )
    for i in range(2, k + 1):
        prev_union = " UNION ALL ".join(f"SELECT vec_id FROM {p}" for p in picks)
        steps.append(
            f"p{i} AS (SELECT pool.vec_id, "
            f"{lam} * pool.rel - (1 - {lam}) * "
            f"(SELECT MAX(sim) FROM sims WHERE sims.a = pool.vec_id "
            f"AND sims.b IN ({prev_union})) AS sc "
            f"FROM pool WHERE pool.vec_id NOT IN ({prev_union}) "
            f"ORDER BY sc DESC, vec_id LIMIT 1)"
        )
        picks.append(f"p{i}")
    final = " UNION ALL ".join(
        f"SELECT {i + 1} AS step, vec_id, sc FROM {p}" for i, p in enumerate(picks)
    )
    cos_qc = _MMR_COS.format(a="qv", b="cv")
    cos_xy = _MMR_COS.format(a="x.cv", b="y.cv")
    return f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id > 0),
    pool AS (
      SELECT vec_id, cv, {cos_qc} AS rel
      FROM c CROSS JOIN q ORDER BY rel DESC, vec_id LIMIT 12),
    sims AS (
      SELECT x.vec_id AS a, y.vec_id AS b, {cos_xy} AS sim
      FROM pool x JOIN pool y ON x.vec_id <> y.vec_id),
    {', '.join(steps)}
    SELECT CAST(step AS BIGINT) AS step, vec_id, ROUND(sc, 4) AS mmr_score
    FROM ({final}) ORDER BY step
    """


def _mmr_pool(spark: SparkSession):
    """Relevance pool: the one corpus-scale stage (broadcast-cosine
    TakeOrdered top-12). Split out so tests can plan-gate it directly."""
    from pydatalake_gen2_spark.operators import vectors as V

    emb = spark.table("embeddings").select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    )
    anchor = emb.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return (
        emb.where(F.col("vec_id") > 0)
        .crossJoin(F.broadcast(anchor))
        .select("vec_id", "v", V.cosine(F.col("v"), F.col("qv")).alias("rel"))
        .orderBy(F.desc("rel"), "vec_id")
        .limit(12)
    )



@register(
    "lx_mmr_rerank",
    duck_sql=_mmr_duck(),
    doc="LX-MMR: maximal-marginal-relevance diversified rerank — the "
        "standard retrieval post-processor (Carbonell-Goldstein) that "
        "trades relevance against redundancy: greedily pick argmax "
        "lambda*rel - (1-lambda)*max_sim_to_picked (lambda=0.7, k=5) from a "
        "relevance top-12 pool. The RAG-context assembler next to "
        "lx_rrf_fusion (which merges RANKINGS; MMR shapes ONE ranking "
        "for diversity). Engine side: pool selection is the l03 "
        "broadcast-cosine TakeOrdered pass (the ONLY corpus-scale "
        "stage, linear scan + top-k heap at 100 TB); the 12x12 sim "
        "lattice and the k greedy steps are STATIC DataFrame ops "
        "(anti-join picked, max-sim agg, TakeOrdered(1)) — an unrolled "
        "fixed-k plan, no driver loop over data, every float op the "
        "proven bit-stable zip_with/aggregate dot product. Oracle: the "
        "identical greedy unroll as chained CTEs (iterative-op "
        "discipline). Ties break by vec_id in both. ROUND(4) display "
        "only — selection compares raw doubles both engines produce "
        "bit-identically.",
)
def lx_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydatalake_gen2_spark.operators import vectors as V

    lam = 0.7
    # Materialize the 12-row pool once (bounded codebook-style collect —
    # the IVF-centroid precedent): as lazy lineage every later reference
    # would replay the corpus cosine scan, and the step-k pick would
    # re-evaluate steps 1..k-1 twice each (2^k plan blowup — the
    # iterative-operator discipline). The corpus is scanned ONCE here.
    pool_src = _mmr_pool(spark)
    # Literal frames go through pandas/Arrow: list-of-Rows createDataFrame
    # builds a pickled-RDD scan that spins Python workers on EVERY job,
    # while the pandas path lands as a pure-JVM LocalTableScan (~30x
    # faster per greedy step here).
    import pandas as _pd

    _prows = pool_src.collect()
    pool = spark.createDataFrame(
        _pd.DataFrame(
            {
                "vec_id": [r["vec_id"] for r in _prows],
                "v": [list(r["v"]) for r in _prows],
                "rel": [r["rel"] for r in _prows],
            }
        ),
        schema=pool_src.schema,
    )
    x = pool.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    y = pool.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    sims = (
        x.crossJoin(y)
        .where(F.col("a") != F.col("b"))
        .select("a", "b", V.cosine(F.col("va"), F.col("vb")).alias("sim"))
    )
    rels = pool.select("vec_id", "rel")
    # Greedy selection: every SCORE is computed by JVM column expressions
    # (the bit-stable cosine + 0.7*rel - 0.3*maxsim), and only the single
    # winning row per step crosses the driver (bounded: k rows total) so
    # step k's plan never re-evaluates steps 1..k-1.
    first = (
        rels.orderBy(F.desc("rel"), "vec_id").limit(1).collect()[0]
    )
    picked = [(1, first["vec_id"], float(first["rel"]))]
    for step in range(2, 6):
        ids = [r[1] for r in picked]
        pick = (
            rels.where(~F.col("vec_id").isin(ids))
            .join(
                sims.where(F.col("b").isin(ids))
                .groupBy("a")
                .agg(F.max("sim").alias("ms")),
                rels["vec_id"] == F.col("a"),
            )
            .select(
                "vec_id",
                (F.lit(lam) * F.col("rel") - F.lit(1 - lam) * F.col("ms")).alias(
                    "sc"
                ),
            )
            .orderBy(F.desc("sc"), "vec_id")
            .limit(1)
            .collect()[0]
        )
        picked.append((step, pick["vec_id"], float(pick["sc"])))
    out = spark.createDataFrame(
        _pd.DataFrame(picked, columns=["step", "vec_id", "sc"]),
        schema="step long, vec_id long, sc double",
    )
    return out.select(
        "step", "vec_id", F.round("sc", 4).alias("mmr_score")
    ).orderBy("step")


# ---------------------------------------------------------------------------
# l79: corpus datasheet — the one-pass dataset card
# ---------------------------------------------------------------------------

_sql_pair(
    "l79_corpus_datasheet",
    """
    WITH base AS (
      SELECT doc_id, lang, source, n_chars,
             length(text) AS true_chars,
             CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END AS len_ok,
             md5(text) AS h
      FROM documents),
    dup AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique,
             CAST(SUM(true_chars) AS BIGINT) AS total_chars,
             CAST(MIN(true_chars) AS BIGINT) AS min_chars,
             CAST(MAX(true_chars) AS BIGINT) AS max_chars,
             CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY true_chars)
                  AS BIGINT) AS median_chars,
             CAST(SUM(len_ok) AS BIGINT) AS n_len_consistent,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      FROM base)
    SELECT n_docs, n_unique,
           ROUND(CAST(n_docs - n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
             AS exact_dup_rate,
           total_chars, min_chars, median_chars, max_chars,
           ROUND(CAST(total_chars AS DOUBLE) / CAST(n_docs AS DOUBLE), 4)
             AS mean_chars,
           n_len_consistent, n_langs, n_sources
    FROM dup
    """,
    doc="L79: the corpus DATASHEET — the one-pass dataset card (Gebru et "
        "al.'s 'Datasheets for Datasets' reduced to its computable core) "
        "every corpus release ships: volume (docs, chars), exact-dup "
        "rate (md5 distinct), length profile (min/median/max/mean, "
        "PERCENTILE_DISC so the median is an actual value), metadata "
        "cardinalities (langs, sources), and a metadata-integrity probe "
        "(n_chars column vs recomputed length — the kind of silent drift "
        "datasheets exist to catch). ONE partial+final aggregate over "
        "one scan: every statistic is mergeable (count, sum, min/max, "
        "distinct via partial sets/sketches at scale), so the card "
        "costs the scan the release job already pays. At 100 TB swap "
        "COUNT(DISTINCT) for G49's HLL partials and the discrete median "
        "for G18's approx_percentile — same card, same shape. One SQL "
        "text, both dialects.",
)


# ---------------------------------------------------------------------------
# l80: per-source Jensen-Shannon divergence vs the corpus distribution
# ---------------------------------------------------------------------------

_L80_SELECT = """
    SELECT g.source, ns AS n_tokens,
           CAST(SUM(CAST(ROUND(
                 CASE WHEN c IS NULL THEN 0.0
                      ELSE 0.5 * (CAST(c AS DOUBLE) / ns)
                           * LN((CAST(c AS DOUBLE) / ns)
                                / (0.5 * (CAST(c AS DOUBLE) / ns
                                          + CAST(ctot AS DOUBLE) / n))) END
               + 0.5 * (CAST(ctot AS DOUBLE) / n)
                     * LN((CAST(ctot AS DOUBLE) / n)
                          / (0.5 * (COALESCE(CAST(c AS DOUBLE), 0.0) / ns
                                    + CAST(ctot AS DOUBLE) / n))),
                 8) AS DECIMAL(20,8))) AS DOUBLE) AS js_vs_corpus,
           ROUND(CAST(SUM(CAST(ROUND(
                 CASE WHEN c IS NULL THEN 0.0
                      ELSE 0.5 * (CAST(c AS DOUBLE) / ns)
                           * LN((CAST(c AS DOUBLE) / ns)
                                / (0.5 * (CAST(c AS DOUBLE) / ns
                                          + CAST(ctot AS DOUBLE) / n))) END
               + 0.5 * (CAST(ctot AS DOUBLE) / n)
                     * LN((CAST(ctot AS DOUBLE) / n)
                          / (0.5 * (COALESCE(CAST(c AS DOUBLE), 0.0) / ns
                                    + CAST(ctot AS DOUBLE) / n))),
                 8) AS DECIMAL(20,8))) AS DOUBLE) / LN(2.0), 6) AS js_normalized
    FROM grid g
    LEFT JOIN st ON g.source = st.source AND g.tok = st.tok
    GROUP BY g.source, ns ORDER BY g.source
"""

_sql_pair(
    "l80_js_divergence",
    """
    WITH toks AS (
      SELECT source, explode(split(lower(text), ' ')) AS tok FROM documents),
    st AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
           FROM toks GROUP BY source, tok),
    stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM st GROUP BY source),
    ct AS (SELECT tok, CAST(sum(c) AS BIGINT) AS ctot FROM st GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM st),
    grid AS (
      SELECT stot.source, stot.ns, ct.tok, ct.ctot, tot.n
      FROM stot CROSS JOIN ct CROSS JOIN tot)
    """ + _L80_SELECT,
    """
    WITH toks AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
    st AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
           FROM toks GROUP BY source, tok),
    stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM st GROUP BY source),
    ct AS (SELECT tok, CAST(sum(c) AS BIGINT) AS ctot FROM st GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM st),
    grid AS (
      SELECT stot.source, stot.ns, ct.tok, ct.ctot, tot.n
      FROM stot CROSS JOIN ct CROSS JOIN tot)
    """ + _L80_SELECT,
    doc="L80: per-source Jensen-Shannon divergence JS(p_source, p_corpus) "
        "over unigram distributions — the SYMMETRIC, bounded ([0, ln 2]) "
        "companion to L58's KL: KL explodes when a source merely lacks a "
        "corpus-common token, JS stays finite and comparable across "
        "sources, which is why mixture-rebalance dashboards plot JS. "
        "Absent tokens contribute the exact 0.5*q*ln(2) mass via the "
        "source x vocab LEFT-JOIN grid (the grid is |sources| x |vocab| "
        "— tallies, never rows; at 100 TB both factors are post-agg "
        "metadata scales). Every count is an exact integer tally; each "
        "term is one IEEE expression ROUND(8)ed row-locally then summed "
        "EXACTLY as DECIMAL(20,8) (l58/gr07 discipline); js_normalized "
        "= JS/ln2 in [0,1] with a terminal ROUND(6).",
)


# ---------------------------------------------------------------------------
# lx_kmeans: distributed EXACT Lloyd k-means (2 rounds, integer arithmetic)
# ---------------------------------------------------------------------------


def _lx_kmeans_duck(k: int = 8, iters: int = 2) -> str:
    """lx_kmeans oracle: the shared exact-Lloyd prefix + the per-cluster
    size/inertia/centroid-prefix render."""
    body, final_a, final_c = _kmeans_stages_duck(k, iters)
    return f"""
    WITH {body}
    SELECT c.cid,
           CAST(COALESCE(s.n, 0) AS BIGINT) AS n_members,
           CAST(COALESCE(s.inertia, 0) AS BIGINT) AS inertia,
           c.c[1] AS c_0, c.c[2] AS c_1, c.c[3] AS c_2, c.c[4] AS c_3
    FROM {final_c} c LEFT JOIN (
      SELECT cid, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dist) AS BIGINT) AS inertia
      FROM {final_a} GROUP BY cid) s
    ON c.cid = s.cid
    ORDER BY c.cid
    """


@register("lx_kmeans", duck_sql=_lx_kmeans_duck())
def lx_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LX-KMEANS: distributed EXACT Lloyd k-means (k=8, 2 rounds) over
    1e-6-fixed-point-quantized embeddings — the clustering operator
    behind IVF cell assignment (lx_ivf_topk trains driver-side on a
    sample; THIS is the shape that trains on the full 100 TB corpus).
    Every step is exact integer arithmetic (operators/kmeans.py:
    int64 distances, min-(dist,cid)-struct argmin ties, floor-mean
    updates), so the result is bit-reproducible across engines,
    partitionings, and retries — the determinism float k-means cannot
    offer and the reason this pair can carry a DuckDB hash oracle at
    all (the oracle unrolls the identical recurrence). Per round: ONE
    map-only pass and one job — each task emits <= k int64 (cid, n,
    s[64]) partial-sum rows, the driver reduces them with Python ints,
    and the next round's centroids ride the UDF closure; no shuffle and
    no lineage growth (iterative-op discipline). Output: per-cluster
    size, exact inertia, first 4 centroid components."""
    from pydatalake_gen2_spark.operators import kmeans

    with Held() as held:
        pts = held.persist(kmeans.quantize(spark.table("embeddings")))
        cents, assigned = kmeans.lloyd(pts, k=8, iters=2, dim=64)
        stats = {
            r["cid"]: (r["n"], r["inertia"])
            for r in assigned.groupBy("cid")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dist").alias("inertia"))
            .collect()
        }
    import pandas as pd

    rows = [
        {
            "cid": j,
            "n_members": stats.get(j, (0, 0))[0],
            "inertia": stats.get(j, (0, 0))[1],
            "c_0": cents[j][0],
            "c_1": cents[j][1],
            "c_2": cents[j][2],
            "c_3": cents[j][3],
        }
        for j in range(8)
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows),
        schema="cid int, n_members bigint, inertia bigint, "
               "c_0 bigint, c_1 bigint, c_2 bigint, c_3 bigint",
    ).orderBy("cid")


# ---------------------------------------------------------------------------
# l81: dedup mixture-shift audit — which sources lose mass under dedup
# ---------------------------------------------------------------------------

_L81_BODY = """
    keep AS (SELECT h, min(doc_id) AS keeper FROM keyed GROUP BY h),
    flagged AS (
      SELECT k.source, k.tok_n,
             CASE WHEN k.doc_id = keep.keeper THEN 1 ELSE 0 END AS kept
      FROM keyed k JOIN keep ON k.h = keep.h),
    per_src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS docs_before,
             CAST(sum(kept) AS BIGINT) AS docs_after,
             CAST(sum(tok_n) AS BIGINT) AS toks_before,
             CAST(sum(kept * tok_n) AS BIGINT) AS toks_after
      FROM flagged GROUP BY source),
    tot AS (
      SELECT CAST(sum(toks_before) AS BIGINT) AS tb,
             CAST(sum(toks_after) AS BIGINT) AS ta
      FROM per_src)
    SELECT source, docs_before, docs_after, toks_before, toks_after,
           ROUND(CAST(toks_before AS DOUBLE) / tb, 6) AS share_before,
           ROUND(CAST(toks_after AS DOUBLE) / ta, 6) AS share_after,
           ROUND(CAST(toks_after AS DOUBLE) / ta
                 - CAST(toks_before AS DOUBLE) / tb, 6) AS share_shift
    FROM per_src CROSS JOIN tot
    ORDER BY source
"""

_sql_pair(
    "l81_dedup_mixture_shift",
    """
    WITH keyed AS (
      SELECT doc_id, source, md5(lower(text)) AS h,
             CAST(size(split(lower(text), ' ')) AS BIGINT) AS tok_n
      FROM documents),
    """ + _L81_BODY,
    """
    WITH keyed AS (
      SELECT doc_id, source, md5(lower(text)) AS h,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS tok_n
      FROM documents),
    """ + _L81_BODY,
    doc="L81: dedup mixture-shift audit — exact dedup (L01's min-doc_id "
        "keeper over the md5 text key) silently REWEIGHTS the corpus: a "
        "source whose documents duplicate heavily loses token share, "
        "changing the training mixture the pipeline thought it "
        "configured (the measured effect behind 'dedup moved my domain "
        "mix'). Per source: docs/tokens before vs after, exact integer "
        "tallies; token shares and the share_shift delta are terminal "
        "ROUND(6) rationals. At 100 TB this is L01's groupBy plus one "
        "per-source rollup — tallies, never rows, cross the second "
        "shuffle. Pairs with L14's temperature sampling (the knob you "
        "re-tune after reading this report) and L58/L80 (the "
        "distributional view of the same drift).",
)


# ---------------------------------------------------------------------------
# l83: cap-aware token-budget allocation (exact water-filling mix planner)
# ---------------------------------------------------------------------------

_L83_BODY = """
    tot AS (SELECT CAST(sum(toks) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS k FROM t),
    b AS (SELECT {i90} AS budget, total, k FROM tot),
    r AS (SELECT source, toks,
                 ROW_NUMBER() OVER (ORDER BY toks, source) AS rnk,
                 SUM(toks) OVER (ORDER BY toks, source
                                 ROWS UNBOUNDED PRECEDING) AS pfx
          FROM t),
    fs AS (
      SELECT r.*, b.budget, b.k,
             CASE WHEN toks * (k - rnk + 1) <= budget - (pfx - toks)
                  THEN 1 ELSE 0 END AS is_full
      FROM r CROSS JOIN b),
    agg AS (SELECT CAST(sum(is_full) AS BIGINT) AS rstar,
                   CAST(sum(CASE WHEN is_full = 1 THEN toks ELSE 0 END)
                        AS BIGINT) AS pfull
            FROM fs),
    lvl AS (
      SELECT rstar, pfull, budget, k,
             CASE WHEN k > rstar THEN {theta} ELSE CAST(0 AS BIGINT) END AS theta,
             CASE WHEN k > rstar THEN (budget - pfull) % (k - rstar)
                  ELSE CAST(0 AS BIGINT) END AS rem
      FROM agg CROSS JOIN b)
    SELECT f.source, f.toks,
           CASE WHEN f.is_full = 1 THEN f.toks
                ELSE l.theta + CASE WHEN f.rnk - l.rstar <= l.rem
                               THEN 1 ELSE 0 END END AS alloc_tokens,
           (f.is_full = 1) AS fully_taken,
           {ppm} AS take_rate_ppm
    FROM fs f CROSS JOIN lvl l
    ORDER BY f.source
"""

_L83_ALLOC = (
    "CASE WHEN f.is_full = 1 THEN f.toks "
    "ELSE l.theta + CASE WHEN f.rnk - l.rstar <= l.rem THEN 1 ELSE 0 END END"
)


def _l83_text(duck: bool) -> str:
    tok = (
        "len(string_split(lower(text), ' '))" if duck
        else "size(split(lower(text), ' '))"
    )
    dv = (lambda n, d: f"(({n}) // ({d}))") if duck else (
        lambda n, d: f"(({n}) div ({d}))"
    )
    head = f"""
    WITH t AS (
      SELECT source, CAST(sum({tok}) AS BIGINT) AS toks
      FROM documents GROUP BY source),"""
    return head + _L83_BODY.format(
        i90=dv("total * 9", "10"),
        theta=dv("budget - pfull", "k - rstar"),
        ppm=dv(f"({_L83_ALLOC}) * 1000000", "f.toks"),
    )


_sql_pair(
    "l83_token_budget_mix",
    _l83_text(False),
    _l83_text(True),
    doc="L83: cap-aware token-budget allocation — the water-filling mix "
        "planner behind 'train on B tokens, as uniformly across sources "
        "as their sizes allow': every source gets min(T_i, θ) tokens "
        "where the level θ solves Σ min(T_i, θ) = B (here B = 90% of "
        "corpus tokens, so the cap leg exercises at fixture scale), and "
        "the integer remainder goes to the first sources in (toks, "
        "source) order so Σ alloc == B EXACTLY. The whole solve is one "
        "sorted prefix-sum pass: sources ascending by size, source r is "
        "fully taken iff T_r·(k−r+1) ≤ B − prefix_{r−1} (an exact "
        "integer cross-multiplication — the standard water-filling "
        "prefix characterization), θ and the remainder are exact "
        "integer division on the survivors, take_rate_ppm is exact "
        "integer DIV. Complements l16 (unconstrained target/observed "
        "weights) and l14 (temperature reweighting): this is the "
        "EXACT-BUDGET, cap-feasible plan a 100 TB run actually "
        "schedules. Scale: one groupBy(source) token tally (partial-"
        "agg), then all planning over the k-row source table — k is "
        "thousands at worst, so the window sort is trivial.",
)


# ---------------------------------------------------------------------------
# lx_embedding_drift: exact fixed-point drift monitor between corpus halves
# ---------------------------------------------------------------------------

_LX_DRIFT_TAIL = """
    m AS (SELECT half, dim,
                 CASE WHEN s >= 0 THEN {sdivn}
                      ELSE -({negdivn}) END AS mu
          FROM x),
    j AS (SELECT a.dim, a.mu AS ma, b.mu AS mb
          FROM (SELECT * FROM m WHERE half = 0) a
          JOIN (SELECT * FROM m WHERE half = 1) b ON a.dim = b.dim),
    agg AS (
      SELECT CAST(sum(ma * mb) AS BIGINT) AS dot,
             CAST(sum(ma * ma) AS BIGINT) AS na,
             CAST(sum(mb * mb) AS BIGINT) AS nb,
             CAST(max(abs(ma - mb)) AS BIGINT) AS max_shift_micro,
             CAST(sum(abs(ma - mb)) AS BIGINT) AS sum_shift_micro
      FROM j),
    cnt AS (SELECT CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                   CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
            FROM e)
    SELECT cnt.n_a, cnt.n_b,
           CAST(dot AS DOUBLE)
             / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
             AS mean_cosine,
           agg.max_shift_micro,
           {avgshift} AS avg_shift_micro
    FROM agg CROSS JOIN cnt
"""


def _lx_drift_text(duck: bool) -> str:
    dv = (lambda n, d: f"(({n}) // ({d}))") if duck else (
        lambda n, d: f"(({n}) div ({d}))"
    )
    if duck:
        head = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, vec_id % 2 AS half
               FROM embeddings),
    x AS (SELECT half, g.d AS dim,
                 CAST(sum(CAST(floor(v[g.d] * 1000000 + 0.5) AS BIGINT))
                      AS BIGINT) AS s,
                 CAST(count(*) AS BIGINT) AS n
          FROM e CROSS JOIN generate_series(1, 64) AS g(d)
          GROUP BY half, g.d),"""
    else:
        head = """
    WITH e AS (SELECT vec_id, embedding AS v, vec_id % 2 AS half
               FROM embeddings),
    x AS (SELECT half, d + 1 AS dim,
                 CAST(sum(CAST(floor(CAST(el AS DOUBLE) * 1000000 + 0.5)
                               AS BIGINT)) AS BIGINT) AS s,
                 CAST(count(*) AS BIGINT) AS n
          FROM e LATERAL VIEW posexplode(v) t AS d, el
          GROUP BY half, d),"""
    return head + _LX_DRIFT_TAIL.format(
        sdivn=dv("s", "n"), negdivn=dv("-s", "n"),
        avgshift=dv("agg.sum_shift_micro", "64"),
    )


_sql_pair(
    "lx_embedding_drift",
    _lx_drift_text(False),
    _lx_drift_text(True),
    doc="LX-DRIFT: embedding-space drift monitor between two deterministic "
        "corpus halves (vec_id parity — in production: old vs new embedder "
        "version, or this week's ingest vs last week's): per-dimension "
        "1e-6 fixed-point mean vectors from EXACT integer sums (|q| <= "
        "~6e5, n <= millions keeps every sum < 2^53), truncating integer "
        "division to micro-unit means (CASE-symmetrized for negative "
        "sums so both dialects truncate identically), then cosine of the "
        "two mean vectors — dot and norms are int64-exact (|mu| <= 1e6, "
        "64 dims -> <= 6.4e13), only the final sqrt/divide is IEEE, so "
        "the whole statistic is bit-identical cross-engine — plus the "
        "max and average per-dimension micro-shift. A mean_cosine well "
        "below 1 or a max_dim shift spike is the canonical 'the embedder "
        "changed under you' alarm before any ANN index is rebuilt. "
        "Scale: ONE pass (explode 64 dims, partial-agg by (half, dim) -> "
        "128 rows), then O(1) planning — no pairwise anything.",
)


# ---------------------------------------------------------------------------
# l84: per-document n-gram novelty (memorization-risk audit)
# ---------------------------------------------------------------------------

_L84_DUCK = """
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sets AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(t) - 4),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                    || t[i+3] || ' ' || t[i+4])) AS sh
      FROM toks WHERE len(t) >= 5),
    inv AS (SELECT doc_id, unnest(sh) AS g FROM sets),
    df AS (SELECT g, CAST(count(*) AS BIGINT) AS dfreq FROM inv GROUP BY g),
    per AS (
      SELECT i.doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN d.dfreq = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM inv i JOIN df d ON i.g = d.g
      GROUP BY i.doc_id)
    SELECT doc_id, n_shingles, n_novel,
           (n_novel * 1000000) // n_shingles AS novelty_ppm
    FROM per ORDER BY doc_id
"""


@register("l84_ngram_novelty", duck_sql=_L84_DUCK)
def l84_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L84: per-document 5-gram NOVELTY — the fraction of a document's
    distinct 5-gram shingles that appear in NO other document. The
    memorization-risk / content-originality audit run before a corpus
    release: a document whose novelty_ppm collapses is mostly verbatim
    boilerplate shared with the rest of the corpus (the inverse view of
    near-dup detection — L36 finds the PAIRS, this scores each doc's
    exposure), and test-split docs with low novelty against train are
    leakage candidates (L60's per-doc companion). Exact integers
    end-to-end: shingle document frequency via one partial-agg groupBy,
    per-doc tallies via the inverted-index join, novelty as exact ppm
    integer division. Scale: the inverted index is the same
    explode->groupBy shape as L36's shingle build — near-linear in
    corpus size, hot-shingle capped upstream if a real corpus needs it
    (dedup.exact_jaccard_pairs' max_df note)."""
    from pydatalake_gen2_spark.operators.dedup import distinct_shingle_sets

    sets = distinct_shingle_sets(spark.table("documents"), n=5)
    inv = sets.select("doc_id", F.explode("toks").alias("g"))
    dfreq = inv.groupBy("g").agg(F.count(F.lit(1)).alias("dfreq"))
    per = (
        inv.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("dfreq") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return per.select(
        "doc_id", "n_shingles", "n_novel",
        F.expr("(n_novel * 1000000) div n_shingles").alias("novelty_ppm"),
    ).orderBy("doc_id")
