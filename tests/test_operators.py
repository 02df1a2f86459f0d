"""Unit tests for engine helper operators with planted edge cases
(SURVEY.md §5.2.4): empty groups, null keys, ties, unmatched rows."""

from __future__ import annotations

import datetime as dt

from pydatalake_gen2_spark.operators.asof import asof_join


def _ts(m, s=0):
    return dt.datetime(2024, 1, 1, 0, m, s)


def test_asof_basic_and_ties(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "p1"), (1, _ts(20), "p2"), (2, _ts(5), "p3"), (3, _ts(1), "p4")],
        "k BIGINT, ts TIMESTAMP, name STRING",
    )
    right = spark.createDataFrame(
        [
            (1, _ts(10), 100, 1.0),  # equal ts → inclusive match for p1
            (1, _ts(15), 101, 2.0),
            (1, _ts(15), 102, 3.0),  # tie on ts → max rid wins
            (2, _ts(9), 103, 4.0),  # after left ts → no match for p3
        ],
        "k BIGINT, ts TIMESTAMP, rid BIGINT, v DOUBLE",
    )
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        right_order="rid", carry=["rid", "v"], how="left",
    )
    got = {r["name"]: (r["asof_rid"], r["asof_v"]) for r in out.collect()}
    assert got == {
        "p1": (100, 1.0),      # inclusive <=
        "p2": (102, 3.0),      # tie resolved to max rid
        "p3": (None, None),    # right row is later than left
        "p4": (None, None),    # key with no right rows at all
    }


def test_asof_inner_drops_unmatched(spark):
    left = spark.createDataFrame([(1, _ts(10)), (9, _ts(10))], "k BIGINT, ts TIMESTAMP")
    right = spark.createDataFrame([(1, _ts(1), 7)], "k BIGINT, ts TIMESTAMP, rid BIGINT")
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        right_order="rid", carry=["rid"], how="inner",
    )
    assert [r["k"] for r in out.collect()] == [1]


def test_salted_join_equals_plain_join(spark, sf_dir):
    """The salt must be invisible in the result: salted inner/left joins
    return exactly the plain joins' multisets."""
    from pydatalake_gen2_spark.operators.joins import salted_join
    from pydatalake_gen2_spark.registry import ensure_views

    ensure_views(spark, sf_dir)
    li = spark.table("lineitem").select("l_orderkey", "l_linenumber", "l_suppkey")
    sup = spark.table("supplier")
    for how in ("inner", "left"):
        plain = sorted(
            tuple(r) for r in li.join(
                sup, li["l_suppkey"] == sup["s_suppkey"], how
            ).select("l_orderkey", "l_linenumber", "s_name").collect()
        )
        salted = sorted(
            tuple(r) for r in salted_join(li, sup, "l_suppkey", "s_suppkey", 8, how)
            .select("l_orderkey", "l_linenumber", "s_name").collect()
        )
        assert salted == plain, how


# -- hypothesis: asof_join vs DuckDB's native ASOF JOIN on random data ----
import datetime as _dt

import duckdb as _duck
import pandas as _pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_EPOCH = _dt.datetime(2024, 1, 1)


def _ts(offset: int) -> _dt.datetime:
    return _EPOCH + _dt.timedelta(seconds=int(offset))


@st.composite
def _asof_case(draw):
    keys = draw(st.lists(st.integers(0, 3), min_size=1, max_size=6))
    left = [(k, draw(st.integers(0, 100))) for k in keys]
    # right timestamps unique per key so the asof pick is unambiguous
    right = []
    rid = 0
    for k in range(4):
        for t in sorted(draw(st.sets(st.integers(0, 100), max_size=5))):
            right.append((k, t, rid))
            rid += 1
    return left, right


@given(_asof_case())
@settings(
    deadline=None,
    max_examples=12,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_asof_join_matches_duckdb_asof(spark, case):
    left, right = case
    lpd = _pd.DataFrame(
        [(i, k, _ts(t)) for i, (k, t) in enumerate(left)],
        columns=["lid", "user_id", "lts"],
    )
    rpd = _pd.DataFrame(
        [(k, _ts(t), rid) for (k, t, rid) in right],
        columns=["user_id", "rts", "rid"],
    )
    from pydatalake_gen2_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(lpd)
    rdf = (
        spark.createDataFrame(rpd)
        if len(rpd)
        else spark.createDataFrame([], "user_id LONG, rts TIMESTAMP, rid LONG")
    )
    res = asof_join(
        ldf, rdf, on="user_id", left_ts="lts", right_ts="rts",
        right_order="rid", carry=["rid"], how="left",
    )
    got = sorted(
        (r["lid"], r["asof_rid"]) for r in res.select("lid", "asof_rid").collect()
    )
    con = _duck.connect()
    con.register("l", lpd)
    con.register("r", rpd)
    if len(rpd):
        want = sorted(
            con.execute(
                """
                SELECT l.lid, r.rid FROM l
                ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.lts >= r.rts
                ORDER BY l.lid
                """
            ).fetchall()
        )
    else:
        want = sorted((int(i), None) for i in lpd["lid"])
    assert got == want


def test_connected_components_vs_union_find(spark):
    """Min-label propagation must equal a reference union-find on a graph
    with transitive chains, a cycle, and disjoint clusters."""
    from pydatalake_gen2_spark.operators.dedup import connected_components

    edges = [
        (1, 2), (2, 3), (3, 4),          # chain -> component 1
        (10, 11), (11, 12), (12, 10),    # cycle -> component 10
        (20, 21),                        # pair -> component 20
        (30, 31), (32, 31), (33, 32), (34, 33),  # zig-zag chain -> 30
    ]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}

    df = spark.createDataFrame(edges, "id_a BIGINT, id_b BIGINT")
    got = {
        r["id"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == want


def test_dedup_clusters_keeper_semantics(spark):
    """Each emitted doc carries its component's min id; exactly the min
    doc is flagged keep=true."""
    from pydatalake_gen2_spark.operators.dedup import dedup_clusters

    base = "the quick brown fox jumps over the lazy dog by the river bank"
    rows = [
        (1, base), (2, base + " today"), (3, base + " now"),  # one cluster
        (50, "completely different text about spark shuffles and joins ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = dedup_clusters(df, tau=0.3).collect()
    comp = {r["doc_id"]: (r["component"], r["keep"]) for r in out}
    assert comp[1] == (1, True)
    assert comp[2] == (1, False) and comp[3] == (1, False)
    assert 50 not in comp  # singleton: no pair, keeps itself implicitly


def test_compaction_layout_file_counts(spark, sf_dir):
    """s12: after compaction each partition directory holds
    ceil(rows/maxRecordsPerFile) files — one writer task per directory,
    no small-file spray."""
    import glob
    import os

    from pydatalake_gen2_spark.registry import load_all
    from pydatalake_gen2_spark.queries.scans import _tmp

    load_all()["s12_compaction_layout"].spark_fn(spark, sf_dir).collect()
    root = _tmp("s12_compact", sf_dir)
    dirs = [d for d in glob.glob(os.path.join(root, "l_returnflag=*"))]
    assert dirs, root
    for d in dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        n_rows = spark.read.parquet(d).count()
        import math

        assert len(files) == math.ceil(n_rows / 500_000), (d, len(files), n_rows)


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=25,
    )
)
@settings(
    deadline=None,
    max_examples=10,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_connected_components_random_graphs(spark, edges):
    """Hypothesis: min-label propagation equals union-find on arbitrary
    random graphs (self-loops excluded, duplicates/antiparallel allowed)."""
    from pydatalake_gen2_spark.operators.dedup import connected_components

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}

    df = spark.createDataFrame(edges, "id_a BIGINT, id_b BIGINT")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == want


def test_weighted_reservoir_exact_vs_numpy(spark, sf_dir):
    """The Spark ES top-k must equal a from-scratch recomputation of the
    u^(1/w) ordering (hashlib + float pow) on the same rows."""
    import hashlib

    from pyspark.sql import functions as F

    from pydatalake_gen2_spark.operators import sampling

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
    got = sampling.weighted_reservoir_k(d, F.col("n_chars"), "doc_id", k=25).collect()

    rows = d.collect()

    def es_key(doc_id, w):
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
        u = (h + 0.5) / 4294967296.0
        return u ** (1.0 / float(w))

    expect = sorted(
        ((es_key(r.doc_id, r.n_chars), r.doc_id) for r in rows),
        key=lambda t: (-t[0], t[1]),
    )[:25]
    assert [r.doc_id for r in got] == [doc_id for _, doc_id in expect]
    for r, (key, _) in zip(got, expect):
        assert abs(r.es_key - key) < 1e-12


def test_weighted_reservoir_partitioning_and_rescale_invariant(spark, sf_dir):
    """Same selection under (a) any input partitioning and (b) rescaling
    every weight by a constant (u^(1/(c*w)) is a monotone transform)."""
    from pyspark.sql import functions as F

    from pydatalake_gen2_spark.operators import sampling

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
    base = [
        r.doc_id
        for r in sampling.weighted_reservoir_k(d, F.col("n_chars"), "doc_id", 20).collect()
    ]
    shuffled = [
        r.doc_id
        for r in sampling.weighted_reservoir_k(
            d.repartition(13), F.col("n_chars"), "doc_id", 20
        ).collect()
    ]
    rescaled = [
        r.doc_id
        for r in sampling.weighted_reservoir_k(
            d, F.col("n_chars") * 7, "doc_id", 20
        ).collect()
    ]
    assert base == shuffled == rescaled


def test_weighted_bernoulli_matches_inline_predicate(spark, sf_dir):
    """Library op must reproduce l18's registered predicate exactly."""
    from pyspark.sql import functions as F

    from pydatalake_gen2_spark.operators import sampling

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(
        r.doc_id
        for r in sampling.weighted_bernoulli(d, F.col("n_chars"), "doc_id", 512)
        .select("doc_id")
        .collect()
    )
    h32 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )
    expect = sorted(
        r.doc_id
        for r in d.filter(
            h32 < F.least(F.lit(4294967296), F.col("n_chars").cast("bigint") * 8388608)
        )
        .select("doc_id")
        .collect()
    )
    assert got == expect and len(got) > 0


def test_line_dedup_delim_mode_keeps_first_occurrence(spark):
    from pydatalake_gen2_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        [
            (1, "alpha\nshared line\nbeta"),
            (2, "shared line\ngamma\nshared line"),  # dup across docs AND within doc
            (3, "shared line"),  # every line dropped -> empty doc survives
        ],
        "doc_id BIGINT, text STRING",
    )
    out = {r.doc_id: r for r in line_dedup(df, delim="\n").collect()}
    assert out[1].text_clean == "alpha\nshared line\nbeta"
    assert (out[1].n_kept, out[1].n_dropped) == (3, 0)
    assert out[2].text_clean == "gamma"  # both 'shared line' copies dropped
    assert (out[2].n_kept, out[2].n_dropped) == (1, 2)
    assert out[3].text_clean == "" and (out[3].n_kept, out[3].n_dropped) == (0, 1)


def test_line_dedup_block_mode_preserves_token_multiset(spark):
    """Block mode with all-unique blocks must reassemble text verbatim."""
    from pydatalake_gen2_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h")],  # 5 and 3 tokens, block=2
        "doc_id BIGINT, text STRING",
    )
    out = {r.doc_id: r for r in line_dedup(df, delim=None, block=2).collect()}
    assert out[1].text_clean == "a b c d e" and out[1].n_kept == 3
    assert out[2].text_clean == "f g h" and out[2].n_kept == 2


def test_chunk_tokens_coverage_and_overlap(spark):
    from pydatalake_gen2_spark.operators.text import chunk_tokens

    toks = [f"w{i}" for i in range(10)]
    df = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "x")], "doc_id BIGINT, text STRING"
    )
    rows = chunk_tokens(df, size=4, stride=3).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r
    # doc 1: n=10, size=4, stride=3 -> 1 + ceil(6/3) = 3 chunks
    c = by_doc[1]
    assert [c[i].chunk_text for i in range(3)] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9",
    ]
    assert [c[i].n_tokens for i in range(3)] == [4, 4, 4]
    # every token covered
    covered = set(t for i in c for t in c[i].chunk_text.split())
    assert covered == set(toks)
    # short doc -> exactly one short chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0].n_tokens == 1


def test_chunk_tokens_rejects_bad_stride(spark):
    import pytest as _pytest

    from pydatalake_gen2_spark.operators.text import chunk_tokens

    df = spark.createDataFrame([(1, "a b")], "doc_id BIGINT, text STRING")
    with _pytest.raises(ValueError):
        chunk_tokens(df, size=4, stride=5)
    with _pytest.raises(ValueError):
        chunk_tokens(df, size=0, stride=0)


def test_scd2_merge_edge_keys(spark):
    """Keys only in dim pass through; keys only in batch start at v1;
    overlapping keys close out and continue numbering."""
    from pydatalake_gen2_spark.operators.merge import scd2_history, scd2_merge

    early = spark.createDataFrame(
        [(1, _ts(1), "a"), (1, _ts(2), "b"), (2, _ts(1), "x")],
        "k BIGINT, ts TIMESTAMP, v STRING",
    )
    late = spark.createDataFrame(
        [(1, _ts(10), "c"), (3, _ts(10), "n")],
        "k BIGINT, ts TIMESTAMP, v STRING",
    )
    merged = scd2_merge(
        scd2_history(early, ["k"], "ts", ["v"]), late, ["k"], "ts", ["v"]
    )
    rebuild = scd2_history(early.union(late), ["k"], "ts", ["v"])
    key = lambda r: (r.k, r.version)  # noqa: E731
    m = sorted(([r.k, r.v, r.valid_from, r.valid_to, r.is_current, r.version]
                for r in merged.collect()))
    f = sorted(([r.k, r.v, r.valid_from, r.valid_to, r.is_current, r.version]
                for r in rebuild.collect()))
    assert m == f
    cur = {r.k: r.v for r in merged.filter("is_current").collect()}
    assert cur == {1: "c", 2: "x", 3: "n"}


def test_bm25_favors_rarer_terms(spark):
    from pydatalake_gen2_spark.operators.text import bm25_scores

    df = spark.createDataFrame(
        [
            (1, "rare common common common"),
            (2, "common common common common"),
            (3, "common filler filler filler"),
            (4, "filler filler filler filler"),
        ],
        "doc_id BIGINT, text STRING",
    )
    out = {r.doc_id: r for r in bm25_scores(df, ["rare", "common"]).collect()}
    assert 4 not in out  # no query term -> no row
    assert out[1].rn == 1  # only doc with the rare term ranks first
    assert out[1].bm25 > out[2].bm25 > 0


def test_span_dedup_removes_copied_span_keeps_first(spark):
    from pydatalake_gen2_spark.operators.dedup import span_dedup

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l"),       # original span
            (2, "x y a b c d e f g h i j q r"),   # embeds a copy of the 10-gram
            (3, "p q r s"),                        # shorter than L -> untouched
        ],
        "doc_id BIGINT, text STRING",
    )
    out = {r.doc_id: r for r in span_dedup(df, L=10).collect()}
    assert out[1].text_clean == "a b c d e f g h i j k l" and out[1].n_removed == 0
    assert out[2].text_clean == "x y q r" and out[2].n_removed == 10
    assert out[3].text_clean == "p q r s" and out[3].n_removed == 0


def test_interval_overlap_join_exactly_once_across_bins(spark):
    """Intervals overlapping across MANY shared bins must emit one row;
    touching endpoints count as overlap; disjoint intervals none."""
    from pydatalake_gen2_spark.operators.joins import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 1, 0, 1000), (2, 1, 5000, 5010), (3, 2, 0, 100)],
        "lid BIGINT, k BIGINT, s1 BIGINT, e1 BIGINT",
    )
    right = spark.createDataFrame(
        [(10, 1, 990, 3000),   # overlaps lid=1 across bins (width 100)
         (11, 1, 1000, 1000),  # touches lid=1 endpoint exactly
         (12, 1, 4000, 4500),  # disjoint from both
         (13, 2, 100, 200)],   # touches lid=3 at 100
        "rid BIGINT, k BIGINT, s2 BIGINT, e2 BIGINT",
    )
    got = sorted(
        (r.lid, r.rid)
        for r in interval_overlap_join(
            left, right, ["k"], "s1", "e1", "s2", "e2", bin_width=100
        ).collect()
    )
    assert got == [(1, 10), (1, 11), (3, 13)]


def test_text_ops_are_total_over_null_text(spark):
    """Docs with NULL text must flow through (as empty), not vanish."""
    from pydatalake_gen2_spark.operators.dedup import line_dedup, span_dedup
    from pydatalake_gen2_spark.operators.text import char_entropy, chunk_tokens

    df = spark.createDataFrame(
        [(1, None), (2, "a b c")], "doc_id BIGINT, text STRING"
    )
    ld = {r.doc_id for r in line_dedup(df, delim=None, block=2).collect()}
    sd = {r.doc_id for r in span_dedup(df, L=2).collect()}
    ck = {r.doc_id for r in chunk_tokens(df, size=2, stride=2).collect()}
    assert ld == sd == ck == {1, 2}
    # char_entropy explodes raw text chars; null text has none -> doc 1
    # legitimately absent there (documented: entropy needs content)
    ce = {r.doc_id for r in char_entropy(df).collect()}
    assert ce == {2}


def test_interval_overlap_join_matches_bruteforce_random(spark):
    """Randomized (seeded) intervals vs a Python brute force, across
    bin widths smaller/larger than typical interval length."""
    import random

    from pydatalake_gen2_spark.operators.joins import interval_overlap_join

    rng = random.Random(31)
    L = [(i, rng.randrange(4), *sorted((rng.randrange(0, 3000), rng.randrange(0, 3000))))
         for i in range(60)]
    R = [(i, rng.randrange(4), *sorted((rng.randrange(0, 3000), rng.randrange(0, 3000))))
         for i in range(60)]
    want = sorted(
        (l[0], r[0])
        for l in L for r in R
        if l[1] == r[1] and l[2] <= r[3] and r[2] <= l[3]
    )
    lf = spark.createDataFrame(L, "lid BIGINT, k BIGINT, s1 BIGINT, e1 BIGINT")
    rf = spark.createDataFrame(R, "rid BIGINT, k BIGINT, s2 BIGINT, e2 BIGINT")
    for bw in (50, 700, 10000):
        got = sorted(
            (r.lid, r.rid)
            for r in interval_overlap_join(
                lf, rf, ["k"], "s1", "e1", "s2", "e2", bin_width=bw
            ).collect()
        )
        assert got == want, f"bin_width={bw}"


def test_chunk_tokens_param_matrix(spark):
    """Chunk-count formula, full coverage, and overlap width across a
    size/stride matrix."""
    from pydatalake_gen2_spark.operators.text import chunk_tokens

    docs = [(n, " ".join(f"t{i}" for i in range(n))) for n in (1, 5, 64, 65, 200)]
    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    for size, stride in ((8, 8), (8, 5), (64, 48), (3, 1)):
        rows = chunk_tokens(df, size=size, stride=stride).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        for n, _ in docs:
            cs = sorted(by_doc[n], key=lambda r: r.chunk_id)
            expect_chunks = 1 + -(-max(0, n - size) // stride)
            assert len(cs) == expect_chunks, (n, size, stride)
            toks = [f"t{i}" for i in range(n)]
            covered = [t for r in cs for t in r.chunk_text.split()]
            assert set(covered) == set(toks), (n, size, stride)
            assert cs[-1].n_tokens == min(n - (len(cs) - 1) * stride, size)


def test_fuzzy_pairs_matches_bruteforce(spark):
    """Blocking recall is exact for arbitrary length spreads (incl.
    values whose lengths differ by exactly k and by k+1)."""
    import itertools

    from pydatalake_gen2_spark.operators.joins import fuzzy_pairs

    vals = ["a", "ab", "abc", "abcd", "abcde", "kitten", "sitting",
            "flaw", "lawn", "zzzzzzzzzz", None, "abc"]
    df = spark.createDataFrame([(v,) for v in vals], "name STRING")
    clean = sorted(set(v for v in vals if v is not None))

    def lev(x, y):
        prev = list(range(len(y) + 1))
        for i, cx in enumerate(x, 1):
            cur = [i]
            for j, cy in enumerate(y, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (cx != cy)))
            prev = cur
        return prev[-1]

    for k in (1, 2, 3):
        want = sorted(
            (a, b, lev(a, b))
            for a, b in itertools.combinations(clean, 2)
            if lev(a, b) <= k
        )
        got = sorted(
            (r.val_a, r.val_b, r.distance)
            for r in fuzzy_pairs(df, "name", k=k).collect()
        )
        assert got == want, k


def test_sorted_layout_files_are_disjoint(spark, sf_dir):
    """s13's files must cover non-overlapping l_shipdate ranges (the
    zone-map property that lets a date predicate skip whole files)."""
    from pydatalake_gen2_spark.registry import load_all

    load_all()["s13_sorted_layout"].spark_fn(spark, sf_dir).collect()  # materialize
    import glob as _glob

    import pyarrow.parquet as pq

    from pydatalake_gen2_spark.queries.scans import _tmp

    ranges = []
    for f in _glob.glob(f"{_tmp('s13_sorted', sf_dir)}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "l_shipdate"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) > 1
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (hi1, lo2)


def test_nearest_join_matches_bruteforce_random(spark):
    """nearest_join (bidirectional as-of) vs a Python brute force on
    seeded random timestamps, including equal-ts collisions and the
    tie rules: equal |dt| -> earlier right row; equal right ts -> min id."""
    import datetime
    import random

    from pydatalake_gen2_spark.operators.asof import nearest_join

    rng = random.Random(7)
    base = datetime.datetime(2024, 1, 1)

    def t(sec):
        return base + datetime.timedelta(seconds=sec)

    # coarse grid forces equal-ts and equal-distance ties
    L = [(i, rng.randrange(3), t(rng.randrange(0, 40) * 10)) for i in range(50)]
    R = [(100 + i, rng.randrange(3), t(rng.randrange(0, 40) * 10)) for i in range(50)]

    want = {}
    for lid, lk, lts in L:
        best = None
        for rid, rk, rts in R:
            if rk != lk:
                continue
            d = abs(int((rts - lts).total_seconds() * 1_000_000))
            # order: smaller distance, earlier right ts, smaller id
            cand = (d, rts, rid)
            if best is None or cand < best:
                best = cand
        if best is not None:
            want[lid] = (best[2], best[0])

    lf = spark.createDataFrame(L, "lid BIGINT, k BIGINT, ts TIMESTAMP")
    rf = spark.createDataFrame(R, "rid BIGINT, k BIGINT, ts TIMESTAMP")
    got = {
        r.lid: (r.nearest_rid, r.dist_us)
        for r in nearest_join(
            lf, rf, on="k", left_ts="ts", right_ts="ts",
            right_id="rid", carry=["rid"], how="inner",
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------- bloom


def test_bloom_no_false_negatives_and_bounded_fpp(spark):
    from pydatalake_gen2_spark.operators.bloom import build_bloom, might_contain
    import pyspark.sql.functions as F

    M, K = 1 << 14, 7
    keys = spark.range(500).select(F.concat(F.lit("key-"), F.col("id")).alias("k"))
    bloom = build_bloom(keys, "k", M, K)
    words = bloom.collect()[0].bloom_words
    assert len(words) == M // 64

    probe = spark.range(2000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )  # first 500 inserted, rest 1500 absent
    hits = (
        probe.join(F.broadcast(bloom))
        .filter(might_contain(F.col("k"), F.col("bloom_words"), M, K))
        .select("k")
        .collect()
    )
    hit_ids = {int(r.k.split("-")[1]) for r in hits}
    # no false negatives: every inserted key must probe true
    assert set(range(500)) <= hit_ids
    # bounded false positives: m/n=32.8 bits/key, k=7 → theoretical fpp
    # ~0.4%; allow 10x slack for hash correlation
    assert len(hit_ids - set(range(500))) <= 60


def test_zorder_file_skipping(spark, sf_dir):
    """s18's z-ordered files must be prunable on BOTH columns: for a box
    predicate in the low quadrant of (l_partkey, l_suppkey), a
    substantial fraction of files' footer [min,max] ranges must miss the
    box on each dimension — the 2-d zone-map property 1-d sorting lacks."""
    import glob as _glob

    import pyarrow.parquet as pq

    from pydatalake_gen2_spark.registry import load_all

    load_all()["s18_zorder_layout"].spark_fn(spark, sf_dir).collect()
    from pydatalake_gen2_spark.queries.scans import _tmp

    boxes = []
    for f in _glob.glob(f"{_tmp('s18_zorder', sf_dir)}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        stats = {"l_partkey": [], "l_suppkey": []}
        for rg in range(md.num_row_groups):
            for i in range(md.num_columns):
                col = md.row_group(rg).column(i)
                if col.path_in_schema in stats:
                    stats[col.path_in_schema].append(
                        (col.statistics.min, col.statistics.max)
                    )
        boxes.append(
            tuple(
                (min(lo for lo, _ in v), max(hi for _, hi in v))
                for v in (stats["l_partkey"], stats["l_suppkey"])
            )
        )
    assert len(boxes) > 4
    max_a = max(hi for (_, hi), _ in boxes)
    max_b = max(hi for _, (_, hi) in boxes)
    # box predicate: both keys in their lowest quartile
    qa, qb = max_a / 4, max_b / 4
    surviving = [
        1
        for (alo, ahi), (blo, bhi) in boxes
        if alo <= qa and blo <= qb  # file COULD contain matching rows
    ]
    # z-ordering must let the 2-d predicate skip at least half the files
    assert len(surviving) <= len(boxes) / 2, (len(surviving), len(boxes))


def test_global_row_ids_exact_and_contiguous(spark, sf_dir):
    from pydatalake_gen2_spark.operators.rowid import global_row_ids
    from pydatalake_gen2_spark.operators.util import release_persisted

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = global_row_ids(df, ["o_orderkey"], num_partitions=7)
    rows = out.select("o_orderkey", "row_id").collect()
    release_persisted()
    by_key = sorted(rows, key=lambda r: r["o_orderkey"])
    assert [r["row_id"] for r in by_key] == list(range(1, len(rows) + 1))


def test_global_row_ids_random_partitions(spark, sf_dir):
    """Ids must be invariant to the partition count (range boundaries are
    an implementation detail; offset+local_rank is always the global rank)."""
    from pydatalake_gen2_spark.operators.rowid import global_row_ids
    from pydatalake_gen2_spark.operators.util import release_persisted

    df = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    expect = None
    for nparts in (1, 3, 13):
        out = global_row_ids(df, ["event_id"], num_partitions=nparts)
        got = sorted(
            (r["event_id"], r["row_id"])
            for r in out.select("event_id", "row_id").collect()
        )
        release_persisted()
        if expect is None:
            expect = got
        assert got == expect, nparts


def test_snapshot_diff_classes_are_disjoint_and_complete(spark, sf_dir):
    from pydatalake_gen2_spark.registry import load_all

    df = load_all()["j23_snapshot_diff"].spark_fn(spark, sf_dir)
    rows = df.collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["change_type"], []).append(r)
    # deletes: %10==3 keys; inserts: negative keys; updates: %10==4 keys
    assert all(r["c_custkey"] % 10 == 3 for r in by_type.get("D", []))
    assert all(r["c_custkey"] < 0 for r in by_type.get("I", []))
    assert all(
        r["c_custkey"] % 10 == 4 and r["old_bal"] != r["new_bal"]
        for r in by_type.get("U", [])
    )


def test_dynamic_partition_overwrite_is_idempotent(spark, sf_dir):
    """Re-running s20 (writes already done) must return identical results —
    the reprocess-safety property the partitionOverwriteMode gives us."""
    from pydatalake_gen2_spark.registry import load_all

    fn = load_all()["s20_dynamic_partition_overwrite"].spark_fn
    a = sorted(map(tuple, fn(spark, sf_dir).collect()))
    b = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert a == b and len(a) == 5


def test_connected_components_long_chain_plan_truncation(spark):
    """Regression: the pointer-doubling loop's logical plan grew 4^rounds
    before the localCheckpoint fix — a long path graph OOMed the driver
    during analysis while the data stayed tiny. A 200-edge chain needs
    ~8 doubling rounds; it must converge fast and return one component."""
    from pydatalake_gen2_spark.operators.dedup import connected_components
    from pydatalake_gen2_spark.operators.util import release_persisted

    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a BIGINT, id_b BIGINT"
    )
    out = connected_components(edges).collect()
    release_persisted()
    assert len(out) == n + 1
    assert {r["component"] for r in out} == {0}


def test_merge_upsert_matches_dict_semantics(spark):
    """merge_upsert == the obvious python dict upsert, including the
    per-column partial-update rule (NULL source cell keeps target value),
    inserts of unseen keys, and carry-through of source-less columns."""
    from pydatalake_gen2_spark.operators.merge import merge_upsert

    tgt_rows = [(1, "a", 10, "X"), (2, "b", 20, "Y"), (3, "c", 30, "Z")]
    src_rows = [
        (2, "b2", None),   # partial update: val stays 20
        (3, None, 33),     # partial update: name stays c
        (9, "i", 99),      # insert (extra col carries as NULL)
    ]
    tgt = spark.createDataFrame(tgt_rows, "k BIGINT, name STRING, val INT, extra STRING")
    src = spark.createDataFrame(src_rows, "k BIGINT, name STRING, val INT")
    got = {
        r["k"]: (r["name"], r["val"], r["extra"], r["action"])
        for r in merge_upsert(tgt, src, ["k"]).collect()
    }
    assert got == {
        1: ("a", 10, "X", "carry"),
        2: ("b2", 20, "Y", "update"),
        3: ("c", 33, "Z", "update"),
        9: ("i", 99, None, "insert"),
    }


def test_merge_upsert_idempotent(spark):
    """Applying the same batch twice must be a fixpoint (Type-1 MERGE is
    idempotent): merge(merge(t, s), s) == merge(t, s) minus action tags."""
    from pydatalake_gen2_spark.operators.merge import merge_upsert

    tgt = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k BIGINT, name STRING, val INT"
    )
    src = spark.createDataFrame([(2, "b2", 22), (3, "c", 33)], "k BIGINT, name STRING, val INT")
    once = merge_upsert(tgt, src, ["k"]).drop("action")
    twice = merge_upsert(once, src, ["k"]).drop("action")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_jsonl_sink_commit_and_abort_protocol(tmp_path):
    """S26 writer: staged files are invisible until commit renames them
    and writes the manifest; abort removes staging entirely (the
    reference's append+flush two-phase upload, as a committer)."""
    import json
    import os

    from pyspark.sql import Row

    from pydatalake_gen2_spark.sources.pyds import _JsonlWriter

    out = str(tmp_path / "sink")
    w = _JsonlWriter(out)
    m1 = w.write(iter([Row(a=1, b="x"), Row(a=2, b="y")]))
    m2 = w.write(iter([Row(a=3, b="z")]))
    # staged, not published
    assert all(f.startswith("_staged-") for f in os.listdir(out))
    w.commit([m1, m2])
    names = sorted(os.listdir(out))
    assert names == ["_SUCCESS", "part-00000.jsonl", "part-00001.jsonl"]
    manifest = json.load(open(os.path.join(out, "_SUCCESS")))
    assert manifest["rows"] == 3 and len(manifest["files"]) == 2
    # abort path: a fresh staged file disappears, published files stay
    m3 = w.write(iter([Row(a=9, b="q")]))
    w.abort([m3])
    assert sorted(os.listdir(out)) == names


@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=30,
    ),
    st.integers(2, 4),
)
@settings(
    deadline=None,
    max_examples=8,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_k_core_matches_python_peeling(spark, edges, k):
    """Hypothesis: distributed peeling equals the obvious sequential
    peel on arbitrary small graphs (k-core is unique, so any peel order
    converges to the same subgraph)."""
    from pydatalake_gen2_spark.operators.graph import k_core
    from pydatalake_gen2_spark.operators.util import release_persisted

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    while True:
        drop = [n for n, nb in adj.items() if len(nb) < k]
        if not drop:
            break
        for n in drop:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    want = {n: len(nb) for n, nb in adj.items()}

    df = spark.createDataFrame(edges, "id_a BIGINT, id_b BIGINT")
    got = {r["node"]: r["core_degree"] for r in k_core(df, k).collect()}
    release_persisted()
    assert got == want


def test_parquet_bloom_bytes_present(spark, tmp_path):
    """s29's storage knob, proved where it applies: past the dictionary
    threshold (high-cardinality key) the bloom-enabled twin must carry
    materially more bytes than the plain twin — the bitmaps are really
    in the files (pyarrow here does not expose bloom offsets, so size
    delta is the observable). At fixture cardinality parquet correctly
    omits the bloom because the column stays dictionary-encoded — also
    asserted, since that adaptivity is part of the contract."""
    import glob
    import os

    def total(d):
        return sum(os.path.getsize(f) for f in glob.glob(os.path.join(d, "*.parquet")))

    hi = spark.range(200_000).selectExpr("id AS k")
    (hi.coalesce(1).write
       .option("parquet.bloom.filter.enabled#k", "true")
       .option("parquet.bloom.filter.expected.ndv#k", "200000")
       .mode("overwrite").parquet(str(tmp_path / "hi_bloom")))
    hi.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "hi_plain"))
    assert total(str(tmp_path / "hi_bloom")) > total(str(tmp_path / "hi_plain")) * 1.1

    lo = spark.range(200_000).selectExpr("id % 100 AS k")
    (lo.coalesce(1).write
       .option("parquet.bloom.filter.enabled#k", "true")
       .option("parquet.bloom.filter.expected.ndv#k", "100")
       .mode("overwrite").parquet(str(tmp_path / "lo_bloom")))
    lo.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "lo_plain"))
    # dictionary-encoded column: writer omits the (redundant) bloom
    assert total(str(tmp_path / "lo_bloom")) == total(str(tmp_path / "lo_plain"))


@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=25,
    ),
    st.sets(st.integers(0, 12), min_size=1, max_size=3),
)
@settings(
    deadline=None,
    max_examples=8,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bfs_distances_match_python(spark, edges, seeds):
    """Hypothesis: distributed relaxation equals a textbook BFS from the
    seed set (only seeds that exist as graph nodes count; unreachable
    nodes are absent from the output), and landmark_distances equals one
    such BFS per seed, keyed (node, lm)."""
    from collections import deque

    from pydatalake_gen2_spark.operators.graph import (
        bfs_distances,
        landmark_distances,
    )
    from pydatalake_gen2_spark.operators.util import release_persisted

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def py_bfs(sources) -> dict[int, int]:
        # seeds that are not graph nodes still get dist 0 (they are
        # trivially at distance 0 from themselves)
        want = {s: 0 for s in sources}
        q = deque(sorted(sources))
        while q:
            n = q.popleft()
            for m in adj.get(n, ()):
                if m not in want:
                    want[m] = want[n] + 1
                    q.append(m)
        return want

    df = spark.createDataFrame(edges, "id_a BIGINT, id_b BIGINT")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node BIGINT")
    got = {r["node"]: r["dist"] for r in bfs_distances(df, sdf).collect()}
    got_lm = {
        (r["node"], r["lm"]): r["dist"]
        for r in landmark_distances(df, sdf).collect()
    }
    release_persisted()
    assert got == py_bfs(seeds)
    assert got_lm == {
        (n, lm): d for lm in seeds for n, d in py_bfs([lm]).items()
    }


def test_graph_loops_release_rounds_on_failure(spark):
    """A loop that raises — here non-convergence under a too-small
    ``max_iter`` on a 40-edge chain — must free every round it held and
    hand nothing to release_persisted()."""
    import pytest

    from pydatalake_gen2_spark.operators.dedup import connected_components
    from pydatalake_gen2_spark.operators.graph import (
        bfs_distances,
        k_core,
        landmark_distances,
    )
    from pydatalake_gen2_spark.operators.util import release_persisted

    def n_cached() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    release_persisted()
    base = n_cached()
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a BIGINT, id_b BIGINT"
    )
    seeds = spark.createDataFrame([(0,)], "node BIGINT")
    for run in (
        lambda: connected_components(edges, max_iter=1),
        lambda: k_core(edges, k=2, max_iter=1),
        lambda: bfs_distances(edges, seeds, max_iter=2),
        lambda: landmark_distances(edges, seeds, max_iter=2),
    ):
        with pytest.raises(RuntimeError):
            run()
        assert n_cached() == base
    assert release_persisted() == 0


def test_merge_upsert_null_keys_and_validation(spark):
    """Review fixes: (a) a matched row whose key is NULL must classify as
    'update' (presence flags, not key-NULL checks); (b) duplicate source
    keys raise under validate_source_keys."""
    import pytest

    from pydatalake_gen2_spark.operators.merge import merge_upsert

    tgt = spark.createDataFrame([(None, "a", 1), (2, "b", 2)], "k BIGINT, name STRING, val INT")
    src = spark.createDataFrame([(None, "a2", None)], "k BIGINT, name STRING, val INT")
    got = {r["k"]: (r["name"], r["val"], r["action"])
           for r in merge_upsert(tgt, src, ["k"]).collect()}
    assert got[None] == ("a2", 1, "update")  # NULL key matched via eqNullSafe
    assert got[2] == ("b", 2, "carry")

    dup_src = spark.createDataFrame([(2, "x", 9), (2, "y", 8)], "k BIGINT, name STRING, val INT")
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_upsert(tgt, dup_src, ["k"], validate_source_keys=True)


def test_jsonl_sink_abort_tolerates_failed_task_messages(tmp_path):
    """Review fix: abort receives None for FAILED tasks (API contract) and
    must still clean the successful tasks' staging."""
    import os

    from pyspark.sql import Row

    from pydatalake_gen2_spark.sources.pyds import _JsonlWriter

    out = str(tmp_path / "sink")
    w = _JsonlWriter(out)
    m = w.write(iter([Row(a=1)]))
    w.abort([None, m, None])
    assert os.listdir(out) == []


def test_png_decoder_rejects_interlaced_and_headerless():
    """Review fix: Adam7 interlace must raise (silent pixel scrambling
    otherwise); a PNG with no IHDR must raise ValueError, not TypeError."""
    import struct
    import zlib

    import pytest

    from pydatalake_gen2_spark.sources.multimodal import (
        PNG_SIG,
        _png_chunk,
        decode_png,
    )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)  # interlace=1
    data = (PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 14))
            + _png_chunk(b"IEND", b""))
    with pytest.raises(NotImplementedError, match="interlaced|standard"):
        decode_png(data)
    with pytest.raises(ValueError, match="IHDR"):
        decode_png(PNG_SIG + _png_chunk(b"IEND", b""))


def test_merge_upsert_whole_row_and_flag_collision(spark):
    """Review fixes round 2: (a) partial_updates=False replaces matched
    rows verbatim — a NULL source cell WINS (latest-record semantics);
    (b) user columns named like the presence flags pass through
    untouched."""
    from pydatalake_gen2_spark.operators.merge import merge_upsert

    tgt = spark.createDataFrame([(1, "a", 10)], "k BIGINT, name STRING, val INT")
    src = spark.createDataFrame([(1, None, None)], "k BIGINT, name STRING, val INT")
    whole = merge_upsert(tgt, src, ["k"], partial_updates=False).collect()[0]
    assert (whole["name"], whole["val"], whole["action"]) == (None, None, "update")
    patch = merge_upsert(tgt, src, ["k"]).collect()[0]
    assert (patch["name"], patch["val"]) == ("a", 10)  # default keeps target

    tgt2 = spark.createDataFrame(
        [(1, "keepme", False)], "k BIGINT, _t_present STRING, _s_present BOOLEAN"
    )
    src2 = spark.createDataFrame([(2, "ins")], "k BIGINT, _t_present STRING")
    rows = {r["k"]: r for r in merge_upsert(tgt2, src2, ["k"]).collect()}
    assert rows[1]["_t_present"] == "keepme" and rows[1]["_s_present"] is False
    assert rows[1]["action"] == "carry"
    assert rows[2]["_t_present"] == "ins" and rows[2]["action"] == "insert"


def test_ensemble_dedup_coarsens_each_leg(spark, sf_dir):
    """l42: the ensemble components must be a COARSENING of every single
    detector's components — two docs the Jaccard-only resolution puts in
    one cluster can never be split by adding more evidence (edges are
    only ever added), and every keep=false doc must point at a keeper
    with a smaller id that exists."""
    from pydatalake_gen2_spark.registry import ensure_views, load_all

    ensure_views(spark, sf_dir)
    ens = {
        r["doc_id"]: r["component"]
        for r in load_all()["l42_ensemble_dedup"].spark_fn(spark, sf_dir).collect()
    }
    from pydatalake_gen2_spark.operators import dedup

    jac = {
        r["doc_id"]: r["component"]
        for r in dedup.dedup_clusters(spark.table("documents"), tau=0.3).collect()
    }
    # same jaccard-cluster -> same ensemble-cluster
    by_jac: dict = {}
    for doc, comp in jac.items():
        by_jac.setdefault(comp, set()).add(doc)
    for members in by_jac.values():
        assert len({ens[d] for d in members}) == 1, members
    # canonical keeper invariants
    for doc, comp in ens.items():
        assert comp <= doc
        assert ens[comp] == comp  # keeper is its own component root
    from pydatalake_gen2_spark.operators.util import release_persisted

    release_persisted()  # both pipelines end in tracked checkpoints


@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=25,
    ),
    st.integers(1, 4),
)
@settings(
    deadline=None,
    max_examples=8,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_label_propagation_matches_python(spark, edges, rounds):
    """gr05's operator vs a literal Python transcription of the same
    synchronous fixed-round majority-label recurrence (ties -> smallest
    label) on random small graphs."""
    from pydatalake_gen2_spark.operators.graph import label_propagation
    from pydatalake_gen2_spark.operators.util import release_persisted

    df = spark.createDataFrame(edges, "id_a BIGINT, id_b BIGINT")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, rounds=rounds).collect()
    }
    release_persisted()

    und: dict[int, set] = {}
    for a, b in edges:
        und.setdefault(a, set()).add(b)
        und.setdefault(b, set()).add(a)
    labels = {n: n for n in und}
    for _ in range(rounds):
        new = {}
        for n, nbrs in und.items():
            counts: dict[int, int] = {}
            for m in nbrs:
                counts[labels[m]] = counts.get(labels[m], 0) + 1
            new[n] = min(counts, key=lambda l: (-counts[l], l))
        labels = new
    assert got == labels


def test_sequence_gap_detection_finds_planted_gaps(spark):
    """j30's recurrence on data WITH holes (the fixture has none): ids
    {1,2,3, 7, 10,11} must yield gaps [4..6] and [8..9] — and a wild
    outlier id must produce one huge-gap ROW, not an error (the failure
    mode of the dense-spine formulation)."""
    spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 7, 10, 11]], "event_id BIGINT"
    ).createOrReplaceTempView("g30_ids")
    sql = """
    WITH ids AS (SELECT DISTINCT event_id FROM g30_ids),
    s AS (SELECT event_id, LAG(event_id) OVER (ORDER BY event_id) AS prev_id
          FROM ids)
    SELECT prev_id + 1 AS gap_start, event_id - 1 AS gap_end,
           event_id - prev_id - 1 AS n_missing
    FROM s WHERE prev_id IS NOT NULL AND event_id - prev_id > 1
    ORDER BY gap_start
    """
    got = [tuple(r) for r in spark.sql(sql).collect()]
    assert got == [(4, 6, 3), (8, 9, 2)]
    spark.createDataFrame(
        [(1,), (2,), (10**12,)], "event_id BIGINT"
    ).createOrReplaceTempView("g30_ids")
    got = [tuple(r) for r in spark.sql(sql).collect()]
    assert got == [(3, 10**12 - 1, 10**12 - 3)]


# -- hypothesis: grid_nearest vs brute force on random coordinates --------


@st.composite
def _geo_case(draw):
    n_pts = draw(st.integers(1, 12))
    n_sites = draw(st.integers(0, 8))
    def coord(i, salt):
        lat = draw(st.integers(-5999, 5999)) / 100.0
        lon = draw(st.integers(-17999, 17999)) / 100.0
        return (i + salt, lat, lon)
    return (
        [coord(i, 0) for i in range(n_pts)],
        [coord(i, 1000) for i in range(n_sites)],
        draw(st.sampled_from([50.0, 200.0, 500.0])),
    )


@given(_geo_case())
@settings(
    deadline=None,
    max_examples=10,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_grid_nearest_matches_brute_force(spark, case):
    """J32's operator: the grid-bucketed candidate join must return the
    SAME nearest-site answer as an exhaustive cross join for random
    placements — the pigeonhole recall argument, tested instead of
    trusted. Both sides evaluate the shared HAVERSINE_KM text, so the
    comparison isolates the bucketing, not float noise."""
    from pydatalake_gen2_spark.operators.geo import HAVERSINE_KM, grid_nearest
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    points, sites, radius = case
    pdf = spark.createDataFrame(points, "p_id LONG, c_lat DOUBLE, c_lon DOUBLE")
    sdf = (
        spark.createDataFrame(sites, "s_id LONG, s_lat DOUBLE, s_lon DOUBLE")
        if sites
        else spark.createDataFrame([], "s_id LONG, s_lat DOUBLE, s_lon DOUBLE")
    )
    got = sorted(map(tuple, grid_nearest(pdf, sdf, radius).collect()))
    w = Window.partitionBy("p_id").orderBy(F.round("km", 6), "s_id")
    brute = sorted(
        map(
            tuple,
            pdf.crossJoin(sdf)
            .withColumn("km", F.expr(HAVERSINE_KM))
            .filter(F.round("km", 6) <= radius)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("p_id", "s_id", F.round("km", 4).alias("dist_km"))
            .collect(),
        )
    )
    assert got == brute


def test_grid_nearest_wraps_antimeridian(spark):
    """Regression: a point at lon 179.95 and a site at -179.95 on the same
    latitude are ~11 km apart — the longitude cell ring must wrap at the
    antimeridian or the pair never meets in a bucket (found by review;
    the haversine itself was always wrap-correct)."""
    from pydatalake_gen2_spark.operators.geo import grid_nearest

    pdf = spark.createDataFrame(
        [(1, 10.0, 179.95)], "p_id LONG, c_lat DOUBLE, c_lon DOUBLE"
    )
    sdf = spark.createDataFrame(
        [(7, 10.0, -179.95)], "s_id LONG, s_lat DOUBLE, s_lon DOUBLE"
    )
    rows = grid_nearest(pdf, sdf, radius_km=200.0).collect()
    assert len(rows) == 1 and rows[0]["s_id"] == 7, rows
    assert rows[0]["dist_km"] < 15.0, rows


# ------------------------------------------------------ S40 z-order layout


def test_zorder_layout_shrinks_file_envelopes(spark, sf_dir, tmp_path):
    """S40's point: a z-ordered layout gives every file a tight min/max
    envelope on BOTH clustering dimensions, so footer-stats pruning can
    skip files for predicates on either column. Write orders natural
    (orderkey order) vs z-ordered on (custkey, order-day) into 8 files
    each and compare the summed per-file envelope AREA (x-span * y-span
    from the real parquet footers): z-order must shrink it by >= 4x,
    and single-column spans must shrink too."""
    import pyarrow.parquet as pq_
    from pydatalake_gen2_spark.queries.scans import zorder_layout
    from pydatalake_gen2_spark.registry import ensure_views
    import pyspark.sql.functions as F

    ensure_views(spark, sf_dir)
    day = F.datediff(
        F.col("o_orderdate"), F.lit("1992-01-01 00:00:00").cast("timestamp")
    ).cast("bigint")
    orders = spark.table("orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 65536).alias("x"),
        (day % 65536).alias("y"),
    )

    nat = str(tmp_path / "natural")
    (
        orders.repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite").parquet(nat)
    )
    zo = str(tmp_path / "zordered")
    zorder_layout(orders, "x", "y", zo, n_files=8)

    def envelope_area(path):
        import os

        total = 0
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq_.ParquetFile(os.path.join(path, f)).metadata
            lo = {"x": None, "y": None}
            hi = {"x": None, "y": None}
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    col = row.column(ci)
                    name = col.path_in_schema
                    if name in lo and col.statistics is not None:
                        st = col.statistics
                        lo[name] = st.min if lo[name] is None else min(lo[name], st.min)
                        hi[name] = st.max if hi[name] is None else max(hi[name], st.max)
            total += (hi["x"] - lo["x"] + 1) * (hi["y"] - lo["y"] + 1)
        return total

    nat_area = envelope_area(nat)
    zo_area = envelope_area(zo)
    assert zo_area * 4 <= nat_area, (zo_area, nat_area)


# ---------------------------------------------------------------------------
# r11 optimization internals: spread() scale-adaptivity and the _crm
# single-scan generator rewrite
# ---------------------------------------------------------------------------


def test_spread_fans_out_small_inputs_and_noops_on_large(spark, sf_dir):
    """spread() must repartition ONLY when the optimizer's size estimate
    says the scan packed into fewer-than-core-count splits; on anything
    larger it must return the input object UNCHANGED (the guarantee that
    makes it safe on a 100 TB scan — no hidden repartition)."""
    from pydatalake_gen2_spark.operators.util import spread
    from pydatalake_gen2_spark.registry import ensure_views

    ensure_views(spark, sf_dir)
    df = spark.table("customer").select("c_custkey", "c_name")

    # Small local fixture: the fan-out branch fires and yields
    # defaultParallelism partitions.
    out = spread(df)
    assert out is not df
    assert (
        out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )

    # Force the "large input" decision without large data: with a tiny
    # maxPartitionBytes the threshold par*max_pb drops below any real
    # table's estimated size, so spread must be an exact no-op.
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1b")
        assert spread(df) is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_noops_when_size_estimate_unreadable(spark, sf_dir):
    """r12 (VERDICT r11 #2): if the plan-stats inspection throws, spread()
    must fail SAFE — return the input unchanged — never fall back to an
    unconditional repartition of a possibly-huge input."""
    from pydatalake_gen2_spark.operators.util import spread
    from pydatalake_gen2_spark.registry import ensure_views

    ensure_views(spark, sf_dir)
    df = spark.table("customer").select("c_custkey", "c_name")

    class _BrokenJdf:
        def queryExecution(self):
            raise RuntimeError("stats surface moved")

    class _Proxy:
        """Wraps the frame but breaks the py4j stats path."""

        def __init__(self, inner):
            self._inner = inner
            self.sparkSession = inner.sparkSession
            self._jdf = _BrokenJdf()

    proxy = _Proxy(df)
    assert spread(proxy) is proxy


def test_crm_single_scan_generator_matches_legacy_union(spark, sf_dir):
    """entity._crm was rewritten (r11) from a 3-way union (three customer
    scans) to one scan + inline(array_compact(...)). Pin the rewrite:
    identical row multiset vs the legacy form, and exactly ONE customer
    scan in the physical plan."""
    from pyspark.sql import functions as F

    from pydatalake_gen2_spark.queries.entity import _crm
    from pydatalake_gen2_spark.registry import ensure_views

    ensure_views(spark, sf_dir)
    c = spark.table("customer")
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
    nat = F.col("c_nationkey").cast("int").alias("nationkey")
    legacy = (
        c.select(
            (F.col("c_custkey") * 10).alias("rec_id"),
            F.col("c_name").alias("name"),
            nat,
            cents.alias("acct_cents"),
            F.col("c_mktsegment").alias("segment"),
            F.lit("master").alias("src"),
            F.lit(1).cast("int").alias("recency"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 7 == 0).select(
                (F.col("c_custkey") * 10 + 1).alias("rec_id"),
                F.concat(
                    F.substring("c_name", 1, 9),
                    F.lit("X"),
                    F.expr("substring(c_name, 11)"),
                ).alias("name"),
                nat,
                (cents + 250).alias("acct_cents"),
                F.lit(None).cast("string").alias("segment"),
                F.lit("import").alias("src"),
                F.lit(2).cast("int").alias("recency"),
            )
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 21 == 0).select(
                (F.col("c_custkey") * 10 + 2).alias("rec_id"),
                F.concat(
                    F.substring("c_name", 1, 12),
                    F.expr("substring(c_name, 14)"),
                ).alias("name"),
                nat,
                (cents - 125).alias("acct_cents"),
                F.col("c_mktsegment").alias("segment"),
                F.lit("import").alias("src"),
                F.lit(3).cast("int").alias("recency"),
            )
        )
    )
    new = _crm(spark)
    assert new.schema == legacy.schema
    assert new.exceptAll(legacy).count() == 0
    assert legacy.exceptAll(new).count() == 0
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


def _lloyd_reference(pts, cents, iters):
    """Plain-Python exact Lloyd: first-minimum argmin (smallest cid on a
    distance tie), floor-mean update, empty clusters keep their centroid."""
    def nearest(q, cs):
        d = [sum((a - b) ** 2 for a, b in zip(q, c)) for c in cs]
        return d.index(min(d))

    history = []
    for _ in range(iters):
        k, dim = len(cents), len(cents[0])
        n, s = [0] * k, [[0] * dim for _ in range(k)]
        for q in pts.values():
            j = nearest(q, cents)
            n[j] += 1
            s[j] = [a + b for a, b in zip(s[j], q)]
        cents = [
            [t // n[j] for t in s[j]] if n[j] else list(cents[j])
            for j in range(k)
        ]
        history.append(cents)
    return history, {i: nearest(q, cents) for i, q in pts.items()}


def test_kmeans_fused_round_matches_python_lloyd(spark):
    """The map-only Lloyd round must equal a plain Python Lloyd over the
    collected points, bit for bit, on adversarial inputs: duplicate
    vectors, exact distance ties (to the smallest cid), a centroid that
    wins no point (keeps its value), negative sums (floor, not trunc),
    more partitions than rows (empty partitions), and k == row count."""
    import random

    from pydatalake_gen2_spark.operators import kmeans

    planted = {
        0: [0, 0, 0], 1: [0, 0, 0],  # duplicates -> seeds cids 0 and 1 equal
        2: [2, 0, 0], 3: [1, 0, 0], 6: [1, 0, 0],  # 3, 6 tie between 0 and 2
        4: [-3, 5, -7], 5: [-4, 4, -8], 7: [9, -1, 2],
    }
    rng = random.Random(7)
    noisy = {i: [rng.randint(-1, 1) for _ in range(3)] for i in range(16)}
    cases = [(planted, 3), (planted, len(planted)), (noisy, 5)]
    for pts, k in cases:
        dim = len(next(iter(pts.values())))
        init = [pts[i] for i in sorted(pts)[:k]]
        want_hist, want_cid = _lloyd_reference(pts, init, iters=2)
        rows = sorted(pts.items())
        for nparts in (3, len(pts) + 3):
            df = spark.createDataFrame(
                rows, "vec_id BIGINT, q ARRAY<BIGINT>"
            ).repartition(nparts)
            cents = init
            for want in want_hist:
                cents = kmeans.update(df, cents, dim)
                assert cents == want, (k, nparts)
            assigned = kmeans.assign(df, cents).collect()
            assert {r["vec_id"]: r["cid"] for r in assigned} == want_cid, (k, nparts)
    # the planted seeds really exercise the edge cases: ids 3 and 6 are
    # equidistant from all three seeds, seed 1 (a copy of seed 0) wins no
    # point and keeps its value, and cluster 0's mean is negative-floored
    seeds = [planted[i] for i in range(3)]
    assert len({sum((a - b) ** 2 for a, b in zip(planted[3], c)) for c in seeds}) == 1
    hist, _ = _lloyd_reference(planted, seeds, 1)
    assert hist[0][1] == planted[1]
    assert hist[0][0] == [-5 // 6, 9 // 6, -15 // 6] == [-1, 1, -3]


def test_lsh_topk_broadcast_destroyed_on_release(spark, sf_dir, monkeypatch):
    """lsh_topk's small path broadcasts the id-sorted matrix; after the
    result is consumed, release_persisted() must destroy it. The
    broadcast is observed where the SparkContext makes it."""
    from pydatalake_gen2_spark.operators import similarity, util

    sc = spark.sparkContext
    made = []
    real_broadcast = sc.broadcast
    monkeypatch.setattr(
        sc, "broadcast", lambda v: made.append(real_broadcast(v)) or made[-1]
    )
    util.release_persisted()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    similarity.lsh_topk(emb, k=3).collect()
    assert len(made) == 1
    assert made[0]._jbroadcast.isValid()
    util.release_persisted()
    assert not made[0]._jbroadcast.isValid()


def test_held_release_raises_on_failed_free_in_live_session(spark):
    """Only a stopped SparkContext excuses a failed free: with the
    session live, a free that raises surfaces, and the owner still
    forgets the item instead of retrying it forever."""
    import pytest

    from pydatalake_gen2_spark.operators.util import Held

    class Stuck:
        def persist(self):
            return self

        def unpersist(self):
            raise RuntimeError("block manager refused")

    owner = Held()
    owner.persist(Stuck())
    with pytest.raises(RuntimeError, match="refused"):
        owner.release()
    assert owner.release() == 0


def test_pair_cos_lookup_rejects_absent_id():
    """The broadcast-matrix scorer must raise on an id the matrix does not
    hold instead of gathering a neighbour's vector."""
    from types import SimpleNamespace

    import numpy as np
    import pyarrow as pa
    import pytest

    from pydatalake_gen2_spark.operators.similarity import _pair_cos_lookup_arrow

    bc = SimpleNamespace(value=(
        np.array([10, 20, 30], dtype=np.int64),
        np.array([[1, 0], [0, 1], [1, 1]], dtype=np.float32),
    ))
    score = _pair_cos_lookup_arrow(bc, dim=2)

    def batch(qids, ids):
        return pa.RecordBatch.from_arrays(
            [pa.array(qids, pa.int64()), pa.array(ids, pa.int64())],
            names=["query_id", "vec_id"],
        )

    out = next(score(iter([batch([10, 30], [20, 10])])))
    assert out.column("cos").to_pylist() == [0.0, 1 / np.sqrt(2)]
    for qids, ids in (([10], [25]), ([15], [20]), ([10], [99]), ([5], [10])):
        with pytest.raises(KeyError, match="absent"):
            next(score(iter([batch(qids, ids)])))
