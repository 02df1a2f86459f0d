"""t2 mirror: every registered tier-H QueryPair must pass the static
audit and hash-match DuckDB at sf0.001 (the driver runs the same compare
at sf0.01)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pydatalake_gen2_spark.harness import run_pair
from pydatalake_gen2_spark.queries.aliases import _ALIASES
from pydatalake_gen2_spark.registry import load_all


def _names():
    return sorted(load_all().keys())


@pytest.mark.parametrize("name", _names())
def test_pair(spark, duck, sf_dir, name):
    """An alias re-lists its target's own QueryPair, so its case checks
    that identity, and that it sorts into the driver's 50-name window it
    exists for, instead of running the target's case a second time."""
    reg = load_all()
    if name in _ALIASES:
        qp, target = reg[name], reg[_ALIASES[name]]
        assert qp.spark_fn is target.spark_fn
        assert (qp.duck_sql, qp.tier) == (target.duck_sql, target.tier)
        assert name in sorted(reg)[:50]
        return
    res = run_pair(spark, duck, sf_dir, name)
    assert res["status"] in ("match", "rows_only"), res
    assert res["spark_rows"] >= 0


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_doc_id_is_a_key(sf_dir, scale):
    """Data contract behind l36/l59/l60's array_distinct shingle dedup,
    which equals the corpus-wide .distinct() it replaced only when
    doc_id is unique and non-NULL in documents (DuckDB only, no Spark)."""
    import duckdb

    n, n_distinct, n_nonnull = duckdb.sql(
        "SELECT count(*), count(DISTINCT doc_id), count(doc_id) FROM "
        f"read_parquet('{os.path.dirname(sf_dir)}/{scale}/documents.parquet')"
    ).fetchone()
    assert n > 0 and n == n_distinct == n_nonnull, (n, n_distinct, n_nonnull)


def test_float64_exact_fence_unit():
    """The runtime fence must trip on the exact shape that made the
    round-5 driver row red (an integral DECIMAL cell of ~2^61) and on
    >2^53 BIGINTs, and pass the sanctioned renders (STRING, double,
    <=2^53 ints)."""
    from decimal import Decimal

    from pydatalake_gen2_spark.harness import _fence_float64_exact

    with pytest.raises(AssertionError):
        _fence_float64_exact("prefix_g51", ["ss"], [(Decimal(2**61),)])
    with pytest.raises(AssertionError):
        _fence_float64_exact("big_int", ["x"], [(2**53 + 1,)])
    _fence_float64_exact(
        "ok", ["s", "f", "i", "d"], [(str(2**61), 1.5, 2**53, Decimal("1.25"))]
    )
    # round-6 ADVICE item 1: SCALED decimals are fenced on the unscaled
    # payload — a DECIMAL(38,4) money sum whose int128 payload passes
    # 2^53 coerces not-correctly-rounded even though the VALUE is small.
    with pytest.raises(AssertionError):
        _fence_float64_exact(
            "money", ["rev"], [(Decimal(2**54) / Decimal(10_000),)]
        )
    with pytest.raises(AssertionError):  # positive exponent: 92E+15
        _fence_float64_exact("exp", ["x"], [(Decimal("92E+15"),)])
    _fence_float64_exact("ok2", ["rev"], [(Decimal("900719925474.0992"),)])


def test_wide_cast_walker_sentinel(spark):
    """Round-6 ADVICE item 2: the static fence's py4j plan walk wraps
    every accessor in try/except, so Catalyst API drift would make it
    fail OPEN (report zero casts). Assert it still detects a deliberate
    decimal(38,0)->double cast — API drift now fails THIS test loudly."""
    from pydatalake_gen2_spark.typeaudit import _walk_wide_casts

    df = spark.range(1).select(
        F.col("id").cast("decimal(38,0)").cast("double").alias("x")
    )
    hits = _walk_wide_casts(df._jdf.queryExecution().analyzed())
    assert ("decimal(38,0)", "double") in hits, (
        "sentinel wide cast not found — the py4j plan-walk API drifted "
        f"and the shape-contract fence is failing open (hits={hits})"
    )
    # and a subquery-buried cast is still found (the recursion leg)
    spark.range(3).createOrReplaceTempView("_sentinel_t")
    df2 = spark.sql(
        "SELECT (SELECT CAST(CAST(max(id) AS DECIMAL(20,0)) AS DOUBLE) "
        "FROM _sentinel_t) AS y"
    )
    hits2 = _walk_wide_casts(df2._jdf.queryExecution().analyzed())
    assert ("decimal(20,0)", "double") in hits2, (
        f"subquery-buried sentinel cast not found (hits={hits2})"
    )


def test_detector_oracle_copies_agree():
    """l49's agreement audit carries private copies of the three detector
    oracle chains (l02b jaccard, l42 simhash, l36 minhash). A threshold /
    bit-layout / shingle edit applied to a detector but not to the audit
    would silently make the audit diverge from what it audits — exactly
    the drift class l49 exists to catch. Guard: the load-bearing
    expression fragments must appear IDENTICALLY in both the detector's
    oracle and l49's copy."""
    from pydatalake_gen2_spark.registry import load_all

    reg = load_all()
    l49 = reg["l49_detector_agreement"].duck_sql
    for src, fragments in {
        # jaccard leg (l02b / l42): 3-gram shingle build + tau fence
        "l42_ensemble_dedup": [
            "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]",
            ">= 0.3",
            # simhash leg: 15-hex-digit bit build (the shared fingerprint
            # recurrence — identical text in detector and audit)
            "substring(md5(tok), j, 1)) - 1 AS BIGINT)",
            "<< (4 * (15 - j))",
            "generate_series(0, 47)",
            "lower(coalesce(text, ''))",
        ],
        # minhash leg (l36): seeded signature + band hash + verify tau
        "l36_minhash_sql": [
            "min(md5('0:' || tok)) AS h0",
            "md5(h0 || h1) AS bh",
            ">= 0.2",
        ],
    }.items():
        det = reg[src].duck_sql
        for frag in fragments:
            assert frag in det, (src, frag)
            assert frag in l49, ("l49", frag)
    # The Hamming-radius fence survives in BOTH, but spelled per form
    # since r10: l42's oracle generates candidates via the exact 5-band
    # pigeonhole (sf1-affordable; tests/test_correctness_extra.py proves
    # banded == all-pairs in DuckDB itself), while l49's audit keeps the
    # brute-force spelling (its corpus slice keeps it affordable).
    assert "bit_count(xor(sha, shb)) <= 4" in reg["l42_ensemble_dedup"].duck_sql
    assert "bit_count(xor(a.sh, b.sh)) <= 4" in l49
