"""tools/gen_scale.py — the bench-only scale-fixture generator that
BASELINE.md's sf1 validation run is built on. These tests pin its
contract: exact N-fold row counts, FK closure across the shifted key
spaces (joins keep their selectivity), and genuinely NEW text/embedding
content per replica (so near-dup/ANN operators see a bigger corpus, not
N exact copies whose pair output would explode quadratically)."""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb
import pytest


@pytest.fixture(scope="module")
def scaled_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sfx2"))
    r = subprocess.run(
        [sys.executable, "tools/gen_scale.py", "2", out],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return out


def _duck(scaled_dir):
    con = duckdb.connect()
    for t in ("customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{scaled_dir}/{t}.parquet/*.parquet')"
        )
        con.execute(
            f"CREATE VIEW src_{t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.1/{t}.parquet')"
        )
    return con


def test_row_counts_scale_exactly(scaled_dir):
    con = _duck(scaled_dir)
    for t in ("customer", "orders", "lineitem", "events",
              "documents", "embeddings"):
        n = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        n0 = con.execute(f"SELECT count(*) FROM src_{t}").fetchone()[0]
        assert n == 2 * n0, (t, n, n0)


def test_fk_closure_survives_key_shifts(scaled_dir):
    con = _duck(scaled_dir)
    for child, ck, parent, pk in (
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ):
        orphans = con.execute(
            f"SELECT count(*) FROM {child} c WHERE NOT EXISTS "
            f"(SELECT 1 FROM {parent} p WHERE p.{pk} = c.{ck})"
        ).fetchone()[0]
        assert orphans == 0, (child, ck, orphans)
    # keys are globally unique after shifting (no replica collisions)
    dup = con.execute(
        "SELECT count(*) - count(DISTINCT o_orderkey) FROM orders"
    ).fetchone()[0]
    assert dup == 0


def test_replica_documents_are_not_near_duplicates(scaled_dir):
    """Replica texts must drop below any 3-gram-Jaccard near-dup
    threshold vs their originals — every 2nd word is replica-salted, so
    shared shingles are rare (<= ~1/8 of the union)."""
    con = _duck(scaled_dir)
    jacc = con.execute("""
        WITH pairs AS (
          SELECT a.text AS ta, b.text AS tb
          FROM documents a JOIN documents b
            ON b.doc_id = a.doc_id + (SELECT max(doc_id)+1 FROM src_documents)
          LIMIT 50),
        sets AS (
          SELECT ta, tb,
                 list_distinct(list_transform(
                   generate_series(1, len(string_split(lower(ta),' ')) - 2),
                   i -> string_split(lower(ta),' ')[i] || ' ' ||
                        string_split(lower(ta),' ')[i+1] || ' ' ||
                        string_split(lower(ta),' ')[i+2])) AS sa,
                 list_distinct(list_transform(
                   generate_series(1, len(string_split(lower(tb),' ')) - 2),
                   i -> string_split(lower(tb),' ')[i] || ' ' ||
                        string_split(lower(tb),' ')[i+1] || ' ' ||
                        string_split(lower(tb),' ')[i+2])) AS sb
          FROM pairs)
        SELECT max(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
                   / NULLIF(len(sa) + len(sb) - len(list_intersect(sa, sb)), 0))
        FROM sets
    """).fetchone()[0]
    assert jacc is not None and jacc < 0.3, jacc


def test_replica_embeddings_differ(scaled_dir):
    con = _duck(scaled_dir)
    identical = con.execute("""
        SELECT count(*) FROM embeddings a JOIN embeddings b
          ON b.vec_id = a.vec_id + (SELECT max(vec_id)+1 FROM src_embeddings)
        WHERE a.embedding = b.embedding
    """).fetchone()[0]
    assert identical == 0, identical
