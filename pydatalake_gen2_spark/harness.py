"""Local oracle harness: run each registered QueryPair on Spark AND DuckDB,
compare row counts + canonicalized multisets of values.

Mirrors the driver's CORRECTNESS gate (sorts columns by name, hashes values
order-insensitively) and demands exact value equality after
canonicalization so float drift surfaces locally before the driver sees it.

Equivalence caveat (round-10 lesson — this compare is NOT uniformly
stricter than the driver's): the driver hashes a typed RENDERING, so a
value that is equal across engines but carried in a different type class
(DuckDB HUGEINT → Arrow decimal128 vs Spark int64 — the dq08 red row) can
pass a value-equality compare and still fail the driver.  Two defenses:

- Decimal is canonicalized to an exactness-preserving form DISTINCT from
  int/float (``("\\x00DEC", str(v))``), so ``Decimal('2126')`` vs int64
  2126 now FAILS locally, matching the driver.
- int-vs-float class drift (``2126 == 2126.0`` under Python hashing) is
  NOT distinguishable at value level without breaking legitimate float
  compares; that class is closed statically: ``run_pair`` first runs
  ``typeaudit.audit_pair`` (dtype-class parity plus the shape contract)
  on the frame it built, and a pair that fails it is never collected.
"""

from __future__ import annotations

import datetime as _dt
import math
from collections import Counter
from decimal import Decimal
from typing import Any

import duckdb

from pydatalake_gen2_spark.registry import REGISTRY
from pydatalake_gen2_spark.tables import TABLES
from pydatalake_gen2_spark.typeaudit import audit_pair


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    import os

    con = duckdb.connect()
    # Pin the session zone: tz-aware values must render/cast identically
    # regardless of host TZ (Spark-written scale fixtures carry
    # isAdjustedToUTC timestamps that DuckDB reads as TIMESTAMPTZ).
    con.execute("SET TimeZone = 'UTC'")
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        # Spark-written tables (fixtures/sf1+) are DIRECTORIES of part
        # files; the driver fixtures are single files. Glob accordingly.
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{path}')"
        )
    return con


def _canon_value(v: Any) -> Any:
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        # Exactness-preserving and DISTINCT from int/float: a Decimal
        # output on one engine vs an integral/float on the other must
        # FAIL locally (the driver's typed-rendering hash fails it).
        # str() keeps the declared scale ('2126.00' != '2126.0'), so a
        # scale drift between engines is caught at value level too.
        return ("\x00DEC", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00NaN"
        return v
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_value(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def canon_rows(columns: list[str], rows: list[tuple]) -> Counter:
    """Order-insensitive multiset of rows with columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter(tuple(_canon_value(row[i]) for i in order) for row in rows)


_FLOAT64_EXACT_MAX = 1 << 53  # largest contiguous exact integer in float64


def _fence_float64_exact(name: str, cols: list[str], rows: list[tuple]) -> None:
    """Runtime half of the round-6 canonicalizer fence (the static half is
    ``typeaudit.audit_pair``'s shape contract, run by ``run_pair``): no
    rendered INTEGRAL numeric cell may exceed 2^53 in magnitude. Past
    that, a float64-coercing hasher (pandas on either engine's result)
    can render equal values differently per engine — the round-5 driver
    red row was g51's ~2^61 DECIMAL(38,0) cents^2 sums. Render such
    values as STRING (digit-exact in both engines) instead. Doubles are
    exempt (both engines hash the same bits); so are strings — the
    escape hatch itself.

    Scaled decimals are fenced on their UNSCALED payload (value*10^scale
    as stored): a DECIMAL(38,4) money rollup whose int128 payload passes
    2^53 hits the same not-correctly-rounded int128->double coercion
    class as the integral case even though the VALUE is only ~10^12
    (round-6 ADVICE item 1)."""
    bad = []
    for row in rows:
        for c, v in zip(cols, row):
            if isinstance(v, bool) or v is None:
                continue
            if isinstance(v, int) and abs(v) > _FLOAT64_EXACT_MAX:
                bad.append((c, v))
            elif isinstance(v, Decimal):
                t = v.as_tuple()
                if not isinstance(t.exponent, int):
                    bad.append((c, str(v)))  # NaN/Inf decimal: never render
                    continue
                unscaled = int("".join(map(str, t.digits)) or "0")
                if t.exponent > 0:  # e.g. 1E+20: value exceeds payload
                    unscaled *= 10 ** t.exponent
                if unscaled > _FLOAT64_EXACT_MAX:
                    bad.append((c, str(v)))
        if bad:
            raise AssertionError(
                f"{name}: integral output cells exceed 2^53 (float64-exact "
                f"range) — render as STRING or rescale; offenders: {bad[:4]}"
            )


def run_pair(spark, con, sf_dir: str, name: str) -> dict:
    from pydatalake_gen2_spark.operators.util import release_persisted

    qp = REGISTRY[name]
    out = {"name": name, "tier": qp.tier}
    # The finally frees what the pair's operators hold, whether the build,
    # the audit or the collect raised or not: a sweep that catches the
    # error must not run the next pair beside those blocks.
    try:
        sdf = qp.spark_fn(spark, sf_dir)
        if qp.duck_sql is not None:
            problems = audit_pair(con, qp.duck_sql, sdf)
            if problems:
                out["status"] = "STATIC_MISMATCH"
                out["detail"] = "; ".join(problems)
                return out
        s_cols = [c.lower() for c in sdf.columns]
        s_rows = [tuple(r) for r in sdf.collect()]
    finally:
        release_persisted()
    out["spark_rows"] = len(s_rows)
    if qp.duck_sql is None:
        out["status"] = "rows_only"
        return out
    _fence_float64_exact(name, s_cols, s_rows)
    dres = con.execute(qp.duck_sql)
    d_cols = [d[0].lower() for d in dres.description]
    d_rows = dres.fetchall()
    out["duck_rows"] = len(d_rows)
    if sorted(s_cols) != sorted(d_cols):
        out["status"] = "COL_MISMATCH"
        out["detail"] = f"spark={sorted(s_cols)} duck={sorted(d_cols)}"
        return out
    sm, dm = canon_rows(s_cols, s_rows), canon_rows(d_cols, d_rows)
    if sm == dm:
        out["status"] = "match"
    else:
        out["status"] = "VALUE_MISMATCH"
        only_s = list((sm - dm).items())[:3]
        only_d = list((dm - sm).items())[:3]
        out["detail"] = f"only_spark={only_s} only_duck={only_d}"
    return out

