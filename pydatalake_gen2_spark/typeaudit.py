"""Static driver-safety audit of one built pair (``audit_pair``): dtype-
class parity plus the shape contract, read without running a job.  It is
the static half of every oracle check (``harness.run_pair`` calls it
before collecting; the runtime half is ``harness._fence_float64_exact``).

Parity compares Spark's analyzed schema (``df.schema``) against DuckDB's
static bind of the oracle (``con.sql(sql)`` — lazy relation, no
execution) and fails any column whose TYPE CLASSES diverge.  Round-10
driver finding behind it: the dq08 oracle left a SimHash fingerprint as
DuckDB HUGEINT (``sum(BIGINT)`` widens), so the column reached the driver
as DECIMAL128(38,0) while Spark emitted int64 — values byte-identical,
rendering-hash red.

Type classes (what the driver's Arrow/string renderer distinguishes):

- ``int``            — all integral widths (int64 renders bare digits)
- ``decimal(s=N)``   — decimal with scale N (scale changes the rendering:
                       ``2126`` vs ``2126.00``); DuckDB HUGEINT ≡
                       ``decimal(s=0)`` because Arrow materializes it as
                       decimal128(38,0)
- ``float``          — float32/float64 (render with a fractional part)
- ``str`` ``bool`` ``date`` ``ts`` ``time`` ``bin`` ``interval`` ``null``
- ``array<...>`` / ``map<...>`` / ``struct<...>`` — recursive

Two engines whose classes match render equal values equally; classes that
diverge (integral vs decimal vs float vs string) can diverge in rendering
even when the VALUES are equal — exactly the dq08 failure.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------

_SPARK_SIMPLE: list[tuple[tuple, str]] = [
    ((T.ByteType, T.ShortType, T.IntegerType, T.LongType), "int"),
    ((T.FloatType, T.DoubleType), "float"),
    ((T.StringType,), "str"),
    ((T.BooleanType,), "bool"),
    ((T.DateType,), "date"),
    ((T.TimestampType, T.TimestampNTZType), "ts"),
    ((T.BinaryType,), "bin"),
    ((T.NullType,), "null"),
    ((T.DayTimeIntervalType, T.YearMonthIntervalType), "interval"),
]


def spark_type_class(dt: T.DataType) -> str:
    if isinstance(dt, T.DecimalType):
        return f"decimal(s={dt.scale})"
    for classes, label in _SPARK_SIMPLE:
        if isinstance(dt, classes):
            return label
    if isinstance(dt, T.ArrayType):
        return f"array<{spark_type_class(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return (
            f"map<{spark_type_class(dt.keyType)},"
            f"{spark_type_class(dt.valueType)}>"
        )
    if isinstance(dt, T.StructType):
        inner = ",".join(
            f"{f.name.lower()}:{spark_type_class(f.dataType)}" for f in dt.fields
        )
        return f"struct<{inner}>"
    return f"other:{dt.simpleString()}"


# ---------------------------------------------------------------------------
# DuckDB side (DuckDBPyType from a LAZY relation — bind only, no execution)
# ---------------------------------------------------------------------------

_DUCK_SIMPLE = {
    "tinyint": "int", "smallint": "int", "integer": "int", "bigint": "int",
    "utinyint": "int", "usmallint": "int", "uinteger": "int",
    "ubigint": "int",
    # Arrow materializes HUGEINT as decimal128(38,0) — the dq08 class.
    "hugeint": "decimal(s=0)", "uhugeint": "decimal(s=0)",
    "float": "float", "double": "float",
    "varchar": "str", "char": "str", "enum": "str", "uuid": "str",
    "boolean": "bool",
    "date": "date",
    "timestamp": "ts", "timestamp with time zone": "ts",
    "timestamp_s": "ts", "timestamp_ms": "ts", "timestamp_ns": "ts",
    "time": "time", "time with time zone": "time",
    "blob": "bin", "bit": "bin",
    "interval": "interval",
    '"null"': "null", "null": "null", "sqlnull": "null",
}


def duck_type_class(t: Any) -> str:
    tid = t.id
    if tid == "decimal":
        scale = dict(t.children)["scale"]
        return f"decimal(s={scale})"
    if tid in _DUCK_SIMPLE:
        return _DUCK_SIMPLE[tid]
    if tid == "list":
        (_, child), = t.children
        return f"array<{duck_type_class(child)}>"
    if tid == "map":
        children = dict(t.children)
        return (
            f"map<{duck_type_class(children['key'])},"
            f"{duck_type_class(children['value'])}>"
        )
    if tid == "struct":
        inner = ",".join(
            f"{name.lower()}:{duck_type_class(child)}"
            for name, child in t.children
        )
        return f"struct<{inner}>"
    return f"other:{tid}"


# ---------------------------------------------------------------------------
# Shape contract: wide decimal->double casts anywhere in the analyzed plan
# ---------------------------------------------------------------------------

def _walk_wide_casts(jplan) -> set:
    """Collect (child_type, 'double') for every Cast(decimal(p>=19, s=0)
    -> double) in an analyzed plan, recursing through plan nodes,
    expression trees, and subquery plans via py4j."""
    import re

    hits = set()
    stack = [jplan]
    while stack:
        node = stack.pop()
        try:
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        except Exception:
            pass
        try:
            exprs = node.expressions()
        except Exception:
            continue
        estack = [exprs.apply(i) for i in range(exprs.size())]
        while estack:
            e = estack.pop()
            cls = e.getClass().getSimpleName()
            if cls == "Cast":
                try:
                    dt = e.dataType().simpleString()
                    cdt = e.child().dataType().simpleString()
                    m = re.match(r"decimal\((\d+),(\d+)\)", cdt)
                    if dt == "double" and m and int(m.group(1)) >= 19 \
                            and int(m.group(2)) == 0:
                        hits.add((cdt, dt))
                except Exception:
                    pass
            if "Subquery" in cls or "Exists" in cls or "ListQuery" in cls:
                try:
                    stack.append(e.plan())
                except Exception:
                    pass
            try:
                ech = e.children()
                for i in range(ech.size()):
                    estack.append(ech.apply(i))
            except Exception:
                pass
    return hits


# ---------------------------------------------------------------------------
# The per-pair static audit
# ---------------------------------------------------------------------------

def audit_pair(con, duck_sql: str, sdf) -> list[str]:
    """Problems of one built pair under the static audit ([] = safe).

    Reads only ``sdf``'s analyzed schema and plan and DuckDB's lazy bind
    of ``duck_sql``. Parity matches columns by lower-cased name, order-
    insensitive, mirroring the driver's sort-columns-by-name compare.

    Shape contract (the driver's external canonicalizer):

    (1) No complex-typed output columns: the external canonicalizer
        pandas-sorts and hashes result cells, and dies on list/dict
        cells (round-1 VERDICT: f30/f31/f32 TypeError unhashable list).
        Arrays are rendered via array_join/array_to_string in the pair.

    (2) No wide integer-decimal OUTPUT columns (DecimalType precision >
        15, scale 0): their values can pass 2^53, where a float64-
        coercing hasher renders Spark's Decimal and DuckDB's int128
        differently even when the values are EQUAL — the round-5 driver
        red row (g51's DECIMAL(38,0) cents^2 sums, ~2^61). Render such
        values as STRING, or keep them < 2^53 via sqlexact.idiv.

    (3) No Cast(decimal(p>=19, s=0) -> double) ANYWHERE in the analyzed
        plan: width >= 19 is DuckDB's int128 storage, whose cast to
        double is NOT correctly rounded (1-ulp drift, observed live on
        g39's 70-bit moments) — a shared-text cast can therefore differ
        per engine even on equal inputs, and a terminal ROUND(6) only
        shrinks the window where the ulp flips a rounding boundary.
        Use sqlexact.dec2dbl (deterministic hi/lo int64 split) or exact
        integer division instead. Width <= 18 scale-0 casts are int64-
        backed in both engines (correctly rounded — deterministic), and
        scaled money casts (e.g. DECIMAL(28,4) revenue) keep their
        unscaled payloads < 2^53 at test scale; both stay allowed.
    """
    problems = []
    s_types = {}
    for f in sdf.schema.fields:
        dt = f.dataType
        s_types[f.name.lower()] = spark_type_class(dt)
        if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
            problems.append(f"{f.name}: complex output {dt.simpleString()}")
        if isinstance(dt, T.DecimalType) and dt.precision > 15 and dt.scale == 0:
            problems.append(f"{f.name}: wide integer-decimal output {dt.simpleString()}")
    for cdt, dt in sorted(_walk_wide_casts(sdf._jdf.queryExecution().analyzed())):
        problems.append(f"plan: wide-decimal cast {cdt} -> {dt}")
    rel = con.sql(duck_sql)
    d_types = {
        c.lower(): duck_type_class(t) for c, t in zip(rel.columns, rel.types)
    }
    for col in sorted(set(s_types) | set(d_types)):
        sc, dc = s_types.get(col), d_types.get(col)
        if sc is None or dc is None:
            problems.append(f"{col}: present only in "
                            f"{'spark' if dc is None else 'duck'}")
        elif sc != dc:
            problems.append(f"{col}: spark={sc} duck={dc}")
    return problems
