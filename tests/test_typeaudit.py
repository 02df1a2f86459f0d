"""Gate-parity tests: the static audit (dtype-class parity and the shape
contract) and the Decimal-strict canonicalizer — the defenses against the
dq08 class (driver-red on a rendering-type drift that every round-1..10
local gate passed) and the canonicalizer shape failures.
"""

from __future__ import annotations

import uuid
from decimal import Decimal

import pytest

from pydatalake_gen2_spark.harness import canon_rows
from pydatalake_gen2_spark.typeaudit import (
    audit_pair,
    duck_type_class,
    spark_type_class,
)


# ---------------------------------------------------------------------------
# Canonicalizer: Decimal must be distinct from int and float
# ---------------------------------------------------------------------------

def test_canon_decimal_vs_int_fails():
    # The dq08 driver red row in miniature: DuckDB HUGEINT surfaced as
    # Decimal('2126') vs Spark int64 2126.  Pre-round-11 the canonicalizer
    # coerced Decimal→float and Python hashed 2126.0 == 2126; now the
    # multiset compare must FAIL.
    spark_side = canon_rows(["val"], [(2126,)])
    duck_side = canon_rows(["val"], [(Decimal("2126"),)])
    assert spark_side != duck_side


def test_canon_decimal_vs_float_fails():
    assert canon_rows(["v"], [(2126.0,)]) != canon_rows(["v"], [(Decimal("2126"),)])


def test_canon_decimal_scale_drift_fails():
    # Declared-scale drift renders differently through Arrow decimal128:
    # '2126.00' vs '2126.0'.  Equal Decimal VALUES, unequal canon.
    assert canon_rows(["v"], [(Decimal("2126.00"),)]) != canon_rows(
        ["v"], [(Decimal("2126.0"),)]
    )


def test_canon_decimal_equal_matches():
    a = canon_rows(["v"], [(Decimal("12.50"),), (Decimal("-3.00"),)])
    b = canon_rows(["v"], [(Decimal("-3.00"),), (Decimal("12.50"),)])
    assert a == b


# ---------------------------------------------------------------------------
# Type-class mapping units
# ---------------------------------------------------------------------------

def test_spark_type_classes():
    from pyspark.sql import types as T

    assert spark_type_class(T.LongType()) == "int"
    assert spark_type_class(T.IntegerType()) == "int"
    assert spark_type_class(T.DecimalType(38, 0)) == "decimal(s=0)"
    assert spark_type_class(T.DecimalType(12, 2)) == "decimal(s=2)"
    assert spark_type_class(T.DoubleType()) == "float"
    assert spark_type_class(T.ArrayType(T.LongType())) == "array<int>"
    assert (
        spark_type_class(T.StructType([T.StructField("A", T.StringType())]))
        == "struct<a:str>"
    )


def test_duck_type_classes(duck):
    rel = duck.sql(
        "SELECT 1::BIGINT AS a, 1::HUGEINT AS h, 1.5::DECIMAL(12,2) AS d, "
        "1.5::DOUBLE AS f, [1::BIGINT] AS arr, 'x' AS s"
    )
    classes = {c: duck_type_class(t) for c, t in zip(rel.columns, rel.types)}
    assert classes == {
        "a": "int",
        "h": "decimal(s=0)",  # Arrow materializes HUGEINT as decimal128(38,0)
        "d": "decimal(s=2)",
        "f": "float",
        "arr": "array<int>",
        "s": "str",
    }


# ---------------------------------------------------------------------------
# Planted pairs: one per audit clause. Each must be REJECTED by the static
# audit, and run_pair must return STATIC_MISMATCH without running it.
# ---------------------------------------------------------------------------

_PLANTED = {
    # sum(BIGINT) in DuckDB widens to HUGEINT — the exact dq08 drift.
    "hugeint_sum": (
        "SELECT sum(r_regionkey) AS val FROM region",
        "SELECT sum(r_regionkey) AS val FROM region",
        "val: spark=int duck=decimal(s=0)",
    ),
    "array_output": (
        "SELECT array(1, 2) AS arr",
        "SELECT [1, 2] AS arr",
        "arr: complex output array<int>",
    ),
    "wide_decimal_output": (
        "SELECT CAST(r_regionkey AS DECIMAL(38,0)) AS v FROM region",
        "SELECT CAST(r_regionkey AS DECIMAL(38,0)) AS v FROM region",
        "v: wide integer-decimal output decimal(38,0)",
    ),
    "wide_decimal_cast": (
        "SELECT CAST(CAST(r_regionkey AS DECIMAL(20,0)) AS DOUBLE) AS x FROM region",
        "SELECT CAST(CAST(r_regionkey AS DECIMAL(20,0)) AS DOUBLE) AS x FROM region",
        "plan: wide-decimal cast decimal(20,0) -> double",
    ),
}


@pytest.mark.parametrize("case", sorted(_PLANTED))
def test_planted_pair_rejected(spark, duck, sf_dir, case):
    from pydatalake_gen2_spark import registry as reg
    from pydatalake_gen2_spark.harness import run_pair
    from pydatalake_gen2_spark.registry import QueryPair

    spark_sql, duck_sql, problem = _PLANTED[case]
    sc = spark.sparkContext
    group = f"test-planted-{uuid.uuid4().hex}"

    def jobs() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    built = []

    def spark_fn(s, d):
        reg.ensure_views(s, d)
        df = s.sql(spark_sql)
        built.append(jobs())
        return df

    assert audit_pair(duck, duck_sql, spark_fn(spark, sf_dir)) == [problem]
    name = f"zz_test_planted_{case}"
    reg.REGISTRY[name] = QueryPair(name, spark_fn, duck_sql)
    sc.setJobGroup(group, "planted pair")
    try:
        res = run_pair(spark, duck, sf_dir, name)
        after = jobs()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        del reg.REGISTRY[name]
    assert res["status"] == "STATIC_MISMATCH", res
    assert res["detail"] == problem
    assert after == built[-1], "run_pair started a job after construction"


def test_cast_hugeint_oracle_accepted(spark, duck, sf_dir):
    from pydatalake_gen2_spark import registry as reg

    reg.ensure_views(spark, sf_dir)
    sdf = spark.sql("SELECT sum(r_regionkey) AS val FROM region")
    duck_sql = "SELECT CAST(sum(r_regionkey) AS BIGINT) AS val FROM region"
    assert audit_pair(duck, duck_sql, sdf) == []
