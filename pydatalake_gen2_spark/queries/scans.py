"""Scans / sources / sinks — SURVEY.md §2B.1 (S01-S07, S09).

Round-trip pattern: Spark WRITES a format into a temp dir, reads it back,
and the DuckDB oracle runs on the ORIGINAL parquet — proving both
directions of the connector at once. Write targets are per-process temp
dirs (cheap at correctness scale; bench's scan head s01 is read-only).

Replaces the reference's byte-stream read/upload surface
(/root/reference/azure/datalake/gen2/client.py:528-546 read_path,
:548-582 upload_*): Spark's readers/writers ARE the engine's scan/sink
operators; ADLS Gen2 auth collapses to connector conf (sources/lake.py).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pydatalake_gen2_spark.registry import register, sql_pair
from pydatalake_gen2_spark.tables import TABLES, load_table

_tmp_root: str | None = None


def _tmp(name: str, sf_dir: str) -> str:
    global _tmp_root
    if _tmp_root is None:  # made on first use, removed at interpreter exit
        _tmp_root = tempfile.mkdtemp(prefix="pydatalake_sinks_")
        atexit.register(shutil.rmtree, _tmp_root, ignore_errors=True)
    tag = sf_dir.strip("/").replace("/", "_")
    return os.path.join(_tmp_root, f"{name}_{tag}")


def _write_once(path: str, write) -> str:
    """Sinks are written once per (process, sf_dir) — repeated sweep
    invocations of the same query must not pay the write again (the
    read-back is the thing under test on re-runs; the round-1 sweep paid
    a full rewrite per call)."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write()
    return path


@register(
    "s01_parquet_scan",
    duck_sql="SELECT * FROM lineitem",
)
def s01_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-content parquet scan of the fact table (vectorized reader;
    count + full value-hash compare)."""
    return spark.table("lineitem")


@register(
    "s02_csv_roundtrip",
    duck_sql="SELECT * FROM nation",
)
def s02_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → CSV (header) → read back with explicit schema."""
    path = _tmp("s02_csv", sf_dir)
    _write_once(
        path,
        lambda: load_table(spark, sf_dir, "nation")
        .write.mode("overwrite")
        .option("header", True)
        .csv(path),
    )
    return spark.read.schema(TABLES["nation"]).option("header", True).csv(path)


@register(
    "s03_json_roundtrip",
    duck_sql="SELECT * FROM region",
)
def s03_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region → JSON lines → read back with explicit schema."""
    path = _tmp("s03_json", sf_dir)
    _write_once(
        path, lambda: load_table(spark, sf_dir, "region").write.mode("overwrite").json(path)
    )
    return spark.read.schema(TABLES["region"]).json(path)


@register(
    "s05_partitioned_pruned",
    duck_sql="""
    SELECT l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
    """,
)
def s05_partitioned_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write on l_returnflag; the read-back filter prunes
    to one partition directory (PartitionFilters in the scan node) — the
    layout pattern that turns full scans into directory lookups at 100 TB."""
    path = _tmp("s05_part", sf_dir)
    _write_once(
        path,
        lambda: load_table(spark, sf_dir, "lineitem")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(path),
    )
    back = spark.read.parquet(path).filter(F.col("l_returnflag") == "R")
    return back.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("sum_qty"),
    )


@register(
    "s06_parquet_sink",
    duck_sql="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def s06_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate → parquet sink → read back (overwrite mode)."""
    path = _tmp("s06_sink", sf_dir)
    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("sum_price"),
        )
    )
    _write_once(path, lambda: agg.write.mode("overwrite").parquet(path))
    return spark.read.parquet(path)


@register(
    "s07_csv_sink",
    duck_sql="""
    SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def s07_csv_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered projection → CSV sink (header) → schema'd read back."""
    path = _tmp("s07_csv", sf_dir)
    sub = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey", "c_name", "c_acctbal")
    _write_once(
        path, lambda: sub.write.mode("overwrite").option("header", True).csv(path)
    )
    return spark.read.schema(
        "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE"
    ).option("header", True).csv(path)


@register(
    "s11_orc_roundtrip",
    duck_sql="SELECT * FROM nation",
)
def s11_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → ORC → read back (second columnar format; the oracle reads
    the original parquet, so the round-trip must be lossless)."""
    path = _tmp("s11_orc", sf_dir)
    _write_once(
        path, lambda: load_table(spark, sf_dir, "nation").write.mode("overwrite").orc(path)
    )
    return spark.read.schema(TABLES["nation"]).orc(path)


@register(
    "s12_compaction_layout",
    duck_sql="""
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def s12_compaction_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction: rewrite the fact table partitioned by
    l_returnflag with ONE task per partition directory
    (repartition(partition_cols) co-locates each Hive partition's rows)
    and a maxRecordsPerFile cap bounding file size. The layout invariant
    (<= ceil(rows/cap) files per directory, no task-fragment spray) is
    asserted in tests/test_operators.py; the read-back group counts
    hash-match the oracle, proving the rewrite is lossless."""
    path = _tmp("s12_compact", sf_dir)

    def write():
        (
            load_table(spark, sf_dir, "lineitem")
            .repartition("l_returnflag")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", 500_000)
            .partitionBy("l_returnflag")
            .parquet(path)
        )

    _write_once(path, write)
    return (
        spark.read.parquet(path)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "s13_sorted_layout",
    duck_sql="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           strftime(min(l_shipdate), '%Y-%m-%d') AS min_ship,
           strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship
    FROM lineitem
    """,
)
def s13_sorted_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned sorted write — the terasort-style layout that
    gives a sorted lake table: repartitionByRange(l_shipdate) makes
    files cover DISJOINT date ranges (zone-map file skipping: a date
    predicate prunes whole files by footer min/max), and
    sortWithinPartitions clusters rows inside each file for row-group
    skipping. Read-back totals hash-match the oracle (lossless); the
    disjoint-files invariant is asserted in tests/test_operators.py."""
    path = _tmp("s13_sorted", sf_dir)

    def write():
        (
            load_table(spark, sf_dir, "lineitem")
            .repartitionByRange(8, "l_shipdate")
            .sortWithinPartitions("l_shipdate", "l_orderkey")
            .write.mode("overwrite")
            .parquet(path)
        )

    _write_once(path, write)
    back = spark.read.schema(TABLES["lineitem"]).parquet(path)
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("l_orderkey").alias("n_orders"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("min_ship"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("max_ship"),
    )


@register(
    "s14_text_roundtrip",
    duck_sql="SELECT md5(text) AS value FROM documents",
)
def s14_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source/sink (spark.read/write.text — the raw
    log-file connector): documents render to one md5 line each (hex is
    delimiter-free so the round-trip is unambiguous), read back as the
    single `value` column; oracle computes the same md5 set from the
    original table. Proves the text connector both directions without
    depending on line order (compare is order-insensitive)."""
    path = _tmp("s14_text", sf_dir)
    _write_once(
        path,
        lambda: spark.table("documents")
        .select(F.md5(F.col("text")).alias("value"))
        .write.mode("overwrite")
        .text(path),
    )
    return spark.read.text(path)


@register(
    "s15_schema_evolution",
    duck_sql="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice END AS o_totalprice,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority
    FROM orders ORDER BY o_orderkey
    """,
)
def s15_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet generations with different
    column sets (an old extract with o_totalprice, a new one that added
    o_orderpriority instead) union under mergeSchema=true — absent
    columns surface as NULLs, the lake-table pattern for additive schema
    change without rewriting history. At 100 TB schema merge happens on
    FOOTERS only (one task per file reads metadata, not data); the
    oracle derives the same union-by-name semantics from the original
    table."""
    pa = _tmp("s15_evo_a", sf_dir)
    pb = _tmp("s15_evo_b", sf_dir)
    orders = spark.table("orders")
    _write_once(
        pa,
        lambda: orders.filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(pa),
    )
    _write_once(
        pb,
        lambda: orders.filter(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite")
        .parquet(pb),
    )
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(pa, pb)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    )


@register(
    "s16_time_travel",
    duck_sql="""
    SELECT 1 AS version, r_regionkey, r_name FROM region
    UNION ALL
    SELECT 2 AS version, r_regionkey, lower(r_name) FROM region
    ORDER BY version, r_regionkey
    """,
)
def s16_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-versioned table (sources/versioned.py): two commits —
    the original region dim, then a rewrite that lowercases names —
    published via the manifest-log protocol; the query time-travels to
    v1 AND reads latest, proving both snapshots stay independently
    readable after the second commit (the lakehouse property plain
    overwrite destroys). Unit-tested further in tests/test_lake.py
    (atomic publish, expire retention)."""
    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, _tmp("s16_vt", sf_dir))
    if vt.current_version() == 0:
        region = spark.table("region")
        vt.commit(region)
        vt.commit(region.withColumn("r_name", F.lower(F.col("r_name"))))
    v1 = vt.read(1).select(
        F.lit(1).alias("version"), "r_regionkey", "r_name"
    )
    latest = vt.read().select(
        F.lit(2).alias("version"), "r_regionkey", "r_name"
    )
    return v1.unionByName(latest).orderBy("version", "r_regionkey")


@register(
    "s17_python_datasource",
    duck_sql="""
    SELECT * FROM (VALUES
      ('customer.parquet',   'parquet'),
      ('documents.parquet',  'parquet'),
      ('embeddings.parquet', 'parquet'),
      ('events.parquet',     'parquet'),
      ('lineitem.parquet',   'parquet'),
      ('nation.parquet',     'parquet'),
      ('orders.parquet',     'parquet'),
      ('part.parquet',       'parquet'),
      ('region.parquet',     'parquet'),
      ('supplier.parquet',   'parquet')) AS t(name, ext)
    ORDER BY name
    """,
)
def s17_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17: the reference's recursive listing surface (list_path,
    reference client.py:481-511) re-expressed as a CUSTOM PYTHON DATA
    SOURCE (sources/pyds.py, pyspark.sql.datasource — public Spark 4
    API): partitioned parallel listing (one input partition per root
    child subtree) with ext/is_dir filter pushdown applied during the
    walk. This query reads the sf fixture dir through the source and
    projects the stable columns (file sizes vary by scale factor; the
    name set is the fixed 10-table contract, so the oracle is VALUES).
    Pushdown + partition behavior unit-tested in tests/test_lake.py.

    LAYOUT-INVARIANT since r10 (the sf1 evidence sweep caught the
    dependence): the walk finds parquet FILES, but a table is one file
    in the driver fixtures and a DIRECTORY of part files in
    Spark-written scale fixtures (sf1+), so the projection reduces each
    found file to its TOP-LEVEL entry (first path segment) and dedups —
    both layouts map to the same 10-name contract, and the recursive
    walk + ext pushdown stay fully exercised (a part file only
    surfaces its table if the walk reached it)."""
    from pydatalake_gen2_spark.sources.pyds import ensure_registered

    ensure_registered(spark)
    return (
        spark.read.format("lake_listing")
        .option("path", sf_dir)
        .load()
        .filter((F.col("ext") == "parquet") & (~F.col("is_dir")))
        .select(F.split(F.col("name"), "/").getItem(0).alias("name"))
        .distinct()
        .select(
            "name",
            F.element_at(F.split(F.col("name"), "\\."), -1).alias("ext"),
        )
        .orderBy("name")
    )


@register(
    "s18_zorder_layout",
    duck_sql="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(l_partkey) AS BIGINT) AS sum_part,
           CAST(sum(l_suppkey) AS BIGINT) AS sum_supp,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem
    """,
)
def s18_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S18: Z-order (Morton-curve) clustered layout on (l_partkey,
    l_suppkey) — operators/layout.py::zorder_write. Files cover disjoint
    z ranges = small rectangles in key space, so footer zone maps prune
    files for predicates on EITHER column (the property 1-d sorting
    can't give; asserted from real parquet footers in
    tests/test_operators.py::test_zorder_file_skipping). The registered
    output is the lossless read-back aggregate: rewriting layout must
    never change content."""
    from pydatalake_gen2_spark.operators.layout import zorder_write

    path = _tmp("s18_zorder", sf_dir)

    def write():
        zorder_write(
            load_table(spark, sf_dir, "lineitem"), path, "l_partkey", "l_suppkey"
        )

    _write_once(path, write)
    back = spark.read.schema(TABLES["lineitem"]).parquet(path)
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_partkey").cast("bigint").alias("sum_part"),
        F.sum("l_suppkey").cast("bigint").alias("sum_supp"),
        F.count_distinct("l_orderkey").alias("n_orders"),
    )


@register(
    "s20_dynamic_partition_overwrite",
    duck_sql="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CASE WHEN o_orderpriority = '1-URGENT'
                              THEN o_totalprice + 1000.0
                              ELSE o_totalprice END AS DECIMAL(18,4)))
                AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderpriority
    """,
    doc="S20: dynamic partition overwrite — rewrite ONLY the partitions "
        "present in the incoming batch (spark.sql.sources."
        "partitionOverwriteMode=dynamic), leaving sibling partitions "
        "untouched. The idempotent daily-reprocess primitive at 100 TB: "
        "re-running one day's batch replaces that day's directory "
        "atomically instead of truncating the table (static overwrite "
        "would drop every other partition). Exercised by partitioning "
        "orders on o_orderpriority, then overwriting just '1-URGENT' "
        "with +1000 prices; the read-back aggregate proves the other "
        "four partitions survived byte-identically.",
)
def s20_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _tmp("s20_dpo", sf_dir)
    marker = os.path.join(path, "_STEP2_DONE")
    orders = load_table(spark, sf_dir, "orders")
    _write_once(
        path,
        lambda: orders.write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(path),
    )
    if not os.path.exists(marker):
        urgent = (
            orders.filter(F.col("o_orderpriority") == "1-URGENT")
            .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            urgent.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        open(marker, "w").close()
    back = spark.read.parquet(path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double")
        .alias("sum_price"),
    )


@register(
    "s21_codec_matrix",
    duck_sql="""
    SELECT codec,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_price
    FROM orders, (VALUES ('snappy'), ('zstd')) c(codec)
    GROUP BY codec ORDER BY codec
    """,
    doc="S21: compression-codec matrix — the same table written as "
        "snappy AND zstd parquet, read back and aggregated per codec; "
        "equality of the two rows proves codec choice is "
        "value-transparent. Operationally this is the 100 TB storage "
        "knob: zstd ~30-50% smaller at similar scan CPU (fewer bytes "
        "off the lake often wins end-to-end), snappy cheapest to "
        "encode for hot write paths; per-table choice is one writer "
        "option, never a schema change.",
)
def s21_codec_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    outs = []
    for codec in ("snappy", "zstd"):
        path = _tmp(f"s21_{codec}", sf_dir)
        _write_once(
            path,
            lambda p=path, c=codec: orders.write.mode("overwrite")
            .option("compression", c)
            .parquet(p),
        )
        outs.append(
            spark.read.parquet(path).select(
                F.lit(codec).alias("codec"), "o_totalprice"
            )
        )
    both = outs[0].unionByName(outs[1])
    return (
        both.groupBy("codec")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double")
            .alias("sum_price"),
        )
        .orderBy("codec")
    )


@register(
    "s22_permissive_json",
    duck_sql="""
    SELECT status, CAST(n AS BIGINT) AS n, ids FROM (VALUES
      ('good', 4, '1,2,4,6'),
      ('corrupt', 3, '')) t(status, n, ids)
    ORDER BY status
    """,
    doc="S22: malformed-record tolerant JSON ingest — PERMISSIVE mode "
        "with columnNameOfCorruptRecord routes unparseable lines into a "
        "quarantine column instead of failing the 100 TB job at the "
        "first bad byte (ingest survives upstream producers' garbage; "
        "the corrupt originals stay queryable for triage). The fixture "
        "file is written deterministically with 4 valid + 3 corrupt "
        "lines, so the good/corrupt tallies and surviving ids hash "
        "against a VALUES oracle. FAILFAST remains the right mode once "
        "a feed is trusted; DROPMALFORMED silently loses data and is "
        "never the default here.",
)
def s22_permissive_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _tmp("s22_json", sf_dir)
    if not os.path.exists(path):
        os.makedirs(path, exist_ok=True)
        lines = [
            '{"id": 1, "v": "a"}',
            '{"id": 2, "v": "b"}',
            '{"id": 3, "v": ',            # truncated
            'not json at all',            # garbage
            '{"id": 4, "v": "d"}',
            '{"id": 5, "v"}',             # malformed
            '{"id": 6, "v": "f"}',
        ]
        with open(os.path.join(path, "part-000.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
    df = (
        spark.read.schema("id BIGINT, v STRING, _bad STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(path)
    )
    return (
        df.withColumn(
            "status", F.when(F.col("_bad").isNull(), "good").otherwise("corrupt")
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.array_join(
                F.sort_array(F.collect_list(F.col("id").cast("string"))), ","
            ).alias("ids"),
        )
        .orderBy("status")
    )


@register(
    "s23_metadata_columns",
    duck_sql="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS rows_in_parquet_files,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys
    FROM orders
    """,
    doc="S23: hidden file-metadata column — every file-source row "
        "carries _metadata (file_name/path/size/modification time) "
        "resolved from the scan, no storage cost. The lineage primitive "
        "at 100 TB: per-file row counts for audit, quarantining a bad "
        "producer's files by name, incremental processing by "
        "modification time. LAYOUT-INVARIANT since r10 (the sf1 "
        "evidence sweep caught the single-file assumption): the query "
        "groups by _metadata.file_name — proving the column binds to "
        "the real scan unit in ANY layout (one file in the driver "
        "fixtures, a directory of part files at sf1+) — then reduces "
        "the per-file accounting to whole-table facts the oracle can "
        "state without knowing the split: per-file row counts must SUM "
        "to the table count (a row lost or double-assigned by the "
        "metadata binding breaks equality), and every row must sit in "
        "a '*.parquet'-named file (a NULL/empty binding breaks it).",
)
def s23_metadata_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    per_file = (
        df.select("o_orderkey", F.col("_metadata.file_name").alias("file_name"))
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("o_orderkey").cast("bigint").alias("n_keys"),
        )
    )
    return per_file.agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum(
            F.when(F.col("file_name").endswith(".parquet"), F.col("n_rows"))
            .otherwise(F.lit(0))
        ).cast("bigint").alias("rows_in_parquet_files"),
        # o_orderkey is globally unique, so per-file distincts sum to the
        # global distinct count exactly — keeps the per-file key
        # accounting in the hashed output
        F.sum("n_keys").cast("bigint").alias("n_keys"),
    )


@register(
    "s24_source_options",
    duck_sql="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey
    """,
)
def s24_source_options(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S24: file-source discovery options — recursiveFileLookup walks
    arbitrarily nested non-partition directories (a/, b/deep/) and
    pathGlobFilter('*.parquet') excludes a decoy data file planted with
    extra rows under a non-matching name. Read-back must equal the
    original table exactly: nesting lost no rows, the decoy leaked none
    in. This is the messy-lake ingest shape (vendor drops, crawler
    output) where layout is not hive-partitioned and stray sidecar files
    (manifests, checksums, _tmp) sit beside data; discovery stays in the
    driver's InMemoryFileIndex (a listing, no data read) so filtering
    happens BEFORE any task is scheduled."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = _tmp("s24_opts", sf_dir)

    def write() -> None:
        nat = load_table(spark, sf_dir, "nation")
        nat.filter("n_nationkey < 13").coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "a")
        )
        nat.filter("n_nationkey >= 13").coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "b", "deep")
        )
        # decoy: real parquet bytes, non-matching extension — if the glob
        # filter ever regressed, row 999 would appear and the hash breaks
        decoy = pa.table(
            {
                "n_nationkey": pa.array([999], pa.int32()),
                "n_name": pa.array(["DECOY"], pa.string()),
                "n_regionkey": pa.array([9], pa.int32()),
            }
        )
        pq.write_table(decoy, os.path.join(path, "b", "extra.skipme"))
        with open(os.path.join(path, "_SUCCESS"), "w"):
            pass

    _write_once(path, write)
    df = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(path)
    )
    return df.select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")


@register(
    "s25_xml_roundtrip",
    duck_sql="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey
    """,
)
def s25_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S25: XML source/sink round-trip (Spark 4 ships spark-xml natively:
    format('xml') + rowTag). Write nation as <row> elements, read back
    with an EXPLICIT schema (inference on XML is string-happy — the same
    discipline as S02's CSV read), hash-match the original table. DuckDB
    has no XML reader, so the oracle certifies the round-trip by reading
    the source table directly — any loss or type drift in either
    direction breaks the hash. XML matters for ingest parity: legacy
    vendor feeds are the main place a lake still meets XML; once read,
    everything downstream is columnar."""
    path = _tmp("s25_xml", sf_dir)
    nat = load_table(spark, sf_dir, "nation")
    _write_once(
        path,
        lambda: nat.coalesce(1)
        .write.format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "row")
        .mode("overwrite")
        .save(path),
    )
    back = (
        spark.read.format("xml")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("rowTag", "row")
        .load(path)
    )
    return back.select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")


@register(
    "s26_python_datasource_writer",
    duck_sql="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey
    """,
)
def s26_python_datasource_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S26: custom Python DataSource WRITER (the write half of the Spark 4
    Python DataSource API; S17 is the read half). nation goes out through
    format('lake_jsonl') — executor tasks stage unique temp files, the
    driver commit renames them to part-N.jsonl and writes a _SUCCESS
    manifest, abort cleans staging (sources/pyds._JsonlWriter: the
    reference's append+flush two-phase upload recast as Spark's
    committer contract). Read back with an explicit schema and
    hash-match the source — round-trip proves both task-side streaming
    write and the commit rename actually published every row exactly
    once."""
    from pydatalake_gen2_spark.sources.pyds import ensure_sink_registered

    ensure_sink_registered(spark)
    path = _tmp("s26_jsonl", sf_dir)

    def write() -> None:
        nat = load_table(spark, sf_dir, "nation")
        (
            nat.repartition(3)
            .write.format("lake_jsonl")
            .option("path", path)
            .mode("append")
            .save()
        )

    _write_once(path, write)
    back = (
        spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("pathGlobFilter", "part-*.jsonl")
        .json(path)
    )
    return back.orderBy("n_nationkey")


@register(
    "s27_partition_evolution",
    duck_sql="""
    SELECT o_orderkey, o_totalprice, CAST(year(o_orderdate) AS INT) AS o_year
    FROM orders ORDER BY o_orderkey
    """,
)
def s27_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S27: partition-LAYOUT evolution — generation 1 of a table was
    written flat (o_year as an ordinary column), generation 2 is
    hive-partitioned by o_year (the column lives in directory names).
    The migrated read is two scans + unionByName: Spark rebuilds gen2's
    o_year from partition directories, gen1 carries it as data, and the
    union must equal the unsplit table. This is the real shape of a lake
    that adopted partitioning mid-life: you re-layout going FORWARD and
    leave old data in place — schema evolution (S15) handles changing
    COLUMNS, this handles changing LAYOUT, and neither forces a
    rewrite of history."""
    path = _tmp("s27_layout", sf_dir)

    def write() -> None:
        orders = load_table(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate").cast("int")
        )
        gen1 = orders.filter(F.col("o_year") < 1998)
        gen2 = orders.filter(F.col("o_year") >= 1998)
        gen1.select("o_orderkey", "o_totalprice", "o_year").write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "gen1"))
        gen2.select("o_orderkey", "o_totalprice", "o_year").write.partitionBy(
            "o_year"
        ).mode("overwrite").parquet(os.path.join(path, "gen2"))
        with open(os.path.join(path, "_SUCCESS"), "w"):
            pass

    _write_once(path, write)
    gen1 = spark.read.parquet(os.path.join(path, "gen1"))
    gen2 = spark.read.parquet(os.path.join(path, "gen2"))
    return (
        gen1.unionByName(gen2.select("o_orderkey", "o_totalprice", "o_year"))
        .orderBy("o_orderkey")
    )


@register(
    "s28_column_defaults",
    duck_sql="""
    SELECT o_orderkey AS k, 'UNKNOWN' AS status, 'batch' AS src
    FROM orders WHERE o_orderkey <= 32
    UNION ALL
    SELECT o_orderkey, o_orderstatus, 'manual'
    FROM orders WHERE o_orderkey > 32 AND o_orderkey <= 64
    ORDER BY k
    """,
)
def s28_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S28: DEFAULT column values (Spark 3.4+ DDL) — a catalog table
    declares per-column defaults, a partial-column INSERT materializes
    them, an explicit INSERT overrides them; the oracle states both
    outcomes literally. Defaults are how a lake table adds a column
    WITHOUT rewriting producers: old writers keep inserting the narrow
    shape, readers see the declared default — the write-side half of
    what mergeSchema (S15) does on the read side."""
    import shutil

    # explicit LOCATION + wipe: a managed table's directory outlives the
    # per-session in-memory metastore, so a later session's CREATE hits
    # LOCATION_ALREADY_EXISTS even after DROP TABLE IF EXISTS (which no
    # longer knows the table). An external table at a per-process temp
    # location, wiped before CREATE, is rerun-safe.
    loc = _tmp("s28_table", sf_dir)
    spark.sql("DROP TABLE IF EXISTS s28_def")
    shutil.rmtree(loc, ignore_errors=True)
    spark.sql(
        "CREATE TABLE s28_def (k BIGINT, status STRING DEFAULT 'UNKNOWN', "
        f"src STRING DEFAULT 'batch') USING parquet LOCATION '{loc}'"
    )
    spark.sql(
        "INSERT INTO s28_def (k) SELECT o_orderkey FROM orders WHERE o_orderkey <= 32"
    )
    spark.sql(
        "INSERT INTO s28_def SELECT o_orderkey, o_orderstatus, 'manual' "
        "FROM orders WHERE o_orderkey > 32 AND o_orderkey <= 64"
    )
    return spark.sql("SELECT * FROM s28_def ORDER BY k")


@register(
    "s29_parquet_bloom",
    duck_sql="""
    SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n,
           SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS revenue
    FROM lineitem WHERE l_orderkey IN (1, 32, 33, 64, 97)
    GROUP BY l_orderkey ORDER BY l_orderkey
    """,
)
def s29_parquet_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S29: parquet BLOOM FILTERS at write time
    (parquet.bloom.filter.enabled#col) — the storage knob for
    point-lookup workloads on high-cardinality keys where min/max zone
    maps (S13's sorted layout) can't discriminate: an unsorted 100 TB
    table answers `key IN (...)` by testing each row group's bloom and
    skipping clean groups, no re-layout required. The write also sets
    expected NDV (sizes the bitmap). Read-back point lookups must
    hash-match the base table. Parquet is ADAPTIVE here: at fixture
    cardinality the key column stays dictionary-encoded and the writer
    correctly omits the bloom (a dictionary page already filters
    exactly); past the dictionary threshold — any production fact key —
    the bitmap materializes, which the companion test proves on a
    high-cardinality write (size delta vs a bloom-less twin)."""
    path = _tmp("s29_bloom", sf_dir)

    def write() -> None:
        # coalesce(1): one file per twin so the size-delta layout test
        # compares like with like (and one bloom bitmap per twin).
        li = load_table(spark, sf_dir, "lineitem").coalesce(1)
        (
            li.write.option("parquet.bloom.filter.enabled#l_orderkey", "true")
            .option("parquet.bloom.filter.expected.ndv#l_orderkey", "1000000")
            .mode("overwrite")
            .parquet(os.path.join(path, "bloom"))
        )
        li.write.mode("overwrite").parquet(os.path.join(path, "plain"))
        with open(os.path.join(path, "_SUCCESS"), "w"):
            pass

    _write_once(path, write)
    back = spark.read.parquet(os.path.join(path, "bloom"))
    return (
        back.filter(F.col("l_orderkey").isin(1, 32, 33, 64, 97))
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("revenue"),
        )
        .orderBy("l_orderkey")
    )


@register(
    "s30_vacuum_orphans",
    duck_sql="""
    SELECT CAST(step AS INT) AS step, op, ok
    FROM (VALUES
        (0, 'two_commits_live', TRUE),
        (1, 'orphans_detected', TRUE),
        (2, 'dry_run_kept_orphans', TRUE),
        (3, 'vacuum_removed_only_orphans', TRUE),
        (4, 'data_survives_vacuum', TRUE)
    ) t(step, op, ok)
    ORDER BY step
    """,
)
def s30_vacuum_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S30: VACUUM — delete files no manifest references (the leftovers
    of crashed commits), never committed data: the maintenance half of
    the S16 versioned table (commit publishes manifest-last, expire
    deletes manifest-first, vacuum reclaims everything in between).
    Scenario: 2 real commits + a planted half-written ``_v99999999``
    data dir and a stray temp file; dry-run must only REPORT them,
    vacuum must remove EXACTLY them, and both committed versions must
    read back intact afterwards. Each postcondition is one
    deterministic (step, op, ok) row."""
    import shutil
    import tempfile

    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    root = tempfile.mkdtemp(prefix="s30_vt_")
    try:
        vt = VersionedTable(spark, f"file://{root}")
        nat = spark.table("nation").select("n_nationkey", "n_name")
        vt.commit(nat.limit(5))
        vt.commit(nat.limit(10))
        checks: list[tuple[str, bool]] = []
        checks.append(("two_commits_live", vt.versions() == [1, 2]))
        # plant a crashed-commit data dir and a stray temp file
        nat.limit(2).write.mode("overwrite").parquet(f"file://{root}/_v99999999")
        vt._cat.upload_bytes("tmp_junk.partial", b"leftover")
        # min_age_s=0: single-process test, no concurrent writer to protect
        found = vt.vacuum_orphans(dry_run=True, min_age_s=0)
        checks.append(
            ("orphans_detected", found == ["_v99999999", "tmp_junk.partial"])
        )
        checks.append(
            ("dry_run_kept_orphans",
             vt.vacuum_orphans(dry_run=True, min_age_s=0) == found)
        )
        removed = vt.vacuum_orphans(min_age_s=0)
        names = sorted(p.name for p in vt._cat.list_paths(""))
        checks.append(
            ("vacuum_removed_only_orphans",
             removed == found
             and names == sorted(
                 ["_manifest.00000001.json", "_manifest.00000002.json",
                  "_v00000001", "_v00000002"])
             )
        )
        checks.append(
            ("data_survives_vacuum",
             vt.read(1).count() == 5 and vt.read(2).count() == 10)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    rows = [(i, op, bool(ok)) for i, (op, ok) in enumerate(checks)]
    return spark.createDataFrame(rows, "step INT, op STRING, ok BOOLEAN").orderBy("step")


@register(
    "s31_csv_dialect",
    duck_sql="""
    SELECT n_nationkey AS k,
           concat('he said "', n_name, '" ok') AS quoted,
           concat(n_name, ',', CAST(n_nationkey AS STRING), ',tail') AS commas,
           concat('l1 ', n_name, chr(10), 'l2') AS multiline,
           concat('back', chr(92), 'slash ', n_name) AS withbs
    FROM nation ORDER BY k
    """,
)
def s31_csv_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S31: CSV dialect hardening — fields containing embedded double
    quotes, delimiters, NEWLINES, and backslashes written through the CSV
    sink and read back (multiLine + matching quote/escape), certified
    against the oracle recomputing the same values from the source
    columns: any quoting/escaping asymmetry between Spark's writer and
    reader, or any silent row split on the embedded newline, breaks the
    hash. s02/s07 prove the happy path; real-lake CSV is this path.
    Backslash is built via chr(92) in BOTH dialects — Spark SQL string
    literals process backslash escapes, DuckDB's don't (dialect trap)."""
    path = _tmp("s31_csv_dialect", sf_dir)
    src = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k"),
        F.concat(F.lit('he said "'), F.col("n_name"), F.lit('" ok')).alias("quoted"),
        F.concat(
            F.col("n_name"), F.lit(","), F.col("n_nationkey").cast("string"), F.lit(",tail")
        ).alias("commas"),
        F.concat(F.lit("l1 "), F.col("n_name"), F.lit("\n"), F.lit("l2")).alias("multiline"),
        F.concat(F.lit("back\\slash "), F.col("n_name")).alias("withbs"),
    )
    _write_once(
        path,
        lambda: src.write.mode("overwrite").option("header", True).csv(path),
    )
    return (
        spark.read.schema("k INT, quoted STRING, commas STRING, multiline STRING, withbs STRING")
        .option("header", True)
        .option("multiLine", True)
        .csv(path)
        .orderBy("k")
    )


@register(
    "s32_optimize_compaction",
    duck_sql="""
    WITH latest AS (
      SELECT user_id, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           value AS last_value,
           TRUE AS optimized, TRUE AS data_identical, TRUE AS history_intact
    FROM latest WHERE rn = 1 ORDER BY user_id
    """,
)
def s32_optimize_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S32: OPTIMIZE on the snapshot-versioned table — the latest-per-key
    dimension (W11's compaction) is committed, then optimize() rewrites
    its layout into one file AS A NEW VERSION: the read-back must be
    value-identical (hash), the file count must actually drop, and the
    pre-optimize version must remain time-travelable — completing the
    table-maintenance trio (S16 versioning, S30 vacuum, S32 optimize).
    At 100 TB this is the nightly small-files job: pure rewrite, no
    logical change, crash-safe because publication IS the manifest
    write."""
    import glob as _glob
    import tempfile

    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    latest = spark.sql(
        """
        SELECT user_id, event_id AS last_event_id, event_type AS last_type,
               value AS last_value
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) t
        WHERE rn = 1
        """
    )
    root = tempfile.mkdtemp(prefix="s32_vt_")
    vt = VersionedTable(spark, f"file://{root}")
    v1 = vt.commit(latest.repartition(8))  # deliberately fragmented layout
    v2 = vt.optimize(target_files=1)
    n1 = len(_glob.glob(f"{root}/_v{v1:08d}/part-*"))
    n2 = len(_glob.glob(f"{root}/_v{v2:08d}/part-*"))
    old_rows = vt.read(v1).count()
    new = vt.read(v2)
    return new.select(
        "user_id",
        "last_event_id",
        "last_type",
        "last_value",
        F.lit(n2 < n1).alias("optimized"),
        F.lit(old_rows == new.count()).alias("data_identical"),
        F.lit(vt.versions() == [v1, v2]).alias("history_intact"),
    ).orderBy("user_id")


@register(
    "s33_alter_add_column",
    duck_sql="""
    SELECT n_nationkey, n_name,
           CASE WHEN n_nationkey < 10 THEN NULL
                ELSE concat('zone-', CAST(n_regionkey AS STRING)) END AS zone
    FROM nation ORDER BY n_nationkey
    """,
)
def s33_alter_add_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S33: in-place DDL schema evolution — a managed table gets rows,
    then ALTER TABLE ADD COLUMNS, then new-schema rows: old rows read
    back with NULL in the added column, new rows carry values, ONE
    table throughout (S15 is the read-side merge of divergent files;
    S28 the write-side defaults; this is the catalog-mediated ALTER the
    reference's set-properties metadata verbs gesture at,
    client.py:308-325). Idempotent per (session, sf) via DROP/CREATE."""
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    tbl = f"s33_nation_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    # DROP only clears the CATALOG entry; a managed-table location left on
    # disk by a PREVIOUS process (this session's catalog never knew it)
    # still blocks CREATE with LOCATION_ALREADY_EXISTS — clear it too.
    import shutil as _shutil
    from urllib.parse import urlparse as _urlparse

    wh = _urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    _shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)
    spark.sql(f"CREATE TABLE {tbl} (n_nationkey INT, n_name STRING) USING parquet")
    spark.sql(
        f"INSERT INTO {tbl} SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 10"
    )
    spark.sql(f"ALTER TABLE {tbl} ADD COLUMNS (zone STRING)")
    spark.sql(
        f"""INSERT INTO {tbl}
        SELECT n_nationkey, n_name, concat('zone-', CAST(n_regionkey AS STRING))
        FROM nation WHERE n_nationkey >= 10"""
    )
    return spark.table(tbl).orderBy("n_nationkey")


# ---------------------------------------------------------------------------
# s34: metadata-only scan — count/min/max answered from parquet footers
# ---------------------------------------------------------------------------

_S34_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "supplier": "s_suppkey",
    "customer": "c_custkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _s34_duck() -> str:
    return " UNION ALL ".join(
        f"SELECT '{t}' AS table_name, '{k}' AS key_col,"
        f" CAST(count(*) AS BIGINT) AS n_rows,"
        f" CAST(min({k}) AS BIGINT) AS min_key,"
        f" CAST(max({k}) AS BIGINT) AS max_key FROM {t}"
        for t, k in sorted(_S34_KEYS.items())
    )


@register("s34_footer_stats_scan", duck_sql=_s34_duck())
def s34_footer_stats_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S34: metadata-only statistics scan — count(*) / min(key) / max(key)
    for every table answered ENTIRELY from parquet footer row-group
    statistics (pyarrow reads each footer inside a mapInPandas task; no
    data page is ever decompressed), hash-matched against the oracle's
    full-table scans. This is the short-circuit behind 'SELECT count(*)'
    returning in milliseconds on a 100 TB table and the statistics
    foundation row-group pruning (S29's bloom filters, Spark's own
    min/max skipping) builds on: footers are ~KB per file, the work
    distributes one-file-per-task, and the per-file partials reduce in
    one tiny aggregate. A mismatch here means the footers LIE about the
    data — the audit any lakehouse ingest should run after a writer
    upgrade."""
    import pandas as pd

    # one row (= one footer-read task) PER PHYSICAL FILE: driver fixtures
    # are single files, any real lake table is a directory of part files
    files = []
    for t, k in sorted(_S34_KEYS.items()):
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            files += [
                (t, os.path.join(p, f), k)
                for f in sorted(os.listdir(p))
                if f.endswith(".parquet")
            ]
        else:
            files.append((t, p, k))
    fdf = spark.createDataFrame(files, "table_name STRING, path STRING, key_col STRING")

    def read_footers(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for t, path, key in zip(pdf.table_name, pdf.path, pdf.key_col):
                md = pq.ParquetFile(path).metadata
                idx = md.schema.names.index(key)
                mins, maxs, rows = [], [], 0
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    rows += rg.num_rows
                    st = rg.column(idx).statistics
                    mins.append(st.min)
                    maxs.append(st.max)
                out.append((t, key, rows, min(mins), max(maxs)))
            yield pd.DataFrame(
                out, columns=["table_name", "key_col", "n_rows", "min_key", "max_key"]
            )

    per_file = fdf.repartition(len(files), "path").mapInPandas(
        read_footers,
        "table_name STRING, key_col STRING, n_rows BIGINT, min_key BIGINT, "
        "max_key BIGINT",
    )
    # per-file partials reduce in one tiny aggregate (the 100 TB shape)
    return per_file.groupBy("table_name", "key_col").agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.min("min_key").cast("bigint").alias("min_key"),
        F.max("max_key").cast("bigint").alias("max_key"),
    )


@register(
    "s36_erasure_audit",
    duck_sql="""
    WITH base AS (SELECT * FROM orders WHERE o_orderkey % 4 = 0),
    subj AS (SELECT * FROM base WHERE o_custkey % 97 = 3)
    SELECT CAST((SELECT count(*) FROM base) AS BIGINT) AS rows_before,
           CAST((SELECT count(*) FROM base) -
                (SELECT count(*) FROM subj) AS BIGINT) AS rows_after,
           CAST((SELECT count(DISTINCT o_custkey) FROM subj) AS BIGINT)
             AS n_subjects,
           CAST((SELECT count(*) FROM subj) AS BIGINT) AS subj_rows_before,
           CAST(0 AS BIGINT) AS subj_rows_after,
           TRUE AS prior_version_retains,
           TRUE AS survivors_unchanged
    """,
)
def s36_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S36: GDPR right-to-be-forgotten DELETE as a versioned commit —
    subject customers' rows are anti-joined out of the snapshot table
    and published as a NEW version (S16's manifest-log protocol), then
    the audit proves the four things an erasure review asks: (1) the
    live version contains ZERO subject rows, (2) row accounting balances
    exactly (after = before - subject rows), (3) non-subject rows are
    byte-identical (checksum equality between versions), (4) the PRIOR
    version still retains the data — the retention/backup window the
    legal clock actually starts from, readable until expire() drops it.
    The oracle recomputes every number from the raw table with the same
    deterministic subject rule. Scale shape: the erasure write is one
    anti-join (subject keys broadcast — erasure batches are tiny) and
    rewrites only data files containing subjects in a real lakehouse;
    the audit is two metadata-cheap counts + one checksum aggregate."""
    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, _tmp("s36_vt", sf_dir))
    if vt.current_version() == 0:
        base = spark.table("orders").filter(F.col("o_orderkey") % 4 == 0)
        vt.commit(base)
        vt.commit(base.filter(~(F.col("o_custkey") % 97 == 3)))
    v1 = vt.read(1)
    v2 = vt.read(2)
    is_subj = F.col("o_custkey") % 97 == 3

    # order-independent, overflow-free under ANSI (XOR, not SUM)
    chk = F.expr("bit_xor(xxhash64(o_orderkey, o_custkey, o_totalprice))")

    m1 = v1.agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_before"),
        F.sum(is_subj.cast("long")).cast("bigint").alias("subj_rows_before"),
        F.count_distinct(F.when(is_subj, F.col("o_custkey"))).cast("bigint").alias(
            "n_subjects"
        ),
    )
    surv = v1.filter(~is_subj).agg(chk.alias("_surv_chk_v1"))
    m2 = v2.agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_after"),
        F.sum(is_subj.cast("long")).cast("bigint").alias("subj_rows_after"),
        chk.alias("_chk_v2"),
    )
    return (
        m1.crossJoin(surv).crossJoin(m2)
        .select(
            "rows_before",
            "rows_after",
            "n_subjects",
            "subj_rows_before",
            "subj_rows_after",
            (F.col("subj_rows_before") > 0).alias("prior_version_retains"),
            (F.col("_surv_chk_v1") == F.col("_chk_v2")).alias("survivors_unchanged"),
        )
    )


@register(
    "s37_incremental_scan",
    duck_sql="""
    WITH base AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
    b2 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 1),
    b3 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 2)
    SELECT 'v1_to_v2' AS change_set,
           CAST((SELECT count(*) FROM b2) AS BIGINT) AS n_rows,
           CAST((SELECT sum(o_orderkey) FROM b2) AS BIGINT) AS key_sum
    UNION ALL
    SELECT 'v2_to_v3',
           CAST((SELECT count(*) FROM b3) AS BIGINT),
           CAST((SELECT sum(o_orderkey) FROM b3) AS BIGINT)
    UNION ALL
    SELECT 'v1_to_v3',
           CAST((SELECT count(*) FROM b2) + (SELECT count(*) FROM b3) AS BIGINT),
           CAST((SELECT sum(o_orderkey) FROM b2)
                + (SELECT sum(o_orderkey) FROM b3) AS BIGINT)
    UNION ALL
    SELECT 'full_v3',
           CAST((SELECT count(*) FROM orders) AS BIGINT),
           CAST((SELECT sum(o_orderkey) FROM orders) AS BIGINT)
    ORDER BY change_set
    """,
)
def s37_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S37: manifest-driven INCREMENTAL scan — append commits land each
    batch in its own directory and the manifest carries the cumulative
    directory set, so 'what changed between v_a and v_b' resolves from
    the MANIFEST DELTA alone and the consumer reads O(new data), never
    O(table). The audit reads every change window (1→2, 2→3, 1→3) plus
    the full v3 table and hash-matches exact row counts and key sums
    against the batch definitions — proving the incremental reads see
    exactly the appended rows, no more, no less. J23 diffs ROWS between
    rewritten snapshots (O(table) full-outer join); this is its
    file-level sibling for append-only chains (the Delta/Iceberg CDF
    fast path) at metadata cost. The three appended dirs also stay
    independently time-travelable (S16's property)."""
    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, _tmp("s37_vt", sf_dir))
    o = spark.table("orders")
    if vt.current_version() == 0:
        vt.append_commit(o.filter(F.col("o_orderkey") % 3 == 0))
        vt.append_commit(o.filter(F.col("o_orderkey") % 3 == 1))
        vt.append_commit(o.filter(F.col("o_orderkey") % 3 == 2))

    def stat(df, label):
        return df.agg(
            F.lit(label).alias("change_set"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )

    return (
        stat(vt.read_changes(1, 2), "v1_to_v2")
        .unionAll(stat(vt.read_changes(2, 3), "v2_to_v3"))
        .unionAll(stat(vt.read_changes(1, 3), "v1_to_v3"))
        .unionAll(stat(vt.read(3), "full_v3"))
        .orderBy("change_set")
    )


@register(
    "s38_incremental_agg_refresh",
    duck_sql="""
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    GROUP BY CAST(o_orderdate AS DATE)
    ORDER BY day
    """,
)
def s38_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S38: incremental MATERIALIZED-AGGREGATE maintenance (IVM) — a daily
    revenue rollup is kept as its own versioned table and refreshed after
    an append by merging the DELTA's partial aggregate into the stored
    aggregate: read_changes(v1) resolves the appended files from the
    manifest delta (S37, metadata-only), the delta aggregates alone, and
    a full-outer coalesce-sum merge on day produces rollup v2 — the base
    table's history is NEVER rescanned. The oracle recomputes the rollup
    from the FULL raw table, so the hash match proves merge-refresh ≡
    recompute (count and sum are self-mergeable partials; min/max merge
    too, avg carries (sum,count) — the textbook IVM algebra). At 100 TB:
    refresh cost is O(delta) + a shuffle of |touched days| rows, vs
    O(table) for the naive rebuild; both rollup versions stay
    time-travelable (S16), so a bad batch rolls back by re-pointing."""
    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    def day_agg(df):
        return df.groupBy(F.to_date("o_orderdate").alias("day")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )

    base_vt = VersionedTable(spark, _tmp("s38_base", sf_dir))
    agg_vt = VersionedTable(spark, _tmp("s38_agg", sf_dir))
    if agg_vt.current_version() < 2:
        o = spark.table("orders")
        base_vt.append_commit(o.filter(F.col("o_orderkey") % 5 != 4))
        agg_vt.commit(day_agg(base_vt.read()))
        base_vt.append_commit(o.filter(F.col("o_orderkey") % 5 == 4))

        delta = day_agg(base_vt.read_changes(since=1))  # appended files only
        prior = agg_vt.read(1)
        merged = (
            prior.alias("p")
            .join(delta.alias("d"), ["day"], "full_outer")
            .select(
                "day",
                (
                    F.coalesce(F.col("p.n_orders"), F.lit(0))
                    + F.coalesce(F.col("d.n_orders"), F.lit(0))
                ).cast("bigint").alias("n_orders"),
                (
                    F.coalesce(F.col("p.revenue_cents"), F.lit(0))
                    + F.coalesce(F.col("d.revenue_cents"), F.lit(0))
                ).cast("bigint").alias("revenue_cents"),
            )
        )
        agg_vt.commit(merged)
    return agg_vt.read(2).orderBy("day")


# ---------------------------------------------------------------------------
# s39: SHALLOW CLONE + divergence (zero-copy table fork)
# ---------------------------------------------------------------------------

@register(
    "s39_shallow_clone",
    duck_sql="""
    WITH src AS (SELECT * FROM orders WHERE o_orderkey % 4 = 0),
    delta AS (SELECT * FROM orders WHERE o_orderkey % 4 = 1)
    SELECT 'clone_v1_equals_src' AS probe,
           CAST((SELECT count(*) FROM src) AS BIGINT) AS n_rows,
           CAST((SELECT sum(o_orderkey) FROM src) AS BIGINT) AS key_sum,
           CAST(0 AS BIGINT) AS data_dirs_copied
    UNION ALL
    SELECT 'clone_v2_diverged',
           CAST((SELECT count(*) FROM src) + (SELECT count(*) FROM delta)
                AS BIGINT),
           CAST((SELECT sum(o_orderkey) FROM src)
                + (SELECT sum(o_orderkey) FROM delta) AS BIGINT),
           CAST(1 AS BIGINT)
    UNION ALL
    SELECT 'src_unchanged',
           CAST((SELECT count(*) FROM src) AS BIGINT),
           CAST((SELECT sum(o_orderkey) FROM src) AS BIGINT),
           CAST(0 AS BIGINT)
    ORDER BY probe
    """,
    doc="S39: SHALLOW CLONE — the zero-copy table fork (Delta's CREATE "
        "TABLE ... SHALLOW CLONE): the clone commit is ONE manifest "
        "upload whose dir list references the source snapshot "
        "ABSOLUTELY; no data moves (certified: data_dirs_copied counts "
        "_v* dirs under the clone root — 0 at clone time, 1 only after "
        "the clone's own append). The clone reads identically to the "
        "source (row count + key sum hash-matched), diverges via its "
        "own append_commit without touching the source, and the source "
        "stays byte-identical after the divergence (third probe). This "
        "is the dev/test-against-prod-data and experiment-branching "
        "primitive: at 100 TB a clone costs O(1) metadata while a deep "
        "copy costs the table. Lifecycle coupling to source expire/"
        "vacuum is documented on clone_from (same caveat as Delta).",
)
def s39_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    src_vt = VersionedTable(spark, _tmp("s39_src", sf_dir))
    clone = VersionedTable(spark, _tmp("s39_clone", sf_dir))
    o = spark.table("orders")
    if src_vt.current_version() == 0:
        src_vt.commit(o.filter(F.col("o_orderkey") % 4 == 0))
    if clone.current_version() == 0:
        clone.clone_from(src_vt)

    def dirs_copied() -> int:
        import os as _os

        root = _tmp("s39_clone", sf_dir)
        return sum(
            1 for n in _os.listdir(root) if n.startswith("_v")
        ) if _os.path.isdir(root) else 0

    clone_v1 = clone.read(1)
    copied_v1 = dirs_copied()
    if clone.current_version() == 1:
        clone.append_commit(o.filter(F.col("o_orderkey") % 4 == 1))
    clone_v2 = clone.read(2)
    copied_v2 = dirs_copied()
    src_after = src_vt.read()

    def stat(df, label, copied):
        return df.agg(
            F.lit(label).alias("probe"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            F.lit(copied).cast("bigint").alias("data_dirs_copied"),
        )

    return (
        stat(clone_v1, "clone_v1_equals_src", copied_v1)
        .unionByName(stat(clone_v2, "clone_v2_diverged", copied_v2))
        .unionByName(stat(src_after, "src_unchanged", copied_v1))
        .orderBy("probe")
    )


# ---------------------------------------------------------------------------
# s40: Z-order (Morton) clustering key + multi-column-locality layout
# ---------------------------------------------------------------------------

def _zvalue_sql(xcol: str, ycol: str, bits: int = 16) -> str:
    """Morton-interleave SQL from pure portable integer arithmetic:
    bit b of x lands at position 2b, of y at 2b+1. Bit extraction is
    FLOOR(x / 2^b) % 2 — x < 2^16 is exact in DOUBLE, so the expression
    is deterministic in every IEEE engine; no engine-specific bit-shift
    operators, ONE text in both dialects."""
    terms = []
    for b in range(bits):
        terms.append(
            f"(CAST(FLOOR(CAST({xcol} AS DOUBLE) / {1 << b}) AS BIGINT) % 2)"
            f" * {1 << (2 * b)}"
        )
        terms.append(
            f"(CAST(FLOOR(CAST({ycol} AS DOUBLE) / {1 << b}) AS BIGINT) % 2)"
            f" * {1 << (2 * b + 1)}"
        )
    return "(" + "\n             + ".join(terms) + ")"


sql_pair(
    "s40_zorder_curve",
    f"""
    WITH xy AS (
      SELECT o_orderkey,
             CAST(o_custkey % 65536 AS BIGINT) AS x,
             CAST(CAST(datediff(o_orderdate, TIMESTAMP '1992-01-01 00:00:00')
                       AS BIGINT) % 65536 AS BIGINT) AS y
      FROM orders),
    z AS (
      SELECT o_orderkey, x, y,
             {_zvalue_sql('x', 'y')} AS zval
      FROM xy)
    SELECT o_orderkey, x, y, zval
    FROM z ORDER BY zval, o_orderkey LIMIT 20
    """,
    duck_sql=f"""
    WITH xy AS (
      SELECT o_orderkey,
             CAST(o_custkey % 65536 AS BIGINT) AS x,
             CAST(CAST(datediff('day', TIMESTAMP '1992-01-01 00:00:00',
                                o_orderdate) AS BIGINT) % 65536 AS BIGINT) AS y
      FROM orders),
    z AS (
      SELECT o_orderkey, x, y,
             {_zvalue_sql('x', 'y')} AS zval
      FROM xy)
    SELECT o_orderkey, x, y, zval
    FROM z ORDER BY zval, o_orderkey LIMIT 20
    """,
    doc="S40: Z-order (Morton) clustering key over (customer, order-day) "
        "— the multi-dimensional data-skipping layout (Delta OPTIMIZE "
        "ZORDER BY): sorting by the interleaved key gives every written "
        "file a TIGHT min/max envelope on BOTH dimensions at once, so "
        "footer-stats pruning (S34's machinery) skips files for "
        "predicates on either column — a single-column sort buys "
        "pruning on one dimension only. The curve value is pure "
        "portable integer arithmetic (FLOOR-div bit extraction, no "
        "engine bit operators), one text in both dialects; "
        "zorder_layout() below is the write-side verb and "
        "tests/test_operators.py measures the per-file envelope "
        "shrinkage vs a natural-order layout. At 100 TB: the z-sort is "
        "one repartitionByRange on zval (range exchange + local sort), "
        "after which every downstream scan with x/y predicates prunes.",
)


def zorder_layout(
    df: DataFrame, xcol: str, ycol: str, path: str, n_files: int = 8
) -> str:
    """Write `df` z-ordered on (xcol % 2^16, ycol-derived int % 2^16):
    range-partition by the Morton key then sort within partitions —
    exactly Delta's OPTIMIZE ZORDER BY shape (S40)."""
    z = F.expr(_zvalue_sql(f"({xcol} % 65536)", f"({ycol} % 65536)"))
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


# ---------------------------------------------------------------------------
# s41: ORC round-trip; s42: XML round-trip (Spark-4 native XML source)
# ---------------------------------------------------------------------------

_FORMAT_RT_AGG = """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM {src} GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@register("s41_orc_roundtrip", duck_sql=_FORMAT_RT_AGG.format(src="orders"))
def s41_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S41: ORC round-trip — orders written to ORC (Spark's built-in
    columnar alternative to parquet, same vectorized reader/pushdown
    path) and read back; the per-status count / exact-cents sum /
    key min-max must equal the oracle reading the ORIGINAL parquet, so
    the hash certifies the ORC writer+reader pair is lossless. DuckDB
    cannot read ORC — equality against the parquet source is exactly
    the cross-format reconciliation a lake migration runs."""
    path = _tmp("s41_orc", sf_dir)
    src = load_table(spark, sf_dir, "orders")
    _write_once(path, lambda: src.write.mode("overwrite").orc(path))
    spark.read.orc(path).createOrReplaceTempView("orders_orc")
    return spark.sql(_FORMAT_RT_AGG.format(src="orders_orc"))


@register("s42_xml_roundtrip", duck_sql=_FORMAT_RT_AGG.format(src="orders"))
def s42_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S42: XML round-trip over Spark 4's NATIVE XML source (the
    spark-xml package folded into core): orders written as <order>
    row elements and read back with an explicit schema; the same
    reconciliation aggregate as S41 certifies the writer+reader pair is
    lossless against the oracle's parquet read. Money rides as exact
    integer cents THROUGH the text format (XML has no decimal type —
    writing the raw double would round-trip through decimal text and
    1-ulp-drift; the integer detour is the discipline F23/F24 use for
    JSON). Scale: the XML reader is a streaming row-element parser —
    no whole-document DOM — so files split per element like JSONL."""
    path = _tmp("s42_xml", sf_dir)
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    _write_once(
        path,
        lambda: src.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "orders")
        .option("rowTag", "order")
        .save(path),
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT")
        .load(path)
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("cents"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
            F.max("o_orderkey").cast("bigint").alias("max_key"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "s43_schema_evolution",
    duck_sql="""
    SELECT COALESCE(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END,
                    '(pre-evolution)') AS channel,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    GROUP BY 1 ORDER BY channel
    """,
)
def s43_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S43: ADD-COLUMN schema evolution on the versioned lakehouse table —
    generation 1 commits (o_orderkey, cents) for even keys; generation 2
    appends odd keys WITH a new `channel` column; `read(merge_schema=
    True)` then reads the evolved table in one scan, surfacing the new
    column as NULL on pre-evolution rows (the Delta/Iceberg evolved-read
    contract, here via Spark's parquet mergeSchema over the manifest's
    immutable snapshot dirs — no rewrite of generation-1 files ever
    happens). The oracle recomputes the same rollup from the raw table
    with the parity-derived channel, so the hash match certifies that
    the evolved read loses no rows, mis-merges no columns, and NULLs
    exactly the pre-evolution generation. Scale: evolution is
    metadata-only (a new manifest); the merged read costs one footer
    pass per file — no data migration at any size."""
    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    o = spark.table("orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderpriority",
    )
    vt = VersionedTable(spark, _tmp("s43_evo", sf_dir))
    vt.commit(o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "cents"))
    vt.append_commit(
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "cents", F.col("o_orderpriority").alias("channel")
        )
    )
    evolved = vt.read(merge_schema=True)
    return (
        evolved.groupBy(
            F.coalesce(F.col("channel"), F.lit("(pre-evolution)")).alias("channel")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# s44: ANALYZE TABLE / CBO statistics round-trip (r7 verdict #5)
# ---------------------------------------------------------------------------

@register(
    "s44_analyze_cbo_stats",
    duck_sql="""
    SELECT stat, value FROM (
      SELECT 'row_count' AS stat, CAST(COUNT(*) AS BIGINT) AS value FROM nation
      UNION ALL SELECT 'size_bytes_positive', 1
      UNION ALL SELECT 'nationkey_min', CAST(MIN(n_nationkey) AS BIGINT) FROM nation
      UNION ALL SELECT 'nationkey_max', CAST(MAX(n_nationkey) AS BIGINT) FROM nation
      UNION ALL SELECT 'nationkey_nulls',
        CAST(COUNT(*) - COUNT(n_nationkey) AS BIGINT) FROM nation
      UNION ALL SELECT 'nationkey_ndv',
        CAST(COUNT(DISTINCT n_nationkey) AS BIGINT) FROM nation
      UNION ALL SELECT 'name_nulls',
        CAST(COUNT(*) - COUNT(n_name) AS BIGINT) FROM nation
      UNION ALL SELECT 'name_ndv', CAST(COUNT(DISTINCT n_name) AS BIGINT) FROM nation
      UNION ALL SELECT 'name_maxlen',
        CAST(MAX(LENGTH(n_name)) AS BIGINT) FROM nation
    ) t ORDER BY stat
    """,
)
def s44_analyze_cbo_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S44: the ANALYZE TABLE / cost-based-optimizer statistics surface —
    ``ANALYZE TABLE t COMPUTE STATISTICS`` (table-level rowCount +
    sizeInBytes) and ``... FOR COLUMNS`` (per-column min/max/null-count/
    NDV/max-len), read back through ``DESCRIBE EXTENDED`` exactly as a
    user inspects them. The returned rows are the CATALOG's stats; the
    oracle recomputes ground truth from the raw table, so the hash match
    certifies the round-trip is lossless (NDV comes from HLL++, which is
    exact at nation's 25-key cardinality and deterministic at any —
    same hashes, same estimate). The stats-INFORMED planning effect
    (column-stat filter selectivity flipping a join to broadcast under
    CBO with AQE off) is plan-gated in tests/test_plans.py. Scale:
    ANALYZE is one partial-agg scan; stats live in the catalog and cost
    nothing at read time — at 100 TB this is what replaces file-size
    guessing for join planning."""
    import re
    import shutil as _shutil
    from urllib.parse import urlparse as _urlparse

    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    tbl = f"s44_nation_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    wh = _urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    _shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)
    spark.sql(f"CREATE TABLE {tbl} USING parquet AS SELECT * FROM nation")
    spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
    spark.sql(
        f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS n_nationkey, n_name"
    )

    stats_row = next(
        r.data_type
        for r in spark.sql(f"DESCRIBE EXTENDED {tbl}").collect()
        if r.col_name == "Statistics"
    )
    m = re.fullmatch(r"(\d+) bytes, (\d+) rows", stats_row)
    size_bytes, row_count = int(m.group(1)), int(m.group(2))

    def col_stats(col: str) -> dict[str, str]:
        return {
            r.info_name: r.info_value
            for r in spark.sql(f"DESCRIBE EXTENDED {tbl} {col}").collect()
        }

    k, n = col_stats("n_nationkey"), col_stats("n_name")
    rows = [
        ("row_count", row_count),
        ("size_bytes_positive", 1 if size_bytes > 0 else 0),
        ("nationkey_min", int(k["min"])),
        ("nationkey_max", int(k["max"])),
        ("nationkey_nulls", int(k["num_nulls"])),
        ("nationkey_ndv", int(k["distinct_count"])),
        ("name_nulls", int(n["num_nulls"])),
        ("name_ndv", int(n["distinct_count"])),
        ("name_maxlen", int(n["max_col_len"])),
    ]
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["stat", "value"]),
        schema="stat STRING, value BIGINT",
    ).orderBy("stat")


# ---------------------------------------------------------------------------
# s45: seed-pinned TABLESAMPLE / df.sample() audit (r7 verdict gap #3)
# ---------------------------------------------------------------------------

@register(
    "s45_tablesample_seeded",
    duck_sql="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           TRUE AS within_bounds,
           TRUE AS seed_deterministic,
           TRUE AS sql_matches_api,
           TRUE AS subset_of_base
    FROM orders
    """,
)
def s45_tablesample_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S45: the stock sampling surface users type first —
    ``df.sample(fraction, seed)`` and SQL ``TABLESAMPLE (10 PERCENT)
    REPEATABLE (42)``. The sampled ROW SET is engine-specific (Spark's
    Bernoulli cell sampler on a seeded XORShift per partition), so no
    cross-engine oracle can replay it; what IS certifiable is the
    contract, emitted as one audit row: sample size within 5 sigma of
    Binomial(n, p) (p=0.1: mean 1500, sigma ~36.7 at sf0.01), the same
    seed reproducing the IDENTICAL multiset within one file layout
    (exceptAll both ways empty — the determinism users rely on for
    debuggable pipelines; a layout change re-deals partitions, which is
    why L12-L14's md5-predicate samples exist for layout-stable
    sampling), the SQL spelling matching the DataFrame API exactly, and
    the sample being a true multiset subset of the base. Scale: sampling
    is a scan-side filter — no shuffle, no collect; the audit's
    exceptAll legs are hash-aggregates sized by the sample."""
    import math

    base = spark.table("orders")
    n_total = base.count()
    frac, seed = 0.1, 42
    s1 = base.sample(fraction=frac, seed=seed)
    s2 = base.sample(fraction=frac, seed=seed)
    sql_s = spark.sql(
        "SELECT * FROM orders TABLESAMPLE (10 PERCENT) REPEATABLE (42)"
    )
    n1 = s1.count()
    sigma = math.sqrt(n_total * frac * (1 - frac))
    within = abs(n1 - n_total * frac) <= 5 * sigma
    deterministic = (
        s1.exceptAll(s2).count() == 0 and s2.exceptAll(s1).count() == 0
    )
    sql_matches = (
        sql_s.exceptAll(s1).count() == 0 and s1.exceptAll(sql_s).count() == 0
    )
    subset = s1.exceptAll(base).count() == 0
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            [(n_total, within, deterministic, sql_matches, subset)],
            columns=[
                "n_total", "within_bounds", "seed_deterministic",
                "sql_matches_api", "subset_of_base",
            ],
        ),
        schema="n_total BIGINT, within_bounds BOOLEAN, "
               "seed_deterministic BOOLEAN, sql_matches_api BOOLEAN, "
               "subset_of_base BOOLEAN",
    )


@register(
    "s46_time_travel_ts",
    duck_sql="""
    WITH o AS (SELECT o_orderkey % 3 AS slice,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders)
    SELECT 'at_v1' AS probe, CAST(1 AS BIGINT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS cents
    FROM o WHERE slice = 0
    UNION ALL
    SELECT 'before_v2', CAST(1 AS BIGINT),
           CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
    FROM o WHERE slice = 0
    UNION ALL
    SELECT 'at_v2', CAST(2 AS BIGINT),
           CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
    FROM o WHERE slice IN (0, 1)
    UNION ALL
    SELECT 'at_v3', CAST(3 AS BIGINT),
           CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
    FROM o
    ORDER BY probe
    """,
)
def s46_time_travel_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S46: time travel BY TIMESTAMP (Delta `TIMESTAMP AS OF`; r10
    verdict Next #4a) — three commits slice orders by o_orderkey % 3
    (one snapshot + two appends); each commit's manifest pins a STRICTLY
    MONOTONE `committed_at_us` (max(now, prev+1) — the Delta commit-ts
    adjustment), so `read(as_of_us=ts)` resolves the highest version
    with commit-ts ≤ ts from manifest metadata alone, never from fs
    mtimes. Probes: exactly at each commit's timestamp (→ that version)
    and one microsecond before v2 (→ v1: the boundary is inclusive on
    the left only). The oracle certifies the resolved CONTENT per
    probe."""
    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, _tmp("s46_vt", sf_dir))
    if vt.current_version() == 0:
        o = spark.table("orders").select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        vt.commit(o.filter(F.col("o_orderkey") % 3 == 0))
        vt.append_commit(o.filter(F.col("o_orderkey") % 3 == 1))
        vt.append_commit(o.filter(F.col("o_orderkey") % 3 == 2))
    probes = [
        ("at_v1", vt.commit_timestamp_us(1)),
        ("before_v2", vt.commit_timestamp_us(2) - 1),
        ("at_v2", vt.commit_timestamp_us(2)),
        ("at_v3", vt.commit_timestamp_us(3)),
    ]
    outs = []
    for label, ts in probes:
        v = vt.version_as_of(ts)
        outs.append(
            vt.read(as_of_us=ts)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("cents").cast("bigint").alias("cents"),
            )
            .select(
                F.lit(label).alias("probe"),
                F.lit(v).cast("bigint").alias("version"),
                "n",
                "cents",
            )
        )
    res = outs[0]
    for df in outs[1:]:
        res = res.unionByName(df)
    return res.orderBy("probe")


@register(
    "s47_cdf_row_diff",
    duck_sql="""
    WITH o AS (SELECT o_orderkey AS k,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders)
    SELECT k AS o_orderkey, cents, 'delete' AS change_type
    FROM o WHERE k % 10 = 3
    UNION ALL
    SELECT k, cents, 'update_preimage' FROM o WHERE k % 10 = 4
    UNION ALL
    SELECT k, cents + 100, 'update_postimage' FROM o WHERE k % 10 = 4
    UNION ALL
    SELECT -k, cents, 'insert' FROM o WHERE k % 10 = 5
    ORDER BY o_orderkey, change_type
    """,
)
def s47_cdf_row_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S47: ROW-level change feed across a versioned-table REWRITE
    (`VersionedTable.diff_changes`, sources/versioned.py) — the Delta
    readChangeFeed-for-MERGE schema and the recovery path ST28's
    streaming source names when a non-append commit breaks the
    dir-superset chain. Version 1 snapshots orders (key, cents);
    version 2 is a genuine REWRITE commit: keys %10=3 dropped, %10=4
    repriced +100 cents, negated keys inserted for %10=5. diff_changes
    classifies every key in ONE full-outer co-partitioned join —
    deletes and inserts carry one image, each update TWO (pre + post),
    unchanged keys never leave the join. The oracle derives the exact
    expected feed from orders arithmetic."""
    from pydatalake_gen2_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, _tmp("s47_vt", sf_dir))
    if vt.current_version() == 0:
        o = spark.table("orders").select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        vt.commit(o)
        k = F.col("o_orderkey")
        v2 = o.filter(k % 10 != 3).select(
            "o_orderkey",
            (F.col("cents")
             + F.when(k % 10 == 4, F.lit(100)).otherwise(F.lit(0)))
            .alias("cents"),
        ).unionByName(
            o.filter(k % 10 == 5).select(
                (-k).alias("o_orderkey"), "cents"
            )
        )
        vt.commit(v2)  # full rewrite — NOT an append
    return (
        vt.diff_changes(1, 2, ["o_orderkey"])
        .withColumnRenamed("_change_type", "change_type")
        .orderBy("o_orderkey", "change_type")
    )
