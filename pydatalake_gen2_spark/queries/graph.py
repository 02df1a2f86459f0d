"""Graph queries over the order network — iterative algorithms expressed
as joins + aggregations (no GraphX / driver-side loops over rows).

Engine parity note: the reference (client.py) has no graph surface; this
extends the declared engine layer the same way the L* pipeline ops do.
Related: operators/dedup.py `connected_components` (min-label propagation)
is the other iterative-graph op in the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pydatalake_gen2_spark.operators.util import HELD
from pydatalake_gen2_spark.queries.sqlexact import f6_half_away as _f6
from pydatalake_gen2_spark.registry import register, sql_pair

# Customer -> supplier edges: a customer "links to" every supplier that
# fulfilled a line of one of their orders. Dedup to simple edges.
_N_ITER = 3
_DAMP = "0.85"


_IDIV = "//"  # DuckDB integer division; Spark spells it `div`


def _duck_pagerank() -> str:
    """Unrolled 3-iteration PageRank in portable SQL (DuckDB oracle).

    Hash-stability design: the recurrence contains NO floating point at
    all. Each per-edge contribution round(rank/deg) at scale 10 is
    computed with integer arithmetic — n = rank*10^12 exactly (ranks are
    scale-12 decimals), then round-half-up as (n + 50*deg) intdiv
    (100*deg) — and rescaled by an exact decimal multiply; the per-node
    SUM over exact decimals is order-independent; the damp update
    0.15 + 0.85*sum uses DECIMAL(3,2) factors so the product stays at
    scale 12 / precision <= 34 (no precision-38 overflow, so neither
    engine applies its own scale-reduction rule). Both engines carry
    bit-identical ranks into every iteration. The tempting shortcuts are
    NOT portable: float division + CAST-to-decimal lands on exact .5
    ties that Spark (shortest-repr HALF_UP) and DuckDB (binary
    expansion) resolve differently, and wide-decimal damping overflows
    precision 38 with engine-specific truncation.
    """
    sql = """
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    outdeg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT node, CAST(1.0 AS DECIMAL(18,10)) AS rank FROM nodes)
    """
    prev = "r0"
    for i in range(1, _N_ITER + 1):
        sql += f""",
    r{i} AS (
      SELECT n.node,
             CAST(0.15 AS DECIMAL(3,2)) + CAST({_DAMP} AS DECIMAL(3,2))
               * COALESCE(c.contrib, CAST(0 AS DECIMAL(20,10))) AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node,
               CAST(SUM(CAST((CAST(CAST(r.rank AS DECIMAL(26,12))
                                   * 1000000000000 AS BIGINT)
                              + d.deg * 50) {_IDIV} (d.deg * 100)
                             AS DECIMAL(18,0))
                        * CAST(0.0000000001 AS DECIMAL(10,10)))
                    AS DECIMAL(20,10)) AS contrib
        FROM edges e
        JOIN {prev} r ON e.src = r.node
        JOIN outdeg d ON e.src = d.src
        GROUP BY e.dst) c ON n.node = c.node)
        """
        prev = f"r{i}"
    sql += f"""
    SELECT node, CAST(rank AS STRING) AS pagerank
    FROM {prev} ORDER BY node
    """
    return sql


@register(
    "gr01_pagerank",
    duck_sql=_duck_pagerank(),
    doc="GR01: 3 PageRank iterations over the customer->supplier fulfil "
        "graph, as pure join+agg rounds (rank flows src->dst; damping "
        "0.15/0.85; simplified dangling handling — no redistribution). "
        "Spark side runs the textbook distributed loop: per-iteration "
        "contributions = edges ⋈ ranks ⋈ outdeg, partial-agg summed on "
        "dst; the DuckDB oracle is the SAME recurrence unrolled into "
        "CTEs. Per-edge contributions are quantized to DECIMAL(18,10) "
        "before the sum (exact, order-independent) and the damp update "
        "is exact narrow-decimal arithmetic — the discipline that makes "
        "an iterative numeric algorithm hashable across engines (see "
        "_duck_pagerank docstring). "
        "Scale: each round is one shuffle on dst (edges co-partitioned "
        "by src with ranks via the join); rank/outdeg frames are "
        "node-sized. For many more iterations, checkpoint every ~5 "
        "rounds to cut lineage (documented, not needed at 3).",
)
def gr01_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.table("orders")
    l = spark.table("lineitem")
    # The edge list appears ~8x in the unrolled plan (every iteration's
    # contrib join, plus nodes/outdeg). r10 measured plain persist() as
    # ~40% SLOWER (InMemoryRelation blocks AQE re-planning and pays
    # columnar (de)serialization) and left it to AQE ReusedExchange; the
    # r11 event-log profile showed that reuse does NOT actually fire
    # here — four identical orders⋈lineitem+distinct stages ran
    # concurrently per execution. A local checkpoint (HELD.checkpoint)
    # is the form that works: edges computes ONCE, every consumer reads
    # a flat LogicalRDD leaf (plan shrinks ~8x, so per-run planning and
    # codegen shrink too), and AQE still re-plans downstream stages.
    # Measured at sf0.1: 2.5x faster end-to-end, rows identical.
    edges = HELD.checkpoint(
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    # nodes feeds the seed vector AND every iteration's left join; outdeg
    # every iteration's contrib join. Both are node-set-sized aggregations
    # over the edge leaf that re-execute per occurrence (ReusedExchange
    # does not fire for concurrent identical subtrees — the r11 event-log
    # finding). Checkpoint each once; the rank recurrence itself stays
    # unrolled (r8: checkpointing RANKS per round was slower at 3
    # iterations, and de-unrolling breaks the exact-decimal hash design).
    nodes = HELD.checkpoint(
        edges.select(F.col("src").alias("node")).union(
            edges.select(F.col("dst").alias("node"))
        ).distinct()
    )
    outdeg = HELD.checkpoint(
        edges.groupBy("src").agg(F.count("*").cast("bigint").alias("deg"))
    )
    ranks = nodes.select("node", F.lit("1.0").cast("decimal(18,10)").alias("rank"))
    for _ in range(_N_ITER):
        # integer round-half-up of (rank/deg) at scale 10:
        # n = rank*10^12 exactly; c_int = (n + 50*deg) div (100*deg)
        n = F.expr("CAST(CAST(rank AS DECIMAL(26,12)) * 1000000000000 AS BIGINT)")
        c_int = F.expr(
            "(CAST(CAST(rank AS DECIMAL(26,12)) * 1000000000000 AS BIGINT)"
            " + deg * 50) div (deg * 100)"
        )
        contribs = (
            edges.join(ranks, edges.src == ranks.node)
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                (
                    c_int.cast("decimal(18,0)")
                    * F.lit("0.0000000001").cast("decimal(10,10)")
                ).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("decimal(20,10)").alias("contrib"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit("0.15").cast("decimal(3,2)")
                + F.lit(_DAMP).cast("decimal(3,2)")
                * F.coalesce(
                    F.col("contrib"), F.lit("0").cast("decimal(20,10)")
                )
            ).alias("rank"),
        )
    return ranks.select(
        "node", F.col("rank").cast("string").alias("pagerank")
    ).orderBy("node")


# ---------------------------------------------------------------------------
# gr02: triangle counting over the co-supply graph
# ---------------------------------------------------------------------------

_TRIANGLE_DUCK = """
    WITH ps AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    w AS (
      SELECT a.s AS u, b.s AS v, count(*) AS cnt
      FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
      GROUP BY a.s, b.s),
    thr AS (
      SELECT quantile_disc(cnt, 0.99) AS t FROM w),
    edges AS (SELECT u, v FROM w, thr WHERE cnt >= t),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT (SELECT count(DISTINCT s) FROM ps) AS n_suppliers,
           (SELECT count(*) FROM edges)      AS n_edges,
           n_triangles
    FROM tri
"""


@register("gr02_triangle_count", duck_sql=_TRIANGLE_DUCK)
def gr02_triangle_count(spark, sf_dir):
    """Triangle counting over the co-supply BACKBONE: supplier pairs are
    weighted by how many parts they co-supply, only the strongest 1%
    (exact discrete percentile threshold) become edges, then oriented
    low-id -> high-id so each triangle is enumerated exactly once as
    u<v<w (compact-forward) — three equi-joins, no theta join, no
    post-hoc distinct/3! division; plan-gated against nested loops.

    Round-7 rework, driven by profiling (the pair-weight build `w`, not
    the triangle join, was ~80% of wall time):
    - Pair generation is ROW-LOCAL: per-part supplier sets via one
      groupBy(part) + collect_set, then an i<j double posexplode of the
      sorted array — the same Sum_p C(s_p,2) pairs the ps-self-join
      emitted (8.7M at sf0.1), but with zero join and the expansion
      spread over all cores (the collect_set output is a few small
      partitions; fanning out before exploding was the difference
      between 2 busy cores and 32 — r11 swapped the hard-coded
      repartition(32) for the estimate-driven spread(), which no-ops
      on real multi-split layouts).
    - `w` is PERSISTED and consumed twice (threshold + edge filter)
      instead of being rebuilt under Spark's CTE inlining; the p99
      threshold is a 1-row driver fetch (bounded-collect precedent:
      keyset boundary in analytics.py).
    - The (degree, id) wedge-orientation knob from SCALE.md was BUILT and
      MEASURED this round: counts invariant (838 at sf0.1 under either
      orientation), but 4.5-5.0 s vs 3.5 s warm — a pessimization here,
      because the thresholded backbone is near-regular (not power-law)
      and its triangle join was already sub-300ms; the deg computation
      added two joins on the hot path. Not shipped; see SCALE.md.

    The backbone step is the point at scale: a raw co-occurrence
    projection of a uniform bipartite graph is near-COMPLETE, and
    triangle enumeration on a dense graph is Theta(n^3) no matter how it
    is joined — measured as a 16 s bench entry before thresholding.
    Weight-thresholding (disparity filtering) is how co-occurrence
    networks are made countable; the remaining knob is l02b's max_df cap
    on pathologically hot parts."""
    from pydatalake_gen2_spark.operators.util import HELD, spread

    li = spark.table("lineitem")
    ps = spread(
        li.groupBy(F.col("l_partkey").alias("p"))
        .agg(F.array_sort(F.collect_set("l_suppkey")).alias("ss"))
    )
    pairs = (
        ps.select("ss")
        .selectExpr("ss", "posexplode(ss) AS (i, u)")
        .selectExpr("i", "u", "posexplode(ss) AS (j, v)")
        .filter(F.col("i") < F.col("j"))
        .select("u", "v")
    )
    w = HELD.persist(
        pairs.groupBy("u", "v").agg(F.count(F.lit(1)).alias("cnt"))
    )
    t = w.selectExpr(
        "percentile_disc(0.99) WITHIN GROUP (ORDER BY cnt) AS t"
    ).collect()[0]["t"]  # bounded: one scalar row
    edges = w.filter(F.col("cnt") >= F.lit(t)).select("u", "v")
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_sup = li.agg(
        F.count_distinct("l_suppkey").alias("n_suppliers")
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        n_sup.crossJoin(n_edges)
        .crossJoin(tri)
        .select("n_suppliers", "n_edges", "n_triangles")
    )


# ---------------------------------------------------------------------------
# gr03: k-core extraction (iterative peeling) over the co-supply backbone
# ---------------------------------------------------------------------------

_GR03_K = 3
_GR03_ROUNDS = 6  # fixpoint reached in <=3 rounds at sf0.001/0.01/0.1

_GR03_BACKBONE = """
    WITH ps AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    w AS (
      SELECT a.s AS u, b.s AS v, count(*) AS cnt
      FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
      GROUP BY a.s, b.s),
    thr AS (
      SELECT percentile_disc(0.95) WITHIN GROUP (ORDER BY cnt) AS t FROM w)
    SELECT u, v FROM w, thr WHERE cnt >= t
"""


def _spark_backbone(spark: SparkSession) -> DataFrame:
    """Spark-side co-supply backbone shared by gr03/04/05/06/07/11 —
    the r11 rework of ``spark.sql(_GR03_BACKBONE)``.

    Two measured changes vs the SQL form (both r7-proven on gr02, whose
    docstring records the pair-weight build as ~80% of its wall time):

    - Pair generation is ROW-LOCAL: per-part supplier sets via one
      groupBy(part) + collect_set, then an i<j double posexplode of the
      sorted array — the identical Sum_p C(s_p,2) pair multiset the
      ps-self-join emitted, with zero join; spread() (not gr02's
      hard-coded repartition(32)) fans the explode over the cores and
      no-ops on real multi-split layouts.
    - ``w`` is PERSISTED and consumed twice (threshold + edge filter)
      instead of being recomputed under CTE inlining; the p95 threshold
      is a 1-row bounded driver fetch (gr02/keyset precedent). Every
      downstream consumer's backbone is then a cheap filter over the
      persisted pair-weight table instead of a full lineitem pipeline —
      the r11 event-log showed gr07 re-running the self-join backbone
      per execution (a 10.7 task-second stage at sf0.1).

    Same multiset of (u, v) edges as _GR03_BACKBONE (the DuckDB oracles
    keep the self-join text; gr02's hash parity covers the equivalence).
    Caller releases via release_persisted().
    """
    from pydatalake_gen2_spark.operators.util import HELD, spread

    li = spark.table("lineitem")
    ps = spread(
        li.groupBy(F.col("l_partkey").alias("p"))
        .agg(F.array_sort(F.collect_set("l_suppkey")).alias("ss"))
    )
    pairs = (
        ps.select("ss")
        .selectExpr("ss", "posexplode(ss) AS (i, u)")
        .selectExpr("i", "u", "posexplode(ss) AS (j, v)")
        .filter(F.col("i") < F.col("j"))
        .select("u", "v")
    )
    # r12 (guide §5 spill / §2.4 exchange reuse): repartition on (u, v)
    # BEFORE the count so the aggregate plans as a single COMPLETE agg
    # after the exchange instead of partial+final around it. The map-side
    # partial agg was a measured 75 GB spill at sf10 (event log, stage 5:
    # 872M exploded pair rows per 32 tasks, each partial hash map holding
    # ~every one of the 2.66M distinct edges -> constant spill-sort-merge
    # for an 8x row reduction), while the complete agg's reduce-side hash
    # state is bounded by DISTINCT EDGES PER TASK, not input rows — it
    # cannot spill that way. The raw-pair shuffle is (u,v) int pairs,
    # compressed; sf10 A/B: backbone materialization 200 -> 52 s cold.
    w = HELD.persist(
        pairs.repartition("u", "v").groupBy("u", "v").agg(
            F.count(F.lit(1)).alias("cnt")
        )
    )
    t = w.selectExpr(
        "percentile_disc(0.95) WITHIN GROUP (ORDER BY cnt) AS t"
    ).collect()[0]["t"]  # bounded: one scalar row
    return w.filter(F.col("cnt") >= F.lit(t)).select("u", "v")


# Shared DuckDB prefix: co-supply backbone + symmetrized edge list e0 —
# the oracle-side mirror of _GR03_BACKBONE, shared by gr03/gr04/gr05 so
# the three unrolled oracles can never drift onto different graphs.
_DUCK_BACKBONE_PREFIX = """
    WITH ps AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    w AS (
      SELECT a.s AS u, b.s AS v, count(*) AS cnt
      FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
      GROUP BY a.s, b.s),
    thr AS (SELECT quantile_disc(cnt, 0.95) AS t FROM w),
    ed AS (SELECT u, v FROM w, thr WHERE cnt >= t),
    e0 AS MATERIALIZED (SELECT u AS s, v AS d FROM ed UNION SELECT v, u FROM ed)"""


def _gr03_duck() -> str:
    sql = _DUCK_BACKBONE_PREFIX
    # AS MATERIALIZED is load-bearing: every e{i} is referenced twice
    # (k{i} and e{i+1}), and an inlining planner would otherwise double
    # the pair-weight join per round — 2^ROUNDS copies.
    for i in range(_GR03_ROUNDS):
        sql += f""",
    k{i} AS MATERIALIZED (
      SELECT s AS n FROM e{i} GROUP BY s HAVING count(*) >= {_GR03_K}),
    e{i + 1} AS MATERIALIZED (
      SELECT e.s, e.d FROM e{i} e
      JOIN k{i} a ON e.s = a.n JOIN k{i} b ON e.d = b.n)"""
    sql += f"""
    SELECT s AS node, CAST(count(*) AS BIGINT) AS core_degree
    FROM e{_GR03_ROUNDS} GROUP BY s ORDER BY node
    """
    return sql


@register("gr03_kcore", duck_sql=_gr03_duck())
def gr03_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GR03: k-core of the co-supply backbone (operators/graph.k_core) —
    iterative peeling run to its (unique) fixpoint with per-round
    plan-truncating checkpoints; the oracle unrolls the same peel for a
    fixed round budget that provably covers the fixpoint depth at every
    fixture scale (peeling is idempotent past the fixpoint, so extra
    unrolled rounds are harmless). k-core is the dense-kernel extractor
    one step past gr02's edge thresholding: backbone keeps strong EDGES,
    the core keeps mutually-dense NODES."""
    from pydatalake_gen2_spark.operators.graph import k_core

    ed = _spark_backbone(spark)
    return k_core(ed, k=_GR03_K, src_col="u", dst_col="v").orderBy("node")


# ---------------------------------------------------------------------------
# gr04: multi-source BFS hop distances over the co-supply backbone
# ---------------------------------------------------------------------------

_GR04_ROUNDS = 6  # fixpoint reached in <=4 rounds at sf0.001/0.01/0.1


def _gr04_duck() -> str:
    sql = _DUCK_BACKBONE_PREFIX + """,
    d0 AS MATERIALIZED (
      SELECT DISTINCT s AS node, 0 AS dist FROM e0 WHERE s % 10 = 0)"""
    for i in range(_GR04_ROUNDS):
        sql += f""",
    d{i + 1} AS MATERIALIZED (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d{i}
        UNION ALL
        SELECT e.d AS node, x.dist + 1 FROM d{i} x JOIN e0 e ON e.s = x.node
      ) GROUP BY node)"""
    sql += f"""
    SELECT node, CAST(dist AS BIGINT) AS dist
    FROM d{_GR04_ROUNDS} ORDER BY node
    """
    return sql


@register("gr04_bfs_distances", duck_sql=_gr04_duck())
def gr04_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GR04: multi-source BFS (operators/graph.bfs_distances) — hop
    distance from the nearest seed supplier (ids divisible by 10) over
    the co-supply backbone; the blast-radius query ("everything within k
    hops of the flagged set"). Run to fixpoint with per-round
    checkpoints; the oracle unrolls relaxation for a round budget that
    provably covers the fixpoint depth at every fixture scale
    (relaxation is idempotent past the fixpoint). Unlike components'
    pointer doubling, rounds here are bounded by seed-eccentricity —
    path LENGTH is the answer, so no shortcutting is sound."""
    from pydatalake_gen2_spark.operators.graph import bfs_distances

    ed = _spark_backbone(spark)
    seeds = (
        ed.select(F.col("u").alias("node"))
        .union(ed.select(F.col("v").alias("node")))
        .filter(F.col("node") % 10 == 0)
        .distinct()
    )
    return bfs_distances(ed, seeds, src_col="u", dst_col="v").orderBy("node")


# ---------------------------------------------------------------------------
# gr05: label-propagation communities over the co-supply backbone
# ---------------------------------------------------------------------------

_GR05_ROUNDS = 4


def _duck_lpa_chain() -> str:
    """Backbone + unrolled LPA rounds, ending with CTE l{_GR05_ROUNDS}
    (node, label) — shared by the gr05 oracle and gr06's modularity
    oracle so both always score the SAME communities."""
    sql = _DUCK_BACKBONE_PREFIX + """,
    l0 AS MATERIALIZED (SELECT DISTINCT s AS node, s AS label FROM e0)"""
    for i in range(_GR05_ROUNDS):
        sql += f""",
    v{i} AS (
      SELECT e.s AS n, x.label, count(*) AS cnt
      FROM e0 e JOIN l{i} x ON e.d = x.node
      GROUP BY e.s, x.label),
    l{i + 1} AS MATERIALIZED (
      SELECT n AS node, label FROM (
        SELECT n, label,
               row_number() OVER (PARTITION BY n
                                  ORDER BY cnt DESC, label) AS rn
        FROM v{i}) WHERE rn = 1)"""
    return sql


def _gr05_duck() -> str:
    return _duck_lpa_chain() + f"""
    SELECT node, CAST(label AS BIGINT) AS label
    FROM l{_GR05_ROUNDS} ORDER BY node
    """


@register("gr05_lpa_communities", duck_sql=_gr05_duck())
def gr05_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GR05: label-propagation communities
    (operators/graph.label_propagation) — every supplier adopts its
    neighbourhood's majority label each synchronous round (ties →
    smallest label), 4 fixed rounds: the near-linear community detector
    (Raghavan et al. 2007) that finds DENSE groups, where components
    (l11) only find connectivity. Fixed-round form is a deterministic
    pure function of the graph, so the oracle unrolls the identical
    recurrence; rounds are PageRank-class shuffles (join + partial-agg
    + per-node argmax)."""
    from pydatalake_gen2_spark.operators.graph import label_propagation

    ed = _spark_backbone(spark)
    return label_propagation(
        ed, rounds=_GR05_ROUNDS, src_col="u", dst_col="v"
    ).orderBy("node")


# ---------------------------------------------------------------------------
# gr06: modularity score of the LPA communities
# ---------------------------------------------------------------------------


def _gr06_duck() -> str:
    return _duck_lpa_chain() + f""",
    lab AS (SELECT node, label FROM l{_GR05_ROUNDS}),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ed),
    within AS (
      SELECT la.label, CAST(count(*) AS BIGINT) AS e_within
      FROM ed JOIN lab la ON ed.u = la.node
              JOIN lab lb ON ed.v = lb.node
      WHERE la.label = lb.label GROUP BY la.label),
    deg AS (
      SELECT la.label, CAST(count(*) AS BIGINT) AS deg_sum
      FROM e0 JOIN lab la ON e0.s = la.node GROUP BY la.label),
    comm AS (
      SELECT d.label,
             COALESCE(w.e_within, 0) AS e_within, d.deg_sum, m.m
      FROM deg d LEFT JOIN within w ON d.label = w.label CROSS JOIN m)
    SELECT label, e_within, deg_sum,
           ROUND(CAST(e_within AS DOUBLE) / m
                 - (CAST(deg_sum AS DOUBLE) / (2 * m))
                   * (CAST(deg_sum AS DOUBLE) / (2 * m)), 6) AS q_contrib
    FROM comm ORDER BY label
    """


@register("gr06_modularity", duck_sql=_gr06_duck())
def gr06_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GR06: Newman modularity per community over GR05's labels — the
    'did the detector find real structure' score (Q_c = e_c/m −
    (deg_c/2m)²; positive means denser-than-chance). All inputs are
    integer tallies (within-community edges, degree sums, |E|), so the
    only float math is one ROUND(6)ed row-local expression per
    community; everything before it is partial-agg joins of the edge
    list against the (tiny, broadcastable) label table."""
    from pydatalake_gen2_spark.operators.graph import label_propagation

    # the backbone feeds label_propagation, the count, and three scans
    # of the modularity tallies — all cheap filters over the pair-weight
    # table _spark_backbone persists (caller releases via
    # release_persisted)
    ed = _spark_backbone(spark)
    lab = label_propagation(ed, rounds=_GR05_ROUNDS, src_col="u", dst_col="v")
    m = ed.count()
    la = lab.withColumnRenamed("node", "u").withColumnRenamed("label", "lu")
    lb = lab.withColumnRenamed("node", "v").withColumnRenamed("label", "lv")
    within = (
        ed.join(F.broadcast(la), "u").join(F.broadcast(lb), "v")
        .filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_within"))
    )
    sym = ed.select(F.col("u").alias("node")).union(ed.select(F.col("v").alias("node")))
    deg = (
        sym.join(F.broadcast(lab), "node")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("deg_sum"))
    )
    out = (
        deg.join(within, "label", "left")
        .select(
            "label",
            F.coalesce("e_within", F.lit(0)).cast("bigint").alias("e_within"),
            F.col("deg_sum").cast("bigint").alias("deg_sum"),
        )
        .withColumn(
            "q_contrib",
            F.round(
                F.col("e_within").cast("double") / m
                - (F.col("deg_sum").cast("double") / (2 * m))
                * (F.col("deg_sum").cast("double") / (2 * m)),
                6,
            ),
        )
        .orderBy("label")
    )
    # the labels checkpoint is held by the session owner and freed by
    # release_persisted() after the caller consumes the result
    # (harness/bench call it between pairs) — freeing it here would drop
    # blocks the returned lazy frame still needs, and it does not recompute
    return out.select("label", "e_within", "deg_sum", "q_contrib")


# ---------------------------------------------------------------------------
# gr07: link prediction over the co-supply backbone
# ---------------------------------------------------------------------------

_GR07_TOPN = 20


def _gr07_duck() -> str:
    return _DUCK_BACKBONE_PREFIX + f""",
    deg AS (SELECT s AS n, CAST(count(*) AS BIGINT) AS deg FROM e0 GROUP BY s),
    cand AS (
      SELECT a.s AS u, b.s AS v,
             CAST(count(*) AS BIGINT) AS cn,
             CAST(SUM(CAST(ROUND(1.0 / LN(dz.deg), 6) AS DECIMAL(18,6)))
               AS DOUBLE) AS adamic_adar
      FROM e0 a JOIN e0 b ON a.d = b.d AND a.s < b.s
      JOIN deg dz ON dz.n = a.d
      WHERE NOT EXISTS (SELECT 1 FROM ed e WHERE e.u = a.s AND e.v = b.s)
      GROUP BY a.s, b.s)
    SELECT u, v, cn,
           ROUND(CAST(cn AS DOUBLE) / (da.deg + db.deg - cn), 6) AS jaccard,
           adamic_adar
    FROM cand JOIN deg da ON da.n = u JOIN deg db ON db.n = v
    ORDER BY cn DESC, u, v LIMIT {_GR07_TOPN}
    """


@register("gr07_link_prediction", duck_sql=_gr07_duck())
def gr07_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GR07: link prediction over the co-supply backbone — for every
    NON-edge supplier pair with shared neighbours, score common-neighbour
    count, Jaccard coefficient, and Adamic-Adar (1/ln deg of each shared
    neighbour — rare hubs weigh more); top-20 candidates. The
    'recommend a supplier pairing' / missing-edge-triage primitive; the
    open-triad enumeration is gr02's wedge join with the closing edge
    ANTI-joined away, so it stays equi-join-shaped at scale (backbone
    thresholding already defused the dense-projection blowup). A common
    neighbour has degree >= 2 by construction, so ln(deg) > 0; each AA
    term is ROUND(6)ed row-locally then summed EXACTLY as DECIMAL so the
    float sum is order-independent across engines."""
    ed = _spark_backbone(spark)  # (u, v) with u < v; w persisted inside
    e0 = ed.select(F.col("u").alias("s"), F.col("v").alias("d")).union(
        ed.select(F.col("v"), F.col("u"))
    )
    deg = e0.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    # r11 rework (guide §2.3 "aggregate before you shuffle"): the former
    # wedge ENUMERATION (e0 self-join on the shared neighbour) pushed
    # every wedge row — hundreds of millions at sf0.1, where the
    # near-uniform fixture makes the thresholded backbone dense — through
    # a left-anti probe (drop closed triads) AND a deg join (fetch the
    # shared neighbour's degree) before aggregating. Both per-wedge
    # probes are removable: wedges are generated ROW-LOCALLY from each
    # neighbour's sorted adjacency array (gr02's collect_set+posexplode
    # pattern), the Adamic-Adar term is CONSTANT per array (deg_z IS
    # size(ns), so no join is needed to know it), and the closed-triad
    # anti-join moves AFTER the partial-agg groupBy, where it probes the
    # ~|pairs| aggregated rows instead of every wedge. Identical pair
    # multiset (i<j over the sorted array == a.s<b.s), identical exact-
    # decimal AA sums, same final rows.
    # The adjacency aggregate is tiny in BYTES (node + array), so AQE
    # coalesces its shuffle output to ~1 partition — and the QUADRATIC
    # posexplode^2 below inherits that split count (the r11 event log
    # showed a 2 s single-task stage serializing the whole query).
    # spread() fans the explode over the cores; estimate-driven, so it
    # no-ops on a real multi-split layout (guide §2.5).
    from pydatalake_gen2_spark.operators.util import spread

    nbrs = spread(
        e0.groupBy("d").agg(F.array_sort(F.collect_set("s")).alias("ns"))
    )
    aa_term = F.round(F.lit(1.0) / F.log(F.size("ns")), 6).cast("decimal(18,6)")
    wedge_pairs = (
        # degree-1 neighbours generate no i<j pair; filter them BEFORE
        # the aa projection so ANSI mode never evaluates 1/ln(1)
        nbrs.filter(F.size("ns") >= 2)
        .select("ns", aa_term.alias("aa"))
        .selectExpr("ns", "aa", "posexplode(ns) AS (i, u)")
        .selectExpr("i", "u", "aa", "posexplode(ns) AS (j, v)")
        .filter(F.col("i") < F.col("j"))
        .select("u", "v", "aa")
    )
    cand = (
        wedge_pairs.groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cn"),
            F.sum("aa").cast("double").alias("adamic_adar"),
        )
        .join(ed, ["u", "v"], "left_anti")
    )
    return (
        cand.join(deg.select(F.col("s").alias("u"), F.col("deg").alias("deg_u")), "u")
        .join(deg.select(F.col("s").alias("v"), F.col("deg").alias("deg_v")), "v")
        .select(
            "u",
            "v",
            "cn",
            F.round(
                F.col("cn").cast("double") / (F.col("deg_u") + F.col("deg_v") - F.col("cn")),
                6,
            ).alias("jaccard"),
            "adamic_adar",
        )
        .orderBy(F.col("cn").desc(), "u", "v")
        .limit(_GR07_TOPN)
    )


# ---------------------------------------------------------------------------
# gr08: personalized PageRank (seed-biased teleport)
# ---------------------------------------------------------------------------


def _duck_ppr() -> str:
    """gr01's integer-exact recurrence with the teleport mass restricted
    to a deterministic seed set (node % 50 = 0): rank flows FROM the
    seeds, so scores read as 'relevance to the seed segment' instead of
    global importance. Same hash-stability design as _duck_pagerank —
    the recurrence contains no floating point at all."""
    sql = """
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    outdeg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT node,
                  CAST(CASE WHEN node % 50 = 0 THEN 1.0 ELSE 0.0 END
                       AS DECIMAL(18,10)) AS rank
           FROM nodes)
    """
    prev = "r0"
    for i in range(1, _N_ITER + 1):
        sql += f""",
    r{i} AS (
      SELECT n.node,
             CAST(CASE WHEN n.node % 50 = 0 THEN 0.15 ELSE 0.00 END
                  AS DECIMAL(3,2))
               + CAST({_DAMP} AS DECIMAL(3,2))
               * COALESCE(c.contrib, CAST(0 AS DECIMAL(20,10))) AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node,
               CAST(SUM(CAST((CAST(CAST(r.rank AS DECIMAL(26,12))
                                   * 1000000000000 AS BIGINT)
                              + d.deg * 50) {_IDIV} (d.deg * 100)
                             AS DECIMAL(18,0))
                        * CAST(0.0000000001 AS DECIMAL(10,10)))
                    AS DECIMAL(20,10)) AS contrib
        FROM edges e
        JOIN {prev} r ON e.src = r.node
        JOIN outdeg d ON e.src = d.src
        GROUP BY e.dst) c ON n.node = c.node)
        """
        prev = f"r{i}"
    sql += f"""
    SELECT node, CAST(rank AS STRING) AS ppr
    FROM {prev} WHERE rank <> CAST(0 AS DECIMAL(20,10))
    ORDER BY node
    """
    return sql


@register(
    "gr08_personalized_pagerank",
    duck_sql=_duck_ppr(),
    doc="GR08: personalized PageRank — gr01's integer-exact recurrence "
        "with teleport mass restricted to a seed segment (node % 50 = 0): "
        "ranks read as relevance TO THE SEEDS (the 'suppliers for this "
        "customer segment' recommendation primitive) instead of global "
        "importance. Identical join+agg round shape and decimal "
        "discipline; zero-rank nodes are filtered so the output is the "
        "reachable neighbourhood, which also keeps the result sparse at "
        "scale (PPR mass concentrates near seeds).",
)
def gr08_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.table("orders")
    l = spark.table("lineitem")
    # Same checkpoint-truncated edge list as gr01 (see the note there):
    # the subtree is referenced ~8x and exchange reuse does not dedup it.
    edges = HELD.checkpoint(
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    # nodes feeds the seed vector AND every iteration's left join; outdeg
    # every iteration's contrib join. Both are node-set-sized aggregations
    # over the edge leaf that re-execute per occurrence (ReusedExchange
    # does not fire for concurrent identical subtrees — the r11 event-log
    # finding). Checkpoint each once; the rank recurrence itself stays
    # unrolled (r8: checkpointing RANKS per round was slower at 3
    # iterations, and de-unrolling breaks the exact-decimal hash design).
    nodes = HELD.checkpoint(
        edges.select(F.col("src").alias("node")).union(
            edges.select(F.col("dst").alias("node"))
        ).distinct()
    )
    outdeg = HELD.checkpoint(
        edges.groupBy("src").agg(F.count("*").cast("bigint").alias("deg"))
    )
    seed_term = (
        F.when(F.col("node") % 50 == 0, F.lit("0.15"))
        .otherwise(F.lit("0.00"))
        .cast("decimal(3,2)")
    )
    ranks = nodes.select(
        "node",
        F.when(F.col("node") % 50 == 0, F.lit("1.0"))
        .otherwise(F.lit("0.0"))
        .cast("decimal(18,10)")
        .alias("rank"),
    )
    for _ in range(_N_ITER):
        c_int = F.expr(
            "(CAST(CAST(rank AS DECIMAL(26,12)) * 1000000000000 AS BIGINT)"
            " + deg * 50) div (deg * 100)"
        )
        contribs = (
            edges.join(ranks, edges.src == ranks.node)
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                (
                    c_int.cast("decimal(18,0)")
                    * F.lit("0.0000000001").cast("decimal(10,10)")
                ).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("decimal(20,10)").alias("contrib"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                seed_term
                + F.lit(_DAMP).cast("decimal(3,2)")
                * F.coalesce(F.col("contrib"), F.lit("0").cast("decimal(20,10)"))
            ).alias("rank"),
        )
    return (
        ranks.filter(F.col("rank") != F.lit("0").cast("decimal(20,10)"))
        .select("node", F.col("rank").cast("string").alias("ppr"))
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# gr09: item-item collaborative-filtering similarity (bipartite cosine)
# ---------------------------------------------------------------------------

_GR09_TOPN = 25
_GR09_MIN_COOC = 2


@register(
    "gr09_item_similarity",
    duck_sql=f"""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    deg AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY s),
    cooc AS (
      SELECT a.s AS s_a, b.s AS s_b, CAST(count(*) AS BIGINT) AS cooc
      FROM e a JOIN e b ON a.c = b.c AND a.s < b.s
      GROUP BY a.s, b.s HAVING count(*) >= {_GR09_MIN_COOC})
    SELECT s_a, s_b, cooc,
           ROUND(cooc / SQRT(CAST(da.d AS DOUBLE) * db.d), 6) AS cosine
    FROM cooc JOIN deg da ON da.s = s_a JOIN deg db ON db.s = s_b
    ORDER BY cosine DESC, s_a, s_b LIMIT {_GR09_TOPN}
    """,
)
def gr09_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GR09: item-item collaborative filtering — supplier pairs scored by
    cosine over their CUSTOMER neighbourhoods (cooc / sqrt(deg_a*deg_b)
    on the binary bipartite matrix): the classic 'users who bought X
    also bought Y' precompute. Distinct from gr02/gr07, which work on
    the thresholded co-SUPPLY projection — this scores the raw bipartite
    co-PURCHASE structure, with a min-cooccurrence floor standing in for
    the backbone as the dense-customer defense (a customer touching
    every supplier inflates every pair; the floor plus the DISTINCT
    per-customer edge set bound the blowup, and at 100 TB the standard
    extra guard caps per-customer fan-out before the self-join).
    Integer co-occurrence tallies; one IEEE expression ROUND(6) per
    surviving pair."""
    o = spark.table("orders")
    l = spark.table("lineitem")
    e = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    deg = e.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    a = e.alias("a")
    b = e.alias("b")
    cooc = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s_a"), F.col("b.s").alias("s_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cooc"))
        .filter(F.col("cooc") >= _GR09_MIN_COOC)
    )
    return (
        cooc.join(deg.select(F.col("s").alias("s_a"), F.col("d").alias("da")), "s_a")
        .join(deg.select(F.col("s").alias("s_b"), F.col("d").alias("db")), "s_b")
        .select(
            "s_a",
            "s_b",
            "cooc",
            F.round(
                F.col("cooc") / F.sqrt(F.col("da").cast("double") * F.col("db")), 6
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "s_a", "s_b")
        .limit(_GR09_TOPN)
    )


# ---------------------------------------------------------------------------
# gr10: HITS hubs & authorities over the customer->supplier fulfil graph
# ---------------------------------------------------------------------------

_GR10_TOPN = 15


def _duck_hits() -> str:
    """Unrolled HITS oracle. Exactness design: the power iteration runs
    UNNORMALIZED — h0 = 1, a_i = E^T h_{i-1}, h_i = E a_i — so every
    intermediate value is an exact integer (DECIMAL(38,0) sums: hugeint
    in DuckDB, precision-38 decimal in Spark; no rounding EXISTS in the
    recurrence, unlike GR01's quantized rank/deg division). Scale
    normalization only happens once, in the final report, as an EXACT
    micro-unit integer division (round-6: the wide-decimal->double cast
    is banned — DuckDB's int128->double is not correctly rounded), and
    the exact raw magnitude ships as a string. Bound: the f6 numerator
    2*a*10^6 stays in range while a < 5e31 — HITS magnitudes after 3
    half-rounds grow like (mean degree)^5 * N, far below that through
    sf100 (a3 max ~ 1e13 at sf0.01)."""
    f6a = _f6(True, "a", "m")
    f6h = _f6(True, "h", "m")
    return f"""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    a1 AS (SELECT dst, CAST(count(*) AS DECIMAL(38,0)) AS a
           FROM edges GROUP BY dst),
    h1 AS (SELECT e.src, CAST(SUM(a1.a) AS DECIMAL(38,0)) AS h
           FROM edges e JOIN a1 ON e.dst = a1.dst GROUP BY e.src),
    a2 AS (SELECT e.dst, CAST(SUM(h1.h) AS DECIMAL(38,0)) AS a
           FROM edges e JOIN h1 ON e.src = h1.src GROUP BY e.dst),
    h2 AS (SELECT e.src, CAST(SUM(a2.a) AS DECIMAL(38,0)) AS h
           FROM edges e JOIN a2 ON e.dst = a2.dst GROUP BY e.src),
    a3 AS (SELECT e.dst, CAST(SUM(h2.h) AS DECIMAL(38,0)) AS a
           FROM edges e JOIN h2 ON e.src = h2.src GROUP BY e.dst),
    amax AS (SELECT MAX(a) AS m FROM a3),
    hmax AS (SELECT MAX(h) AS m FROM h2),
    top_a AS (
      SELECT 'authority' AS role, dst AS node, CAST(a AS STRING) AS score_raw,
             CAST({f6a} AS DOUBLE) / CAST(1000000 AS DOUBLE) AS score_norm
      FROM a3 CROSS JOIN amax ORDER BY a DESC, dst LIMIT {_GR10_TOPN}),
    top_h AS (
      SELECT 'hub' AS role, src AS node, CAST(h AS STRING) AS score_raw,
             CAST({f6h} AS DOUBLE) / CAST(1000000 AS DOUBLE) AS score_norm
      FROM h2 CROSS JOIN hmax ORDER BY h DESC, src LIMIT {_GR10_TOPN})
    SELECT * FROM top_a UNION ALL SELECT * FROM top_h
    """


@register(
    "gr10_hits",
    duck_sql=_duck_hits(),
    doc="GR10: HITS hubs & authorities (3 half-iterations) over the "
        "customer->supplier fulfil graph — authorities are suppliers "
        "endorsed by well-connected customers, hubs are customers whose "
        "baskets span authoritative suppliers (the mutual-reinforcement "
        "ranking PageRank's single score conflates). The recurrence runs "
        "UNNORMALIZED so every intermediate is an EXACT integer "
        "(DECIMAL(38,0) partial-agg sums — no float, no quantization, "
        "nothing to round until the final score/max report; the "
        "direction after k rounds is identical to normalized HITS). "
        "Each half-step is one shuffle keyed on the receiving side; "
        "state frames are node-sized. Top-15 per role, raw magnitude "
        "as exact string + micro-unit-exact normalized score (round-6: "
        "no wide-decimal->double cast).",
)
def gr10_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.table("orders")
    l = spark.table("lineitem")
    # Same checkpoint-truncated edge list as gr01 (see the note there):
    # edges feeds all 5 half-iterations' joins and the seed aggregation.
    edges = HELD.checkpoint(
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    dec = "decimal(38,0)"
    a = edges.groupBy("dst").agg(F.count("*").cast(dec).alias("a"))
    h = None
    # two full (h, a) rounds after the seed authority pass: a1 -> h1 -> a2
    # -> h2 -> a3; the final report reads (h2, a3).
    for i in range(2):
        h = (
            edges.join(a, "dst")
            .groupBy("src")
            .agg(F.sum("a").cast(dec).alias("h"))
        )
        if i == 1:
            # The four final consumers (top_h, hmax, and both a3 readers)
            # each re-derive the half-iteration chain: h2's subtree ran 4x
            # CONCURRENTLY and ReusedExchange never fired (72 Exchange /
            # 0 Reused in the pre-fix plan — same class as gr01's edge
            # list). Checkpoint the node-set-sized final frames so the
            # chain executes once and every consumer reads a flat leaf.
            h = HELD.checkpoint(h)
        a = (
            edges.join(h, "src")
            .groupBy("dst")
            .agg(F.sum("h").cast(dec).alias("a"))
        )
    a = HELD.checkpoint(a)
    amax = a.agg(F.max("a").alias("m"))
    hmax = h.agg(F.max("h").alias("m"))
    # round-6: score_norm = f6/1e6 via exact DECIMAL DIV (same spelling
    # as the oracle's hugeint path), not a wide-decimal->double cast.
    norm_a = F.expr(
        f"CAST({_f6(False, 'a', 'm')} AS DOUBLE) / CAST(1000000 AS DOUBLE)"
    )
    norm_h = F.expr(
        f"CAST({_f6(False, 'h', 'm')} AS DOUBLE) / CAST(1000000 AS DOUBLE)"
    )
    top_a = (
        a.crossJoin(F.broadcast(amax))
        .select(
            F.lit("authority").alias("role"),
            F.col("dst").alias("node"),
            F.col("a").cast("string").alias("score_raw"),
            norm_a.alias("score_norm"),
            F.col("a").alias("_s"),
        )
        .orderBy(F.col("_s").desc(), "node")
        .limit(_GR10_TOPN)
        .drop("_s")
    )
    top_h = (
        h.crossJoin(F.broadcast(hmax))
        .select(
            F.lit("hub").alias("role"),
            F.col("src").alias("node"),
            F.col("h").cast("string").alias("score_raw"),
            norm_h.alias("score_norm"),
            F.col("h").alias("_s"),
        )
        .orderBy(F.col("_s").desc(), "node")
        .limit(_GR10_TOPN)
        .drop("_s")
    )
    return top_a.unionAll(top_h)


# ---------------------------------------------------------------------------
# gr11: landmark closeness / harmonic centrality over the co-supply backbone
# ---------------------------------------------------------------------------

_GR11_ROUNDS = 10  # fixpoint measured at <=6 rounds (sf0.001/0.01); slack 4


def _gr11_duck() -> str:
    sql = _DUCK_BACKBONE_PREFIX + """,
    ld0 AS MATERIALIZED (
      SELECT DISTINCT s AS node, s AS lm, 0 AS dist FROM e0
      WHERE s % 3 = 0 AND s < 300)"""
    for i in range(_GR11_ROUNDS):
        sql += f""",
    ld{i + 1} AS MATERIALIZED (
      SELECT node, lm, min(dist) AS dist FROM (
        SELECT node, lm, dist FROM ld{i}
        UNION ALL
        SELECT e.d AS node, x.lm, x.dist + 1
        FROM ld{i} x JOIN e0 e ON e.s = x.node
      ) GROUP BY node, lm)"""
    sql += f"""
    SELECT node,
           CAST(count(*) AS BIGINT) AS n_landmarks,
           CAST(sum(dist) AS BIGINT) AS sum_dist,
           ROUND(CAST(sum(CAST(ROUND(1.0 / dist, 8) AS DECIMAL(20,8)))
                      AS DOUBLE), 6) AS harmonic,
           ROUND(CAST(count(*) AS DOUBLE) / sum(dist), 6) AS closeness
    FROM ld{_GR11_ROUNDS} WHERE dist > 0
    GROUP BY node ORDER BY node
    """
    return sql


@register("gr11_landmark_centrality", duck_sql=_gr11_duck())
def gr11_landmark_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GR11: landmark-based closeness + harmonic centrality
    (operators/graph.landmark_distances) — per node, over the landmark
    set (supplier ids divisible by 3 AND < 300 — a FIXED <=100-landmark
    panel; round-7 ladder fix: the uncapped %3 fraction made landmark
    state grow as |V|^2/3, the heaviest constant in the sf3 ladder at
    183 s, while a fixed panel is the textbook landmark method and keeps
    state |V|*|L| linear. No-op at every oracle-compared scale, where
    all supplier keys are < 300 anyway): closeness = |L|/Σdist and
    harmonic = Σ 1/dist, the standard bounded-landmark approximation of
    exact centrality (APSP is quadratic state; landmarks keep it at
    |V|·|L| rows). Harmonic terms are exact DECIMAL sums of ROUND(8)
    reciprocals (g48's order-free discipline — float Σ would drift by
    add order across engines); closeness is a single float divide of two
    exact integers. Oracle unrolls the identical relaxation for a round
    budget that covers the measured fixpoint depth with slack
    (relaxation is idempotent past the fixpoint). At 100 TB: rounds are
    PageRank-class shuffles; the landmark dimension multiplies state,
    not round count, and stays bounded by design."""
    from pydatalake_gen2_spark.operators.graph import landmark_distances

    ed = _spark_backbone(spark)
    lms = (
        ed.select(F.col("u").alias("node"))
        .union(ed.select(F.col("v").alias("node")))
        .filter((F.col("node") % 3 == 0) & (F.col("node") < 300))
        .distinct()
    )
    ld = landmark_distances(ed, lms, src_col="u", dst_col="v").filter(
        F.col("dist") > 0
    )
    return (
        ld.groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_landmarks"),
            F.sum("dist").cast("bigint").alias("sum_dist"),
            F.round(
                F.sum(
                    F.round(F.lit(1.0) / F.col("dist"), 8).cast("decimal(20,8)")
                ).cast("double"),
                6,
            ).alias("harmonic"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.sum("dist"), 6
            ).alias("closeness"),
        )
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# gr12: degree distribution + Hill power-law tail estimator
# ---------------------------------------------------------------------------

sql_pair(
    "gr12_degree_powerlaw",
    """
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    deg AS (
      SELECT dst AS node, CAST(count(*) AS BIGINT) AS d
      FROM edges GROUP BY dst),
    ranked AS (
      SELECT d, ROW_NUMBER() OVER (ORDER BY d DESC, node) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n_nodes
      FROM deg),
    tail AS (
      SELECT n_nodes,
             CAST(count(*) AS BIGINT) AS k_tail,
             CAST(MIN(d) AS BIGINT) AS d_min,
             CAST(SUM(CAST(ROUND(LN(CAST(d AS DOUBLE)), 8)
                           AS DECIMAL(20,8))) AS DOUBLE) AS sum_ln_d
      FROM ranked
      WHERE rn <= CAST(FLOOR(CAST(n_nodes AS DOUBLE) / 10) AS BIGINT)
        AND n_nodes >= 20
      GROUP BY n_nodes),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes_all,
             CAST(MAX(d) AS BIGINT) AS d_max,
             CAST(MIN(d) AS BIGINT) AS d_min_all,
             CAST(SUM(d) AS BIGINT) AS sum_d
      FROM deg)
    SELECT s.n_nodes_all AS n_nodes, s.d_min_all AS d_min, s.d_max,
           ROUND(CAST(s.sum_d AS DOUBLE) / s.n_nodes_all, 4) AS mean_degree,
           t.k_tail, t.d_min AS tail_d_min,
           ROUND(1.0 + CAST(t.k_tail AS DOUBLE)
                 / NULLIF(t.sum_ln_d
                          - t.k_tail * ROUND(LN(CAST(t.d_min AS DOUBLE)), 8),
                          0),
                 6) AS hill_alpha
    FROM stats s CROSS JOIN tail t
    """,
    doc="GR12: degree distribution + Hill power-law tail estimator over "
        "the supplier side of the customer→supplier graph — the "
        "graph-health profile behind every skew decision this repo "
        "makes (salting, band caps, AQE skew joins): a heavy tail "
        "(small alpha) says hot keys WILL dominate shuffles. Hill "
        "estimator over the top-decile tail: alpha = 1 + k / "
        "sum(ln(d_i/d_min)), with each ln ROUND(8)-fenced then summed "
        "EXACTLY as DECIMAL(20,8) (l58/gr07 discipline — the sum is "
        "order-independent across engines) and ONE final IEEE "
        "expression ROUND(6). Degrees, counts, min/max/mean are exact "
        "integers. Scale: degrees are one partial+final agg over the "
        "deduped edge list; the tail selection is a top-k over the "
        "per-node degree table (nodes, not edges). One SQL text in "
        "both dialects.",
)
