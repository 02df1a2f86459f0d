"""Iterative graph operators beyond dedup's connected components.

Engine parity note: the reference (client.py) has no graph surface; these
extend the declared engine layer the same way the L* pipeline ops do
(SURVEY.md 2B.14+). All loops follow the plan-truncating checkpoint
discipline established by operators/dedup.connected_components, and all
hold their state through one util.RoundState block: each round
materializes through ``checkpoint`` so the analyzed plan stays
constant-size, a superseded round is ``drop``ped at once, a failed job or
non-convergence frees every held round, and on success the final state's
lifecycle belongs to the caller via util.release_persisted().
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydatalake_gen2_spark.operators.util import RoundState, undirected


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """The k-core of an undirected graph: the (unique) maximal subgraph
    in which every node has degree >= k — the standard "dense kernel"
    extractor (community seeds, spam-ring detection, backbone pruning
    one step past GR02's edge thresholding).

    Algorithm: iterative peeling. Each round computes degrees (one
    partial-agg shuffle), keeps nodes with degree >= k, and semi-joins
    the edge list down to edges whose BOTH endpoints survive; the loop
    stops when the edge count reaches a fixpoint. Peeling removes at
    least one node per non-final round, so rounds are bounded by the
    peel depth (the graph's degeneracy ordering length) — small in
    practice; ``max_iter`` is a backstop that RAISES rather than
    returning a non-fixpoint.

    State is one (src, dst) edge frame, checkpoint-truncated per round
    (see module docstring). Output: (node BIGINT, core_degree BIGINT) —
    every node in the k-core with its within-core degree.
    """
    with RoundState() as rs:
        # lazy checkpoint + full count: one job per round materializes the
        # round and yields its edge count (the fixpoint certificate)
        alive = rs.checkpoint(undirected(edges, src_col, dst_col), eager=False)
        prev = alive.count()
        for _ in range(max_iter):
            keep = (
                alive.groupBy("s")
                .agg(F.count(F.lit(1)).alias("deg"))
                .filter(F.col("deg") >= k)
                .select(F.col("s").alias("n"))
            )
            new_alive = rs.checkpoint(
                alive.join(keep, alive.s == keep.n, "left_semi").join(
                    keep.withColumnRenamed("n", "m"),
                    F.col("d") == F.col("m"),
                    "left_semi",
                ),
                eager=False,
            )
            cur = new_alive.count()
            rs.drop(alive)
            alive = new_alive
            if cur == prev:
                break
            prev = cur
        else:
            raise RuntimeError(f"k_core did not reach a fixpoint within {max_iter} rounds")
    return alive.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    seed_col: str = "node",
    max_iter: int = 50,
) -> DataFrame:
    """Multi-source BFS over an undirected graph: hop distance from the
    nearest seed, for every reachable node (unreached nodes are absent).
    The frontier pattern behind impact analysis ("what is within k hops
    of these flagged suppliers/documents"), label spreading, and
    lineage-radius queries.

    Algorithm: BFS by levels. Unit-weight BFS settles a node the round it
    is first reached, so each round relaxes only the FRONTIER (last
    round's new nodes) against the edges, and a candidate reached from a
    depth-(r-1) node has true depth in {r-2, r-1, r} — anti-joining
    candidates against the last TWO levels is exact (r12, same frontier
    rewrite as landmark_distances; the old form joined and re-checkpointed
    the full settled table every round). Rounds are bounded by the
    graph's seed-eccentricity — NOT log-compressed like connected
    components' pointer doubling, because path LENGTH is the answer, so
    shortcuts would change the result. State totals one (node, dist) row
    per reached node across all level checkpoints; convergence = empty
    frontier, read from the job that materializes the level (lazy
    checkpoint + full count — one driver job per round).
    """
    return _frontier_bfs(
        edges, seeds, ["node"], src_col, dst_col, seed_col, max_iter, "bfs_distances"
    )


def label_propagation(
    edges: DataFrame,
    rounds: int,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007), run for a FIXED number of rounds: every node starts labeled
    with its own id; each round it adopts the most frequent label among
    its neighbours (ties → smallest label), all nodes updating from the
    SAME previous-round snapshot.

    Fixed rounds — not run-to-convergence — because synchronous LPA can
    oscillate on bipartite structures; a fixed budget makes the result a
    deterministic pure function of the graph, which is what a
    cross-engine oracle can certify (production runs add a stop-when-
    stable check on top of the same recurrence). Each round is one
    join + one partial-agg count + one per-node argmax — the same
    shuffle class as a PageRank round; state is one (node, label) row
    per node, checkpoint-truncated per round (see module docstring).

    Output: (node BIGINT, label BIGINT) — label = community id.
    """
    with RoundState() as rs:
        # persist (not checkpoint): a static recomputable plan — executor
        # loss mid-loop recomputes it instead of failing the job (same
        # choice as the BFS loop's edge list)
        und = rs.persist(undirected(edges, src_col, dst_col))
        labels = rs.checkpoint(
            und.select(F.col("s").alias("node")).distinct()
            .select("node", F.col("node").alias("label"))
        )
        for _ in range(rounds):
            votes = (
                und.join(labels, und.d == labels.node)
                .select(F.col("s").alias("n"), "label")
                .groupBy("n", "label")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            # argmax by (cnt DESC, label ASC): min of (-cnt, label) struct
            new_labels = rs.checkpoint(
                votes.groupBy("n")
                .agg(F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("label"))).alias("m"))
                .select(F.col("n").alias("node"), F.col("m.label").alias("label"))
            )
            rs.drop(labels)
            labels = new_labels
    return labels


def landmark_distances(
    edges: DataFrame,
    landmarks: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    lm_col: str = "node",
    max_iter: int = 50,
) -> DataFrame:
    """Per-landmark BFS distances over an undirected graph: one
    (node, lm, dist) row for every (reachable node, landmark) pair —
    bfs_distances with SOURCE TRACKING, i.e. |landmarks| simultaneous
    BFS waves sharing each round's single join + dedup on the compound
    (node, lm) key. The backbone of landmark-based centrality and
    distance-oracle sketches (Potamias et al. 2009): exact APSP is
    quadratic state, but a bounded landmark set (16-64 in practice)
    keeps state at |V|·|L| rows while preserving distance structure.

    r12 (VERDICT r11 #5; guide §2.3 shuffle fewer bytes): FRONTIER-ONLY
    relaxation. The old form joined the FULL settled table with the edge
    list every round and re-aggregated + re-checkpointed all |V|·|L|
    rows per round — Σ_r |settled_r| checkpoint writes and join shuffles
    (~quadratic in depth; gr11's 198.7 s at sf10 was this). Unit-weight
    BFS settles a pair the round it is first reached, so only the rows
    DISCOVERED last round can relax anything new, and a candidate
    reached from a depth-(r-1) node has true depth in {r-2, r-1, r}:
    anti-joining candidates against just the LAST TWO levels (never the
    whole settled set) is exact. Per round this joins |frontier| rows
    with the edges, checkpoints only the new level, and the total
    materialized volume across the whole run is exactly |V|·|L| rows.
    Convergence = empty frontier, read from the SAME job that
    materializes the level (lazy checkpoint + full count — one driver
    job per round, the same fusion as connected_components).
    """
    return _frontier_bfs(
        edges, landmarks, ["node", "lm"], src_col, dst_col, lm_col, max_iter,
        "landmark_distances",
    )


def _frontier_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    keys: list[str],
    src_col: str,
    dst_col: str,
    seed_col: str,
    max_iter: int,
    name: str,
) -> DataFrame:
    """The level-by-level BFS behind bfs_distances (``keys=["node"]``)
    and landmark_distances (``keys=["node", "lm"]``, each seed its own
    wave). Output: (*keys, dist BIGINT)."""
    with RoundState() as rs:
        sym = rs.persist(undirected(edges, src_col, dst_col))
        seed = seeds.select(F.col(seed_col).cast("bigint").alias("node")).distinct()
        # levels[r] = keys first reached at depth r
        levels = [
            rs.checkpoint(
                seed.select(*(F.col("node").alias(k) for k in keys), F.lit(0).alias("dist"))
            )
        ]
        for _ in range(max_iter):
            frontier = levels[-1]
            relax = sym.join(frontier, sym.s == frontier.node).select(
                F.col("d").alias("node"), *keys[1:], (F.col("dist") + 1).alias("dist")
            )
            # Candidates of depth r can only collide with keys settled at
            # depths r-1 / r-2 (an earlier-settled neighbour would have
            # pulled the frontier node below depth r-1) — anti-join against
            # those two levels only. dropDuplicates first: multiple paths
            # produce identical rows, and keying its exchange on the keys
            # lets the anti-join reuse the partitioning.
            seen = levels[-1].select(*keys)
            if len(levels) >= 2:
                seen = seen.union(levels[-2].select(*keys))
            new_level = rs.checkpoint(
                relax.dropDuplicates(keys).join(seen, on=keys, how="left_anti"),
                eager=False,
            )
            # ONE job: materializes every partition of the lazy checkpoint
            # AND yields the empty-frontier certificate.
            if new_level.count() == 0:
                rs.drop(new_level)
                break
            levels.append(new_level)
        else:
            raise RuntimeError(f"{name} did not converge within {max_iter} rounds")
    dist = levels[0]
    for lv in levels[1:]:
        dist = dist.union(lv)
    return dist.select(*keys, F.col("dist").cast("bigint").alias("dist"))
