"""Physical-plan assertions — the 100 TB design gate (SURVEY.md §4.2).

Correctness tests prove the right rows come back at sf0.001; these prove
the PLAN is the one that survives a 1000-executor / 100 TB scale-up:
filters reach the parquet scan, projections prune the read schema, small
dims broadcast, top-k never total-sorts, aggregation is partial+final,
and no equi-join ever degenerates to a cartesian product.
"""

from __future__ import annotations

import pytest

import re

from pydatalake_gen2_spark.registry import load_all


def _plan(spark, sf_dir, name: str) -> str:
    df = load_all()[name].spark_fn(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_filter_pushed_to_parquet_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "p03_filter_boolean")
    assert "PushedFilters: [" in plan
    # at least one real predicate reached the scan, not an empty list
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), plan


def test_projection_prunes_read_schema(spark, sf_dir):
    plan = _plan(spark, sf_dir, "p01_project_rename")
    read = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    # lineitem has 16 columns; the projection must scan only what it needs
    assert read.count(",") < 6, read


def test_small_dim_join_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "j02_broadcast_inner")
    assert "BroadcastHashJoin" in plan, plan


def test_equi_joins_never_cartesian(spark, sf_dir):
    for name in ("j01_inner_equi", "j03_left_outer", "j06_left_semi",
                 "j12_multikey_self", "jx_salted_skew_join"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name


def test_limit_under_order_is_topk(spark, sf_dir):
    plan = _plan(spark, sf_dir, "o03_limit_topk")
    assert "TakeOrderedAndProject" in plan, plan


def test_groupby_agg_is_partial_then_final(spark, sf_dir):
    plan = _plan(spark, sf_dir, "g02_groupby_agg")
    assert plan.count("HashAggregate") >= 2, plan


def test_hot_paths_have_no_python_udf(spark, sf_dir):
    """Everything except the declared UDF/multimodal rows must stay
    JVM-side: no BatchEvalPython / ArrowEvalPython in the plan."""
    for name in ("g02_groupby_agg", "j01_inner_equi", "l01_dedup_exact",
                 "l03_cosine_topk", "l07_tfidf", "w07_running_total",
                 "t01_language_id", "t02_quality_score"):
        plan = _plan(spark, sf_dir, name)
        assert "EvalPython" not in plan, name


def test_whole_stage_codegen_covers_agg(spark, sf_dir):
    df = load_all()["g02_groupby_agg"].spark_fn(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
    plan = df._jdf.queryExecution().explainString(mode)
    assert "WholeStageCodegen" in plan, plan


@pytest.mark.parametrize("name", ["s05_partitioned_pruned"])
def test_partition_pruning_visible(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    # partitioned write + filtered read-back must show partition filters
    # (or prune to a single-directory location)
    assert ("PartitionFilters: [" in plan) or ("l_returnflag=R" in plan), plan


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both sides on the join key removes the Exchange under the
    join — the co-located-join strategy for repeated 100 TB fact-fact
    joins. (saveAsTable into the session's in-memory catalog.)"""
    import pyspark.sql.functions as F
    from pydatalake_gen2_spark.registry import ensure_views

    ensure_views(spark, sf_dir)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
            (
                spark.table(name)
                .write.mode("overwrite")
                .bucketBy(8, key)
                .sortBy(key)
                .option("path", str(tmp_path / f"b_{name}"))
                .saveAsTable(f"b_{name}")
            )
        joined = spark.table("b_orders").join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = joined._jdf.queryExecution().explainString(mode)
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_llm_ops_prune_documents_scan(spark, sf_dir):
    """TF-IDF needs (doc_id, text) only; the documents scan must not read
    lang/source/n_chars — at 100 TB of corpus that's the difference
    between scanning 2 columns and scanning the table."""
    plan = _plan(spark, sf_dir, "l07_tfidf")
    for read in [seg.splitlines()[0] for seg in plan.split("ReadSchema: ")[1:]]:
        if "documents" in read or "text" in read:
            assert "lang" not in read and "source" not in read, read


def test_snowflake_joins_broadcast_dims(spark, sf_dir):
    """c16 (Q7 shape): every dim join (supplier/customer/nation x2) must be
    a broadcast hash join — the fact table never shuffles for a dim."""
    plan = _plan(spark, sf_dir, "c16_nation_volume")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("BroadcastHashJoin") >= 4, plan


def test_exists_decorrelates_to_semi_join(spark, sf_dir):
    """Correlated EXISTS/NOT EXISTS must become semi/anti hash joins, not
    per-row subquery execution."""
    p9 = _plan(spark, sf_dir, "c09_exists_priority")
    assert "LeftSemi" in p9, p9
    p10 = _plan(spark, sf_dir, "c10_not_exists_quiet_customers")
    assert "LeftAnti" in p10, p10


def test_deterministic_sample_is_scan_side(spark, sf_dir):
    """l12: the md5 sample predicate is a pure per-row filter — no
    shuffle/exchange anywhere in the plan."""
    plan = _plan(spark, sf_dir, "l12_deterministic_sample")
    assert "Exchange" not in plan, plan


def test_quality_filter_no_shuffle(spark, sf_dir):
    """t05: per-row quality flags must not shuffle."""
    plan = _plan(spark, sf_dir, "t05_quality_filter")
    assert "Exchange" not in plan, plan


def test_funnel_is_single_aggregation_pass(spark, sf_dir):
    """w12: conditional-MIN funnel = one partial+final agg per level, no
    self-joins of events."""
    plan = _plan(spark, sf_dir, "w12_funnel_steps")
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_ivf_assignment_is_single_pass(spark, sf_dir):
    """lx_ivf_topk: the assignment subtree (scan -> ArrowEvalPython cell
    UDF -> norms) is persisted, and BOTH consumers (inverted file and
    probe list) read the cache — so the UDF runs once per row at
    execution, not once per branch. The explain string repeats the cached
    subtree per consumer; the InMemoryTableScan nodes are the proof."""
    plan = _plan(spark, sf_dir, "lx_ivf_topk")
    assert "ArrowEvalPython" in plan, plan
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_simhash_neardup_join_is_equi_not_allpairs(spark, sf_dir):
    """The banded Hamming join must reach the executor as a hash-keyed
    equi-join on (band, val) — never a cartesian/BNLJ all-pairs scan
    (that's the blow-up the banding exists to avoid at 100 TB)."""
    plan = _plan(spark, sf_dir, "lx_simhash_neardup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_no_rdd_conversion_in_source(spark, sf_dir):
    """Library code must stay in the DataFrame plan: touching .rdd forces
    a logical->RDD conversion per call (VERDICT r2 'What's wrong' #2).
    One exemption: lines tagged `jvm-rdd-release` (util._unpersist_checkpoint)
    read the JVM-side LogicalRDD field to unpersist checkpoint blocks —
    a block-manager release, not a conversion; nothing is re-planned."""
    import glob
    import os
    import re

    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "pydatalake_gen2_spark")
    hits = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        with open(path) as f:
            for i, line in enumerate(f, 1):
                if re.search(r"\.rdd\b", line) and "jvm-rdd-release" not in line:
                    hits.append(f"{path}:{i}: {line.strip()}")
    assert not hits, hits


def test_no_raw_resource_calls_in_source():
    """Every held Spark resource goes through ``util.Held``: outside
    ``operators/util.py`` no code calls ``.persist(``, ``.unpersist(``,
    ``.localCheckpoint(``, ``.cache(`` or ``.broadcast(`` on a frame or a
    SparkContext. Calls on ``HELD`` or on a name bound by
    ``with Held() as name`` are the owner's, and ``F.broadcast`` is a
    join hint. Code only: the AST walk skips docstrings and comments."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "pydatalake_gen2_spark"
    banned = {"persist", "unpersist", "localCheckpoint", "cache", "broadcast"}
    hits = []
    for path in sorted(root.rglob("*.py")):
        if path.relative_to(root).as_posix() == "operators/util.py":
            continue
        tree = ast.parse(path.read_text())
        owners = {"HELD"} | {
            item.optional_vars.id
            for node in ast.walk(tree) if isinstance(node, ast.With)
            for item in node.items
            if isinstance(item.optional_vars, ast.Name)
            and isinstance(item.context_expr, ast.Call)
            and getattr(item.context_expr.func, "id", None) == "Held"
        }
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            attr, recv = node.func.attr, getattr(node.func.value, "id", None)
            if attr in banned and recv not in owners and (attr, recv) != ("broadcast", "F"):
                hits.append(f"{path.relative_to(root)}:{node.lineno}: .{node.func.attr}(")
    assert not hits, hits


def test_jaccard_df_cap_has_no_window_over_tok(spark, sf_dir):
    """The max_df hot-shingle cap must compute document frequency with a
    partial-aggregating groupBy, never a window sort over the (by
    construction) hot `tok` key (VERDICT r2 'What's wrong' #3)."""
    from pydatalake_gen2_spark.operators.dedup import exact_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = exact_jaccard_pairs(docs, tau=0.3, max_df=50)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    assert "Window" not in plan, plan


def test_library_ops_release_cached_blocks(spark, sf_dir, monkeypatch):
    """ivf_topk / lsh_topk / connected_components / bfs_distances / l66's
    BPE rounds persist, checkpoint or broadcast intermediates; after
    consuming + release_persisted() the cached-RDD map and the RDD
    storage bytes (memory + disk) return to their baseline and lsh_topk's
    broadcast is destroyed — twice in one session, so a second run
    neither leaks nor trips over the first one's release (VERDICT r2
    'What's wrong' #1)."""
    from pydatalake_gen2_spark.operators import dedup, similarity
    from pydatalake_gen2_spark.operators.graph import bfs_distances
    from pydatalake_gen2_spark.operators.util import release_persisted

    sc = spark.sparkContext
    made = []
    real_broadcast = sc.broadcast
    monkeypatch.setattr(
        sc, "broadcast", lambda v: made.append(real_broadcast(v)) or made[-1]
    )

    def held() -> tuple[int, int]:
        infos = sc._jsc.sc().getRDDStorageInfo()
        return (
            sc._jsc.getPersistentRDDs().size(),
            sum(i.memSize() + i.diskSize() for i in infos),
        )

    release_persisted()
    base = held()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a BIGINT, id_b BIGINT"
    )
    seeds = spark.createDataFrame([(1,)], "node BIGINT")
    for _ in range(2):
        made.clear()
        similarity.ivf_topk(emb, k=3).collect()
        similarity.lsh_topk(emb, k=3).collect()
        dedup.connected_components(edges).collect()
        bfs_distances(edges, seeds).collect()
        load_all()["l66_bpe_train"].spark_fn(spark, sf_dir).collect()
        n_rdds, n_bytes = held()
        # the caches were really held...
        assert n_rdds > base[0] and n_bytes > base[1]
        assert len(made) == 1 and made[0]._jbroadcast.isValid()
        release_persisted()
        # ...and really released
        assert held() == base
        assert not made[0]._jbroadcast.isValid()


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    """L17: the benchmark-gram set must broadcast — the corpus side of a
    100 TB decontamination pass cannot shuffle on gram."""
    plan = _plan(spark, sf_dir, "l17_decontaminate")
    assert "BroadcastHashJoin" in plan, plan


def test_weighted_sample_has_no_exchange(spark, sf_dir):
    """L18: the weighted Bernoulli predicate is a pure scan-stage filter —
    any Exchange in this plan means the sample stopped being map-only."""
    plan = _plan(spark, sf_dir, "l18_weighted_sample")
    assert "Exchange" not in plan, plan


def test_simhash_neardup_dedups_without_shuffle(spark, sf_dir):
    """r3: each true pair is emitted exactly once at its MINIMAL agreeing
    band — a row-local bit expression over the two fingerprints — so the
    plan must contain NO aggregate over the output pair keys (the old
    .distinct() shuffled every <= r+1-fold duplicated true pair) while
    the bit_count Hamming verify still runs inside the join stage."""
    import re

    plan = _plan(spark, sf_dir, "lx_simhash_neardup")
    assert "bit_count" in plan, plan
    headers = list(re.finditer(r"^\((\d+)\) (\w+)", plan, re.MULTILINE))
    assert headers, plan
    for i, m in enumerate(headers):
        if m.group(2) != "HashAggregate":
            continue
        block_end = headers[i + 1].start() if i + 1 < len(headers) else len(plan)
        block = plan[m.start() : block_end]
        # the only legitimate aggregates are the fingerprint bit tallies
        # (keyed on doc_id) — never the emitted (id_a, id_b) pairs
        assert "id_a" not in block, block


def test_chunking_has_no_exchange(spark, sf_dir):
    """l21 is row-local (explode + slices): any Exchange is a regression."""
    plan = _plan(spark, sf_dir, "l21_chunk_overlap")
    assert "Exchange" not in plan, plan


def test_line_dedup_keeper_is_partial_agg_not_window(spark, sf_dir):
    """l20's first-occurrence keeper must be a partial-aggregated
    min(struct) groupBy on the line key, never a window sort over the
    (hot) line partition — same gate as the jaccard df fix."""
    plan = _plan(spark, sf_dir, "l20_line_dedup")
    assert "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_bm25_broadcasts_stats_and_df(spark, sf_dir):
    """l22: term document-frequencies and the 1-row stats frame join the
    tf side as broadcasts; the only exchange shuffles (doc, query_term)
    hits, never the corpus vocabulary."""
    plan = _plan(spark, sf_dir, "l22_bm25")
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "BroadcastNestedLoop" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_scd2_merge_broadcasts_batch_summaries(spark, sf_dir):
    """j16: the change-batch summary joins against the dimension as a
    broadcast — the dimension side must not shuffle for the merge."""
    plan = _plan(spark, sf_dir, "j16_scd2_incremental")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_span_dedup_keeper_is_partial_agg_not_window(spark, sf_dir):
    """l23's first-occurrence keeper must be partial-aggregated
    min(struct) on the md5 gram key — no window sort over the hot gram."""
    plan = _plan(spark, sf_dir, "l23_span_dedup")
    assert "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_interval_overlap_is_equi_join(spark, sf_dir):
    """j17 must execute as an equi-join on (key, bin) — never a
    BroadcastNestedLoop / cartesian theta join."""
    plan = _plan(spark, sf_dir, "j17_interval_overlap")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_fuzzy_match_is_equi_join(spark, sf_dir):
    """j18's blocking must produce an equi-join on the length bucket —
    never a cartesian/BNLJ theta join over the dictionary."""
    plan = _plan(spark, sf_dir, "j18_fuzzy_name_match")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_e2e_pipeline_shape(spark, sf_dir):
    """l26 composes four stages but must stay a lean plan: threshold
    table broadcast, no cartesian, chunking adds no exchange."""
    plan = _plan(spark, sf_dir, "l26_e2e_pipeline")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_dpp_join_prunes_fact_partitions(spark, sf_dir):
    """j19: the partitioned fact scan must carry a dynamic-pruning
    subquery on the partition column (DPP), so only qualifying o_year
    directories are read — the 100 TB star-join scan-reduction."""
    plan = _plan(spark, sf_dir, "j19_dpp_partitioned_join")
    assert "dynamicpruning" in plan.lower(), plan


def test_nearest_join_is_union_sort_not_pairs(spark, sf_dir):
    """j21: nearest-event must keep the asof-family shape — union-sort
    windows, never a per-pair product (no cartesian/BNLJ), no Python."""
    plan = _plan(spark, sf_dir, "j21_nearest_event")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_unigram_lm_model_broadcasts(spark, sf_dir):
    """l30: the trained token model joins back to the exploded corpus as
    a broadcast — the corpus side must never shuffle on `tok` a second
    time for the join."""
    plan = _plan(spark, sf_dir, "l30_unigram_lm_score")
    assert "BroadcastExchange" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_global_row_id_never_single_partition_sorts(spark, sf_dir):
    # o06's whole point: ids WITHOUT `Window [... ORDER BY ...]` over an
    # empty partitionBy (the all-data-to-one-task plan). The plan must
    # range-partition and rank locally via Arrow mapInPandas instead.
    plan = _plan(spark, sf_dir, "o06_global_row_id")
    assert "Window" not in plan, plan
    assert "rangepartitioning" in plan.lower(), plan
    assert "MapInPandas" in plan, plan
    from pydatalake_gen2_spark.operators.util import release_persisted
    release_persisted()


def test_quality_audit_is_one_scan(spark, sf_dir):
    # All audit metrics must ride a single lineitem scan (one FileScan
    # node); the count-distinct expand is allowed, a scan per metric is not.
    plan = _plan(spark, sf_dir, "g28_quality_audit")
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_table_checksum_is_partial_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "g27_table_checksum")
    assert plan.count("HashAggregate") >= 2, plan
    assert "SinglePartition" in plan, plan  # only the 1-row merge crosses


def test_bucketed_join_has_zero_exchanges(spark, sf_dir):
    # j22: both sides bucketed+sorted on the join key -> SMJ and the
    # same-key groupBy ride the layout; ANY Exchange is a regression.
    plan = _plan(spark, sf_dir, "j22_bucketed_join")
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan


def test_shuffle_hash_hint_is_honored(spark, sf_dir):
    plan = _plan(spark, sf_dir, "j24_shuffle_hash_hint")
    assert "ShuffledHashJoin" in plan, plan


def test_nested_schema_pruning_reads_one_leaf(spark, sf_dir):
    # p10: the struct has 3 leaves; the projection touches 1 — the scan's
    # ReadSchema must contain o_totalprice and NEITHER sibling leaf.
    plan = _plan(spark, sf_dir, "p10_nested_pruning")
    read = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "o_totalprice" in read, read
    assert "o_orderstatus" not in read and "o_orderpriority" not in read, read


def test_minhash_sql_joins_stay_equi(spark, sf_dir):
    """l36: the banded candidate join and the verify join must both be
    hash/merge equi-joins — an LSH pipeline that falls back to a nested
    loop is quadratic and defeats its own purpose."""
    plan = _plan(spark, sf_dir, "l36_minhash_sql")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_triangle_count_no_nested_loop(spark, sf_dir):
    """gr02: oriented compact-forward enumeration is three equi-joins;
    no theta/nested-loop join may appear."""
    plan = _plan(spark, sf_dir, "gr02_triangle_count")
    assert "CartesianProduct" not in plan, plan


def test_null_safe_join_is_hash_join(spark, sf_dir):
    """j27: EqualNullSafe is an equi-join condition for Catalyst — the
    plan must be a hash/sort-merge join, never a nested loop over NULLs."""
    plan = _plan(spark, sf_dir, "j27_null_safe_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_recursive_cte_is_bounded_union_loop(spark, sf_dir):
    """c28: the recursion plans as UnionLoop (iterative frontier), not an
    unrolled/exploded join tree."""
    plan = _plan(spark, sf_dir, "c28_recursive_cte")
    assert "UnionLoop" in plan or "Recursion" in plan, plan


def test_lateral_limit_decorrelates_to_window(spark, sf_dir):
    """j28: the correlated LATERAL ... ORDER BY ... LIMIT must plan as a
    rank-over-partition (Window + filter), never a per-outer-row rescan
    (no nested loop / cartesian)."""
    plan = _plan(spark, sf_dir, "j28_lateral_subquery")
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_keyset_pagination_pushes_seek_predicate(spark, sf_dir):
    """o07: the keyset predicate must reach the parquet scan (the whole
    point vs OFFSET), and the page fetch must be top-k, not a total sort."""
    plan = _plan(spark, sf_dir, "o07_keyset_pagination")
    assert "TakeOrderedAndProject" in plan, plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "GreaterThan(o_orderkey" in pushed, pushed


def test_vocab_coverage_broadcasts_vocab(spark, sf_dir):
    """l53: the top-K vocabulary joins back onto the exploded token stream
    as a broadcast — the token stream itself must never shuffle for the
    join."""
    plan = _plan(spark, sf_dir, "l53_vocab_coverage")
    assert "BroadcastHashJoin" in plan, plan


def test_referential_integrity_broadcasts_parents(spark, sf_dir):
    """j31: every FK anti-join must stay a broadcast (parents are dims) —
    no fact-table shuffle and no nested loop anywhere in the audit."""
    plan = _plan(spark, sf_dir, "j31_referential_integrity")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_link_prediction_stays_equi_join(spark, sf_dir):
    """gr07: wedge enumeration + closing-edge anti join must all be
    hash/merge equi-joins — a nested loop over the edge list is the
    dense-projection blowup the backbone exists to prevent. The one
    permitted BroadcastNestedLoopJoin is the backbone's own 1-row
    percentile-threshold attach (same node in gr02/gr03's plans): a
    single-row build side is a constant, not a pair explosion —
    formatted explain re-prints that shared node per reuse, so count
    DISTINCT node ids, not textual occurrences."""
    import re

    plan = _plan(spark, sf_dir, "gr07_link_prediction")
    assert "CartesianProduct" not in plan, plan
    bnlj_ids = set(re.findall(r"BroadcastNestedLoopJoin [^(]*\((\d+)\)", plan))
    assert len(bnlj_ids) <= 1, plan
    assert "SortMergeJoin LeftAnti" in plan or "BroadcastHashJoin LeftAnti" in plan, plan


def test_sql_udf_inlines_into_plan(spark, sf_dir):
    """ud13: SQL UDF bodies must inline — no Python evaluator node may
    appear anywhere in the plan (that's the whole point of the flavor)."""
    plan = _plan(spark, sf_dir, "ud13_sql_udf")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan, marker


def test_market_basket_broadcasts_part_dim(spark, sf_dir):
    """c30: the part dim join must broadcast, and the brand-pair self-join
    must stay an equi-join on the order key (never a cross product)."""
    plan = _plan(spark, sf_dir, "c30_market_basket")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_correlation_matrix_single_scan(spark, sf_dir):
    """g45: all 14 moments must come from ONE lineitem scan feeding one
    partial+final aggregate — no per-pair passes."""
    plan = _plan(spark, sf_dir, "g45_correlation_matrix")
    # formatted mode prints each node twice (tree + details): 2 == one scan
    assert plan.count("Scan parquet") == 2, plan
    assert "HashAggregate" in plan, plan


def test_footer_stats_scan_reads_no_data(spark, sf_dir):
    """s34: the statistics must come from footers inside the python stage —
    the plan must contain NO parquet data scan at all."""
    plan = _plan(spark, sf_dir, "s34_footer_stats_scan")
    assert "Scan parquet" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_topk_with_ties_never_total_sorts(spark, sf_dir):
    """o08: the 10th-value micro-pass must be TakeOrderedAndProject and the
    full table must never range-shuffle into a global sort."""
    plan = _plan(spark, sf_dir, "o08_topk_with_ties")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_hits_rounds_stay_equi_joins(spark, sf_dir):
    """gr10: every half-step is an equi-join + partial agg; the only
    nested-loop allowed is the broadcast of the 1-row max frames."""
    plan = _plan(spark, sf_dir, "gr10_hits")
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_hits_final_frames_checkpointed_once(spark, sf_dir):
    """gr10 (r11 batch 5): h2 and a3 are localCheckpointed after the last
    half-iteration, so the four final consumers (top-h, top-a, both max
    frames) read flat ExistingRDD leaves instead of each re-deriving the
    whole DECIMAL(38,0) join+agg chain — the plan drops from 72 Exchange
    nodes to 8 (plans/r11/gr10_hits_after.txt)."""
    plan = _plan(spark, sf_dir, "gr10_hits")
    assert plan.count("Scan ExistingRDD") >= 4, plan
    assert plan.count("Exchange") <= 16, plan


def test_pq_rerank_audit_legs_persisted(spark, sf_dir):
    """lx_pq_rerank (r11 batch 5): the exact brute-force leg and the
    per-query recall frames are persisted results, so multi-consumer
    audit reads hit InMemoryTableScan instead of re-scoring the corpus —
    parquet scan occurrences drop 32 -> 23 in the explain string."""
    plan = _plan(spark, sf_dir, "lx_pq_rerank")
    assert plan.count("InMemoryTableScan") >= 6, plan
    assert plan.count("Scan parquet") <= 26, plan


def test_temporal_dim_enrich_is_single_shuffle_asof(spark, sf_dir):
    """j34: the SCD2 read path must run as the union-sort as-of join (one
    Window over the key), never a point-in-interval theta join."""
    plan = _plan(spark, sf_dir, "j34_temporal_dim_enrich")
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_dq01_single_scan_broadcast_fk(spark, sf_dir):
    """DQ01's whole suite must cost ONE scan of orders: every constraint
    folds into one partial+final aggregate over a broadcast FK join —
    adding checks must never add scans."""
    plan = _plan(spark, sf_dir, "dq01_expectation_suite")
    assert plan.count("Scan parquet [") <= 2, plan  # orders + customer keys
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_er02_blocking_is_equi_join(spark, sf_dir):
    """ER02's candidate generation must plan as an equi-join on the
    blocking key — an all-pairs (cartesian / nested-loop) comparison is
    exactly what blocking exists to prevent."""
    plan = _plan(spark, sf_dir, "er02_fuzzy_matches")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_g49_hll_partial_final(spark, sf_dir):
    """G49's sketch build must be a partial+final HashAggregate (sketches
    are the partial state — that IS the mergeability being certified)."""
    plan = _plan(spark, sf_dir, "g49_hll_mergeable")
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan, plan


def test_skyline_is_sort_scan_not_nested_loop(spark, sf_dir):
    """o09: the dominance test must run as the single sort-scan window over
    the reduced per-supplier frame — never the oracle's O(n^2) NOT-EXISTS
    nested loop."""
    plan = _plan(spark, sf_dir, "o09_skyline")
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dq02_one_join_one_aggregate(spark, sf_dir):
    """dq02: the privacy audit must cost one customer+orders equi-join and
    one partial+final aggregate — two scans, no nested loop."""
    plan = _plan(spark, sf_dir, "dq02_k_anonymity")
    assert plan.count("Scan parquet [") <= 2, plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_j36_interval_overlap_is_equi_join(spark, sf_dir):
    """j36: the interval-overlap candidate join must plan as an equi-join
    on the week bucket — the theta join the oracle states (CartesianProduct
    / BroadcastNestedLoopJoin) is exactly what the bucketing replaces."""
    plan = _plan(spark, sf_dir, "j36_interval_overlap_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_lx_mmr_pool_is_take_ordered(spark, sf_dir):
    """lx_mmr: the relevance pool (the only corpus-scale stage; the greedy
    unroll runs over its 12-row literal) must be a TakeOrderedAndProject
    (top-k heap) — never a global sort."""
    from pydatalake_gen2_spark.queries.llm import _mmr_pool
    from pydatalake_gen2_spark.registry import ensure_views

    ensure_views(spark, sf_dir)
    df = _mmr_pool(spark)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert "TakeOrderedAndProject" in plan, plan


def test_c32_single_corpus_pass(spark, sf_dir):
    """c32: Holt smoothing must aggregate the corpus ONCE (monthly
    partial+final agg) before the per-key pandas recursion."""
    plan = _plan(spark, sf_dir, "c32_holt_linear")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "HashAggregate" in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan


def test_zorder_curve_takeordered_not_global_sort(spark, sf_dir):
    """s40's top-20 by z-value must plan as TakeOrderedAndProject (a
    per-partition top-k + driver merge), never a global range-exchange
    sort — the difference between O(k) and O(n log n) network at 100 TB."""
    plan = _plan(spark, sf_dir, "s40_zorder_curve")
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_kmeans_assignment_is_map_only_arrow(spark, sf_dir):
    """lx_kmeans' assignment stage must be MAP-ONLY — no join, no
    shuffle — with the codebook in an Arrow pandas-UDF closure (ONE
    vectorized ArrowEvalPython, never row-Python, never per-centroid
    literal trees whose codegen recompiles every Lloyd round). A whole
    Lloyd round (``kmeans.update``) is one map-only pass too: exactly 1
    job and 1 stage, 0 shuffle bytes — the per-task partial sums reach
    the driver through the collect, not an exchange."""
    from pydatalake_gen2_spark.operators import kmeans
    from pydatalake_gen2_spark.registry import ensure_views

    ensure_views(spark, sf_dir)
    pts = kmeans.quantize(spark.table("embeddings"))
    cents = [list(r["q"]) for r in pts.orderBy("vec_id").limit(8).collect()]
    assigned = kmeans.assign(pts, cents)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = assigned._jdf.queryExecution().explainString(mode)
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan
    # formatted explain mentions each node twice (tree line + details)
    assert 1 <= plan.count("ArrowEvalPython") <= 2, plan
    assert "BatchEvalPython" not in plan, plan

    sc = spark.sparkContext
    group = "test-kmeans-update"
    sc.setJobGroup(group, "one fused Lloyd round")
    try:
        kmeans.update(pts, cents, dim=64)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    stages = list(sc.statusTracker().getJobInfo(jobs[0]).stageIds)
    assert len(stages) == 1, stages
    sd = jsc.statusStore().lastStageAttempt(stages[0])
    assert sd.shuffleReadBytes() == 0 and sd.shuffleWriteBytes() == 0


def test_s44_cbo_column_stats_flip_join_to_broadcast(spark, sf_dir):
    """The stats-INFORMED planning gate behind s44 (r7 verdict #5): with
    CBO on and AQE off, a selective filter on an ANALYZEd table must
    flip the join to BroadcastHashJoin because COLUMN-STAT selectivity
    estimation shrinks its size estimate below the broadcast threshold;
    the identical query WITHOUT stats (file-size estimate only, above
    the threshold) must stay SortMergeJoin. This is the decision ANALYZE
    exists to buy at 100 TB — a 1%-selective dimension filter turning a
    petabyte-class shuffle join into a broadcast."""
    import os
    import shutil
    from urllib.parse import urlparse

    from pydatalake_gen2_spark.registry import ensure_views

    ensure_views(spark, sf_dir)
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for tbl in ("cbo_gate_orders", "cbo_gate_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)
    spark.sql("CREATE TABLE cbo_gate_orders USING parquet AS SELECT * FROM orders")
    spark.sql(
        "CREATE TABLE cbo_gate_lineitem USING parquet AS SELECT * FROM lineitem"
    )
    q = """SELECT l.l_orderkey, o.o_totalprice
           FROM cbo_gate_lineitem l
           JOIN cbo_gate_orders o ON l.l_orderkey = o.o_orderkey
           WHERE o.o_orderkey < 150"""

    def physical() -> str:
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        return spark.sql(q)._jdf.queryExecution().explainString(mode)

    saved = {
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.cbo.enabled": spark.conf.get("spark.sql.cbo.enabled"),
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        # threshold between the NO-STATS estimate of the filtered build
        # side (file size scaled by column pruning only — stats can't
        # see the filter) and the post-ANALYZE column-stat estimate
        # (~1% selectivity), so ONLY the stats path can broadcast
        no_stats_est = int(
            str(
                spark.sql(
                    "SELECT o_orderkey, o_totalprice FROM cbo_gate_orders "
                    "WHERE o_orderkey < 150"
                )
                ._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(max(no_stats_est // 2, 4096))
        )
        before = physical()
        assert "SortMergeJoin" in before and "BroadcastHashJoin" not in before, before
        spark.sql("ANALYZE TABLE cbo_gate_orders COMPUTE STATISTICS")
        spark.sql(
            "ANALYZE TABLE cbo_gate_orders COMPUTE STATISTICS "
            "FOR COLUMNS o_orderkey"
        )
        after = physical()
        assert "BroadcastHashJoin" in after, after
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        for tbl in ("cbo_gate_orders", "cbo_gate_lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)


def test_f61_outer_explode_is_generate_outer_no_join(spark, sf_dir):
    """f61/f62 must plan as a single Generate node with outer=true inside
    the scan stage — Spark's generator handles empty/NULL arrays inline;
    the LEFT-JOIN-against-unnest shape (what the DuckDB oracle states,
    and what users hand-write to fix dropped rows) would be a shuffle.
    No Join, no Exchange besides the final sort."""
    plan = _plan(spark, sf_dir, "f61_explode_outer")
    assert "Generate" in plan and "explode(toks" in plan, plan
    # the Generate node's third argument is the outer flag:
    # "Arguments: explode(toks#N), [doc_id#M], true, [tok#K]"
    assert re.search(r"explode\(toks#\d+\), \[doc_id#\d+L?\], true,", plan), plan
    assert "Join" not in plan, plan


def test_simhash_capped_default_is_equi_with_antijoin(spark, sf_dir):
    """r9: the DEFAULT simhash_neardup_pairs form is now the band-capped
    one (band_max_df=1000 — the 100 TB-safe behavior a naive caller
    gets). Its plan must still be a hash-keyed equi-join on (band, val)
    — never cartesian/BNLJ — with the hot-bucket suppression reaching
    the executor as a BROADCAST anti-join (the hot list is tiny by
    construction: it only holds buckets exceeding the cap)."""
    from pydatalake_gen2_spark.operators import dedup
    from pydatalake_gen2_spark.registry import ensure_views

    ensure_views(spark, sf_dir)
    df = dedup.simhash_neardup_pairs(spark.table("documents"), r=4)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    # the hot-bucket suppression specifically must be a BROADCAST anti-
    # join (a bare "BroadcastHashJoin in plan" would be satisfied by the
    # main equi-join and let a SortMergeJoin LeftAnti regression ship)
    import re as _re

    anti = _re.search(r"BroadcastHashJoin[^\n]*LeftAnti", plan)
    assert anti, plan


def test_dq08_cap_audit_is_join_free_partial_agg(spark, sf_dir):
    """r10: the dq08 band-cap audit must stay an O(n) scan — one
    fingerprint pipeline + one hash aggregation on (band, val) with a
    map-side partial phase — and must contain NO join of any kind: the
    whole point of the audit is that it is runnable BEFORE committing to
    the candidate join it sizes. A join appearing here means someone
    wired it through the pair generator by accident."""
    plan = _plan(spark, sf_dir, "dq08_simhash_cap_audit")
    for node in ("Join", "CartesianProduct", "BroadcastExchange"):
        assert node not in plan, plan
    # partial + final hash aggregate pair on the band keys
    assert plan.count("HashAggregate") >= 2, plan


def test_s47_row_diff_single_full_outer_join(spark, sf_dir):
    """r11: the row-level rewrite diff must be ONE co-partitioned
    full-outer join over the two snapshot scans — exactly one join node,
    no broadcast (both sides are version-sized), and the image explode
    is a Generate directly over the join output (no second shuffle
    before classification: update pre/post images are derived row-local
    from the joined row)."""
    plan = _plan(spark, sf_dir, "s47_cdf_row_diff")
    # formatted mode lists each join once in the detail section as
    # "Join type: ..." — exactly one join in the whole plan
    assert plan.count("Join type:") == 1, plan
    assert "FullOuter" in plan, plan
    assert "BroadcastExchange" not in plan, plan
    assert "Generate" in plan, plan
    assert "CartesianProduct" not in plan, plan
