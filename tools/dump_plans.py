"""Dump formatted physical plans for representative queries → PLANS.md.

Evidence artifact for the scale review: shows pushed filters, pruned read
schemas, broadcast joins, partial aggregation, and top-k operators in the
actual Catalyst output (same plans `tests/test_plans.py` gates on).

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pydatalake_gen2_spark.registry import load_all
from pydatalake_gen2_spark.session import get_spark

SHOW = [
    ("p03_filter_boolean", "filter pushdown to the parquet scan"),
    ("p01_project_rename", "column pruning (ReadSchema)"),
    ("j02_broadcast_inner", "broadcast hash join for a small dim"),
    ("j11_asof", "as-of join: one shuffle + one window pass"),
    ("jx_salted_skew_join", "salted skew join (salt in the shuffle key)"),
    ("g02_groupby_agg", "partial+final hash aggregation"),
    ("o03_limit_topk", "TakeOrderedAndProject (top-k, no total sort)"),
    ("l03_cosine_topk", "broadcast queries x streamed corpus + window top-k"),
    ("l07_tfidf", "token explode + doc-frequency join"),
    ("c02_local_supplier_volume", "5-way join pipeline (TPC-H Q5 shape)"),
    # round 2
    ("c16_nation_volume", "6-table snowflake: every dim broadcast"),
    ("c09_exists_priority", "correlated EXISTS decorrelated to left-semi"),
    ("lx_ivf_topk", "IVF ANN: cached assignment subtree + cell equi-join"),
    ("l12_deterministic_sample", "md5 sample: zero-exchange scan-side filter"),
    ("w13_gap_fill_ffill", "spine explode + bucket join + ffill window"),
    ("l11_dedup_clusters", "components round: labels x edges join + min agg"),
    # round 3
    ("lx_simhash_neardup", "banded Hamming join: band equi-join, verify-then-distinct"),
    ("lx_pq_topk", "PQ/ADC top-k: codes-only scan + LUT pandas stage"),
    ("l17_decontaminate", "decontamination: benchmark gram set broadcast"),
    ("l18_weighted_sample", "weighted sample: integer-hash scan predicate"),
    ("t08_boilerplate_chunks", "boilerplate: chunk-freq partial aggs + re-join"),
    ("l20_line_dedup", "line dedup: min(struct) keeper groupBy, no hot-key window"),
    ("l23_span_dedup", "span dedup: md5-gram keeper + row-local coverage"),
    ("l21_chunk_overlap", "chunking: row-local explode+slice, zero exchange"),
    ("l22_bm25", "BM25: bag-filtered tf shuffle, broadcast df + stats"),
    ("j16_scd2_incremental", "SCD-2 merge: broadcast batch summaries over dim"),
    ("j17_interval_overlap", "interval overlap as bin-bucketed equi-join"),
    ("j18_fuzzy_name_match", "fuzzy match: length-bucket blocking equi-join"),
    # round 4
    ("j19_dpp_partitioned_join", "dynamic partition pruning on the fact scan"),
    ("j21_nearest_event", "nearest join: one union-sort, two frames, no pairs"),
    ("lx_ivfpq_topk", "IVF-PQ: codes ride the probe join, not vectors"),
    ("lx_pq_rerank", "ADC shortlist -> exact re-rank point-joins"),
    ("l30_unigram_lm_score", "unigram LM: broadcast model onto exploded corpus"),
    ("l27_quality_classifier", "logistic quality gate: row-local expressions"),
    ("s15_schema_evolution", "mergeSchema footers-only union-by-name read"),
    # round 4, second half
    ("o06_global_row_id", "global row ids: range partition + local ranks, no Window"),
    ("j22_bucketed_join", "bucketed layout: SMJ + groupBy with zero Exchange"),
    ("g27_table_checksum", "order-independent checksum: pure partial agg"),
    ("g28_quality_audit", "single-scan multi-metric data-quality audit"),
    ("gr01_pagerank", "3 PageRank rounds: join+agg per round, no driver graph"),
    ("l32_dictionary_encode", "vocab broadcast onto exploded token stream"),
    ("j23_snapshot_diff", "CDC diff: one full-outer join, changed rows only"),
    # round 5
    ("gr02_triangle_count", "oriented triangles: three equi-joins, no nested loop"),
    ("l36_minhash_sql", "pure-SQL MinHash: band equi-join + candidate-only verify"),
    ("j25_merge_upsert", "MERGE upsert: one full-outer join + per-column coalesce"),
    ("p12_sql_pipe", "pipe syntax compiles to the classic filtered-agg plan"),
    ("s27_partition_evolution", "flat + hive-partitioned generations union read"),
    ("mm_png_decode", "binaryFile scan -> Arrow mapInPandas codec stage"),
    ("w21_linear_interpolate", "spine join + two IGNORE NULLS frame scans per key"),
    ("j26_bloom_prefiltered_join", "bloom bit probes in the scan stage + exact semi join"),
    ("g32_equiheight_histogram", "percentile fences + row-local CASE ladder, no global sort"),
    # round 6
    ("c28_recursive_cte", "WITH RECURSIVE as iterative UnionLoop frontier joins"),
    ("j27_null_safe_join", "EqualNullSafe stays on the hash-join path"),
    ("ud11_grouped_agg_pandas", "pandas UDAF: whole-group Arrow agg, pruned input"),
    ("l41_knn_label_propagation", "kNN voting: broadcast queries + partial-agg argmax"),
    ("l42_ensemble_dedup", "evidence-union edges -> one components resolution"),
    ("st21_dynamic_session_batch", "dynamic-gap session window: one shuffle groupBy"),
    ("j30_sequence_gap_detection", "islands-and-gaps: LAG over deduped id projection"),
    ("l45_outlier_filter", "MAD gate: tally medians + broadcast fences, row-local filter"),
    ("g35_bitmap_distinct", "bitmap partials in the shuffle, not raw key sets"),
    ("w24_drawdown", "running-max frame + partial agg, no self-join"),
    # round 7
    ("g38_chi_square", "contingency tallies -> O(cells) statistic, one fact scan"),
    ("g41_ks_test", "integer ECDF max-gap over the distinct-value spine"),
    ("j31_referential_integrity", "7 FK anti-joins, parents broadcast"),
    ("o07_keyset_pagination", "seek predicate pushed to scan + TakeOrdered"),
    ("l53_vocab_coverage", "top-K vocab tally broadcast onto token stream"),
    ("lx_mrl_recall", "truncated-dim leg reuses the broadcast-query shape"),
    ("gr07_link_prediction", "anti-joined wedge enumeration on the backbone"),
    ("ud13_sql_udf", "SQL UDF bodies inline into the scan projection"),
    # round 7, second half
    ("j32_geo_grid_join", "spatial candidates via cell equi-join, no cross product"),
    ("l59_incremental_neardup", "batch bands probe the corpus index only"),
    ("gr09_item_similarity", "bipartite co-occurrence tallies + row-local cosine"),
    ("ud14_secondary_sort", "repartition + sortWithinPartitions -> mapInPandas"),
    ("w28_time_weighted_avg", "one window shuffle, exact decimal weight sums"),
    ("l60_split_leakage", "train gram set joined onto held-out gram stream"),
    # round 8
    ("g45_correlation_matrix", "14 exact moments in one scan, stack() unpivot"),
    ("g44_mann_whitney", "rank-sum via distinct-value spine, no per-row ranks"),
    ("c30_market_basket", "basket distinct + broadcast dim, vocabulary-bounded pairs"),
    ("w31_cusum_changepoint", "integer CUSUM argmax over the day-reduced series"),
    ("o08_topk_with_ties", "WITH TIES: top-k micro-pass + threshold, no global sort"),
    ("s34_footer_stats_scan", "footer-only statistics: zero parquet data scans"),
    ("gr10_hits", "HITS half-steps: equi-join + integer partial aggs"),
    ("j34_temporal_dim_enrich", "SCD2 read path as the single-shuffle as-of join"),
    ("l62_hybrid_retrieval", "BM25 + cosine legs joined, 4-number extremes broadcast"),
    ("lx_rrf_fusion", "two rank legs union -> per-candidate decimal RRF sum"),
    ("l64_lsh_param_plan", "pair spine x broadcast configs, decimal s-curve sums"),
    ("mm_phash_neardup", "pHash mapInPandas -> banded Hamming candidate join"),
    # round 9
    ("er02_fuzzy_matches", "ER blocking equi-join + codegen levenshtein verify"),
    ("er04_golden_record", "survivorship: one partial-agg groupBy, arg-min/max keys"),
    ("dq01_expectation_suite", "7 constraints, one scan + broadcast FK join"),
    ("g48_kaplan_meier", "two partial-agg reduces + window over distinct durations"),
    ("g49_hll_mergeable", "HLL sketch partials as aggregate state"),
    ("s38_incremental_agg_refresh", "IVM: delta agg full-outer merged into rollup"),
    ("lx_sq8_recall", "int8-quantized leg vs float leg, same broadcast topk shape"),
    # round 10
    ("o09_skyline", "sort-scan skyline: one window over the per-supplier frame"),
    ("dq02_k_anonymity", "k-anonymity audit: join + one partial+final aggregate"),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    reg = load_all()
    spark = get_spark("plans")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    out = [
        "# PLANS — formatted physical plans (generated by tools/dump_plans.py)",
        "",
        f"Scale factor dir: `{sf_dir}`. These are the plans the gates in",
        "`tests/test_plans.py` assert on; regenerate after planner-visible",
        "changes.",
        "",
    ]
    for name, why in SHOW:
        df = reg[name].spark_fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(mode)
        out += [f"## {name} — {why}", "", "```", plan.rstrip(), "```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOW)} plans)")


if __name__ == "__main__":
    main()
