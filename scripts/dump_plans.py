"""Regenerate docs/PLANS.md: formatted physical plans for the headline
queries, with the scale-relevant properties annotated. Run:
    python scripts/dump_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.plans.queries import (
    QUERIES,
)
from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.session import (
    get_spark,
)

SHOWCASE = [
    "topk_part_type_tokens",
    "pricing_summary",
    "join_multi_hop",
    "tfidf_native_top_terms",
    "dedup_minhash_native",
    "sessionize_events",
    "duplicate_spans",
    "asof_last_purchase",
    "sentiment_vader_full",
    "maximal_duplicate_spans",
    "range_join_click_context",
    "hypertable_rollup",
    "exists_late_shipping",
    "nation_pair_volume",
    "small_quantity_revenue",
    "idle_rich_customers",
    "pack_sequences",
    "contamination_check",
    # round-4 additions
    "forecast_revenue_change",
    "product_profit_by_nation",
    "redacted_documents",
    "mixture_sample_docs",
    "duplicate_span_removal",
    "embedding_quantization",
    "similarity_hyperplane_lsh",
    "cheapest_supplier_per_part",
    "cohort_retention",
    "gapfill_locf_hourly",
    "triangle_count_copurchase",
    "theta_segment_overlap",
    "window_function_suite",
    "keyword_search_postings",
    "association_rules_brands",
    # round-4 continuation additions
    "priority_class_by_status",
    "supplier_count_by_part_attrs",
    "excess_inventory_suppliers",
    "variant_props_stats",
    "lateral_top_orders",
    "distinct_users_skewsafe",
    "session_window_native",
    "argmax_aggregates_by_priority",
    "keyword_search_bm25",
    "recursive_month_series",
    # round-4 second-continuation additions
    "scd2_customer_dim",
    "snapshot_diff_customer",
    "incremental_rollup_maintenance",
    "regression_trend_by_priority",
    "weighted_sample_per_source",
    "peak_concurrency_by_type",
    "table_fingerprint_orders",
    "shard_shuffle_plan",
    "kmeans_silhouette",
    # round-7 third-continuation additions
    "pareto_frontier_parts",
    "ewma_daily_revenue",
    "phrase_search_bigram",
    "customer_spend_gini",
    "spend_decile_lift",
    "scd2_pointintime_join",
    "knn_label_vote",
    "markov_transitions_events",
    "char_entropy_docs",
    "equidepth_histogram_lineitem",
]

CHECKS = [
    ("PushedFilters", "predicate pushdown into parquet scan"),
    ("ReadSchema", "column pruning"),
    ("BroadcastHashJoin", "broadcast join (no fact shuffle)"),
    ("TakeOrderedAndProject", "top-k without global sort"),
    ("partial_", "map-side partial aggregation"),
    ("WholeStageCodegen", "whole-stage codegen"),
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="dump_plans")
    out = ["# PLANS — physical-plan evidence for headline queries", ""]
    out.append(
        f"Generated by `scripts/dump_plans.py` against `{sf_dir}`. The\n"
        "properties annotated per plan are the ones that decide 100 TB\n"
        "behavior: pushdown, pruning, broadcasts, partial aggregation,\n"
        "top-k physical operators, codegen coverage."
    )
    for name in SHOWCASE:
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        found = [note for key, note in CHECKS if key in plan]
        out.append(f"\n## {name}\n")
        out.append("Plan properties: " + "; ".join(found) + ".")
        out.append("\n```\n" + plan.strip()[:6000] + "\n```")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print("wrote docs/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
