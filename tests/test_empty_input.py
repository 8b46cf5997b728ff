"""Empty-input robustness (r10 review-pass sweep).

At 100 TB an "empty input" is not exotic: a date/source filter that
matches nothing, a new partition before first ingest, a replay from a
zero-row CDC batch. The r10 sweep ran every oracle-backed query
against empty copies of all ten tables and found three crash classes
the sf0.01 harness structurally cannot see:

1. ANSI aborts on degenerate arithmetic — DIVIDE_BY_ZERO (Spark 4
   throws even for double 0/0) and negative slice lengths;
2. unguarded 1-row driver readbacks — ``collect()[0][...]`` values
   that are NULL/absent on empty input (``int(None)``,
   ``None <= 0.05``, ``float(None)``, ``row[0]`` IndexError);
3. engine semantic deviations — Spark returns 0 rows for
   rollup/cube/grouping-sets over empty input where the SQL standard
   (and DuckDB) emit the grand-total row.

Classes 1–2 are fixed (try_divide, seed-guard filter, None guards, a
loud ValueError for the vector-dim probe); this test pins each fix by
replaying the query on empty tables against its DuckDB oracle.
Class 3 is pinned as a DOCUMENTED deviation (0 rows, no error).
Lakehouse lineage queries read the versions their DMLs RETURNED under
canonical labels (a no-op DML commits nothing — documented — so raw
version numbers shift on degenerate data while the no-op's oracle
replay is the identity). MLlib fits require data by contract and keep
their loud errors.
"""

from __future__ import annotations

import pytest

from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.plans.queries import (
    ORACLE,
    QUERIES,
)

from .oracle_harness import compare

# queries whose empty-input crash was fixed in r10 and whose oracle
# replays the same degenerate semantics (NULL rates, 0 counts, 0 rows)
FIXED_ORACLE_KEYS = [
    "funnel_conversion",         # try_divide: NULL rate, not ANSI abort
    "join_size_audit",           # try_divide on double 0/0
    "holt_linear_revenue",       # needs >= 2 days: both engines 0 rows
    "data_quality_expectations", # NULL conditional counts -> 0 violations
    "embedding_quantization",    # min-cosine readback None-guarded
    "hll_user_rollup",           # 5%-bound readback None-guarded
    "theta_segment_overlap",     # 5%-bound readback None-guarded
    "bpe_tokenized_stats",       # n_words count vs sum: oracle coalesced
    "lakehouse_update_dml",      # NULL balance-sum readback
    # lineage queries: read the versions the DMLs RETURNED under
    # canonical labels (no-op DML commits nothing)
    "lakehouse_time_travel",
    "lakehouse_table_changes",
    "lakehouse_deletion_vectors",
    "lakehouse_restore_lineage",
]

# Spark returns 0 rows for rollup/cube/grouping-sets over empty input;
# the SQL standard emits the grand-total row. Engine semantic, not a
# query bug — pinned here so a Spark behavior change surfaces loudly.
ROLLUP_EMPTY_DEVIATION = [
    "rollup_returnflag",
    "cube_status_priority",
    "hypertable_rollup",
]

# operators that genuinely need at least one row (vector-dim probe);
# the r10 fix turned an IndexError deep in plan build into a loud,
# documented contract error
REQUIRES_DATA = [
    "similarity_hyperplane_lsh",
    "similarity_pq_codes",
    "similarity_pq_adc_topk",
]


@pytest.fixture(scope="session")
def empty_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.schemas import (
        TABLE_NAMES,
    )

    d = tmp_path_factory.mktemp("sf_empty")
    for t in TABLE_NAMES:
        sch = pq.read_schema(f"/root/testdata/sf0.001/{t}.parquet")
        pq.write_table(
            pa.table({f.name: pa.array([], type=f.type) for f in sch}),
            str(d / f"{t}.parquet"),
        )
    return str(d)


@pytest.mark.parametrize("name", FIXED_ORACLE_KEYS)
def test_fixed_queries_match_oracle_on_empty_input(spark, name, empty_dir):
    result = compare(spark, QUERIES[name], ORACLE[name], empty_dir)
    assert result["count_match"], f"{name}: row count {result}"
    assert result["value_match"], f"{name}: values {result}"


@pytest.mark.parametrize("name", ROLLUP_EMPTY_DEVIATION)
def test_rollup_empty_is_zero_rows_no_error(spark, name, empty_dir):
    rows = QUERIES[name](spark, empty_dir).collect()
    assert rows == [], (
        f"{name}: Spark's rollup/cube-over-empty semantics changed "
        f"(expected 0 rows, the documented deviation): {rows[:3]}"
    )


@pytest.mark.parametrize("name", REQUIRES_DATA)
def test_vector_operators_fail_loudly_on_empty_input(spark, name, empty_dir):
    with pytest.raises(ValueError, match="cannot infer vector dimension"):
        QUERIES[name](spark, empty_dir).collect()


def test_first_dim_skips_null_vectors(spark):
    """A corpus holding SOME null vectors must not trip the
    no-non-null-vector guard just because the probe row sampled by
    limit(1) happened to be NULL (ADVICE r10): the probe filters to
    non-null vectors first, and only a genuinely all-null column
    raises."""
    from pyspark.sql import Row

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators.similarity import (
        _first_dim,
    )

    mixed = spark.createDataFrame(
        [Row(vec_id=1, e=None), Row(vec_id=2, e=[1.0, 2.0, 3.0])],
        "vec_id long, e array<double>",
    )
    # coalesce(1) + the null row first: without the isNotNull filter
    # the limit(1) probe deterministically lands on the null
    assert _first_dim(mixed.orderBy("vec_id").coalesce(1), "e") == 3

    all_null = spark.createDataFrame(
        [Row(vec_id=1, e=None)], "vec_id long, e array<double>"
    )
    with pytest.raises(ValueError, match="cannot infer vector dimension"):
        _first_dim(all_null, "e")


# --- single-row inputs: the OTHER degenerate surface -------------------
# n=1 / constant-series inputs zero the DENOMINATOR of variance, rank
# spread, class totals, and Rayleigh quotients — a different crash
# surface than empty input (the aggregate row EXISTS, its spread is 0).
# Fixed r10 with try_divide / CASE / greatest-0 clamps; DuckDB's x/0 is
# already NULL, so the twins stay value-equal on the degenerate input.
FIXED_SINGLE_ROW_KEYS = [
    "ab_sample_size",            # var /(n-1), need /(0.05*mean)^2
    "mann_kendall_trend",        # var18 = 0 at n=1
    "markov_removal_attribution",# p_base = 0
    "mutual_info_priority_status",  # least(r,c)-1 = 0
    "psi_price_drift",           # empty-period window total
    "seasonality_strength_dow",  # var_series = 0
    "spearman_freq_monetary",    # zero rank spread
    "spend_decile_lift",         # zero overall open rate
    "woe_iv_price_urgent",       # all-good/all-bad class total
    "xcorr_click_purchase",      # zero variance
    "embedding_pca_power_share", # Rayleigh xx = 0 (all-zero cov)
    "embedding_pca_label_top_eig",  # same, in the grouped-map twin
    "incremental_rollup_maintenance",  # sqrt(rounding-negative var)
    # lakehouse lineages: no-op DML commits nothing, shifting raw
    # version numbers -- queries now read the versions the DMLs
    # RETURNED under canonical labels (a no-op's oracle replay is the
    # identity, so the grids stay equal)
    "lakehouse_time_travel",
    "lakehouse_table_changes",
    "lakehouse_deletion_vectors",
    "lakehouse_update_dml",
    "lakehouse_restore_lineage",
]


@pytest.fixture(scope="session")
def single_row_dir(tmp_path_factory):
    import pyarrow.parquet as pq

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.schemas import (
        TABLE_NAMES,
    )

    d = tmp_path_factory.mktemp("sf_one")
    for t in TABLE_NAMES:
        pq.write_table(
            pq.read_table(f"/root/testdata/sf0.001/{t}.parquet").slice(0, 1),
            str(d / f"{t}.parquet"),
        )
    return str(d)


@pytest.mark.parametrize("name", FIXED_SINGLE_ROW_KEYS)
def test_fixed_queries_match_oracle_on_single_row_input(
    spark, name, single_row_dir
):
    result = compare(spark, QUERIES[name], ORACLE[name], single_row_dir)
    assert result["count_match"], f"{name}: row count {result}"
    assert result["value_match"], f"{name}: values {result}"


# --- constant inputs: 50 IDENTICAL rows (r11) ---------------------------
# Zero variance with n>1 — a different denominator class than single
# (n=1): var/(n-1) divides 0 by 49, window stddev is exactly 0 at full
# count, and regression Sxx is 0 with a populated group. Found by the
# degenerate sweep's new `constant` profile; at 100 TB this is any
# constant-valued group (one-day partitions, single-value event types)
# aborting the whole job under ANSI.
FIXED_CONSTANT_KEYS = [
    "zscore_value_by_type",          # window stddev = 0 -> try_divide
    "regression_trend_by_priority",  # var(x) = 0 -> moment math + try_divide
    "bloom_membership_audit",        # oracle aligned to per-VALUE probes
]


@pytest.fixture(scope="session")
def constant_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.schemas import (
        TABLE_NAMES,
    )

    d = tmp_path_factory.mktemp("sf_constant")
    for t in TABLE_NAMES:
        one = pq.read_table(f"/root/testdata/sf0.001/{t}.parquet").slice(0, 1)
        pq.write_table(pa.concat_tables([one] * 50), str(d / f"{t}.parquet"))
    return str(d)


@pytest.mark.parametrize("name", FIXED_CONSTANT_KEYS)
def test_fixed_queries_match_oracle_on_constant_input(
    spark, name, constant_dir
):
    result = compare(spark, QUERIES[name], ORACLE[name], constant_dir)
    assert result["count_match"], f"{name}: row count {result}"
    assert result["value_match"], f"{name}: values {result}"


# --- nullrow inputs: one real row + one all-null-measures row (r11) ----
# NULL measures/text/timestamps/vectors are ubiquitous at 100 TB and
# absent from the pristine fixture. The sweep's nullrow profile found
# 35 divergences: 6 DuckDB-side list_inner_product crashes (null
# vectors), 3 MLlib fit crashes (null text), and ~26 null-semantics
# divergences (NULLS FIRST/LAST rank positions, null group keys
# vanishing at inner joins, concat_ws-vs-|| null propagation, CASE
# ELSE vs NULL grouping). Every affected query now states its null
# contract EXPLICITLY (filter or coalesce) on BOTH engines; this
# replays a representative subset per divergence class.
FIXED_NULLROW_KEYS = [
    "dedup_embedding_cosine",        # duck list_inner_product crash
    "kmeans_clusters",               # shared-CTE null-vector contract
    "similarity_pq_codes",           # _first_dim unmasked family
    "ml_tfidf_features",             # MLlib fit crash on null text
    "codec_roundtrip_suite",         # NULL input is vacuous, not red
    "psi_price_drift",               # NULL is_ref grouping divergence
    "woe_iv_price_urgent",           # CASE-ELSE-0 vs NULL g
    "customer_spend_gini",           # rank-position sign flip
    "histogram_totalprice",          # hi=lo CASE bucketed NULLs
    "hll_user_rollup",               # NULL key lost at inner join
    "sentiment_vader_full",          # doc vanished in oracle only
    "argmax_aggregates_by_priority", # concat_ws vs '||' sort keys
    "pareto_frontier_parts",         # vacuous NOT EXISTS frontier row
    "observe_scan_metrics",          # groupBy-null vs COUNT DISTINCT
    "modern_aggregates_by_type",     # approx_top_k drops null group
]


@pytest.fixture(scope="session")
def nullrow_dir(tmp_path_factory):
    import sys

    sys.path.insert(0, "/root/repo/scripts")
    from degenerate_sweep import make_tables

    return make_tables("nullrow")


@pytest.mark.parametrize("name", FIXED_NULLROW_KEYS)
def test_fixed_queries_match_oracle_on_nullrow_input(
    spark, name, nullrow_dir
):
    result = compare(spark, QUERIES[name], ORACLE[name], nullrow_dir)
    assert result["count_match"], f"{name}: row count {result}"
    assert result["value_match"], f"{name}: values {result}"


@pytest.fixture(scope="session")
def blank_docs_dir(tmp_path_factory):
    """sf0.001 with documents REPLACED by a corpus holding an
    empty-text doc, a whitespace-only doc and a NULL-text doc among
    real ones — the r13 ADVICE divergence class: DuckDB's
    string_split_regex('') yields [''], so such docs passed the
    shingle CTE's len(t) > 0 gate and got an '' shingle while the
    engine's shingle() drops them before LSH."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.schemas import (
        TABLE_NAMES,
    )

    d = tmp_path_factory.mktemp("sf_blank_docs")
    for t in TABLE_NAMES:
        if t != "documents":
            shutil.copy(f"/root/testdata/sf0.001/{t}.parquet",
                        str(d / f"{t}.parquet"))
    real = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    texts = real.column("text").to_pylist()[:6]
    rows = {
        "doc_id": list(range(1, 11)),
        "text": texts + ["", "   ", "\t\n ", None],
        "lang": ["en"] * 10,
        "source": ["web"] * 10,
        "n_chars": [len(t) if t else 0 for t in texts] + [0, 3, 3, 0],
    }
    sch = pq.read_schema("/root/testdata/sf0.001/documents.parquet")
    sch = pa.schema([sch.field(i) for i in range(len(sch.names))])
    pq.write_table(
        pa.table({n: pa.array(rows[n], type=sch.field(n).type)
                  for n in sch.names}),
        str(d / "documents.parquet"),
    )
    return str(d)


@pytest.mark.parametrize("name", [
    "dedup_minhash_lsh",
    "dedup_minhash_native",
])
def test_minhash_twins_drop_blank_docs_like_the_engine(
    spark, name, blank_docs_dir
):
    """r14 (ADVICE r13): empty/whitespace-only/NULL-text docs must be
    dropped IDENTICALLY by the engine (shingle() maps them to zero
    shingles) and the DuckDB twins (t <> [''] in the shingle CTE) —
    before this fix the oracle kept an '' shingle for them and the
    hash diverged on any corpus holding a blank doc."""
    result = compare(spark, QUERIES[name], ORACLE[name], blank_docs_dir)
    assert result["count_match"], f"{name}: row count {result}"
    assert result["value_match"], f"{name}: values {result}"
