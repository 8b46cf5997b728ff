"""Differential fuzzing of the Spark↔DuckDB portability conventions.

The oracle gate rests on conventions (decimal-accumulated float sums,
rounding, null semantics in joins/groups, window tie-breaks). The
fixed testdata exercises them on one distribution; here hypothesis
feeds adversarial small tables (nulls, empty groups, negative values,
duplicate keys) through BOTH engines and requires bit-equal results.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

# 8 examples keeps the suite fast; deep hunts opt in with
# FUZZ_MAX_EXAMPLES=100+ (used for the per-round extended fuzz pass)
_SETTINGS = dict(
    max_examples=int(os.environ.get("FUZZ_MAX_EXAMPLES", "8")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# money-like floats: exactly representable at 2 decimals
money = st.integers(min_value=-10**6, max_value=10**6).map(lambda i: i / 100)
rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),                 # key
        st.one_of(st.none(), st.sampled_from(list("abcde"))),  # tag
        st.one_of(st.none(), money),                           # value
    ),
    min_size=1,
    max_size=40,
)


def _materialize(spark, tmp_path_factory, rows):
    path = str(tmp_path_factory.mktemp("fuzz") / "t.parquet")
    df = spark.createDataFrame(rows, "k int, tag string, v double")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}/*.parquet')")
    return spark.read.parquet(path), con


def _cmp(sdf, con, sql):
    s_cols = sorted(sdf.columns)
    s_rows = sorted(
        [tuple(str(x) for x in r) for r in sdf.select(*s_cols).collect()]
    )
    cur = con.execute(sql)
    d_cols = [d[0] for d in cur.description]
    idx = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
    d_rows = sorted([tuple(str(r[i]) for i in idx) for r in cur.fetchall()])
    assert sorted(d_cols) == s_cols
    assert s_rows == d_rows, (s_rows[:5], d_rows[:5])


@given(rows=rows_strategy)
@settings(**_SETTINGS)
def test_fuzz_groupby_decimal_sum(spark, tmp_path_factory, rows):
    sdf, con = _materialize(spark, tmp_path_factory, rows)
    out = sdf.groupBy("k").agg(
        F.count("*").alias("cnt"),
        F.count("v").alias("cnt_v"),
        F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("sum_v"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
    _cmp(
        out,
        con,
        """
        SELECT k, count(*) AS cnt, count(v) AS cnt_v,
               CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
               min(v) AS min_v, max(v) AS max_v
        FROM t GROUP BY 1
        """,
    )
    con.close()


@given(rows=rows_strategy)
@settings(**_SETTINGS)
def test_fuzz_left_join_impute(spark, tmp_path_factory, rows):
    sdf, con = _materialize(spark, tmp_path_factory, rows)
    dim = (
        sdf.filter(F.col("tag").isNotNull())
        .select("k", F.lit(1).alias("flag"))
        .dropDuplicates()
    )
    out = (
        sdf.join(F.broadcast(dim), "k", "left")
        .withColumn("flag", F.coalesce("flag", F.lit(0)))
        .groupBy("flag")
        .agg(F.count("*").alias("cnt"))
    )
    _cmp(
        out,
        con,
        """
        SELECT coalesce(d.flag, 0) AS flag, count(*) AS cnt
        FROM t LEFT JOIN (SELECT DISTINCT k, 1 AS flag FROM t
                          WHERE tag IS NOT NULL) d USING (k)
        GROUP BY 1
        """,
    )
    con.close()


text_strategy = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=50
    ),
    min_size=1,
    max_size=20,
)


@given(texts=text_strategy)
@settings(**_SETTINGS)
def test_fuzz_text_cleaning_conventions(spark, tmp_path_factory, texts):
    """normalize/tokenize/token-count conventions hold for arbitrary
    printable-ASCII text in both engines (the exact convention the
    documents-table oracles rely on)."""
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators import (
        clean,
        textstats,
    )
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.plans.queries import (
        _PUNCT_SQL,
    )

    rows = list(enumerate(texts))
    path = str(tmp_path_factory.mktemp("fuzztext") / "d.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    sdf = spark.read.parquet(path)
    out = sdf.select(
        "doc_id",
        clean.normalize_text("text").alias("clean_text"),
        textstats.token_count_ws("text").cast("long").alias("n_tokens"),
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW d AS SELECT * FROM read_parquet('{path}/*.parquet')")
    _cmp(
        out,
        con,
        f"""
        SELECT doc_id,
               ltrim(trim(regexp_replace(regexp_replace(text, '{_PUNCT_SQL}', ' ', 'g'),
                                         '\\s+', ' ', 'g'))) AS clean_text,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
        FROM d
        """,
    )
    con.close()


@given(rows=rows_strategy)
@settings(**_SETTINGS)
def test_fuzz_window_topk(spark, tmp_path_factory, rows):
    sdf, con = _materialize(spark, tmp_path_factory, rows)
    # total order tie-break: (v desc nulls last, tag asc nulls first) is
    # not total across duplicate rows — make it total with a row id
    sdf = sdf.withColumn("rid", F.monotonically_increasing_id())
    # rid differs across engines; use it only to make sampling stable
    w = Window.partitionBy("k").orderBy(
        F.col("v").desc_nulls_last(), F.col("tag").asc_nulls_first()
    )
    out = (
        sdf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("k")
        .agg(F.count("*").alias("kept"), F.max("v").alias("top_v"))
    )
    _cmp(
        out,
        con,
        """
        SELECT k, count(*) AS kept, max(v) AS top_v FROM (
          SELECT k, v,
                 row_number() OVER (PARTITION BY k
                                    ORDER BY v DESC NULLS LAST,
                                             tag ASC NULLS FIRST) AS rn
          FROM t
        ) WHERE rn <= 2 GROUP BY 1
        """,
    )
    con.close()


@settings(**_SETTINGS)
@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-1000, max_value=1000).map(
                lambda i: i / 100
            ),
            min_size=3,
            max_size=3,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_fuzz_quantization_codes_vs_numpy(spark, tmp_path_factory, vecs):
    """int8 codes must equal a numpy replay of floor(v*127/absmax+0.5)
    on adversarial vectors (zeros, negatives, shared absmax)."""
    import math

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators import (
        similarity,
    )

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: list(r["codes"])
        for r in similarity.quantize_embeddings(
            emb, id_col="vec_id", vec_col="embedding"
        ).collect()
    }
    # numpy-free python replay in float64 (matches the operator's
    # explicit double casts)
    import struct

    f32 = lambda x: struct.unpack("f", struct.pack("f", x))[0]  # noqa: E731
    n_dims = 3
    absmax = [
        max(abs(f32(v[d])) for v in vecs) for d in range(n_dims)
    ]
    for i, v in enumerate(vecs):
        expect = [
            0
            if absmax[d] == 0
            else math.floor(f32(v[d]) * 127 / absmax[d] + 0.5)
            for d in range(n_dims)
        ]
        assert got[i] == expect, (i, got[i], expect)


# try_* portability: integral-form strings only. Probed divergences,
# deliberately EXCLUDED from the strategy and documented here: DuckDB
# try_cast('1e3' AS BIGINT) = 1000 and try_cast('3.9' AS BIGINT) = 4
# (parses through numeric with rounding) where Spark returns NULL
# (bigint cast demands integral form) — same convention class as the
# initcap exclusion in the string suite.
try_strings = st.one_of(
    st.none(),
    # suffix alphabet excludes 'e': '0e0' is scientific notation to
    # DuckDB (-> 0) but junk to Spark's bigint cast (-> NULL)
    st.from_regex(r"\A *[+-]?[0-9]{1,19}[a-df-z]{0,2} *\Z"),
    st.just(""),
    st.just("9223372036854775807"),
    st.just("9223372036854775808"),  # BIGINT_MAX + 1 -> NULL both
)


@given(
    rows=st.lists(
        st.tuples(
            try_strings,
            st.integers(min_value=-(10**18), max_value=10**18),
            st.integers(min_value=-3, max_value=3),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_fuzz_try_functions(spark, tmp_path_factory, rows):
    """try_cast / try_add overflow / try_divide zero-denominator agree
    bit-for-bit across engines on the portable input domain."""
    path = str(tmp_path_factory.mktemp("fuzztry") / "t.parquet")
    df = spark.createDataFrame(rows, "s string, a long, d int")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    sdf = spark.read.parquet(path).selectExpr(
        "coalesce(cast(try_cast(s as bigint) as string), 'Ø') c1",
        "coalesce(cast(try_add(a, 9223372036854775000L) as string), 'Ø') c2",
        # + 0.0 normalizes IEEE signed zero: Spark round(-0.0, 6)
        # renders '0.0' while DuckDB renders '-0.0' (-0.0 + 0.0 == +0.0
        # in both engines; NULL propagates). See docs/QUERIES.md.
        "coalesce(cast(round(try_divide(cast(a % 97 as double), "
        "cast(d as double)), 6) + 0.0 as string), 'Ø') c3",
    )
    _cmp(
        sdf,
        con,
        """
        SELECT coalesce(CAST(try_cast(s AS BIGINT) AS VARCHAR), 'Ø') AS c1,
               coalesce(CAST(CASE
                   WHEN a > 807 THEN NULL
                   ELSE a + 9223372036854775000 END AS VARCHAR), 'Ø') AS c2,
               coalesce(CAST(round(CAST(a % 97 AS DOUBLE)
                                   / CAST(d AS DOUBLE), 6) + 0.0
                             AS VARCHAR), 'Ø') AS c3
        FROM t
        """,
    )


@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=10**9),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
@settings(**_SETTINGS)
def test_fuzz_hex_hash_parse_and_fingerprint(spark, tmp_path_factory, ids):
    """The 60-bit md5-prefix → integer convention (table fingerprints,
    shard shuffle keys): Spark conv(·,16,10) and DuckDB '0x'-cast must
    agree on every id, and so must the commutative decimal sum."""
    path = str(tmp_path_factory.mktemp("fuzzhex") / "t.parquet")
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    sdf = spark.read.parquet(path).selectExpr(
        "cast(conv(substring(md5(cast(id as string)), 1, 15), 16, 10) "
        "as string) h",
        "cast(sum(cast(conv(substring(md5(cast(id as string)), 1, 15), "
        "16, 10) as decimal(38,0))) over () as string) fp",
    )
    _cmp(
        sdf,
        con,
        """
        SELECT CAST(CAST('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS VARCHAR) AS h,
               CAST(sum(CAST('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 15)
                    AS BIGINT)) OVER () AS VARCHAR) AS fp
        FROM t
        """,
    )


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),   # id
            st.integers(min_value=1, max_value=10**6),   # weight
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda r: r[0],
    )
)
@settings(**_SETTINGS)
def test_fuzz_weighted_sample_ranking_key(spark, tmp_path_factory, rows):
    """The Efraimidis–Spirakis ranking convention (md5-derived uniform,
    ln(u)/w rounded to 9): both engines must produce the identical
    top-3 per corpus — i.e. the full ordering agrees wherever it
    matters."""
    path = str(tmp_path_factory.mktemp("fuzzes") / "t.parquet")
    df = spark.createDataFrame(rows, "id long, w long")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    sdf = (
        spark.read.parquet(path)
        .selectExpr(
            "id",
            "round(ln((cast(conv(substring(md5(cast(id as string)), 1, 8), "
            "16, 10) as double) + 0.5) / 4294967296.0) "
            "/ cast(w as double), 9) es_key",
        )
        .selectExpr(
            "id",
            "row_number() over (order by es_key desc, id) rn",
        )
        .filter("rn <= 3")
    )
    _cmp(
        sdf,
        con,
        """
        WITH keyed AS (
          SELECT id,
                 round(ln((CAST('0x' || substring(md5(CAST(id AS VARCHAR)),
                                        1, 8) AS BIGINT) + 0.5)
                          / 4294967296.0) / CAST(w AS DOUBLE), 9) AS es_key
          FROM t
        )
        SELECT id, rn FROM (
          SELECT id,
                 row_number() OVER (ORDER BY es_key DESC, id) AS rn
          FROM keyed
        ) WHERE rn <= 3
        """,
    )


@given(
    n=st.integers(min_value=1, max_value=200),
    k=st.integers(min_value=1, max_value=12),
)
@settings(**_SETTINGS)
def test_fuzz_ntile_closed_form_matches_native(spark, tmp_path_factory, n, k):
    """The integer ntile closed form (plans/queries._ntile_expr, the
    rfm_segments bucketing) must agree with DuckDB's NATIVE ntile(k)
    on every (n, k) — including k > n, n % k == 0, and the
    extra-row-to-first-groups boundary."""
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.plans.queries import (
        _ntile_expr,
    )

    path = str(tmp_path_factory.mktemp("fuzzntile") / "t.parquet")
    spark.range(1, n + 1).toDF("rn").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    sdf = (
        spark.read.parquet(path)
        .withColumn("n", F.lit(n).cast("long"))
        .selectExpr("rn", f"CAST({_ntile_expr('rn', 'n', k)} AS INT) AS nt")
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}/*.parquet')")
    _cmp(
        sdf,
        con,
        f"""
        SELECT rn, CAST(ntile({k}) OVER (ORDER BY rn) AS INT) AS nt
        FROM t
        """,
    )


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),    # key
            st.integers(min_value=-50, max_value=50), # start
            st.integers(min_value=0, max_value=25),   # duration >= 0
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_fuzz_interval_merge_blocks(spark, tmp_path_factory, rows):
    """Gaps-and-islands over RANGES (the interval_merge_activity /
    interval_merge_blocks_batch shape) is tie-safe for nonnegative
    durations: among equal starts only the traversal-first row can
    open a block and every peer lands in the same block regardless of
    peer order, so both engines must produce identical merged blocks
    on adversarial data (duplicate starts, zero-length and nested
    intervals)."""
    path = str(tmp_path_factory.mktemp("fuzzimerge") / "t.parquet")
    df = spark.createDataFrame(
        [(k, s, s + d) for k, s, d in rows], "k int, s long, e long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.streaming.stateful import (
        interval_merge_blocks_batch,
    )

    sdf = interval_merge_blocks_batch(
        spark.read.parquet(path), key_col="k", start_col="s", end_col="e"
    ).select("k", "block_start", "block_end")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    _cmp(
        sdf,
        con,
        """
        WITH flagged AS (
          SELECT k, s, e,
                 CASE WHEN max(e) OVER (PARTITION BY k ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                          IS NULL THEN 1
                      WHEN s > max(e) OVER (PARTITION BY k ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                          THEN 1 ELSE 0 END AS nb
          FROM t
        ), blocks AS (
          SELECT k, s, e,
                 sum(nb) OVER (PARTITION BY k ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS bid
          FROM flagged
        )
        SELECT k, min(s) AS block_start, max(e) AS block_end
        FROM blocks GROUP BY k, bid
        """,
    )


# --- r11: the integer-exact hash-sampler keep rule ----------------------


@given(
    u=st.integers(min_value=0, max_value=2**32 - 1),
    tt=st.integers(min_value=0, max_value=10**15),
    n=st.integers(min_value=1, max_value=10**15),
)
@settings(max_examples=300, deadline=None)
def test_integer_exact_keep_rule_equals_rational_comparison(u, tt, n):
    """q_mixture_sample_docs' r11 keep rule —
        keep iff tt >= n OR u*n < tt*2^32
    — must equal the ORIGINAL float-free semantics u/2^32 < min(1,
    tt/n) evaluated in exact rational arithmetic, for any md5 prefix
    u in [0, 2^32), token target tt and source token count n up to
    100 TB magnitudes. This is the claim that lets the Spark twin and
    the DuckDB twin (DECIMAL(38,0)/HUGEINT cross-multiplication)
    decide every row identically on any engine version: the rule
    contains no division to type-drift."""
    from fractions import Fraction

    integer_rule = tt >= n or u * n < tt * (2**32)
    rational_rule = Fraction(u, 2**32) < min(
        Fraction(1), Fraction(tt, n)
    )
    assert integer_rule == rational_rule
