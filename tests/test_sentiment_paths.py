"""Sentiment scoring: the map-literal compound formula and vader_score's
NULL-text handling."""

from __future__ import annotations

import math

from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.functions.text import (
    sentiment_compound,
    tokenize_ws,
    vader_score,
)


def test_vader_formula(spark):
    # single 'great' (+3.1): compound = 3.1/sqrt(3.1^2+15)
    df = spark.createDataFrame([(1, "great")], "doc_id long, text string")
    out = df.select(sentiment_compound(tokenize_ws("text")).alias("c"))
    assert math.isclose(
        out.collect()[0]["c"], 3.1 / math.sqrt(3.1**2 + 15), rel_tol=1e-9
    )


def test_null_text_scores_zero_not_dropped(spark):
    """NULL text must not vanish from vader_score's output (posexplode
    of a null array emits no rows); it scores 0.0."""
    df = spark.createDataFrame(
        [(1, "good great"), (2, None)], "doc_id long, text string"
    )
    v = {r["doc_id"]: r["compound"] for r in vader_score(df).collect()}
    assert set(v) == {1, 2}, "null-text doc must not vanish"
    assert v[2] == 0.0
