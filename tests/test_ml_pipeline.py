"""ML pipeline tests: deterministic seeds, tiny hand-checked inputs,
F1-threshold integration (the reference's de-facto test strategy,
SURVEY.md §5), and PipelineModel save/load round-trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.ml.pipeline import (
    build_sentiment_pipeline,
    evaluate_f1,
    train_and_evaluate,
)


def _labeled_reviews(spark, n_per_class: int = 60):
    pos_words = ["great", "amazing", "delicious", "wonderful", "friendly"]
    neg_words = ["terrible", "awful", "rude", "disgusting", "slow"]
    rows = []
    for i in range(n_per_class):
        rows.append((f"really {pos_words[i % 5]} food {pos_words[(i+1) % 5]} service", 1.0))
        rows.append((f"really {neg_words[i % 5]} food {neg_words[(i+1) % 5]} service", 0.0))
    return spark.createDataFrame(rows, "text string, label double")


@pytest.mark.parametrize("model", ["svm", "logreg", "nb"])
def test_train_eval_f1_threshold(spark, model):
    """Separable corpus → F1 near 1.0 for all three classifiers
    (mirrors the reference's evaluator usage with seed=100)."""
    df = _labeled_reviews(spark)
    fitted, f1 = train_and_evaluate(df, model)
    assert f1 > 0.9, f"{model} f1={f1}"


def test_pipeline_save_load_roundtrip(spark, tmp_path):
    """Single PipelineModel persist replaces the reference's four
    separately-saved objects (S:126-237, P:70-84)."""
    from pyspark.ml import PipelineModel

    df = _labeled_reviews(spark)
    fitted, _ = train_and_evaluate(df, "svm")
    path = str(tmp_path / "pipeline_model")
    fitted.write().overwrite().save(path)
    reloaded = PipelineModel.load(path)
    orig = fitted.transform(df).select("prediction").collect()
    re = reloaded.transform(df).select("prediction").collect()
    assert orig == re


def test_deterministic_given_seed(spark):
    df = _labeled_reviews(spark)
    _, f1_a = train_and_evaluate(df, "logreg")
    _, f1_b = train_and_evaluate(df, "logreg")
    assert f1_a == f1_b


def test_tokenizer_stopwords_hand_checked(spark):
    """Feature stages on a fixed sentence — golden tokens."""
    from pyspark.ml import Pipeline

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.ml.pipeline import (
        build_feature_pipeline,
    )

    df = spark.createDataFrame(
        [("The quick brown fox and the lazy dog",)], "text string"
    )
    stages = build_feature_pipeline()
    fitted = Pipeline(stages=stages[:2]).fit(df)  # tokenizer + stopwords
    row = fitted.transform(df).collect()[0]
    assert row["words"] == ["the", "quick", "brown", "fox", "and", "the", "lazy", "dog"]
    assert row["words_nsw"] == ["quick", "brown", "fox", "lazy", "dog"]


def test_evaluate_f1_perfect_predictions(spark):
    preds = spark.createDataFrame(
        [(1.0, 1.0), (0.0, 0.0), (1.0, 1.0)], "label double, prediction double"
    )
    assert evaluate_f1(preds) == 1.0


def test_evaluate_auc_separable(spark):
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.ml.pipeline import (
        evaluate_auc,
    )

    df = _labeled_reviews(spark)
    fitted, _ = train_and_evaluate(df, "logreg")
    auc = evaluate_auc(fitted.transform(df))
    assert auc > 0.95


def test_to_pandas_bounded_arrow(spark):
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.sources.io import (
        to_pandas_bounded,
    )

    pdf = to_pandas_bounded(spark.range(1000).toDF("id"), limit=10)
    assert len(pdf) == 10

    # Arrow off: refused with an exception that `python -O` keeps
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with pytest.raises(RuntimeError, match="Arrow"):
            to_pandas_bounded(spark.range(10).toDF("id"))
    finally:
        spark.conf.set(key, prev)


def test_inspect_weights_most_negative_words(spark):
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.ml.pipeline import (
        inspect_weights,
    )

    df = _labeled_reviews(spark)
    fitted, _ = train_and_evaluate(df, "svm")
    top_neg = [r["word"] for r in inspect_weights(fitted, top_n=5).collect()]
    assert set(top_neg) & {"terrible", "awful", "rude", "disgusting", "slow"}


def test_quality_classifier_learns_planted_rule(spark):
    """The hashed-n-gram LR must recover a weak label that separates
    cleanly in n-gram space: long docs about one vocabulary vs short
    docs about another. Uses min_tokens low enough that the rule fires
    on content, not the fixture's length."""
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.ml.quality import (
        train_quality_classifier,
        weak_quality_label,
    )
    from pyspark.sql import functions as F

    rows = []
    for i in range(40):
        # quality: >= 12 alpha tokens
        rows.append((i, "good clean prose with many plain words here today " * 3))
    for i in range(40, 80):
        rows.append((i, "### ### ### junk"))  # fails alpha+symbol rules
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    model, scored = train_quality_classifier(docs, min_tokens=10)
    agg = scored.agg(
        F.sum("label").alias("n_pos"),
        F.sum((F.col("label") == F.col("prediction")).cast("long")).alias(
            "n_agree"
        ),
        F.count("*").alias("n"),
    ).collect()[0]
    assert agg["n_pos"] == 40  # label split is what we planted
    assert agg["n_agree"] == agg["n"]  # separable -> full agreement
    # probabilities order consistently with the label
    probs = scored.groupBy("label").agg(F.avg("q_probability").alias("p")).collect()
    by_label = {int(r["label"]): r["p"] for r in probs}
    assert by_label[1] > 0.8 > 0.2 > by_label[0]


def test_quality_weak_label_matches_integer_rule(spark):
    """weak_quality_label must agree with a direct Python replay of the
    integer rule on edge cases (empty text, exactly-threshold counts)."""
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.ml.quality import (
        weak_quality_label,
    )
    from pyspark.sql import functions as F

    rows = [
        (1, ""),  # empty -> 0 tokens -> fail
        (2, "one two three four five six seven eight nine ten"),  # 10 toks
        (3, "w " * 39 + "w"),  # exactly 40 tokens, all alpha
        (4, "# " * 50),  # symbol-heavy -> fail alpha + symbols
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r["id"]: r["lab"]
        for r in df.select(
            "id", weak_quality_label("text", min_tokens=40).alias("lab")
        ).collect()
    }
    assert got[1] == 0.0
    assert got[2] == 0.0  # under the 40-token floor
    assert got[3] == 1.0
    assert got[4] == 0.0


def test_inspect_weights_naive_bayes(spark):
    """NaiveBayes has no .coefficients; inspect_weights must derive
    term importance from theta instead of raising AttributeError."""
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.ml.pipeline import (
        inspect_weights,
        train_and_evaluate,
    )

    rows = [("terrible awful bad", 0), ("great good wonderful", 1)] * 12
    df = spark.createDataFrame(rows, "text string, label int")
    fitted, _f1 = train_and_evaluate(df, "nb")
    out = inspect_weights(fitted, top_n=3).collect()
    assert len(out) == 3
    assert all(isinstance(r["weight"], float) for r in out)
