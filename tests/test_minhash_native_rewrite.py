"""r15 rewrite certification: the native minhash_lsh_candidates and
the md5-index MinHashLSH signature formula must equal the ml.feature
chains they replaced, value-for-value, on a corpus with real
near-duplicates.

The r15 optimization removed the last UDF-style boundaries in the
dedup hot paths (HashingTF + MinHashLSH.fit/transform/
approxSimilarityJoin → native expressions). These tests rebuild the
ORIGINAL ml.feature pipelines inline and assert exact row equality —
so any drift in Spark's hash(), the JDK-LCG replay, or the banding
shape fails here before it shifts a driver-graded surface.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators import (
    dedup,
)
from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators import (
    textstats,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "the quick brown fox jumps over the lazy dog"),
    (4, "lorem ipsum dolor sit amet consectetur adipiscing elit"),
    (5, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"),
    (6, "completely unrelated text about databases and query engines"),
    (7, "short"),
    (8, "twé wörds ünicode catching multibyte utf8 handling paths"),
    (9, "twé wörds ünicode catching multibyte utf8 handling paths too"),
    (10, ""),
    (11, "a b"),
    (12, "a b"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _ml_feature_lsh(docs, *, num_hash_tables, max_jaccard_distance, seed):
    """The pre-r15 implementation, verbatim: shingle → HashingTF →
    MinHashLSH.approxSimilarityJoin → strict threshold → id_a<id_b."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = dedup.shingle(docs, id_col="doc_id", text_col="text", n=3)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18
    )
    feat = tf.transform(sh).filter(F.size("shingles") > 0).cache()
    model = MinHashLSH(
        inputCol="features",
        outputCol="hashes",
        numHashTables=num_hash_tables,
        seed=seed,
    ).fit(feat)
    joined = model.approxSimilarityJoin(
        feat, feat, max_jaccard_distance, distCol="jaccard_distance"
    )
    return (
        joined.select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            F.col("jaccard_distance"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )


@pytest.mark.parametrize(
    "tables,thresh,seed", [(4, 0.8, 42), (8, 0.6, 42), (3, 0.95, 7)]
)
def test_native_lsh_equals_ml_feature(spark, docs, tables, thresh, seed):
    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard_distance"])
        for r in dedup.minhash_lsh_candidates(
            docs,
            num_hash_tables=tables,
            max_jaccard_distance=thresh,
            seed=seed,
        ).collect()
    )
    want = sorted(
        (r["id_a"], r["id_b"], r["jaccard_distance"])
        for r in _ml_feature_lsh(
            docs,
            num_hash_tables=tables,
            max_jaccard_distance=thresh,
            seed=seed,
        ).collect()
    )
    # exact float equality: the native path must reproduce ml.feature's
    # keyDistance bit-for-bit, not approximately
    assert got == want
    assert len(got) > 0  # the corpus above must actually produce pairs


def test_sql_hash_is_not_hashingtf_murmur3(spark):
    """WHY the native rewrite keeps HashingTF for term hashing: Spark
    SQL's hash() (hashUnsafeBytes — one mix round per tail byte) does
    NOT equal HashingTF's murmur3 (hashUnsafeBytes2 — accumulated
    little-endian tail) whenever a term's UTF-8 byte length % 4 != 0.
    They DO agree on 4-aligned lengths. If this pin ever flips,
    hash()-based index replay becomes available — revisit the rewrite.
    """
    from pyspark.ml.feature import HashingTF

    aligned = ["abcd", "abcdabcd", "日本語語"]  # 4, 8, 12 bytes
    unaligned = ["a", "ab", "abc", "abcde", "héllo", "the quick brown"]
    nf = 1 << 18

    def ml_indices(terms):
        df = spark.createDataFrame([([t],) for t in terms], ["words"])
        tf = HashingTF(inputCol="words", outputCol="feat", numFeatures=nf)
        return [int(r["feat"].indices[0]) for r in tf.transform(df).collect()]

    def sql_indices(terms):
        return [
            r["i"]
            for r in spark.createDataFrame([(t,) for t in terms], ["t"])
            .select(F.pmod(F.hash("t"), F.lit(nf)).alias("i"))
            .collect()
        ]

    assert ml_indices(aligned) == sql_indices(aligned)
    ml_u, sql_u = ml_indices(unaligned), sql_indices(unaligned)
    assert ml_u != sql_u, "tail handling now agrees — rewrite can simplify"


def test_unwrap_udt_indices_match_vector(spark):
    """The native index extraction: unwrap_udt(features).indices must
    equal the SparseVector's indices, in order."""
    from pyspark.ml.feature import HashingTF

    df = spark.createDataFrame(
        [(["a", "b", "c", "dd", "dd"],), (["x y z", "zz"],)], ["words"]
    )
    tf = HashingTF(inputCol="words", outputCol="feat", numFeatures=1 << 18)
    feat = tf.transform(df)
    rows = feat.select(
        F.col("feat"),
        F.unwrap_udt("feat").getField("indices").alias("idx"),
    ).collect()
    for r in rows:
        assert list(r["idx"]) == [int(i) for i in r["feat"].indices]


def _ml_feature_replay_sig(spark, docs, *, num_hash_tables, seed):
    """The pre-r15 signature build, verbatim: md5-prefix indices →
    sparse indicator vectors (UDF) → real MinHashLSH transform."""
    from pyspark.ml.feature import MinHashLSH
    from pyspark.ml.functions import vector_to_array
    from pyspark.ml.linalg import Vectors, VectorUDT

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.functions.jdk_random import (
        MINHASH_ML_PRIME,
    )

    p = MINHASH_ML_PRIME
    sh = dedup.shingle(docs, id_col="doc_id", text_col="text", n=3)
    idx = (
        sh.select(F.col("doc_id"), F.explode("shingles").alias("_s"))
        .filter(F.col("_s").isNotNull())
        .select(
            F.col("doc_id"),
            (textstats.md5_prefix_long("_s") % p).alias("_i"),
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("_i")).alias("_idx"))
    )

    @F.udf(returnType=VectorUDT())
    def _to_sparse(ix):
        return Vectors.sparse(p, [int(v) for v in ix], [1.0] * len(ix))

    feat = idx.select(F.col("doc_id"), _to_sparse("_idx").alias("features"))
    model = MinHashLSH(
        inputCol="features",
        outputCol="hashes",
        numHashTables=num_hash_tables,
        seed=seed,
    ).fit(feat)
    return model.transform(feat).select(
        F.col("doc_id"),
        *[
            vector_to_array(F.col("hashes")[t])[0]
            .cast("long")
            .alias(f"_m{t}")
            for t in range(num_hash_tables)
        ],
    )


@pytest.mark.parametrize("tables,seed", [(8, 42), (4, 7)])
def test_native_replay_signatures_equal_model(spark, docs, tables, seed):
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.functions.jdk_random import (
        MINHASH_ML_PRIME,
        minhash_ml_coefficients,
    )

    p = MINHASH_ML_PRIME
    coeffs = minhash_ml_coefficients(seed, tables)
    sh = dedup.shingle(docs, id_col="doc_id", text_col="text", n=3)
    native = (
        sh.select(F.col("doc_id"), F.explode("shingles").alias("_s"))
        .filter(F.col("_s").isNotNull())
        .select(
            F.col("doc_id"),
            (textstats.md5_prefix_long("_s") % p).alias("_i"),
        )
        .groupBy("doc_id")
        .agg(
            *[
                F.min(
                    ((F.col("_i") + F.lit(1)) * F.lit(a) + F.lit(b))
                    % F.lit(p)
                ).alias(f"_m{t}")
                for t, (a, b) in enumerate(coeffs)
            ]
        )
    )
    got = sorted(tuple(r) for r in native.collect())
    want = sorted(
        tuple(r)
        for r in _ml_feature_replay_sig(
            spark, docs, num_hash_tables=tables, seed=seed
        ).collect()
    )
    assert got == want
