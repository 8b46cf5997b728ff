"""Absolute-value certification of ml.feature.MinHashLSH signatures.

`dedup_minhash_lsh` (the ml.feature 100 TB dedup path) draws its
hash family from Spark ML's seeded RNG. Its DuckDB oracle
(`SQL_DEDUP_MINHASH_LSH`) replays that family from first principles,
and `similarity_ann_lsh`'s oracle does the same for the BRP unit
vectors; both lean on the replay math pinned here.

This file is a pinned, independent certification of the ml.feature
signature math itself, replayed from first principles: a pure-Python
java.util.Random (the 48-bit LCG of the JDK spec) reproduces the
model's seeded coefficient draws, and the published MinHash map
h_{a,b}(x) = min over nonzero indices i of ((1+i)·a + b) mod P with
P = 2038074743 (Spark ML's MinHashLSH.HASH_PRIME) reproduces every
signature value exactly. If a Spark upgrade changes the RNG, the
prime, or the coefficient order, this fails loudly HERE instead of
silently shifting candidate sets in production.

Public-knowledge provenance: JDK java.util.Random spec (LCG
0x5DEECE66D, 48-bit state) and the Apache Spark MinHashLSH source
(mllib ml/feature/MinHashLSH.scala).
"""

from __future__ import annotations

import pytest

HASH_PRIME = 2038074743
_MASK48 = (1 << 48) - 1
_MULT = 0x5DEECE66D


class JavaRandom:
    """java.util.Random: 48-bit LCG with the JDK-specified scramble."""

    def __init__(self, seed: int):
        self.seed = (seed ^ _MULT) & _MASK48

    def _next(self, bits: int) -> int:
        self.seed = (self.seed * _MULT + 0xB) & _MASK48
        return self.seed >> (48 - bits)

    def next_int(self, bound: int) -> int:
        if bound <= 0:
            raise ValueError(bound)
        if bound & (bound - 1) == 0:  # power of two
            return (bound * self._next(31)) >> 31
        while True:
            bits = self._next(31)
            val = bits % bound
            # Java retries when bits - val + (bound-1) overflows int32
            if bits - val + (bound - 1) <= 0x7FFFFFFF:
                return val


def minhash_coefficients(seed: int, num_tables: int) -> list[tuple[int, int]]:
    """Replay MinHashLSH's seeded (a, b) coefficient draws."""
    r = JavaRandom(seed)
    return [
        (1 + r.next_int(HASH_PRIME - 1), r.next_int(HASH_PRIME - 1))
        for _ in range(num_tables)
    ]


def signature(indices: list[int], coefs: list[tuple[int, int]]) -> list[float]:
    return [
        float(min(((1 + i) * a + b) % HASH_PRIME for i in indices))
        for a, b in coefs
    ]


def test_java_random_known_vectors():
    """JDK-spec check independent of Spark: `new Random(42).nextInt()`
    famously yields -1170105035 then 234785527 on every conforming
    JVM — the LCG here must reproduce both (next(32), sign-extended),
    or the coefficient replay below is meaningless."""
    r = JavaRandom(42)
    first = r._next(32)
    assert first - (1 << 32) == -1170105035
    second = r._next(32)
    assert second == 234785527


@pytest.mark.parametrize("seed,num_tables", [(42, 4), (7, 8)])
def test_minhash_signatures_match_java_replay(spark, seed, num_tables):
    from pyspark.ml.feature import MinHashLSH
    from pyspark.ml.linalg import Vectors

    dim = 1 << 18
    rows = [
        (0, Vectors.sparse(dim, sorted([1, 5, 900, 77777]), [1.0] * 4)),
        (1, Vectors.sparse(dim, sorted([0, 2, 262143]), [1.0] * 3)),
        (2, Vectors.sparse(dim, [123456], [1.0])),
        (3, Vectors.sparse(dim, sorted([5, 900]), [1.0] * 2)),
    ]
    df = spark.createDataFrame(rows, ["id", "features"])
    model = MinHashLSH(
        inputCol="features",
        outputCol="hashes",
        numHashTables=num_tables,
        seed=seed,
    ).fit(df)
    got = {
        r["id"]: [v[0] for v in r["hashes"]]
        for r in model.transform(df).select("id", "hashes").collect()
    }
    coefs = minhash_coefficients(seed, num_tables)
    for rid, vec in rows:
        expected = signature(sorted(vec.indices.tolist()), coefs)
        assert got[rid] == expected, (rid, got[rid], expected)


# --- BucketedRandomProjectionLSH (the similarity_ann_lsh family) --------
#
# Same certification pattern for the OTHER ml.feature LSH the engine
# ships: BRP hashes are floor(dot(x, v_t) / bucketLength) over seeded
# random unit vectors v_t — normalized JDK nextGaussian draws
# (Marsaglia polar method over the same 48-bit LCG, JDK spec). The
# replay reproduces the draws bit-for-bit; the dot product is summed
# sequentially like netlib ddot. floor() quantization absorbs any
# last-ulp libm difference except on measure-zero bucket boundaries.


class JavaRandomGaussian(JavaRandom):
    """JavaRandom + nextDouble/nextGaussian per the JDK spec."""

    def __init__(self, seed: int):
        super().__init__(seed)
        self._next_g = None

    def next_double(self) -> float:
        hi = self._next(26)
        lo = self._next(27)
        return ((hi << 27) + lo) / float(1 << 53)

    def next_gaussian(self) -> float:
        import math

        if self._next_g is not None:
            g, self._next_g = self._next_g, None
            return g
        while True:
            v1 = 2 * self.next_double() - 1
            v2 = 2 * self.next_double() - 1
            s = v1 * v1 + v2 * v2
            if 0 < s < 1:
                break
        mult = math.sqrt(-2 * math.log(s) / s)
        self._next_g = v2 * mult
        return v1 * mult


def brp_unit_vectors(
    seed: int, num_tables: int, dim: int
) -> list[list[float]]:
    import math

    r = JavaRandomGaussian(seed)
    out = []
    for _ in range(num_tables):
        v = [r.next_gaussian() for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v))
        out.append([x / norm for x in v])
    return out


def _seq_dot(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


@pytest.mark.parametrize("seed,num_tables", [(42, 3), (11, 6)])
def test_brp_lsh_hashes_match_java_replay(spark, seed, num_tables):
    import math

    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.linalg import Vectors

    dim, bucket_length = 8, 2.0
    rows = [
        (0, Vectors.dense([1.0, -2.0, 0.5, 3.0, 0.0, 1.5, -0.25, 2.0])),
        (1, Vectors.dense([-1.0, 0.0, 4.0, 0.0, 2.5, -3.0, 1.0, 0.5])),
        (2, Vectors.dense([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8])),
    ]
    df = spark.createDataFrame(rows, ["id", "features"])
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_tables,
        seed=seed,
    ).fit(df)
    got = {
        r["id"]: [v[0] for v in r["hashes"]]
        for r in model.transform(df).select("id", "hashes").collect()
    }
    units = brp_unit_vectors(seed, num_tables, dim)
    for rid, vec in rows:
        expected = [
            float(math.floor(_seq_dot(list(vec), u) / bucket_length))
            for u in units
        ]
        assert got[rid] == expected, (rid, got[rid], expected)


# --- HashingTF (murmur3_x86_32) -----------------------------------------
#
# The remaining unpinned stage of the dedup_minhash_lsh hash chain:
# shingle -> HashingTF index -> MinHash signature. HashingTF maps a
# term to pmod(murmur3_x86_32(utf8(term), seed=42), numFeatures) with
# the STANDARD murmur3 tail (Spark's hashUnsafeBytes2: little-endian
# tail accumulate + one k1 mix + fmix). With this and the signature
# replay above, every hash the ml.feature dedup path computes is
# certified against independent first-principles math.


def murmur3_x86_32(data: bytes, seed: int) -> int:
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data) // 4 * 4
    for i in range(0, n, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k1 = 0
    for shift, i in enumerate(range(n, len(data))):
        k1 ^= (data[i] & 0xFF) << (8 * shift)
    if k1:
        k1 = (k1 * c1) & 0xFFFFFFFF
        k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
        k1 = (k1 * c2) & 0xFFFFFFFF
        h ^= k1
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _hashingtf_index(term: str, num_features: int) -> int:
    """Java-int pmod of the signed murmur3 value (Utils.nonNegativeMod)."""
    v = murmur3_x86_32(term.encode("utf-8"), 42)
    if v >= 1 << 31:
        v -= 1 << 32
    return v % num_features


def test_hashingtf_indices_match_murmur3_replay(spark):
    from pyspark.ml.feature import HashingTF

    # every tail length 0-3, multibyte UTF-8, and a shingle-shaped term
    terms = ["", "a", "ab", "abc", "abcd", "abcde", "héllo",
             "日本語", "the quick brown", "sh_ingle_3gram"]
    terms = [t for t in terms if t]  # HashingTF ignores nothing; '' is a real term
    df = spark.createDataFrame([(terms,)], ["words"])
    for nf in (1 << 10, 1 << 18):
        tf = HashingTF(inputCol="words", outputCol="feat", numFeatures=nf)
        vec = tf.transform(df).collect()[0]["feat"]
        got = sorted(int(i) for i in vec.indices)
        expected = sorted({_hashingtf_index(t, nf) for t in terms})
        assert got == expected, (nf, got, expected)


def test_hashingtf_counts_match_replay(spark):
    """Term multiplicities land as counts on the replayed indices."""
    from pyspark.ml.feature import HashingTF

    words = ["dup", "dup", "dup", "solo"]
    df = spark.createDataFrame([(words,)], ["words"])
    tf = HashingTF(inputCol="words", outputCol="feat", numFeatures=1 << 12)
    vec = tf.transform(df).collect()[0]["feat"]
    got = {int(i): float(v) for i, v in zip(vec.indices, vec.values)}
    expected = {}
    for w in words:
        idx = _hashingtf_index(w, 1 << 12)
        expected[idx] = expected.get(idx, 0.0) + 1.0
    assert got == expected


# --- package replay module (functions/jdk_random.py) ---------------------
#
# Round 13 promoted the replay math INTO the package so generated
# DuckDB oracles (dedup_minhash_lsh / similarity_ann_lsh) can inline
# the coefficient/unit-vector draws as SQL literals. This file keeps
# its own independent implementation; the tests below pin the package
# module against it so an accidental edit to either side fails here
# before it shifts a driver-graded surface.


def test_package_minhash_coefficients_match_independent_replay():
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.functions import (
        jdk_random,
    )

    assert jdk_random.MINHASH_ML_PRIME == HASH_PRIME
    for seed, nt in ((42, 8), (7, 4), (12345, 16)):
        assert (
            jdk_random.minhash_ml_coefficients(seed, nt)
            == minhash_coefficients(seed, nt)
        )


def test_package_brp_unit_vectors_match_independent_replay():
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.functions import (
        jdk_random,
    )

    for seed, nt, dim in ((42, 4, 64), (11, 6, 8)):
        a = jdk_random.brp_unit_vectors(seed, nt, dim)
        b = brp_unit_vectors(seed, nt, dim)
        assert a == b  # bit-exact, not approx: same LCG, same polar


# --- murmur3-in-SQL (the r13 HashingTF oracle chain) ---------------------
#
# dedup_minhash_lsh's DuckDB oracle computes murmur3_x86_32 over each
# shingle's UTF-8 bytes IN SQL (plans/queries._murmur3_term_idx_ctes).
# These tests close the triangle: SQL == this file's Python replay
# (which test_hashingtf_indices_match_murmur3_replay already pins
# against live HashingTF), on structured adversaries and on fuzz.


def _murmur3_sql_values(terms: list[str], num_features: int, seed: int):
    import duckdb

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.plans.queries import (
        _murmur3_term_idx_ctes,
    )

    q = (
        "WITH terms AS (SELECT unnest(?) AS term), "
        + _murmur3_term_idx_ctes(num_features, seed)
        + " SELECT term, idx FROM m3"
    )
    con = duckdb.connect()
    try:
        return dict(con.execute(q, [terms]).fetchall())
    finally:
        con.close()


def test_murmur3_sql_matches_python_replay_structured():
    terms = [
        "a", "ab", "abc", "abcd", "abcde", "abcdef", "abcdefg",
        "héllo", "日本語テキスト", "naïve café", "a\x00b", "\x00\x00\x00",
        "x" * 101, "the quick brown fox", "sh ingle 3gram",
        " ", "  ", "\t", "🙂🙂", "ßharp",
    ]
    got = _murmur3_sql_values(terms, 1 << 18, 42)
    for t in terms:
        assert got[t] == _hashingtf_index(t, 1 << 18), t


def test_murmur3_sql_matches_python_replay_fuzz():
    import random
    import string

    rng = random.Random(13)
    alphabet = string.printable + "éßü日本語🙂"
    terms = list(
        {
            "".join(
                rng.choice(alphabet) for _ in range(rng.randrange(1, 40))
            )
            for _ in range(300)
        }
    )
    got = _murmur3_sql_values(terms, 1 << 18, 42)
    for t in terms:
        assert got[t] == _hashingtf_index(t, 1 << 18), repr(t)


def test_approx_similarity_join_threshold_is_strict(spark):
    """dedup_minhash_lsh's oracle applies d < threshold because
    approxSimilarityJoin does: a pair at EXACTLY the threshold
    distance must be excluded (pinned here so a Spark semantics
    change goes red loudly)."""
    from pyspark.ml.feature import MinHashLSH
    from pyspark.ml.linalg import Vectors

    dim = 1000
    # A={1,2,3}, B={3,4,5}: jaccard distance exactly 1 - 1/5 = 0.8
    rows = [
        (0, Vectors.sparse(dim, [1, 2, 3], [1.0] * 3)),
        (1, Vectors.sparse(dim, [3, 4, 5], [1.0] * 3)),
    ]
    df = spark.createDataFrame(rows, ["id", "features"])
    # 64 tables => a band collision is certain (J = 1/5 per table,
    # P(no collision) = (4/5)^64 ~ 6e-7), so an empty result is the
    # FILTER, not missed candidates
    m = MinHashLSH(
        inputCol="features", outputCol="h", numHashTables=64, seed=1
    ).fit(df)
    at = m.approxSimilarityJoin(df, df, 0.8, distCol="d").filter(
        "datasetA.id < datasetB.id"
    )
    assert at.count() == 0
    above = m.approxSimilarityJoin(df, df, 0.8000001, distCol="d").filter(
        "datasetA.id < datasetB.id"
    )
    assert above.count() == 1


# --- XXH64-in-SQL (the r13 native-minhash oracle chain) ------------------
#
# dedup_minhash_native's DuckDB oracle computes Spark's xxhash64 —
# XXH64 seed 42 over UTF-8 bytes, then hashInt(k, hashLong(h0, 42))
# for the re-keyed family — in SQL with 64-bit ops on HUGEINT
# (plans/queries._xxh_string_hash_ctes / _xxh_long_then_int_ctes).
# This differential pins the SQL chain directly against live
# F.xxhash64 on adversarial shapes: every tail length mod 4/8, the
# 31/32/33-byte stripe boundary, long stripes, and multibyte UTF-8.


def test_xxh64_sql_chain_matches_spark(spark):
    import duckdb

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.plans.queries import (
        _xxh_long_then_int_ctes,
        _xxh_string_hash_ctes,
    )
    from pyspark.sql import functions as F

    terms = [
        "a", "ab", "abc", "abcd", "abcde", "abcdef", "abcdefg",
        "abcdefgh", "abcdefghi", "x" * 12, "x" * 16, "x" * 31,
        "x" * 32, "y" * 33, "z" * 40, "w" * 64, "q" * 65,
        "the quick brown fox jumps over", "héllo wörld", "日本語" * 15,
    ]
    num_k = 4
    q = (
        "WITH t AS (SELECT unnest(?) AS term), "
        "tb AS (SELECT term, hex(encode(term)) AS hx, "
        "octet_length(encode(term)) AS n FROM t), "
        + _xxh_string_hash_ctes(42)
        + ", "
        + _xxh_long_then_int_ctes(num_k, 42)
        + " SELECT term, k, hk FROM khs"
    )
    con = duckdb.connect()
    try:
        duck = {(t, k): v for t, k, v in con.execute(q, [terms]).fetchall()}
    finally:
        con.close()
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    rows = df.select(
        "term",
        F.xxhash64("term").alias("h0"),
        *[
            F.xxhash64(F.xxhash64("term"), F.lit(k)).alias(f"m{k}")
            for k in range(num_k)
        ],
    ).collect()
    for r in rows:
        for k in range(num_k):
            assert duck[(r["term"], k)] == r[f"m{k}"], (r["term"][:20], k)
