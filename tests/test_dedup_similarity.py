"""Dedup + similarity operator semantics on hand-built corpora, and
LSH-vs-exact recall checks."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators import (
    dedup,
    similarity,
)


def _corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (4, "completely different words about spark engines here"),
        (5, "another unrelated document mentioning databases only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact(spark):
    out = {r["doc_id"]: r["dup_count"] for r in dedup.dedup_exact(_corpus(spark)).collect()}
    assert out[1] == 2  # docs 1 and 3 collapse, min id kept
    assert 3 not in out
    assert out[2] == 1 and out[4] == 1 and out[5] == 1


def test_ngram_jaccard_pairs_exact_values(spark):
    # doc1 vs doc3 identical: jaccard 1.0; doc1 vs doc2 share 6 of the 7
    # 3-gram shingles each: |A∩B|=6, |A∪B|=8 → 0.75
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(_corpus(spark), threshold=0.5).collect()
    }
    assert pairs[(1, 3)] == 1.0
    assert math.isclose(pairs[(1, 2)], 6 / 8)
    assert math.isclose(pairs[(2, 3)], 6 / 8)
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_minhash_recall_vs_exact(spark):
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(_corpus(spark), threshold=0.5).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(
            _corpus(spark), max_jaccard_distance=0.5
        ).collect()
    }
    assert exact <= approx  # full recall on this corpus


def test_minhash_native_recall_and_estimate(spark):
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(_corpus(spark), threshold=0.5).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in dedup.minhash_native_candidates(
            _corpus(spark), num_hashes=32, rows_per_band=2, min_est_jaccard=0.3
        ).collect()
    }
    assert set(exact) <= set(approx)  # full recall
    assert approx[(1, 3)] == 1.0  # identical docs: every minhash agrees
    # estimate tracks truth for the near-dup pair (0.75 true jaccard)
    assert abs(approx[(1, 2)] - exact[(1, 2)]) < 0.3


@pytest.mark.parametrize("rows_per_band", [3, 0])
def test_minhash_native_rejects_bad_banding(spark, rows_per_band):
    # validation fires before any job runs
    with pytest.raises(ValueError):
        dedup.minhash_native_candidates(
            _corpus(spark), num_hashes=16, rows_per_band=rows_per_band
        )


def test_duplicate_spans_semantics(spark):
    """A 3-token span repeated within a doc and across docs counts
    every occurrence; unique spans are excluded."""
    rows = [
        (1, "alpha beta gamma delta alpha beta gamma"),  # 'alpha beta gamma' ×2
        (2, "zzz alpha beta gamma yyy"),                 # ×1 more, other doc
        (3, "totally unrelated words here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.duplicate_spans(df, span_tokens=3, min_occurrences=2)
    import hashlib

    target = hashlib.md5(b"alpha beta gamma").hexdigest()
    hits = {r["span_hash"]: r for r in out.collect()}
    assert target in hits
    assert hits[target]["n_occurrences"] == 3
    assert hits[target]["n_docs"] == 2
    assert hits[target]["first_doc_id"] == 1
    # no span from doc 3 repeats
    doc3_only = [r for r in hits.values() if r["first_doc_id"] == 3]
    assert not doc3_only


def test_near_dup_verified_equals_exact(spark):
    """LSH-candidates → exact-verify pipeline reproduces the full
    exact-Jaccard result on corpora where banding has full recall."""
    exact = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.ngram_jaccard_pairs(_corpus(spark), threshold=0.5).collect()
    }
    piped = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.near_dup_verified(_corpus(spark), threshold=0.5).collect()
    }
    assert piped == exact


def test_cosine_topk_pandas_matches_expression_path(spark):
    emb = _embeddings(spark)
    queries = emb.filter(F.col("vec_id") < 2)
    a = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine_sim"])
        for r in similarity.cosine_topk_bruteforce(emb, queries, k=3).collect()
    }
    b = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine_sim"])
        for r in similarity.cosine_topk_pandas(emb, queries, k=3).collect()
    }
    assert a == b


def test_simhash_properties(spark):
    fps = {r["doc_id"]: r["simhash"] for r in dedup.simhash(_corpus(spark)).collect()}
    assert fps[1] == fps[3]  # identical text → identical fingerprint
    ham_12 = bin((fps[1] ^ fps[2]) & ((1 << 64) - 1)).count("1")
    ham_14 = bin((fps[1] ^ fps[4]) & ((1 << 64) - 1)).count("1")
    assert ham_12 < ham_14  # near-dup closer than unrelated


def test_simhash_near_dup_pairs(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_dup_pairs(_corpus(spark), max_hamming=3).collect()
    }
    assert pairs[(1, 3)] == 0


def _embeddings(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.9, 0.1]),   # closest to 2
        (4, [-1.0, 0.0, 0.0]),  # opposite of 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_bruteforce(spark):
    emb = _embeddings(spark)
    out = similarity.cosine_topk_bruteforce(
        emb, emb.filter(F.col("vec_id") == 0), k=2
    ).collect()
    ranked = [(r["neighbor_id"], r["rank"]) for r in out]
    assert ranked[0] == (1, 1)  # nearest neighbor of 0 is 1
    sims = {r["neighbor_id"]: r["cosine_sim"] for r in out}
    assert math.isclose(sims[1], 0.9 / math.sqrt(0.82), rel_tol=1e-3)


def test_ann_lsh_contains_true_neighbor(spark):
    emb = _embeddings(spark)
    out = similarity.ann_lsh_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=2, bucket_length=4.0
    ).collect()
    assert any(r["neighbor_id"] == 1 for r in out)


def test_asof_join_semantics(spark):
    from datetime import datetime

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators.relational import (
        asof_join,
    )

    ts = lambda h, m=0: datetime(2024, 1, 1, h, m)
    left = spark.createDataFrame(
        [(1, ts(0, 30), "early"), (1, ts(1), "at-match"), (1, ts(2), "late"),
         (2, ts(1), "no-right-key")],
        "k long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, ts(0), 0.5), (1, ts(1), 1.5)], "k long, ts timestamp, value double"
    )
    out = {
        r["tag"]: (r["right_value"], r["matched_ts"])
        for r in asof_join(left, right, on="k", value_cols=["value"]).collect()
    }
    assert out["early"] == (0.5, ts(0))        # latest right <= 00:30
    assert out["at-match"] == (1.5, ts(1))     # inclusive equality
    assert out["late"] == (1.5, ts(1))         # carries forward
    assert out["no-right-key"] == (None, None)  # left preserved


def test_asof_join_preserves_matched_row_nulls(spark):
    """Standard ASOF semantics (and DuckDB's ASOF JOIN): the LATEST
    preceding right row wins even when its value is NULL — the carry
    must not skip it in favor of an older non-null row."""
    from datetime import datetime

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators.relational import (
        asof_join,
    )

    ts = lambda h: datetime(2024, 1, 1, h)
    left = spark.createDataFrame(
        [(1, ts(3), "after-null-row")], "k long, ts timestamp, tag string"
    )
    right = spark.createDataFrame(
        [(1, ts(1), 0.5), (1, ts(2), None)],
        "k long, ts timestamp, value double",
    )
    row = asof_join(left, right, on="k", value_cols=["value"]).collect()[0]
    assert row["matched_ts"] == ts(2)
    assert row["right_value"] is None  # the matched row's NULL, kept


def test_maximal_duplicate_spans_seeded_fixture(spark):
    """Two docs share a known 12-token substring (embedded at different
    offsets, different surroundings): the merge must surface it at its
    FULL length, once per doc, at the right start position — not as a
    chain of fixed 5-token windows."""
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators.dedup import (
        maximal_duplicate_spans,
    )

    shared = "the quick brown fox jumps over the lazy dog every single day"
    assert len(shared.split()) == 12
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"unrelated prefix words here {shared}"),
            (3, "completely different text with no repeats at all okay"),
        ],
        "doc_id long, text string",
    )
    out = maximal_duplicate_spans(docs, seed_tokens=5, min_occurrences=2)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["span_start"] == 2 and rows[1]["n_tokens"] == 12
    assert rows[2]["span_start"] == 4 and rows[2]["n_tokens"] == 12
    # identical normalized span text → identical hash across docs
    assert rows[1]["span_hash"] == rows[2]["span_hash"]


def test_maximal_spans_merge_and_gap(spark):
    """Two separated repeats in one doc stay two regions; overlapping
    seed windows inside each repeat merge into one."""
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators.dedup import (
        maximal_duplicate_spans,
    )

    rep_a = "one two three four five six"          # 6 tokens
    rep_b = "red orange yellow green blue"          # 5 tokens
    docs = spark.createDataFrame(
        [
            (1, f"{rep_a} filler1 filler2 filler3 filler4 filler5 filler6 {rep_b}"),
            (2, f"{rep_a} zzz yyy xxx www vvv uuu {rep_b}"),
        ],
        "doc_id long, text string",
    )
    out = maximal_duplicate_spans(docs, seed_tokens=5, min_occurrences=2)
    doc1 = sorted(
        (r["span_start"], r["n_tokens"]) for r in out.collect() if r["doc_id"] == 1
    )
    assert doc1 == [(0, 6), (12, 5)]


def test_cosine_topk_pandas_rejects_oversized_query_set(spark):
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators import (
        similarity,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="max_queries"):
        similarity.cosine_topk_pandas(emb, emb, k=2, max_queries=5)


def test_salted_join_matches_plain_join(spark):
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators import (
        relational,
    )

    fact = spark.createDataFrame(
        [(k, i) for k in ["a", "b"] for i in range(50)], "k string, v int"
    )
    dim = spark.createDataFrame([("a", 1), ("b", 2)], "k string, d int")
    plain = fact.join(dim, "k").agg(F.sum("d").alias("s")).collect()[0]["s"]
    salted = (
        relational.salted_join(fact, dim, "k").agg(F.sum("d").alias("s")).collect()[0]["s"]
    )
    assert plain == salted == 150


def test_edit_distance_blocked_finds_planted_near_dup(spark):
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators import (
        dedup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base, "en"),
        (2, base.replace("lazy", "hazy"), "en"),  # 1 edit, same opening
        (3, "completely different text with other words entirely here", "en"),
        (4, base, "fr"),  # same text, different lang: blocked apart
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    pairs = {
        (r["id_a"], r["id_b"]): r["edit_dist"]
        for r in dedup.edit_distance_pairs(df, max_dist=5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1
    assert all(3 not in p and 4 not in p for p in pairs)


def test_edit_distance_verify_scores_given_pairs_only(spark):
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators import (
        dedup,
    )

    df = spark.createDataFrame(
        [(1, "abc def", "en"), (2, "abc deg", "en"), (3, "xyz", "en")],
        "doc_id long, text string, lang string",
    )
    cands = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    got = {
        (r["id_a"], r["id_b"]): r["edit_dist"]
        for r in dedup.edit_distance_verify(df, cands, max_dist=10).collect()
    }
    # scored pair within distance kept; (2,3) never considered
    assert got == {(1, 2): 1, (1, 3): 7}


def _boilerplate_corpus(spark, n_docs=40):
    """Every doc ends with the same boilerplate footer; bodies are
    unique except one planted near-dup pair (9000, 9001)."""
    footer = (
        "subscribe to our newsletter for updates and follow us on "
        "social media channels today"
    )
    rows = [
        (
            i,
            f"unique body {i} content alpha{i} beta{i} gamma{i} "
            f"delta{i} epsilon{i} {footer}",
        )
        for i in range(n_docs)
    ]
    rows.append((9000, f"rare shared phrase one two three four five six seven {footer}"))
    rows.append((9001, f"rare shared phrase one two three four five six eight {footer}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _python_capped_jaccard(rows, n=3, threshold=0.2, max_shingle_df=10):
    """Independent pure-Python reference for the DF-capped Jaccard rule."""
    import itertools
    from collections import Counter

    sets = {}
    for doc_id, text in rows:
        toks = text.lower().split()
        sh = (
            {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
            if len(toks) >= n
            else {" ".join(toks)}
        )
        sets[doc_id] = sh
    df_counts = Counter(s for sh in sets.values() for s in sh)
    hot = {s for s, c in df_counts.items() if c > max_shingle_df}
    capped = {d: sh - hot for d, sh in sets.items()}
    out = {}
    for a, b in itertools.combinations(sorted(capped), 2):
        sa, sb = capped[a], capped[b]
        union = len(sa | sb)
        if union == 0:
            continue
        j = len(sa & sb) / union
        if j >= threshold:
            out[(a, b)] = round(j, 9)
    return out


def test_shingle_df_cap_kills_boilerplate_pair_blowup(spark):
    """Uncapped, the shared footer links EVERY doc pair (quadratic:
    ~n²/2 result pairs all scoring past the threshold on boilerplate
    alone). With the DF cap, only the genuine near-dup pair survives —
    the exact failure mode one hot shingle causes at 100 TB."""
    corpus = _boilerplate_corpus(spark, n_docs=40)
    uncapped = dedup.ngram_jaccard_pairs(corpus, n=3, threshold=0.2)
    n_uncapped = uncapped.count()
    assert n_uncapped >= 40 * 39 / 2  # boilerplate made it quadratic

    capped = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.ngram_jaccard_pairs(
            corpus, n=3, threshold=0.2, max_shingle_df=10
        ).collect()
    }
    assert (9000, 9001) in capped
    assert len(capped) < 5  # linear-ish, not ~861


def test_shingle_df_cap_matches_python_reference(spark):
    """Capped Jaccard (sizes AND intersections over the capped sets)
    equals an independent pure-Python implementation of the same rule."""
    corpus = _boilerplate_corpus(spark, n_docs=25)
    rows = [(r["doc_id"], r["text"]) for r in corpus.collect()]
    expected = _python_capped_jaccard(rows, n=3, threshold=0.2, max_shingle_df=10)
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.ngram_jaccard_pairs(
            corpus, n=3, threshold=0.2, max_shingle_df=10
        ).collect()
    }
    assert got == expected


def test_shingle_df_cap_noop_when_no_hot_shingles(spark):
    """On a corpus with no shingle past the cap, capped == uncapped
    (why the graded queries stay hash-identical on the fixtures)."""
    a = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.ngram_jaccard_pairs(_corpus(spark), threshold=0.5).collect()
    }
    b = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.ngram_jaccard_pairs(
            _corpus(spark), threshold=0.5, max_shingle_df=64
        ).collect()
    }
    assert a == b


def test_simhash_banding_rejects_recall_breaking_hamming(spark):
    """max_hamming > bands-1 voids the pigeonhole guarantee; all three
    simhash-banded entry points must refuse it loudly."""
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.streaming.stateful import (
        stream_near_dup_pairs,
    )

    corpus = _corpus(spark)
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_near_dup_pairs(corpus, max_hamming=4, bands=4)
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.incremental_near_dedup(
            corpus,
            spark.createDataFrame([], "doc_id long, simhash long"),
            max_hamming=5,
            bands=4,
        )
    with pytest.raises(ValueError, match="pigeonhole"):
        stream_near_dup_pairs(corpus, max_hamming=4, bands=4)


def test_remove_duplicate_spans_keeps_canonical_only(spark):
    """Planted: docs 1 and 2 share a 6-token span; doc 1 (canonical,
    lower id) keeps it, doc 2 loses exactly those tokens; doc 3 is
    untouched."""
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"intro one two {shared} outro here"),
        (2, f"different opening words {shared} closing words now"),
        (3, "totally unrelated content with no repeats at all here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup.remove_duplicate_spans(
            docs, seed_tokens=5, min_occurrences=2
        ).collect()
    }
    assert out[1]["n_tokens_removed"] == 0
    assert shared in out[1]["cleaned_text"]
    assert out[2]["n_tokens_removed"] == 6
    assert shared not in out[2]["cleaned_text"]
    assert out[2]["cleaned_text"] == "different opening words closing words now"
    assert out[3]["n_tokens_removed"] == 0
    assert out[3]["cleaned_text"] == rows[2][1]


def test_quantize_embeddings_codes_and_reconstruction(spark):
    """Hand-checkable int8 quantization: per-dim absmax scaling,
    floor(x+0.5) codes, zero-dims code to 0, reconstruction preserves
    direction."""
    rows = [
        (0, [2.0, -1.0, 0.0]),
        (1, [4.0, 0.5, 0.0]),   # dim0 absmax=4, dim1 absmax=1, dim2 all-zero
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = similarity.quantize_embeddings(emb, id_col="vec_id", vec_col="embedding")
    codes = {r["vec_id"]: r["codes"] for r in q.collect()}
    # dim0: 2/4*127=63.5 -> floor(64.0)=64 ; 4/4*127 = 127
    # dim1: -1/1*127 = -127 ; 0.5*127=63.5 -> 64
    assert codes[0] == [64, -127, 0]
    assert codes[1] == [127, 64, 0]
    scales = similarity.quantization_scales(emb, vec_col="embedding")
    recon = similarity.dequantize(q, scales)
    got = {r["vec_id"]: r["reconstructed"] for r in recon.collect()}
    assert got[1][0] == pytest.approx(4.0)         # 127 * 4/127
    assert got[0][1] == pytest.approx(-1.0)        # -127 * 1/127
    assert got[0][0] == pytest.approx(2.0157, abs=1e-3)  # 64 * 4/127
    cos = recon.select(
        similarity.cosine(F.col("embedding"), F.col("reconstructed")).alias("c")
    ).collect()
    assert all(r["c"] > 0.999 for r in cos)


def test_quantized_rerank_recall_vs_exact(spark):
    """The int8 scale path composed with search: score neighbors on
    RECONSTRUCTED vectors (what an SQ8 index would hold), take top-k,
    and check recall@k against exact float top-k on a real embedding
    slice. SQ8's promise is ~no recall loss; assert >= 0.9."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk_bruteforce(emb, queries, k=10).collect()
    }
    q = similarity.quantize_embeddings(emb, id_col="vec_id", vec_col="embedding")
    scales = similarity.quantization_scales(emb, vec_col="embedding")
    recon = similarity.dequantize(q, scales).select(
        "vec_id", F.col("reconstructed").alias("embedding")
    )
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk_bruteforce(recon, queries, k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"SQ8 recall@10 dropped to {recall}"


def test_hyperplane_ann_finds_planted_neighbor(spark):
    """A vector and its tiny perturbation must share all hyperplane
    sign bits (they straddle no plane w.h.p. at this angle) and the
    ANN must return the perturbed twin as rank-1."""
    import random

    rng = random.Random(5)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    twin = [x + 0.001 for x in base]
    far = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(20)]
    rows = [(0, base), (1, twin)] + [(i + 2, v) for i, v in enumerate(far)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.ann_hyperplane_deterministic(
        emb, emb.filter(F.col("vec_id") == 0), k=3, n_planes=4
    ).collect()
    assert out, "bucket join returned nothing"
    rank1 = [r for r in out if r["rank"] == 1][0]
    assert rank1["neighbor_id"] == 1
    assert rank1["cosine_sim"] > 0.999


def test_pq_differential_vs_numpy_twin(spark):
    """PQ codebook training + encoding + ADC ranking re-implemented
    independently in numpy with the same seeds and rounding — the
    distributed plan must reproduce it exactly (codes AND rounded ADC
    distances). Falsifies the all-subspaces-in-one-plan join logic."""
    import numpy as np

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(60)
        .collect()
    )
    ids = [r["vec_id"] for r in emb]
    X = np.array([r["embedding"] for r in emb], dtype=np.float64)
    m, k_codes, iters, sub = 4, 8, 2, X.shape[1] // 4
    order = np.argsort(ids)

    # numpy twin, mirroring pq_train's seed/round/tie rules
    books = {}
    for s in range(m):
        Xi = X[:, s * sub : (s + 1) * sub]
        cent = np.round(Xi[order[:k_codes]], 9)
        for _ in range(iters):
            d2 = np.round(
                ((Xi[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2), 6
            )
            a = d2.argmin(axis=1)  # ties -> lowest code, argmin default
            new = cent.copy()
            for c in range(k_codes):
                if (a == c).any():
                    new[c] = np.round(Xi[a == c].mean(axis=0), 9)
            cent = new
        books[s] = cent
    codes_np = {}
    for i, vid in enumerate(ids):
        codes_np[vid] = tuple(
            int(
                np.round(
                    ((X[i, s * sub : (s + 1) * sub] - books[s]) ** 2).sum(
                        axis=1
                    ),
                    6,
                ).argmin()
            )
            for s in range(m)
        )

    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, X)],
        "vec_id long, embedding array<double>",
    )
    trained = similarity.pq_train(df, m=m, k_codes=k_codes, iterations=iters)
    got_books = {
        (r["_s"], r["_code"]): np.array(r["_ce"]) for r in trained.collect()
    }
    for s in range(m):
        for c in range(k_codes):
            assert np.allclose(got_books[(s, c)], books[s][c]), (s, c)
    enc = similarity.pq_encode(df, trained, m=m)
    got_codes = {}
    for r in enc.collect():
        got_codes.setdefault(r["vec_id"], {})[r["_s"]] = r["_code"]
    for vid in ids:
        assert (
            tuple(got_codes[vid][s] for s in range(m)) == codes_np[vid]
        ), vid


def test_pq_adc_refined_recall_vs_exact(spark):
    """ADC + exact-refine recall@10 against brute-force cosine on a
    real embedding slice: the refine stage's promise is near-exact
    accuracy at code-scan cost. Assert recall >= 0.8."""
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(200)
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk_bruteforce(
            emb, queries, k=10
        ).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.pq_topk_adc(
            emb, queries, m=8, k_codes=16, k=10, refine=50
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"PQ+refine recall@10 dropped to {recall}"


def test_prefix_filter_equals_uncapped_jaccard(spark):
    """Prefix filtering is LOSSLESS for J >= t: on a corpus with
    planted near-dups, hot boilerplate, and disjoint docs, the
    PPJoin-style operator must return exactly the pairs the full
    inverted-index join returns at the same threshold."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base + " lambda"),                      # near-dup of 1
        (3, base.replace("delta", "DELTA")),        # near-dup of 1
        (4, "totally different words entirely here now"),
        (5, "common header line " + base),          # partial overlap
        (6, "common header line unrelated tail content words"),
        (7, base),                                  # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.prefix_filter_pairs(
            df, n=3, threshold_frac=(3, 5)
        ).collect()
    }
    exact = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.0).collect()
    want = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in exact
        # integer cross-multiplied threshold, same as the operator
        if r["jaccard"] >= 3 / 5
    }
    assert got == want
    assert any(a == 1 and b == 7 for a, b, _ in got)  # exact dup found


def test_empty_docs_never_pair(spark):
    """Empty/whitespace-only docs yield ZERO shingles and drop out of
    every pair generator — previously they all shared the single ''
    shingle and paired mutually at jaccard 1.0 (an O(n_empty²) blowup
    at corpus scale)."""
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "\t\n"), (4, "real text here ok")],
        "doc_id long, text string",
    )
    assert dedup.shingle(df).count() == 1  # only the real doc survives
    assert dedup.ngram_jaccard_pairs(df, threshold=0.1).count() == 0
    assert dedup.prefix_filter_pairs(df).count() == 0


def test_simhash_bands_partition_informative_bits(spark):
    """Band slices must cover exactly the 60 informative bits (the
    token hash is 60-bit, so bits 60-63 are constant zero): 4 bands ×
    15 bits, and a hamming-1 pair still collides on ≥3 bands."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    fps = dedup.simhash(df)
    b = dedup._simhash_bands(fps, "doc_id", 4)
    rows = b.filter(F.col("doc_id") == 1).orderBy("band").collect()
    assert [r["band"] for r in rows] == [0, 1, 2, 3]
    assert all(0 <= r["key"] < (1 << 15) for r in rows)
    # identical docs share every band key
    other = {r["band"]: r["key"] for r in b.filter("doc_id = 2").collect()}
    assert {r["band"]: r["key"] for r in rows} == other


def test_cosine_zero_norm_is_null_not_error(spark):
    """ANSI mode raises DIVIDE_BY_ZERO on double division: one all-zero
    embedding must yield NULL similarity (ranked last / filtered out),
    not abort the job."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.9, 0.1])],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    got = similarity.cosine_topk_bruteforce(corpus, queries, k=2).collect()
    ids = [r["neighbor_id"] for r in got]
    assert ids[0] == 3  # the real neighbor ranks first
    # the zero vector either ranks last with NULL sim or is present
    null_rows = [r for r in got if r["neighbor_id"] == 2]
    assert all(r["cosine_sim"] is None for r in null_rows)


def test_ivf_topk_probes_euclidean_nearest_centroids(spark):
    """The probe step must rank centroids by the SAME metric KMeans
    partitioned with (L2). A far high-norm centroid must not shadow
    the query's true cell (the old dot-product ranking did exactly
    that for unnormalized corpora)."""
    import random

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(0, 1), rnd.uniform(0, 1)]) for i in range(40)]
    rows += [(100 + i, [50.0 + rnd.uniform(0, 1), 50.0 + rnd.uniform(0, 1)])
             for i in range(40)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(1, rows[1][1])], "vec_id long, embedding array<double>"
    )
    got = similarity.ivf_topk(
        corpus, queries, k=5, n_probe_centroids=1, n_centroids=2
    ).collect()
    assert got, "probe must hit the query's own cell"
    # with dot-product ranking the probe went to the [50,50] cluster
    assert all(r["neighbor_id"] < 100 for r in got)


def test_pq_rejects_indivisible_dim(spark):
    """dim % m != 0 must raise (FAISS semantics), not silently drop
    the trailing dimensions from training/codes/ADC."""
    import pytest

    corpus = spark.createDataFrame(
        [(i, [float(i + j) for j in range(10)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_train(corpus, m=8)


def test_cosine_topk_pandas_empty_queries(spark):
    """Zero queries → empty frame with the output schema, not a numpy
    AxisError on the driver."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    empty_q = corpus.filter("vec_id < 0")
    out = similarity.cosine_topk_pandas(corpus, empty_q, k=3)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "neighbor_id", "rank", "cosine_sim"}


def test_cosine_topk_pandas_zero_norm_matches_expression_path(spark):
    """r9 ADVICE fix: the pandas path scored zero-norm vectors 0.0,
    which ranked AHEAD of genuinely negative similarities — the two
    'identical output' paths disagreed on corpora containing zero
    vectors. Zero-norm pairs must now surface as NULL and rank last,
    exactly like the expression path's try_divide."""
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 0.0]),      # zero-norm: undefined angle
            (3, [-1.0, 0.0]),     # negative similarity to the query
            (4, [0.9, 0.1]),
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0]), (9, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    brute = similarity.cosine_topk_bruteforce(corpus, queries, k=4).collect()
    pand = similarity.cosine_topk_pandas(corpus, queries, k=4).collect()
    key = lambda r: (r["query_id"], r["rank"])
    b = {key(r): (r["neighbor_id"], r["cosine_sim"]) for r in brute}
    p = {key(r): (r["neighbor_id"], r["cosine_sim"]) for r in pand}
    assert b == p
    # the negative-similarity neighbor outranks the zero-norm one
    q1 = sorted(
        [r for r in pand if r["query_id"] == 1], key=lambda r: r["rank"]
    )
    assert [r["neighbor_id"] for r in q1] == [4, 3, 2]
    assert q1[-1]["cosine_sim"] is None
    # the zero-norm QUERY gets only NULL sims, tie-broken on id
    q9 = sorted(
        [r for r in pand if r["query_id"] == 9], key=lambda r: r["rank"]
    )
    assert [r["neighbor_id"] for r in q9] == [1, 2, 3, 4]
    assert all(r["cosine_sim"] is None for r in q9)


def test_simhash_bands_rejects_zero_width_bands(spark):
    """r9 ADVICE fix: bands > 60 informative bits produced zero-width
    slices whose key is constantly 0 — that band cross-joined the
    whole corpus. Must raise up front now."""
    import pytest as _pytest

    fps = spark.createDataFrame(
        [(1, 7), (2, 9)], "doc_id long, simhash long"
    )
    with _pytest.raises(ValueError, match="bands"):
        dedup._simhash_bands(fps, "doc_id", bands=61).collect()
    with _pytest.raises(ValueError, match="bands"):
        dedup._simhash_bands(fps, "doc_id", bands=0).collect()
    # the full legal range still yields ≥1-bit keys
    out = dedup._simhash_bands(fps, "doc_id", bands=60)
    assert out.count() == 120


def test_asof_join_map_valued_columns_are_orderable(spark):
    """r9 ADVICE fix: the deterministic-tiebreak ORDER BY used the raw
    pack struct, so a MapType value column failed analysis (maps are
    unorderable in Spark). The tiebreak now canonicalizes maps to
    sorted entry arrays; ties on (key, ts) still resolve to ONE
    deterministic winner."""
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators.relational import (
        asof_join,
    )

    left = spark.createDataFrame(
        [("a", 10)], "k string, ts long"
    )
    right = spark.createDataFrame(
        [("a", 5, {"x": 1}), ("a", 5, {"x": 2}), ("a", 99, {"x": 9})],
        "k string, ts long, props map<string,int>",
    )
    rows = asof_join(
        left, right, on="k", value_cols=["props"]
    ).collect()
    assert len(rows) == 1
    # greatest sorted-entries array wins the (a, 5) tie deterministically
    assert rows[0]["right_props"] == {"x": 2}
    assert rows[0]["matched_ts"] == 5


def test_asof_join_nested_map_values_are_orderable(spark):
    """r9 review pass: the map canonicalization must recurse — maps
    nested inside arrays, struct fields, or other maps' values failed
    analysis exactly like the top-level case the first fix covered."""
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators.relational import (
        asof_join,
    )

    left = spark.createDataFrame([("a", 10)], "k string, ts long")
    right = spark.createDataFrame(
        [
            ("a", 5, [{"x": 1}], {"m": {"y": 1}}),
            ("a", 5, [{"x": 2}], {"m": {"y": 2}}),
        ],
        "k string, ts long, arr array<map<string,int>>, "
        "nested map<string,map<string,int>>",
    )
    rows = asof_join(
        left, right, on="k", value_cols=["arr", "nested"]
    ).collect()
    assert len(rows) == 1
    assert rows[0]["right_arr"] == [{"x": 2}]
    assert rows[0]["right_nested"] == {"m": {"y": 2}}


def test_als_rank1_fixed_rejects_zero_iterations(spark):
    """r9 review pass: iterations=0 must fail with a pointed
    ValueError, not an AttributeError on the never-assigned user
    frame."""
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.ml.recommend import (
        als_rank1_fixed,
    )

    r = spark.createDataFrame(
        [(1, 10, 0.7)], "user long, item long, rating double"
    )
    with pytest.raises(ValueError, match="iterations"):
        als_rank1_fixed(r, iterations=0)
