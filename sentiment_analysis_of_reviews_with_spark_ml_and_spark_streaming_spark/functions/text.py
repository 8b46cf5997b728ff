"""Scalar text functions, incl. lexicon sentiment scoring.

The reference scores sentiment with an NLTK-VADER Python UDF — one
closure-serialized ``SentimentIntensityAnalyzer`` call per row
(``sia_udf`` at Scalable_EDA_Final.py:377-386). That is the canonical
UDF-as-bottleneck anti-pattern: per-row pickle + GIL-bound Python.

Spark-first re-design:

1. ``sentiment_compound`` — lexicon as a Catalyst *map literal*;
   token-wise lookup + sum stays entirely in codegen (zero Python).
   Right answer for small lexicons (we ship a compact built-in one).
2. ``vader_score`` — the full VADER rule set as native expressions,
   broadcast-joining a lexicon DataFrame (VADER-scale by default,
   user-supplied via ``lexicon=``).

Compound normalization follows VADER's published formula
score/sqrt(score² + 15) → [-1, 1].
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Compact polarity lexicon (public VADER-style valences, abridged).
SENTIMENT_LEXICON: dict[str, float] = {
    "good": 1.9, "great": 3.1, "excellent": 2.7, "amazing": 2.8,
    "awesome": 3.1, "love": 3.2, "loved": 2.9, "best": 3.2,
    "nice": 1.8, "happy": 2.7, "wonderful": 2.7, "delicious": 2.9,
    "fantastic": 2.6, "perfect": 2.7, "friendly": 2.2, "fresh": 1.3,
    "fast": 0.9, "clean": 1.7, "recommend": 1.5, "tasty": 2.3,
    "bad": -2.5, "terrible": -2.1, "awful": -2.0, "horrible": -2.5,
    "hate": -2.7, "hated": -2.8, "worst": -3.1, "slow": -0.8,
    "dirty": -1.8, "rude": -2.0, "poor": -2.1, "disappointing": -2.1,
    "disappointed": -2.2, "bland": -1.3, "cold": -0.4, "expensive": -0.9,
    "wait": -0.3, "mediocre": -1.0, "gross": -2.1, "stale": -1.5,
}

_NORM = 15.0  # VADER's alpha


# Java's \s spelled out byte-for-byte so the pattern mirrored into
# DuckDB twins is textually identical on both engines (the r12
# byte-identical shared-pattern convention; RE2's \s lacks \x0B).
WS_SPLIT_PATTERN = "[ \\t\\n\\x0B\\f\\r]+"


def tokenize_ws(col: Column | str) -> Column:
    """Lowercase + whitespace tokenize (Tokenizer parity, no pipeline)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(c)), WS_SPLIT_PATTERN)


def _lexicon_map(lexicon: dict[str, float]) -> Column:
    pairs: list[Column] = []
    for word, val in lexicon.items():
        pairs.append(F.lit(word))
        pairs.append(F.lit(float(val)))
    return F.create_map(*pairs)


def sentiment_compound(
    tokens: Column | str, lexicon: dict[str, float] | None = None
) -> Column:
    """VADER-style compound score over a token array, fully codegen'd.

    raw = Σ valence(token); compound = raw / sqrt(raw² + 15).
    """
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    m = _lexicon_map(lexicon or SENTIMENT_LEXICON)
    raw = F.aggregate(
        t,
        F.lit(0.0),
        lambda acc, tok: acc + F.coalesce(F.element_at(m, tok), F.lit(0.0)),
    )
    return raw / F.sqrt(raw * raw + F.lit(_NORM))


def stem_light(col: Column | str) -> Column:
    """Rule-based suffix stripper (Porter step-1-ish), pure regex.

    The reference imports nltk PorterStemmer but never applies it
    (Yelp_Data_PreProcessing.py:15-22, SURVEY.md §2.9 unused-surface);
    this makes a light variant real, engine-side and codegen'd:
    sses→ss, ies→i, ss stays, trailing s drops; ing/ed drop when a
    vowel precedes (len guard via the preceding-stem pattern).
    """
    # capture-group rules (no lookbehind: RE2 oracles can't express it)
    c = F.col(col) if isinstance(col, str) else col
    step = F.regexp_replace(c, "sses$", "ss")
    step = F.regexp_replace(step, "ies$", "i")
    step = F.regexp_replace(step, "([^s])s$", "$1")
    step = F.regexp_replace(step, "([aeiou][a-z])(ing|ed)$", "$1")
    return step


def vader_score(
    df: DataFrame,
    lexicon: dict[str, float] | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """Full VADER-style sentiment: lexicon + the published context rules,
    entirely as native expressions → (id_col, compound).

    Replaces the reference's per-row NLTK ``SentimentIntensityAnalyzer``
    UDF (Scalable_EDA_Final.py:377-386) with a declarative plan:

      posexplode(tokens)                          narrow
      → broadcast join lexicon(word, valence)     map-side, no fact shuffle
      → lag-window context (3 preceding tokens)   ONE shuffle on doc id
      → per-doc aggregation                       reuses the window partitioning

    Implemented rules (Hutto & Gilbert 2014 constants, sequential
    per-distance application exactly as the public reference):

    - ALL-CAPS emphasis (+0.733·sign) when the doc is mixed-case
    - booster/dampener words at distance 1-3 (±0.293, damped
      ×1/0.95/0.9, caps-boosted, only when the booster token itself is
      not a lexicon entry), applied with the sign of the *running*
      valence so a nearer negation affects a farther booster
    - negation flip ×(-0.74) per matching distance (compounding)
    - '!' emphasis 0.292 each (≤4) and '?' emphasis (0.36-0.96) added
      to the doc score with its sign
    - normalization x/√(x²+15)

    Out of scope (documented subset): idiom table, "never so/this"
    special case, the but-clause re-weighting, and emoticons (token-edge
    punctuation is stripped before lookup).

    Cross-engine determinism: per-token valences are rounded to integer
    micro-units and summed as longs, so the per-doc sum is independent
    of partial-aggregation order (same trick as exact-decimal sums).

    Plan-shape notes: the three context lags are packed into one struct
    per distance (3 window expressions, not 9), and each sequential
    valence step is materialized as a named projection column — chained
    `when` trees would embed the previous step's subtree ~3× per level
    (~27 duplicated subtrees by distance 3), which measurably bloats
    codegen; the projection form is ~2.5× faster wall-clock and
    Catalyst keeps non-cheap multiply-referenced aliases from being
    re-inlined.
    """
    from .vader_lexicon import (
        ALPHA,
        B_DECAY,
        BOOSTERS,
        C_INCR,
        EP_UNIT,
        FULL_LEXICON,
        N_SCALAR,
        NEGATORS,
        QM_CAP,
        QM_UNIT,
    )
    from pyspark.sql import Window

    lex = lexicon or FULL_LEXICON
    spark = df.sparkSession
    lex_df = spark.createDataFrame(
        sorted(lex.items()), "word string, valence double"
    )

    # NULL text → '' so the doc still emits a (compound 0.0) row:
    # posexplode of a null token array emits NOTHING and the doc would
    # silently vanish from the output (and from inner joins on it).
    text = F.coalesce(F.col(text_col), F.lit(""))
    n_ex = F.length(text) - F.length(F.regexp_replace(text, "!", ""))
    n_qm = F.length(text) - F.length(F.regexp_replace(text, "\\?", ""))
    emph = F.least(n_ex, F.lit(4)) * F.lit(EP_UNIT) + (
        F.when(n_qm > 3, F.lit(QM_CAP))
        .when(n_qm > 1, n_qm * F.lit(QM_UNIT))
        .otherwise(F.lit(0.0))
    )

    base = df.select(
        F.col(id_col),
        emph.alias("emph"),
        F.posexplode(F.split(F.trim(text), "\\s+")).alias("pos", "rawtok"),
    )
    # \p{L}\p{N}, not A-Za-z0-9: the ASCII class ate accented LETTERS
    # off token edges ('café' → 'caf'), silently under-scoring
    # non-ASCII-bearing text (r11 review finding). \p classes parse
    # identically in Java regex and RE2, so the SQL twin mirrors this
    # verbatim.
    strip = F.regexp_replace(
        "rawtok", "^[^\\p{L}\\p{N}']+|[^\\p{L}\\p{N}']+$", ""
    )
    # r15 (guide §4.4-adjacent, shared-subexpression hoisting): `strip`
    # used to be inlined FOUR times per token (lower + three rlikes) and
    # the caps rlike twice — Catalyst re-evaluated the edge-strip regex
    # per reference. Naming each once in its own projection keeps a
    # single evaluation (CollapseProject does not re-inline non-cheap
    # aliases referenced more than once — the same device the
    # sequential-valence steps below rely on). Identical values.
    stripped = base.select(
        id_col,
        "emph",
        "pos",
        strip.alias("_st"),
    ).select(
        id_col,
        "emph",
        "pos",
        F.col("_st"),
        F.col("_st").rlike("^[A-Z][A-Z]+$").cast("int").alias("is_caps"),
    )
    toks = stripped.select(
        id_col,
        "emph",
        "pos",
        F.lower("_st").alias("word"),
        "is_caps",
        (F.col("_st").rlike("[A-Za-z]") & (F.col("is_caps") == 0))
        .cast("int")
        .alias("is_noncaps_alpha"),
    )
    joined = toks.join(F.broadcast(lex_df), on="word", how="left")

    wdoc = Window.partitionBy(id_col)
    worder = Window.partitionBy(id_col).orderBy("pos")
    mixed = (F.max("is_caps").over(wdoc) == 1) & (
        F.max("is_noncaps_alpha").over(wdoc) == 1
    )
    in_lex = F.col("valence").isNotNull().cast("int")
    ctx = joined.select(
        id_col,
        "emph",
        "pos",
        "word",
        "is_caps",
        F.coalesce("valence", F.lit(0.0)).alias("v0"),
        mixed.alias("mixed"),
        *[
            F.lag(
                F.struct(
                    F.col("word").alias("w"),
                    in_lex.alias("il"),
                    F.col("is_caps").alias("ic"),
                ),
                d,
            )
            .over(worder)
            .alias(f"p{d}")
            for d in (1, 2, 3)
        ],
    )

    bmap = F.create_map(
        *[
            F.lit(x)
            for pair in sorted(BOOSTERS.items())
            for x in (pair[0], float(pair[1]))
        ]
    )
    neg_list = sorted(NEGATORS)

    # caps emphasis on the scored token itself
    cur = ctx.withColumn(
        "v_c",
        F.col("v0")
        + F.when(
            (F.col("is_caps") == 1) & F.col("mixed"),
            F.lit(C_INCR) * F.signum("v0"),
        ).otherwise(F.lit(0.0)),
    )
    # sequential distance-1..3 steps: booster with the sign of the
    # RUNNING valence, then negation flip — order matters and matches
    # the published algorithm's loop. Each step is a named column so
    # the expression tree stays linear (see docstring).
    prev = "v_c"
    for d, decay in zip((1, 2, 3), B_DECAY):
        b_d = F.element_at(bmap, F.col(f"p{d}.w"))
        caps_term = F.when(
            (F.col(f"p{d}.ic") == 1) & F.col("mixed"), F.lit(C_INCR)
        ).otherwise(F.lit(0.0))
        cur = cur.withColumn(
            f"vb{d}",
            F.col(prev)
            + F.when(
                b_d.isNotNull() & (F.col(f"p{d}.il") == 0),
                (b_d + caps_term) * F.lit(decay) * F.signum(F.col(prev)),
            ).otherwise(F.lit(0.0)),
        )
        cur = cur.withColumn(
            f"v{d}",
            F.when(
                (F.col(f"p{d}.il") == 0) & F.col(f"p{d}.w").isin(neg_list),
                F.col(f"vb{d}") * F.lit(N_SCALAR),
            ).otherwise(F.col(f"vb{d}")),
        )
        prev = f"v{d}"

    micro = F.round(F.col(prev) * F.lit(1_000_000.0), 0).cast("long")
    agg = cur.select(id_col, "emph", micro.alias("micro")).groupBy(id_col).agg(
        F.sum("micro").alias("m"), F.max("emph").alias("emph")
    )
    raw = F.col("m") / F.lit(1_000_000.0)
    raw2 = (
        F.when(raw > 0, raw + F.col("emph"))
        .when(raw < 0, raw - F.col("emph"))
        .otherwise(F.lit(0.0))
    )
    return agg.select(
        F.col(id_col),
        F.round(raw2 / F.sqrt(raw2 * raw2 + F.lit(ALPHA)), round_digits).alias(
            "compound"
        ),
    )
