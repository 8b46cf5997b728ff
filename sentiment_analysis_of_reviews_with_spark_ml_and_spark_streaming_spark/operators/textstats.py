"""Text-analysis operators: language ID, quality scoring, token
counting, document fingerprinting.

Uplift for LLM-data pipelines; everything is native Column expressions
(codegen, no Python), so these run at scan speed over 100 TB of text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets (public common stopwords).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es", "que", "por"],
    "de": ["der", "die", "das", "und", "ein", "eine", "ist", "zu", "den", "für"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "就", "不", "人"],
}

# Languages written WITHOUT whitespace word segmentation: their markers
# must match as substrings — the space-boundary rule below can never
# fire on real unsegmented text (r11 review finding: every real Chinese
# doc scored 0 hits and fell to 'und').
UNSEGMENTED_LANGS = {"zh"}

# A BPE-ish word/number/punct-run splitter: words, digit runs, or
# single non-space symbols — a cheap proxy for subword token counts.
# The whitespace complement is spelled out (Java's \s set): the
# pattern is interpolated verbatim into DuckDB twins, and RE2's \s
# lacks \x0B, which would count vertical tabs as BPE tokens on one
# engine only (r12 sweep of the r11-ADVICE regex-class finding).
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]"

# Byte-identical trailing-whitespace strip for BOTH engines: Java's \s
# includes \x0B (vertical tab) where RE2's does not, so a bare \s+$
# keeps a '.\x0B' line on Spark but rejects it in DuckDB — the exact
# cross-engine regex class the repo's byte-for-byte convention exists
# to prevent (r11 ADVICE; see clean.PUNCT_DIGITS_CLASS). The class
# spells out Java's \s so Spark behavior is unchanged.
TRAILING_WS_PATTERN = "[ \\t\\n\\x0B\\f\\r]+$"


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.when(F.trim(c) == "", 0).otherwise(
        F.size(F.split(F.trim(c), "\\s+"))
    ).cast("int")


def token_count_bpe_ish(text: Column | str) -> Column:
    """Count of BPE-ish regex tokens (words / digit runs / symbols)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)).cast("int")


def c4_line_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4-style line-level cleaning decisions (Raffel et al. 2020 §2.2)
    as pure Column expressions → one row per doc.

    Per line (split on ``\\n``): keep iff it ends in a terminal
    punctuation mark (``. ! ? "``) AND has ≥ ``min_words_per_line``
    whitespace words. Per doc: ``keep_doc`` iff ≥ ``min_kept_lines``
    kept lines, no ``lorem ipsum``, and no ``{`` (the C4 code-page
    heuristic).

    Scale shape: everything is higher-order array functions over the
    text column — a single narrow projection, zero shuffles, zero
    Python; runs at scan speed over 100 TB and composes with any
    downstream filter. Returns (id, n_lines, n_kept_lines,
    kept_char_frac, has_lorem_ipsum, has_curly_brace, keep_doc).

    NULL text coalesces to '' (r11 review finding): NULL poisoned
    every stat INCLUDING keep_doc, so the doc vanished from BOTH the
    keep and the reject partitions of any downstream filter — the same
    guard vader_score already applies.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    # \r?\n so CRLF text doesn't leave \r on every line; the terminal-
    # punctuation check reads the literal last char instead of a '$'
    # regex — Java's '$' matches BEFORE a trailing line terminator
    # while RE2's does not, so an anchor here would silently diverge
    # from the DuckDB oracle on \r-bearing lines (round-3 review find)
    lines = F.split(c, "\\r?\\n")
    wc = lambda ln: F.when(F.trim(ln) == "", 0).otherwise(  # noqa: E731
        F.size(F.split(F.trim(ln), "\\s+"))
    )
    # regexp strip, not rtrim: rtrim removes only SPACES, so a line
    # ending '.\t' read its last char as the tab and was wrongly
    # rejected — C4's reference semantics strip all whitespace
    # (str.strip) before the endswith check (r11 review finding).
    # TRAILING_WS_PATTERN, not \s+$: the class must be byte-identical
    # in the DuckDB twin (RE2 \s lacks \x0B) — r11 ADVICE.
    is_kept = lambda ln: F.substring(  # noqa: E731
        F.regexp_replace(ln, TRAILING_WS_PATTERN, ""), -1, 1
    ).isin(".", "!", "?", '"') & (wc(ln) >= min_words_per_line)
    kept = F.filter(lines, is_kept)
    total_chars = F.aggregate(
        lines, F.lit(0), lambda acc, ln: acc + F.length(ln)
    )
    kept_chars = F.aggregate(
        kept, F.lit(0), lambda acc, ln: acc + F.length(ln)
    )
    has_lorem = F.lower(c).contains("lorem ipsum")
    has_brace = c.contains("{")
    n_kept = F.size(kept)
    return df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        n_kept.cast("long").alias("n_kept_lines"),
        F.round(
            F.when(total_chars == 0, 0.0).otherwise(
                kept_chars.cast("double") / total_chars
            ),
            4,
        ).alias("kept_char_frac"),
        has_lorem.alias("has_lorem_ipsum"),
        has_brace.alias("has_curly_brace"),
        (
            (n_kept >= min_kept_lines) & ~has_lorem & ~has_brace
        ).alias("keep_doc"),
    )


def _spaced_norm(text: Column) -> Column:
    """' ' + whitespace-squeezed lowercase text + ' ' — every token is
    then exactly ' token '-delimited for zero-width regex matching."""
    return F.concat(
        F.lit(" "), F.trim(F.regexp_replace(F.lower(text), "\\s+", " ")), F.lit(" ")
    )


def lang_marker_hits(text: Column, lang: str) -> Column:
    """# tokens (with repeats) that are stopword markers for ``lang``.

    Counted with one codegen'd regexp_extract_all over space-delimited
    normalized text (zero-width boundary assertions, so adjacent marker
    tokens all count) — ~5x faster than the interpreted higher-order
    filter over a token array, with identical token semantics.

    UNSEGMENTED_LANGS (zh) count markers as SUBSTRINGS of the lowered
    text instead: real Chinese is not whitespace-segmented, so the
    ' token ' boundary rule matched nothing and every zh doc resolved
    'und' (r11 review finding). The SQL twin mirrors both modes.
    """
    alternation = "|".join(LANG_MARKERS[lang])
    if lang in UNSEGMENTED_LANGS:
        return F.size(
            F.regexp_extract_all(F.lower(text), F.lit(alternation), 0)
        )
    pattern = f"(?<= )(?:{alternation})(?= )"
    return F.size(F.regexp_extract_all(_spaced_norm(text), F.lit(pattern), 0))


def lang_id(df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax over per-language marker hits.

    Returns (id_col, lang_guess, marker_hits). Zero-hit docs resolve to
    'und'; ties among positive-hit languages resolve DETERMINISTICALLY
    to the alphabetically last tied language (array_max compares the
    (hits, lang) struct field-wise — the SQL oracle twin mirrors the
    same rule). Pure expression tree — one pass, no shuffle.
    """
    scores = F.array(
        *[
            F.struct(
                lang_marker_hits(F.col(text_col), lang).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang in sorted(LANG_MARKERS)
        ]
    )
    best = F.array_max(scores)
    return df.select(
        F.col(id_col),
        F.when(best["hits"] > 0, best["lang"]).otherwise("und").alias("lang_guess"),
        best["hits"].cast("int").alias("marker_hits"),
    )


def quality_score(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic document quality: length, punct density, stopword
    ratio, mean word length → score ∈ [0,1].

    Returns (id, n_chars_obs, n_tokens, punct_ratio, stopword_ratio,
    mean_token_len, quality). All ratios rounded(6) for cross-engine
    comparability.

    NULL text coalesces to '' (r11 review finding): F.least skips
    NULLs, so a NULL doc scored length_ok=1.0 and quality 0.625 —
    OUTRANKING genuine gibberish text (0.55) in any threshold filter.
    Empty text now scores the floor the formula gives zero tokens.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(c)
    n_tokens = token_count_ws(c)
    n_punct = F.length(c) - F.length(F.regexp_replace(c, "[\\p{Punct}]", ""))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0)
    n_stop = lang_marker_hits(c, "en")
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(0.0)
    # Σ token lengths == len(squeezed text) - (n_tokens-1) separators;
    # pure integer arithmetic, no per-token loop
    squeezed_len = F.length(F.trim(F.regexp_replace(c, "\\s+", " ")))
    mean_len = F.when(
        n_tokens > 0,
        (squeezed_len - (n_tokens - 1)).cast("double") / n_tokens,
    ).otherwise(0.0)
    # simple bounded score: long enough, low punct, some stopwords,
    # word lengths in a natural band. The stopword signal saturates at
    # a 10% stopword share — natural English prose sits well above it,
    # keyword-stuffed/gibberish text near zero. (It was computed but
    # accidentally omitted from the score until r8.)
    length_ok = F.least(n_tokens.cast("double") / 20.0, F.lit(1.0))
    punct_ok = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio * 5.0)
    wordlen_ok = F.when((mean_len >= 2.0) & (mean_len <= 12.0), 1.0).otherwise(0.5)
    stop_ok = F.least(stop_ratio * 10.0, F.lit(1.0))
    quality = (length_ok + punct_ok + wordlen_ok + stop_ok) / 4.0
    return df.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars_obs"),
        n_tokens.alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(mean_len, 6).alias("mean_token_len"),
        F.round(quality, 6).alias("quality"),
    )


def rolling_fingerprint_sketch(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_chars: int = 8,
    sketch_size: int = 16,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing-style rolling-hash sketch: overlapping char k-grams
    (lookahead regex — codegen, no per-char loop), hash each, keep
    the ``sketch_size`` smallest hashes (bottom-k sketch ≈ winnowing's
    window minima). Near-dup docs share most sketch elements; the
    sketch doubles as a compact (id, 16×8B) shuffle payload at scale.

    ``hash_fn``:
    - ``"xxhash64"`` (default) — cheapest per gram, 8 B elements; the
      production scale path. Sketch: array<bigint>, sketch_hash bigint.
    - ``"md5"`` — ANSI-portable (identical output in DuckDB:
      ``list_sort(list_distinct(...md5 grams...))[1:k]``), so the
      sketch is oracle-checkable engine-to-engine. Sketch:
      array<string> of hex (lexicographic bottom-k), sketch_hash =
      md5 of the comma-joined sketch. Same plan shape, pricier hash.

    Returns (id, sketch, sketch_hash) — sketch_hash is an exact-dup
    key, the array powers containment estimates (|A∩B|/k).
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " "))
    grams = F.regexp_extract_all(
        norm, F.lit(f"(?=(.{{{gram_chars}}}))."), 1
    )
    if hash_fn == "md5":
        hashes = F.transform(grams, lambda g: F.md5(g))
        sketch = F.slice(F.array_sort(F.array_distinct(hashes)), 1, sketch_size)
        return df.select(
            F.col(id_col),
            sketch.alias("sketch"),
            F.md5(F.concat_ws(",", sketch)).alias("sketch_hash"),
        )
    if hash_fn != "xxhash64":
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    hashes = F.transform(grams, lambda g: F.xxhash64(g))
    sketch = F.slice(F.array_sort(F.array_distinct(hashes)), 1, sketch_size)
    return df.select(
        F.col(id_col),
        sketch.alias("sketch"),
        F.xxhash64(sketch.cast("string")).alias("sketch_hash"),
    )


def md5_prefix_long(col: Column | str, *, nchars: int = 15) -> Column:
    """The engine-portable hash-to-integer convention, in ONE place:
    the first ``nchars`` hex chars of md5 parsed base-16 into a bigint
    (nchars ≤ 15 → ≤ 60 bits, always inside int64). DuckDB twin:
    ``CAST('0x' || substring(md5(x), 1, nchars) AS BIGINT)``. Used by
    table fingerprints, shard shuffle keys, simhash token hashes, and
    the Efraimidis–Spirakis sampler (8-char variant); any change to the
    convention must land here and in the SQL twins together."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, nchars), 16, 10).cast("long")


def fingerprint(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic document fingerprint: md5 of normalized text
    (lowercased, whitespace-squeezed). Engine-portable (md5 is ANSI
    everywhere); at scale this doubles as the exact-dedup shuffle key.
    Returns (id, fingerprint)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " "))
    return df.select(F.col(id_col), F.md5(norm).alias("fingerprint"))


# --- encoding-anomaly detection (r13) --------------------------------------
#
# Standard web-corpus curation signals the quality tier didn't cover:
# U+FFFD replacement characters (lossy transcodes), C0 control
# characters outside tab/newline/CR (binary bleed-through), and the
# classic UTF-8-decoded-as-Latin-1 mojibake digraphs (A-tilde +
# accented-vowel tail for lead byte 0xC3; a-circumflex + Euro +
# curly-punctuation tail for 0xE2 0x80; stray A-circumflex before
# NBSP/degree/guillemet for 0xC2). All three are literal/char-class
# regex counts that Java and RE2 interpret identically (no shorthand
# classes, no lookaround), so the patterns are embedded verbatim in
# DuckDB oracle twins. \u escapes keep this source pure ASCII — raw
# mojibake literals in source are themselves a mojibake hazard.
REPLACEMENT_CHAR_PATTERN = "\uFFFD"
# C0 controls minus tab (09), LF (0A), CR (0D); VT/FF (0B/0C)
# included: in web text they are bleed-through, not prose
CONTROL_CHAR_PATTERN = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"
MOJIBAKE_PATTERN = (
    # U+00C3 + the Latin-1 continuation renderings of accented vowels
    "\u00C3[\u00A9\u00A8\u00A0\u00A1\u00A4\u00AA\u00AB"
    "\u00AD\u00AE\u00B1\u00B3\u00B4\u00B6\u00B8\u00B9\u00BA\u00BC]"
    # U+00E2 U+20AC + curly quote / dash / ellipsis tails
    "|\u00E2\u20AC[\u2122\u0153\u02DC\u00A6\u201C\u201D]"
    # stray U+00C2 before NBSP / degree / guillemets / section / middot
    "|\u00C2[\u00A0\u00B0\u00BB\u00AB\u00A7\u00B7]"
)


def encoding_anomaly_counts(text):
    """(n_replacement, n_control, n_mojibake) literal-pattern counts
    over one text column — each a LONG, NULL-safe via coalesce('')."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.coalesce(c, F.lit(""))
    n_rep = F.size(
        F.regexp_extract_all(c, F.lit(REPLACEMENT_CHAR_PATTERN), 0)
    )
    n_ctl = F.size(F.regexp_extract_all(c, F.lit(CONTROL_CHAR_PATTERN), 0))
    n_moj = F.size(F.regexp_extract_all(c, F.lit(MOJIBAKE_PATTERN), 0))
    return (
        n_rep.cast("long"),
        n_ctl.cast("long"),
        n_moj.cast("long"),
    )
