"""Seeded Yelp-shaped inputs for the benchmark.

Everything here is a pure function of the seed: the same seed gives
byte-identical CSVs, a different seed gives different ones. The shape
follows what the source paper publishes for the Yelp corpus:

- 57.9 % of reviews are 5 stars; labels are stars >= 4;
- elite users are 4.6 % of users and write 8.2 % of reviews;
- business popularity is Zipf-distributed;
- review lengths are long-tailed (a lognormal quantile table);
- a few texts are quoted, multi-line and carry embedded quotes, and a
  few rows are malformed or carry junk stars, so that quarantine and
  the stars filter have work to do;
- a planted share of reviews carries text of the opposite polarity
  (label noise), so a model that fits the planted vocabulary cannot
  score F1 near 1 and a broken model falls visibly below the floor.

``GenTruth`` records what the generator knows (kept rows, star and
elite counts, top categories), which the benchmark's output checks
compare against. The streaming workload builds its texts in Spark from
the same vocabulary urn and length table (``stream_review_exprs``), so
no large literal ever enters a stream plan.
"""

from __future__ import annotations

import bisect
import csv
import io
import math
import os
import random
import statistics
from collections import Counter
from itertools import accumulate
from dataclasses import dataclass, field

STAR_SHARES = {"5": 0.579, "4": 0.150, "3": 0.080, "2": 0.070, "1": 0.121}
ELITE_USER_SHARE = 0.046
ELITE_REVIEW_SHARE = 0.082
LABEL_NOISE = 0.05  # share of reviews whose text has the other polarity
SENTIMENT_TOKEN_SHARE = 0.3  # share of tokens that carry polarity
CROSS_POLARITY_SHARE = 0.10  # of those, share drawn from the other polarity
MULTILINE_SHARE = 0.02
MALFORMED_SHARE = 0.005
JUNK_STARS_SHARE = 0.01
NULL_TEXT_SHARE = 0.02
NULL_COUNT_SHARE = 0.01

POSITIVE = (
    "great good amazing love excellent delicious friendly fantastic awesome "
    "perfect nice best wonderful happy enjoy recommend fresh tasty lovely "
    "helpful pleasant clean beautiful fun glad favorite impressed outstanding "
    "brilliant"
).split()
NEGATIVE = (
    "bad terrible awful horrible worst rude disgusting poor hate disappointed "
    "dirty nasty gross angry boring sad bland sick slow stale wrong broken "
    "annoying mediocre ugly problem lousy"
).split()
BOOSTERS = "very extremely really absolutely highly".split()
NEGATORS = "not never".split()
CATEGORIES = (
    "Restaurants Food Nightlife Bars Shopping Coffee Beauty Pizza Sandwiches "
    "Breakfast Mexican Italian Chinese Burgers Sushi Bakeries Hotels Fitness"
).split()
STATES = "AZ NV ON NC OH PA QC WI IL SC".split()

FILLER_WORDS = 400
URN_SIZE = 512
LENGTH_TABLE_SIZE = 256
LEN_MU, LEN_SIGMA, LEN_MIN, LEN_MAX = math.log(40.0), 0.6, 5, 400

REVIEW_COLS = [
    "review_id", "user_id", "business_id", "stars", "date", "text",
    "useful", "funny", "cool",
]


def vocabulary(seed: int) -> list[str]:
    """Seeded filler words: pronounceable, lowercase, disjoint from the
    polarity lists so the planted signal stays where it was put."""
    rng = random.Random(f"vocab-{seed}")
    onsets = "b c d f g h j k l m n p r s t v w z br ch pl st tr".split()
    vowels = "a e i o u ai ea oo ou".split()
    reserved = set(POSITIVE) | set(NEGATIVE) | set(BOOSTERS) | set(NEGATORS)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < FILLER_WORDS:
        w = "".join(
            rng.choice(onsets) + rng.choice(vowels)
            for _ in range(rng.choice((1, 2, 2, 3)))
        )
        if w not in seen and w not in reserved:
            seen.add(w)
            words.append(w)
    return words


def filler_urn(seed: int) -> list[str]:
    """URN_SIZE slots laid out so a uniform index into the urn follows a
    Zipf(1) law over the filler words; the rarest words, which would get
    less than one slot, are cut off."""
    words = vocabulary(seed)
    total = sum(1.0 / (r + 1) for r in range(len(words)))
    urn: list[str] = []
    for r, w in enumerate(words):
        urn.extend([w] * max(1, round(URN_SIZE / ((r + 1) * total))))
    return urn[:URN_SIZE]


def length_table() -> list[int]:
    """Token-count quantiles of the lognormal length law; indexing it
    uniformly samples the long-tailed review length."""
    law = statistics.NormalDist(LEN_MU, LEN_SIGMA)
    return [
        int(min(LEN_MAX, max(LEN_MIN, round(math.exp(law.inv_cdf((i + 0.5) / LENGTH_TABLE_SIZE))))))
        for i in range(LENGTH_TABLE_SIZE)
    ]


def review_text(rng: random.Random, urn: list[str], lengths: list[int], positive: bool) -> str:
    """One review: filler from the urn with polarity words, boosters,
    negators and some emphasis mixed in."""
    n = lengths[rng.randrange(len(lengths))]
    own, other = (POSITIVE, NEGATIVE) if positive else (NEGATIVE, POSITIVE)
    toks = []
    for _ in range(n):
        r = rng.random()
        if r < SENTIMENT_TOKEN_SHARE:
            pool = other if rng.random() < CROSS_POLARITY_SHARE else own
            if rng.random() < 0.1:
                toks.append(rng.choice(BOOSTERS))
            elif rng.random() < 0.05:
                toks.append(rng.choice(NEGATORS))
            w = rng.choice(pool)
            toks.append(w.upper() if rng.random() < 0.03 else w)
        else:
            toks.append(urn[rng.randrange(len(urn))])
    if rng.random() < 0.2:
        toks[-1] += "!" * rng.randint(1, 3)
    if rng.random() < 0.05:
        toks.insert(rng.randrange(len(toks)), str(rng.randint(1, 99)))
    return " ".join(toks)


@dataclass
class GenTruth:
    """What the generator knows about the kept (clean, valid) reviews."""

    n_review_rows: int = 0  # data rows written to review.csv
    n_malformed: int = 0  # rows quarantined as corrupt by the reader
    n_kept: int = 0  # rows that survive preprocess
    stars: Counter = field(default_factory=Counter)
    elite_stars: Counter = field(default_factory=Counter)  # (is_elite, stars)
    positive_categories: Counter = field(default_factory=Counter)
    n_flipped: int = 0  # kept reviews with planted opposite-polarity text

    def top_categories(self, k: int = 10) -> list[tuple[str, int]]:
        return sorted(self.positive_categories.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def _zipf_cdf(n: int, s: float) -> list[float]:
    acc, out = 0.0, []
    for r in range(n):
        acc += 1.0 / (r + 1) ** s
        out.append(acc)
    return [x / acc for x in out]


def _pick(rng: random.Random, cdf: list[float]) -> int:
    return min(bisect.bisect_left(cdf, rng.random()), len(cdf) - 1)


def make_yelp(seed: int, n_reviews: int) -> tuple[dict[str, bytes], GenTruth]:
    """The three CSVs (name -> bytes) and the truth about them."""
    rng = random.Random(f"yelp-{seed}")
    urn, lengths = filler_urn(seed), length_table()
    n_users = max(50, n_reviews // 4)
    n_biz = max(20, n_reviews // 20)
    truth = GenTruth()

    n_elite = round(n_users * ELITE_USER_SHARE)
    elite_ids = set(rng.sample(range(n_users), n_elite))
    user_rows, elite_of = [], {}
    for u in range(n_users):
        uid = f"u{u:07d}"
        if u in elite_ids:
            yrs = sorted(rng.sample(range(2010, 2020), rng.randint(1, 3)))
            elite = ",".join(map(str, yrs))
        else:
            elite = "" if rng.random() < 0.01 else "None"  # '' reads as NULL
        elite_of[uid] = u in elite_ids
        user_rows.append((uid, elite))
        if rng.random() < 0.02:  # exact duplicate rows for dropDuplicates
            user_rows.append((uid, elite))

    biz_rows, cats_of = [], {}
    for b in range(n_biz):
        bid = f"b{b:06d}"
        k = rng.randint(1, 3)
        cats = ["Restaurants"] if rng.random() < 0.6 else []
        cats += rng.sample(CATEGORIES[1:], k)
        if rng.random() < 0.01:
            cats.append(rng.choice(["0", "1"]))
        cats_of[bid] = cats
        biz_rows.append((bid, rng.choice(STATES), ";".join(cats)))
        if rng.random() < 0.02:
            biz_rows.append(biz_rows[-1])

    elite_list = sorted(elite_ids)
    plain_list = [u for u in range(n_users) if u not in elite_ids]
    user_cdf = _zipf_cdf(len(plain_list), 0.8)
    biz_cdf = _zipf_cdf(n_biz, 1.1)
    star_keys = list(STAR_SHARES)
    star_cdf = list(accumulate(STAR_SHARES.values()))

    out = io.StringIO()
    w = csv.writer(out, lineterminator="\n")
    w.writerow(REVIEW_COLS)
    for i in range(n_reviews):
        rid = f"r{i:08d}"
        if rng.random() < ELITE_REVIEW_SHARE:
            uid = f"u{rng.choice(elite_list):07d}"
        else:
            uid = f"u{plain_list[_pick(rng, user_cdf)]:07d}"
        bid = f"b{_pick(rng, biz_cdf):06d}"
        if rng.random() < MALFORMED_SHARE:
            out.write(f"{rid},{uid},{bid},5\n")  # too few fields
            truth.n_review_rows += 1
            truth.n_malformed += 1
            continue
        stars = star_keys[_pick(rng, star_cdf)]
        if rng.random() < JUNK_STARS_SHARE:
            stars = rng.choice(["2017", "7", "abc"])
        positive = stars in ("4", "5")
        flipped = rng.random() < LABEL_NOISE
        text = review_text(rng, urn, lengths, positive != flipped)
        if rng.random() < MULTILINE_SHARE:
            cut = len(text) // 2
            text = f'"{text[:cut]}"\n{text[cut:]}'
        if rng.random() < NULL_TEXT_SHARE:
            text = ""
        counts = [
            "" if rng.random() < NULL_COUNT_SHARE else str(rng.randint(0, 20))
            for _ in range(3)
        ]
        date = f"20{rng.randint(10, 19)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        w.writerow([rid, uid, bid, stars, date, text, *counts])
        truth.n_review_rows += 1
        if stars in STAR_SHARES and text and all(counts):
            truth.n_kept += 1
            truth.stars[stars] += 1
            truth.elite_stars[(int(elite_of[uid]), stars)] += 1
            truth.n_flipped += flipped
            if int(stars) >= 4:
                for c in cats_of[bid]:
                    if c not in ("0", "1"):
                        truth.positive_categories[c] += 1

    files = {"review.csv": out.getvalue().encode()}
    for name, cols, rows in (
        ("user.csv", ["user_id", "elite"], user_rows),
        ("business.csv", ["business_id", "state", "categories"], biz_rows),
    ):
        buf = io.StringIO()
        cw = csv.writer(buf, lineterminator="\n")
        cw.writerow(cols)
        cw.writerows(rows)
        files[name] = buf.getvalue().encode()
    return files, truth


def write_files(files: dict[str, bytes], out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, data in files.items():
        p = os.path.join(out_dir, name)
        with open(p, "wb") as f:
            f.write(data)
        paths[name] = p
    return paths


def f1_floor() -> float:
    """Lowest acceptable held-out weighted F1: half-way between what a
    constant majority-class predictor scores and the ceiling the planted
    noise leaves (a perfect text classifier still errs on the
    LABEL_NOISE share whose text has the other polarity)."""
    p = STAR_SHARES["5"] + STAR_SHARES["4"]
    constant = p * (2 * p / (1 + p))  # weighted F1 of always predicting positive
    return (constant + (1.0 - LABEL_NOISE)) / 2


def stream_review_exprs(seed: int, value_col: str = "value"):
    """(text, label) Spark Columns building a review from a row id with
    the same urn, length table, polarity mix, positive share and label
    noise as ``make_yelp``. Hash-driven instead of a Python RNG, so a
    batch frame and a stream rebuild identical texts from the id alone,
    and the plan carries only the small word and length tables."""
    from pyspark.sql import functions as F

    urn, lengths = filler_urn(seed), length_table()
    v = F.col(value_col)

    def h(*salt):
        return F.pmod(F.xxhash64(v, F.lit(seed), *[F.lit(s) for s in salt]), F.lit(1 << 30))

    urn_a = F.array(*[F.lit(w) for w in urn])
    pos_a = F.array(*[F.lit(w) for w in POSITIVE])
    neg_a = F.array(*[F.lit(w) for w in NEGATIVE])
    n = F.element_at(F.array(*[F.lit(x) for x in lengths]), (h(1) % len(lengths) + 1).cast("int"))
    positive = (h(2) % 1000) < int(1000 * (STAR_SHARES["5"] + STAR_SHARES["4"]))
    flipped = (h(3) % 1000) < int(1000 * LABEL_NOISE)
    text_positive = positive != flipped

    def tok(i):
        hv = F.pmod(F.xxhash64(v, F.lit(seed), i), F.lit(1 << 30))
        digit = lambda k, m: ((hv / 10**k).cast("long") % m)  # noqa: E731
        is_sent = digit(0, 100) < int(100 * SENTIMENT_TOKEN_SHARE)
        cross = digit(2, 100) < int(100 * CROSS_POLARITY_SHARE)
        pick_pos = F.element_at(pos_a, (digit(4, len(POSITIVE)) + 1).cast("int"))
        pick_neg = F.element_at(neg_a, (digit(4, len(NEGATIVE)) + 1).cast("int"))
        filler = F.element_at(urn_a, (digit(2, len(urn)) + 1).cast("int"))
        sentiment = F.when(text_positive != cross, pick_pos).otherwise(pick_neg)
        return F.when(is_sent, sentiment).otherwise(filler)

    text = F.array_join(F.transform(F.sequence(F.lit(1), n), tok), " ")
    return text, positive.cast("double")
