"""The input generator: determinism and the published corpus shape."""

import csv
import hashlib
import io
import os
import subprocess
import sys

import gen


def test_same_seed_gives_identical_bytes():
    a, ta = gen.make_yelp(7, 1500)
    b, tb = gen.make_yelp(7, 1500)
    assert a == b
    assert ta == tb


def test_same_seed_gives_identical_bytes_across_processes():
    """Each benchmark run is its own process: nothing may hang on
    Python's per-process string hashing."""
    code = (
        "import hashlib, gen; f, _ = gen.make_yelp(7, 500); "
        "print(hashlib.sha256(b''.join(f[k] for k in sorted(f))).hexdigest())"
    )
    here = os.path.dirname(os.path.abspath(gen.__file__))
    digests = {
        subprocess.run([sys.executable, "-c", code], cwd=here, capture_output=True, text=True, check=True,
                       env={**os.environ, "PYTHONHASHSEED": str(s)}).stdout
        for s in (1, 2)
    }
    files, _ = gen.make_yelp(7, 500)
    assert digests == {hashlib.sha256(b"".join(files[k] for k in sorted(files))).hexdigest() + "\n"}


def test_different_seeds_give_different_inputs():
    a, _ = gen.make_yelp(7, 1500)
    b, _ = gen.make_yelp(8, 1500)
    for name in ("review.csv", "user.csv", "business.csv"):
        assert a[name] != b[name]
    assert gen.vocabulary(7) != gen.vocabulary(8)


def test_published_shape():
    files, truth = gen.make_yelp(3, 20000)
    five_star = truth.stars["5"] / truth.n_kept
    assert abs(five_star - gen.STAR_SHARES["5"]) < 0.02
    users = list(csv.DictReader(io.StringIO(files["user.csv"].decode())))
    distinct = {u["user_id"]: u["elite"] for u in users}
    elite = [uid for uid, e in distinct.items() if e not in ("None", "")]
    assert len(elite) == round(len(distinct) * gen.ELITE_USER_SHARE)
    elite_reviews = sum(n for (is_elite, _), n in truth.elite_stars.items() if is_elite)
    assert abs(elite_reviews / truth.n_kept - gen.ELITE_REVIEW_SHARE) < 0.01
    assert truth.n_malformed > 0 and truth.n_kept < truth.n_review_rows
    assert abs(truth.n_flipped / truth.n_kept - gen.LABEL_NOISE) < 0.01


def test_quoted_multiline_texts_round_trip_through_csv():
    files, truth = gen.make_yelp(5, 3000)
    rows = list(csv.reader(io.StringIO(files["review.csv"].decode())))
    multiline = [r for r in rows[1:] if len(r) == len(gen.REVIEW_COLS) and "\n" in r[5]]
    assert multiline and all('"' in r[5] for r in multiline)
    short = [r for r in rows[1:] if len(r) != len(gen.REVIEW_COLS)]
    assert len(short) == truth.n_malformed


def test_long_tailed_lengths():
    lengths = gen.length_table()
    assert lengths == sorted(lengths)
    median = lengths[len(lengths) // 2]
    assert lengths[-1] > 3 * median and lengths[0] >= gen.LEN_MIN
