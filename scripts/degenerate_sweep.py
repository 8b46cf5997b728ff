"""Registry-wide degenerate-input sweep (r10 review-pass tool).

Runs EVERY oracle-backed query against (a) empty copies and (b)
single-row copies of all ten tables, comparing each against its DuckDB
oracle with the same canon as the driver twin
(tests/oracle_harness.compare). This is the input class the sf0.01
harness never produces but a match-nothing filter produces at any
scale — the r10 sweep found two crash classes here (ANSI aborts on
zero denominators; unguarded 1-row driver readbacks) plus the
rollup-over-empty engine deviation, ~30 fixes total.

Exit status is nonzero if any NON-whitelisted query crashes or
mismatches, so the sweep can gate a round close:

    python scripts/degenerate_sweep.py            # both profiles
    python scripts/degenerate_sweep.py empty      # one profile

The pinned subset of findings runs in CI via tests/test_empty_input.py;
this script is the full-registry discovery tool.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# --- whitelists: loud requires-data errors are CORRECT behavior -------
# MLlib fits / vector-dim probes cannot produce a model or an index
# from zero (or one) rows; each raises a clear message. Each entry
# pins the EXPECTED error via a regex matched against the full
# exception text (ADVICE r10: a blanket catch printed any unrelated
# new crash — e.g. a regression's AnalysisException — as
# 'requires-data (whitelisted)' without flipping the gate's exit
# status). An unexpected error on a whitelisted query now counts as a
# CRASH like everywhere else. Entries verified against the actual
# raise sites 2026-08-16; names that stopped raising (als_rank1 /
# single-row ml_tfidf/quality_classifier) and names with no oracle
# (the sweep iterates sorted(ORACLE)) were dropped rather than kept
# as dead rows.
_NO_VECTOR = r"cannot infer vector dimension"
REQUIRES_DATA: dict[str, dict[str, str]] = {
    "empty": {
        "ml_tfidf_features": r"Haven't seen any document yet",
        "ml_train_f1": r"Haven't seen any document yet",
        "quality_classifier_agreement":
            r"Nothing has been added to this summarizer",
        "observe_scan_metrics": r"key not found: scan_metrics",
        "similarity_hyperplane_lsh": _NO_VECTOR,
        "similarity_pq_codes": _NO_VECTOR,
        "similarity_pq_adc_topk": _NO_VECTOR,
        # LSH.fit probes the first row for the vector dimension —
        # empty input has no head (dedup_minhash_lsh is NOT here:
        # HashingTF stamps numFeatures into the column's ML attribute
        # metadata, so its LSH.fit never touches first() and the empty
        # profile just yields zero pairs)
        "similarity_ann_lsh": r"head of empty array",
    },
    "single": {
        "ml_train_f1": r"only supports binary classification",
    },
    # 50 identical rows: one class, one distinct doc/vector
    "constant": {
        "ml_train_f1": r"only supports binary classification",
    },
    # one real row + one all-null-measures row: still one class/doc
    "nullrow": {
        "ml_train_f1": r"only supports binary classification",
    },
}
# Spark returns 0 rows for rollup/cube/grouping-sets over empty input;
# the SQL standard (and DuckDB) emit the grand-total row — documented
# engine deviation (DESIGN.md §3), mismatch expected on `empty` only.
ENGINE_DEVIATION = {
    "empty": {"rollup_returnflag", "cube_status_priority",
              "hypertable_rollup"},
    "single": set(),
    "constant": set(),
    "nullrow": set(),
}
# The `constant` profile replicates ONE row 50x, which duplicates
# PRIMARY KEYS (doc_id/vec_id/custkey...) — input the real tables
# never produce. Queries keyed on a PK legitimately assume uniqueness
# (the oracle partitions/joins by it; Spark scores per row or
# explodes the join), so their twins diverge on this profile BY
# CONTRACT, not by bug. Each entry names the assumed key. The r11
# sweep DID yield real fixes on this profile before this whitelist:
# two ANSI zero-variance aborts (zscore, regression_trend) and a
# bloom oracle aligned to bloom_probe's per-VALUE contract.
KEY_INVARIANT = {
    "constant": {
        "lang_id": "doc_id (oracle argmax partitions by it)",
        "ml_tfidf_features": "doc_id (IDF df counts rows vs docs)",
        "embedding_quantization": "vec_id (recon join fans out)",
        "multimodal_byte_features": "doc_id (per-doc histogram rows)",
    },
    "empty": {},
    "single": {},
    "nullrow": {},
}


# Key (PK/FK) columns per table: the nullrow profile keeps these
# non-null (uniqueness-respecting, +1-shifted) and nulls everything
# else — NULL keys are a different (invariant-violating) input class.
_KEY_COLS = {
    "region": {"r_regionkey"},
    "nation": {"n_nationkey", "n_regionkey"},
    "customer": {"c_custkey", "c_nationkey"},
    "supplier": {"s_suppkey", "s_nationkey"},
    "part": {"p_partkey"},
    "orders": {"o_orderkey", "o_custkey"},
    "lineitem": {"l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"},
    "events": {"event_id", "user_id"},
    "documents": {"doc_id"},
    "embeddings": {"vec_id"},
}


def make_tables(profile: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.schemas import (
        TABLE_NAMES,
    )

    d = tempfile.mkdtemp(prefix=f"sf_degenerate_{profile}_")
    for t in TABLE_NAMES:
        src = f"/root/testdata/sf0.001/{t}.parquet"
        if profile == "empty":
            sch = pq.read_schema(src)
            tbl = pa.table({f.name: pa.array([], type=f.type) for f in sch})
        elif profile == "constant":
            # 50 IDENTICAL rows (r11): zero variance with n>1, total
            # rank ties, every row in one group — a different
            # denominator class than empty (no rows) and single (n=1):
            # var/(n-1) divides 0 by 49, rank spreads are 0 at full n,
            # and medians/percentiles interpolate between equal values
            one = pq.read_table(src).slice(0, 1)
            tbl = pa.concat_tables([one] * 50)
        elif profile == "nullrow":
            # one REAL row + one row with every NON-KEY column NULL
            # (keys +1-shifted so uniqueness holds): exercises NULL
            # group keys? no — NULL measures, NULL text, NULL
            # timestamps, NULL vectors flowing through every
            # aggregate, window order, and join — ubiquitous at
            # 100 TB, absent from the pristine fixture (r11)
            one = pq.read_table(src).slice(0, 1)
            keys = _KEY_COLS[t]
            cols = {}
            for field in one.schema:
                col = one.column(field.name)
                if field.name in keys:
                    shifted = pa.array(
                        [col.to_pylist()[0] + 1], type=field.type
                    )
                    cols[field.name] = pa.concat_arrays(
                        [col.combine_chunks(), shifted]
                    )
                else:
                    cols[field.name] = pa.concat_arrays(
                        [
                            col.combine_chunks(),
                            pa.array([None], type=field.type),
                        ]
                    )
            tbl = pa.table(cols)
        else:
            tbl = pq.read_table(src).slice(0, 1)
        pq.write_table(tbl, os.path.join(d, f"{t}.parquet"))
    return d


def sweep(spark, profile: str) -> int:
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.plans.queries import (
        ORACLE,
        QUERIES,
    )
    from tests.oracle_harness import compare

    d = make_tables(profile)
    bad = 0
    try:
        for name in sorted(ORACLE):
            try:
                r = compare(spark, QUERIES[name], ORACLE[name], d)
            except Exception as ex:  # noqa: BLE001 - report, don't die
                expected = REQUIRES_DATA[profile].get(name)
                if expected and re.search(expected, str(ex)):
                    print(f"  [{profile}] {name}: requires-data "
                          f"(expected error matched): "
                          f"{str(ex).splitlines()[0][:90]}")
                else:
                    bad += 1
                    kind = ("whitelisted query raised an UNEXPECTED error"
                            if expected else "CRASH")
                    print(f"  [{profile}] {name}: {kind} "
                          f"{str(ex).splitlines()[0][:140]}")
                continue
            ok = r["count_match"] and r["value_match"]
            if not ok and name in ENGINE_DEVIATION[profile]:
                print(f"  [{profile}] {name}: rollup-over-empty engine "
                      "deviation (documented)")
            elif not ok and name in KEY_INVARIANT[profile]:
                print(f"  [{profile}] {name}: primary-key-uniqueness "
                      f"assumption, out of contract on this profile "
                      f"({KEY_INVARIANT[profile][name]})")
            elif not ok:
                bad += 1
                # first_diffs is a list of row pairs (readable compare)
                # or a spark_only/oracle_only dict (canonical compare)
                diffs = r.get("first_diffs", [])
                if isinstance(diffs, list):
                    diffs = diffs[:2]
                print(f"  [{profile}] {name}: MISMATCH {diffs}")
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return bad


def main() -> None:
    profiles = sys.argv[1:] or ["empty", "single", "constant", "nullrow"]
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.session import (
        get_spark,
    )

    spark = get_spark(app_name="degenerate-sweep")
    total_bad = 0
    for p in profiles:
        print(f"== profile: {p} ==")
        total_bad += sweep(spark, p)
    print(f"unexpected failures: {total_bad}")
    sys.exit(1 if total_bad else 0)


if __name__ == "__main__":
    main()
