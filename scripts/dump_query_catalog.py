"""Regenerate docs/QUERIES.md: one row per registered query with its
check type and first docstring line. Run: python scripts/dump_query_catalog.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.plans.queries import (
    ORACLE,
    QUERIES,
)


def _newest_greens() -> dict[str, str]:
    """query -> newest driver certificate (e.g. 'r8'), read from the
    committed CORRECTNESS_r{N}.json artifacts so the catalog shows
    certification state without anyone replaying the JSON by hand.
    Only fully-green rows count (every *_match field true)."""
    import glob
    import json
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    newest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r0*(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.load(open(path))
        except (OSError, ValueError):
            continue
        for k, v in data.items():
            if not isinstance(v, dict):
                continue
            checks = [x for key, x in v.items() if key.endswith("_match")]
            if checks and all(checks) and not v.get("err"):
                newest[k] = max(newest.get(k, 0), rnd)
    return {k: f"r{n}" for k, n in newest.items()}


def main() -> None:
    greens = _newest_greens()
    window = list(QUERIES)[:50]
    n_green = sum(1 for k in QUERIES if k in greens)
    lines = [
        "# QUERIES — driver-contract catalog",
        "",
        f"{len(QUERIES)} named queries; {len(ORACLE)} DuckDB-oracle-backed "
        "(value-hash checked at sf0.01), the rest rows-only with unit-test "
        "coverage (see PARITY.md).",
        "",
        f"`green` = newest fully-green driver certificate "
        f"(CORRECTNESS_r{{N}}.json); {n_green} queries hold one. "
        "`window` marks the first 50 registry keys, the ones the driver "
        "grades (oracle-backed keys come first, in registration order).",
        "",
        "| query | check | green | summary |",
        "|---|---|---|---|",
    ]
    for name in sorted(QUERIES):
        fn = QUERIES[name]
        doc = (fn.__doc__ or "").strip().splitlines()
        # first full sentence of the first paragraph (not the first
        # physical line — docstrings wrap at ~72 cols mid-sentence)
        para: list[str] = []
        for ln in doc:
            if not ln.strip():
                break
            para.append(ln.strip())
        flat = " ".join(para)
        # first sentence end that is NOT an abbreviation (e.g./i.e./…)
        import re

        end = None
        for m in re.finditer(r"[.!?] ", flat):
            head = flat[: m.start()].rsplit(None, 1)
            last = head[-1].lower() if head else ""
            if last in ("e.g", "i.e", "vs", "etc", "cf", "al", "resp"):
                continue
            end = m.start() + 1
            break
        summary = flat[:end] if end else flat
        summary = summary.replace("|", "\\|")
        check = "oracle" if name in ORACLE else "rows-only"
        green = greens.get(name, "—")
        if name in window:
            green = f"{green}, window" if green != "—" else "window"
        lines.append(f"| `{name}` | {check} | {green} | {summary} |")
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "QUERIES.md",
    )
    # Preserve the hand-written prose (addition notes, registry order)
    # that follows the generated table: everything from the first "## "
    # heading onward survives regeneration.
    prose = ""
    if os.path.exists(out):
        with open(out) as f:
            old = f.read()
        idx = old.find("\n## ")
        if idx != -1:
            prose = old[idx:]
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n" + prose)
    print(f"wrote {out} ({len(QUERIES)} queries)")


if __name__ == "__main__":
    main()
