"""Local twin of the driver's DuckDB-oracle comparison.

Runs a Spark query and its oracle SQL side-by-side and compares
row count, column names, and order-insensitive values — the same
contract CORRECTNESS_r{N}.json grades, so failures show up here first.

Two comparison modes, both enforced by the sf0.01 sweep:

- the ORIGINAL value comparison (``_normalize``), which coerces
  Decimal→float and flags numeric-kind divergence separately — kept
  because its diffs are readable;
- the CANONICAL-SERIALIZATION hash (``canonical_hash``, r11 / VERDICT
  r10 stretch #8): every cell is stringified deterministically WITH
  its Python kind (Decimal keeps its scale, float keeps its repr
  including ``-0.0``, bool/int/str/date/datetime/bytes/list are each
  tagged), rows are sorted and sha256'd. This is the strictest
  driver-shaped contract the repo can express: any divergence the
  driver's hasher could see that is NOT an engine-version difference
  (kind, scale, float sign, repr) fails here first, so a local green
  + driver red narrows the cause to engine versions.
"""

from __future__ import annotations

import math
from typing import Any

import duckdb

from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.schemas import (
    TABLE_NAMES,
)


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _norm_cell(v: Any) -> Any:
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # normalize -0.0 and integral floats
        if v == 0:
            return 0.0
        return v
    if hasattr(v, "isoformat"):  # datetime/date
        return v.isoformat()
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(v)
    except ImportError:
        pass
    return v


def _normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in idx) for r in rows]
    return sorted(out, key=repr)


def _numeric_kinds(rows: list[tuple], cols: list[str]) -> dict[str, str]:
    """Per-column python-type kind ('decimal' | 'float' | 'int') of the
    first non-null cell. The driver's hasher does NOT coerce across
    python numeric types (r4's `mixture_token_budget` proved
    Decimal-vs-float; r5's `snapshot_diff_customer` /
    `skew_audit_orders_custkey` proved Decimal-vs-int: DuckDB
    sum(BIGINT) is HUGEINT = decimal128 at the driver's Arrow fetch),
    so ANY numeric-kind divergence is a driver hash-mismatch even when
    the values are numerically equal."""
    import decimal

    kinds: dict[str, str] = {}
    for i, c in enumerate(cols):
        for r in rows:
            v = r[i]
            if v is None:
                continue
            if isinstance(v, decimal.Decimal):
                kinds[c] = "decimal"
            elif isinstance(v, bool):
                pass
            elif isinstance(v, float):
                kinds[c] = "float"
            elif isinstance(v, int):
                kinds[c] = "int"
            break
    return kinds


def decimal_float_mismatches(
    s_rows: list[tuple], s_cols: list[str], d_rows: list[tuple], d_cols: list[str]
) -> list[str]:
    """Columns whose numeric kind (int / float / Decimal) differs
    between the engines — each is a driver hash mismatch."""
    sk = _numeric_kinds(s_rows, s_cols)
    dk = _numeric_kinds(d_rows, d_cols)
    return sorted(c for c in set(sk) & set(dk) if sk[c] != dk[c])


def canonical_cell(v: Any) -> str:
    """Deterministic kind-tagged serialization of one cell. Every
    Python kind the engines emit gets a distinct tag, so a
    Decimal-vs-float or -0.0-vs-0.0 divergence changes the hash —
    exactly the class of difference the driver's hasher sees and the
    readable comparison coerces away."""
    import datetime
    import decimal

    if v is None:
        return "N"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, decimal.Decimal):
        return f"D:{v}"  # str() preserves scale: Decimal('5.00') -> '5.00'
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, str):
        return f"s:{v}"
    if isinstance(v, datetime.datetime):
        return f"t:{v.isoformat()}"
    if isinstance(v, datetime.date):
        return f"d:{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    if isinstance(v, (list, tuple)):  # includes Spark Row (tuple subclass)
        return "[" + ",".join(canonical_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted(v.items(), key=lambda kv: repr(kv[0]))
        return (
            "{"
            + ",".join(
                f"{canonical_cell(k)}={canonical_cell(val)}" for k, val in items
            )
            + "}"
        )
    return f"o:{type(v).__name__}:{v!r}"


def canonical_lines(rows: list[tuple], cols: list[str]) -> list[str]:
    """One serialized line per row: columns sorted by name (the
    driver's convention), rows sorted by their serialized form. The
    SINGLE source of the serialization — the hash and the diff
    diagnostics are both built from it, so they can never disagree."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        "\x1f".join(canonical_cell(r[i]) for i in idx) for r in rows
    )


def canonical_hash(rows: list[tuple], cols: list[str]) -> str:
    """Order-insensitive sha256 over the canonical serialization."""
    import hashlib

    return hashlib.sha256(
        "\x1e".join(canonical_lines(rows, cols)).encode()
    ).hexdigest()


def compare(spark, query_fn, sql: str, sf_dir: str) -> dict:
    sdf = query_fn(spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    # Kind-policy gate (r12, VERDICT r11 task #1): DECIMAL cells in a
    # FINAL hashed projection are the one output kind the driver's
    # grading environment renders differently from this venv (perfect
    # red/green separation across the r11 window) — no oracle-backed
    # query may expose one on either engine. Exact decimal/HUGEINT
    # math stays internal; surfaces render BIGINT/DOUBLE/VARCHAR/
    # BOOLEAN/DATE only (docs/DESIGN.md 'Portable hashed-surface
    # kinds').
    decimal_cols = [
        f.name for f in sdf.schema.fields
        if f.dataType.typeName().startswith("decimal")
    ]

    con = duckdb_conn(sf_dir)
    # Fetch through Arrow, exactly like the driver: DuckDB HUGEINT
    # (any bare integer sum) surfaces as decimal128(38,0)/Decimal here,
    # where .fetchall() would hand back a plain Python int and hide the
    # divergence the driver's hasher sees (the r5 red rows).
    tbl = con.execute(sql).fetch_arrow_table()
    d_cols = list(tbl.schema.names)
    d_rows = [tuple(d.values()) for d in tbl.to_pylist()]
    con.close()

    result = {
        "rows_spark": len(s_rows),
        "rows_oracle": len(d_rows),
        "cols_spark": sorted(s_cols),
        "cols_oracle": sorted(d_cols),
        "count_match": len(s_rows) == len(d_rows),
        "schema_match": sorted(s_cols) == sorted(d_cols),
        "value_match": False,
    }
    import pyarrow.types as pat

    oracle_decimal_cols = [
        n for n, t in zip(tbl.schema.names, tbl.schema.types)
        if pat.is_decimal(t)
    ]
    if decimal_cols or oracle_decimal_cols:
        # Kind-policy violation (decimal final surface) — a distinct
        # failure class from a genuine schema mismatch. Keep
        # schema_match truthful and fail via a dedicated flag so
        # diagnostics point at the policy, not a phantom column diff
        # (r12 advisor finding).
        result["decimal_surface"] = {
            "spark": decimal_cols, "oracle": oracle_decimal_cols,
        }
        result["kind_policy_ok"] = False
        return result
    result["kind_policy_ok"] = True
    if result["count_match"] and result["schema_match"]:
        ns, nd = _normalize(s_rows, s_cols), _normalize(d_rows, d_cols)
        result["value_match"] = ns == nd
        if not result["value_match"]:
            diffs = [(a, b) for a, b in zip(ns, nd) if a != b]
            result["first_diffs"] = diffs[:3]
        # Decimal-vs-float type divergence fails the driver's hasher
        # even when coerced values agree — flag it, don't hide it.
        dfm = decimal_float_mismatches(s_rows, s_cols, d_rows, d_cols)
        if dfm:
            result["decimal_float_mismatch"] = dfm
            result["value_match"] = False
        # Strict driver-shaped contract: kind-tagged canonical
        # serialization hashes must agree (catches -0.0, Decimal
        # scale, and any kind divergence the coercing compare hides).
        sc = canonical_lines(s_rows, s_cols)
        dc = canonical_lines(d_rows, d_cols)
        result["canonical_match"] = sc == dc
        if not result["canonical_match"]:
            result["value_match"] = False
            if "first_diffs" not in result:
                # symmetric set difference, not a zip of two sorted
                # lists — one divergent row that sorts elsewhere would
                # misalign every zipped pair after it and point the
                # debugger at phantom rows (r11 review finding)
                d_set, s_set = set(dc), set(sc)
                result["first_diffs"] = {
                    "spark_only": [ln for ln in sc if ln not in d_set][:3],
                    "oracle_only": [ln for ln in dc if ln not in s_set][:3],
                }
    return result
