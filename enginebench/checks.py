"""Expected results and the comparison that decides whether an operation's
result is correct.

Expectations are computed without Spark, from the same generated files:
DuckDB runs each query's registered oracle SQL and the lakehouse
expectations, and the Play Store facts come from the input generator.
Every comparison happens outside the timed operations.
"""

from __future__ import annotations

import datetime as _dt
import math
from pathlib import Path

import pandas as pd

# --- canonical value hash ------------------------------------------------------
# The same canonicalisation tools/driver_sim.py applies before hashing (that
# script runs its whole simulation at import, so it is restated here): columns
# sorted by name, datetimes as ISO strings, -0.0 as 0.0, rows sorted, then
# pandas' row hash summed. It does not bridge int64 against float64.


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = {}
    for c in pdf.columns:
        s = pdf[c]
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.dt.strftime("%Y-%m-%dT%H:%M:%S")
        elif s.dtype == object and s.notna().any() and isinstance(
            s.dropna().iloc[0], (_dt.date, _dt.datetime)
        ):
            s = s.map(
                lambda v: None
                if v is None
                else (
                    v.strftime("%Y-%m-%dT%H:%M:%S")
                    if isinstance(v, _dt.datetime)
                    else v.strftime("%Y-%m-%dT00:00:00")
                )
            )
        if pd.api.types.is_float_dtype(s):
            s = s.where(s != 0.0, 0.0)
        out[c] = s
    return pd.DataFrame(out)


def value_hash(pdf: pd.DataFrame) -> int:
    canon = _normalize(pdf)
    canon = canon[sorted(canon.columns)]
    if len(canon):
        canon = canon.sort_values(list(canon.columns), kind="mergesort")
    return int(pd.util.hash_pandas_object(canon.reset_index(drop=True), index=False).sum())


def digest(result) -> dict:
    """What is compared for one result: a frame's row count, column names
    and value hash, or a plain JSON value as it is."""
    if isinstance(result, pd.DataFrame):
        return {"rows": len(result), "cols": sorted(result.columns), "hash": value_hash(result)}
    return {"value": result}


def pair_digest(result: pd.DataFrame) -> dict:
    """A near-duplicate result as its sorted (doc_a, doc_b, jaccard) pairs."""
    cols = sorted(result.columns)
    return {"cols": cols, "pairs": sorted(result[cols].astype(object).values.tolist())}


# An approximate pair operator must return only true pairs, each with its
# exact Jaccard, and at least this share of them. At 16 bands x 4 rows a pair
# at the corpus's 0.8 Jaccard floor is missed with p ~ 2e-4, but misses come
# in groups (one document with an unlucky signature loses every partner in
# its duplicate cluster), so a seed can lose a handful of pairs; a broken
# banding or verify stage loses far more.
MIN_PAIR_RECALL = 0.95


def _pairs_match(got: list, want: list) -> bool:
    truth = {(a, b): j for a, b, j in want}
    return len(got) >= MIN_PAIR_RECALL * len(want) and all(
        (a, b) in truth and math.isclose(j, truth[(a, b)], abs_tol=1e-9) for a, b, j in got
    )


# --- expectations ----------------------------------------------------------------


def _duckdb(data_dir: Path):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=4")
    for p in sorted(data_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    return con


def query_expectations(
    data_dir: Path, oracles: dict[str, str | None], row_counts: dict[str, int], approx_pairs=()
) -> dict:
    """Digest per query: the oracle's result where a query registers one
    (as pairs for the approximate pair operators), else only its row
    count."""
    con = _duckdb(data_dir)
    try:
        out = {}
        for name, sql in oracles.items():
            if sql is None:
                out[name] = {"rows": row_counts[name]}
            elif name in approx_pairs:
                out[name] = pair_digest(con.execute(sql).df())
            else:
                out[name] = digest(con.execute(sql).df())
        return out
    finally:
        con.close()


_CENTS = "CAST(round({p} * 100) AS BIGINT)"


def lakehouse_expectations(data_dir: Path, p) -> dict:
    """The manifest table the lakehouse_etl operations build, evaluated in
    DuckDB over the same orders: batch b holds keys with k % 8 = b
    (version b), version 8 deletes keys with k % 100 = p.delete_residue,
    version 9 upserts keys with k % 100 = p.upsert_residue at price + 1."""
    a, b = p.delete_residue, p.upsert_residue
    lo, hi = p.read_range
    cents, cents1 = _CENTS.format(p="o_totalprice"), _CENTS.format(p="(o_totalprice + 1)")
    con = _duckdb(data_dir)
    try:
        def q(sql: str) -> dict:
            return digest(con.execute(sql).df())

        out = {f"commit_batch_{i}": {"value": i} for i in range(p.n_batches)}
        out["commit_deletes"] = {"value": p.n_batches}
        out["commit_upsert"] = {"value": p.n_batches + 1}
        out["snapshot_read"] = q(f"""
            WITH snap AS (
              SELECT o_orderdate, o_orderpriority, {cents} AS c FROM orders
               WHERE o_orderkey % 100 NOT IN ({a}, {b})
              UNION ALL
              SELECT o_orderdate, o_orderpriority, {cents1} FROM orders WHERE o_orderkey % 100 = {b})
            SELECT o_orderpriority, count(*) AS n_rows, CAST(sum(c) AS BIGINT) AS total_cents
              FROM snap WHERE o_orderdate BETWEEN TIMESTAMP '{lo}' AND TIMESTAMP '{hi}'
             GROUP BY o_orderpriority""")
        out["cdf_drain"] = q(f"""
            WITH feed AS (
              SELECT 'insert' AS _change_type, {cents} AS c FROM orders
              UNION ALL SELECT 'insert', {cents1} FROM orders WHERE o_orderkey % 100 = {b}
              UNION ALL SELECT 'delete', {cents} FROM orders WHERE o_orderkey % 100 IN ({a}, {b}))
            SELECT _change_type, count(*) AS n_rows, CAST(sum(c) AS BIGINT) AS total_cents
              FROM feed GROUP BY _change_type""")
        out["scd2_drain"] = q(f"""
            WITH dim AS (
              SELECT o_orderkey % {p.n_batches} AS valid_from,
                     o_orderkey % 100 NOT IN ({a}, {b}) AS is_current, {cents} AS c FROM orders
              UNION ALL
              SELECT {p.n_batches + 1}, true, {cents1} FROM orders WHERE o_orderkey % 100 = {b})
            SELECT valid_from, is_current, count(*) AS n_rows, CAST(sum(c) AS BIGINT) AS total_cents
              FROM dim GROUP BY valid_from, is_current""")
        return out
    finally:
        con.close()


# --- comparison ------------------------------------------------------------------


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_close(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def matches(got: dict | None, want: dict) -> bool:
    """True when a result digest agrees with its expectation. Only the keys
    the expectation names are compared; floats compare to 1e-9. Pairs of an
    approximate operator must be a large enough subset of the exact ones."""
    if got is None:
        return False
    if "pairs" in want:
        return got.get("cols") == want["cols"] and _pairs_match(got.get("pairs", []), want["pairs"])
    return all(k in got and _close(got[k], v) for k, v in want.items())
