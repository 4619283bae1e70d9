"""Independent DuckDB models of the engine's outputs, and the comparisons
the correctness gates run (outside every timed region)."""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from datagen import PAYLOAD


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """The repository's oracle comparison (`selfcheck.compare`)."""
    import selfcheck
    return selfcheck.compare(name, got, want)


def _q(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def keyed_state_sql(base_glob: str, change_paths: list[str], cols: list[str]) -> str:
    """Merged keyed state after replaying `change_paths` in order over the
    base: inside one batch the row with the highest `seq` wins
    (latest-per-key); across batches each column keeps its newest
    non-NULL value (null-skip upsert)."""
    sel = ", ".join(cols)
    parts = [f"SELECT _id, {sel}, 0 AS r FROM read_parquet('{base_glob}')"]
    if change_paths:
        idx = " ".join(f"WHEN '{p}' THEN {i + 1}" for i, p in enumerate(change_paths))
        parts.append(f"""
            SELECT _id, {sel}, r FROM (
              SELECT *, CASE filename {idx} END AS r,
                     row_number() OVER (PARTITION BY _id, filename
                                        ORDER BY seq DESC) AS rn
              FROM read_parquet({_q(change_paths)}, filename = true))
            WHERE rn = 1""")
    aggs = ", ".join(f"arg_max({c}, r) FILTER (WHERE {c} IS NOT NULL) AS {c}"
                     for c in cols)
    return (f"SELECT _id, {aggs} FROM ({' UNION ALL '.join(parts)}) "
            f"GROUP BY _id")


def keyed_state(base_glob: str, change_paths: list[str],
                cols: list[str] = PAYLOAD) -> pd.DataFrame:
    con = duckdb.connect()
    return con.execute(keyed_state_sql(base_glob, change_paths, cols)).fetchdf()


def live_parquet_bytes(state: pd.DataFrame, path: str) -> int:
    """Bytes of the live rows written as one snappy parquet file: the
    denominator of space amplification."""
    con = duckdb.connect()
    con.register("state", state)
    con.execute(f"COPY state TO '{path}' (FORMAT parquet, COMPRESSION snappy)")
    return os.path.getsize(path)


def group_totals(state: pd.DataFrame, group_col: str, sum_col: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.register("state", state)
    return con.execute(
        f"SELECT {group_col}, COUNT(*) AS cnt, "
        f"CAST(SUM(CAST({sum_col} AS DECIMAL(38, 6))) AS DOUBLE) AS total "
        f"FROM state WHERE {group_col} IS NOT NULL GROUP BY {group_col}").fetchdf()


def compare_totals(got: pd.DataFrame, want: pd.DataFrame, key: str,
                   rel: float = 1e-9) -> list[str]:
    """Group view vs model: counts exact, decimal totals within `rel`."""
    m = want.merge(got, on=key, how="outer", suffixes=("_m", "_g"), indicator=True)
    problems = []
    missing = m[m["_merge"] != "both"]
    if len(missing):
        problems.append(f"{len(missing)} groups only on one side")
    both = m[m["_merge"] == "both"]
    bad_cnt = both[both["cnt_m"] != both["cnt_g"]]
    if len(bad_cnt):
        problems.append(f"{len(bad_cnt)} group counts differ")
    tol = rel * both["total_m"].abs().clip(lower=1.0)
    bad_tot = both[(both["total_m"] - both["total_g"]).abs() > tol]
    if len(bad_tot):
        problems.append(f"{len(bad_tot)} group totals differ")
    return problems
