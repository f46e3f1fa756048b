"""Output check: each workload query once against its DuckDB oracle SQL,
order-insensitive and exact (columns sorted by name, rows sorted by every
column, timestamps at µs, then ``DataFrame.equals``)."""

from __future__ import annotations

import os

import duckdb
import pandas as pd


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=cols).reset_index(drop=True)


class Oracle:
    def __init__(self, data_dir: str, tables: tuple[str, ...]) -> None:
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def check(self, got: pd.DataFrame, sql: str) -> str | None:
        """None when ``got`` equals the oracle's result, else a reason."""
        want = self.con.sql(sql).df()
        if len(got) != len(want):
            return f"rows {len(got)} != oracle {len(want)}"
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
        g, w = _canonical(got), _canonical(want)
        if not g.equals(w):
            bad = [c for c in g.columns if not g[c].equals(w[c])]
            return f"values differ in {bad}"
        return None

    def close(self) -> None:
        self.con.close()
