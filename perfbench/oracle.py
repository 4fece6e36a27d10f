"""Correctness gate: each query's output against its DuckDB oracle.

The comparison rules are those of ``scripts/verify_local.py``, imported
from it so the two cannot drift apart: the oracle's output types are
linted, its values come through Arrow, and rows compare as a
type-tagged, order-insensitive multiset over the column set.
"""

from __future__ import annotations

import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "scripts"))

from verify_local import fetch_oracle_arrow, lint_oracle_types, to_multiset  # noqa: E402


class Oracles:
    """DuckDB views over the generated input tables."""

    def __init__(self, data_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def close(self) -> None:
        self.con.close()

    def check(self, sql: str, cols: list[str], rows) -> str | None:
        """None when ``rows`` match the oracle, else what differs."""
        bad = lint_oracle_types(self.con, sql)
        if bad:
            types = ", ".join(f"{c}:{t}" for c, t in bad)
            return f"oracle column types do not survive Arrow: {types}"
        ocols, orows = fetch_oracle_arrow(self.con, sql)
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        if len(rows) != len(orows):
            return f"{len(rows)} rows != oracle {len(orows)}"
        got, want = to_multiset(cols, rows), to_multiset(ocols, orows)
        if got != want:
            diff = sum(abs(got.get(k, 0) - want.get(k, 0)) for k in got.keys() | want.keys())
            return f"{diff} rows differ from the oracle"
        return None
