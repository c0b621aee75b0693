"""Correctness checks, run on the recorded outputs after the timed
region.  DuckDB reads the generated tables (as views named after them)
and the parquet each ``write`` operation produced; oracle comparisons
use the same canonical form and float tolerance as the repository's
oracle gate (``scripts/check_oracle.py``)."""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass
from typing import Any, Dict, List, Optional

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from check_oracle import canon  # noqa: E402


@dataclass
class Collected:
    """What a ``collect`` action returned, and the directory its
    execution was given."""

    rows: List[Any]
    columns: List[str]
    out: str


class Checker:
    def __init__(self, data: str, tables: List[str], expect: Dict[str, Any]) -> None:
        self.expect = expect
        self._con = duckdb.connect()
        self._con.execute("SET threads = 2")
        for t in tables:
            self._con.execute(
                f"CREATE VIEW \"{t}\" AS SELECT * FROM read_parquet('{data}/{t}.parquet')"
            )
        self._oracles: Dict[str, Any] = {}

    def close(self) -> None:
        self._con.close()

    def sql(self, query: str) -> List[tuple]:
        return self._con.execute(query).fetchall()

    @staticmethod
    def parquet(out: str) -> str:
        """The parquet under ``out``, with hive partition columns."""
        return f"read_parquet('{out}/**/*.parquet', hive_partitioning = true)"

    def columns(self, out: str) -> List[str]:
        rel = self._con.execute(f"SELECT * FROM {self.parquet(out)} LIMIT 0")
        return [d[0] for d in rel.description]

    def oracle(self, name: str, sql: str, got: Collected) -> Optional[str]:
        """Compare collected rows with the DuckDB oracle: same column
        names, same row count, same canonical values."""
        if name not in self._oracles:
            rel = self._con.execute(sql)
            cols = [d[0] for d in rel.description]
            self._oracles[name] = (sorted(cols), canon(rel.fetchall(), cols))
        cols, rows = self._oracles[name]
        if sorted(got.columns) != cols:
            return f"columns {sorted(got.columns)} != oracle {cols}"
        mine = canon([tuple(r) for r in got.rows], got.columns)
        if len(mine) != len(rows):
            return f"{len(mine)} rows != oracle {len(rows)}"
        if mine != rows:
            bad = sum(1 for a, b in zip(mine, rows) if a != b)
            return f"{bad} of {len(rows)} rows differ from the oracle"
        return None
