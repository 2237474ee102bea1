"""Correctness checks, run outside the timed region.

Registry queries are compared with their DuckDB oracle by the rule the
repository's parity gate uses (``tests/compare.py``): same column-name
set, same row count, and the same multiset of rows once columns are
sorted by name, each cell is normalized to a string and rows are sorted.
The rule is restated here, not imported, so the benchmark does not depend
on test code.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math

import duckdb
import pandas as pd

from gen import TABLES


def _norm_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, (pd.Timestamp, _dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if hasattr(v, "tolist"):  # numpy arrays inside list cells
        return _norm_cell(v.tolist())
    if isinstance(v, bool):
        return "T" if v else "F"
    return str(v)


def normalize(df: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(df.columns)
    rows = [
        tuple(_norm_cell(v) for v in row)
        for row in df[cols].astype(object).itertuples(index=False, name=None)
    ]
    rows.sort()
    return rows


def result_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256("|".join(sorted(df.columns)).encode())
    for row in normalize(df):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return h.hexdigest()


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the results agree, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if result_hash(got) != result_hash(want):
        return "value hash differs"
    return None


class Oracle:
    """DuckDB over the generated parquet files, one view per table."""

    def __init__(self, data_dir: str, sql: dict[str, str]):
        self.sql = sql
        self.con = duckdb.connect()
        for name in TABLES:
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{name}.parquet'"
            )

    def check(self, name: str, got: pd.DataFrame) -> str | None:
        if name not in self.sql:
            return "no oracle"
        return compare(got, self.con.execute(self.sql[name]).df())

    def close(self) -> None:
        self.con.close()
