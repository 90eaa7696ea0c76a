"""Correctness gate: engine rows against DuckDB, compared the way
``tools/diff_oracle.py`` compares a query with its oracle (sorted column
names, rows canonicalised by its ``canon`` and sorted)."""

from __future__ import annotations

from typing import Iterable, List, Optional, Sequence, Tuple

import duckdb

from datagen import TABLES
from tools.diff_oracle import canon


def canonical(columns: Sequence[str], rows: Iterable[Sequence]
              ) -> Tuple[List[str], List[tuple]]:
    cols = sorted(columns)
    idx = [list(columns).index(c) for c in cols]
    return cols, sorted(tuple(canon(r[i]) for i in idx) for r in rows)


def compare(engine: Tuple[Sequence[str], List[Sequence]],
            oracle: Tuple[Sequence[str], List[Sequence]]) -> Optional[str]:
    """None when equal, else a one-line description of the first
    difference (row count, column names, or values)."""
    (ecols, erows), (ocols, orows) = engine, oracle
    if len(erows) != len(orows):
        return f"rowcount {len(erows)} != {len(orows)}"
    ec, ed = canonical(ecols, erows)
    oc, od = canonical(ocols, orows)
    if ec != oc:
        return f"cols {ec} != {oc}"
    for a, b in zip(ed, od):
        if a != b:
            n_bad = sum(1 for x, y in zip(ed, od) if x != y)
            return f"values differ ({n_bad} rows), first: {a} != {b}"
    return None


class Oracle:
    """A DuckDB connection over the benchmark's parquet tables."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def execute(self, sql: str) -> None:
        self.con.execute(sql)

    def rows(self, sql: str) -> Tuple[List[str], List[tuple]]:
        rel = self.con.sql(sql)
        return list(rel.columns), rel.fetchall()

    def close(self) -> None:
        self.con.close()


def spark_rows(df) -> Tuple[List[str], List[tuple]]:
    return list(df.columns), [tuple(r) for r in df.collect()]
