"""Result checks: DuckDB oracle comparison for registry queries.

Results are normalized by ``scripts/check_oracle.py``'s ``_normalize``,
the normalization the repository's correctness gate uses: cells
rendered to canonical strings, columns sorted by name, rows sorted,
then compared exactly.
"""

from __future__ import annotations

import os

import duckdb

from scripts.check_oracle import _normalize as normalize


def diff(got, want) -> str | None:
    """None when two normalized results agree, else a short reason."""
    (gc, gv), (wc, wv) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gv) != len(wv):
        return f"rowcount {len(gv)} != {len(wv)}"
    if gv != wv:
        first = next((a, b) for a, b in zip(gv, wv) if a != b)
        return f"value mismatch, first: {first}"
    return None


class Oracle:
    """DuckDB over the same parquet files the program reads."""

    def __init__(self, data_dir: str, tables):
        self.con = duckdb.connect()
        self.con.execute("SET memory_limit='2GB'")
        for t in tables:
            p = os.path.join(data_dir, t + ".parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def query(self, sql: str):
        rel = self.con.sql(sql)
        return normalize(list(rel.columns), rel.fetchall())

    def arrow(self, sql: str):
        return self.con.sql(sql).arrow()

    def close(self) -> None:
        self.con.close()
