"""Result digests and the DuckDB oracle cache.

A digest is the sha256 of a result's sorted column names and its canonical
row multiset (``tools.canon.canon_rows``, as ``tools/check_oracle.py`` uses it),
so it ignores row order and keeps the int/float distinction. The expected
digest of a query is its DuckDB oracle's digest on the workload's base
corpus. The cache is keyed by the base files' bytes and the oracle SQL
text, so regenerated inputs or an oracle changed in lockstep with its query
are recomputed, never trusted.
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd

from tools.canon import canon_rows


def digest(pdf: pd.DataFrame) -> str:
    h = hashlib.sha256(repr(sorted(pdf.columns)).encode())
    for row in canon_rows(pdf):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def cache_key(base_info: dict[str, dict], sql: str) -> str:
    h = hashlib.sha256()
    for name in sorted(base_info):
        h.update(f"{name}:{base_info[name]['sha256']};".encode())
    h.update(sql.encode())
    return h.hexdigest()


class DigestCache:
    """Expected digests on disk, one JSON object of ``key -> digest``."""

    def __init__(self, path: str):
        self.path = path
        try:
            with open(path) as fh:
                self.entries: dict[str, str] = json.load(fh)
        except FileNotFoundError:
            self.entries = {}

    def save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self.entries, fh, indent=0, sort_keys=True)
        os.replace(tmp, self.path)


def oracle_digests(base_dir: str, sqls: dict[str, str]) -> dict[str, str]:
    """Run each oracle SQL on DuckDB over the parquet files in ``base_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for fn in sorted(os.listdir(base_dir)):
            if fn.endswith(".parquet"):
                con.execute(f"CREATE VIEW {fn[:-8]} AS SELECT * FROM read_parquet('{os.path.join(base_dir, fn)}')")
        return {name: digest(con.sql(sql).df()) for name, sql in sqls.items()}
    finally:
        con.close()
