"""Order-insensitive result hashing and the DuckDB side of the oracle check.

A key's output is reduced to (sorted column names, md5 of the sorted rows
rendered as strings, row count) — the same canonical form on both sides,
so a Spark frame and its DuckDB twin match exactly when they hold the same
multiset of rows.
"""

from __future__ import annotations

import hashlib
import os

from datagen import TABLES


def canon(pdf) -> list:
    """[sorted column names, md5 of sorted stringified rows, row count]."""
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(str(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)
    )
    return [cols, hashlib.md5(repr(rows).encode()).hexdigest(), len(rows)]


def duckdb_canon(data_dir: str, sql_by_key: dict[str, str]) -> dict[str, list]:
    """Run each oracle SQL over the corpus in ``data_dir`` and canonicalize it."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {k: canon(con.execute(sql).fetchdf()) for k, sql in sql_by_key.items()}
    finally:
        con.close()
