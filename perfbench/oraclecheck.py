"""Checks the engine's answers against DuckDB running ``rental_engine.ORACLE``.

The worker writes each query's answer as parquet from the untimed set-up
pass; nothing is collected into Python, so the 540 k-row
``cleaned_listings`` answer costs no driver memory.  DuckDB evaluates
the oracle SQL on the same data directory (a directory-valued table is
read through a glob) and stores each answer in a database file beside
the data, keyed by a hash of the SQL text, so a repeated run on the same
inputs does not evaluate the oracle again.

An answer is accepted under the same rule as ``tests/test_oracle.py``:
the same column names, the same type family per column, a non-empty
result, and equal multisets of rows (``EXCEPT ALL`` is empty both
ways).  Doubles compare by value, so a different last bit is a
mismatch.
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

import duckdb

_FAMILIES = (
    ("int", ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT")),
    ("float", ("FLOAT", "DOUBLE")),
    ("decimal", ("DECIMAL",)),
    ("string", ("VARCHAR",)),
    ("timestamp", ("TIMESTAMP",)),
    ("bool", ("BOOLEAN",)),
)


def _family(duck_type: str) -> str:
    for fam, names in _FAMILIES:
        if duck_type.split("(")[0] in names:
            return fam
    return duck_type


def _connect(db_path: Path, data_dir: Path, tables: list[str],
             tmp_dir: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(str(db_path))
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in tables:
        p = data_dir / f"{t}.parquet"
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE OR REPLACE TEMP VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{src}')")
    return con


def _describe(con: duckdb.DuckDBPyConnection, rel: str) -> list[tuple[str, str]]:
    return [(r[0], _family(r[1])) for r in con.execute(f"DESCRIBE {rel}").fetchall()]


def check(answers_dir: Path, data_dir: Path, oracle: dict[str, str],
          tables: list[str], names: list[str], tmp_dir: Path) -> dict[str, str | None]:
    """For each query name: None if the answer matches the oracle, else
    the reason it was rejected."""
    verdict: dict[str, str | None] = {}
    tmp_dir.mkdir(parents=True, exist_ok=True)
    with _connect(data_dir / "oracle.duckdb", data_dir, tables, tmp_dir) as con:
        for q in names:
            table = f"oracle_{q}_{hashlib.sha1(oracle[q].encode()).hexdigest()[:12]}"
            con.execute(f"CREATE TABLE IF NOT EXISTS {table} AS {oracle[q]}")
            ans = answers_dir / q
            if not ans.is_dir() or not any(ans.glob("*.parquet")):
                verdict[q] = "no answer written"
                continue
            con.execute(f"CREATE OR REPLACE TEMP VIEW ans AS "
                        f"SELECT * FROM read_parquet('{ans}/*.parquet')")
            got, want = _describe(con, "ans"), _describe(con, table)
            if got != want:
                verdict[q] = f"columns {got} != oracle {want}"
                continue
            n_got = con.execute("SELECT count(*) FROM ans").fetchone()[0]
            n_want = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
            if n_got != n_want or n_got == 0:
                verdict[q] = f"row count {n_got} != oracle {n_want}"
                continue
            extra = con.execute(f"SELECT count(*) FROM (SELECT * FROM ans "
                                f"EXCEPT ALL SELECT * FROM {table})").fetchone()[0]
            missing = con.execute(f"SELECT count(*) FROM (SELECT * FROM {table} "
                                  f"EXCEPT ALL SELECT * FROM ans)").fetchone()[0]
            verdict[q] = (None if extra == missing == 0 else
                          f"{extra} rows not in the oracle, {missing} oracle rows missing")
    return verdict
