"""Every declared query must match its DuckDB oracle exactly
(row count, column names, values) — the same check the driver runs."""

from __future__ import annotations

import datetime as dt
import decimal

import duckdb
import pytest

from rental_engine import ORACLE, QUERIES
from rental_engine.queries import TABLES
from tests.conftest import SF_SMALL


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def canon(v):
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        return ("f", float(v).hex())
    if isinstance(v, dt.datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", int(v))
    if v is None:
        return ("null",)
    return (type(v).__name__, str(v))


def canon_rows(rows):
    return sorted([tuple(canon(v) for v in r) for r in rows], key=str)


def run_both(spark, name: str, sf_dir: str):
    sdf = QUERIES[name](spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    con = duck_con(sf_dir)
    res = con.execute(ORACLE[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    con.close()
    return scols, srows, dcols, drows


def assert_matches_oracle(spark, name: str, sf_dir: str) -> list:
    """Assert the Spark rows of ``name`` equal the oracle's; return the
    oracle rows."""
    scols, srows, dcols, drows = run_both(spark, name, sf_dir)
    assert scols == dcols, f"{name}: column mismatch {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    assert len(srows) > 0, f"{name}: empty result"
    sc, dc = canon_rows(srows), canon_rows(drows)
    mismatches = [(a, b) for a, b in zip(sc, dc) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"
    return drows


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, name):
    assert_matches_oracle(spark, name, SF_SMALL)


def rewritten_copy(tmp_path, table: str, columns: dict) -> str:
    """A copy of SF_SMALL in ``tmp_path`` with some columns of one table
    rewritten; each ``columns`` value maps the original pyarrow table
    to the column's new values."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    for t in TABLES:
        shutil.copyfile(f"{SF_SMALL}/{t}.parquet", tmp_path / f"{t}.parquet")
    tbl = pq.read_table(f"{SF_SMALL}/{table}.parquet")
    for col, values in columns.items():
        field = tbl.schema.field(col)
        tbl = tbl.set_column(tbl.schema.get_field_index(col), field,
                             pa.array(values(tbl), type=field.type))
    pq.write_table(tbl, tmp_path / f"{table}.parquet")
    return str(tmp_path)


def null_top_city(nation) -> list:
    """n_name with the city of the most cleaned listings (per the
    oracle at SF_SMALL) set to NULL."""
    con = duck_con(SF_SMALL)
    rows = con.execute(ORACLE["city_stats"]).fetchall()
    con.close()
    top = min(rows, key=lambda r: (-r[1], r[0]))[0]
    return [None if c == top else c for c in nation["n_name"].to_pylist()]


# variant: (table, {column: new values}, {query: check of the oracle rows})
DEGENERATE = {
    "all_equal_price": (
        "lineitem",
        {"l_extendedprice": lambda t: [100.0] * t.num_rows,
         "l_discount": lambda t: [0.0] * t.num_rows},
        {"price_histogram": lambda rows: [r[:3] for r in rows] == [(39, 100.0, 100.0)]}),
    "all_equal_area": (
        "lineitem",
        {"l_quantity": lambda t: [10.0] * t.num_rows},
        {"price_area_regression": lambda rows: [r[1:] for r in rows] == [(None, None)]}),
    "null_top_city": (
        "nation",
        {"n_name": null_top_city},
        {"city_stats": lambda rows: len(rows) == 19,
         "district_stats": lambda rows: len({r[0] for r in rows}) == 19}),
}


@pytest.mark.parametrize("variant", sorted(DEGENERATE))
def test_degenerate_input_matches_oracle(spark, tmp_path, variant):
    """Inputs the seed data never shows: a zero-width histogram, a
    zero OLS denominator, and a NULL city ranked first (the oracle
    counts it in the top 20 and then drops it)."""
    table, columns, checks = DEGENERATE[variant]
    sf_dir = rewritten_copy(tmp_path, table, columns)
    for name, check in checks.items():
        drows = assert_matches_oracle(spark, name, sf_dir)
        assert check(drows), f"{variant} {name}: oracle rows {drows}"
