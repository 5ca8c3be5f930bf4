"""Seeded generator for the benchmark's input tables.

Writes the ten tables of the engine's star schema (plus the events,
documents and embeddings side tables) as one single-row-group parquet
file each, with the column types that ``rental_engine.queries._SCHEMAS``
declares.  The value distributions follow the repository's seeded test
data: uniform keys and prices, a key-preserving star join (every
``l_orderkey`` has an order, every ``o_custkey`` a customer), a sorted
event stream with exponential values, bag-of-words documents over a
30-word vocabulary with a share of shuffled near-duplicates, and unit
64-dimensional embeddings.

The same ``(seed, scale)`` always gives byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "steel"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.40, 0.15, 0.16, 0.15]
_VOCAB = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_EMB_DIM = 64
_DUP_SHARE = 0.05

_DAY_US = 86_400 * 1_000_000
_ORDER_EPOCH = dt.datetime(1995, 1, 1)
_ORDER_DAYS = 2404          # 1995-01-01 .. 2001-08-01
_SHIP_DAYS = 2499
_EVENT_EPOCH = dt.datetime(2024, 1, 1)
_EVENT_DAYS = 30


def _counts(scale: float) -> dict[str, int]:
    return {
        "customer": max(1, round(150_000 * scale)),
        "supplier": max(1, round(10_000 * scale)),
        "part": max(1, round(200_000 * scale)),
        "orders": max(1, round(1_500_000 * scale)),
        "lineitem": max(1, round(6_000_000 * scale)),
        "events": max(1, round(1_000_000 * scale)),
        "users": max(1, round(15_000 * scale)),
        "documents": max(500, round(50_000 * scale)),
        "embeddings": max(500, round(20_000 * scale)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform 2-decimal amounts in [lo, hi]."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(idx, values).cast(pa.string())


def _days(epoch: dt.datetime, days: np.ndarray) -> pa.Array:
    base = np.datetime64(epoch, "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def _labels(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < _DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split(" ")
            words = [words[j] for j in rng.permutation(len(words))] + ["dup"]
        else:
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def generate(seed: int, scale: float) -> dict[str, pa.Table]:
    """All tables for one (seed, scale), as in-memory Arrow tables."""
    c = _counts(scale)
    streams = np.random.SeedSequence([seed, round(scale * 1e6)]).spawn(len(TABLES))
    rng = {t: np.random.default_rng(s) for t, s in zip(TABLES, streams)}
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    r, n = rng["customer"], c["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": _labels("Customer#", n),
        "c_nationkey": pa.array(r.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(r, _SEGMENTS, n)})

    r, n = rng["supplier"], c["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": _labels("Supplier#", n),
        "s_nationkey": pa.array(r.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n))})

    r, n = rng["part"], c["part"]
    keys = np.arange(n, dtype=np.int64)
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": _pick(r, names, n),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n)]),
        "p_type": _pick(r, _PART_TYPES, n),
        "p_size": pa.array(r.integers(1, 51, n, dtype=np.int32)),
        "p_retailprice": pa.array(900.0 + (keys % 1000) / 10.0)})

    r, n = rng["orders"], c["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, c["customer"], n, dtype=np.int64)),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n)),
        "o_orderdate": _days(_ORDER_EPOCH, r.integers(0, _ORDER_DAYS + 1, n)),
        "o_orderpriority": _pick(r, _PRIORITIES, n)})

    r, n = rng["lineitem"], c["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, c["orders"], n, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, c["part"], n, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, c["supplier"], n, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(r, ["A", "N", "R"], n),
        "l_linestatus": _pick(r, ["F", "O"], n),
        "l_shipdate": _days(_ORDER_EPOCH, r.integers(1, _SHIP_DAYS + 1, n))})

    r, n = rng["events"], c["events"]
    ts = np.sort(r.integers(0, _EVENT_DAYS * _DAY_US, n))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(np.datetime64(_EVENT_EPOCH, "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(r.integers(0, c["users"], n, dtype=np.int64)),
        "event_type": _pick(r, _EVENT_TYPES, n),
        "value": pa.array(np.round(r.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)])})

    out["documents"] = _documents(rng["documents"], c["documents"])

    r, n = rng["embeddings"], c["embeddings"]
    m = r.standard_normal((n, _EMB_DIM))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(m.ravel()), _EMB_DIM)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n, dtype=np.int32))})
    return out


_DDL_TYPES = {
    "int": pa.int32(), "bigint": pa.int64(), "double": pa.float64(),
    "string": pa.string(), "timestamp_ntz": pa.timestamp("us"),
    "array<float>": pa.list_(pa.float32()),
}


def declared_schema(ddl: str) -> pa.Schema:
    """Arrow schema of a ``"name type, ..."`` declaration as the
    engine's ``_SCHEMAS`` writes it."""
    fields = []
    for part in re.split(r",\s*(?![^<]*>)", ddl.strip()):
        name, typ = part.split(None, 1)
        fields.append(pa.field(name, _DDL_TYPES[typ.strip()]))
    return pa.schema(fields)


def check(data_dir: str, schemas: dict[str, str]) -> None:
    """Raise ValueError unless every footer matches the declared schema
    and the star join is key-preserving (no orphan foreign keys)."""
    for t in TABLES:
        got = pq.read_schema(f"{data_dir}/{t}.parquet").remove_metadata()
        want = declared_schema(schemas[t])
        if [(f.name, f.type) for f in got] != [(f.name, f.type) for f in want]:
            raise ValueError(f"{t}: footer schema {got} != declared {want}")

    def col(t: str, c: str) -> np.ndarray:
        return pq.read_table(f"{data_dir}/{t}.parquet", columns=[c]).column(c).to_numpy()

    if not np.isin(col("lineitem", "l_orderkey"), col("orders", "o_orderkey")).all():
        raise ValueError("lineitem has an l_orderkey without an order")
    if not np.isin(col("orders", "o_custkey"), col("customer", "c_custkey")).all():
        raise ValueError("orders has an o_custkey without a customer")


def write(data_dir: str, seed: int, scale: float) -> None:
    """Generate and write every table; one row group per file, like the
    repository's test data (so a scan is one task)."""
    os.makedirs(data_dir, exist_ok=True)
    for t, tb in generate(seed, scale).items():
        pq.write_table(tb, f"{data_dir}/{t}.parquet",
                       row_group_size=max(1, tb.num_rows))
