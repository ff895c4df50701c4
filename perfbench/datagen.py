"""Seeded input generator for the benchmark.

Writes parquet tables with the column names, types and value domains the
eel_spark query registry reads (a TPC-H-shaped star schema, an ``events``
table and a ``documents`` corpus). The same seed always gives the same
data; sizes are fixed per scale, so a seed changes values and order,
never volume.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at scale 1.0 (the "sf" suffix of the TPC-H scale factor
# the query slots were written against; 0.1 gives lineitem 600k rows)
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_US = 86_400_000_000


def _epoch_us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Money column: exact two-decimal doubles (the registry aggregates
    money in integer cents, so every value must be a whole cent)."""
    return rng.integers(lo, hi, n) / 100.0


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo, hi = _epoch_us(start) // _DAY_US, _epoch_us(end) // _DAY_US
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def _keyed(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tpch_tables(out_dir: str, seed: int, sf: float) -> None:
    """region, nation, customer, supplier, part, orders, lineitem and
    events at scale ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n = {t: max(1, int(r * sf)) for t, r in _ROWS_PER_SF.items()}
    os.makedirs(out_dir, exist_ok=True)
    i32 = pa.int32()
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": _keyed("Customer", n["customer"]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": _cents(rng, -99_999, 1_000_000, n["customer"]),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": _keyed("Supplier", n["supplier"]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": _cents(rng, -99_999, 1_000_000, n["supplier"]),
    })
    pk = np.arange(n["part"], dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(_PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
        "p_retailprice": (90_000 + (pk % 1000) * 10) / 100.0,
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _cents(rng, 100_000, 50_000_000, n["orders"]),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]),
    })
    nl = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n["orders"], nl),
        "l_partkey": rng.integers(0, n["part"], nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _cents(rng, 90_000, 10_500_000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = n["events"]
    # distinct, increasing microsecond timestamps over 30 days: the as-of
    # and window slots order by ts, and ties would make their output
    # depend on the engine's sort stability
    gaps = rng.integers(1, 2 * (30 * _DAY_US // ne), ne)
    _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(_epoch_us("2024-01-01") + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, ne * 3 // 200), ne),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })


def documents(n_docs: int, waves: int, seed: int) -> pa.Table:
    """Corpus split into ``waves`` arrival waves of equal size (column
    ``wave``; doc ids ascend with the wave). Documents hold 40-100 tokens
    drawn uniformly from a 4,096-word vocabulary, so unrelated documents
    are never SimHash near-duplicates. The first wave holds originals
    only. In every later wave of 50 documents, positions 19 and 39 are
    near-duplicates of originals of earlier waves (the same tokens in
    another order: SimHash distance 0, different text) and position 49
    an exact copy of one. No wave holds a duplicate pair of its own, so
    the sink's in-batch pair graph stays empty and its cost per batch is
    fixed. The seed picks texts and originals, never this structure."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array([f"w{i:04d}" for i in range(4096)])
    per_wave = n_docs // waves
    texts: list[str] = []
    wave_of: list[int] = []
    earlier: list[int] = []
    for w in range(waves):
        originals: list[int] = []
        for j in range(per_wave):
            if w and j % 50 in (19, 39, 49) and earlier:
                src = texts[earlier.pop(int(rng.integers(0, len(earlier))))]
                texts.append(src if j % 50 == 49 else " ".join(rng.permutation(src.split())))
            else:
                originals.append(len(texts))
                texts.append(" ".join(rng.choice(vocab, int(rng.integers(40, 101)))))
            wave_of.append(w)
        earlier += originals
    return pa.table({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": texts,
        "wave": np.array(wave_of, dtype=np.int32),
    })


def wave_files(docs: pa.Table, out_dir: str, seed: int) -> None:
    """One parquet file of (doc_id, text) per wave, rows in seeded order;
    the streaming source reads them in file-name order."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    wave = docs.column("wave").to_numpy()
    for w in range(int(wave.max()) + 1):
        idx = rng.permutation(np.flatnonzero(wave == w))
        pq.write_table(docs.select(["doc_id", "text"]).take(idx),
                       os.path.join(out_dir, f"wave-{w:03d}.parquet"))
