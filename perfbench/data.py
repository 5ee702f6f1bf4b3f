"""Seeded benchmark inputs.

Two layers, so that the work a run does is the same on every seed and only
the values move:

- ``base_dataset(sf)`` writes a synthetic copy of the TPC-H-ish star schema
  plus the ``events`` / ``documents`` / ``embeddings`` feed tables, with the
  schemas and value distributions of the repository's sf-scaled test data.
  It always uses ``BASE_SEED``, so table sizes, keys and text never change.
- ``seeded_copy(base, seed, out)`` mirrors ``tools/driver_sim.perturb_sf``:
  every float64 column is scaled by ``1 + U(-1e-4, 1e-4)`` from a generator
  seeded by ``(seed, table, column)``; everything else passes through.

``online_slice(seed, k)`` is the k-th landed slice of the online workload:
new events generated on demand, so a run never runs out of them.
"""

from __future__ import annotations

import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
N_USERS = 1500
SLICE_ROWS = 1000
_SLICE_ID_BASE = 10_000_000
_EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
_EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
_EVENTS_SPAN_US = 30 * 86_400 * 1_000_000
_VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)


def _rows(sf: float, at_sf01: int, floor: int = 1) -> int:
    return max(floor, int(round(at_sf01 * sf / 0.1)))


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n).astype("datetime64[D]")).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _events(rng, n: int, first_id: int, ts_us: np.ndarray) -> pa.Table:
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(_EVENTS_START + ts_us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n: int) -> pa.Table:
    texts = [" ".join(rng.choice(_VOCAB, rng.integers(10, 101))) for _ in range(n)]
    # ~5% near-duplicates (an earlier doc plus one token) and a few exact
    # copies, the shape the dedup entries are built to find
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        if i:
            texts[i] = texts[rng.integers(0, i)]
    lang = rng.choice(["en", "zh", "es", "fr", "de"], n, p=[0.41, 0.15, 0.15, 0.15, 0.14])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def _generate(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = _rows(sf, 15000), _rows(sf, 1000), _rows(sf, 20000)
    n_ord, n_line = _rows(sf, 150000), _rows(sf, 600000)
    n_ev, n_doc, n_emb = _rows(sf, 100000), _rows(sf, 5000), _rows(sf, 2000, 500)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    adjectives = ["large", "hot", "blue", "old", "cold", "small", "red", "green"]
    nouns = ["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "valve"]
    return {
        "region": pa.table({
            "r_regionkey": i32(range(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }),
        "customer": pa.table({
            "c_custkey": i64(range(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(
                ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": i64(range(n_supp)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": i64(range(n_part)),
            "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": i64(range(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
            "l_partkey": i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["N", "R", "A"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", "2001-11-04"), pa.timestamp("us")),
        }),
        "events": _events(rng, n_ev, 0, np.sort(rng.integers(0, _EVENTS_SPAN_US, n_ev))),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }


def base_dataset(root: str, sf: float) -> str:
    """Directory holding the base tables at ``sf``; generated on first use
    and reused after (it depends on ``sf`` only)."""
    out = os.path.join(root, f"base-sf{sf:g}-v1")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in _generate(sf).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def seeded_copy(base: str, seed: int, out: str) -> str:
    """The run's input tables: ``base`` with ``perturb_sf``'s float jitter."""
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        tbl = pq.read_table(os.path.join(base, f"{t}.parquet"))
        arrays = []
        for field, col in zip(tbl.schema, tbl.columns):
            if pa.types.is_float64(field.type):
                rng = np.random.default_rng(zlib.crc32(f"{seed}/{t}/{field.name}".encode()))
                v = col.combine_chunks().to_numpy(zero_copy_only=False)
                col = pa.array(v * (1.0 + rng.uniform(-1e-4, 1e-4, len(v))), pa.float64())
            arrays.append(col)
        pq.write_table(pa.Table.from_arrays(arrays, schema=tbl.schema), os.path.join(out, f"{t}.parquet"))
    return out


def online_slice(seed: int, k: int) -> pa.Table:
    """The k-th landed slice: ``SLICE_ROWS`` new events. Their timestamps
    reach one day back into the base range (late rows) and ``k`` hours
    past its end, so both older and newer rows than the store's arrive."""
    rng = np.random.default_rng(zlib.crc32(f"{seed}/slice/{k}".encode()))
    hour = 3_600_000_000
    ts = rng.integers(_EVENTS_SPAN_US - 24 * hour, _EVENTS_SPAN_US + (k + 1) * hour, SLICE_ROWS)
    return _events(rng, SLICE_ROWS, _SLICE_ID_BASE + k * SLICE_ROWS, ts)


def unknown_user(k: int) -> int:
    """A user id no event carries."""
    return _SLICE_ID_BASE * 10 + k
