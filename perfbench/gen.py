"""Seeded input generator for the benchmark.

Writes tables shaped like the repo's TPC-H-ish test tables (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) with numpy and pyarrow only, so the same seed gives the same
bytes on disk. The seed controls the values, the row order inside each
file and where each fact table is split into files. ``etl_events`` makes
the 10x key-shifted copy of the events table that the daily ETL workload
lands one day at a time.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at sf 1; every table but the fixed dims scales linearly.
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_DAYS = 30
# the key shift of the 10x copy; the same offset on both sides of every key
KEY_OFFSET = 100_000_000

DAY_US = 86_400 * 1_000_000
DATE_LO = np.datetime64("1995-01-01", "us")


def _n(table: str, sf: float) -> int:
    return max(1, int(round(BASE_ROWS[table] * sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(values)
    ).cast(pa.string())


def _days_after(lo: np.datetime64, days: np.ndarray) -> pa.Array:
    return pa.array(lo + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def make_tables(seed: int, sf: float, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """Every input table for one seed, as in-memory Arrow tables."""
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    nc, ns, np_, no, nl = (_n(t, sf) for t in
                           ("customer", "supplier", "part", "orders", "lineitem"))
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": _pick(rng, names, np_),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], np_),
        "p_type": _pick(rng, PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(np_) % 1000) / 10, 2)),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _days_after(DATE_LO, rng.integers(0, 2404, no)),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, np_, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days_after(DATE_LO + np.timedelta64(1, "D"), rng.integers(0, 2499, nl)),
    })
    out["events"] = make_events(rng, _n("events", sf), max(1, nc // 10))
    out["documents"] = make_documents(rng, n_docs)
    out["embeddings"] = make_embeddings(rng, n_vecs)
    return out


def make_events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """Events over EVENT_DAYS days; event_id follows time order."""
    offs = np.sort(rng.integers(0, EVENT_DAYS * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(EVENTS_START + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def make_documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents: 5% near duplicates (an earlier text plus
    ' dup') and a few exact copies, as in the repo's test corpus."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def make_embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def etl_events(seed: int, base_rows: int, factor: int = 10) -> pa.Table:
    """The 10x copy of a seeded events table, as ``tools/scale_up.py``
    builds it: copy i shifts ``event_id`` and ``user_id`` by
    ``i * KEY_OFFSET``, so each user's stream stays one user's stream
    and keyed cardinalities grow linearly. Rows come out in time order."""
    rng = np.random.default_rng([seed, 1])
    base = make_events(rng, base_rows, max(1, base_rows // 66))
    copies = []
    for i in range(factor):
        shift = pa.scalar(i * KEY_OFFSET, pa.int64())
        copies.append(base.set_column(
            0, "event_id", pa.compute.add(base["event_id"], shift)
        ).set_column(
            2, "user_id", pa.compute.add(base["user_id"], shift)
        ))
    both = pa.concat_tables(copies)
    return both.take(pa.compute.sort_indices(both, [("ts", "ascending"), ("event_id", "ascending")]))


def write_table(t: pa.Table, path: str, rng: np.random.Generator, n_files: int) -> int:
    """Write ``t`` as a directory of ``n_files`` parquet files, rows in a
    seeded order, split at seeded points. Returns bytes written."""
    os.makedirs(path, exist_ok=True)
    t = t.take(pa.array(rng.permutation(t.num_rows)))
    cuts = [0]
    if n_files > 1 and t.num_rows >= n_files:
        inner = np.sort(rng.choice(np.arange(1, t.num_rows), n_files - 1, replace=False))
        cuts += [int(c) for c in inner]
    cuts.append(t.num_rows)
    total = 0
    for k, (a, b) in enumerate(zip(cuts, cuts[1:])):
        f = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(t.slice(a, b - a), f, compression="snappy")
        total += os.path.getsize(f)
    return total


def write_inputs(
    out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int,
    tables: tuple[str, ...] | None = None,
) -> int:
    """Write the chosen tables under ``out_dir/<table>.parquet/``; facts
    are split over two files. Returns the total bytes written."""
    total = 0
    for i, (name, t) in enumerate(make_tables(seed, sf, n_docs, n_vecs).items()):
        if tables is None or name in tables:
            rng = np.random.default_rng([seed, 2, i])
            n_files = 2 if t.num_rows >= 10_000 else 1
            total += write_table(t, os.path.join(out_dir, f"{name}.parquet"), rng, n_files)
    return total

