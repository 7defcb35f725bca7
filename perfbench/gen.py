"""Seeded input generation.

Every table the benchmark feeds the engine is drawn here from one
``numpy`` generator seeded by ``--seed``, and written as parquet with
fixed writer settings, so the same seed gives byte-identical files and a
different seed gives different ones. Schemas match the engine's fixture
tables (``events``, ``documents``, ``embeddings`` and the star-schema
dimensions the dashboard joins read).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
DIM = 64
WORDS = tuple(
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query a big key window row table stream merge "
    "data vector join index shard node cache page disk memory log time "
    "count sum mean rank tree graph edge path load store flush commit "
    "read write plan task stage job queue lock retry bloom sketch bucket "
    "split probe delta segment manifest compact rollup meter power house "
    "appliance cycle duty panel grid feed solar peak idle".split())
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def write(table: pa.Table, path: str) -> str:
    """Deterministic parquet write: no pandas metadata, one codec, fixed
    row-group size."""
    pq.write_table(table.replace_schema_metadata(None), path,
                   compression="zstd", row_group_size=64 * 1024,
                   version="2.6")
    return path


def _us(t: dt.datetime) -> int:
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**6


def events(rng: np.random.Generator, n: int = 20_000, houses: int = 20,
           days: int = 6, burst_minutes: int = 40) -> pa.Table:
    """Time-ordered power readings in ``events`` shape. Each day carries
    one burst at the same clock time, so the history lookback's same-time
    intervals on earlier days hold data."""
    start = _us(dt.datetime(2024, 1, 1)) + int(rng.integers(0, 200)) \
        * 86_400 * 10**6 + int(rng.integers(0, 20 * 3600)) * 10**6
    day = rng.integers(0, days, n)
    off = rng.integers(0, burst_minutes * 60 * 10**6, n)
    ts = np.sort(start + day * 86_400 * 10**6 + off)
    on = rng.random(n) < 0.85
    value = np.round(np.where(on, rng.uniform(5.0, 560.0, n),
                              rng.uniform(0.0, 5.0, n)), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, houses, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[
            rng.integers(0, len(EVENT_TYPES), n)].tolist()),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, n)]),
    })


def documents(rng: np.random.Generator, n: int = 1200,
              dup_share: float = 0.15, first_id: int = 0) -> pa.Table:
    """Text corpus with a planted share of exact copies (a third) and
    near-copies (a few words swapped) of original documents, so exact
    dedup, MinHash LSH and the cluster passes all find real pairs. The
    number of copies is fixed and every copy is of an original, so the
    pair and cluster work is about the same for every seed."""
    words = np.array(WORDS)
    n_copies = int(n * dup_share)
    texts = [" ".join(words[rng.integers(0, len(words),
                                         int(rng.integers(20, 70)))])
             for _ in range(n - n_copies)]
    for c in range(n_copies):
        src = texts[int(rng.integers(0, n - n_copies))].split()
        if c % 3:
            for j in rng.integers(0, len(src), max(1, len(src) // 12)):
                src[j] = str(words[int(rng.integers(0, len(words)))])
        texts.append(" ".join(src))
    texts = [texts[i] for i in rng.permutation(n)]
    langs = np.array(("en", "de", "fr", "es", "zh"))
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n,
                                     dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, 5, n)].tolist()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64)),
    })


def embedding_matrix(rng: np.random.Generator, n: int,
                     clusters: int = 16, dup_share: float = 0.05
                     ) -> np.ndarray:
    """Clustered unit-free float32 vectors with a fixed share of
    near-identical copies (cosine > 0.99) of originals, for semantic
    dedup."""
    centers = rng.normal(size=(clusters, DIM))
    x = centers[rng.integers(0, clusters, n)] + rng.normal(
        scale=0.9, size=(n, DIM))
    n_orig = n - int(n * dup_share)
    x[n_orig:] = x[rng.integers(0, n_orig, n - n_orig)] + rng.normal(
        scale=0.02, size=(n - n_orig, DIM))
    return x[rng.permutation(n)].astype(np.float32)


def embeddings(rng: np.random.Generator, n: int = 2000,
               first_id: int = 0) -> pa.Table:
    x = embedding_matrix(rng, n)
    return pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + n,
                                     dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 4, n).astype(np.int32)),
    })


def star(rng: np.random.Generator, customers: int = 1500,
         orders: int = 15_000, suppliers: int = 100) -> dict[str, pa.Table]:
    """The star-schema tables the dashboard's join tiles read."""
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(list(REGIONS)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(customers, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)]),
        "c_nationkey": pa.array(rng.integers(0, 25, customers)
                                .astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, customers),
                                       2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[
            rng.integers(0, 5, customers)].tolist()),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(suppliers, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(suppliers)]),
        "s_nationkey": pa.array(rng.integers(0, 25, suppliers)
                                .astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, suppliers),
                                       2)),
    })
    d0 = _us(dt.datetime(1995, 1, 1))
    day = 86_400 * 10**6
    odate = d0 + rng.integers(0, 2400, orders) * day
    orders_t = pa.table({
        "o_orderkey": pa.array(np.arange(orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, customers, orders)
                              .astype(np.int64)),
        "o_orderstatus": pa.array(np.array(("F", "O", "P"))[
            rng.integers(0, 3, orders)].tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, orders),
                                          2)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            rng.integers(0, 5, orders)].tolist()),
    })
    per = rng.integers(1, 8, orders)
    lk = np.repeat(np.arange(orders, dtype=np.int64), per)
    m = len(lk)
    lineitem = pa.table({
        "l_orderkey": pa.array(lk),
        "l_partkey": pa.array(rng.integers(0, 2000, m).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, suppliers, m)
                              .astype(np.int64)),
        "l_linenumber": pa.array(np.concatenate(
            [np.arange(1, p + 1) for p in per]).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 95_000, m),
                                             2)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array(np.array(("A", "N", "R"))[
            rng.integers(0, 3, m)].tolist()),
        "l_linestatus": pa.array(np.array(("F", "O"))[
            rng.integers(0, 2, m)].tolist()),
        "l_shipdate": pa.array(np.repeat(odate, per)
                               + rng.integers(1, 122, m) * day,
                               pa.timestamp("us")),
    })
    return {"nation": nation, "region": region, "customer": customer,
            "supplier": supplier, "orders": orders_t, "lineitem": lineitem}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write each table once: a file already there was drawn from the same
    seed by another part of a combined workload, so it is the same."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(path):
            write(t, path)


def write_slices(table: pa.Table, out_dir: str, n_slices: int) -> list[str]:
    """Split a time-ordered table into ``n_slices`` equal files whose
    mtimes increase with slice order (the file source orders a replay's
    micro-batches by mtime)."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_slices)
    base = int(os.stat(out_dir).st_mtime) - 10 * n_slices
    paths = []
    for i in range(n_slices):
        p = write(table.slice(i * step, step),
                  os.path.join(out_dir, f"slice_{i:03d}.parquet"))
        os.utime(p, (base + i, base + i))
        paths.append(p)
    return paths
