"""Seeded input generator for the benchmark.

Writes the ten base tables the engine reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the same column names and types as the engine's
test fixtures.  Every value comes from `numpy.random.default_rng(seed)`,
so the same seed always yields byte-identical inputs.

Shape notes:
  - orders -> the namespace `keys` (one key per order), lineitem ->
    block `locations` (1..7 blocks per key);
  - one document in 12 is a near-copy of a recent original with a few
    words replaced, so the dedup kernels find real pairs;
  - embeddings are unit vectors drawn around 10 label centres;
  - events are time-ordered over 30 days for a small user pool, so the
    session operators see multi-event sessions.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

VOCAB = np.array(
    "a the data key value table row column scan filter join hash sort merge "
    "group agg order part line customer query window stream batch spark "
    "vector fast slow big small".split())

_DAY_US = 86_400_000_000
DUP_EVERY = 12   # one near-copy per 12 documents


@dataclass(frozen=True)
class Scale:
    orders: int = 1500
    customers: int = 150
    parts: int = 200
    suppliers: int = 10
    events: int = 1000
    users: int = 15
    documents: int = 500
    # the embedding oracles are pinned to corpora of at most 500 vectors
    embeddings: int = 500


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(datetime(y, m, d, tzinfo=timezone.utc).timestamp()) * 1_000_000


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Random word sequences; every DUP_EVERY-th document is a near-copy
    of the original just before its family (a few words replaced by
    different words), so near-duplicate families are cliques of fixed
    size whatever the seed, and dedup work does not swing with it."""
    out: list[str] = []
    for i in range(n):
        if i % DUP_EVERY:
            k = int(rng.integers(10, 101))
            out.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), k)]))
            continue
        words = out[i - 1 - int(rng.integers(0, 3))].split() if i else []
        if not words:
            out.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), 50)]))
            continue
        for j in rng.choice(len(words), max(1, len(words) // 20),
                            replace=False):
            shift = int(rng.integers(1, len(VOCAB)))
            words[j] = VOCAB[(np.flatnonzero(VOCAB == words[j])[0] + shift)
                             % len(VOCAB)]
        out.append(" ".join(words))
    return out


def generate(out_dir: str, seed: int, scale: Scale = Scale()) -> dict[str, int]:
    """Write every table under `out_dir`; returns row counts by table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, int] = {}

    def write(name: str, cols: dict) -> None:
        table = pa.table(cols)
        rows[name] = table.num_rows
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    def pick(values, n):
        values = np.asarray(values)
        return values[rng.integers(0, len(values), n)]

    s = scale
    write("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    write("customer", {
        "c_custkey": np.arange(s.customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, s.customers), 2),
        "c_mktsegment": pick(["FURNITURE", "MACHINERY", "BUILDING",
                              "HOUSEHOLD", "AUTOMOBILE"], s.customers)})
    write("supplier", {
        "s_suppkey": np.arange(s.suppliers, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s.suppliers), 2)})
    adj = pick(["cold", "small", "large", "blue", "old", "new", "hot", "red"],
               s.parts)
    noun = pick(["widget", "bolt", "rod", "anvil", "ring", "gizmo", "plate",
                 "gear"], s.parts)
    write("part", {
        "p_partkey": np.arange(s.parts, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, s.parts)],
        "p_type": pick(["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD",
                        "SMALL"], s.parts),
        "p_size": pa.array(rng.integers(1, 51, s.parts), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(s.parts) % 1000) / 10, 2)})

    n_days = (datetime(2001, 8, 1) - datetime(1995, 1, 1)).days
    odate = _epoch_us(1995, 1, 1) + rng.integers(0, n_days + 1, s.orders) * _DAY_US
    write("orders", {
        "o_orderkey": np.arange(s.orders, dtype=np.int64),
        "o_custkey": rng.integers(0, s.customers, s.orders),
        "o_orderstatus": pick(["F", "O", "P"], s.orders),
        "o_totalprice": np.round(rng.uniform(1000, 500000, s.orders), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], s.orders)})
    okey = np.repeat(np.arange(s.orders, dtype=np.int64),
                     rng.integers(1, 8, s.orders))
    n = len(okey)
    write("lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, s.parts, n),
        "l_suppkey": rng.integers(0, s.suppliers, n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(["N", "A", "R"], n),
        "l_linestatus": pick(["O", "F"], n),
        "l_shipdate": pa.array(odate[okey] + rng.integers(1, 120, n) * _DAY_US,
                               pa.timestamp("us"))})

    ts = np.sort(_epoch_us(2024, 1, 1) + rng.integers(0, 30 * _DAY_US, s.events))
    write("events", {
        "event_id": np.arange(s.events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, s.users, s.events),
        "event_type": pick(["click", "purchase", "error", "signup", "view"],
                           s.events),
        "value": np.round(rng.uniform(0, 330, s.events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, s.events)]})

    texts = _texts(rng, s.documents)
    write("documents", {
        "doc_id": np.arange(s.documents, dtype=np.int64),
        "text": texts,
        "lang": pick(["en", "en", "fr", "es", "zh", "de"], s.documents),
        "source": [f"src{i}" for i in rng.integers(0, 20, s.documents)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, 10, s.embeddings)
    centres = rng.normal(size=(10, 64))
    vec = centres[labels] * 0.6 + rng.normal(size=(s.embeddings, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(s.embeddings, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return rows
