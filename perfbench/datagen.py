"""Seeded generator for the tables the ``queries`` workload reads.

Writes one parquet file per table with the column names and types of the
TPC-H-like star schema plus the ``events``, ``documents`` and ``embeddings``
tables that ``__spark_entry__.queries()`` expects.  Sizes follow the
smallest standard scale (sf0.001: 6k lineitem rows, 500 documents, 500
64-d embeddings), so a pass over the queries is bound by per-query fixed
costs, which is what the per-layer split is meant to expose.

Every value derives from ``numpy.random.default_rng(seed)``; the same seed
writes byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)

N_DOCS = 500
N_VECS = 500
DIM = 64
N_EVENTS = 1000
N_USERS = 15
N_ORDERS = 1500
N_LINEITEM = 6000
N_CUSTOMERS = 150
N_PARTS = 200
N_SUPPLIERS = 10


def _us(base: str, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"))


def _days(base: str, rng, n: int, span: int) -> pa.Array:
    return _us(base, rng.integers(0, span, n) * 86_400_000_000)


def generate(out_dir: str, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    # documents: random 10..100-token texts over a 31-word vocabulary, with
    # planted near-duplicate pairs (3% of tokens replaced) so the dedup
    # family has true positives at any seed
    toks = [VOCAB[rng.integers(0, len(VOCAB), n)] for n in rng.integers(10, 101, N_DOCS)]
    n_pairs = N_DOCS // 50
    ids = rng.choice(N_DOCS, size=2 * n_pairs, replace=False)
    for a, b in zip(ids[:n_pairs], ids[n_pairs:]):
        t = toks[a].copy()
        flip = rng.random(len(t)) < 0.03
        t[flip] = VOCAB[rng.integers(0, len(VOCAB), int(flip.sum()))]
        toks[b] = t
    texts = [" ".join(t) for t in toks]
    write(
        "documents",
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": texts,
            "lang": rng.choice(["en", "de", "fr", "es", "zh"], N_DOCS, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
    )

    # embeddings cluster around one centroid per label, as embeddings of
    # related documents do; nearest neighbours then share a label.  (On
    # isotropic vectors every point is nearly equidistant from the others,
    # and the ANN recall floors of the similarity queries failed on 2 of
    # 10 seeds.)
    labels = rng.integers(0, 10, N_VECS)
    centroids = rng.standard_normal((10, DIM))
    vecs = ((centroids[labels] + 0.5 * rng.standard_normal((N_VECS, DIM))) * 0.125).astype(np.float32)
    write(
        "embeddings",
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        },
    )

    ts = np.sort((rng.random(N_EVENTS) * 30 * 86_400e6).astype(np.int64))
    write(
        "events",
        {
            "event_id": pa.array(range(N_EVENTS), pa.int64()),
            "ts": _us("2024-01-01T00:00:00", ts),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": rng.choice(["click", "view", "signup", "purchase", "error"], N_EVENTS),
            "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        },
    )

    write(
        "orders",
        {
            "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
            "o_orderstatus": rng.choice(["O", "F", "P"], N_ORDERS),
            "o_totalprice": np.round(rng.random(N_ORDERS) * 499_000 + 1000, 2),
            "o_orderdate": _days("1995-01-01", rng, N_ORDERS, 2404),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS
            ),
        },
    )

    write(
        "lineitem",
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PARTS, N_LINEITEM), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, N_LINEITEM), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
            "l_quantity": np.floor(rng.random(N_LINEITEM) * 50 + 1),
            "l_extendedprice": np.round(rng.random(N_LINEITEM) * 104_000 + 900, 2),
            "l_discount": np.round(rng.integers(0, 11, N_LINEITEM) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, N_LINEITEM) * 0.01, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
            "l_linestatus": rng.choice(["O", "F"], N_LINEITEM),
            "l_shipdate": _days("1995-01-02", rng, N_LINEITEM, 2498),
        },
    )

    write(
        "customer",
        {
            "c_custkey": pa.array(range(N_CUSTOMERS), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
            "c_acctbal": np.round(rng.random(N_CUSTOMERS) * 11_000 - 1000, 2),
            "c_mktsegment": rng.choice(
                ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"], N_CUSTOMERS
            ),
        },
    )
    write(
        "part",
        {
            "p_partkey": pa.array(range(N_PARTS), pa.int64()),
            "p_name": [f"part {i}" for i in range(N_PARTS)],
            "p_brand": rng.choice([f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)], N_PARTS),
            "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], N_PARTS),
            "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(N_PARTS) * 0.1, 2),
        },
    )
    write(
        "supplier",
        {
            "s_suppkey": pa.array(range(N_SUPPLIERS), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
            "s_acctbal": np.round(rng.random(N_SUPPLIERS) * 11_000 - 1000, 2),
        },
    )
    write(
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
    )
    write(
        "region",
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
    )
