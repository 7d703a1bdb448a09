"""Seeded generator for the tables the query workloads read.

Writes ``events``, ``customer``, ``orders``, ``documents`` and
``embeddings`` parquet files with the schemas and value distributions of
the repository's fixed sf tables (TPC-H-ish star schema plus a text and
a vector table), so that every ``queries()`` entry and its
``oracle_sql()`` twin run unchanged on them:

* row counts scale with ``sf`` as in the fixed tables (events 1M x sf,
  customer 150k x sf, orders 1.5M x sf; documents and embeddings have a
  floor of 500 rows);
* event timestamps are sorted uniform over 30 days, user ids cover
  15k x sf users, orders point at any customer;
* documents are 10-100 words from a 30-word vocabulary, and 5% of them
  are an earlier original (never another copy) plus the word ``dup``.
  Every near-duplicate pair therefore has Jaccard >= 8/9 on 3-word
  shingles, the profile at
  which ``minhash_lsh``'s banding recall is 1 - 1e-7 and its exact
  oracle stays valid;
* embeddings are uniform random 64-d unit vectors (float32).

Generation is numpy + pyarrow only; it never touches Spark.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DUP_FRAC = 0.05
DIM = 64

_US_PER_DAY = 86_400_000_000
_EVENTS_T0 = datetime.datetime(2024, 1, 1)
_ORDERS_T0 = datetime.datetime(1995, 1, 1)
_ORDER_DAYS = 2405


def _pick(rng: np.random.Generator, choices: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices)[rng.choice(len(choices), size=n, p=p)])


def _ts(t0: datetime.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(t0, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def gen_events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    offsets = np.sort(rng.integers(0, 30 * _US_PER_DAY, size=n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": _ts(_EVENTS_T0, offsets),
            "user_id": pa.array(rng.integers(0, n_users, size=n, dtype=np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )


def gen_customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n, dtype=np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n), 2)),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        }
    )


def gen_orders(rng: np.random.Generator, n: int, n_customers: int) -> pa.Table:
    days = rng.integers(0, _ORDER_DAYS, size=n)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_customers, size=n, dtype=np.int64)),
            "o_orderstatus": _pick(rng, STATUSES, n),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, size=n), 2)),
            "o_orderdate": _ts(_ORDERS_T0, days * _US_PER_DAY),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )


def gen_documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(WORDS)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if originals and rng.random() < DUP_FRAC:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), size=int(rng.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_WEIGHTS),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def gen_embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, size=n, dtype=np.int32)),
        }
    )


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the five tables for scale ``sf`` into ``out_dir``. Each table
    draws from its own child stream of ``seed``."""
    n_customers = round(150_000 * sf)
    streams = np.random.SeedSequence(seed).spawn(5)
    tables = {
        "events": lambda r: gen_events(r, round(1_000_000 * sf), round(15_000 * sf)),
        "customer": lambda r: gen_customer(r, n_customers),
        "orders": lambda r: gen_orders(r, round(1_500_000 * sf), n_customers),
        "documents": lambda r: gen_documents(r, max(500, round(50_000 * sf))),
        "embeddings": lambda r: gen_embeddings(r, max(500, round(20_000 * sf))),
    }
    os.makedirs(out_dir, exist_ok=True)
    for (name, make), stream in zip(tables.items(), streams):
        pq.write_table(make(np.random.default_rng(stream)), os.path.join(out_dir, f"{name}.parquet"))
