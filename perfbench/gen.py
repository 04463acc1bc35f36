"""Seeded input generator for the benchmark.

Writes the tables the benchmarked queries read (``events``,
``documents``, and the TPC-H-shaped ``lineitem``, ``orders``,
``customer``, ``nation``, ``region``) as single parquet files in the
layout ``crypto_data_pipeline_spark.sources.tables.load_table`` reads,
with the schemas of the synthetic star schema the package is tested
on. The same seed always gives the same table content.

Deliveries for ``corpus_refresh`` come from ``delivery``: new documents
with a fixed share of exact and near duplicates of documents already in
the store, plus new event rows, each drawn from its own seeded stream.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window dup"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 (naive, micros)
DAY_US = 86_400_000_000
NEAR_DUP_SHARE = 0.06  # of a version's documents: near copies of earlier ones
DELIVERY_EXACT_SHARE = 0.1  # of a delivery's documents: verbatim copies of stored ones
DELIVERY_NEAR_SHARE = 0.1  # of a delivery's documents: near copies of stored ones


@dataclass(frozen=True)
class Size:
    docs: int
    events: int
    users: int
    days: int
    orders: int = 0  # 0: no TPC-H tables


def _text(rng: np.random.Generator) -> str:
    n = int(rng.integers(10, 100))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def _near_copy(rng: np.random.Generator, text: str) -> str:
    """The same document with one or two tokens replaced: above every
    near-duplicate threshold, but a different exact-content hash."""
    toks = text.split()
    for _ in range(int(rng.integers(1, 3))):
        toks[int(rng.integers(0, len(toks)))] = "dup"
    out = " ".join(toks)
    return out if out != text else out + " dup"


def documents_table(texts: list[str], ids, rng: np.random.Generator) -> pa.Table:
    langs = rng.choice(len(LANGS), size=len(texts), p=LANG_P)
    sources = rng.integers(0, 20, len(texts))
    return pa.table({
        "doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in langs], pa.string()),
        "source": pa.array([f"src{i}" for i in sources], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def corpus_texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` documents of which about ``NEAR_DUP_SHARE`` are near copies
    of earlier ones, so the near-duplicate operators have clusters."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < NEAR_DUP_SHARE:
            texts.append(_near_copy(rng, texts[int(rng.integers(0, i))]))
        else:
            texts.append(_text(rng))
    return texts


def events_table(
    rng: np.random.Generator, n: int, users: int, day0: int, days: int, id0: int = 0
) -> pa.Table:
    ts = np.sort(EPOCH_US + day0 * DAY_US + rng.integers(0, days * DAY_US, n))
    value = np.round(rng.exponential(50.0, n), 2) + 0.01
    return pa.table({
        "event_id": pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(np.round(value, 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
    })


NATIONS = 25
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def tpch_tables(rng: np.random.Generator, n_orders: int) -> dict[str, pa.Table]:
    """``region``, ``nation``, ``customer``, ``orders`` and ``lineitem``
    with one to seven lines per order. Prices and discounts sit on the
    cent grid, so the rounded sums the oracles compare are exact."""
    n_cust = max(n_orders // 10, 10)
    region = pa.table({
        "r_regionkey": pa.array(np.arange(len(REGIONS), dtype=np.int32)),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(NATIONS, dtype=np.int32)),
        "n_name": pa.array([f"NATION{i:02d}" for i in range(NATIONS)], pa.string()),
        "n_regionkey": pa.array((np.arange(NATIONS) % len(REGIONS)).astype(np.int32)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_cust + 1)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, NATIONS, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(
            [("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")[i]
             for i in rng.integers(0, 5, n_cust)], pa.string()),
    })
    day0 = np.datetime64("1992-01-01", "us")
    o_date = day0 + rng.integers(0, 2400, n_orders) * np.timedelta64(1, "D")
    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)
    n_lines = len(l_order)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    ext = qty * rng.integers(900, 2000, n_lines) / 100.0
    ship = np.repeat(o_date, lines) + rng.integers(1, 122, n_lines) * np.timedelta64(1, "D")
    flags = rng.integers(0, 3, n_lines)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(1, 2001, n_lines).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(1, 101, n_lines).astype(np.int64)),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(ext),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in flags], pa.string()),
        "l_linestatus": pa.array(["F" if i != 1 else "O" for i in flags], pa.string()),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(1, n_orders + 1, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)], pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(800, 500000, n_orders), 2)),
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": pa.array([f"{i + 1}-PRIO" for i in rng.integers(0, 5, n_orders)], pa.string()),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "orders": orders, "lineitem": lineitem}


def write_inputs(out_dir: str, seed: int, version: int, size: Size) -> list[str]:
    """Version ``version`` of every table ``size`` asks for, under
    ``out_dir``; returns the documents' texts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0, version])
    texts = corpus_texts(rng, size.docs)
    if size.docs:
        pq.write_table(documents_table(texts, range(size.docs), rng), f"{out_dir}/documents.parquet")
    pq.write_table(
        events_table(rng, size.events, size.users, 0, size.days), f"{out_dir}/events.parquet"
    )
    if size.orders:
        for name, table in tpch_tables(rng, size.orders).items():
            pq.write_table(table, f"{out_dir}/{name}.parquet")
    return texts


@dataclass
class Delivery:
    docs: pa.Table
    events: pa.Table
    novel: int  # documents whose normalized text is new to the store and the batch


def delivery(
    seed: int, cycle: int, store_texts: list[str], next_doc_id: int, next_event_id: int,
    size: Size, n_docs: int, n_events: int,
) -> Delivery:
    """Delivery ``cycle`` (from 1): ``n_docs`` documents of which about
    ``DELIVERY_EXACT_SHARE`` repeat a stored document verbatim and
    ``DELIVERY_NEAR_SHARE`` are near copies of one, plus ``n_events``
    events on the days that follow the base version's days (one new day
    per cycle)."""
    rng = np.random.default_rng([seed, 1, cycle])
    texts: list[str] = []
    for _ in range(n_docs):
        u = rng.random()
        if u < DELIVERY_EXACT_SHARE:
            texts.append(store_texts[int(rng.integers(0, len(store_texts)))])
        elif u < DELIVERY_EXACT_SHARE + DELIVERY_NEAR_SHARE:
            texts.append(_near_copy(rng, store_texts[int(rng.integers(0, len(store_texts)))]))
        else:
            texts.append(_text(rng))
    seen = {normalized_text(t) for t in store_texts}
    novel = 0
    for t in texts:
        if normalized_text(t) not in seen:
            seen.add(normalized_text(t))
            novel += 1
    docs = documents_table(texts, range(next_doc_id, next_doc_id + n_docs), rng)
    events = events_table(rng, n_events, size.users, size.days + cycle, 1, next_event_id)
    return Delivery(docs, events, novel)


def normalized_text(text: str) -> str:
    """Python twin of ``operators.text.normalized``."""
    return " ".join(text.lower().split())
