"""Seeded generator for the benchmark's input tables.

Writes the ten tables of ``sources.TABLES`` as one parquet file each, with
the column names, types and value domains of the repository's TPC-H-shaped
test tables: the three the CxC master is derived from (``customer``,
``orders``, ``lineitem``; see ``plans/master.py``), the rest of the star
schema (``region``, ``nation``, ``supplier``, ``part``), an ``events``
stream and the ``documents`` and ``embeddings`` corpora the text, vector
and media queries read.  Columns are drawn independently and uniformly, as
in those tables, except where a query needs structure: a share of the
documents are near-duplicates of earlier ones, and embeddings lie around
ten labelled centres.  Row counts follow the TPC-H scale factor ``sf``
(150,000 customers, 1.5M orders and 6M line items at sf 1); the corpora
have 500 rows at every scale, as in the test tables.  The same
``(seed, sf)`` always writes the same rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ORDER_DATES = (dt.date(1995, 1, 1), dt.date(2001, 8, 1))
SHIP_DATES = (dt.date(1995, 1, 2), dt.date(2001, 11, 4))
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["blue", "cold", "hot", "large", "new", "red", "small", "old"],
              ["anvil", "gear", "rod", "widget", "bolt", "spring", "valve", "cog"])
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_DAYS = 30
LANGS = ["en", "en", "es", "fr", "de", "zh"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
CORPUS_ROWS = 500
DUP_SHARE = 0.06
EMBED_DIM = 64
EMBED_LABELS = 10
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, span: tuple[dt.date, dt.date],
           n: int) -> pa.Array:
    lo, hi = (np.datetime64(d, "D") for d in span)
    days = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return pa.array((lo + days).astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, domain: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(domain, dtype=object)[rng.integers(0, len(domain), n)],
                    pa.string())


def generate(out_dir: str, seed: int, sf: float) -> None:
    """Write one ``<table>.parquet`` file per table into ``out_dir``."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = max(int(10_000 * sf), 1)
    os.makedirs(out_dir, exist_ok=True)

    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _dates(rng, ORDER_DATES, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _dates(rng, SHIP_DATES, n_line),
    })
    tables = {"customer": customer, "orders": orders, "lineitem": lineitem,
              **_other_tables(np.random.default_rng([seed, 1]), sf,
                              n_part, n_supp)}
    for name, table in tables.items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for _ in range(CORPUS_ROWS):
        if texts and rng.random() < DUP_SHARE:
            words = texts[rng.integers(0, len(texts))].split()
            words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words + ["dup"]))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n)))
    return pa.table({
        "doc_id": pa.array(np.arange(CORPUS_ROWS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, CORPUS_ROWS),
        "source": pa.array([f"src{i % 20}" for i in range(CORPUS_ROWS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    centres = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    labels = rng.integers(0, EMBED_LABELS, CORPUS_ROWS)
    vecs = centres[labels] + rng.normal(scale=0.8, size=(CORPUS_ROWS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(CORPUS_ROWS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _other_tables(rng: np.random.Generator, sf: float, n_part: int,
                  n_supp: int) -> dict[str, pa.Table]:
    n_events = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 15)
    adjectives, nouns = PART_WORDS
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{adjectives[a]} {nouns[b]}" for a, b in zip(
                rng.integers(0, len(adjectives), n_part),
                rng.integers(0, len(nouns), n_part))]),
            "p_brand": pa.array([f"Brand#{b}" for b in
                                 rng.integers(11, 36, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 2),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(EVENT_START + rng.integers(
                0, EVENT_DAYS * 86_400_000_000, n_events).astype("timedelta64[us]"),
                pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in
                               rng.integers(0, 100, n_events)]),
        }),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }


def ensure(out_dir: str, seed: int, sf: float) -> str:
    """Generate the inputs unless a complete set for this seed and scale
    factor already exists; return ``out_dir``."""
    if not all(os.path.exists(os.path.join(out_dir, f"{t}.parquet"))
               for t in TABLES):
        generate(out_dir, seed, sf)
    return out_dir
