"""Seeded input generators.

The engine reads parquet tables with the schema of the repository's
test data (TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``).  These generators rebuild that schema from a seed so a
benchmark run needs no input outside its own checkout: the same seed
and scale give byte-identical values.

Scale ``sf`` follows the test data: ``sf=0.1`` gives 600k lineitem rows.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "small"]
PART_NOUN = ["bolt", "gear", "plate", "ring", "screw"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_US = 1_000_000
_DAY_US = 86_400 * _US


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * _US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _vocabulary(size: int) -> np.ndarray:
    """A fixed pseudo-word vocabulary (independent of the run seed)."""
    rng = np.random.default_rng(7)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(2, 9))
        words.add("".join(rng.choice(letters, n)))
    return np.array(sorted(words))


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def build_tables(seed: int, sf: float, names: set[str]) -> dict[str, pa.Table]:
    """Generate the requested tables at scale ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_orders = max(int(1_500_000 * sf), 100)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype="int64")
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 6, n_part), rng.integers(0, 5, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })

    start = _epoch_us(1995, 1, 1)
    odate = start + rng.integers(0, 2404, n_orders) * _DAY_US
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })

    if "lineitem" in names:
        per_order = 1 + rng.poisson(3.0, n_orders)
        okey = np.repeat(np.arange(n_orders, dtype="int64"), per_order)
        n_li = len(okey)
        first = np.repeat(np.cumsum(per_order) - per_order, per_order)
        lineno = (np.arange(n_li) - first + 1).astype("int32")
        out["lineitem"] = pa.table({
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": lineno,
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, n_li) * _DAY_US),
        })

    if "events" in names:
        n_ev = max(int(1_000_000 * sf), 100)
        ts = np.sort(_epoch_us(2024, 1, 1) + rng.integers(0, 30 * _DAY_US, n_ev))
        out["events"] = pa.table({
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": _ts(ts),
            "user_id": rng.integers(0, max(int(15_000 * sf), 10), n_ev).astype("int64"),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": _money(rng, 0.0, 560.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        })

    if "documents" in names:
        out["documents"] = _documents(rng, max(int(50_000 * sf), 50))

    if "embeddings" in names:
        out["embeddings"] = _embeddings(rng, max(int(20_000 * sf), 20))

    return {k: v for k, v in out.items() if k in names}


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Zipf-distributed words from a 4000-word vocabulary; about 5 % of
    documents are exact copies and 5 % near copies (one or two words
    replaced) of earlier documents."""
    vocab = _vocabulary(4000)
    probs = zipf_probs(len(vocab), 1.05)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.10:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
            continue
        n = int(rng.integers(10, 101))
        texts.append(" ".join(vocab[rng.choice(len(vocab), n, p=probs)]))
    return pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng: np.random.Generator, n_vec: int, dim: int = 64, k: int = 10) -> pa.Table:
    """Unit vectors around ``k`` cluster centres; ``label`` is the centre."""
    centres = rng.normal(size=(k, dim))
    label = rng.integers(0, k, n_vec)
    v = centres[label] + rng.normal(scale=1.5, size=(n_vec, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": label.astype("int32"),
    })


def write_tables(out_dir: str, seed: int, sf: float, names: set[str]) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf, names).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ---------------------------------------------------------------------------
# stream events
# ---------------------------------------------------------------------------

STREAM_KEYS = 1000
STREAM_ZIPF_S = 1.1
OUT_OF_ORDER_SHARE = 0.05
OUT_OF_ORDER_MAX_S = 3.0

STREAM_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("key", pa.int64()),
    ("value", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def stream_file(seed: int, k: int, n: int, first_due_s: float, interval_s: float) -> tuple[pa.Table, np.ndarray]:
    """Events of the k-th file: ``n`` zipf-keyed events due evenly over
    one interval starting at ``first_due_s`` (epoch seconds).  Returns
    the table and the due (creation) stamps in epoch seconds.  A small
    share of events carries an event time up to 3 s in the past (out of
    order, always inside the query's watermark)."""
    rng = np.random.default_rng([seed, 2, k])
    due = first_due_s + interval_s * np.arange(n) / n
    lag = np.where(
        rng.random(n) < OUT_OF_ORDER_SHARE, rng.uniform(0, OUT_OF_ORDER_MAX_S, n), 0.0
    )
    ts_us = np.floor((due - lag) * _US).astype("int64")
    table = pa.table(
        {
            "event_id": np.arange(k * n, (k + 1) * n, dtype="int64"),
            "key": rng.choice(STREAM_KEYS, n, p=zipf_probs(STREAM_KEYS, STREAM_ZIPF_S)).astype("int64"),
            "value": rng.integers(1, 100, n).astype("int64"),
            "ts": pa.array(ts_us, type=pa.timestamp("us", tz="UTC")),
        },
        schema=STREAM_SCHEMA,
    )
    return table, due
