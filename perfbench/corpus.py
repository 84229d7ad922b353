"""Seeded synthetic corpus in the engine's ten-table layout.

The benchmark generates every input itself, so a run depends on nothing
outside its checkout and the same ``seed`` always yields byte-identical
tables. Sizes and distributions reproduce the measured shape of the
engine's test corpus (the TPC-H-style tables of ``FIXTURES.md``, profiled at
sf 0.001, 0.01 and 0.1; the figures are in ``DESIGN.md``):

- row counts scale with ``sf`` (customer 150k, part 200k, supplier 10k,
  orders 1.5M, line items 4 per order, events 1M, all times ``sf``);
  documents are ``max(500, 50k*sf)`` and embeddings
  ``min(2000, max(500, 50k*sf))``;
- keys are uniform: every line item picks its order and part uniformly, so
  a basket holds Poisson(4) items (about 1.8% of orders hold none) and a
  part sells Poisson(30) times, with no popularity skew; every
  order picks its customer uniformly (Poisson(10) orders a customer);
- dates, prices and quantities are uniform and independent of each other;
  event values are exponential with mean 50;
- documents are 10-100 tokens drawn uniformly from a 30-word vocabulary,
  40% ``en`` and 15% each of four other languages, sources round-robin
  over 20; 5% of them are a copy of another document plus the token
  ``dup`` (the near-duplicates the dedup stages look for);
- embeddings are isotropic Gaussian vectors of 64 dimensions, normalised,
  with a uniform label in 0-9 that carries no cluster structure.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark line "
    "sort window order data column join small customer query big filter group "
    "stream vector a the"
).split()
NAME_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NAME_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
LANGS = ("en", "fr", "de", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
LINES_PER_ORDER = 4
NEAR_DUP_SHARE = 0.05
EMB_DIM = 64
EMB_LABELS = 10

DAY_US = 86_400 * 1_000_000
ORDER_DAYS = (788_918_400 * 1_000_000, 2405)  # 1995-01-01 .. 2001-08-01
SHIP_DAYS = (788_918_400 * 1_000_000 + DAY_US, 2499)  # 1995-01-02 .. 2001-11-04
EVENT_START_US = 1_704_067_200 * 1_000_000  # 2024-01-01, events span 30 days


def sizes(sf: float) -> dict[str, int]:
    """Row counts of the generated tables at scale factor ``sf``."""
    def n(base):
        return max(1, int(round(base * sf)))

    return {
        "customer": n(150_000),
        "part": n(200_000),
        "supplier": n(10_000),
        "orders": n(1_500_000),
        "lineitem": LINES_PER_ORDER * n(1_500_000),
        "events": n(1_000_000),
        "documents": max(500, n(50_000)),
        "embeddings": min(2000, max(500, n(50_000))),
    }


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng: np.random.Generator, span: tuple[int, int], size: int) -> pa.Array:
    start, days = span
    return pa.array((start + rng.integers(0, days, size) * DAY_US).astype("int64"),
                    type=pa.timestamp("us"))


def _acctbal(rng: np.random.Generator, size: int) -> np.ndarray:
    return np.round(rng.uniform(-999.99, 9999.99, size), 2)


def documents(rng: np.random.Generator, n_doc: int) -> list[str]:
    words = np.array(VOCAB)
    texts = [" ".join(rng.choice(words, int(rng.integers(10, 101)))) for _ in range(n_doc)]
    for i in rng.choice(n_doc, int(round(n_doc * NEAR_DUP_SHARE)), replace=False):
        src = int(rng.integers(0, n_doc - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    return texts


def write_corpus(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; return the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    n_cust, n_part, n_supp, n_ord, n_li = (
        n["customer"], n["part"], n["supplier"], n["orders"], n["lineitem"])

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _acctbal(rng, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _acctbal(rng, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(NAME_ADJ, n_part),
                                             rng.choice(NAME_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 / 10.0, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days(rng, ORDER_DAYS, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, SHIP_DAYS, n_li),
    })

    n_ev = n["events"]
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(np.sort(EVENT_START_US + rng.integers(0, 30 * DAY_US, n_ev)),
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    n_doc = n["documents"]
    texts = documents(rng, n_doc)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })

    n_emb = n["embeddings"]
    vecs = rng.normal(0, 1, (n_emb, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": rng.integers(0, EMB_LABELS, n_emb).astype("int32"),
    })
    return n
