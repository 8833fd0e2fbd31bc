"""Seeded generator of the star-schema reporting corpus.

Writes the ten tables the query registry reads (``region`` ...
``embeddings``, one parquet file each) with the column names, types and
value domains of the engine's synthetic test schema.  The same seed
writes byte-identical files; a different seed writes different rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "green", "large", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.13, 0.15, 0.14]
EMBED_DIMS = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(
        table,
        os.path.join(out_dir, f"{name}.parquet"),
        compression="snappy",
        # no wall-clock or library-version strings in the file, so the
        # same seed yields the same bytes
        write_statistics=True,
        store_schema=False,
    )


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _text(rng: np.random.RandomState, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.randint(0, len(WORDS), n_words))


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the corpus for ``seed`` at scale ``sf`` (1.0 = 6M lineitem
    rows); returns the row count of each table."""
    rng = np.random.RandomState(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_users = 150
    rows: dict[str, int] = {}

    def put(name: str, cols: dict[str, pa.Array]) -> None:
        t = pa.table(cols)
        rows[name] = t.num_rows
        _write(out_dir, name, t)

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.randint(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(
            [SEGMENTS[i] for i in rng.randint(0, 5, n_cust)]
        ),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.randint(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    adj = rng.randint(0, len(PART_ADJ), n_part)
    noun = rng.randint(0, len(PART_NOUN), n_part)
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(
            [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]
        ),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.randint(1, 26, n_part)]),
        "p_type": pa.array([PART_TYPES[i] for i in rng.randint(0, 6, n_part)]),
        "p_size": pa.array(rng.randint(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
        ),
    })
    o_date_days = rng.randint(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.randint(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.randint(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2)),
        "o_orderdate": _ts(_EPOCH_1995_US + o_date_days.astype("int64") * _DAY_US),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.randint(0, 5, n_ord)]),
    })
    n_lines = rng.randint(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), n_lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in n_lines])
    n_li = len(l_order)
    qty = rng.randint(1, 51, n_li).astype("float64")
    part = rng.randint(0, n_part, n_li)
    price = np.round(qty * (900.0 + (part % 1000) * 0.1) * rng.uniform(0.95, 1.05, n_li), 2)
    ship_days = o_date_days[l_order] + rng.randint(1, 122, n_li)
    put("lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(part, pa.int64()),
        "l_suppkey": pa.array(rng.randint(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.randint(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.randint(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.randint(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.randint(0, 2, n_li)]),
        "l_shipdate": _ts(_EPOCH_1995_US + ship_days.astype("int64") * _DAY_US),
    })
    ev_ts = np.sort(rng.randint(0, 30 * _DAY_US, n_events).astype("int64"))
    put("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(_EPOCH_2024_US + ev_ts),
        "user_id": pa.array(rng.randint(0, n_users, n_events), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.randint(0, 5, n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_events) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.randint(0, 100, n_events)]),
    })
    # documents: every 10th doc is a near-duplicate of an earlier one
    # (a few words swapped), so the dedup families find real clusters
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and i % 10 == 0:
            src = texts[rng.randint(0, i)].split(" ")
            for _ in range(max(1, len(src) // 20)):
                src[rng.randint(0, len(src))] = WORDS[rng.randint(0, len(WORDS))]
            texts.append(" ".join(src))
        else:
            texts.append(_text(rng, int(rng.randint(8, 100))))
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.randint(0, 10, n_docs)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIMS))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_docs, EMBED_DIMS))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(
            [v for v in vecs.astype("float32")], pa.list_(pa.float32())
        ),
        "label": pa.array(labels, pa.int32()),
    })
    return rows
