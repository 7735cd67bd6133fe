"""Seeded fixture generator for the benchmark workloads.

Follows the table recipe of ``scripts/gen_sf.py`` (same schemas, value
ranges and category frequencies, scaled by ``sf``) but takes the seed as an
argument, can concentrate events and orders on one hot key, and writes the
stream backlog as time-ordered parquet files directly with pyarrow.
Everything is vectorised with numpy so generation stays well under a second
at the sizes the workloads use.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array((
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split())
ADJ = np.array(["large", "hot", "blue", "old", "cold", "new", "dark", "light"])
NOUN = np.array(["ring", "bolt", "plate", "screw", "wheel", "gear", "cap", "rod"])
TYPES = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ETYPES = np.array(["click", "error", "purchase", "signup", "view"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

DAY_US = 86_400_000_000
D1995 = 9131   # epoch day of 1995-01-01
D2024 = 19723  # epoch day of 2024-01-01


def _ts_us(lo_day: int, span_days: float, u: np.ndarray) -> pa.Array:
    return pa.array((lo_day * DAY_US + u * span_days * DAY_US).astype("int64"),
                    pa.timestamp("us"))


def _keys(rng, n: int, n_keys: int, hot_share: float) -> np.ndarray:
    """Uniform keys over [0, n_keys); with ``hot_share`` > 0, key 0 takes
    that share of the rows and the rest spread over the other keys."""
    keys = rng.integers(0, n_keys, n)
    if hot_share > 0:
        keys = np.where(rng.random(n) < hot_share, 0, rng.integers(1, n_keys, n))
    return keys


def events_table(rng, n_ev: int, n_users: int, hot_share: float = 0.0) -> pa.Table:
    return pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts_us(D2024, 30, np.sort(rng.random(n_ev))),
        "user_id": pa.array(_keys(rng, n_ev, n_users, hot_share), pa.int64()),
        "event_type": pa.array(ETYPES[rng.integers(0, 5, n_ev)]),
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })


def tables(sf: float, seed: int, hot_user_share: float = 0.0,
           hot_cust_share: float = 0.0) -> dict[str, pa.Table]:
    """All fixture tables at scale ``sf``; the same seed gives the same tables."""
    n_cust, n_supp = int(sf * 150_000), int(sf * 10_000)
    n_part, n_ord = int(sf * 200_000), int(sf * 1_500_000)
    n_ev, n_users = int(sf * 1_000_000), int(sf * 15_000)
    n_doc, n_emb = int(sf * 50_000), int(sf * 20_000)
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(
            ADJ[rng.integers(0, 8, n_part)], " "), NOUN[rng.integers(0, 8, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(0, 25, n_part).astype(str))),
        "p_type": pa.array(TYPES[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(_keys(rng, n_ord, n_cust, hot_cust_share), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts_us(D1995, 2404, rng.random(n_ord)),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_ord)]),
    })
    # 1 + Poisson(3.07) lines per order, capped at 17
    lines = np.minimum(1 + rng.poisson(3.07, n_ord), 17)
    lkey = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    n_li = lkey.size
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts_us(D1995, 2500, rng.random(n_li)),
    })
    out["events"] = events_table(rng, n_ev, n_users, hot_user_share)
    # documents: 10-100 words each; ~0.3% of rows copy an earlier doc verbatim
    n_words = rng.integers(10, 101, n_doc)
    words = VOCAB[rng.integers(0, len(VOCAB), (n_doc, 100))]
    texts = [" ".join(words[i, :n_words[i]]) for i in range(n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.003):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(LANGS[rng.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n_doc).astype(str))),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.normal(0, 1, (n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def write_tables(out_dir: str, tabs: dict[str, pa.Table]) -> dict[str, dict]:
    """Write one parquet file per table; return rows and bytes of each."""
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name, t in tabs.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        stats[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return stats


def write_backlog(out_dir: str, events: pa.Table, n_files: int,
                  sentinel_after_s: int) -> None:
    """Write ``events`` (sorted by ts) as ``n_files`` time-contiguous parquet
    files plus one sentinel file, with strictly increasing modification
    times so the file source replays them in event-time order.

    The sentinel is one row of user -1 stamped ``sentinel_after_s`` seconds
    after the last event: it pushes the watermark past every real window and
    session so append-mode operators emit their final results.
    """
    os.makedirs(out_dir, exist_ok=True)
    n = events.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    last = events.slice(n - 1, 1)
    sentinel = last.set_column(
        last.schema.get_field_index("ts"), "ts",
        pa.array([last["ts"][0].value + sentinel_after_s * 1_000_000],
                 pa.timestamp("us"))).set_column(
        last.schema.get_field_index("user_id"), "user_id",
        pa.array([-1], pa.int64()))
    parts = [events.slice(lo, hi - lo) for lo, hi in zip(bounds[:-1], bounds[1:])]
    for i, part in enumerate(parts + [sentinel]):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(part, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
