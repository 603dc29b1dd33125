#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

`transcripts` and `growth` draw synthetic conversation transcripts from the
distribution of `Transcripts.synthesize` (src/main/scala/graft/kg): the same
30 concept words and 170 distractors, 24 tokens a turn, every fourth turn a
tool turn, and `skew_pct`% of the turn mass in ten hot "agent"
conversations. The same seed gives the same rows; another seed other rows.

Each dataset is written as parquet part files to a directory, published by
rename with a `_SUCCESS` marker, and reused while the marker is there.
"""
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONCEPT_WORDS = (
    "the fast key order sort table scan merge part window small hash join batch stream "
    "spark group query row data slow filter customer line value agg column big a vector"
).split()
DISTRACTORS = [f"w{i}x" for i in range(170)]
VOCAB = np.array(CONCEPT_WORDS + DISTRACTORS, dtype=object)
TOKENS_PER_TURN = 24
HOT_CONVS = 10
EPOCH_START = 1735689600  # Transcripts.EpochStart, 2025-01-01T00:00:00Z
TS_SPAN = 864000  # base turns' timestamps fall within this many seconds
ROLES = np.array(["user", "assistant", "user", "tool"], dtype=object)

SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
])


def n_convs(n_turns):
    return max(n_turns // 200, HOT_CONVS + 1)


def _write(path, files):
    """Writes the (file name, table) pairs `files()` yields into `path`,
    published by rename with a `_SUCCESS` marker. Returns the seconds spent,
    0 when a complete copy was already there."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return 0.0
    t0 = time.perf_counter()
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in files():
        pq.write_table(table, os.path.join(tmp, name))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return time.perf_counter() - t0


def _parts(n, make_part):
    return lambda: ((f"part-{i:05d}.parquet", make_part(i)) for i in range(n))


def _turns(rng, ids, convs, ts):
    tok = rng.integers(0, len(VOCAB), size=(len(ids), TOKENS_PER_TURN))
    text = [" ".join(row) for row in VOCAB[tok].tolist()]
    return pa.table([
        pa.array(np.char.add("synth.conv.", convs.astype(str)), pa.string()),
        pa.array(ids.astype(np.int32)),
        pa.array(ROLES[ids % 4].tolist(), pa.string()),
        pa.array(text, pa.string()),
        pa.array(np.where(ids % 4 == 3, "search", None).tolist(), pa.string()),
        pa.array((EPOCH_START + ts) * 1_000_000, pa.timestamp("us", tz="UTC")),
    ], schema=SCHEMA)


def transcripts(path, seed, n_turns, parts, skew_pct=10):
    """The base corpus: turns 0 until n_turns."""
    nc = n_convs(n_turns)
    bounds = np.linspace(0, n_turns, parts + 1).astype(np.int64)

    def part(i):
        rng = np.random.default_rng([seed, i])
        ids = np.arange(bounds[i], bounds[i + 1], dtype=np.int64)
        hot = rng.integers(0, 100, size=len(ids)) < skew_pct
        convs = np.where(hot, rng.integers(0, HOT_CONVS, size=len(ids)), rng.integers(0, nc, size=len(ids)))
        return _turns(rng, ids, convs, ids % TS_SPAN)

    return _write(path, _parts(parts, part))


def growth(path, seed, n_turns, n_new):
    """A growth batch: n_new later turns, all in the hot conversations, each
    stamped after every base turn."""
    def part(_):
        rng = np.random.default_rng([seed, 1 << 20])
        ids = np.arange(n_turns, n_turns + n_new, dtype=np.int64)
        return _turns(rng, ids, rng.integers(0, HOT_CONVS, size=n_new), TS_SPAN + ids)

    return _write(path, _parts(1, part))


# ---- the analytics tables the SparkEntry queries read ---------------------

def _ts_us(base, seconds):
    return pa.array((base + seconds) * 1_000_000, pa.timestamp("us"))


# Shapes measured on the repository's sf0.001 test data (500 documents):
# texts are 10-99 tokens drawn uniformly from the 30 concept words; 25 of the
# 500 documents (5%) are another document's text plus a trailing "dup" token
# (a copy of a copy gains a second one), so 45 documents sit in 28 pairs of
# word-3-gram Jaccard >= 0.5 and no two texts are equal; languages are en
# 40%, de/fr/es/zh 15% each; `source` is src<doc_id mod 20>; embeddings are
# unit 64-dim Gaussian vectors with a uniform label in 0-9 and no cluster
# structure; events have 15 users per 500 documents and exponential values
# of mean 50; line items pick their order uniformly, a line number in 1-7
# and a ship date independent of the order date.
DUP_SHARE = 0.05
LANGS = (["en", "de", "fr", "es", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15])


def analytics(path, seed, n_docs):
    """The ten tables of the query surface (documents, embeddings, events and
    a TPC-H-like star schema): `n_docs` documents and the other tables at
    the row ratios and shapes of the repository's sf0.001 test data."""
    return _write(path, lambda: _analytics_tables(seed, n_docs).items())


def documents(rng, n_docs):
    words = np.array(CONCEPT_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in rng.integers(10, 100, size=n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < DUP_SHARE):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS[0], p=LANGS[1], size=n_docs).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _analytics_tables(seed, n_docs):
    rng = np.random.default_rng([seed, 2 << 20])
    scale = n_docs / 500
    n_events, n_users, n_cust, n_orders, n_items, n_part, n_supp = (
        max(int(k * scale), 1) for k in (1000, 15, 150, 1500, 6000, 200, 10))
    tables = {"documents": documents(rng, n_docs)}

    vec = rng.normal(size=(n_docs, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "embedding": pa.array(vec.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n_docs).astype(np.int32)),
    })

    ev_ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, size=n_events))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(1704067200 * 1_000_000 + ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n_events)),
        "event_type": pa.array(rng.choice(["view", "click", "purchase", "signup", "error"], size=n_events).tolist(), pa.string()),
        "value": pa.array(np.round(rng.exponential(50, size=n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)], pa.string()),
    })

    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], pa.string()),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                                            size=n_cust).tolist(), pa.string()),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n_supp), 2)),
    })
    adj = ["red", "old", "cold", "hot", "new", "blue", "small"]
    noun = ["bolt", "anvil", "plate", "widget", "gear", "ring", "rod"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 7, n_part), rng.integers(0, 7, n_part))],
                           pa.string()),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, size=n_part)], pa.string()),
        "p_type": pa.array(rng.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"], size=n_part).tolist(),
                           pa.string()),
        "p_size": pa.array(rng.integers(1, 51, size=n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1 % 100, 2)),
    })
    day = 86400
    order_day = rng.integers(0, 2404, size=n_orders)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_orders)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n_orders).tolist(), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, size=n_orders), 2)),
        "o_orderdate": _ts_us(788918400, order_day * day),
        "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                               size=n_orders).tolist(), pa.string()),
    })
    okey = rng.integers(0, n_orders, size=n_items)
    qty = rng.integers(1, 51, size=n_items).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_items)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_items)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_items).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, size=n_items), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, size=n_items) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, size=n_items) / 100, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n_items).tolist(), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], size=n_items).tolist(), pa.string()),
        "l_shipdate": _ts_us(789004800, rng.integers(0, 2499, size=n_items) * day),  # 1995-01-02 .. 2001-11-04
    })
    return {f"{name}.parquet": t for name, t in tables.items()}
