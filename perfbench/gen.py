"""Seeded input generator for the benchmark.

Every input the engine sees is written here, from `--seed` alone, as
parquet files with the same column types as the repository's fixture
tables (pandas -> pyarrow, timestamp[us]). The same seed gives the same
arrays and so the same input digest; another seed changes them.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
WORDS = np.array(("the a data spark stream table query join group order sort "
                  "hash scan filter merge window key value row column line "
                  "part customer vector batch agg fast slow big small").split())
JAN_2024_US = 1704067200 * 1_000_000
MONTH_US = 30 * 86400 * 1_000_000

# ~5% of drain messages, which the bench's sequence rejects on every
# delivery; they exhaust maxRedeliverCount and land in the DLQ. Ids whose
# first redelivery count (event_id % 8) is 0 are never poison, so a round
# drains in two passes: the first, and one retry pass.
POISON_MOD = 1_000_003
POISON_BELOW = 57_143  # 5% / (7/8)


def is_poison(event_id, seed):
    """The drain sequence's failure rule, the same arithmetic as the JVM
    side's (perfbench.Drain.poison): integer arithmetic only, so both
    sides agree bit for bit, and the drain check's DLQ compare fails if
    they do not."""
    return event_id % 8 != 0 and \
        (event_id * 2654435761 + seed * 97) % POISON_MOD < POISON_BELOW


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _digest(tables):
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()[:16]


def _write(tables, out_dir):
    for name, t in tables.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet")


def events(rng, n, n_users, zipf=False, start_us=JAN_2024_US):
    """Events-shaped rows: ascending ts inside January 2024 (queries rely
    on an all-2024 events table), uniform or Zipf-skewed user ids."""
    ts = start_us + np.sort(rng.integers(0, MONTH_US, n))
    if zipf:
        user = (rng.zipf(1.1, n) - 1) % n_users
    else:
        user = rng.integers(0, n_users, n)
    value = np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2)
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {v}}}' for v in k]),
    })


def catalog_tables(seed, sf):
    """TPC-H-ish star schema + events/documents/embeddings at scale `sf`,
    matching the fixture tables' schemas, cardinalities and ranges."""
    r = lambda i: _rng(seed, 100 + i)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    g = r(1)
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(g.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(segs[g.integers(0, 5, n_cust)])})
    g = r(2)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(g.uniform(-999.99, 9999.99, n_supp), 2))})
    g = r(3)
    adj = np.array("red blue old large hot cold small new".split())
    noun = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    types = np.array("SMALL MEDIUM LARGE ECONOMY STANDARD PROMO".split())
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(np.char.add(np.char.add(
            adj[g.integers(0, 8, n_part)], " "), noun[g.integers(0, 8, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#",
            g.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(types[g.integers(0, 6, n_part)]),
        "p_size": pa.array(g.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1))})
    g = r(4)
    day_us = 86400 * 1_000_000
    d0 = 788918400 * 1_000_000  # 1995-01-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[g.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(g.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(d0 + g.integers(0, 2404, n_ord) * day_us,
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
            "4-NOT SPECIFIED", "5-LOW"])[g.integers(0, 5, n_ord)])})
    g = r(5)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(g.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(g.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(g.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(g.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(g.uniform(900.0, 105000.0, n_li), 2)),
        "l_discount": pa.array(g.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(g.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[g.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[g.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(d0 + g.integers(1, 2500, n_li) * day_us,
                               pa.timestamp("us"))})
    t["events"] = events(r(6), n_ev, max(10, int(15000 * sf)))
    g = r(7)
    n_words = g.integers(10, 101, n_doc)
    texts = []
    for i, nw in enumerate(n_words):
        words = WORDS[g.integers(0, len(WORDS), nw)].tolist()
        if g.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "en", "en", "de", "es", "fr", "zh"])[
            g.integers(0, 7, n_doc)]),
        "source": pa.array(np.char.add("src", g.integers(0, 20, n_doc).astype(str))),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64))})
    g = r(8)
    centers = g.normal(0.0, 1.0, (10, 64))
    label = g.integers(0, 10, n_emb)
    vec = centers[label] + g.normal(0.0, 1.2, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})
    return t


def ingest_inputs(seed, history_n, stream_n):
    """History already on the topic, and the live messages the open-loop
    generator publishes (event ids continue after the history's)."""
    hist = events(_rng(seed, 1), history_n, 2000)
    live = events(_rng(seed, 2), stream_n, 2000)
    live = live.set_column(0, "event_id",
                           pa.array(np.arange(stream_n, dtype=np.int64) + history_n))
    return {"history/events": hist, "stream": live}


def drain_inputs(seed, n):
    return {"drain/events": events(_rng(seed, 3), n, 20000, zipf=True)}


def generate(workload, seed, out_dir, params):
    """Write the workload's inputs under `out_dir`; returns their digest."""
    if workload == "ingest":
        tables = ingest_inputs(seed, params["history_msgs"], params["stream_msgs"])
    elif workload == "drain":
        tables = drain_inputs(seed, params["drain_msgs"])
    else:
        tables = {f"sf/{k}": v for k, v in
                  catalog_tables(seed, params["catalog_sf"]).items()
                  if k in params["tables"]}
    for name in tables:
        os.makedirs(os.path.dirname(f"{out_dir}/{name}"), exist_ok=True)
    _write(tables, out_dir)
    return _digest(tables)
