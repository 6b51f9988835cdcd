"""Seeded synthetic tables in the layout graft.Tables reads.

The star schema (region .. lineitem), the `events` stream table and the
`documents` / `embeddings` corpora, one parquet file per table, with the
column names and types of the project's test data. Sizes scale with
`sf` (lineitem ~ 6M * sf rows). The same (sf, seed) gives the same
files.

Events for the stream workload come from `event_batch`, which the
open-loop generator (streamgen.py) calls once per file.
"""
import functools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PROPS = [f'{{"k": {k}}}' for k in range(100)]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000
ZIPF_S = 1.1
EMBEDDING_DIM = 64
EMBEDDING_LABELS = 10


def sizes(sf):
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "users": max(15, int(15_000 * sf)),
        "documents": max(200, int(50_000 * sf)),
        "embeddings": max(200, int(20_000 * sf)),
    }


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _ts(base, micros):
    return pa.array(base + micros.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


@functools.lru_cache(maxsize=4)
def zipf(users):
    p = np.arange(1, users + 1, dtype=np.float64) ** -ZIPF_S
    return p / p.sum()


def event_batch(rng, first_id, ts_us, users):
    """One batch of events: ids from `first_id`, the given (sorted)
    microsecond timestamps, Zipf-skewed user keys over `users` keys."""
    n = len(ts_us)
    user = rng.choice(users, size=n, p=zipf(users)).astype(np.int64)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    return {
        "event_id": pa.array(np.arange(first_id, first_id + n,
                                       dtype=np.int64)),
        "ts": pa.array(ts_us.astype("datetime64[us]"),
                       type=pa.timestamp("us")),
        "user_id": pa.array(user),
        "event_type": pa.array(np.array(EVENT_TYPES)[etype]),
        "value": pa.array(_cents(rng, 0.01, 490.0, n)),
        "props": pa.array(np.array(PROPS)[rng.integers(0, 100, n)]),
    }


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in
                                  rng.integers(0, len(WORDS), k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64)),
    }


def _embeddings(rng, n):
    label = rng.integers(0, EMBEDDING_LABELS, n)
    centers = rng.normal(0, 1, (EMBEDDING_LABELS, EMBEDDING_DIM))
    v = centers[label] * 0.6 + rng.normal(0, 1, (n, EMBEDDING_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }


def generate(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n = sizes(sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"])})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})

    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(
            [SEGMENTS[j] for j in rng.integers(0, 5, nc)])})

    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, ns))})

    npart = n["part"]
    price = np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, npart), rng.integers(0, 8, npart))]),
        "p_brand": pa.array([f"Brand#{j}" for j in
                             rng.integers(1, 26, npart)]),
        "p_type": pa.array([P_TYPES[j] for j in rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(price)})

    no = n["orders"]
    odate = rng.integers(0, 2404, no)
    lines = rng.integers(1, 8, no)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[j] for j in
                                   rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts(EPOCH_1995, odate * DAY_US),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in
                                     rng.integers(0, 5, no)])})

    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    starts = np.cumsum(lines) - lines
    lineno = (np.arange(nl) - np.repeat(starts, lines) + 1).astype(np.int32)
    pkey = rng.integers(0, npart, nl).astype(np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, nl)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(pkey),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(lineno),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price[pkey], 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in
                                  rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array([("F", "O")[j] for j in
                                  rng.integers(0, 2, nl)]),
        "l_shipdate": _ts(EPOCH_1995, ship * DAY_US)})

    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * DAY_US, ne))
    ev = event_batch(rng, 0, ts + EPOCH_2024.astype(np.int64), n["users"])
    _write(out_dir, "events", ev)
    _write(out_dir, "documents", _documents(rng, n["documents"]))
    _write(out_dir, "embeddings", _embeddings(rng, n["embeddings"]))
    return n
