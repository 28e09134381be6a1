"""Seeded inputs for the benchmark workloads, and the result hash shared
with the harness.

Everything here is a pure function of the seed: the same seed writes the
same parquet bytes. The program never reads anything this module did not
write.

- `tables`: the FIXTURES.md section B star schema (region ... lineitem,
  events) at scale factor 0.1, with the value domains of the FIXTURES.md
  section B test tables, so every oracled query of the mix has non-trivial results.
- `corpus`: documents and embeddings for the curation workload, with planted
  near-duplicate clusters and planted neighbour vectors whose ground truth is
  known by construction.
- `result_hash`: an order-insensitive hash of a query result, computed the
  same way by `Check.scala` in the harness, so one DuckDB oracle run per
  distinct query checks every repetition of it.
"""
import datetime as dt
import hashlib
import math
import struct
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "small", "red", "cold", "green", "tiny"]
PART_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "nut", "pipe", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("the a and of to in is spark stream batch table query join group "
         "sort scan filter window row column key value hash part line order "
         "customer data vector fast slow big small agg merge index cache "
         "plan shuffle stage task job node edge graph").split()

EPOCH = dt.datetime(1970, 1, 1)


def _days(start, end, n, rng):
    """n midnight timestamps (epoch ms) uniform over [start, end] dates"""
    d0 = (start - EPOCH).days
    d1 = (end - EPOCH).days
    return rng.integers(d0, d1 + 1, n).astype(np.int64) * 86_400_000


def _write(out, name, cols):
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet")


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def tables(seed, out, sf=0.1):
    """Writes region, nation, customer, supplier, part, orders, lineitem and
    events parquet files under `out`, sized like the sf test tables."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    ts_ms = pa.timestamp("ms")

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS)})
    nreg = np.concatenate([np.arange(5), rng.integers(0, 5, 20)])
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(nreg, i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(rng.integers(-99_999, 1_000_000, n_cust) / 100.0, f64),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(rng.integers(-99_999, 1_000_000, n_supp) / 100.0, f64)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(rng.integers(9000, 10000, n_part) / 10.0, f64)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, n_ord) / 100.0, f64),
        "o_orderdate": pa.array(_days(dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1),
                                      n_ord, rng), ts_ms),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), f64),
        "l_extendedprice": pa.array(rng.integers(90_000, 10_500_000, n_line) / 100.0, f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(_days(dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4),
                                     n_line, rng), ts_ms)})
    # events.ts is parquet TIMESTAMP(NANOS) like the sf test table; whole
    # microseconds, so Spark's µs truncation and DuckDB agree
    t0 = (dt.datetime(2024, 1, 1) - EPOCH).days * 86_400_000_000
    us = t0 + rng.integers(0, 30 * 86_400_000_000, n_evt)
    etype = rng.integers(0, len(EVENT_TYPES), n_evt)
    value = np.where(EVENT_TYPES.index("purchase") == etype,
                     np.minimum(rng.exponential(8_000, n_evt).astype(np.int64), 56_021),
                     rng.integers(0, 1_000, n_evt)) / 100.0
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(us * 1000, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, 1_500, n_evt), i64),
        "event_type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[etype]),
        "value": pa.array(value, f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])})


def corpus(seed, out, n_docs, n_vecs, dim=64):
    """Writes documents.parquet and embeddings.parquet under `out` and
    returns the planted truth: near-duplicate clusters (doc ids) and
    (anchor, neighbour) vector pairs."""
    rng = np.random.default_rng([seed, 2])
    words = np.asarray(WORDS, dtype=object)
    texts = []
    clusters = []
    # a quarter of the corpus sits in planted clusters of 2..4 members:
    # copies of a base doc with 3% of the words replaced (3-gram Jaccard
    # ~0.8, well above the 0.5 thresholds of the dedup operators)
    planted_docs = n_docs // 4
    while len(texts) < n_docs:
        base = list(words[rng.integers(0, len(words), rng.integers(30, 100))])
        size = int(rng.integers(2, 5)) if len(texts) < planted_docs else 1
        size = min(size, n_docs - len(texts))
        members = []
        for m in range(size):
            doc = list(base)
            if m:
                for j in rng.choice(len(doc), max(1, len(doc) * 3 // 100), replace=False):
                    doc[j] = words[rng.integers(0, len(words))]
            members.append(len(texts))
            texts.append(" ".join(doc))
        if size > 1:
            clusters.append(members)
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS, dtype=object)[
            rng.choice(len(LANGS), n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # ten Gaussian clusters (label = cluster); one in ten vectors gets a
    # planted neighbour: itself plus small noise (cosine > 0.99), far
    # closer than anything else in its cluster
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n_vecs)
    vecs = centers[label] + rng.normal(size=(n_vecs, dim)) * 1.2
    anchors = np.arange(0, n_vecs - 1, 10)
    vecs[anchors + 1] = vecs[anchors] + rng.normal(size=(len(anchors), dim)) * 0.05
    label[anchors + 1] = label[anchors]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.astype(np.float32).ravel()), dim)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_vecs * dim + 1, dim), pa.int32()), emb.flatten()),
        "label": pa.array(label, pa.int32())})
    return {"clusters": clusters,
            "neighbours": [[int(a), int(a) + 1] for a in anchors]}


# ---- result hash (mirrored by layerbench/src/main/scala/layerbench/Check.scala)

def _cell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "B1" if v else "B0"
    if isinstance(v, (list, tuple)):
        return "L[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "R{" + ",".join(_cell(x) for x in v.values()) + "}"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return "T%d" % ((d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, dt.date):
        return "D" + v.isoformat()
    if isinstance(v, str):
        return "S" + v
    x = float(v)  # int, float and Decimal compare as doubles, as in local_check
    if math.isnan(x):
        return "NaN"
    if x == 0.0:
        x = 0.0
    return "F%d" % struct.unpack("<q", struct.pack("<d", x))[0]


def result_hash(columns, rows):
    """Column names (case-folded, sorted) plus row count plus the sum mod
    2^64 of each row's SHA-256 prefix; insensitive to row and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    acc = 0
    for r in rows:
        line = "\x1f".join(_cell(r[i]) for i in order)
        acc = (acc + int.from_bytes(hashlib.sha256(line.encode()).digest()[:8], "big")) % 2**64
    head = ",".join(columns[i].lower() for i in order)
    return f"{head}|{len(rows)}|{acc:x}"


def oracle_hashes(sf_dir, oracles):
    """({query: result hash}, {query: seconds}) of each oracle SQL run by
    DuckDB over views named after the generated tables (as
    tools/local_check.py sets them up)."""
    import duckdb
    import os
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{f}')")
    out, secs = {}, {}
    for name, sql in sorted(oracles.items()):
        t = time.time()
        rel = con.sql(sql)
        out[name] = result_hash(rel.columns, rel.fetchall())
        secs[name] = time.time() - t
    return out, secs
