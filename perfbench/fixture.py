"""Deterministic fixture generator for the benchmark.

Writes the ten tables graft reads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings), one parquet file
each, with the row counts, column names and types, value domains and
document shape of graft's seed-42 reference fixture, as read from that
fixture's files at scale factors 0.001, 0.01 and 0.1 (the comparison is
in perfbench/DESIGN.md): int64 keys, naive microsecond timestamps, 64-d
unit float32 embeddings, documents of 10 to 100 words drawn from a
30-word vocabulary, of which exactly 5 % are near-duplicates (another
document's text plus " dup"; two near-duplicates of one document are
exact duplicates of each other).

Row counts follow the reference scale model: at scale factor `sf`,
lineitem has 6 000 000 * sf rows; documents and embeddings have at
least 500. The values themselves are this generator's own: every value
comes from one numpy PCG64 stream seeded by `seed`, so a (sf, seed)
pair always yields the same bytes of data, but not the reference's.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "red", "blue", "large", "cold", "hot", "old", "new"]
NOUN = ["ring", "widget", "bolt", "gear", "anvil", "gizmo", "plate", "rod"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
DIM = 64

# Bump when the generator's output changes: it keys every cache built
# over a generated fixture.
VERSION = 2


def row_counts(sf):
    """Rows per table at scale factor `sf` (the reference scale model)."""
    n = lambda base: max(1, int(round(base * sf)))
    return {"region": 5, "nation": 25, "customer": n(150000),
            "supplier": n(10000), "part": n(200000), "orders": n(1500000),
            "lineitem": n(6000000), "events": n(1000000),
            "documents": max(500, n(50000)),
            "embeddings": max(500, n(20000))}


def _money(rng, lo_cents, hi_cents, n):
    return rng.integers(lo_cents, hi_cents, n) / 100.0


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _documents(rng, n):
    n_words = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    cuts = np.concatenate([[0], np.cumsum(n_words)])
    texts = [" ".join(VOCAB[w] for w in words[cuts[i]:cuts[i + 1]])
             for i in range(n)]
    # Exactly 5 % near-duplicates, in document order: each copies the
    # current text of a randomly drawn other document and appends " dup"
    # (so a copy of a near-duplicate ends in " dup dup").
    near = np.sort(rng.choice(n, int(round(0.05 * n)), replace=False))
    for i in near:
        j = int(rng.integers(0, n - 1))
        j += j >= i
        texts[i] = texts[j] + " dup"
    lang = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def generate(out, sf, seed):
    """Write every table for (sf, seed) under `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    rc = row_counts(sf)
    _write(out, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": pa.array(REGIONS, pa.string())})
    _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})

    nc = rc["customer"]
    _write(out, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -99999, 1000000, nc),
        "c_mktsegment": pa.array(
            np.array(SEGMENTS)[rng.integers(0, 5, nc)].tolist())})

    ns = rc["supplier"]
    _write(out, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -99999, 1000000, ns)})

    npart = rc["part"]
    keys = np.arange(npart, dtype=np.int64)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    _write(out, "part", {
        "p_partkey": keys,
        "p_name": pa.array(
            np.array(names)[rng.integers(0, len(names), npart)].tolist()),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(
            np.array(TYPES)[rng.integers(0, len(TYPES), npart)].tolist()),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": (9000 + keys % 1000) / 10.0})

    no = rc["orders"]
    _write(out, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": pa.array(
            np.array(["F", "O", "P"])[rng.integers(0, 3, no)].tolist()),
        "o_totalprice": _money(rng, 100000, 50000000, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[rng.integers(0, 5, no)].tolist())})

    nl = rc["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 90000, 10500000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pa.array(
            np.array(["A", "N", "R"])[rng.integers(0, 3, nl)].tolist()),
        "l_linestatus": pa.array(
            np.array(["F", "O"])[rng.integers(0, 2, nl)].tolist()),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl)})

    ne = rc["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1000000
    _write(out, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": t0 + np.sort(rng.integers(0, span_us, ne)),
        "user_id": rng.integers(0, max(1, nc // 10), ne).astype(np.int64),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, 5, ne)].tolist()),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})

    _write(out, "documents", _documents(rng, rc["documents"]))

    nv = rc["embeddings"]
    v = rng.standard_normal((nv, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    offsets = np.arange(0, (nv + 1) * DIM, DIM, dtype=np.int32)
    _write(out, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            offsets, pa.array(v.reshape(-1), pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32)})
    return rc


def fingerprint(out):
    """sha256 over every table file's bytes, in table order."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(out, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure(out, sf, seed):
    """Generate (sf, seed) under `out` unless a complete copy is there.
    Returns (row counts, fingerprint)."""
    stamp = os.path.join(out, "_fixture.json")
    want = {"version": VERSION, "sf": sf, "seed": seed}
    if os.path.exists(stamp):
        with open(stamp) as f:
            have = json.load(f)
        if {k: have.get(k) for k in want} == want:
            return have["rows"], have["fingerprint"]
    rows = generate(out, sf, seed)
    fp = fingerprint(out)
    with open(stamp, "w") as f:
        json.dump(dict(want, rows=rows, fingerprint=fp), f)
    return rows, fp
