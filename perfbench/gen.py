"""Seeded, schema-preserving generator for the benchmark's input tables.

The tables carry the same names, column names and parquet types as the
engine's test fixtures (region .. embeddings; see FIXTURES.md), with the
same value vocabularies and ranges, so every registered query runs on
them unchanged.  Everything is drawn from one numpy PCG64 stream per
table, keyed by the seed: the same seed writes byte-identical values.

Besides the fixture tables the generator writes two benchmark-only
tables:

* ``probes``: perturbed copies of corpus vectors, the ANN probe set;
* ``tombstones``: a seeded sample of corpus ids to delete.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query big "
         "stream order group filter vector").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
PART_NOUN = ["ring", "widget", "bolt", "gizmo", "plate", "rod", "anvil", "gear"]
PART_TYPES = ["ECONOMY", "SMALL", "LARGE", "PROMO", "STANDARD", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
EMB_DIM = 64
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000

# Rows per table for each workload.  Tables a workload never reads stay
# at fixture-smoke size so every registered query still finds them.
PROFILES = {
    "scd2_refresh": dict(customer=1500, orders=15000, lineitem=60000,
                         part=2000, supplier=100, events=2000,
                         documents=200, embeddings=200, probes=10),
    "dedup_corpus": dict(customer=150, orders=1500, lineitem=6000,
                         part=200, supplier=10, events=2000,
                         documents=2000, embeddings=200, probes=10),
    "ann_lifecycle": dict(customer=150, orders=1500, lineitem=6000,
                          part=200, supplier=10, events=2000,
                          documents=200, embeddings=1000, probes=40),
    "index_scan": dict(customer=150, orders=1500, lineitem=6000,
                       part=200, supplier=10, events=600000,
                       documents=200, embeddings=200, probes=10),
}


def _rng(seed, table):
    # one independent stream per table: resizing one table never shifts
    # the values of another
    return np.random.Generator(np.random.PCG64([seed, sum(map(ord, table))]))


def _cents(x):
    return np.round(x, 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _dates(rng, n, start, days):
    return start + rng.integers(0, days, n).astype("timedelta64[D]").astype(
        "timedelta64[us]")


def _texts(rng, n):
    """Bag-of-words documents; about 15% are near-copies of an earlier
    document with a few words replaced, so the dedup operators find
    pairs and clusters."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.15:
            src = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                src[int(rng.integers(0, len(src)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return texts


def _unit(v):
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def generate(out, seed, sizes):
    os.makedirs(out, exist_ok=True)
    n = sizes
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, "customer")
    nc = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _cents(r.uniform(-999.99, 9999.99, nc)),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, nc)]})

    r = _rng(seed, "supplier")
    ns = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _cents(r.uniform(-999.99, 9999.99, ns))})

    r = _rng(seed, "part")
    npart = n["part"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, npart), r.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, npart)],
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": _cents(900.0 + (np.arange(npart) % 1000) * 0.1)})

    r = _rng(seed, "orders")
    no = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, no)],
        "o_totalprice": _cents(r.uniform(900.0, 500000.0, no)),
        "o_orderdate": pa.array(_dates(r, no, EPOCH_1995, 2400), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, no)]})

    r = _rng(seed, "lineitem")
    nl = n["lineitem"]
    qty = r.integers(1, 51, nl).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(r.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(r.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _cents(qty * r.uniform(900.0, 2000.0, nl)),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, nl)],
        "l_linestatus": [("O", "F")[i] for i in r.integers(0, 2, nl)],
        "l_shipdate": pa.array(_dates(r, nl, EPOCH_1995, 2500), pa.timestamp("us"))})

    r = _rng(seed, "events")
    ne = n["events"]
    ts = np.sort(r.integers(0, 30 * DAY_US, ne))
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(EPOCH_2024 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(150, ne // 70), ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, ne)],
        "value": _cents(r.exponential(60.0, ne)),
        "props": np.array([f'{{"k": {k}}}' for k in range(100)])[r.integers(0, 100, ne)]})

    r = _rng(seed, "documents")
    nd = n["documents"]
    texts = _texts(r, nd)
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in r.integers(0, len(LANGS), nd)],
        "source": [f"src{i}" for i in r.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = _rng(seed, "embeddings")
    nv = n["embeddings"]
    centers = _unit(r.normal(size=(10, EMB_DIM)))
    labels = r.integers(0, 10, nv)
    emb = _unit(centers[labels] * 0.5 + r.normal(scale=0.12, size=(nv, EMB_DIM)))
    emb = emb.astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    r = _rng(seed, "probes")
    npr = n["probes"]
    base = emb[r.integers(0, nv, npr)].astype(np.float64)
    probes = _unit(base + r.normal(scale=0.05, size=base.shape)).astype(np.float32)
    _write(out, "probes", {
        "vec_id": pa.array(1_000_000 + np.arange(npr), pa.int64()),
        "embedding": pa.array(list(probes), pa.list_(pa.float32()))})
    _write(out, "tombstones", {
        "vec_id": pa.array(np.sort(r.choice(nv, nv // 20, replace=False)), pa.int64())})
