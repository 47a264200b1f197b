"""Seeded generator of the query-suite tables.

Writes the ten tables `graft.SparkEntry.queries` read (region nation
customer supplier part orders lineitem events documents embeddings), one
single-row-group parquet file each, `<table>.parquet`, in the column layout
of the engine's test data. Row counts depend only on `scale` (1.0 = the
0.01 scale factor: 60,000 lineitem rows, 500 documents, 500 embeddings), so
every seed has the same size; the seed changes keys, values and texts.

Documents are bags of words over a small vocabulary; one in five is a
light edit of an earlier document, so the near-duplicate graph the dedup
and graph queries build has edges, components and communities.

Usage: python3 tpcgen.py <outDir> <seed> [scale]
"""
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query "
         "order group filter big stream vector").split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000


def _write(out, name, cols):
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet",
                   row_group_size=1 << 30, compression="snappy")


def _ts(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.2:
            words = texts[rng.integers(0, i)].split()
            for j in rng.choice(len(words), size=max(1, len(words) // 12),
                                replace=False):
                words[j] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            words = [VOCAB[k] for k in
                     rng.integers(0, len(VOCAB), size=rng.integers(8, 80))]
        texts.append(" ".join(words))
    return texts


def generate(out, seed, scale=1.0):
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(round(v * scale))) for k, v in dict(
        customer=1500, supplier=100, part=2000, orders=15000,
        lineitem=60000, events=10000, documents=500, embeddings=500).items()}

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, c), 2),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, c)]})
    s = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, s), 2)})
    p = n["part"]
    adjectives = ["small", "red", "large", "green", "steel", "blue"]
    nouns = ["ring", "widget", "bolt", "gear", "panel", "valve"]
    _write(out, "part", {
        "p_partkey": pa.array(range(p), pa.int64()),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 6, p), rng.integers(0, 6, p))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": [["ECONOMY", "STANDARD", "PROMO", "LARGE"][k]
                   for k in rng.integers(0, 4, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(p) * 0.1 % 200, 2)})
    o = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][k] for k in rng.integers(0, 3, o)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, o), 2),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2500, o) * DAY_US),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, o)]})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3000, li), 2),
        "l_discount": np.round(rng.integers(0, 11, li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, li) / 100, 2),
        "l_returnflag": [["A", "N", "R"][k] for k in rng.integers(0, 3, li)],
        "l_linestatus": [["F", "O"][k] for k in rng.integers(0, 2, li)],
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(0, 2600, li) * DAY_US)})
    e = n["events"]
    _write(out, "events", {
        "event_id": pa.array(range(e), pa.int64()),
        "ts": _ts(EPOCH_2024_US + np.cumsum(rng.integers(1, 300_000_000, e))),
        "user_id": pa.array(rng.integers(0, max(1, e // 100), e), pa.int64()),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, e)],
        "value": np.round(rng.uniform(0, 20, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = _documents(rng, d)
    _write(out, "documents", {
        "doc_id": pa.array(range(d), pa.int64()),
        "text": texts,
        "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), d)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0, 1, (10, DIM))
    vec = centers[labels] + rng.normal(0, 0.8, (m, DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(range(m), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]),
             float(sys.argv[3]) if len(sys.argv) > 3 else 1.0)
