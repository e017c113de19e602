"""Seeded input generator for the graft benchmark.

The same seed always gives byte-identical files; the program under test
sees only these files. Every numeric value that feeds a distance lies on a
binary grid (1/16 for the KNN features, 1/64 for the ANN vectors), so every
squared distance is exact in a double and no summation order can change a
neighbour ranking.

    python3 perfbench/gen.py <workload> <seed> <out_dir> [--size full|tiny]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. "full" is what the benchmark measures; "tiny" is the
# self-test smoke size.
SIZES = {
    "full": {
        "knn": dict(train=8000, test=500, features=11, classes=10),
        "tables": dict(sf=0.01),
        "ann": dict(items=8000, queries=100, dim=32, clusters=64),
    },
    "tiny": {
        "knn": dict(train=600, test=40, features=11, classes=10),
        "tables": dict(sf=0.001),
        "ann": dict(items=2000, queries=20, dim=16, clusters=16),
    },
}


def _grid(x, step):
    return np.round(x / step) * step


def write_knn(rng, out, train, test, features, classes):
    """ARFF train and test drawn from ONE set of class centroids, so the
    classifier has something to find (separate draws score ~0.27)."""
    centroids = rng.normal(0.0, 2.5, (classes, features))

    def draw(n):
        labels = rng.integers(0, classes, n)
        x = _grid(centroids[labels] + rng.normal(0.0, 1.5, (n, features)), 1 / 16)
        return x, labels

    os.makedirs(out, exist_ok=True)
    header = ["@relation synthetic"]
    header += [f"@attribute A{i + 1} NUMERIC" for i in range(features)]
    header += ["@attribute class NUMERIC", "@data"]
    for name, n in (("train", train), ("test", test)):
        x, y = draw(n)
        rows = (",".join(map(repr, r.tolist())) + f",{c}" for r, c in zip(x, y))
        with open(os.path.join(out, f"{name}.arff"), "w") as f:
            f.write("\n".join(header) + "\n")
            f.write("\n".join(rows) + "\n")


def _cents(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(rng, start, end, n):
    d0 = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - d0).astype(int)
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def write_tables(rng, out, sf):
    """TPC-H-like star schema plus events, documents and embeddings, with
    the column names and value domains the registry queries expect."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb, n_user = int(50000 * sf), int(50000 * sf), max(10, int(15000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["small", "red", "large", "blue", "green", "old"])
    noun = np.array(["ring", "widget", "gear", "bolt", "panel"])
    types = np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"])
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                              noun[rng.integers(0, 5, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    # a third of the customers place no orders, so anti joins have rows
    buyers = np.arange(n_cust)[np.arange(n_cust) % 3 != 0]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": buyers[rng.integers(0, len(buyers), n_ord)].astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    etypes = np.array(["click", "view", "purchase", "signup", "error"])
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": _cents(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = np.array("a the key agg row scan slow fast table value part hash merge "
                     "batch spark order data column join small line customer query "
                     "big stream window sort filter group".split())
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(5, 80))])
             for _ in range(n_doc)]
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "de", "fr", "es", "zh"])[rng.integers(0, 6, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = _grid(rng.normal(0.0, 1.0, (n_emb, 64)), 1 / 64).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


def write_ann(rng, out, items, queries, dim, clusters):
    """Clustered float vectors: items and queries share cluster centres."""
    os.makedirs(out, exist_ok=True)
    centres = rng.normal(0.0, 1.0, (clusters, dim))
    for name, n, id_col in (("items", items, "item_id"), ("queries", queries, "query_id")):
        c = rng.integers(0, clusters, n)
        v = _grid(centres[c] + rng.normal(0.0, 0.35, (n, dim)), 1 / 64).astype(np.float32)
        _write(out, name, {
            id_col: np.arange(n, dtype=np.int64),
            "vec": pa.array(list(v), pa.list_(pa.float32()))})


def generate(workload, seed, out, size="full"):
    """Write one workload's inputs under `out` (which must not exist)."""
    rng = np.random.default_rng([seed, hash_workload(workload)])
    s = SIZES[size]
    if workload == "knn_classify":
        write_knn(rng, os.path.join(out, "knn"), **s["knn"])
    elif workload == "query_floor":
        write_tables(rng, os.path.join(out, "tables"), **s["tables"])
    elif workload == "ann_index":
        write_ann(rng, os.path.join(out, "ann"), **s["ann"])
    else:
        raise ValueError(f"unknown workload {workload}")


def hash_workload(name):
    """A stable per-workload stream id (str hash is salted per process)."""
    return sum((i + 1) * ord(c) for i, c in enumerate(name))


if __name__ == "__main__":
    size = sys.argv[sys.argv.index("--size") + 1] if "--size" in sys.argv else "full"
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3], size)
