"""Seeded input generator for the benchmark.

Builds the star-schema tables the engine's queries read (`region`,
`nation`, `customer`, `supplier`, `part`, `orders`, `lineitem`,
`events`, `documents`, `embeddings`), one parquet file each, with the
column names, physical types and value distributions of the engine's
read-only test fixtures. Everything is drawn from numpy generators
keyed by (seed, table, replica), so the same seed always gives the same
bytes.

A rung is a base at scale `sf` grown `k` times in `grow` mode, the
scheme of the engine's `GenScale` test tool: replica i > 0 shifts every
key column by i * 10^8 and keeps the other columns, except that
documents get fresh text and embeddings fresh vectors, with one in
eight replica rows an exact copy of an earlier replica. Near-duplicate
pair volume then grows with k, not k^2.

Usage: python3 gen.py <out_dir> <seed> <sf> <k>
"""
import hashlib
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
KEY_COLS = {
    "customer": ["c_custkey"], "supplier": ["s_suppkey"],
    "part": ["p_partkey"], "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"], "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
OFF = 100_000_000
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_1995_2 = np.datetime64("1995-01-02", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def rng(seed, table, replica=0):
    return np.random.default_rng([seed, TABLES.index(table), replica])


def strings(values):
    return pa.array(values, type=pa.string())


def ts(micros):
    return pa.array(micros.astype(np.int64), type=pa.timestamp("us"))


def sizes(sf):
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf), "embeddings": max(500, int(20_000 * sf)),
        "users": max(100, int(15_000 * sf)),
    }


def base_tables(seed, sf):
    """The base fixture at scale `sf`: a dict of table name -> pa.Table."""
    n = sizes(sf)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": strings(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                               "MIDDLE EAST"])}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": strings([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    r = rng(seed, "customer")
    keys = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": keys,
        "c_name": strings([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": r.integers(0, 25, keys.size).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, keys.size), 2),
        "c_mktsegment": strings(np.array(SEGMENTS)[
            r.integers(0, 5, keys.size)])})
    r = rng(seed, "supplier")
    keys = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": keys,
        "s_name": strings([f"Supplier#{k:09d}" for k in keys]),
        "s_nationkey": r.integers(0, 25, keys.size).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, keys.size), 2)})
    r = rng(seed, "part")
    keys = np.arange(n["part"], dtype=np.int64)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": strings(np.array(names)[r.integers(0, 64, keys.size)]),
        "p_brand": strings([f"Brand#{b}" for b in
                            r.integers(1, 26, keys.size)]),
        "p_type": strings(np.array(P_TYPES)[r.integers(0, 6, keys.size)]),
        "p_size": r.integers(1, 51, keys.size).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    r = rng(seed, "orders")
    keys = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": keys,
        "o_custkey": r.integers(0, n["customer"], keys.size, dtype=np.int64),
        "o_orderstatus": strings(np.array(["F", "O", "P"])[
            r.integers(0, 3, keys.size)]),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, keys.size), 2),
        "o_orderdate": ts(EPOCH_1995 + DAY_US * r.integers(0, 2405, keys.size)),
        "o_orderpriority": strings(np.array(PRIORITIES)[
            r.integers(0, 5, keys.size)])})
    r = rng(seed, "lineitem")
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n["orders"], m, dtype=np.int64),
        "l_partkey": r.integers(0, n["part"], m, dtype=np.int64),
        "l_suppkey": r.integers(0, n["supplier"], m, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, m).astype(np.int32),
        "l_quantity": r.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, m), 2),
        "l_discount": np.round(r.uniform(0.0, 0.1, m), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, m), 2),
        "l_returnflag": strings(np.array(["A", "N", "R"])[
            r.integers(0, 3, m)]),
        "l_linestatus": strings(np.array(["F", "O"])[r.integers(0, 2, m)]),
        "l_shipdate": ts(EPOCH_1995_2 + DAY_US * r.integers(0, 2498, m))})
    r = rng(seed, "events")
    keys = np.arange(n["events"], dtype=np.int64)
    out["events"] = pa.table({
        "event_id": keys,
        "ts": ts(EPOCH_2024 + np.sort(r.integers(0, 30 * DAY_US, keys.size))),
        "user_id": r.integers(0, n["users"], keys.size, dtype=np.int64),
        "event_type": strings(np.array(EVENT_TYPES)[
            r.integers(0, 5, keys.size)]),
        "value": np.round(r.exponential(50.0, keys.size), 2),
        "props": strings([f'{{"k": {k}}}' for k in
                          r.integers(0, 100, keys.size)])})
    r = rng(seed, "documents")
    keys = np.arange(n["documents"], dtype=np.int64)
    texts = [" ".join(np.array(VOCAB)[r.integers(0, len(VOCAB), t)])
             for t in r.integers(10, 100, keys.size)]
    # one in twenty documents is a near-duplicate: another document's
    # text plus one extra token
    for i in np.flatnonzero(r.random(keys.size) < 0.05):
        texts[i] = texts[r.integers(0, keys.size)] + " dup"
    out["documents"] = pa.table({
        "doc_id": keys, "text": strings(texts),
        "lang": strings(np.array(LANGS)[r.choice(
            5, keys.size, p=[0.15, 0.4, 0.15, 0.15, 0.15])]),
        "source": strings([f"src{k % 20}" for k in keys]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    r = rng(seed, "embeddings")
    keys = np.arange(n["embeddings"], dtype=np.int64)
    vecs = r.standard_normal((keys.size, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": keys, "embedding": vector_column(vecs),
        "label": r.integers(0, 10, keys.size).astype(np.int32)})
    return out


def vector_column(vecs):
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, flat.__len__() + 1, vecs.shape[1],
                                 dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def grow_replica(replicas, name, base, seed, i):
    """Replica i > 0 of one base table in `grow` mode."""
    cols = {c: base.column(c) for c in base.column_names}
    for c in KEY_COLS[name]:
        cols[c] = pa.array(base.column(c).to_numpy() + i * OFF)
    r = rng(seed, name, i)
    if name == "documents":
        lengths = [len(t.split(" ")) for t in base.column("text").to_pylist()]
        fresh = [" ".join(f"{VOCAB[v]}x{s}" for v, s in
                          zip(r.integers(0, len(VOCAB), t),
                              r.integers(0, 997, t))) for t in lengths]
        for row in np.flatnonzero(r.integers(0, 8, len(fresh)) == 0):
            partner = int(r.integers(0, i))
            fresh[row] = replicas["documents"][partner][row]
        replicas["documents"].append(fresh)
        cols["text"] = strings(fresh)
        cols["n_chars"] = pa.array([len(t) for t in fresh], pa.int64())
    elif name == "embeddings":
        vecs = r.uniform(-1.0, 1.0, (base.num_rows, 64))
        for row in np.flatnonzero(r.integers(0, 8, base.num_rows) == 0):
            partner = int(r.integers(0, i))
            vecs[row] = replicas["embeddings"][partner][row]
        replicas["embeddings"].append(vecs)
        cols["embedding"] = vector_column(vecs)
    return pa.table(cols, schema=base.schema)


def rung(seed, sf, k):
    """The base grown k times: a dict of table name -> pa.Table."""
    base = base_tables(seed, sf)
    emb = base["embeddings"].column("embedding").combine_chunks()
    replicas = {
        "documents": [base["documents"].column("text").to_pylist()],
        "embeddings": [np.asarray(emb.flatten()).reshape(-1, 64)],
    }
    out = {}
    for name in TABLES:
        if name not in KEY_COLS or k == 1:
            out[name] = base[name]
            continue
        out[name] = pa.concat_tables(
            [base[name]] + [grow_replica(replicas, name, base[name], seed, i)
                            for i in range(1, k)])
    return out


def sha256_file(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def generate(out_dir, seed, sf, k):
    """Writes the rung to out_dir and returns its manifest (table
    fingerprints, rows and bytes, generation seconds)."""
    t0 = time.perf_counter()
    os.makedirs(out_dir, exist_ok=True)
    tables = {}
    for name, table in rung(seed, sf, k).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        tables[name] = {"rows": table.num_rows,
                        "bytes": os.path.getsize(path),
                        "sha256": sha256_file(path)}
    manifest = {"seed": seed, "sf": sf, "k": k, "tables": tables,
                "gen_s": time.perf_counter() - t0}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    m = generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]),
                 int(sys.argv[4]))
    print(json.dumps({t: v["rows"] for t, v in m["tables"].items()}),
          f"{m['gen_s']:.2f}s")
