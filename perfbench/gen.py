#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the ten tables the gates read (the star schema plus `events`,
`documents` and `embeddings`), one parquet file per table, with the
column names and types of the repository's test data. Everything is
drawn from one `numpy.random.default_rng(seed)` in a fixed order, so the
same seed and scale give byte-identical files; `digest()` checks that.

Row counts are `scale` times the sf1 cardinalities (lineitem 6M rows at
scale 1). Each file is written in row groups of a sixteenth of its rows,
kept between 64 and 4,096 (`row_group_rows`): parquet splits at
row-group granularity, so a single-row-group file would be one
unsplittable scan task.

    python3 perfbench/gen.py <out_dir> <seed> <scale>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LAYOUT = "row groups: min(4096, max(64, rows // 16)) rows"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "nut", "gear", "pipe"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
EMBED_DIM = 64
US_PER_DAY = 86_400_000_000


def sizes(scale):
    n = lambda base, floor: max(floor, int(round(base * scale)))
    return {"customer": n(150_000, 50), "supplier": n(10_000, 10),
            "part": n(200_000, 50), "orders": n(1_500_000, 200),
            "lineitem": n(6_000_000, 800), "events": n(1_000_000, 500),
            "documents": n(50_000, 100), "embeddings": n(20_000, 100)}


def ts_us(days_from_epoch):
    return np.datetime64("1970-01-01", "us") + \
        np.asarray(days_from_epoch, dtype="int64") * \
        np.timedelta64(US_PER_DAY, "us")


def documents(rng, n):
    """Word-salad documents over a 30-word vocabulary; one in twenty is a
    copy of an earlier document with " dup" appended, and a few are exact
    copies, so exact and near-duplicate detection both have work."""
    texts = []
    for i in range(n):
        kind = rng.random()
        if i > 10 and kind < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and kind < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, 30, k)))
    lang = [LANGS[j] for j in rng.integers(0, len(LANGS), n)]
    source = [f"src{j}" for j in rng.integers(0, 20, n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng, n):
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    label = rng.integers(0, 10, n)
    v = centers[label] + rng.normal(0, 0.8, (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM,
                                 dtype="int32"))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label.astype("int32"))})


def events(rng, n, users):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * US_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": pa.array(start + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype("int64")),
        "event_type": pa.array(
            [EVENT_TYPES[j] for j in rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(np.round(rng.exponential(60.0, n), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string())})


def generate(seed, scale):
    rng = np.random.default_rng(seed)
    s = sizes(scale)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"])})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32"))})
    nc = s["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype("int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
        "c_mktsegment": pa.array(
            [SEGMENTS[j] for j in rng.integers(0, 5, nc)])})
    ns = s["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype("int32")),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, ns), 2))})
    npart = s["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype="int64")),
        "p_name": pa.array(
            [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, npart), rng.integers(0, 6, npart))]),
        "p_brand": pa.array([f"Brand#{j}" for j in
                             rng.integers(1, 26, npart)]),
        "p_type": pa.array([PART_TYPES[j] for j in
                            rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart).astype("int32")),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(npart) % 1000) * 0.1, 2))})
    no = s["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype("int64")),
        "o_orderstatus": pa.array([["F", "O", "P"][j] for j in
                                   rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(800, 500000, no), 2)),
        "o_orderdate": pa.array(ts_us(9131 + rng.integers(0, 2404, no)),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in
                                     rng.integers(0, 5, no)])})
    nl = s["lineitem"]
    flags = rng.integers(0, 6, nl)
    qty = rng.integers(1, 51, nl).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype("int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900, 2100, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array([["A", "N", "R"][j % 3] for j in flags]),
        "l_linestatus": pa.array([["O", "F"][j // 3] for j in flags]),
        "l_shipdate": pa.array(ts_us(9132 + rng.integers(0, 2499, nl)),
                               pa.timestamp("us"))})
    out["events"] = events(rng, s["events"], max(50, s["events"] // 66))
    out["documents"] = documents(rng, s["documents"])
    out["embeddings"] = embeddings(rng, s["embeddings"])
    return out


def row_group_rows(rows):
    return min(4096, max(64, rows // 16))


def write(out_dir, seed, scale):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in generate(seed, scale).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(t, tmp, row_group_size=row_group_rows(t.num_rows),
                       compression="snappy")
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    d = digest(out_dir)
    with open(os.path.join(out_dir, "DIGEST.json"), "w") as f:
        json.dump({"seed": seed, "scale": scale, "digest": d,
                   "layout": LAYOUT}, f)
    return d


def digest(out_dir):
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(out_dir, f"{name}.parquet"), "rb") as f:
            h.update(name.encode())
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure(out_dir, seed, scale):
    """Generate once per (seed, scale); a directory whose recorded
    digest no longer matches its files is regenerated."""
    meta = os.path.join(out_dir, "DIGEST.json")
    if os.path.exists(meta):
        m = json.load(open(meta))
        if m.get("seed") == seed and m.get("scale") == scale and \
                m.get("layout") == LAYOUT:
            try:
                if digest(out_dir) == m["digest"]:
                    return m["digest"]
            except OSError:
                pass
    return write(out_dir, seed, scale)


if __name__ == "__main__":
    print(write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3])))
