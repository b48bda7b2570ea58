"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the engine's queries read (the TPC-H-like
star schema plus `events`, `documents` and `embeddings`) with the
column names and types of the repo's test data. The same (seed, sf)
always produces byte-identical values.

Usage: python3 perfbench/gen.py <out_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

VOCAB = ("a the row key value table part hash join scan sort merge batch "
         "stream window spark order data column agg filter query line "
         "customer group fast slow big small").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.15, 0.14, 0.13]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "red", "blue", "green", "large", "shiny", "steel", "plain"]
NOUN = ["ring", "widget", "bolt", "gear", "panel", "spring", "valve", "cable"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def sizes(sf):
    """Row counts at scale factor `sf` (the test data's ratios)."""
    return {
        "customer": max(1, int(150_000 * sf)),
        "supplier": max(1, int(10_000 * sf)),
        "part": max(1, int(200_000 * sf)),
        "orders": max(1, int(1_500_000 * sf)),
        "events": max(1, int(1_000_000 * sf)),
        "documents": max(250, int(50_000 * sf)),
        "embeddings": max(250, int(20_000 * sf)),
        "users": max(10, int(15_000 * sf)),
    }


def _ts(base, offsets_us):
    """A timestamp column as TIMESTAMP(MICROS), the physical type that
    `o_orderdate`, `l_shipdate` and `events.ts` carry in the parquet
    footers of the repo's test data at every scale (sf0.001 to sf0.1).
    Older notes describe `events.ts` as nanoseconds; `Tables.events`
    reads both, and micros is what the engine receives today."""
    return pa.array((base + offsets_us.astype("timedelta64[us]")), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    t = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})

    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})

    npart = n["part"]
    keys = np.arange(npart)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})

    no = n["orders"]
    odays = rng.integers(0, 2404, no)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(EPOCH_1995, odays * US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})

    lines = rng.integers(1, 8, no)
    lok = np.repeat(np.arange(no), lines)
    nl = len(lok)
    starts = np.cumsum(lines) - lines
    lnum = np.arange(nl) - np.repeat(starts, lines) + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lpart = rng.integers(0, npart, nl)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(lpart, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (lpart % 1000) / 10.0), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(EPOCH_1995,
                          (np.repeat(odays, lines) + rng.integers(1, 122, nl))
                          * US_PER_DAY)})

    ne = n["events"]
    ev_ts = np.sort(rng.integers(0, 30 * US_PER_DAY, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(EPOCH_2024, ev_ts),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": _money(rng, 0.01, 490.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    docs = []
    for i in range(nd):
        toks = list(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
        # a fifth of the corpus carries a span copied from an earlier
        # document, so the duplicate-span queries find real matches
        if i > 0 and rng.random() < 0.2:
            src = docs[rng.integers(0, i)].split(" ")
            a = int(rng.integers(0, max(1, len(src) - 12)))
            at = int(rng.integers(0, len(toks)))
            toks[at:at] = src[a:a + 12]
        docs.append(" ".join(toks))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": docs,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(d) for d in docs], pa.int64())})

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.2, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    for name in TABLES:
        pq.write_table(t[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: t[name].num_rows for name in TABLES}


if __name__ == "__main__":
    print(generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3])))
