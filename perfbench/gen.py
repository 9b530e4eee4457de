#!/usr/bin/env python3
"""Seeded generator of the benchmark's input tables.

Writes the ten tables the library reads (region nation customer
supplier part orders lineitem events documents embeddings), each as a
directory of parquet part files, and serve_write's event feed (the
events in seeded slices, see `write_feed`), with the column names and physical
types of the engine's reference data set (timestamps as parquet
TIMESTAMP(MICROS) without a time zone, embeddings as float lists).

Table CONTENT depends only on --sf, so the committed
expected digests hold for every seed. The seed decides the physical
layout: row order within each table, and so which rows share a part
file (the number of files is fixed). Operators are order-independent,
so a layout change must never change a result digest; the benchmark
checks exactly that.

    python3 perfbench/gen.py OUT_DIR --sf 0.01 --seed 7
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240101
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
MKT = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIO = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
ADJ = ["red", "hot", "blue", "old", "new", "small", "large", "cold"]
NOUN = ["bolt", "ring", "plate", "rod", "anvil", "gear", "nut", "pipe"]
PTYPE = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
EVTYPE = np.array(["click", "error", "purchase", "signup", "view"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000
FEED_SLICES = 40   # perfbench.Serve.SlicesTotal
FILES = 2          # part files per table of 100 rows or more


def days(base, n):
    return (base + n.astype("int64") * DAY_US).astype("datetime64[us]")


def dims(sf):
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_user = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_embs = max(500, int(20_000 * sf))
    return n_cust, n_supp, n_part, n_ord, n_line, n_ev, n_user, n_docs, n_embs


def build(sf):
    """The tables as pyarrow Tables, content fixed by the scale factor alone."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_supp, n_part, n_ord, n_line, n_ev, n_user, n_docs, n_embs = \
        dims(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)})
    ck = np.arange(n_cust)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": MKT[rng.integers(0, 5, n_cust)]})
    sk = np.arange(n_supp)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": PTYPE[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    ok = np.arange(n_ord)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": days(EPOCH_1995, rng.integers(0, 2405, n_ord)),
        "o_orderpriority": PRIO[rng.integers(0, 5, n_ord)]})
    lo = np.sort(rng.integers(0, n_ord, n_line))
    # line numbers are the 1-based rank within an order: unique per order
    first = np.searchsorted(lo, lo, side="left")
    lnum = (np.arange(n_line) - first + 1).astype("int32")
    qty = rng.integers(1, 51, n_line).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": lo,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(lnum),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": days(EPOCH_1995, rng.integers(1, 2500, n_line))})
    ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_ev)).astype(
        "timedelta64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(n_ev),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": EVTYPE[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.0, 200.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    lens = rng.integers(10, 101, n_docs)
    picks = rng.integers(0, len(WORDS), int(lens.sum()))
    dup_src = rng.integers(0, max(1, n_docs), n_docs)
    is_dup = rng.random(n_docs) < 0.05
    off = 0
    for i in range(n_docs):
        if is_dup[i] and dup_src[i] < i:
            texts.append(texts[dup_src[i]] + " dup")
        else:
            texts.append(" ".join(WORDS[w] for w in picks[off:off + lens[i]]))
        off += lens[i]
    did = np.arange(n_docs)
    t["documents"] = pa.table({
        "doc_id": did,
        "text": texts,
        "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in did],
        "n_chars": np.array([len(x) for x in texts], dtype="int64")})
    cents = rng.standard_normal((10, 64))
    labels = rng.integers(0, 10, n_embs)
    vecs = rng.standard_normal((n_embs, 64)) + 0.5 * cents[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_embs),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32"))})
    return t


def write(tables, out, seed):
    """Land each table as a directory of part files in a seeded layout:
    rows in a seeded order, cut into FILES equal part files (one for
    tables under 100 rows). The file count stays fixed, since it sets
    the scan's task count and with it a large share of the run time.
    Writes layout.json: per table, the first column's value in the first
    row of each file."""
    rng = np.random.default_rng([seed, 1])
    layout = {}
    for name in sorted(tables):
        tab = tables[name]
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        perm = rng.permutation(tab.num_rows)
        tab = tab.take(pa.array(perm))
        n_files = FILES if tab.num_rows >= 100 else 1
        bounds = np.linspace(0, tab.num_rows, n_files + 1).astype(int)
        layout[name] = []
        for k in range(n_files):
            part = tab.slice(bounds[k], bounds[k + 1] - bounds[k])
            layout[name].append(str(part.column(0)[0].as_py()))
            pq.write_table(part, os.path.join(d, f"part-{k:05d}.parquet"))
    with open(os.path.join(out, "layout.json"), "w") as f:
        json.dump(layout, f, sort_keys=True)


def write_feed(events, out, seed):
    """serve_write's event feed: the events split into FEED_SLICES seeded
    slices, slice k as feed/slice=k/part-00000.parquet, and the row count
    of each slice, one a line, in feed/rows.txt."""
    rng = np.random.default_rng([seed, 2])
    which = rng.integers(0, FEED_SLICES, events.num_rows)
    d = os.path.join(out, "feed")
    rows = []
    for k in range(FEED_SLICES):
        idx = np.flatnonzero(which == k)
        os.makedirs(os.path.join(d, f"slice={k}"), exist_ok=True)
        pq.write_table(events.take(pa.array(idx)),
                       os.path.join(d, f"slice={k}", "part-00000.parquet"))
        rows.append(len(idx))
    with open(os.path.join(d, "rows.txt"), "w") as f:
        f.writelines(f"{n}\n" for n in rows)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=0)
    a = ap.parse_args()
    tables = build(a.sf)
    write(tables, a.out, a.seed)
    write_feed(tables["events"], a.out, a.seed)


if __name__ == "__main__":
    main()
