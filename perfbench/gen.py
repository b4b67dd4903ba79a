#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Every table has the schema and value distributions of the engine's
sf0.1 test fixture (a TPC-H-like star schema, an `events` stream, a
`documents` caption corpus with 5% near-duplicates and 64-d unit
`embeddings`), but the rows come from `numpy.random.default_rng(seed)`,
so the same seed always gives the same bytes and a new seed gives new
data of the same shape.

    python3 perfbench/gen.py <out_dir> <workload> <seed>

writes `<out_dir>/<table>.parquet` for the tables the workload reads,
plus the workload's op streams as JSON. The corpus plane of
`corpus_dedup_4x` is then grown with DuckDB the way
`tools/stress10x.py` grows the 10x plane: copy 0 verbatim, copies 1-3
with a `~i` suffix on every token, ids shifted per copy, rows shuffled
by copy with the seed.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
US = 1_000_000  # microseconds per second
ESPER_SF = 0.02


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * 86400 * US, pa.timestamp("us"))


def relational(rng, out, sf):
    """region/nation/customer/supplier/part/orders/lineitem/events."""
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_users = int(15000 * sf)
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": status[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86400 * US, n_ev)) + t0
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": kinds[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


def doc_texts(rng, n):
    """Caption texts: 10-100 tokens from VOCAB; 5% of the docs repeat
    another doc's text with a trailing ` dup` (the near-duplicate
    profile the dedup family is built around)."""
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in lens]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return texts


def corpus(rng, out, sf):
    """documents + embeddings at `sf` (5000 docs / 2000 vectors at 0.1)."""
    n_docs, n_vec = int(50000 * sf), int(20000 * sf)
    texts = doc_texts(rng, n_docs)
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = rng.standard_normal((n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})


def grow_corpus(rng, out, copies):
    """`copies`x corpus plane in place, the tools/stress10x.py way."""
    import duckdb
    con = duckdb.connect()
    order = ", ".join(str(int(i)) for i in rng.permutation(copies))
    d, e = (os.path.join(out, f"{t}.parquet") for t in ("documents", "embeddings"))
    for src, sql in (
        (d, f"""SELECT doc_id + i*1000000 AS doc_id,
                  CASE WHEN i = 0 THEN text
                    ELSE array_to_string(list_transform(string_split(text, ' '),
                      x -> x || '~' || CAST(i AS VARCHAR)), ' ') END AS text,
                  lang, source,
                  CASE WHEN i = 0 THEN n_chars
                    ELSE n_chars + 2 * len(string_split(text, ' ')) END AS n_chars
                FROM read_parquet('{d}.src') CROSS JOIN (SELECT unnest([{order}]) AS i) c
                ORDER BY list_position([{order}], i), doc_id"""),
        (e, f"""SELECT vec_id + i*1000000 AS vec_id, embedding, label
                FROM read_parquet('{e}.src') CROSS JOIN (SELECT unnest([{order}]) AS i) c
                ORDER BY list_position([{order}], i), vec_id""")):
        os.replace(src, src + ".src")
        con.execute(f"COPY ({sql}) TO '{src}' (FORMAT PARQUET)")
        os.remove(src + ".src")


def index_streams(rng, out, n_docs, n_vec, n_writes=600, n_reads=6000):
    """Held-out set and op streams for index_serve_maintain.

    10% of the doc ids and vector ids are held out of the index build;
    the writer appends them in batches. Writes cycle through the six
    (plane, op) kinds and reads through the seven serve kinds in a fixed
    order, so every seed runs the same mix; the seed picks the ids, texts
    and query words. Query words follow a Zipf(1.2) ranking of VOCAB, so
    a few words are hot. Half of the reads are marked for checking,
    evenly over the kinds."""
    held_docs = np.sort(rng.choice(n_docs, n_docs // 10, replace=False))
    held_vecs = np.sort(rng.choice(n_vec, n_vec // 10, replace=False))
    base_docs = np.setdiff1d(np.arange(n_docs), held_docs)
    base_vecs = np.setdiff1d(np.arange(n_vec), held_vecs)
    hot = rng.permutation(len(VOCAB))
    zipf = 1.0 / np.arange(1, len(VOCAB) + 1) ** 1.2
    zipf /= zipf.sum()
    vocab = np.array(VOCAB)

    def word():
        return VOCAB[hot[rng.choice(len(VOCAB), p=zipf)]]

    def text():
        return " ".join(vocab[rng.integers(0, len(VOCAB), int(rng.integers(10, 60)))])

    def pick(ids, k):
        return [int(i) for i in rng.choice(ids, k, replace=False)]

    writes, held = [], {"phrase": list(held_docs), "ivf": list(held_vecs)}
    for j in range(n_writes):
        plane, op = [("phrase", "append"), ("ivf", "append"), ("phrase", "upsert"),
                     ("ivf", "upsert"), ("phrase", "delete"), ("ivf", "delete")][j % 6]
        base = base_docs if plane == "phrase" else base_vecs
        if op == "append":
            ids, held[plane] = [int(i) for i in held[plane][:4]], held[plane][4:]
            if not ids:
                op = "upsert"
        if op == "upsert":
            ids = pick(base, 2)
        elif op == "delete":
            ids = pick(base, 3)
        w = {"plane": plane, "op": op, "ids": ids}
        if plane == "phrase" and op == "upsert":
            w["texts"] = [text() for _ in ids]
        writes.append(w)
    reads = []
    for j in range(n_reads):
        k = ["search", "phrase", "bm25", "near", "prefix", "ivf", "ivf2"][j % 7]
        if k == "search":
            reads.append({"op": k, "query": f"{word()} AND ({word()} OR NOT {word()})"})
        elif k in ("phrase", "near"):
            r = {"op": k, "words": [word(), word()]}
            if k == "near":
                r["k"] = int(rng.integers(2, 9))
            reads.append(r)
        elif k == "bm25":
            reads.append({"op": k, "words": sorted({word(), word(), word()})})
        elif k == "prefix":
            reads.append({"op": k, "prefix": word()[:2]})
        else:
            reads.append({"op": k, "ids": sorted(pick(base_vecs, 2))})
    # every block of 14 reads holds each kind twice, once per reader;
    # one of the two is checked, so every kind is checked early
    checked = [14 * b + k + 7 * int(rng.integers(0, 2))
               for b in range(n_reads // 14) for k in range(7)]
    with open(os.path.join(out, "streams.json"), "w") as f:
        json.dump({"held_docs": held_docs.tolist(), "held_vecs": held_vecs.tolist(),
                   "writes": writes, "reads": reads, "checked": checked}, f)


def main():
    out, workload, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    if workload == "esper_interactive":
        relational(rng, out, ESPER_SF)
        corpus(rng, out, ESPER_SF)
    elif workload == "corpus_dedup_4x":
        # tiny relational tables: tools/check.py opens every fixture table
        relational(rng, out, 0.001)
        corpus(rng, out, 0.1)
        grow_corpus(rng, out, 4)
    elif workload == "index_serve_maintain":
        corpus(rng, out, 0.1)
        index_streams(rng, out, 5000, 2000)
    else:
        sys.exit(f"unknown workload {workload}")


if __name__ == "__main__":
    main()
