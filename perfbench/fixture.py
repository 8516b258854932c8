"""Deterministic benchmark fixtures.

Two fixtures, both built from code in this directory so that no edit to the
program can move the benchmark's input:

* ``sf0.1``: a synthetic TPC-H-like star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables, with the schema, value ranges and
  row counts of the repository's sf0.1 test fixture.
* ``x10``: ten key-shifted copies of the generated sf0.002 base, a port of
  ``graft.tools.ScaleUp``: every key column of copy ``i`` is shifted by
  ``i * (max key + 1)``, customer/supplier names are regenerated from the
  shifted key, documents get a ``" copytoken<i>"`` suffix (so dedup work grows
  as 10-copy near-duplicate cliques) and embeddings get ``+ i * 1e-4``.

Every table is one Parquet file with one row group, the layout the program's
fixtures have: a scan of it is a single task.

Usage: python3 fixture.py <outDir> <fixture>
"""
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SEED = 42
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EPOCH_DAY = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def rng_for(table, sf):
    key = int.from_bytes(hashlib.sha256(f"{table}:{sf}".encode()).digest()[:8], "little")
    return np.random.default_rng([SEED, key])


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, lo, hi, n):
    return EPOCH_DAY + rng.integers(lo, hi, n).astype("timedelta64[D]")


def generate(sf):
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rng_for("customer", sf)
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust)})
    r = rng_for("supplier", sf)
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(r, -999.99, 9999.99, n_supp)})
    r = rng_for("part", sf)
    adj = ["blue", "red", "large", "hot", "new", "small", "green", "old"]
    noun = ["anvil", "bolt", "ring", "rod", "widget", "gear", "nut", "pipe"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    r = rng_for("orders", sf)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": days(r, 0, 2404, n_ord),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    r = rng_for("lineitem", sf)
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(r, 900.0, 105000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["F", "O"], n_li),
        "l_shipdate": days(r, 1, 2499, n_li)})
    r = rng_for("events", sf)
    ts = np.sort(r.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": r.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": r.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    r = rng_for("documents", sf)
    texts = []
    for i in range(n_doc):
        if i >= 20 and r.random() < 0.05:  # planted near-duplicate of an earlier doc
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(WORDS, int(r.integers(10, 101)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": r.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    r = rng_for("embeddings", sf)
    centers = r.normal(0.0, 1.0, (10, 64))
    label = r.integers(0, 10, n_emb)
    v = centers[label] * 0.15 + r.normal(0.0, 1.0, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": label.astype(np.int32)})
    return t


KEYS = {"customer": ["c_custkey"], "supplier": ["s_suppkey"], "part": ["p_partkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "events": ["event_id", "user_id"], "documents": ["doc_id"],
        "embeddings": ["vec_id"]}


def scale_up(base, factor):
    """Port of graft.tools.ScaleUp: ``factor`` key-shifted copies per table."""
    out = {"region": base["region"], "nation": base["nation"]}
    for name, keys in KEYS.items():
        tbl = base[name]
        bases = {k: int(pa.compute.max(tbl[k]).as_py()) + 1 for k in keys}
        copies = []
        for i in range(factor):
            c = tbl
            for k in keys:
                idx = c.schema.get_field_index(k)
                shifted = pa.compute.add(c[k], pa.scalar(i * bases[k], c[k].type))
                c = c.set_column(idx, k, shifted)
            copies.append(tweak(name, c, i))
        out[name] = pa.concat_tables(copies)
    return out


def tweak(name, c, i):
    def put(col, arr):
        return c.set_column(c.schema.get_field_index(col), col, pa.array(arr))
    if name == "customer":
        return put("c_name", [f"Customer#{k:09d}" for k in c["c_custkey"].to_pylist()])
    if name == "supplier":
        return put("s_name", [f"Supplier#{k:09d}" for k in c["s_suppkey"].to_pylist()])
    if name == "documents" and i > 0:
        text = [s + f" copytoken{i}" for s in c["text"].to_pylist()]
        c = put("text", text)
        return put("n_chars", np.array([len(s) for s in text], np.int64))
    if name == "embeddings" and i > 0:
        delta = np.float32(i * 1e-4)
        return put("embedding", pa.array(
            [np.asarray(e, np.float32) + delta for e in c["embedding"].to_pylist()],
            pa.list_(pa.float32())))
    return c


def build(fixture):
    if fixture == "sf0.1":
        return generate(0.1)
    if fixture == "x10":
        return scale_up(generate(0.002), 10)
    raise SystemExit(f"unknown fixture {fixture}")


def table_digest(path):
    """Row count and a SHA-256 over the table's canonical IPC stream."""
    tbl = pq.read_table(path)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    return {"rows": tbl.num_rows,
            "sha256": hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()}


def write(out_dir, fixture):
    """Write the fixture into ``out_dir/fixture`` atomically; return its digests."""
    final = os.path.join(out_dir, fixture)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in build(fixture).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows), compression="snappy")
    digests = {n: table_digest(os.path.join(tmp, f"{n}.parquet")) for n in TABLES}
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return digests


if __name__ == "__main__":
    print(json.dumps(write(sys.argv[1], sys.argv[2]), indent=1, sort_keys=True))
