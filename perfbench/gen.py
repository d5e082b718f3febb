"""Seeded input generator for the benchmark.

The table *content* is fixed: it is drawn from CONTENT_SEED, so the
expected result of every registry entry is one pinned hash per workload.
The run seed (`--seed`) decides everything a client would vary between
sessions without changing the answer set:

  * the physical row order of every table (a seeded shuffle);
  * the order in which the workload issues its calls;
  * the ingest workload's append batches and its range / point read
    predicates (their expected answers are computed by DuckDB over the
    generated files, see oracle.py).

Tables follow the star schema of the engine's test data (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings). Documents and lineitem can be amplified with the
isomorphic-copy scheme of `graft.tools.ScalingUp`: copy i shifts the key
by i * (max + 1) and, for documents, suffixes every token with a
copy-specific marker `zz<i>qq`, so each copy has the original's
duplicate structure and no shingle is shared across copies.

Usage: python3 perfbench/gen.py OUT_DIR --workload NAME --seed N
"""
import argparse
import datetime as dt
import hashlib
import json
import math
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42

# base row counts (the engine's sf0.01 test-data shape)
BASE = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}

# per-workload amplification of (documents, lineitem)
AMPLIFY = {"analytics": (1, 1), "dedup_search": (1, 1), "ingest": (1, 1)}

# ingest: micro-batches appended through the streaming layer, and the
# number of seeded reads issued after each batch
APPEND_BATCHES = 3
APPEND_ROWS = 4000
READS_PER_BATCH = 8

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 44 + ["zh"] * 15 + ["es"] * 14 + ["de"] * 14 + ["fr"] * 13
DIM = 64

TS = pa.timestamp("us")


def _day(start, r, span_days):
    return start + dt.timedelta(days=r.randrange(span_days))


def base_tables():
    """The fixed-content base tables as {name: pyarrow.Table}."""
    r = random.Random(CONTENT_SEED)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = BASE["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array([r.randrange(25) for _ in range(n)], pa.int32()),
        "c_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n)],
        "c_mktsegment": [r.choice(SEGMENTS) for _ in range(n)]})
    n = BASE["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array([r.randrange(25) for _ in range(n)], pa.int32()),
        "s_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n)]})
    n = BASE["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{r.choice(ADJ)} {r.choice(NOUN)}" for _ in range(n)],
        "p_brand": [f"Brand#{r.randrange(1, 26)}" for _ in range(n)],
        "p_type": [r.choice(PTYPES) for _ in range(n)],
        "p_size": pa.array([r.randrange(1, 51) for _ in range(n)], pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) * 0.1, 1) for i in range(n)]})
    n = BASE["orders"]
    d0 = dt.datetime(1995, 1, 1)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array([r.randrange(BASE["customer"]) for _ in range(n)],
                              pa.int64()),
        "o_orderstatus": [r.choice("FOP") for _ in range(n)],
        "o_totalprice": [round(r.uniform(1000, 500000), 2) for _ in range(n)],
        "o_orderdate": pa.array([_day(d0, r, 2404) for _ in range(n)], TS),
        "o_orderpriority": [r.choice(PRIORITIES) for _ in range(n)]})
    n = BASE["lineitem"]
    prices = t["part"].column("p_retailprice").to_pylist()
    cols = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")}
    for _ in range(n):
        pk = r.randrange(BASE["part"])
        qty = float(r.randrange(1, 51))
        cols["l_orderkey"].append(r.randrange(BASE["orders"]))
        cols["l_partkey"].append(pk)
        cols["l_suppkey"].append(r.randrange(BASE["supplier"]))
        cols["l_linenumber"].append(r.randrange(1, 8))
        cols["l_quantity"].append(qty)
        cols["l_extendedprice"].append(round(qty * prices[pk] * r.uniform(0.02, 2.1), 2))
        cols["l_discount"].append(r.randrange(11) / 100)
        cols["l_tax"].append(r.randrange(9) / 100)
        cols["l_returnflag"].append(r.choice("ANR"))
        cols["l_linestatus"].append(r.choice("FO"))
        cols["l_shipdate"].append(_day(dt.datetime(1995, 1, 2), r, 2498))
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(cols["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(cols["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(cols["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(cols["l_linenumber"], pa.int32()),
        **{k: cols[k] for k in ("l_quantity", "l_extendedprice", "l_discount",
                                "l_tax", "l_returnflag", "l_linestatus")},
        "l_shipdate": pa.array(cols["l_shipdate"], TS)})
    n = BASE["events"]
    ts, cur = [], dt.datetime(2024, 1, 1)
    gap = 30 * 86400 / n
    for _ in range(n):
        cur += dt.timedelta(microseconds=int(r.expovariate(1 / gap) * 1e6))
        ts.append(cur)
    t["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, TS),
        "user_id": pa.array([r.randrange(150) for _ in range(n)], pa.int64()),
        "event_type": [r.choice(EVENT_TYPES) for _ in range(n)],
        "value": [max(0.01, round(r.expovariate(1 / 50), 2)) for _ in range(n)],
        "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(n)]})
    # documents: random token streams; ~5 % are near-copies of an earlier
    # document with a trailing "dup" marker (the test data's dup shape)
    n = BASE["documents"]
    texts = []
    for i in range(n):
        if i > 20 and r.random() < 0.05:
            texts.append(texts[r.randrange(i)] + " dup" * r.randrange(1, 3))
        else:
            texts.append(" ".join(r.choice(WORDS)
                                  for _ in range(r.randrange(10, 100))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [r.choice(LANGS) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    # embeddings: random unit vectors; ~5 % are near-copies of earlier ones
    n = BASE["embeddings"]
    vecs = []
    for i in range(n):
        if i > 20 and r.random() < 0.05:
            src = vecs[r.randrange(i)]
            v = [x + r.gauss(0, 0.01) for x in src]
        else:
            v = [r.gauss(0, 1) for _ in range(DIM)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([r.randrange(10) for _ in range(n)], pa.int32())})
    return t


def content_key():
    """Hash of this generator: generated inputs are cached under it."""
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def cached_base_tables(cache_root):
    """base_tables(), cached as parquet under `cache_root` (the table
    content depends on nothing but this file)."""
    d = os.path.join(cache_root, f"base-{content_key()}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        for name, t in base_tables().items():
            pq.write_table(t, os.path.join(d, f"{name}.parquet"))
        open(os.path.join(d, "_DONE"), "w").close()
    return {n[:-8]: pq.read_table(os.path.join(d, n))
            for n in os.listdir(d) if n.endswith(".parquet")}


def amplify_documents(docs, m):
    if m == 1:
        return docs
    span = max(docs.column("doc_id").to_pylist()) + 1
    parts = [docs]
    for i in range(1, m):
        texts = [" ".join(w + f"zz{i}qq" for w in x.split(" "))
                 for x in docs.column("text").to_pylist()]
        parts.append(pa.table({
            "doc_id": pa.array([k + i * span for k in docs.column("doc_id").to_pylist()],
                               pa.int64()),
            "text": texts,
            "lang": docs.column("lang"),
            "source": docs.column("source"),
            # ScalingUp keeps n_chars from the original row
            "n_chars": docs.column("n_chars")}))
    return pa.concat_tables(parts)


def amplify_lineitem(li, m):
    if m == 1:
        return li
    keys = li.column("l_orderkey").to_pylist()
    span = max(keys) + 1
    parts = [li]
    for i in range(1, m):
        parts.append(li.set_column(0, "l_orderkey",
                                   pa.array([k + i * span for k in keys], pa.int64())))
    return pa.concat_tables(parts)


def shuffled(table, r):
    idx = list(range(table.num_rows))
    r.shuffle(idx)
    return table.take(pa.array(idx, pa.int64()))


def ingest_plan(r, lineitem):
    """Append batches (parquet rows) and the reads issued after each one."""
    max_key = max(lineitem.column("l_orderkey").to_pylist()) + 1
    batches, reads = [], []
    for b in range(APPEND_BATCHES):
        # each batch lands a fresh, narrow key band, so a range read can
        # skip the files of the other batches
        lo = max_key + b * APPEND_ROWS * 4
        rows = {"l_orderkey": [], "l_partkey": [], "l_quantity": [],
                "l_shipdate": []}
        for _ in range(APPEND_ROWS):
            rows["l_orderkey"].append(lo + r.randrange(APPEND_ROWS * 4))
            rows["l_partkey"].append(r.randrange(BASE["part"]))
            rows["l_quantity"].append(float(r.randrange(1, 51)))
            rows["l_shipdate"].append(_day(dt.datetime(2002, 1, 1), r, 365))
        batches.append(rows)
        hi_key = lo + APPEND_ROWS * 4
        for k in range(READS_PER_BATCH):
            if k % 2 == 0:
                a = r.randrange(max_key, hi_key)
                reads.append({"after_batch": b, "kind": "range",
                              "lo": a, "hi": a + r.randrange(200, 2000)})
            else:
                pick = r.choice(batches)["l_orderkey"]
                reads.append({"after_batch": b, "kind": "point",
                              "key": pick[r.randrange(len(pick))]})
    return batches, reads


def write_ingest_batches(out_dir, batches):
    for i, rows in enumerate(batches):
        tbl = pa.table({
            "l_orderkey": pa.array(rows["l_orderkey"], pa.int64()),
            "l_partkey": pa.array(rows["l_partkey"], pa.int64()),
            "l_quantity": rows["l_quantity"],
            "l_shipdate": pa.array(rows["l_shipdate"], TS)})
        pq.write_table(tbl, os.path.join(out_dir, f"batch{i}.parquet"))


def generate(out_dir, workload, seed):
    """Write the workload's inputs for `seed` under `out_dir` (idempotent:
    a finished directory carries a `_DONE` marker and is reused)."""
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    tmp = out_dir + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    r = random.Random(seed)
    tables = cached_base_tables(os.path.dirname(os.path.dirname(
        os.path.abspath(out_dir))))
    docs_m, li_m = AMPLIFY[workload]
    tables["documents"] = amplify_documents(tables["documents"], docs_m)
    tables["lineitem"] = amplify_lineitem(tables["lineitem"], li_m)
    for name in sorted(tables):
        pq.write_table(shuffled(tables[name], r),
                       os.path.join(tmp, f"{name}.parquet"))
    plan = {"seed": seed, "workload": workload, "order_seed": r.randrange(2**31)}
    if workload == "ingest":
        batches, reads = ingest_plan(r, tables["lineitem"])
        write_ingest_batches(tmp, batches)
        plan["batches"] = len(batches)
        plan["reads"] = reads
    with open(os.path.join(tmp, "plan.json"), "w") as f:
        json.dump(plan, f, indent=1)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, out_dir)
    return out_dir


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--workload", required=True, choices=sorted(AMPLIFY))
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    generate(a.out_dir, a.workload, a.seed)
