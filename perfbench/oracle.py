"""Expected answers for the benchmark's result checks.

Every checked call compares its row count and an order-insensitive hash
(the canonical encoding of ResultHash.scala, re-implemented here) against
`expected/<workload>.json`:

  * entries with an `oracleSql` in the engine's registry: the hash of
    DuckDB's answer over the same generated tables (`source: duckdb`);
  * entries without one, and the shared builds: the seed commit's own
    output, pinned once (`source: pinned`);
  * the ingest workload's seeded reads depend on the run seed, so their
    answers are computed by DuckDB for each run (expected_for_run).

The table content does not depend on the run seed (only row order does),
so one expected file per workload serves every seed.

    python3 perfbench/oracle.py make WORKLOAD   # DuckDB part of the file
    python3 perfbench/run.py --workload W --seed 1 --pin   # pinned part
"""
import datetime as dt
import decimal
import hashlib
import json
import os
import struct
import subprocess
import sys
import time

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = dt.datetime(1970, 1, 1)
# oracles that join a fixture precomputed for the engine's own test data,
# so they have no answer on generated tables: these entries are pinned
FIXTURE_ORACLES = {"t31_compress_ratio"}


def expected_path(workload):
    return os.path.join(HERE, "expected", f"{workload}.json")


def load(workload):
    p = expected_path(workload)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def save(workload, entries):
    os.makedirs(os.path.dirname(expected_path(workload)), exist_ok=True)
    with open(expected_path(workload), "w") as f:
        json.dump(dict(sorted(entries.items())), f, indent=1)
        f.write("\n")


# ---- canonical encoding (mirror of ResultHash.scala) -----------------------

def _num(d, out):
    if d != d:
        out.append("Fnan")
    elif d in (float("inf"), float("-inf")):
        out.append("Finf" if d > 0 else "F-inf")
    elif d == int(d) and abs(d) < 1e15:
        out.append(f"I{int(d)}")
    else:
        bits = struct.unpack(">q", struct.pack(">d", d))[0]
        out.append("F" + format(bits & (2**64 - 1), "x"))


def _micros(v):
    if v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    d = v - EPOCH
    return d.days * 86400 * 10**6 + d.seconds * 10**6 + d.microseconds


def _enc(v, t, out):
    if v is None:
        out.append("N")
    elif pa.types.is_boolean(t):
        out.append("B1" if v else "B0")
    elif pa.types.is_integer(t):
        out.append(f"I{v}")
    elif pa.types.is_floating(t):
        _num(float(v), out)
    elif pa.types.is_decimal(t):
        n = v.normalize()
        if n == n.to_integral_value():
            out.append(f"I{int(n)}")
        else:
            _num(float(v), out)
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        out.append(f"S{len(v.encode('utf-16-le')) // 2}:{v}")
    elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
        out.append("X" + bytes(v).hex())
    elif pa.types.is_timestamp(t):
        out.append(f"T{_micros(v)}")
    elif pa.types.is_date(t):
        out.append("D" + v.isoformat())
    elif pa.types.is_map(t):
        parts = []
        for k, x in v:
            e = []
            _enc(k, t.key_type, e)
            e.append("=>")
            _enc(x, t.item_type, e)
            parts.append("".join(e))
        out.append("M{" + "".join(p + "," for p in sorted(parts)) + "}")
    elif pa.types.is_struct(t):
        out.append("R(")
        for i in range(t.num_fields):
            _enc(v[t.field(i).name], t.field(i).type, out)
            out.append(",")
        out.append(")")
    elif pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        out.append("A[")
        for x in v:
            _enc(x, t.value_type, out)
            out.append(",")
        out.append("]")
    elif isinstance(v, decimal.Decimal):
        _num(float(v), out)
    else:
        out.append("?" + str(v))


def fingerprint(table: pa.Table):
    names = sorted(table.column_names)
    cols = [(table.column(n).to_pylist(), table.schema.field(n).type) for n in names]
    acc = 0
    for i in range(table.num_rows):
        out = []
        for vals, t in cols:
            _enc(vals[i], t, out)
            out.append("|")
        d = hashlib.md5("".join(out).encode("utf-8")).digest()
        acc = (acc + int.from_bytes(d[:8], "big")) % 2**64
    return table.num_rows, format(acc, "016x")


# ---- DuckDB answers ---------------------------------------------------------

def connect(inputs):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    return con


def ingest_reads(inputs, plan):
    """Expected answers of the ingest workload's seeded reads."""
    import duckdb
    con = duckdb.connect()
    out = {}
    for i, r in enumerate(plan["reads"]):
        files = ", ".join(f"'{inputs}/batch{b}.parquet'"
                          for b in range(r["after_batch"] + 1))
        pred = (f"l_orderkey BETWEEN {r['lo']} AND {r['hi']}"
                if r["kind"] == "range" else f"l_orderkey = {r['key']}")
        tbl = con.sql(f"SELECT count(*) AS n, sum(l_quantity) AS qty "
                      f"FROM read_parquet([{files}]) WHERE {pred}").arrow()
        n, h = fingerprint(tbl)
        out[f"read_{i}"] = {"rows": n, "hash": h, "source": "duckdb"}
    return out


def expected_for_run(workload, inputs, plan, run_dir):
    """Write the run's expected file (pinned + per-seed answers)."""
    entries = load(workload)
    if workload == "ingest":
        entries.update(ingest_reads(inputs, plan))
    p = os.path.join(run_dir, "expected.json")
    with open(p, "w") as f:
        json.dump(entries, f)
    return p


def registry():
    """The registry's oracle SQL and each workload's entries, dumped by the
    engine build."""
    import build
    build.build()
    out = os.path.join(build.build_dir(), "oracle_sql.json")
    subprocess.run(["java", "-cp", build.classpath(),
                    "graft.perfbench.Main", "--dump-oracle", out], check=True)
    with open(out) as f:
        return json.load(f)


def make(workload):
    import gen
    inputs = gen.generate(os.path.join(ROOT, ".bench_work", "inputs", workload,
                                       f"seed-0-{gen.content_key()}"), workload, 0)
    reg = registry()
    sqls = reg["sql"]
    con = connect(inputs)
    entries = {k: v for k, v in load(workload).items() if v.get("source") != "duckdb"}
    names = reg["entries"][workload]
    for name in names:
        if name not in sqls or name in FIXTURE_ORACLES:
            continue
        t0 = time.time()
        try:
            tbl = con.sql(sqls[name]).arrow()
        except Exception as e:
            print(f"oracle error {name}: {e}")
            continue
        n, h = fingerprint(tbl)
        entries[name] = {"rows": n, "hash": h, "source": "duckdb"}
        print(f"  {name}: {n} rows, {time.time() - t0:.1f} s", flush=True)
    save(workload, entries)
    print(f"{workload}: {sum(1 for v in entries.values() if v['source'] == 'duckdb')} "
          f"DuckDB answers")


def pin(workload, observed_path):
    """Pin observed answers of calls that have no DuckDB answer, and report
    every call whose observed answer disagrees with DuckDB."""
    with open(observed_path) as f:
        observed = json.load(f)
    entries = load(workload)
    for name, fp in observed.items():
        if name.startswith("read_"):
            continue
        cur = entries.get(name)
        if cur and cur["source"] == "duckdb":
            if (cur["rows"], cur["hash"]) != (fp["rows"], fp["hash"]):
                print(f"MISMATCH {name}: engine {fp} duckdb {cur}")
            continue
        entries[name] = {"rows": fp["rows"], "hash": fp["hash"], "source": "pinned"}
    save(workload, entries)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    if len(sys.argv) == 3 and sys.argv[1] == "make":
        make(sys.argv[2])
    else:
        raise SystemExit(__doc__)
