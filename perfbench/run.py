#!/usr/bin/env python3
"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 8 --trace 0

Builds the engine from the checkout (build.py), generates the seeded
inputs (gen.py), computes the seed-dependent expected answers (oracle.py),
runs the workload in one engine process at local[4] (4 cores, 4 shuffle
partitions) and prints a metrics table followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones (Spark listeners on; spans in .bench_work/). Every
record is also appended to .bench_work/results.jsonl for compare.py.

Other modes: `--selftest` (recorder self-tests), `--pin` (rewrite the
pinned expected hashes of entries without an oracle).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Per workload: (nominal pass time in s, warm-up pass, rounds). A run makes
# max(1, round(seconds / nominal)) measured passes over the workload's
# calls, the nominal pass times being those of a 4-core box; the count
# depends on `--seconds` only, so every run of a workload issues the same
# calls. For analytics and dedup_search a first, unmeasured (but checked)
# pass warms the JIT and Spark's code generation; ingest's cold pass alone
# takes longer than a whole analytics run, so ingest measures its cold pass.
# A measured pass issues its calls `rounds` times after its builds, which
# gives each call several samples for the price of one warm-up.
PASSES = {"analytics": (8.0, True, 2), "dedup_search": (8.0, True, 3),
          "ingest": (25.0, False, 1)}
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def work_dir():
    return os.path.join(ROOT, ".bench_work")


def jvm_cmd(args, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    from build import cds_archive, classpath
    # class-data sharing: the first run after a build dumps the classes it
    # loaded; later runs map them instead of loading and verifying again
    jsa = cds_archive()
    cds = (f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
           else f"-XX:ArchiveClassesAtExit={jsa}")
    return ["java", *opens, cds, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-cp", classpath(),
            "graft.perfbench.Main", *args]


def run_engine(workload, inputs, run_dir, passes, trace, expected,
               extra=(), timeout=170, rounds=1, warmup=False):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, "engine.json")
    args = ["--workload", workload, "--inputs", inputs, "--work", run_dir,
            "--out", out, "--passes", str(passes), "--rounds", str(rounds),
            "--warmup", str(int(warmup)), "--trace", str(trace),
            *extra]
    if expected:
        args += ["--expected", expected]
    log = open(os.path.join(run_dir, "engine.log"), "w")
    # cwd = checkout root: some entries read the repo's own fixtures
    p = subprocess.Popen(jvm_cmd(args, tmp), stdout=log,
                         stderr=subprocess.STDOUT, cwd=ROOT)
    try:
        rc = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("engine timed out")
    log.close()
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(os.path.join(run_dir, "engine.log")).read()[-6000:])
        raise SystemExit(f"engine exited with {rc}")
    with open(out) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least 10 samples beyond it."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


BUILD_KINDS = ("build", "manifest", "append")
SERVE_KINDS = ("serve", "read", "query")


def measured(res, warmup):
    """Samples of the measured passes (all but a warm-up pass)."""
    return [x for x in res["samples"] if not (warmup and x["pass"] == 0)]


def end_to_end(sm, res, input_mb):
    secs = [x["sec"] for x in sm]
    tail_v, tail_p, n = tail(secs)
    build = sum(x["sec"] for x in sm if x["kind"] in BUILD_KINDS)
    m = {
        "setup_s": median(res["setups"]),
        "wall_s": sum(secs),
        "call_p50_s": median(secs),
        "call_tail_s": tail_v,
        "build_s": build,
        "serve_p50_s": median([x["sec"] for x in sm if x["kind"] in SERVE_KINDS]),
        "ingest_mb_per_s": input_mb / build if build > 0 else 0.0,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    info = {"call_tail_pct": round(tail_p, 2), "call_samples": n,
            "setup_first_s": res["setups"][0], "input_mb": input_mb,
            "pass_s": [round(x, 3) for x in res["passes_wall"]]}
    return m, info


def layer_metrics(sm, res):
    tr = [x["trace"] for x in sm]

    def tot(k):
        return sum(t[k] for t in tr)

    def layer_s(layer, kinds=None):
        return sum(x["sec"] for x in sm if x["layer"] == layer
                   and (kinds is None or x["kind"] in kinds))

    jobs = tot("jobs")
    files_total = tot("files_total")
    reads = [x["trace"] for x in sm if x["kind"] == "read"]
    r_total = sum(t["files_total"] for t in reads)
    mb = 1048576.0
    new_entries = sum(max(0, t["memo_after"] - t["memo_before"]) for t in tr)
    m = {
        "runtime.jobs": jobs,
        "runtime.stages": tot("stages"),
        "runtime.tasks": tot("tasks"),
        "runtime.dispatch_s": tot("dispatch_ms") / 1000.0,
        "runtime.per_job_dispatch_ms": tot("dispatch_ms") / jobs if jobs else 0.0,
        "runtime.executor_run_s": tot("run_ms") / 1000.0,
        "runtime.executor_cpu_s": tot("cpu_ns") / 1e9,
        "runtime.gc_s": tot("gc_ms") / 1000.0,
        "runtime.shuffle_write_mb": tot("shuffle_write") / mb,
        "runtime.shuffle_read_mb": tot("shuffle_read") / mb,
        "runtime.spill_mb": tot("spill") / mb,
        "plans.analysis_s": tot("analysis_ms") / 1000.0,
        "plans.optimizer_s": tot("optimizer_ms") / 1000.0,
        "plans.planning_s": tot("planning_ms") / 1000.0,
        "memo.new_entries": new_entries,
        "memo.entries_peak": max(t["memo_after"] for t in tr),
        "operators.relational_s": layer_s("operators.relational"),
        "operators.text_s": layer_s("operators.text"),
        "operators.pipeline_s": layer_s("operators.pipeline"),
        "dedup.build_s": layer_s("dedup", BUILD_KINDS),
        "dedup.serve_s": layer_s("dedup", SERVE_KINDS),
        "similarity.build_s": layer_s("similarity", BUILD_KINDS),
        "similarity.serve_s": layer_s("similarity", SERVE_KINDS),
        "multimodal.call_s": layer_s("multimodal"),
        "sources.write_s": sum(x["sec"] for x in sm if x["kind"] == "build"
                               and x["layer"] == "sources"),
        "sources.manifest_s": sum(x["sec"] for x in sm
                                  if x["kind"] == "manifest"),
        "sources.files_total": files_total,
        "sources.files_read": tot("files_read"),
        "sources.files_read_frac": tot("files_read") / files_total if files_total else 0.0,
        "sources.read_files_read_frac":
            sum(t["files_read"] for t in reads) / r_total if r_total else 0.0,
        "sources.scan_input_mb": tot("input") / mb,
        "streaming.batches": sum(1 for x in sm if x["kind"] == "append"),
        "streaming.commit_s": sum(x["sec"] for x in sm if x["kind"] == "append"),
        "trace.wall_s": sum(x["sec"] for x in sm),
    }
    if res.get("extra"):
        m["dedup.lsh_recall"] = res["extra"]["lsh_recall"]
        m["similarity.recall_at_k"] = res["extra"]["recall_at_k"]
    mismatched = sum(1 for t in tr if t["group_jobs"] != t["tracker_jobs"])
    return m, {"job_count_mismatches": mismatched}


def unit_of(name):
    """Unit of a metric printed in the table only."""
    if name.endswith(("_frac", "recall", "recall_at_k")):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    return "count"


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def input_mb(samples, inputs):
    """MB of input files the run's calls consumed, as each call declares
    it (Workloads.scala): each memo build reads its table once, each layout
    call writes copies of lineitem, each append lands its batch file."""
    total = 0.0
    for x in samples:
        if x["input"]:
            path = os.path.join(inputs, x["input"]["table"] + ".parquet")
            total += x["input"]["copies"] * os.path.getsize(path) / 1048576.0
    return total


SELFTEST_ENTRIES = ["q29_map_json", "q111_reconciliation", "t11_readability",
                    "p42_weighted_sample"]
PROBE_SUM = 999000  # sum of 2 * i for i < 1000, the probe job's answer


def selftest():
    """Recorder self-tests: a known-shape probe job, per-call job counts
    against Spark's status tracker, a corrupted expected hash, and the
    streamed appends' micro-batch jobs."""
    import gen
    import oracle
    results = []

    def check(what, ok):
        results.append(ok)
        print(f"{'PASS' if ok else 'FAIL'} {what}")

    def engine(workload, tag, exp, only, extra=()):
        inputs = gen.generate(os.path.join(work_dir(), "inputs", workload,
                                           f"seed-0-{gen.content_key()}"), workload, 0)
        run_dir = os.path.join(work_dir(), f"selftest-{tag}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        path = os.path.join(run_dir, "expected.json")
        with open(path, "w") as f:
            json.dump(exp, f)
        res = run_engine(workload, inputs, run_dir, 1, 1, path,
                         ["--only", ",".join(only), *extra])
        shutil.rmtree(run_dir, ignore_errors=True)
        return res["samples"]

    pinned = oracle.load("analytics")
    for corrupt in (False, True):
        exp = {k: dict(pinned[k]) for k in SELFTEST_ENTRIES}
        exp["_probe"] = {"rows": PROBE_SUM, "hash": ""}
        victim = SELFTEST_ENTRIES[0]
        if corrupt:
            h = exp[victim]["hash"]
            exp[victim]["hash"] = ("1" if h[0] != "1" else "2") + h[1:]
        sm = engine("analytics", f"analytics-{int(corrupt)}", exp,
                    SELFTEST_ENTRIES, ["--selftest", "1"])
        bad = sorted({x["name"] for x in sm if not x["ok"]})
        if corrupt:
            check("a corrupted expected hash raises fail_frac "
                  f"(failed: {bad})", bad == [victim])
            continue
        probe = next(x["trace"] for x in sm if x["name"] == "_probe")
        check(f"probe job: exactly one job (got {probe['group_jobs']})",
              probe["group_jobs"] == 1)
        check(f"probe job: 7 tasks in 1 stage (got {probe['tasks']} in "
              f"{probe['stages']})", probe["tasks"] == 7 and probe["stages"] == 1)
        counts = [(x["name"], x["trace"]["group_jobs"], x["trace"]["tracker_jobs"])
                  for x in sm]
        check(f"per-call job counts equal statusTracker.getJobIdsForGroup {counts}",
              all(a == b for _, a, b in counts))
        check(f"true expected hashes give fail_frac 0 (failed: {bad})", not bad)

    # a streaming query runs its micro-batches under its own job group; the
    # recorder must still fold them into the append call that fed them
    pinned = oracle.load("ingest")
    appends = sorted(k for k in pinned if k.startswith("append_b"))
    sm = engine("ingest", "ingest", {k: pinned[k] for k in appends}, appends)
    jobs = [(x["name"], x["trace"]["jobs"]) for x in sm]
    check(f"every append records its micro-batch jobs {jobs}",
          len(jobs) == len(appends) and all(n > 0 for _, n in jobs))
    landed = [(x["name"], x["rows"]) for x in sm]
    check(f"every append lands its rows in the stream table {landed}",
          all(x["ok"] for x in sm))
    return all(results)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--pin", action="store_true",
                    help="rewrite pinned hashes of entries without an oracle")
    ap.add_argument("--selftest", action="store_true",
                    help="run the recorder self-tests")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None):
        ap.error("--workload and --seed are required")

    import build
    import gen
    import oracle
    if not a.selftest and a.workload not in PASSES:
        raise SystemExit(f"unknown workload {a.workload}")
    build.build()
    if a.selftest:
        sys.exit(0 if selftest() else 1)

    wd = work_dir()
    t0 = time.time()
    inputs = gen.generate(os.path.join(wd, "inputs", a.workload,
                                       f"seed-{a.seed}-{gen.content_key()}"),
                          a.workload, a.seed)
    gen_s = time.time() - t0
    with open(os.path.join(inputs, "plan.json")) as f:
        plan = json.load(f)
    run_dir = os.path.join(wd, f"run-{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    expected = oracle.expected_for_run(a.workload, inputs, plan, run_dir)
    nominal, warmup, rounds = PASSES[a.workload]
    passes = max(1, round(a.seconds / nominal)) + warmup
    extra = ["--pin", os.path.join(run_dir, "observed.json")] if a.pin else []
    res = run_engine(a.workload, inputs, run_dir, passes, a.trace,
                     expected, extra, rounds=rounds, warmup=warmup)
    if a.pin:
        oracle.pin(a.workload, os.path.join(run_dir, "observed.json"))

    # every call is checked, the warm-up pass's too
    attempted = len(res["samples"])
    failed = sum(1 for x in res["samples"] if not x["ok"])
    for x in res["samples"]:
        if not x["ok"]:
            print(f"FAIL {x['name']} (pass {x['pass']}): {x['check']}")
    sm = measured(res, warmup)
    e2e, info = end_to_end(sm, res, input_mb(sm, inputs))
    info.update({"gen_s": round(gen_s, 3), "passes": passes,
                 "fail_frac": failed / attempted if attempted else 1.0})
    if a.trace:
        metrics, more = layer_metrics(sm, res)
        info.update(more)
        declared = load_benchmark()["per_layer"]
    else:
        metrics = e2e
        declared = load_benchmark()["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    print(f"workload {a.workload} seed {a.seed} trace {a.trace} passes {passes}")
    for k, v in sorted(metrics.items()):
        print(f"  {k:32s} {v:14.6f} {units.get(k) or unit_of(k)}")
    for k, v in info.items():
        print(f"  {k:32s} {v}")
    with open(os.path.join(wd, "results.jsonl"), "a") as f:
        f.write(json.dumps({"workload": a.workload, "seed": a.seed,
                            "trace": a.trace, "metrics": metrics,
                            "info": info, "failed": failed,
                            "attempted": attempted}) + "\n")
    spans = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(spans):
        os.replace(spans, os.path.join(wd, f"spans-{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
