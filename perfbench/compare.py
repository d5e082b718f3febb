#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each input holds run records as `run.py` appends them to
`.bench_work/results.jsonl` (one JSON object per run). For every workload
and end-to-end metric the comparator prints each side's median and
quartiles, the change of the medians, the spread of the base (IQR over
median) and a verdict against the metric's bound in BENCHMARK.json:

  worse       the new median is worse than the base by more than the bound
  better      every new run beats every base run
  unresolved  the base's own spread exceeds the bound
  same        none of the above

It then lists the per-layer metrics (traced runs) whose medians moved by
more than the base's spread, beside the end-to-end rows, and states the
tracing overhead (traced minus untraced wall_s) of each side.
Exit code 1 if any metric is worse.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def series(runs, workload, trace, metric):
    return [r["metrics"][metric] for r in runs
            if r["workload"] == workload and r["trace"] == trace
            and metric in r["metrics"]]


def verdict(base, new, bound, better):
    b1, bm, b3 = quartiles(base)
    _, nm, _ = quartiles(new)
    sign = 1 if better == "lower" else -1
    change = (nm - bm) / bm if bm else 0.0
    spread = (b3 - b1) / bm if bm else 0.0
    if sign * change > bound:
        return "worse", change, spread
    if (better == "lower" and max(new) < min(base)) or \
            (better == "higher" and min(new) > max(base)):
        return "better", change, spread
    if spread > bound:
        return "unresolved", change, spread
    return "same", change, spread


def main(base_path, new_path):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    base, new = load_runs(base_path), load_runs(new_path)
    workloads = [w["name"] for w in bench["workloads"]]
    worse = False
    for w in workloads:
        print(f"== {w}")
        print(f"  {'metric':28s} {'base q1/med/q3':>32s} {'new q1/med/q3':>32s} "
              f"{'change':>8s} {'spread':>7s} {'bound':>6s} verdict")
        for m in bench["end_to_end"]:
            b, n = series(base, w, 0, m["name"]), series(new, w, 0, m["name"])
            if not b or not n:
                continue
            v, change, spread = verdict(b, n, m["bound"], m["better"])
            worse |= v == "worse"
            fmt = lambda xs: "/".join(f"{x:.4g}" for x in quartiles(xs))
            print(f"  {m['name']:28s} {fmt(b):>32s} {fmt(n):>32s} "
                  f"{change:+8.1%} {spread:7.1%} {m['bound']:6.2f} {v}")
        moved = []
        names = sorted({k for r in base + new if r["workload"] == w and r["trace"] == 1
                        for k in r["metrics"]})
        for k in names:
            b, n = series(base, w, 1, k), series(new, w, 1, k)
            if not b or not n:
                continue
            b1, bm, b3 = quartiles(b)
            nm = statistics.median(n)
            if bm and abs(nm - bm) / abs(bm) > max(0.05, (b3 - b1) / abs(bm)):
                moved.append(f"{k} {bm:.4g} -> {nm:.4g} ({(nm - bm) / bm:+.0%})")
        print("  per-layer moved: " + ("; ".join(moved) if moved else "none"))
        for label, runs in (("base", base), ("new", new)):
            tw, uw = series(runs, w, 1, "trace.wall_s"), series(runs, w, 0, "wall_s")
            if tw and uw:
                d = statistics.median(tw) - statistics.median(uw)
                print(f"  tracing overhead ({label}): {d:+.3f} s "
                      f"({d / statistics.median(uw):+.1%} of untraced wall_s)")
    return 1 if worse else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
