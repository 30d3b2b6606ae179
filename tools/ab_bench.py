#!/usr/bin/env python3
"""A/B the benchmark between two checkouts with alternating pairs.

    python3 tools/ab_bench.py <parentDir> <changeDir> --workload canon_sameas --pairs 10 \
        [--out ab.json] [--seed0 1] [--trace 0]

Pair i runs `python3 perfbench/run.py --workload W --seed (seed0 + i)
--seconds 15 --trace T` once in each checkout (15 s is the benchmark's
run length); the parent runs first for odd seeds and the change for
even seeds. Each checkout builds into its own `.bench_build/`. Every run (its result line, the PERFBENCH_DIAG line
from stderr, exit code and wall time) is stored under the workload's key
in the --out JSON file, which is created or extended. Then, per metric,
it prints the median [quartiles] of each side and the number of pairs
the change won, with the direction read from the change's
BENCHMARK.json (`better` of `end_to_end` and `per_layer`; higher for a
metric it does not list). Each end-to-end metric also gets a verdict,
first match wins:

  worse       the change's median is worse than the parent's by more
              than the metric's BENCHMARK.json bound (a share of the
              parent's median);
  gain        the change won at least 9 of every 10 pairs (ties count
              for neither side) and the medians differ by more than the
              parent's interquartile range;
  unresolved  either side's interquartile range, as a share of its
              median, is wider than the bound, and not every change run
              reads better than every parent run;
  held        otherwise.

Each end-to-end metric also shows how many pairs the side that ran first
in the pair won (ties count for neither): near n/2 when the order does
not matter, near n when running first is itself an advantage. It does
not enter the verdict.

Last, it prints the failed and attempted ops of each side, and the
runs that gave no result. Only the command line above touches perfbench/.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_side(root, workload, seed, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "15", "--trace", str(trace)]
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
    t0 = time.time()
    p = subprocess.run(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    diag = [l for l in p.stderr.splitlines() if l.startswith("PERFBENCH_DIAG ")]
    return {"rc": p.returncode, "wall_s": round(wall, 1), "result": result,
            "diag": diag[-1] if diag else None,
            "stderr_tail": None if result else p.stderr[-2000:]}


def metrics_of(run):
    r = run.get("result") or {}
    return {k: v["value"] for k, v in (r.get("metrics") or {}).items()}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs, better):
    pairs = {}
    for r in runs:
        pairs.setdefault(r["seed"], {})[r["side"]] = r
    names = sorted({k for r in runs for k in metrics_of(r)})
    rows = []
    for name in names:
        par, chg, won, first_won, n = [], [], 0, 0, 0
        for seed in sorted(pairs):
            a = metrics_of(pairs[seed].get("parent", {})).get(name)
            b = metrics_of(pairs[seed].get("change", {})).get(name)
            if a is None or b is None:
                continue
            par.append(a)
            chg.append(b)
            n += 1
            higher = better.get(name, "higher") == "higher"
            if (b > a) if higher else (b < a):
                won += 1
            first, second = (b, a) if pairs[seed]["change"].get("first") else (a, b)
            if (first > second) if higher else (first < second):
                first_won += 1
        if n:
            rows.append((name, par, chg, won, first_won, n))
    return rows


def verdict(par, chg, won, n, better, bound):
    """The end-to-end verdict of the module docstring for one metric."""
    sign = 1 if better == "higher" else -1
    p, c = quartiles(par), quartiles(chg)
    if p[1] and sign * (p[1] - c[1]) / abs(p[1]) > bound:
        return "worse"
    if won * 10 >= 9 * n and sign * (c[1] - p[1]) > p[2] - p[0]:
        return "gain"
    spread = max((q[2] - q[0]) / abs(q[1]) if q[1] else 0.0 for q in (p, c))
    if spread > bound and not all(sign * (b - a) > 0 for a in par for b in chg):
        return "unresolved"
    return "held"


def ops(runs, side):
    """(failed ops, attempted ops, runs without a result) of one side."""
    rs = [r for r in runs if r["side"] == side]
    done = [r["result"] for r in rs if r.get("result")]
    return (sum(d.get("failed", 0) for d in done), sum(d.get("attempted", 0) for d in done),
            len(rs) - len(done))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", default="ab_bench.json")
    a = ap.parse_args()

    doc = {}
    if os.path.exists(a.out):
        with open(a.out) as fh:
            doc = json.load(fh)
    key = a.workload if a.trace == 0 else a.workload + "_trace"
    runs = doc.setdefault(key, [])
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        for pos, side in enumerate(order):
            r = run_side(sides[side], a.workload, seed, a.trace)
            r.update({"workload": a.workload, "seed": seed, "side": side, "first": pos == 0})
            runs.append(r)
            with open(a.out, "w") as fh:
                json.dump(doc, fh, indent=1)
            m = metrics_of(r)
            print("seed %d %-6s rc=%d %s" % (seed, side, r["rc"], " ".join(
                "%s=%.5g" % kv for kv in sorted(m.items()))), file=sys.stderr, flush=True)

    try:
        with open(os.path.join(sides["change"], "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        better = {m["name"]: m["better"]
                  for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}
        bounds = {m["name"]: m["bound"] for m in bench.get("end_to_end", [])}
    except (OSError, ValueError, KeyError):
        better, bounds = {}, {}
    print("%s: median [q1-q3], parent -> change, pairs the change won, verdict, "
          "pairs the side that ran first won" % key)
    for name, par, chg, won, first_won, n in summarize(runs, better):
        p, c = quartiles(par), quartiles(chg)
        v = (verdict(par, chg, won, n, better.get(name, "higher"), bounds[name])
             if name in bounds else "")
        bias = "  first won %d/%d" % (first_won, n) if name in bounds else ""
        print("  %-24s %.5g [%.5g-%.5g] -> %.5g [%.5g-%.5g]  %d/%d  %s%s" % (
            name, p[1], p[0], p[2], c[1], c[0], c[2], won, n, v, bias))
    for side in ("parent", "change"):
        print("  %-6s ops failed/attempted %d/%d, runs without a result %d" % (
            (side,) + ops(runs, side)))


if __name__ == "__main__":
    main()
