#!/usr/bin/env python3
"""Steadiness checks for the benchmark, run from the repository root.

    python3 perfbench/validate.py spread --workload canon_sameas --seeds 1-10
    python3 perfbench/validate.py double --workload canon_sameas --seeds 1-3

`spread` runs one workload once per seed and reports, per end-to-end
metric, the median and the interquartile range as a share of the median
(statistics.quantiles, n=4), next to the metric's bound in BENCHMARK.json,
plus each run's warm-up drift (second-half over first-half median op time,
minus one) and wall time. `double` runs each seed at --scale 1 and 2 and
reports the ratio of median op times net of host steal. Raw results go
to --out as JSON.
"""

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def run(workload, seed, seconds, trace=0, scale=1.0):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--scale", str(scale)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        raise SystemExit("run failed (seed %d):\n%s" % (seed, p.stderr[-2000:]))
    m = re.search(r"^PERFBENCH_DIAG (.*)$", p.stderr, re.M)
    return {"seed": seed, "scale": scale, "wall_s": wall,
            "result": json.loads(p.stdout.strip().splitlines()[-1]),
            "diag": json.loads(m.group(1)) if m else None}


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2 if q2 else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["spread", "double"])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    secs = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    report = {"workload": a.workload, "mode": a.mode}
    if a.mode == "spread":
        for s in seeds(a.seeds):
            runs.append(run(a.workload, s, secs))
            r = runs[-1]
            print("seed %d: %.1f s, correct=%s failed=%d drift=%+.3f %s" % (
                s, r["wall_s"], r["result"]["correct"], r["result"]["failed"],
                float(r["diag"]["drift"]),
                {k: round(v["value"], 3) for k, v in r["result"]["metrics"].items()}),
                flush=True)
        for name in bounds:
            med, iqr = spread([r["result"]["metrics"][name]["value"] for r in runs])
            report[name] = {"median": med, "iqr_share": iqr, "bound": bounds[name]}
        # warm-up drift must stay within the bound of the timing metric
        report["max_abs_drift"] = max(abs(float(r["diag"]["drift"])) for r in runs)
        report["drift_bound"] = bounds["triples_per_s"]
        report["max_wall_s"] = max(r["wall_s"] for r in runs)
        report["mean_wall_s"] = statistics.mean(r["wall_s"] for r in runs)
        report["failed_ops"] = sum(r["result"]["failed"] for r in runs)
    else:
        ratios = []
        for s in seeds(a.seeds):
            one, two = run(a.workload, s, secs), run(a.workload, s, secs, scale=2.0)
            runs += [one, two]
            t1 = statistics.median(one["diag"]["op_net_s"])
            t2 = statistics.median(two["diag"]["op_net_s"])
            ratios.append(t2 / t1)
            print("seed %d: median op %.3f s -> %.3f s at 2x input, ratio %.3f" % (
                s, t1, t2, t2 / t1), flush=True)
        report["ratios"] = ratios
        report["median_ratio"] = statistics.median(ratios)
    print(json.dumps(report, indent=1))
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"report": report, "runs": runs}, fh, indent=1)


if __name__ == "__main__":
    main()
