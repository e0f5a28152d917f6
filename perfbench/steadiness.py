#!/usr/bin/env python3
"""Steadiness check: is the benchmark steady enough to gate a PR?

    python3 perfbench/steadiness.py [--runs 10] [--out FILE]

Runs every workload of BENCHMARK.json repeatedly on the current tree, in
two sets of --runs runs with distinct seeds, each run as
`BENCHMARK.json`'s command (`run.py --workload W --seed N --seconds S
--trace 0`).  For each end-to-end metric it reports per set the median,
the quartiles
(statistics.quantiles, n=4) and the spread (Q3 - Q1) / median, and
whether the second set's median is within the metric's bound of the
first; a metric is steady when both spreads are within its bound and the
medians agree within it.  It then makes TRACED_RUNS runs per workload
with --trace 1 and reports the tracing overhead: the traced runs'
`wall_s`, recomputed from their records, against the untraced `wall_s`.
It also reports how long each run took, and what the gate's
4 + 22 x (workloads) runs would take at the median and the slowest of
them.  Writes the whole report as JSON to --out and a table to stdout.
"""
import argparse
import datetime
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
from run import WARMUP  # noqa: E402

TRACED_RUNS = 2


def one_run(cmd, workload, seed, seconds, trace):
    t = time.monotonic()
    p = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    result = json.loads(lines[-1])
    result["elapsed_s"] = time.monotonic() - t
    record = next((l.split(": ", 1)[1] for l in lines if l.startswith("record: ")), None)
    return result, record


def stats(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"), "values": values}


def wall_s(record_path):
    """`wall_s` recomputed from a run record (for traced runs)."""
    with open(os.path.join(ROOT, record_path)) as fh:
        rec = json.load(fh)
    units = {}
    for op in rec["ops"]:
        if op["unit"] >= WARMUP[rec["workload"]]:
            units.setdefault(op["unit"], []).append(op)
    walls = [sum(o["wall_ms"] for o in ops) / 1000.0 for ops in units.values()
             if all(o["ok"] for o in ops)]
    return statistics.median(walls)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    report = {"time": datetime.datetime.now(datetime.timezone.utc).isoformat(),
              "commit": subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                       capture_output=True, text=True).stdout.strip(),
              "runs_per_set": args.runs, "workloads": {}}
    for w in names:
        sets, failures, elapsed = [], 0, []
        for s in range(2):
            vals = {m: [] for m in bounds}
            for i in range(args.runs):
                seed = 1000 * s + i + 1
                result, _ = one_run(bench["command"], w, seed, bench["run_seconds"], 0)
                failures += result["failed"] + (not result["correct"])
                elapsed.append(result["elapsed_s"])
                for m in bounds:
                    vals[m].append(result["metrics"][m]["value"])
                print(f"[steadiness] {w} set {s + 1} seed {seed}: " + " ".join(
                    f"{m}={v[-1]:.4g}" for m, v in vals.items()) +
                    f" ({elapsed[-1]:.0f} s)", file=sys.stderr, flush=True)
            sets.append({m: stats(v) for m, v in vals.items()})
        verdict = {}
        for m, spec in bounds.items():
            a, b = sets[0][m]["median"], sets[1][m]["median"]
            worse = (b - a) / a if spec["better"] == "lower" else (a - b) / a
            verdict[m] = {
                "bound": spec["bound"],
                "spread_ok": all(x[m]["spread"] <= spec["bound"] for x in sets),
                "spread_under_third": all(x[m]["spread"] <= spec["bound"] / 3 for x in sets),
                "second_vs_first": worse,
                "agree": worse <= spec["bound"],
            }
        traced = [one_run(bench["command"], w, 5000 + i, bench["run_seconds"], 1)
                  for i in range(TRACED_RUNS)]
        traced_wall = statistics.median(wall_s(r) for _, r in traced)
        untraced_wall = statistics.median(sets[0]["wall_s"]["values"] + sets[1]["wall_s"]["values"])
        report["workloads"][w] = {
            "sets": sets, "verdict": verdict, "failures": failures,
            "run_s": {"median": statistics.median(elapsed), "max": max(elapsed)},
            "traced": {"runs": [r for _, r in traced], "wall_s": traced_wall,
                       "overhead": traced_wall / untraced_wall - 1,
                       "per_layer": {k: v["value"] for k, v in traced[0][0]["metrics"].items()}},
        }
        print(f"\n{w}: failures={failures}  tracing overhead "
              f"{100 * (traced_wall / untraced_wall - 1):+.1f}% of wall_s  run time "
              f"median {statistics.median(elapsed):.0f} s, max {max(elapsed):.0f} s")
        print(f"{'metric':18} {'bound':>6} {'med1':>10} {'spread1':>8} {'med2':>10} "
              f"{'spread2':>8} {'2nd-vs-1st':>10}  ok")
        for m, v in verdict.items():
            a, b = sets[0][m], sets[1][m]
            ok = v["spread_ok"] and v["agree"]
            print(f"{m:18} {v['bound']:6.2f} {a['median']:10.4g} {a['spread']:8.3f} "
                  f"{b['median']:10.4g} {b['spread']:8.3f} {v['second_vs_first']:+10.3f}  "
                  f"{'yes' if ok else 'NO'}")
    runs = 4 + 22 * len(names)
    for k in ("median", "max"):
        per_run = statistics.mean(r["run_s"][k] for r in report["workloads"].values())
        report[f"gate_runs_s_at_{k}"] = runs * per_run
        print(f"gate: {runs} runs at the {k} run time: {runs * per_run:.0f} s")
    report["steady"] = all(v["spread_ok"] and v["agree"] and r["failures"] == 0
                           for r in report["workloads"].values() for v in r["verdict"].values())
    print(f"\nsteady: {report['steady']}")
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
