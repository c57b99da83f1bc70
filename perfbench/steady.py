#!/usr/bin/env python3
"""Steadiness check and rate sweep for the benchmark.

    python3 perfbench/steady.py --runs 10 --seed0 1000 --out perfbench/results/steady_a.json
    python3 perfbench/steady.py --sweep 100,200,400,800 --seed0 500 \
        --out perfbench/results/rate_sweep.json
    python3 perfbench/steady.py --traced 3 --seed0 1000 \
        --against perfbench/results/steady_a.json --out perfbench/results/traced.json

The first form runs every workload of BENCHMARK.json `--runs` times, each
with its own seed, and reports for each end-to-end metric the median, the
quartiles (`statistics.quantiles(values, n=4)`) and the spread
(q3 - q1) / median next to the metric's bound, plus each run's host-noise
probe. The second form runs `cdc_stream` traced once per rate and records
lag and backlog growth at each rate. The third runs every workload traced
and reports each per-layer metric's median, and the tracing overhead: the
traced end-to-end result against the untraced median of `--against`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace=0, rate=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if rate:
        cmd += ["--rate", str(rate)]
    t0 = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    notes = {}
    for l in lines:
        parts = l.split()
        if l.startswith("# ") and len(parts) >= 3:
            notes[parts[1]] = parts[2]
    res["wall_s"] = round(time.time() - t0, 1)
    res["noise_probe_s"] = notes.get("noise_probe_s")
    res["checks"] = [l[8:] for l in lines if l.startswith("# check ")]
    res["seed"] = seed
    return res


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--sweep", default=None, help="comma-separated stream rates")
    ap.add_argument("--traced", type=int, default=0, help="traced runs per workload")
    ap.add_argument("--against", default=None, help="untraced results to compare with")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = bench["run_seconds"]
    out = {"run_seconds": seconds, "started": time.strftime("%Y-%m-%dT%H:%M:%S")}
    if a.sweep:
        out["sweep"] = []
        for i, rate in enumerate(int(r) for r in a.sweep.split(",")):
            r = run("cdc_stream", a.seed0 + i, seconds, trace=1, rate=rate)
            m = {k: v["value"] for k, v in r["metrics"].items()}
            row = {"rate": rate, "seed": r["seed"], "correct": r["correct"],
                   "failed": r["failed"], "attempted": r["attempted"]}
            row.update({k: m[k] for k in sorted(m) if k.startswith("e2e.")
                        or k.startswith("streaming.") and (k.endswith("batch_p50_ms")
                                                           or "lag" in k)})
            print(json.dumps(row), flush=True)
            out["sweep"].append(row)
    elif a.traced:
        names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
        base = json.load(open(a.against))["workloads"] if a.against else {}
        out["workloads"] = {}
        for w in names:
            runs = [run(w, a.seed0 + i, seconds, trace=1) for i in range(a.traced)]
            layers = {k: statistics.median(r["metrics"][k]["value"] for r in runs)
                      for k in runs[0]["metrics"]}
            overhead = {}
            for k in ("ops_per_s", "latency_p50_ms"):
                if w in base:
                    untraced = base[w]["metrics"][k]["median"]
                    overhead[k] = {"untraced_median": untraced,
                                   "traced_median": layers["e2e." + k],
                                   "change": layers["e2e." + k] / untraced - 1}
            out["workloads"][w] = {"per_layer_median": layers, "tracing_overhead": overhead,
                                   "runs": runs}
            print(w, json.dumps(overhead), flush=True)
    else:
        names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
        bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
        out["workloads"] = {}
        for w in names:
            runs = []
            for i in range(a.runs):
                r = run(w, a.seed0 + i, seconds)
                print(w, r["seed"], r["correct"], r["failed"], r["attempted"], r["wall_s"],
                      {k: round(v["value"], 1) for k, v in r["metrics"].items()}, flush=True)
                runs.append(r)
            metrics = {}
            for k in bounds:
                vals = [r["metrics"][k]["value"] for r in runs]
                s = summary(vals)
                s["bound"] = bounds[k]
                s["within_bound"] = s["spread"] is not None and s["spread"] <= bounds[k]
                s["values"] = vals
                metrics[k] = s
            out["workloads"][w] = {"metrics": metrics, "runs": runs}
            for k, s in metrics.items():
                print(f"{w} {k}: median {s['median']:.4g} spread {s['spread']:.4f} "
                      f"bound {s['bound']}", flush=True)
    out["finished"] = time.strftime("%Y-%m-%dT%H:%M:%S")
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
