#!/usr/bin/env python3
"""Steadiness of the benchmark: runs each workload n times, each with another
seed, and prints every metric's median, quartiles and quartile spread (as a
share of the median) next to its bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--workloads tile-kernels,...] [--trace 0]

The quartiles are statistics.quantiles(values, n=4), the spread is
(q3 - q1) / median. The summary is also written to perfbench/.state/.
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


def one_run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr)
        raise SystemExit(f"run failed: {workload} seed {seed} (exit {p.returncode})")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["elapsed_s"] = time.time() - t0
    return res


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    summary = {}
    for w in a.workloads.split(","):
        runs = []
        for i in range(a.runs):
            r = one_run(w, a.seed0 + i, a.seconds, a.trace)
            runs.append(r)
            print(f"{w} seed {a.seed0 + i}: {r['elapsed_s']:.1f}s attempted {r['attempted']} "
                  f"failed {r['failed']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        rows = {}
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            rows[name] = {"median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med if med else 0.0,
                          "bound": bounds.get(name), "unit": runs[0]["metrics"][name]["unit"]}
        shares = sorted({r["failed"] / r["attempted"] for r in runs})
        summary[w] = {"metrics": rows, "failed_shares": shares,
                      "elapsed_s": [r["elapsed_s"] for r in runs]}
        print(f"== {w}: failed share {shares}, run time median "
              f"{statistics.median(summary[w]['elapsed_s']):.1f}s")
        for name, m in rows.items():
            b = f"  bound {m['bound']}" if m["bound"] is not None else ""
            print(f"  {name:<34} median {m['median']:.5g} {m['unit']}  q1 {m['q1']:.5g}  "
                  f"q3 {m['q3']:.5g}  spread {m['spread']:.3f}{b}")
    out = os.path.join(HERE, ".state", time.strftime("steady-%Y%m%dT%H%M%S.json"))
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
