#!/usr/bin/env python3
"""Run one workload several times, one seed per run, and print each metric's
median, quartiles and spread (interquartile range over the median) against
its bound in BENCHMARK.json.

    python3 perfbench/repeat.py --workload olap_serve --runs 10

Run from the root of a checkout. Spread is what the bounds are checked
against: a metric is "steady" when its spread is under a third of its bound.
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


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    results = []
    for i in range(a.runs):
        seed = 1 + i
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(p.stderr[-2000:], file=sys.stderr)
            raise SystemExit(f"run with seed {seed} failed (exit {p.returncode})")
        r = json.loads(lines[-1])
        results.append(r)
        steal = [ln.split(": ")[-1] for ln in p.stderr.splitlines() if "steal" in ln]
        print(f"seed {seed}: {time.time() - t0:.0f} s, steal={''.join(steal)} "
              f"correct={r['correct']} "
              f"attempted={r['attempted']} "
              f"failed={r['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
              flush=True)
    summary = {}
    print(f"\n{a.workload}: {a.runs} runs, {seconds:g} s each")
    print(f"{'metric':<24}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / q2 if q2 else float("inf")
        bound = bounds.get(name, {}).get("bound")
        verdict = "" if bound is None else (
            "steady" if spread < bound / 3 else "within" if spread <= bound else "WIDE")
        print(f"{name:<24}{q2:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>9.3f}"
              f"{bound if bound is not None else '':>8} {verdict}")
        summary[name] = {"median": q2, "q1": q1, "q3": q3, "spread": spread,
                         "bound": bound}
    shares = sorted({r["failed"] / r["attempted"] for r in results})
    print(f"failed share per run: {shares}; all correct: "
          f"{all(r['correct'] for r in results)}")
    print(json.dumps({"workload": a.workload, "runs": a.runs, "seconds": seconds,
                      "metrics": summary, "failed_shares": shares}))


if __name__ == "__main__":
    main()
