#!/usr/bin/env python3
"""Run one workload of the benchmark under several seeds and report, per
metric, the median and the spread (quartile distance over median) of the
per-run values, as BENCHMARK.json's bounds are checked against them.

Run from the root of a checkout:

    python3 perfbench/spread.py --workload online_serving --seeds 1-10 [--trace 0]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, walls = {}, []
    for s in seeds(a.seeds):
        t = time.time()
        p = subprocess.run(bench["command"] + [
            "--workload", a.workload, "--seed", str(s),
            "--seconds", str(bench["run_seconds"]), "--trace", a.trace],
            cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.exit(f"seed {s}: exit {p.returncode}\n{p.stderr[-3000:]}")
        r = json.loads(lines[-1])
        print(f"seed {s}: {walls[-1]:.0f}s correct={r['correct']} "
              f"attempted={r['attempted']} failed={r['failed']} " +
              " ".join(f"{k}={v['value']:.6g}" for k, v in r["metrics"].items()),
              flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"wall per run: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        b = bounds.get(k)
        note = "" if b is None else f" bound {b} ({spread / b:.2f} of it)"
        print(f"{k}: median {med:.6g} spread {spread:.4f}{note}")


if __name__ == "__main__":
    main()
