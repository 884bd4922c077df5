#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 benchmark/spread.py --workload crawl_table --seeds 1-10 [--trace 0]

Runs the benchmark once per seed (run_seconds from BENCHMARK.json) and prints,
per metric, the median, the quartile distance as a share of the median
(statistics.quantiles, n=4) and the metric's bound. Each run's result line is
appended to .bench_build/spread.jsonl.
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


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    values, walls = {}, []
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    for seed in seeds(args.seeds):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        if out.returncode != 0:
            sys.exit(f"seed {seed}: exit {out.returncode}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        with open(os.path.join(ROOT, ".bench_build", "spread.jsonl"), "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": seed, "result": res}) + "\n")
        print(f"seed {seed}: {walls[-1]:.1f} s correct={res['correct']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for k, xs in values.items():
        med = statistics.median(xs)
        if len(xs) >= 2 and med:
            q = statistics.quantiles(xs, n=4)
            print(f"{k:32s} median {med:.5g}  spread {(q[2] - q[0]) / med:.4f}  bound {bounds.get(k)}")


if __name__ == "__main__":
    main()
