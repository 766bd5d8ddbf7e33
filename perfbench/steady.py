#!/usr/bin/env python3
"""Run-to-run spread of the benchmark: runs one workload once per seed and
prints, per metric, the median and the quartile spread (q3 - q1) / median
next to the metric's bound from BENCHMARK.json.

  python3 perfbench/steady.py --workload etl_cycle --seeds 1-10
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not line.startswith("{"):
            sys.exit(f"seed {seed}: run failed with code {proc.returncode}")
        res = json.loads(line)
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, xs in values.items():
        spread = stats.quartile_spread(xs) if len(xs) >= 2 else float("nan")
        bound = bounds.get(k)
        print(f"{k:<26} median {stats.median(xs):12.4f}  spread {spread:7.4f}"
              + (f"  bound {bound}" if bound is not None else ""))


if __name__ == "__main__":
    main()
