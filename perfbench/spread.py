#!/usr/bin/env python3
"""Run one workload on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload serve --seeds 1-10 [--seconds 10] [--trace 0]

For every metric of the last-line JSON it prints the median and the
distance between the first and third quartile (statistics.quantiles,
n=4) as a share of the median, next to the bound in BENCHMARK.json, and
how many distinct output digests the seeds gave: the seed only orders the
queries, so every seed must give the same outputs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    secs = str(args.seconds or spec["run_seconds"])
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values = {}
    digests = set()
    for s in seeds(args.seeds):
        r = subprocess.run(spec["command"] + ["--workload", args.workload, "--seed", str(s),
                                              "--seconds", secs, "--trace", args.trace],
                           cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {s}: exit {r.returncode}\n{r.stderr[-2000:]}")
        lines = r.stdout.strip().splitlines()
        digests.update(l.split("=", 1)[1] for l in lines if l.startswith("outputs sha256="))
        last = json.loads(lines[-1])
        print(f"seed {s}: correct={last['correct']} attempted={last['attempted']} "
              f"failed={last['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()), flush=True)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            iqr = f"{(q3 - q1) / med:.3f}"
        else:
            iqr = "n/a"
        print(f"{k}: median={med:.4g} iqr/median={iqr} bound={bounds.get(k)}")
    print(f"distinct output digests: {len(digests)} {sorted(d[:12] for d in digests)}")


if __name__ == "__main__":
    main()
