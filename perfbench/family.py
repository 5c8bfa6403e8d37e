#!/usr/bin/env python3
"""Profile a whole family and draw the timed subset from it.

    python3 perfbench/family.py --workload serve --size 10 [--seed 1]
    python3 perfbench/family.py --workload ingest --size 6 \
        --keep q253_store_zonemap,q256_store_time_travel,q258_store_sum_pushdown

Runs `run.py --workload <w>-family --trace 1` (every query of the family,
one pass per client, traced) and takes, per query, the median over the
clients of its latency, jobs, stages and tasks. The subset is drawn by
latency rank: the `--keep` queries are always in; the others are sorted
by median latency, cut into as many equal strata as places are left, and
the middle query of each stratum is taken. Writes
`perfbench/results/<w>_family_profile.json` with every query's profile,
the subset, and the quartiles of each measure over family and subset.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
MEASURES = ["wall_s", "jobs", "stages", "tasks"]


def profile(workload, seed):
    rec_path = os.path.join(BENCH, ".work", f"{workload}-family-{seed}.json")
    os.makedirs(os.path.dirname(rec_path), exist_ok=True)
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", f"{workload}-family",
           "--seed", str(seed), "--seconds", "1", "--trace", "1", "--record", rec_path]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"exit {r.returncode}\n{r.stderr[-2000:]}")
    with open(rec_path) as fh:
        rec = json.load(fh)
    os.remove(rec_path)
    per = {}
    for e in rec["trace"]["executions"]:
        lay = e["layers"]
        per.setdefault(e["query"], []).append({
            "wall_s": lay["query.wall_s"], "jobs": lay["scheduler.jobs"],
            "stages": lay["scheduler.stages"], "tasks": lay["scheduler.tasks"]})
    out = {q: {m: statistics.median(x[m] for x in xs) for m in MEASURES} for q, xs in per.items()}
    failed = json.loads(r.stdout.strip().splitlines()[-1])["failed"]
    return out, rec["stamp"], failed


def draw(prof, size, keep):
    rest = sorted((q for q in prof if q not in keep), key=lambda q: (prof[q]["wall_s"], q))
    k = size - len(keep)
    picked = [rest[(2 * i + 1) * len(rest) // (2 * k)] for i in range(k)]
    return list(keep) + picked


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return {"q1": q1, "median": q2, "q3": q3, "mean": statistics.fmean(xs)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--size", type=int, required=True)
    ap.add_argument("--keep", default="")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    keep = [q for q in args.keep.split(",") if q]
    prof, stamp, failed = profile(args.workload, args.seed)
    missing = [q for q in keep if q not in prof]
    if missing:
        sys.exit(f"not in the family: {missing}")
    subset = draw(prof, args.size, keep)
    summary = {m: {"family": quartiles([p[m] for p in prof.values()]),
                   "subset": quartiles([prof[q][m] for q in subset])} for m in MEASURES}
    result = {"workload": args.workload, "stamp": stamp, "failed": failed,
              "family_size": len(prof), "keep": keep, "subset": subset,
              "summary": summary, "queries": dict(sorted(prof.items()))}
    with open(os.path.join(BENCH, "results", f"{args.workload}_family_profile.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps({"subset": subset, "failed": failed}))
    for m, s in summary.items():
        print(m, " ".join(f"{side}: " + " ".join(f"{k}={v:.3g}" for k, v in d.items())
                          for side, d in s.items()))


if __name__ == "__main__":
    main()
