#!/usr/bin/env python3
"""Record a timed and a traced run of every workload on one seed.

    python3 perfbench/record.py --seed 7 [--out perfbench/results]

Writes `<workload>_timing.json` (--trace 0) and `<workload>_trace.json`
(--trace 1, per-execution layers and spans) via `run.py --record`, and
`summary.json` with, per workload, the end-to-end metrics, the per-layer
totals, how they reconcile with `wall_s`, and the tracing overhead
(traced minus untraced `wall_s`). Reconciliation: clients × the traced
window = the executions' wall time + the clients' time between
executions; the executions' wall time = the five layer self times, of
which `query.self_s` is the unattributed remainder.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SELF_TIMES = ["executor.active_s", "scheduler.self_s", "driver.plan_self_s",
              "query.build_self_s", "query.self_s"]


def run(spec, workload, seed, trace, record):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed), "--seconds",
                             str(spec["run_seconds"]), "--trace", str(trace), "--record", record]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload} trace={trace}: exit {r.returncode}\n{r.stderr[-2000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", default=os.path.join("perfbench", "results"))
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    out = os.path.join(ROOT, args.out)
    os.makedirs(out, exist_ok=True)
    summary = {}
    for w in (x["name"] for x in spec["workloads"]):
        timing_path = os.path.join(out, f"{w}_timing.json")
        trace_path = os.path.join(out, f"{w}_trace.json")
        untraced = run(spec, w, args.seed, 0, timing_path)
        traced = run(spec, w, args.seed, 1, trace_path)
        layers = {k: v["value"] for k, v in traced["metrics"].items()}
        with open(trace_path) as fh:
            clients = len({e["client"] for e in json.load(fh)["executions"]})
        wall = layers["query.wall_s"]
        parts = {k: layers[k] for k in SELF_TIMES}
        base = untraced["metrics"]["wall_s"]["value"]
        summary[w] = {
            "seed": args.seed,
            "correct": untraced["correct"] and traced["correct"],
            "end_to_end": {k: v["value"] for k, v in untraced["metrics"].items()},
            "layers": layers,
            "reconcile": {
                "clients": clients,
                "client_time_s": clients * layers["run.wall_s"],
                "between_executions_s": clients * layers["run.wall_s"] - wall,
                "executions_wall_s": wall,
                "self_times_s": parts,
                "sum_self_times_s": sum(parts.values()),
                "unattributed_s": parts["query.self_s"],
                "unattributed_share": parts["query.self_s"] / wall if wall else None,
            },
            "tracing_overhead": {
                "untraced_wall_s": base,
                "traced_wall_s": layers["run.wall_s"],
                "overhead_s": layers["run.wall_s"] - base,
                "overhead_share": (layers["run.wall_s"] - base) / base,
            },
        }
        print(json.dumps({w: summary[w]["reconcile"] | summary[w]["tracing_overhead"]}), flush=True)
    with open(os.path.join(out, "summary.json"), "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
