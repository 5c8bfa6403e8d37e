#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|ingest --seed N \
        --seconds S --trace 0|1 [--record PATH]

Builds the engine and the harness from source (once per source tree),
copies the fixed input tables (`perfbench/data/sf0.01`) into a scratch
directory, runs the workload in one JVM
(`perfbench.Main`), checks every workload query's full result against its
DuckDB oracle with `tools/verify_local.py`, and prints each metric with
its unit. The last stdout line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`, holding the end-to-end
metrics with `--trace 0` and the per-layer metrics with `--trace 1`.
`--record PATH` also writes the full record (stamps, per-execution
spans) as JSON. See NOTES.md for the metric definitions.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DATA = os.path.join(BENCH, "data", "sf0.01")  # the project's testdata at sf0.01
HEAP = "3g"          # JVM max heap
# The JVM is killed, and the oracle compare stopped, after this long.
# The whole-family workloads only profile; they are not timed runs.
RUN_TIMEOUT_S = {"serve": 140, "ingest": 140, "serve-family": 600, "ingest-family": 600}
CHECK_TIMEOUT_S = {"serve": 25, "ingest": 25, "serve-family": 150, "ingest-family": 150}
BUILD_TIMEOUT_S = 600
END_TO_END = ["setup_s", "wall_s", "throughput_qps", "query_gmean_s", "cpu_s", "heap_live_mb"]
UNITS = {"setup_s": "s", "wall_s": "s", "throughput_qps": "queries/s", "query_gmean_s": "s",
         "query_p50_s": "s", "query_p90_s": "s", "batch_p50_s": "s", "batch_p90_s": "s",
         "cpu_s": "s", "heap_peak_mb": "MB", "heap_live_mb": "MB", "failed_frac": "ratio"}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files) + [os.path.join(BENCH, "build.sbt"),
                            os.path.join(BENCH, "project", "build.properties")]


def build():
    """Compile engine + harness with sbt unless this source tree is built."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Registry.scala")):
        die(f"engine sources not found under {ROOT}/src; run from a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    bdir = os.path.join(BENCH, ".build")
    cp_file, stamp_file = os.path.join(bdir, "classpath"), os.path.join(bdir, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read(), stamp
    os.makedirs(bdir, exist_ok=True)
    # sbt is a launcher script: run it in its own process group so a
    # timeout stops the JVM it starts too.
    p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], cwd=BENCH, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        die("build timed out")
    cp = [l.strip() for l in out.splitlines() if l.startswith(os.path.join(BENCH, "target"))]
    if p.returncode != 0 or not cp:
        sys.stderr.write(out[-8000:])
        die("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1], stamp


def git_commit():
    """HEAD of the checkout, or None when the checkout is not a git work tree."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    out = r.stdout.split()
    if r.returncode != 0 or len(out) != 2 or os.path.realpath(out[0]) != os.path.realpath(ROOT):
        return None
    return out[1]


def run_jvm(cp, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cpus", str(args.cpus),
            "--data", os.path.join(work, "data"), "--out", os.path.join(work, "out")]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        launched = time.time()
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S[args.workload])
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"workload run exceeded {RUN_TIMEOUT_S[args.workload]}s")
    rec_path = os.path.join(work, "out", "record.json")
    if code != 0 or not os.path.isfile(rec_path):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"workload run failed (exit {code})")
    with open(rec_path) as fh:
        return json.load(fh), launched


def oracle_check(rec, work, timeout):
    """Compare each check-pass result with its DuckDB oracle; return failures."""
    out = os.path.join(work, "out", "check")
    with open(os.path.join(out, "oracle_sql.json"), "w") as fh:
        json.dump(rec["oracle"], fh)
    failed = {q: c["error"] for q, c in rec["check"].items() if c["error"]}
    oracled = sorted(q for q in rec["oracle"] if q not in failed)
    if oracled:
        res = os.path.join(work, "oracle.json")
        try:
            subprocess.run([sys.executable, os.path.join(ROOT, "tools", "verify_local.py"),
                            os.path.join(work, "data"), out, "--only", ",".join(oracled),
                            "--json", res], cwd=work, capture_output=True,
                           timeout=timeout)
        except subprocess.TimeoutExpired:
            pass  # every query without a verdict counts as failed below
        verdicts = json.load(open(res)) if os.path.isfile(res) else {}
        for q in oracled:
            v = verdicts.get(q)
            if not v or not v["hash_match"]:
                failed[q] = (v or {}).get("err") or "oracle mismatch"
    return failed


def output_digest(rec, work):
    """sha256 over every check-pass result, columns and rows sorted."""
    import pandas as pd
    h = hashlib.sha256()
    for q in sorted(rec["check"]):
        path = os.path.join(work, "out", "check", q)
        if not os.path.isdir(path):
            continue
        df = pd.read_parquet(path)
        df = df.reindex(sorted(df.columns), axis=1).astype(str)
        df = df.sort_values(list(df.columns)).reset_index(drop=True)
        h.update(q.encode())
        h.update(df.to_csv(index=False).encode())
    return h.hexdigest()


def data_digest():
    """sha256 over the input tables, so records on other inputs are told apart."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(DATA)):
        h.update(name.encode())
        with open(os.path.join(DATA, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def quantile(xs, q):
    """Nearest-rank quantile and the number of samples above it."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(round(q * len(s) + 0.5)) - 1))
    return s[k], len(s) - 1 - k


def metrics(rec, launched, oracle_failed):
    execs = rec["executions"]
    lat = [e["wall_s"] for e in execs]
    by_query = {}
    for e in execs:
        by_query.setdefault(e["query"], []).append(e["wall_s"])
    window_s = (rec["window_end_ms"] - rec["window_start_ms"]) / 1e3
    failed = sum(1 for e in execs if e["error"]) + len(oracle_failed)
    attempted = len(execs) + len(rec["check"])
    m = {
        "setup_s": rec["window_start_ms"] / 1e3 - launched,
        "wall_s": window_s,
        "throughput_qps": len(execs) / window_s,
        "query_gmean_s": statistics.geometric_mean(statistics.median(v) for v in by_query.values()),
        "query_p50_s": statistics.median(lat),
        "cpu_s": rec["cpu_s"],
        "heap_peak_mb": rec["heap_peak_mb"],
        "heap_live_mb": rec["heap_live_mb"],
        "failed_frac": failed / attempted,
    }
    p90, beyond = quantile(lat, 0.9)
    if beyond >= 10:
        m["query_p90_s"] = p90
    batches = [b / 1e3 for b in rec["batch_ms"]]
    if batches:
        m["batch_p50_s"] = statistics.median(batches)
        b90, bbeyond = quantile(batches, 0.9)
        if bbeyond >= 10:
            m["batch_p90_s"] = b90
    return m, attempted, failed, len(lat), len(batches)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(RUN_TIMEOUT_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="also write the full record as JSON to this path")
    args = ap.parse_args()
    args.cpus = len(os.sched_getaffinity(0))

    cp, source_hash = build()
    work = os.path.join(BENCH, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # The engine gets a copy, so nothing it does can change the inputs.
        shutil.copytree(DATA, os.path.join(work, "data"))
        rec, launched = run_jvm(cp, args, work)
        oracle_failed = oracle_check(rec, work, CHECK_TIMEOUT_S[args.workload])
        digest = output_digest(rec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    m, attempted, failed, n_lat, n_batch = metrics(rec, launched, oracle_failed)
    stamp = {
        "nproc": args.cpus, "master": rec["master"], "max_heap_mb": rec["max_heap_mb"],
        "spark_version": rec["spark_version"], "git_commit": git_commit(),
        "source_hash": source_hash, "seed": args.seed, "data_sha256": data_digest(),
        "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
        "query_list_sha256": hashlib.sha256(",".join(rec["queries"]).encode()).hexdigest(),
        "order_sha256": hashlib.sha256(json.dumps(rec["orders"]).encode()).hexdigest(),
    }
    print("stamp " + json.dumps(stamp, sort_keys=True))
    print(f"outputs sha256={digest}")
    print(f"samples executions={n_lat} batches={n_batch} clients={rec['clients']} "
          f"passes={len(rec['pass_s'])} queries={len(rec['queries'])}")
    for q, err in sorted(oracle_failed.items()):
        print(f"check FAIL {q}: {err}")
    for e in rec["executions"]:
        if e["error"]:
            print(f"exec FAIL {e['query']} (client {e['client']}, pass {e['pass']}): {e['error']}")
    for q, c in sorted(rec["check"].items()):
        print(f"check {q} {c['wall_s']:.3f} s rows={c['rows']}")
    for k, v in m.items():
        print(f"{k} {v:.6g} {UNITS[k]}")
    layers = (rec["trace"] or {}).get("layers", [])
    if layers:
        layers.append(["run.wall_s", "s", m["wall_s"]])
    for name, unit, v in layers:
        print(f"{name} {v:.6g} {unit}")

    if args.trace:
        out = {name: {"value": v, "unit": unit} for name, unit, v in layers}
    else:
        out = {k: {"value": m[k], "unit": UNITS[k]} for k in END_TO_END}
    if args.record:
        with open(args.record, "w") as fh:
            json.dump({"stamp": stamp, "outputs_sha256": digest, "metrics": m,
                       "attempted": attempted, "failed": failed, "check": rec["check"],
                       "check_failures": oracle_failed, "pass_s": rec["pass_s"],
                       "executions": rec["executions"], "trace": rec["trace"]}, fh, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
