#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. Builds the program and the benchmark
(perfbench/build.py) when stale, runs one workload in one JVM and prints
one JSON object as the last line of standard output:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (see README.md).

Every file a run writes stays under the build directory
(`$CARGO_TARGET_DIR`, else `.bench_build`): the build, one work directory
per run (removed when the run ends), and a report per run in
`reports/` with the diagnostics, warm-up curves and, when traced, the
spans.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("cdc_drain", "cdc_paced", "event_log")
JVM_TIMEOUT_S = 170
QUERY_DATA = os.path.join(HERE, "data", "sf0.01")
ORACLE = os.path.join(HERE, "data", "oracle_sf0.01.json")

def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")


def jvm(cp, main, args, out_dir, log_dir, tag, timeout=JVM_TIMEOUT_S):
    """Runs one JVM to completion; returns its last stdout line or None."""
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Djava.io.tmpdir={tmp}"] + build.jvm_opts(build.build_dir())
           + ["-cp", cp, main] + args)
    os.makedirs(log_dir, exist_ok=True)
    err_path = os.path.join(log_dir, f"{tag}.stderr.log")
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, cwd=out_dir,
                             text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log(f"{tag}: JVM exceeded {timeout} s and was stopped")
            return None
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        with open(err_path) as fh:
            sys.stderr.write(fh.read()[-3000:])
        log(f"{tag}: JVM exited with {p.returncode}")
        return None
    return lines[-1]


def row_hash(df):
    """The repository's oracle fingerprint (tools/check.py): columns sorted
    by name, cells stringified, md5 over the joined rows."""
    import numpy as np
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return "<null>"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, bytes):
            return v.hex()
        if isinstance(v, (list, np.ndarray)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)
    rows = ["|".join(cell(v) for v in row)
            for row in df.itertuples(index=False, name=None)]
    return hashlib.md5("\n".join(rows).encode()).hexdigest(), len(rows)


def check_queries(out_dir):
    """Fingerprints of the query outputs against the recorded oracle's."""
    import pandas as pd
    with open(ORACLE) as fh:
        oracle = json.load(fh)["queries"]
    failures = []
    for name, want in sorted(oracle.items()):
        path = os.path.join(out_dir, name)
        try:
            got, n = row_hash(pd.read_parquet(path))
        except Exception as e:  # missing or unreadable output
            failures.append(f"{name}: {e}")
            continue
        if got != want["md5"] or n != want["rows"]:
            failures.append(f"{name}: md5 {got} rows {n}, oracle {want['md5']} rows {want['rows']}")
    return len(oracle), failures


def one_run(cp, args, trace, bdir):
    tag = f"{args.workload}-s{args.seed}-t{trace}"
    work = os.path.join(bdir, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    report = os.path.join(bdir, "reports", tag + ".json")
    os.makedirs(os.path.dirname(report), exist_ok=True)
    jargs = ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(trace),
             "--work", work, "--report", report, "--data", QUERY_DATA]
    line = jvm(cp, "graftbench.Main", jargs, work, os.path.dirname(report), tag)
    if line is None:
        return None
    result = json.loads(line)
    with open(report) as fh:
        full = json.load(fh)
    query_out = os.path.join(work, "query_out")
    if os.path.isdir(query_out):
        n, failures = check_queries(query_out)
        result["attempted"] += n
        result["failed"] += len(failures)
        full["query_check"] = failures
        if failures:
            result["correct"] = False
            log("query fingerprints: " + "; ".join(failures))
    full["result"] = result
    with open(report, "w") as fh:
        json.dump(full, fh)
    shutil.rmtree(work, ignore_errors=True)
    return result, full


def with_all_layers(result):
    """A layer the workload does not exercise did no work: it reports 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        per_layer = json.load(fh)["per_layer"]
    for m in per_layer:
        result["metrics"].setdefault(m["name"], {"value": 0.0, "unit": m["unit"]})
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and args.workload is None:
        ap.error("--workload is required")
    try:
        cp = build.build()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    bdir = build.build_dir()
    if args.selftest:
        os.makedirs(os.path.join(bdir, "work"), exist_ok=True)
        rc = subprocess.run(["java", "-cp", cp, "graftbench.SelfTest"],
                            cwd=os.path.join(bdir, "work")).returncode
        return rc
    run = one_run(cp, args, args.trace, bdir)
    if run is None:
        return 1
    result = with_all_layers(run[0]) if args.trace else run[0]
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
