#!/usr/bin/env python3
"""flowbench: graft's end-to-end benchmark.

    python3 flowbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see flowbench/README.md): ingest_parquet, ingest_fanout,
query_mix. The run builds the engine and the benchmark from source when
needed (flowbench/build.py), runs one benchmark JVM, checks every output
against its reference, and prints, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics; a traced run also writes its spans to flowbench/.runs/.

query_mix reads the sf0.1 tables (TESTDATA.md) from $FLOWBENCH_SF_DIR,
by default ~/testdata/sf0.1.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("ingest_parquet", "ingest_fanout", "query_mix")
# Per-layer metrics are named after their layer. A traced run reports 0
# for the metrics of the layers its workload does not run, and only for
# those: any other metric missing from the run's result is an error.
NOT_RUN = {
    "ingest_parquet": ("query.", "stage."),
    "ingest_fanout": ("query.", "stage."),
    "query_mix": ("source.", "decode.", "stream.", "sink.", "app."),
}
RUN_LIMIT_S = 170  # the whole run, build excluded
EXPECTED = os.path.join(HERE, "expected", "query_mix.json")
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class RunError(Exception):
    pass


def sf_dir():
    return os.environ.get("FLOWBENCH_SF_DIR") or os.path.expanduser("~/testdata/sf0.1")


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        raise RunError("BENCHMARK.json not found")
    with open(path) as f:
        return json.load(f)


def jvm(classes, jars, run_dir, args, timeout):
    """Run graftbench.Main in its own process group; kill the group on
    timeout and wait for it either way."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap and young generation keep the resident high-water mark
    # from following G1's adaptive heap and young sizing from run to run.
    cmd = [build.java(), "-Xms4g", "-Xmx4g", "-Xmn768m", "-Xss8m", *JVM_OPENS,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={run_dir}",
           f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
           "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
           "graftbench.Main", *args]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RunError(f"benchmark JVM did not finish in {timeout:.0f} s")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RunError(f"benchmark JVM exited with {code}:\n{tail}")


def check_queries(result, run_dir):
    """Fingerprint each first-pass result against the expected file."""
    import fingerprint
    with open(EXPECTED) as f:
        expected = json.load(f)["queries"]
    failed = 0
    wrong = False
    for name in sorted(result["detail"]["first_pass_ms"]):
        path = os.path.join(run_dir, "results", name)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            continue  # the first pass threw; already counted as failed
        exp = expected.get(name)
        if exp is None:
            failed += 1
            wrong = True
            result["problems"].append(f"{name}: no expected fingerprint")
            continue
        got = fingerprint.of_parquet(path)
        want = {"rows": exp["rows"], "hash": exp["hash"]}
        if got != want:
            failed += 1
            wrong = True
            result["problems"].append(f"{name}: result {got} differs from expected {want}")
    result["failed"] += failed
    result["correct"] = result["correct"] and not wrong
    result["metrics"]["success_ratio"] = 1.0 - result["failed"] / result["attempted"]
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    args = ap.parse_args()

    bench = spec()
    classes, jars = build.ensure_built()
    if args.workload == "query_mix" and not os.path.isdir(sf_dir()):
        raise RunError(f"sf0.1 tables not found at {sf_dir()} (set FLOWBENCH_SF_DIR)")
    runs = os.path.join(HERE, ".runs")
    run_dir = os.path.join(runs, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    started = time.time()
    try:
        jvm(classes, jars, run_dir, [
            "run", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", run_dir, "--sf-dir", sf_dir(),
            "--launch-ms", str(int(started * 1000))], RUN_LIMIT_S)
        with open(os.path.join(run_dir, "result.json")) as f:
            result = json.load(f)
        if args.workload == "query_mix":
            result = check_queries(result, run_dir)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            kept = os.path.join(runs, f"spans-{args.workload}-s{args.seed}.jsonl")
            shutil.move(spans, kept)
            print(f"spans: {result['spans']} written to {os.path.relpath(kept, ROOT)}")
    finally:
        if not args.keep:
            shutil.rmtree(run_dir, ignore_errors=True)

    for p in result["problems"]:
        print(f"problem: {p}")
    for k, v in sorted(result["detail"].items()):
        print(f"detail: {k} = {json.dumps(v, sort_keys=True)}")
    wanted = bench["end_to_end"] if args.trace == 0 else bench["per_layer"]
    metrics = {}
    for m in wanted:
        v = result["metrics"].get(m["name"])
        if v is None and args.trace == 1 and m["name"].startswith(NOT_RUN[args.workload]):
            v = 0.0
        if v is None or not math.isfinite(v):
            raise RunError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"metric: {m['name']} = {v:.6g} {m['unit']}")
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except (RunError, build.BuildError) as e:
        print(f"flowbench: {e}", file=sys.stderr)
        sys.exit(1)
