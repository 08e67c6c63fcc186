#!/usr/bin/env python3
"""The benchmark's own checks.

    python3 flowbench/selftest.py           # simulator checks (no Spark)
    python3 flowbench/selftest.py --smoke   # also a 1-second run of every
                                            # workload, untraced and traced

Simulator checks: the same seed gives identical datagrams and truth and
another seed different ones; every datagram decodes back to the
simulator's truth through NetFlowCodec.decode. The smoke runs check that
each run ends with a well-formed result line naming every metric of
BENCHMARK.json with its unit.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402


def smoke(workload, trace, bench):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "1", "--seconds", "1", "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        return f"exit {p.returncode}: {p.stderr[-1500:]}"
    last = json.loads(p.stdout.strip().splitlines()[-1])
    if set(last) != {"correct", "attempted", "failed", "metrics"}:
        return f"result keys {sorted(last)}"
    want = {m["name"]: m["unit"] for m in bench["end_to_end" if trace == 0 else "per_layer"]}
    got = {k: v["unit"] for k, v in last["metrics"].items()}
    if got != want:
        return f"metrics differ: missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}"
    if not last["correct"] or last["attempted"] < 1:
        return f"correct={last['correct']} attempted={last['attempted']}"
    return None


def main():
    classes, jars = build.ensure_built()
    failures = 0
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        try:
            run.jvm(classes, jars, tmp, ["selftest", "--run-dir", tmp], 300)
        except run.RunError as e:
            print(e)
            failures += 1
        log = os.path.join(tmp, "jvm.log")
        if os.path.exists(log):
            print("\n".join(l for l in open(log).read().splitlines() if l.startswith(("selftest", "  "))))
    if "--smoke" in sys.argv:
        bench = run.spec()
        for w in run.WORKLOADS:
            for trace in (0, 1):
                err = smoke(w, trace, bench)
                print(f"smoke {'ok  ' if err is None else 'FAIL'} {w} --trace {trace}"
                      + (f": {err}" if err else ""))
                failures += err is not None
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
