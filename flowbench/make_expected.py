#!/usr/bin/env python3
"""Regenerate flowbench/expected/query_mix.json, the reference fingerprints
the query_mix check compares against.

    python3 flowbench/make_expected.py RUN_DIR [RUN_DIR ...]

Each RUN_DIR is a query_mix run kept with `run.py --keep` (its results/
holds every first-pass result). Each query gets the fingerprint of its
DuckDB oracle SQL (SparkEntry.oracleSql) on the same tables; the script
also reports whether the kept Spark results agree with it. A query of the
mix without an oracle is an error.
"""
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import fingerprint  # noqa: E402
import run  # noqa: E402


def oracle_sql(classes, jars):
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        out = os.path.join(tmp, "oracle.json")
        run.jvm(classes, jars, tmp, ["oracle-sql", "--sf-dir", run.sf_dir(), "--out", out], 300)
        with open(out) as f:
            return json.load(f)


def main():
    runs = sys.argv[1:]
    if not runs:
        sys.exit(__doc__)
    classes, jars = build.ensure_built()
    sql = oracle_sql(classes, jars)
    names = sorted(os.listdir(os.path.join(runs[0], "results")))
    queries = {}
    for name in names:
        if name not in sql:
            sys.exit(f"{name}: no DuckDB oracle SQL")
        spark = [fingerprint.of_parquet(os.path.join(r, "results", name)) for r in runs]
        want = fingerprint.of_duckdb(sql[name])
        agree = all(s == want for s in spark)
        print(f"{name}: duckdb {want}, spark {'agrees' if agree else spark}")
        queries[name] = dict(want, source="duckdb")
    path = os.path.join(HERE, "expected", "query_mix.json")
    with open(path, "w") as f:
        json.dump({"tables": "sf0.1", "queries": queries}, f, indent=2, sort_keys=True)
        f.write("\n")
    print(f"wrote {os.path.relpath(path)}")


if __name__ == "__main__":
    main()
