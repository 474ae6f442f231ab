#!/usr/bin/env python3
"""Produce the expected output digests in `expected/` and cross-check them.

Runs every entry of every workload once, writes each output as parquet
with its digest, and compares each output with the entry's DuckDB oracle
(`graft.SparkEntry.oracleSql`) under the canonicalisation rules of
`tools/compare.py`. The digests are written only if every output with an
oracle matches it; an entry without an oracle is listed and kept.

Usage, from the root of a checkout:  python3 perfbench/make_expected.py
"""
import json
import os
import shutil
import sys
import time

import duckdb

import run

sys.path.insert(0, os.path.join(run.ROOT, "tools"))
import compare  # noqa: E402  (canon and cell_eq of the oracle gate)


def same(got, exp):
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows vs {len(exp)}"
    gv, ev = got.values.tolist(), exp.values.tolist()
    bad = [(i, j) for i in range(len(gv)) for j in range(len(got.columns))
           if not compare.cell_eq(gv[i][j], ev[i][j])]
    return f"{len(bad)} cell mismatches" if bad else None


def main():
    jars = run.spark_jars()
    classes, _ = run.build(jars)
    run.check_inputs()
    os.makedirs(os.path.join(run.BUILD, "out"), exist_ok=True)
    dump = os.path.join(run.BUILD, "dump")
    shutil.rmtree(dump, ignore_errors=True)
    con = duckdb.connect()
    for t in run.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(run.DATA, t)}.parquet'")
    digests, failures, unchecked = {}, [], []
    for w, entries in run.WORKLOADS.items():
        res = run.jvm(jars, classes, [
            "--workload", w, "--seed", "0", "--seconds", "0", "--trace", "0",
            "--data", run.DATA, "--entries", ",".join(entries),
            "--dump", dump], time.monotonic() + 900, f"dump-{w}")
        for name, r in sorted(res.items()):
            digests[name] = r["digest"]
            if r["oracle"] is None:
                unchecked.append(name)
                continue
            got = compare.canon(con.sql(
                f"SELECT * FROM '{dump}/{name}/*.parquet'").df())
            exp = compare.canon(con.sql(r["oracle"]).df())
            why = same(got, exp)
            print(f"{'FAIL' if why else 'PASS'} {name} ({len(got)} rows)"
                  + (f": {why}" if why else ""), flush=True)
            if why:
                failures.append(name)
    if unchecked:
        print(f"no oracle: {', '.join(unchecked)}")
    if failures:
        sys.exit(f"{len(failures)} outputs differ from their oracle; "
                 f"expected digests not written")
    os.makedirs(os.path.dirname(run.EXPECTED), exist_ok=True)
    with open(run.EXPECTED, "w") as fh:
        json.dump(digests, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(digests)} digests to {run.EXPECTED}")


if __name__ == "__main__":
    main()
