#!/usr/bin/env python3
"""One-off cross-check of the benchmark's expected fingerprints against DuckDB.

    python3 perfbench/crosscheck.py

Run from the root of a checkout. For every declared query the benchmark
runs (the reference queries of `reference_etl` and the queries of
`ext_curate`), it dumps the Spark output as parquet together with its
fingerprint, runs the query's oracle SQL in DuckDB over the same generated
tables, and compares the two row sets (column names sorted, rows sorted,
values compared as text). A query counts as oracle-exact only when the rows
match and the dumped fingerprint equals the one in `expected.json`.
Queries without oracle SQL, and every curate and ETL op, are
fingerprint-only. A declared query with no output rows is a mismatch too:
an empty result would time an empty plan and match a wrong computation.
Writes the verdicts to `perfbench/crosscheck.json` and
exits non-zero on any mismatch.
"""
import json
import os
import shutil
import sys
import uuid

import duckdb
import pandas as pd

import run


def rows(df):
    df = df[sorted(df.columns)].astype(str)
    return sorted(map(tuple, df.itertuples(index=False, name=None)))


def main():
    root = os.getcwd()
    classes = run.build(root)
    expected = json.load(open(os.path.join(run.HERE, "expected.json")))
    work = os.path.join(root, ".bench_run", uuid.uuid4().hex)
    verdicts, bad = {}, 0
    try:
        for workload in ("reference_etl", "ext_curate"):
            data, _ = run.stage_inputs(workload, work, seed=0)
            out = os.path.join(work, "dump", workload)
            run.java(classes, work, 900, "perfbench.Dump", workload, data, out)
            con = duckdb.connect()
            for t in run.gen.TABLES:
                con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
            for q in run.read_jsonl(os.path.join(out, "queries.jsonl")):
                name = q["op"]
                fp_ok = expected.get(workload, {}).get(name) == q["fp"]
                if q["fp"].startswith("0:"):
                    verdict = "EMPTY OUTPUT"
                elif q["oracle"] is None:
                    verdict = "fingerprint-only" if fp_ok else "FINGERPRINT MISMATCH"
                else:
                    got = pd.read_parquet(os.path.join(out, name))
                    want = con.execute(q["oracle"]).df()
                    same = (sorted(got.columns) == sorted(want.columns)
                            and rows(got) == rows(want))
                    verdict = ("oracle-exact" if same and fp_ok else
                               "ORACLE MISMATCH" if not same else "FINGERPRINT MISMATCH")
                bad += verdict.isupper()
                verdicts.setdefault(workload, {})[name] = verdict
                print(f"{workload:14s} {name:28s} {verdict}")
        for workload, ops in expected.items():
            for name in ops:
                verdicts.setdefault(workload, {}).setdefault(name, "fingerprint-only")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    with open(os.path.join(run.HERE, "crosscheck.json"), "w") as f:
        json.dump(verdicts, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"mismatches: {bad}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
