#!/usr/bin/env python3
"""Record the expected results of a batch workload into expected.json.

Usage (from the repository root):

    python3 perfbench/record.py --workload NAME

Runs perfbench.Record in two separate JVMs over the workload's generated
tables; each runs every query three times and fingerprints it. Then the
repository's own correctness gate checks the outputs: graft.Verify dumps
the workload's queries as parquet and tools/check.py compares each with
its DuckDB oracle (graft.SparkEntry.oracleSql). A query without an
oracle is recorded and listed as such. A query whose fingerprint differs
between the six runs (floating-point sums in a data-dependent order) is
recorded by row count only and listed. Exits non-zero, writing nothing,
if any query fails its oracle or its row count is not stable.
"""
import argparse
import contextlib
import json
import os
import shutil
import sys

import run

sys.path.insert(0, os.path.join(run.ROOT, "tools"))
import check  # noqa: E402  (the correctness gate's comparison)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(run.DATA))
    a = ap.parse_args()
    jvm = run.build()
    data = run.data_dir(a.workload)
    work = os.path.join(run.BUILD, "record", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    records = []
    for i in range(2):
        out = os.path.join(work, f"record-{i}.json")
        rc, _ = run.java(jvm, "perfbench.Record",
                         [a.workload, data, os.path.join(work, f"run-{i}"), out],
                         os.path.join(work, f"run-{i}"), timeout=3600)
        if rc != 0:
            run.fail(f"Record exited {rc}", 1)
        with open(out) as f:
            records.append(json.load(f))
    names = sorted(records[0])

    dump = os.path.join(work, "verify")
    rc, _ = run.java(jvm, "graft.Verify", [data, dump, ",".join(names)],
                     os.path.join(work, "run-verify"), timeout=3600)
    if rc != 0:
        run.fail(f"graft.Verify exited {rc}", 1)
    oracle_path = os.path.join(dump, "oracle_sql.json")
    with open(oracle_path) as f:
        oracles = {n: sql for n, sql in json.load(f).items() if n in names}
    with open(oracle_path, "w") as f:
        json.dump(oracles, f)
    with contextlib.redirect_stdout(sys.stderr):
        wrong = check.main(dump, data)
    no_oracle = [n for n in names if n not in oracles]

    queries, unstable = {}, []
    for name in names:
        fps = {fp for rec in records for fp in rec[name]["fingerprints"]}
        rows = {int(fp.split(":")[0]) for fp in fps}
        if len(rows) != 1:
            print(f"[record] {name}: row count differs between runs: {sorted(rows)}",
                  file=sys.stderr)
            wrong += 1
        elif len(fps) == 1:
            queries[name] = {"rows": rows.pop(), "hash": fps.pop().split(":")[1]}
        else:
            unstable.append(name)
            queries[name] = {"rows": rows.pop(), "hash": ""}
    print(f"[record] no oracle: {no_oracle}", file=sys.stderr)
    print(f"[record] row count only: {unstable}", file=sys.stderr)
    if wrong:
        run.fail("not recording: some outputs are wrong or unstable", 1)
    path = os.path.join(run.HERE, "expected.json")
    expected = {}
    if os.path.exists(path):
        with open(path) as f:
            expected = json.load(f)
    expected[a.workload] = {
        "tables": run.DATA[a.workload], "data_seed": run.DATA_SEED,
        "no_oracle": no_oracle, "row_count_only": unstable,
        "queries": queries}
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
