"""Confirm the recorded query outputs against DuckDB (run once per re-record).

Dumps every benchmark query that has oracle SQL with `graft.Verify` over the
benchmark's sf0.1 tables, compares the dumps with DuckDB by the rules of the
repository's `tools/check_oracle.py`, and checks that each dump has the row
count recorded in perfbench/expected.json.

Usage: python3 perfbench/oracle.py
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    bdir = run.build_dir()
    cp = run.build.build(bdir)
    data = run.data_dir()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)["workloads"]
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    ops = {op: w for w in ("relational", "iterative") for op in spec[w]["ops"]}
    out = os.path.join(bdir, "oracle")
    shutil.rmtree(out, ignore_errors=True)
    opens = [a for m in run.JVM_OPENS for a in ("--add-opens", f"{m}=ALL-UNNAMED")]
    subprocess.run(["java", "-Xmx3g", *opens, "-cp", cp, "graft.Verify", data, out,
                    ",".join(sorted(ops))], check=True)
    path = os.path.join(out, "oracle_sql.json")
    with open(path) as fh:
        oracle = {k: v for k, v in json.load(fh).items() if k in ops}
    with open(path, "w") as fh:
        json.dump(oracle, fh)
    print(f"{len(oracle)} of {len(ops)} benchmark queries have oracle SQL")
    for op in sorted(set(ops) - set(oracle)):
        print(f"NO ORACLE {op}")
    rc = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
                         data, out]).returncode
    con = duckdb.connect()
    for op in sorted(oracle):
        n = con.execute(f"SELECT count(*) FROM read_parquet('{out}/{op}/*.parquet')").fetchone()[0]
        want = int(expected[ops[op]][op].split(":")[0])
        print(f"{'ROWS OK' if n == want else 'ROWS DIFFER'} {op}: dump {n}, recorded {want}")
        rc |= n != want
    sys.exit(rc)


if __name__ == "__main__":
    main()
