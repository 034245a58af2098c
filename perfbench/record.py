#!/usr/bin/env python3
"""Record the expected lake_queries results and cross-check them against DuckDB.

Usage (from the repository root):

    python3 perfbench/record.py

Runs every lake_queries query once over the benchmark's lake, stores each
result's row count and canonical hash, and writes the results as parquet with
the queries' DuckDB SQL. A copy of the lake gets its `events.ts` column
rewritten to TIMESTAMP(NANOS) (tools/events_to_ns.py, the layout the DuckDB
oracles expect), and tools/oracle_check.py compares every result with DuckDB
using its canonicalization. Only when every query passes is
perfbench/expected/lake_queries.json rewritten.
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402


def main():
    root = os.getcwd()
    build = os.path.join(root, ".bench_build")
    os.makedirs(build, exist_ok=True)
    cores = max(1, min(4, os.cpu_count() or 1))
    cp = bench.classpath(root, build)
    lake = bench.lake(root, build, cp, cores)

    work = os.path.join(build, "record")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "results")
    os.makedirs(os.path.join(work, "tmp"))
    code, _ = bench.run(bench.java_cmd(cp, os.path.join(work, "tmp"),
                                       "perfbench.Record", [lake, out]),
                        root, dict(os.environ), 600, echo=True)
    if code != 0:
        bench.fail(code, "recording failed")

    duck_lake = os.path.join(work, "lake")
    shutil.copytree(lake, duck_lake)
    py = sys.executable
    subprocess.run([py, os.path.join(root, "tools", "events_to_ns.py"), duck_lake],
                   check=True)
    check = subprocess.run([py, os.path.join(root, "tools", "oracle_check.py"),
                            duck_lake, out])
    with open(os.path.join(out, "expected.json")) as f:
        queries = json.load(f)["queries"]
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracled = json.load(f)
    if check.returncode != 0 or set(oracled) != set(queries):
        bench.fail(1, "DuckDB cross-check failed; expected results left unchanged")
    expected = {
        "lake": f"graft.tools.GenScaleData at sf {bench.LAKE_SF} "
                "(generated once per checkout by perfbench/run.py)",
        "canonical_form": "columns sorted by name, values stringified, rows "
                          "sorted, SHA-256 (perfbench.Canon)",
        "duckdb_crosscheck": f"{len(queries)}/{len(queries)} PASS with "
                             "tools/oracle_check.py via perfbench/record.py",
        "queries": queries,
    }
    with open(os.path.join(root, "perfbench", "expected", "lake_queries.json"), "w") as f:
        f.write(json.dumps(expected, indent=2) + "\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
