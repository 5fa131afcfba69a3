#!/usr/bin/env python3
"""Regenerate ``digests.json``: DuckDB's answer to each benchmarked
query's ``SparkEntry.oracleSql`` over the fixture in ``data/``, as a
canonical digest (``digest.py``).

Usage (from the repository root): python3 perfbench/regen_digests.py

Builds the harness if needed, asks it for the oracle SQL, and rewrites
``perfbench/digests.json``.  Run it after changing a workload's query
list or the fixture; a change of an oracle's semantics shows up as a
digest change in review.
"""
import json
import os
import shutil
import subprocess
import time

import digest
import run


def main():
    classpath, _, _, _ = run.ensure_built(time.time() + 880)
    out_dir = os.path.join(run.BUILD, "oracle")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    run_oracle(classpath, {"mode": "oracle", "out": out_dir}, out_dir)
    with open(os.path.join(out_dir, "oracle.json")) as f:
        oracle = json.load(f)
    con = digest.fixture_connection(run.FIXTURE, run.TABLES)
    out = {}
    for name in sorted({q for w in run.WORKLOADS.values() for q in w.get("queries", [])}):
        if name not in oracle:
            raise SystemExit(f"{name} has no oracle SQL; it cannot be benchmarked")
        rows, cols = digest.oracle_rows(con, oracle[name])
        out[name] = {"digest": digest.digest(rows, cols), "rows": len(rows),
                     "columns": sorted(cols)}
        print(f"{name}: {len(rows)} rows")
    with open(os.path.join(run.HERE, "digests.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


def run_oracle(classpath, cfg, out_dir):
    """The harness's oracle mode writes oracle.json: every oracleSql entry."""
    cfg_path = os.path.join(out_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    subprocess.run(["java", "-cp", classpath, "perfbench.Main", cfg_path], check=True,
                   timeout=300)


if __name__ == "__main__":
    main()
