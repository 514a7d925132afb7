#!/usr/bin/env python
"""Targeted output-equality verification for a set of queries after an
optimization (r10 discipline):

- at sf0.001 and sf0.01: full DuckDB-oracle compare (the driver-gate
  mirror), so any output change is caught against the contract;
- at sf0.1 (no oracle run needed): the Spark side's per-column value
  hashes are recomputed and diffed against the col_hashes of the
  committed SWEEP.json sf0.1 rows, which were recorded from
  oracle-green runs — equal hashes == identical output multiset.

Usage: python scripts/verify_family.py q1 q2 ...   (or: -f listfile)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

ROOT = os.path.join(os.path.dirname(__file__), "..")


def committed_col_hashes(name: str) -> dict | None:
    with open(os.path.join(ROOT, "SWEEP.json")) as fh:
        rec = json.load(fh).get("sf0.1", {}).get("rows", {}).get(name)
    if rec and rec["status"] == "ok" and rec.get("col_hashes"):
        return rec["col_hashes"]
    return None


def main() -> int:
    from pyspark.sql import SparkSession

    names = sys.argv[1:]
    # vanilla session: the driver's gate doesn't use session.py
    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from email_etl_spark.plans.registry import REGISTRY
    from tests.oracle import column_hashes, compare, run_oracle, run_spark

    bad = 0
    for name in names:
        q = REGISTRY[name]
        for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
            if q.oracle is None:
                print(f"{name} {sf_dir}: no-oracle"); continue
            oracle = run_oracle(q.oracle, sf_dir)
            problems = compare(name, spark, sf_dir, q.builder, q.oracle, oracle)
            tag = "ok" if not problems else f"FAIL {problems}"
            print(f"{name} {os.path.basename(sf_dir)}: {tag}", flush=True)
            bad += bool(problems)
        want = committed_col_hashes(name)
        if want is None:
            print(f"{name} sf0.1: no committed col_hashes; SKIP", flush=True)
            continue
        cols, rows = run_spark(q.builder, spark, "/root/testdata/sf0.1")
        got = column_hashes(cols, rows)
        if got == want:
            print(f"{name} sf0.1: ok (matches SWEEP.json)", flush=True)
        else:
            diff = {c: (got.get(c), want.get(c)) for c in set(got) | set(want) if got.get(c) != want.get(c)}
            print(f"{name} sf0.1: FAIL vs SWEEP.json diff={diff}", flush=True)
            bad += 1
    print(f"verify_family: {bad} failures")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
