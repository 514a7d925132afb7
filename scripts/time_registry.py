#!/usr/bin/env python
"""Engine-only timing sweep over the whole registry (guide §1:
measure first). SWEEP.json's `secs` column times Spark+DuckDB compare
together, so it cannot rank engine cost; this times builder+collect
(the bench methodology) per registry query on the bench session and
dumps one JSON file for straggler triage.

Usage: python scripts/time_registry.py [--runs N] [--sf-dir DIR]
                                       [--out FILE] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default="/tmp/registry_times.json")
    args = ap.parse_args()

    from email_etl_spark.plans.registry import REGISTRY
    from email_etl_spark.session import get_spark

    spark = get_spark("time-registry")
    spark.sparkContext.setLogLevel("ERROR")
    REGISTRY["doc_count"].builder(spark, args.sf_dir).collect()  # warmup

    names = args.queries or sorted(REGISTRY)
    out: dict[str, dict] = {}
    for i, name in enumerate(names):
        q = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"time:{name}")
        best = float("inf")
        first = None
        try:
            for _ in range(args.runs):
                t0 = time.perf_counter()
                q.builder(spark, args.sf_dir).collect()
                dt = time.perf_counter() - t0
                if first is None:
                    first = dt
                best = min(best, dt)
            out[name] = {"best_s": round(best, 3), "first_s": round(first, 3)}
        except Exception as e:  # record, keep sweeping
            out[name] = {"error": str(e)[:200]}
        spark.sparkContext.setJobDescription(None)
        if (i + 1) % 25 == 0:
            print(f"[{i + 1}/{len(names)}] {name}", flush=True)
            with open(args.out, "w") as fh:
                json.dump(out, fh, indent=1, sort_keys=True)
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    ranked = sorted(out.items(), key=lambda kv: -kv[1].get("best_s", 0))
    for name, rec in ranked[:30]:
        print(f"{rec.get('best_s', 'ERR'):>8}  {name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
