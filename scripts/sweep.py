#!/usr/bin/env python
"""Oracle-parity sweep — the driver-gate mirror and the one parity
ledger. Runs every registered query on Spark and its DuckDB oracle at
each given scale factor, judges the pair with `tests.oracle.compare`
(the same check at every SF), and records one row per (query, sf) in
SWEEP.json: status, fingerprint, head, secs and col_hashes. Each SF's
`checks`/`failures` headline is recomputed from its rows.

A recorded row is reused only while it is `ok` and its fingerprint
(sha256 of the builder source + oracle SQL) matches the current
registry. Fingerprints don't see shared-helper internals: a query
named on the command line always re-runs, and `--rerun` re-runs every
row. Rows run in order of their last recorded `secs`, unrecorded rows
first, so coverage accrues fastest; the ledger is rewritten after
every row, so an interrupted sweep keeps what it did. Each oracle runs
in a forked worker under a per-oracle timeout.

Usage: python scripts/sweep.py [--sf DIR ...] [--rerun] [--timeout S]
                               [query ...]
       (default SFs: the test suite's sf0.001 and sf0.01 corpora,
       tests/conftest.py)
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import multiprocessing as mp
import os
import queue as queue_mod
import subprocess
import sys
import time

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, ROOT)

LEDGER = os.path.join(ROOT, "SWEEP.json")


def query_fingerprint(q) -> str:
    """sha256 over the builder source + oracle SQL: the identity a
    recorded row is valid for."""
    src = inspect.getsource(q.builder)
    return hashlib.sha256((src + (q.oracle or "")).encode()).hexdigest()[:16]


def _oracle_worker(sql: str, sf_dir: str, out: "mp.Queue") -> None:
    try:
        from tests.oracle import run_oracle

        out.put(("ok", run_oracle(sql, sf_dir)))
    except Exception as exc:  # noqa: BLE001 — report, don't hang
        out.put(("err", repr(exc)))


def run_oracle_with_timeout(sql: str, sf_dir: str, timeout_s: float):
    """The oracle's (cols, rows), or None when it outran `timeout_s`;
    raises on oracle error. A timed-out worker is terminate()d via its
    own Process handle. fork context: the worker only runs DuckDB (no
    JVM state crosses the fork), and fork avoids spawn's __main__
    re-import."""
    ctx = mp.get_context("fork")
    out: mp.Queue = ctx.Queue()
    p = ctx.Process(target=_oracle_worker, args=(sql, sf_dir, out), daemon=True)
    p.start()
    try:
        kind, payload = out.get(timeout=timeout_s)
    except queue_mod.Empty:
        p.terminate()
        p.join(10)
        return None
    p.join(10)
    if kind == "err":
        raise RuntimeError(payload)
    return payload


def _git_head() -> str:
    return subprocess.run(
        ["git", "-C", ROOT, "describe", "--always", "--dirty", "--abbrev=7"],
        capture_output=True,
        text=True,
    ).stdout.strip()


def _write(path: str, ledger: dict) -> None:
    for per_sf in ledger.values():
        rows = per_sf["rows"].values()
        per_sf["checks"] = len(rows)
        per_sf["failures"] = sum(r["status"] != "ok" for r in rows)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(ledger, fh, indent=1, sort_keys=True)
        fh.write("\n")
    os.replace(tmp, path)  # an interrupted sweep never leaves half a ledger


def sweep(
    spark,
    sf_dirs: list[str],
    queries: dict,
    ledger_path: str = LEDGER,
    named=(),
    rerun: bool = False,
    timeout_s: float = 1200,
) -> int:
    """Check `queries` (name → registry Query) at every SF in
    `sf_dirs`, reusing ledger rows as the module doc says; return the
    number of rows run this time that are not `ok`."""
    from tests.oracle import compare

    ledger = {}
    if os.path.exists(ledger_path):
        with open(ledger_path) as fh:
            ledger = json.load(fh)
    head = _git_head()
    fps = {n: query_fingerprint(q) for n, q in queries.items() if q.oracle}
    failures = 0
    sfs = [os.path.basename(d.rstrip("/")) for d in sf_dirs]
    for sf, sf_dir in zip(sfs, sf_dirs):
        rows = ledger.setdefault(sf, {}).setdefault("rows", {})

        def fresh(n: str) -> bool:
            row = rows.get(n, {})
            return row.get("status") == "ok" and row.get("fingerprint") == fps[n]

        def last_secs(n: str) -> tuple[bool, float]:
            secs = rows.get(n, {}).get("secs")
            return secs is not None, secs or 0.0  # unrecorded rows first

        todo = [n for n in sorted(fps) if rerun or n in named or not fresh(n)]
        todo.sort(key=last_secs)
        print(f"{sf}: {len(fps) - len(todo)} reused, {len(todo)} to run", flush=True)
        for name in todo:
            q = queries[name]
            rec: dict = {}
            t0 = time.time()
            try:
                oracle = run_oracle_with_timeout(q.oracle, sf_dir, timeout_s)
                if oracle is None:
                    status = f"oracle-timeout(>{timeout_s:g}s)"
                else:
                    problems = compare(
                        name, spark, sf_dir, q.builder, q.oracle, oracle, record=rec
                    )
                    status = "FAIL: " + "; ".join(problems) if problems else "ok"
            except Exception as exc:  # noqa: BLE001 — record, keep sweeping
                status = "ERROR: " + " ".join(str(exc).split())[:500]
            failures += status != "ok"
            rows[name] = {
                "status": status,
                "fingerprint": fps[name],
                "head": head,
                "secs": round(time.time() - t0, 1),
                # per-output-column hashes (VERDICT r9 #5): a future
                # red names its divergent column by diffing these
                "col_hashes": rec.get("col_hashes", {}),
            }
            _write(ledger_path, ledger)
            print(f"{sf} {name}: {status} ({rows[name]['secs']}s)", flush=True)
    _write(ledger_path, ledger)
    checks = sum(ledger[sf]["checks"] for sf in sfs)
    bad = sum(ledger[sf]["failures"] for sf in sfs)
    print(f"sweep: {bad} failures of {checks} checks across {len(sfs)} SFs")
    return failures


def main() -> int:
    ap = argparse.ArgumentParser(description="Oracle-parity sweep into SWEEP.json.")
    ap.add_argument("queries", nargs="*", help="re-run these whatever their rows say")
    ap.add_argument(
        "--sf", action="append", dest="sf_dirs", help="corpus dir (repeatable)"
    )
    ap.add_argument("--rerun", action="store_true", help="re-run every row")
    ap.add_argument("--timeout", type=float, default=1200, help="per-oracle seconds")
    args = ap.parse_args()

    from email_etl_spark.plans.registry import REGISTRY
    from tests.conftest import SF_CORRECTNESS, SF_SMOKE

    unknown = sorted(set(args.queries) - set(REGISTRY))
    if unknown:
        ap.error(f"unknown queries {unknown}")

    from pyspark.sql import SparkSession

    # vanilla session on purpose: the external driver does NOT use
    # session.py, so the sweep must pass without engine-tuned confs
    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    failures = sweep(
        spark,
        args.sf_dirs or [SF_SMOKE, SF_CORRECTNESS],
        REGISTRY,
        named=set(args.queries),
        rerun=args.rerun,
        timeout_s=args.timeout,
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
