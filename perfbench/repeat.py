"""Repeat the benchmark over seeds and summarise the spread.

    python3 perfbench/repeat.py --workload mail_ingest --seeds 101-110 \
        --seconds 17 --out perfbench/baseline/untraced.json

Runs `perfbench/run.py` once per seed, one run at a time, untraced.
For each end-to-end metric it reports the median, the quartiles as
`statistics.quantiles(values, n=4)` gives them and the interquartile
range as a share of the median. Each run's full record is kept. The
--out file holds one report per workload; a run replaces the report of
its own workload and keeps the others.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seed_list(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    median = statistics.median(values)
    return {"median": median, "q1": q1, "q3": q3, "iqr_over_median": (q3 - q1) / median}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="one seed or an inclusive range lo-hi")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", help="write the runs and the summary here as JSON")
    a = ap.parse_args()

    runs = []
    for seed in seed_list(a.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"]
        out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout.splitlines()
        record, result = json.loads(out[-2])["record"], json.loads(out[-1])
        runs.append({"seed": seed, "result": result, "record": record})
        figures = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(seed, result["correct"], result["failed"], figures, flush=True)

    names = list(runs[0]["result"]["metrics"])
    report = {
        "workload": a.workload, "seconds": a.seconds,
        "all_correct": all(r["result"]["correct"] for r in runs),
        "summary": {k: summary([r["result"]["metrics"][k]["value"] for r in runs]) for k in names},
        "runs": runs,
    }
    for k, v in report["summary"].items():
        print(f"{k}: median {v['median']:.4f} iqr/median {v['iqr_over_median']:.3f}")
    if a.out:
        reports = {}
        if os.path.exists(a.out):
            with open(a.out) as fh:
                reports = json.load(fh)
        reports[a.workload] = report
        with open(a.out, "w") as fh:
            json.dump(reports, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
