"""Memoized per-corpus handles across a session restart.

Builders memoize scan and index handles, cached intermediate tables and
driver-side results per corpus (email_etl_spark.cache.memo). A handle
from a stopped session fails on first use, so a long-lived process
that stops its session and starts a new one must rebuild rather than
reuse. This runs one query per memo kind, stops the session, starts a
new one in the same process, runs them again, and compares the second
run with the DuckDB oracle. It runs in its own process, so the shared
test session stays up.

The transitive-closure family (the "closure" and "cc" kinds behind
dedup_clusters) is left out: each of its oracles takes 26-54 s on
4 vCPU, and it memoizes through the same `memo` call as the rest.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERIES = [
    # index handles, the SemDeDup assignment and the memoized row count
    "semdedup_prune",
    "dedup_minhash_indexed",
    "ann_lsh_indexed",
    "ann_index_stats",
    "ann_ivfpq_indexed",
    "bm25_indexed",
    "text_index_stats",
    "minhash_index_integrity",
    "reciprocal_best_match",
    # cached tables and plan handles
    "knn_join",
    "lsh_bucket_skew",
    "fuzzy_decontaminate",
    "ann_lsh",
    "bm25f_search",
    "mv_refresh_delta",
    # driver-side results: rows, codebooks, trained state, query vector
    "absorption_within_k",
    "pq_recall_eval",
    "silhouette_centroid",
    "pca_top2_loadings",
    "pca_projection_hist",
    "score_rank_corr",
]

_RESTART = """
import json, sys
from email_etl_spark.plans.registry import REGISTRY
from email_etl_spark.session import get_spark
from tests.oracle import compare, run_oracle

sf_dir, names = sys.argv[1], json.loads(sys.argv[2])
problems = {}
for n in range(2):
    spark = get_spark(f"memo-restart-{n}")
    for name in names:
        q = REGISTRY[name]
        try:
            if n == 0:  # first session: populate the memo
                q.builder(spark, sf_dir).collect()
                continue
            oracle = run_oracle(q.oracle, sf_dir)
            found = compare(name, spark, sf_dir, q.builder, q.oracle, oracle)
        except Exception as exc:
            found = [f"{type(exc).__name__}: {str(exc).strip().splitlines()[0][:300]}"]
        problems.setdefault(name, []).extend(f"session {n}: {p}" for p in found)
    spark.stop()
print(json.dumps(problems))
"""


def test_memoized_queries_survive_session_restart():
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART, SF_SMOKE, json.dumps(QUERIES)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    problems = json.loads(proc.stdout.strip().splitlines()[-1])
    failed = {name: p for name, p in problems.items() if p}
    assert not failed, json.dumps(failed, indent=1)
