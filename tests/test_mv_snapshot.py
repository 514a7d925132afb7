"""mv_refresh_delta plan contract (VERDICT r6 #4): the refresh must
read BASE from the persisted snapshot and scan the corpus ONLY through
the pushed-down delta id-slice — a refresh that rescans history is the
anti-pattern the query exists to demonstrate against.
"""

from __future__ import annotations

import os
import shutil

from email_etl_spark.plans.governance import MV_BASE_ROOT, build_mv_base_snapshot
from email_etl_spark.plans.registry import REGISTRY

SF = "/root/testdata/sf0.001"


def test_snapshot_build_is_idempotent(spark):
    d = build_mv_base_snapshot(spark, SF)
    assert os.path.exists(os.path.join(d, "_SUCCESS"))
    mtime = os.path.getmtime(os.path.join(d, "_SUCCESS"))
    assert build_mv_base_snapshot(spark, SF) == d
    assert os.path.getmtime(os.path.join(d, "_SUCCESS")) == mtime  # not rewritten


def test_refresh_plan_reads_snapshot_and_pushes_delta_filter(spark):
    df = REGISTRY["mv_refresh_delta"].builder(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly one corpus scan, and it carries the pushed delta predicate
    assert plan.count("documents.parquet") == 1, plan[:4000]
    assert "GreaterThan(doc_id" in plan, plan[:4000]
    # plus the snapshot read — no second history aggregation anywhere
    assert "mv_base" in plan, plan[:4000]


def test_refresh_matches_full_recompute_oracle(spark):
    from tests.oracle import compare, run_oracle

    q = REGISTRY["mv_refresh_delta"]
    err = compare(
        "mv_refresh_delta", spark, SF, q.builder, q.oracle, run_oracle(q.oracle, SF)
    )
    assert not err, err


def test_snapshot_midpoint_is_integer_division(spark):
    # (min+max) div 2 exactly — floor division at any magnitude, no
    # double rounding (ADVICE r6)
    d = build_mv_base_snapshot(spark, SF)
    m = spark.read.parquet(d).select("m").first()["m"]
    from email_etl_spark.io import load_table

    lo, hi = (
        load_table(spark, SF, "documents")
        .selectExpr("min(doc_id)", "max(doc_id)")
        .first()
    )
    assert m == (lo + hi) // 2


def test_snapshot_rebuild_after_removal(spark):
    d = os.path.join(MV_BASE_ROOT, "sf0.001")
    shutil.rmtree(d, ignore_errors=True)
    build_mv_base_snapshot(spark, SF)
    assert os.path.exists(os.path.join(d, "_SUCCESS"))
