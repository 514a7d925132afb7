"""scripts/sweep.py, the one oracle sweep: ledger reuse by fingerprint,
forced re-runs, the per-oracle timeout, and the shared
`tests.oracle.compare` judging every row (its declared-type guard
included, which a bare value comparison lets through)."""

from __future__ import annotations

import json
import os
import sys

import pytest

from email_etl_spark.plans.registry import REGISTRY, Query
from tests.conftest import SF_SMOKE

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

import sweep as sweep_mod  # noqa: E402

SF = os.path.basename(SF_SMOKE)
CHEAP = ("doc_count", "q6_forecast_revenue")


@pytest.fixture
def oracle_calls(monkeypatch):
    """Names of the registry queries whose oracle the sweep ran."""
    calls: list[str] = []
    run = sweep_mod.run_oracle_with_timeout
    by_sql = {REGISTRY[n].oracle: n for n in CHEAP}

    def counting(sql, sf_dir, timeout_s):
        calls.append(by_sql[sql])
        return run(sql, sf_dir, timeout_s)

    monkeypatch.setattr(sweep_mod, "run_oracle_with_timeout", counting)
    return calls


def _rows(ledger_path) -> dict:
    with open(ledger_path) as fh:
        return json.load(fh)[SF]["rows"]


def test_rows_are_recorded_then_reused_until_stale_or_named(
    spark, tmp_path, oracle_calls
):
    ledger = str(tmp_path / "SWEEP.json")
    queries = {n: REGISTRY[n] for n in CHEAP}

    assert sweep_mod.sweep(spark, [SF_SMOKE], queries, ledger) == 0
    rows = _rows(ledger)
    assert sorted(rows) == sorted(CHEAP)
    for name, row in rows.items():
        assert row["status"] == "ok"
        assert row["fingerprint"] == sweep_mod.query_fingerprint(REGISTRY[name])
        assert row["col_hashes"]
    assert sorted(oracle_calls) == sorted(CHEAP)

    oracle_calls.clear()
    sweep_mod.sweep(spark, [SF_SMOKE], queries, ledger)
    assert oracle_calls == []

    with open(ledger) as fh:
        doc = json.load(fh)
    doc[SF]["rows"]["doc_count"]["fingerprint"] = "stale"
    with open(ledger, "w") as fh:
        json.dump(doc, fh)
    sweep_mod.sweep(spark, [SF_SMOKE], queries, ledger)
    assert oracle_calls == ["doc_count"]

    oracle_calls.clear()
    sweep_mod.sweep(spark, [SF_SMOKE], queries, ledger, named={"q6_forecast_revenue"})
    assert oracle_calls == ["q6_forecast_revenue"]
    assert all(r["status"] == "ok" for r in _rows(ledger).values())


def _one_bigint(spark, sf_dir):
    return spark.range(1).selectExpr("CAST(3 AS BIGINT) AS n")


def test_an_oracle_past_its_timeout_is_recorded_not_ok(spark, tmp_path):
    ledger = str(tmp_path / "SWEEP.json")
    slow = Query(
        name="slow_oracle",
        builder=_one_bigint,
        oracle="SELECT CAST(sum(i) AS BIGINT) AS n FROM range(1000000000000) t(i)",
    )
    failures = sweep_mod.sweep(
        spark, [SF_SMOKE], {"slow_oracle": slow}, ledger, timeout_s=1
    )
    assert failures == 1
    assert _rows(ledger)["slow_oracle"]["status"] == "oracle-timeout(>1s)"
    with open(ledger) as fh:
        assert json.load(fh)[SF]["failures"] == 1


def test_a_decimal_declared_oracle_output_is_a_failure(spark, tmp_path):
    """Values, columns and row count all match; only the declared
    DECIMAL type differs. A type-faithful comparator (the external gate)
    renders it '3.0' against Spark's '3', so the sweep must fail it at
    every SF; the old sf0.1-only comparator passed it."""
    ledger = str(tmp_path / "SWEEP.json")
    decimal = Query(
        name="decimal_oracle",
        builder=_one_bigint,
        oracle="SELECT CAST(3 AS DECIMAL(18, 0)) AS n",
    )
    failures = sweep_mod.sweep(spark, [SF_SMOKE], {"decimal_oracle": decimal}, ledger)
    assert failures == 1
    status = _rows(ledger)["decimal_oracle"]["status"]
    assert status.startswith("FAIL:") and "decimal-typed oracle outputs" in status
