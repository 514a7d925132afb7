"""Driver-gate mirror: every registered query with an oracle must
hash-match DuckDB on the same parquet tables."""

from __future__ import annotations

import pytest

from email_etl_spark.plans.registry import REGISTRY
from tests.conftest import SF_SMOKE
from tests.oracle import compare, run_oracle

ORACLE_QUERIES = sorted(name for name, q in REGISTRY.items() if q.oracle)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_parity_smoke_sf(spark, name):
    q = REGISTRY[name]
    problems = compare(
        name, spark, SF_SMOKE, q.builder, q.oracle, run_oracle(q.oracle, SF_SMOKE)
    )
    assert not problems, "\n".join(problems)


def test_registry_nonempty():
    assert len(REGISTRY) >= 25


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
