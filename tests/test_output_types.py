"""Declared-output-type guard (r10 driver red, root-caused r11).

The driver's correctness gate compares Spark and DuckDB results
through client layers (pandas/arrow) that render DuckDB DECIMAL and
HUGEINT columns as float64 — an integer-valued DECIMAL(38,0) arrives
as '2592860.0' while Spark ships the exact digits '2592860', so a
decimal-typed DECLARED output column hash-mismatches even when the
values are identical on both engines. All four r10 driver reds
(ks_uniform_hour, grubbs_outlier_daily, cramers_v_type_weekday,
quality_length_corr) were exactly the gate queries with a
DECIMAL(38,0)/HUGEINT declared output; every green query shipped only
BIGINT/INTEGER/DOUBLE/VARCHAR/BOOLEAN/DATE/TIMESTAMP.

Contract pinned here: no registry oracle may DECLARE a DECIMAL,
HUGEINT, or UHUGEINT output column (internal arithmetic in
HUGEINT/DECIMAL(38,0) stays — only the final SELECT's types matter).
Wide exact integers present as canonical digit strings instead.

DESCRIBE binds and plans without executing, so the whole registry
checks in seconds with no Spark session.
"""

from __future__ import annotations

import pytest

from email_etl_spark.plans import REGISTRY
from tests.conftest import SF_SMOKE
from tests.oracle import duckdb_conn

_BANNED = ("DECIMAL", "HUGEINT", "UHUGEINT")


@pytest.fixture(scope="module")
def con():
    return duckdb_conn(SF_SMOKE)


def test_no_decimal_or_hugeint_declared_outputs(con):
    offenders: dict[str, list[tuple[str, str]]] = {}
    for name, q in REGISTRY.items():
        if not q.oracle:
            continue
        rows = con.execute(
            "DESCRIBE " + q.oracle.replace("__SF_DIR__", SF_SMOKE)
        ).fetchall()
        bad = [(r[0], r[1]) for r in rows if any(b in r[1].upper() for b in _BANNED)]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "decimal-typed declared oracle outputs (driver-gate hash hazard: "
        "pandas renders DuckDB DECIMAL/HUGEINT as float64 while Spark "
        f"ships exact digits): {offenders}"
    )


def test_r10_red_queries_ship_driver_safe_types(con):
    """The four r10 reds, pinned: their declared types on BOTH engines
    are now in the empirically-green class (BIGINT/VARCHAR/BOOLEAN)."""
    expect = {
        "ks_uniform_hour": {
            "n_events": "BIGINT",
            "d_stat_micro": "BIGINT",
            "ks_sq_e6": "BIGINT",
            "reject_95": "BOOLEAN",
        },
        "grubbs_outlier_daily": {
            "s2_num": "VARCHAR",
            "g_sq_num": "VARCHAR",
            "g_sq_den": "VARCHAR",
        },
        "cramers_v_type_weekday": {"chi2_e8": "VARCHAR"},
        "quality_length_corr": {
            "corr_num_e4": "VARCHAR",
            "var_x_num": "VARCHAR",
            "var_y_num_e8": "VARCHAR",
        },
    }
    for name, cols in expect.items():
        rows = con.execute(
            "DESCRIBE " + REGISTRY[name].oracle.replace("__SF_DIR__", SF_SMOKE)
        ).fetchall()
        got = {r[0]: r[1] for r in rows}
        for col, want in cols.items():
            assert got.get(col) == want, f"{name}.{col}: {got.get(col)} != {want}"
