"""Oracle-parity harness mirroring the driver's correctness gate:
run a query on Spark and its oracle SQL on DuckDB over the same
parquet tables; compare row count, column names, and an
order-insensitive value representation.
"""

from __future__ import annotations

import math
from datetime import datetime
from decimal import Decimal

import duckdb

from email_etl_spark.io import TABLES


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_value(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, Decimal):
        # EXACT canonical digits — never through float. The r10 driver
        # reds hid behind the old float collapse: above 2^53 it masked
        # small integer divergences, and it normalized Spark's Decimal
        # and DuckDB's float64-rendered decimal to the same string
        # while type-faithful comparators (the driver) saw
        # '2592860' vs '2592860.0'. Decimal outputs are now banned
        # outright (tests/test_output_types.py); exact rendering here
        # makes any future one visible instead of silently passing.
        s = format(v, "f")
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return s or "0"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # full precision: the conventions in plans/ (decimal-exact sums,
        # rounded scores) are supposed to make values bit-identical.
        return f"{v:.17g}"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_value(x) for x in v) + "]"
    return str(v)


def canonical_rows(columns: list[str], rows: list[tuple]) -> list[str]:
    """Order-insensitive canonical form: per-row values sorted by
    column name, rows sorted lexicographically."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = ["|".join(_norm_value(r[i]) for i in order) for r in rows]
    return sorted(out)


def column_hashes(columns: list[str], rows: list[tuple]) -> dict[str, str]:
    """Per-output-column hash of the sorted normalized value multiset
    (VERDICT r9 #5): when a driver/sweep red shows a whole-row hash
    mismatch, diffing these localizes WHICH column diverged instead of
    costing a round of forensics. Column-local (ignores row pairing)
    by design — a value drift in one column leaves every other
    column's hash intact."""
    import hashlib

    out: dict[str, str] = {}
    for i, c in enumerate(columns):
        vals = sorted(_norm_value(r[i]) for r in rows)
        out[c] = hashlib.md5("\x1f".join(vals).encode()).hexdigest()[:12]
    return out


def run_spark(query, spark, sf_dir: str):
    df = query(spark, sf_dir)
    return df.columns, [tuple(r) for r in df.collect()]


def run_oracle(sql: str, sf_dir: str):
    con = duckdb_conn(sf_dir)
    # storage-layer oracles (parquet_metadata) need the corpus path as
    # a CONSTANT; the registry carries it as the __SF_DIR__ token
    cur = con.execute(sql.replace("__SF_DIR__", sf_dir.rstrip("/")))
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def compare(
    name: str,
    spark,
    sf_dir: str,
    builder,
    sql: str,
    oracle: tuple[list[str], list[tuple]],
    record: dict | None = None,
) -> list[str]:
    """Return a list of mismatch descriptions (empty = pass). `oracle`
    is the oracle's `(columns, rows)` result — `run_oracle(sql,
    sf_dir)`, or the same taken under a timeout by the sweep; `sql`
    is still read for its declared output types. When `record` is
    passed, the Spark side's per-column value hashes are stored under
    record['col_hashes'] so sweep artifacts localize a future
    divergence to its column."""
    problems: list[str] = []
    s_cols, s_rows = run_spark(builder, spark, sf_dir)
    o_cols, o_rows = oracle
    # declared-type guard (r10 driver red, root-caused r11): DuckDB
    # DECIMAL/HUGEINT output columns render as float64 in pandas-layer
    # clients ('2592860.0') while Spark ships exact digits, so a
    # decimal-typed declared output hash-mismatches in any
    # type-faithful comparator even when values are identical. Flag it
    # here so every sweep sees it, not just the driver.
    try:
        decl = duckdb_conn(sf_dir).execute(
            "DESCRIBE " + sql.replace("__SF_DIR__", sf_dir.rstrip("/"))
        ).fetchall()
        bad_decl = [
            (r[0], r[1])
            for r in decl
            if "DECIMAL" in r[1].upper() or "HUGEINT" in r[1].upper()
        ]
        if bad_decl:
            problems.append(f"{name}: decimal-typed oracle outputs {bad_decl}")
    except Exception:
        pass  # DESCRIBE quirk — value comparison below still runs
    bad_spark = sorted(
        {
            s_cols[i]
            for r in s_rows
            for i in range(len(s_cols))
            if isinstance(r[i], Decimal)
        }
    )
    if bad_spark:
        problems.append(f"{name}: Decimal-typed spark outputs {bad_spark}")
    if sorted(s_cols) != sorted(o_cols):
        problems.append(f"{name}: columns differ spark={s_cols} oracle={o_cols}")
        return problems
    if len(s_rows) != len(o_rows):
        problems.append(f"{name}: row count spark={len(s_rows)} oracle={len(o_rows)}")
    s_can = canonical_rows(s_cols, s_rows)
    o_can = canonical_rows(o_cols, o_rows)
    if s_can != o_can:
        s_set, o_set = set(s_can), set(o_can)
        diff_s = [r for r in s_can if r not in o_set][:3]
        diff_o = [r for r in o_can if r not in s_set][:3]
        # name the divergent column(s) directly (VERDICT r9 #5)
        sh, oh = column_hashes(s_cols, s_rows), column_hashes(o_cols, o_rows)
        bad_cols = sorted(c for c in sh if sh[c] != oh.get(c))
        problems.append(
            f"{name}: values differ in columns {bad_cols};"
            f" spark-only={diff_s} oracle-only={diff_o}"
        )
    if record is not None:
        record["col_hashes"] = column_hashes(s_cols, s_rows)
    return problems
