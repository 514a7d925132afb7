"""Vector column expressions (SURVEY.md §2.C/§2.F).

Re-expresses pgvector's cosine operator (`embedding <=> q`, ref:
scripts/init_db.sql:52-54, src/database.py:168-184) as JVM-side
higher-order functions: zip_with for the elementwise product,
aggregate for the sum — no Python, no UDF, vectorizable by codegen.

All math is in DOUBLE (inputs are float32; the cast is exact) and
consumers ROUND before using a similarity as an output or sort key so
distributed evaluation hash-matches a single-threaded oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    denom = norm(a) * norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def cosine_rounded(a: Column, b: Column, digits: int = 4) -> Column:
    return F.round(cosine(a, b), digits)


# DuckDB twin used inside oracle SQL strings. A library cosine
# (list_cosine_similarity) sums in an engine-chosen order and can land
# one ulp away from Spark's sequential fold — which flips ROUND at a
# .00005 boundary. So the twin folds left-to-right with the same 0.0
# seed as F.aggregate: bit-identical by construction.
def _duckdb_dot(x: str, y: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, len({x}) + 1), "
        f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE))), (acc, v) -> acc + v)"
    )


def duckdb_cosine(a_expr: str, b_expr: str, digits: int = 4) -> str:
    return (
        f"ROUND({_duckdb_dot(a_expr, b_expr)} / "
        f"(sqrt({_duckdb_dot(a_expr, a_expr)}) * sqrt({_duckdb_dot(b_expr, b_expr)})), {digits})"
    )
