"""Pure-column expression kits. Everything here returns Column
expressions built from pyspark.sql.functions so the work stays inside
whole-stage codegen on the JVM — no Python in the hot path."""

from __future__ import annotations

import functools


def built_once(build):
    """Decorator: run a builder of constant Column expressions once per
    process and argument tuple; later calls get the same Columns.

    Composing a column costs py4j round trips per `F.*` call, and a
    Python lambda given to `F.transform` / `F.filter` is traced through
    the JVM on every build (`parse_gmail_json` issued ~2,100 calls per
    import). A Column is an unresolved, session-free plan fragment:
    Catalyst assigns exprIds when a DataFrame is analysed, so one copy
    serves every DataFrame and every session in the process.

    Only for plan constants: hashable arguments (column names, sizes)
    and a result made of Columns alone. Never data, and never a Python
    UDF column, which holds its SparkContext's accumulator."""
    return functools.cache(build)
