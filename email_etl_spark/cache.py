"""One memo for every per-corpus handle, with explicit invalidation.

Query builders reuse what they derive from a corpus or an index
directory: scan and index handles (`spark.read.parquet` lists files
and reads footers on every call), `.cache()`d intermediate tables that
several registry queries share, and small driver-side results such as
trained codebooks or a row count. `memo(spark, kind, path, *params,
build=...)` holds each of them once per `(kind, path, params)`.

Entries live under the `applicationId` they were built in. The first
call under a new application drops every older entry: a stopped
context took its blocks with it, and a handle from it fails on first
use. So a session restart inside a long-lived process rebuilds instead
of failing, and the memo never holds more than one application's state.

A long-lived service that maintains an index stage-then-swaps its base
directory on compaction; a held handle would read the pre-compact
listing or fail on the deleted path. The compaction paths
(streaming/ann_index.py, streaming/text_index.py) therefore call
`invalidate_under(index_root)` after the swap, which drops and
unpersists every entry whose path lies under that root.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession

# applicationId -> {(kind, abspath, params): value}; at most one app
_memo: dict[str, dict[tuple, Any]] = {}


def memo(
    spark: SparkSession, kind: str, path: str | None, *params, build: Callable[[], Any]
) -> Any:
    """`build()`, memoized under `(kind, abspath(path), params)` for
    the session's application. `path=None` (an ad-hoc frame with no
    corpus directory behind it) builds on every call and memoizes
    nothing."""
    if path is None:
        return build()
    app = spark.sparkContext.applicationId
    entries = _memo.get(app)
    if entries is None:
        _memo.clear()  # older applications are stopped: nothing to unpersist
        entries = _memo[app] = {}
    key = (kind, os.path.abspath(path), params)
    if key not in entries:
        entries[key] = build()
    return entries[key]


def unpersist_value(value: Any) -> None:
    """Best-effort unpersist of a dropped value, or of each item of a
    tuple/list value: everything that supports it."""
    items = value if isinstance(value, (tuple, list)) else (value,)
    for item in items:
        unpersist = getattr(item, "unpersist", None)
        if callable(unpersist):
            try:
                unpersist(False)
            except Exception:
                pass  # session already stopped; nothing to release


def invalidate_under(root: str) -> int:
    """Drop, and unpersist, every memo entry whose path lies under
    `root` (inclusive). Returns the number of dropped entries."""
    root = os.path.abspath(root)
    dropped = 0
    for entries in _memo.values():
        for key in [k for k in entries if k[1] == root or k[1].startswith(root + os.sep)]:
            unpersist_value(entries.pop(key))
            dropped += 1
    return dropped
