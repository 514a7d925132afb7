"""Streaming maintenance for the persisted ANN bucket index
(SURVEY §2.F/§2.H) — the reference's index stays fresh because
Postgres maintains HNSW/GIN on every INSERT (scripts/init_db.sql:53,
59-67); a warehouse index needs an explicit ingest path:

- `run_ann_index_stream`: foreachBatch over a vector stream computes
  sign-LSH signatures for NEW vectors only and writes them as an
  epoch-keyed DELTA directory. Each epoch overwrites its own
  directory, so a checkpoint-retried batch rewrites the same files —
  idempotent without a transaction log.
- `read_ann_index`: base ∪ deltas — what a query serves from between
  compactions.
- `compact_ann_index`: folds deltas into the (t, key)-partitioned
  base table (the rename-swap discipline of streaming/pipeline.py) —
  the REINDEX analog, run on a schedule, not per batch.

At 100 TB the base is a bucketed Iceberg/Delta table and compaction
is a MERGE; the epoch-delta discipline and the signature pass are the
same.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

DELTA_SUBDIR = "_deltas"
BASE_SUBDIR = "base"


def run_ann_index_stream(
    vectors: DataFrame, index_root: str, checkpoint_dir: str, timeout_s: int = 300
) -> None:
    """Consume a streaming DataFrame of (vec_id, embedding) and append
    signature deltas under <index_root>/_deltas/epoch=<n>. Overwrite-
    per-epoch makes batch retries idempotent; availableNow makes the
    same code a bounded backfill. Signatures come from the batch
    index's bucket builder (plans/search.py::_lsh_buckets), so delta and
    base rows agree bit for bit."""

    from email_etl_spark.plans.search import _lsh_buckets

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        out = os.path.join(index_root, DELTA_SUBDIR, f"epoch={epoch_id}")
        _lsh_buckets(batch).write.mode("overwrite").parquet(out)

    q = (
        vectors.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    from email_etl_spark.streaming.pipeline import _await_drained

    _await_drained(q, "ann_index_delta", timeout_s)


def read_ann_index(spark: SparkSession, index_root: str) -> DataFrame:
    """The queryable index: compacted base ∪ uncompacted deltas.
    Between compactions, delta reads scan only the small epoch dirs;
    the base read keeps its (t, key) partition pruning."""
    base = os.path.join(index_root, BASE_SUBDIR)
    delta = os.path.join(index_root, DELTA_SUBDIR)
    parts = []
    if os.path.isdir(base):
        parts.append(spark.read.parquet(base).select("vec_id", "t", "key"))
    if os.path.isdir(delta) and any(
        d.startswith("epoch=") for d in os.listdir(delta)
    ):
        parts.append(spark.read.parquet(delta).select("vec_id", "t", "key"))
    if not parts:
        raise FileNotFoundError(f"no ANN index at {index_root}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def compact_ann_index(spark: SparkSession, index_root: str) -> None:
    """Fold deltas into the (t, key)-partitioned base. Stage-then-swap
    (the crash-safe discipline of run_upsert_stream): the new base is
    written to a sibling, the old parked at .old until the rename
    lands, and deltas are only cleared after the swap — a crash at any
    point leaves base ∪ deltas equal to the pre-compact view."""
    from email_etl_spark.sinks.parquet import write_partitioned

    base = os.path.join(index_root, BASE_SUBDIR)
    old = base + ".old"
    if not os.path.isdir(base) and os.path.isdir(old):  # interrupted swap
        os.rename(old, base)
    merged = read_ann_index(spark, index_root)
    tmp = base + ".tmp"
    write_partitioned(merged, tmp, ["t", "key"], sort_col="vec_id")
    if os.path.isdir(old):
        shutil.rmtree(old)
    if os.path.isdir(base):
        os.rename(base, old)
    os.rename(tmp, base)
    delta = os.path.join(index_root, DELTA_SUBDIR)
    if os.path.isdir(delta):
        shutil.rmtree(delta)
    shutil.rmtree(old, ignore_errors=True)

    # drop memoized DataFrame handles over the swapped tree — a cached
    # plan would read the pre-compact listing (or error on the deleted
    # .old path) in a long-lived serving process
    from email_etl_spark.cache import invalidate_under

    invalidate_under(index_root)
