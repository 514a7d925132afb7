"""Streaming ANN index maintenance: epoch-keyed idempotent deltas,
base ∪ delta reads, crash-safe compaction (SURVEY §2.F/§2.H)."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from email_etl_spark.plans.search import _lsh_buckets
from email_etl_spark.streaming.ann_index import (
    compact_ann_index,
    read_ann_index,
    run_ann_index_stream,
)
from tests.conftest import SF_SMOKE


def _drop_vectors(spark, src_dir: str, vec_ids, name: str) -> None:
    from email_etl_spark.io import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").where(
        F.col("vec_id").isin(list(vec_ids))
    )
    stage = os.path.join(src_dir, f"_stage_{name}")
    emb.select("vec_id", "embedding").coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    shutil.move(os.path.join(stage, part), os.path.join(src_dir, f"{name}.parquet"))
    shutil.rmtree(stage)


def _stream(spark, src_dir):
    from email_etl_spark.io import load_table

    schema = (
        load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding").schema
    )
    return spark.readStream.schema(schema).parquet(src_dir)


def test_stream_deltas_compact_and_serve(spark, tmp_path):
    src = str(tmp_path / "vecs")
    root = str(tmp_path / "index")
    ck = str(tmp_path / "ck")
    os.makedirs(src)

    _drop_vectors(spark, src, [0, 1, 2], "d1")
    run_ann_index_stream(_stream(spark, src), root, ck)
    # epoch delta written; readable before any compaction
    assert os.path.isdir(os.path.join(root, "_deltas"))
    got = read_ann_index(spark, root)
    assert {r.vec_id for r in got.select("vec_id").distinct().collect()} == {0, 1, 2}

    # batch signatures equal the persisted batch-index convention
    from email_etl_spark.io import load_table

    batch = load_table(spark, SF_SMOKE, "embeddings").where(F.col("vec_id") < 3)
    expect = {
        (r.vec_id, r.t, r.key)
        for r in _lsh_buckets(batch.select("vec_id", "embedding")).collect()
    }
    assert {(r.vec_id, r.t, r.key) for r in got.collect()} == expect

    # second drop, then compact: base becomes (t, key)-partitioned,
    # deltas cleared, contents preserved
    _drop_vectors(spark, src, [3, 4], "d2")
    run_ann_index_stream(_stream(spark, src), root, ck)
    compact_ann_index(spark, root)
    base = os.path.join(root, "base")
    assert os.path.isdir(base)
    assert any(d.startswith("t=") for d in os.listdir(base))
    assert not os.path.isdir(os.path.join(root, "_deltas"))
    after = read_ann_index(spark, root)
    assert after.count() == 5 * 4  # 5 vectors x 4 LSH tables
    assert {r.vec_id for r in after.select("vec_id").distinct().collect()} == {0, 1, 2, 3, 4}


def test_epoch_overwrite_is_idempotent(spark, tmp_path):
    """A retried epoch rewrites its own directory instead of appending
    duplicates."""
    src = str(tmp_path / "vecs")
    root = str(tmp_path / "index")
    os.makedirs(src)
    _drop_vectors(spark, src, [0, 1], "d1")
    batch = spark.read.parquet(src)
    out = os.path.join(root, "_deltas", "epoch=0")
    _lsh_buckets(batch).write.mode("overwrite").parquet(out)
    _lsh_buckets(batch).write.mode("overwrite").parquet(out)  # the retry
    got = read_ann_index(spark, root)
    assert got.count() == 2 * 4  # no duplicates


def test_compact_recovers_interrupted_swap(spark, tmp_path):
    src = str(tmp_path / "vecs")
    root = str(tmp_path / "index")
    ck = str(tmp_path / "ck")
    os.makedirs(src)
    _drop_vectors(spark, src, [0, 1], "d1")
    run_ann_index_stream(_stream(spark, src), root, ck)
    compact_ann_index(spark, root)
    base = os.path.join(root, "base")
    # simulate a crash between rename(base->old) and rename(tmp->base)
    shutil.move(base, base + ".old")
    compact_ann_index(spark, root)
    assert os.path.isdir(base) and not os.path.isdir(base + ".old")
    assert read_ann_index(spark, root).count() == 2 * 4


def test_compaction_invalidates_serving_caches(spark, tmp_path):
    """A long-lived serving process memoizes index DataFrame handles;
    compaction swaps the base directory underneath them, so the swap
    must DROP every cache entry under the index root — re-querying
    through the cache then sees the post-compact data instead of a
    stale listing (or an error on the deleted .old path)."""
    from email_etl_spark.cache import invalidate_under, memo
    from email_etl_spark.io import open_parquet
    from email_etl_spark.plans.search import _planes_literal

    src = str(tmp_path / "vecs")
    root = str(tmp_path / "index")
    ck = str(tmp_path / "ck")
    os.makedirs(src)

    _drop_vectors(spark, src, [0, 1, 2], "d1")
    run_ann_index_stream(_stream(spark, src), root, ck)
    compact_ann_index(spark, root)
    base = os.path.join(root, "base")

    # serve through the memoized handle, the way ann_lsh_indexed /
    # dedup_minhash_indexed do
    def serve() -> set:
        idx = open_parquet(spark, base)
        return {r.vec_id for r in idx.select("vec_id").distinct().collect()}

    old = open_parquet(spark, base)
    assert serve() == {0, 1, 2}
    assert open_parquet(spark, base) is old  # held open

    # new vectors arrive; compaction swaps the base
    _drop_vectors(spark, src, [3, 4], "d2")
    run_ann_index_stream(_stream(spark, src), root, ck)
    compact_ann_index(spark, root)

    # the handle under the root was dropped...
    new = open_parquet(spark, base)
    assert new is not old
    # ...and re-serving through the same code path sees the new data
    assert serve() == {0, 1, 2, 3, 4}

    # plan constants and entries for unrelated directories are untouched
    planes = _planes_literal()
    elsewhere = str(tmp_path / "elsewhere")
    other = memo(spark, "other", elsewhere, build=dict)
    assert invalidate_under(root) == 1  # only the entry serve() re-added
    assert _planes_literal() is planes
    assert memo(spark, "other", elsewhere, build=dict) is other
    invalidate_under(elsewhere)
