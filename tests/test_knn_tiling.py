"""Tiling-invariance pins for the exact all-pairs tile kernel
(plans/search.py::_tile_pairs).

The tile count P is corpus-derived (ceil(n/_KNN_BLOCK)), so the test
corpora all run at P=1 and the multi-tile machinery — the off-diagonal
column-direction emission, the exactly-once (tile, direction) pair
ownership that lets the candidate stream skip distinct(), and the
per-row threshold rules — would otherwise go unexercised until a
corpus exceeds one block. This pins: the full output of every kernel
consumer with its own aggregation (knn_join, reciprocal_best_match,
dedup_embedding) is identical at P=1 and at a forced P>=3, and the
kernel's own candidate stream at forced P carries no duplicate ordered
(q, n) pair under each of its rules.
"""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

import email_etl_spark.plans.search as S
from email_etl_spark.cache import invalidate_under
from email_etl_spark.plans.dedup import EMB_THRESHOLD
from email_etl_spark.plans.registry import REGISTRY
from tests.conftest import SF_SMOKE

SINGLE = 1 << 30  # P = 1: one tile
TILED = 150  # 500-vector smoke corpus -> P = 4


@contextlib.contextmanager
def _block(size):
    # the pair table and row count are memoized per corpus and P is
    # derived when a query is built: drop the corpus memos so this
    # block size takes effect, and again afterwards so later callers
    # get the default tiling
    old_block = S._KNN_BLOCK
    invalidate_under(SF_SMOKE)
    S._KNN_BLOCK = size
    try:
        yield
    finally:
        S._KNN_BLOCK = old_block
        invalidate_under(SF_SMOKE)


def _rows(spark, name, block):
    with _block(block):
        return sorted(tuple(r) for r in REGISTRY[name].builder(spark, SF_SMOKE).collect())


def test_knn_output_is_tiling_invariant(spark):
    assert _rows(spark, "knn_join", SINGLE) == _rows(spark, "knn_join", TILED)


@pytest.mark.parametrize("name", ["reciprocal_best_match", "dedup_embedding"])
def test_pair_query_output_is_tiling_invariant(spark, name):
    single = _rows(spark, name, SINGLE)
    assert single, f"{name} is empty on the smoke corpus: the pin would be vacuous"
    assert single == _rows(spark, name, TILED)


def test_tiled_candidate_stream_has_no_duplicate_pairs(spark):
    """The exactly-once ownership proof behind the missing distinct():
    with four tiles in play, the kernel's (q, n, c) stream holds every
    ordered pair at most once and never a self pair, for the k rule,
    the floor rule and the cross-group mask alike."""
    rules = {
        "k": dict(k=S._KNN_K),
        "floor": dict(floor=EMB_THRESHOLD),
        "cross-group k=1": dict(k=1, group=F.col("label") % 2),
    }
    with _block(TILED):
        assert -(-S._n_vectors(spark, SF_SMOKE) // S._KNN_BLOCK) == 4
        for rule, kwargs in rules.items():
            pairs = S._tile_pairs(spark, SF_SMOKE, **kwargs)
            stats = pairs.agg(
                F.count("*").alias("rows"),
                F.countDistinct("q", "n").alias("distinct_pairs"),
                F.sum((F.col("q") == F.col("n")).cast("int")).alias("self_pairs"),
            ).first()
            assert stats.rows > 0, rule
            assert stats.rows == stats.distinct_pairs, f"{rule}: duplicate (q, n) candidates"
            assert stats.self_pairs == 0, rule


def test_reciprocal_best_match_reuses_the_row_count(spark):
    """The tile count of reciprocal_best_match comes from the same
    memoized embeddings row count as knn_join's, so once knn_join has
    run on a corpus, building reciprocal_best_match starts no job."""
    REGISTRY["knn_join"].builder(spark, SF_SMOKE).collect()
    sc = spark.sparkContext
    group = "test_reciprocal_best_match_reuses_the_row_count"
    sc.setJobGroup(group, "build reciprocal_best_match")
    try:
        REGISTRY["reciprocal_best_match"].builder(spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
