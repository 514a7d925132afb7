"""Exact-kNN contracts on tie-heavy corpora.

The seeded corpus has almost no exact ties, while template-heavy mail
makes byte-identical embeddings the normal case. Every query below
orders by the 4-digit rounded cosine with an id tiebreak, so a tile
kernel that keeps a fixed number of candidates per row returns an
arbitrary subset of a large tie group. This property draws corpora
made of distinct vectors plus groups of byte-identical copies under
shuffled ids and compares each query with its DuckDB oracle at P=1 and
at a forced P>=3.

Zero vectors are left out: the oracle's cosine is NULL on a zero norm,
where the engine's is 0.0.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import email_etl_spark.plans.search as S
from email_etl_spark.cache import invalidate_under
from email_etl_spark.io import TABLES
from email_etl_spark.plans.registry import REGISTRY
from tests.conftest import SF_SMOKE
from tests.oracle import compare, run_oracle

QUERIES = ("knn_join", "hub_vectors", "reciprocal_best_match", "dedup_embedding")


@st.composite
def tie_corpora(draw):
    """(vectors, labels) with vec_id = row position: some distinct
    vectors plus one large and up to three small groups of identical
    copies, scattered over the id range."""
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    n_distinct = draw(st.integers(4, 30))
    groups = [draw(st.integers(14, 30))] + draw(st.lists(st.integers(2, 6), max_size=3))
    base = rng.standard_normal((n_distinct + len(groups), S.EMB_DIM)).astype(np.float32)
    rows = [base[i] for i in range(n_distinct)]
    for g, size in enumerate(groups):
        rows += [base[n_distinct + g]] * size
    order = rng.permutation(len(rows))
    vectors = np.stack([rows[i] for i in order])
    labels = rng.integers(0, 4, len(rows)).astype(np.int32)
    return vectors, labels


def _write_corpus(root: str, vectors, labels) -> None:
    os.makedirs(root)
    # the oracle harness binds a view per engine table; only the
    # embeddings table is read by these queries
    for t in TABLES:
        if t != "embeddings":
            os.symlink(os.path.join(SF_SMOKE, f"{t}.parquet"), os.path.join(root, f"{t}.parquet"))
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(len(vectors)), pa.int64()),
            "embedding": pa.array(list(vectors), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }),
        os.path.join(root, "embeddings.parquet"),
    )


@settings(
    max_examples=4,
    deadline=None,
    derandomize=True,
    database=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(tie_corpora())
def test_exact_knn_queries_match_the_oracle_on_ties(spark, corpus):
    vectors, labels = corpus
    tmp = tempfile.mkdtemp(prefix="knn_ties_")
    root = os.path.join(tmp, "corpus")
    old_block = S._KNN_BLOCK
    try:
        _write_corpus(root, vectors, labels)
        for block in (S._KNN_BLOCK, max(1, len(vectors) // 3)):
            invalidate_under(root)
            S._KNN_BLOCK = block
            for name in QUERIES:
                q = REGISTRY[name]
                oracle = run_oracle(q.oracle, root)
                problems = compare(name, spark, root, q.builder, q.oracle, oracle)
                assert not problems, f"block={block}: " + "\n".join(problems)
    finally:
        S._KNN_BLOCK = old_block
        invalidate_under(root)
        shutil.rmtree(tmp, ignore_errors=True)
