"""Deduplication queries (SURVEY.md §2.E) — the training-data-pipeline
dedup family over the documents corpus.

Scale design:
- exact dedup is one hash-groupBy (map-side combined);
- near-dup NEVER materializes the quadratic pair space on the scale
  path: MinHash+LSH prunes to bucket-local candidates, then exact
  Jaccard verifies inside the buckets. The parity oracle computes
  exact all-pairs Jaccard, which is feasible at oracle scale and
  equals the LSH result whenever recall holds (16 bands × 2 rows of
  32 lanes: miss probability ≈8e-4 at the 0.6 threshold and ≈1e-7 at
  the corpus's J≥0.8 near-dup floor — see functions/hashing.py);
- embedding near-dup is exact by contract (the oracle is an all-pairs
  cosine scan), so its scale path is block-tiled pair enumeration: no
  driver collect, no broadcast of the corpus — every tile is a bounded
  (block_a × block_b) NumPy matmul inside one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from email_etl_spark.cache import memo
from email_etl_spark.functions import hashing as H
from email_etl_spark.functions import text as T
from email_etl_spark.functions.vectors import cosine_rounded, duckdb_cosine
from email_etl_spark.io import load_table, open_parquet, parallelize_scan
from email_etl_spark.plans.registry import register

MINHASH_THRESHOLD = 0.6   # 3-gram Jaccard
NGRAM_THRESHOLD = 0.5     # 2-gram Jaccard
EMB_THRESHOLD = 0.45      # cosine


def _closure_components(spark, sf_dir: str, k: int, threshold: float):
    """Memoized transitive-closure labels for the closure-only
    consumers (dedup_clusters / dedup_keep_best / dedup_savings /
    dup_cluster_size_hist): one connected_components run per corpus,
    shared by all four — the label-propagation loop localCheckpoints
    each round, so re-running it per consumer call would both redo the
    shuffles and pin fresh checkpoint blocks per call."""
    from email_etl_spark.operators.graph import connected_components

    def build():
        edges = _closure_edges(
            load_table(spark, sf_dir, "documents"), k=k, threshold=threshold, sf_dir=sf_dir
        )
        return connected_components(edges, src="doc_a", dst="doc_b")

    return memo(spark, "cc", sf_dir, k, threshold, build=build)

_TOKS = "list_filter(str_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"


def _shingle_cte(k: int) -> str:
    """DuckDB CTE producing (doc_id, sh) with distinct word k-grams,
    mirroring functions/hashing.py::shingles."""
    parts = " || ' ' || ".join(f"toks[i+{j}]" for j in range(k))
    return f"""
tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {k}
              THEN list_distinct(list_transform(range(1, len(toks) - {k - 2}), i -> {parts}))
              ELSE [array_to_string(toks, ' ')] END AS sh
  FROM tok
)"""


def _thr_bps(threshold: float) -> int:
    """Jaccard threshold as integer basis points (0.6 -> 6000)."""
    return int(round(threshold * 10000))


def _jbps_sql(inter: str, na: str, nb: str) -> str:
    """DuckDB half-up integer Jaccard bps from integer set sizes:
    (2*10^4*|A∩B| + |A∪B|) // (2*|A∪B|) — the exact-presentation
    convention (no ROUND over a double quotient, the r8/r9 halfway
    hazard; `//` on BIGINTs truncates toward zero in DuckDB exactly
    like Spark's `div`, and the +den term makes it half-up)."""
    union = f"({na} + {nb} - {inter})"
    return f"((20000 * {inter} + {union}) // (2 * {union}))"


def _pairs_sql(threshold: float) -> str:
    jac = _jbps_sql(
        "len(list_intersect(a.sh, b.sh))", "len(a.sh)", "len(b.sh)"
    )
    return f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST({jac} AS BIGINT) AS j_bps
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE {jac} >= {_thr_bps(threshold)}
ORDER BY doc_a, doc_b
"""


@register(
    "dedup_exact",
    oracle="""
SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1 ORDER BY keep_id
""",
    doc="Exact dedup: canonical-fingerprint groupBy, keep lowest id (ref: skip-already-imported, src/etl_pipeline.py:112-118).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(T.fingerprint(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .orderBy("keep_id")
    )



def _shingle_table(docs: DataFrame, k: int, sf_dir: str | None = None) -> DataFrame:
    """(doc_id, sh) word-k-gram shingle SETS, cached: the table feeds
    three branches (signature, verify-left, verify-right) and caching
    also materializes the arrays, avoiding Spark's per-output-row
    re-evaluation of generator children (measured 10x on this corpus).

    When the caller is a registry query over a corpus DIRECTORY it
    passes `sf_dir` and the handle is MEMOIZED per (sf_dir, k) — a
    long-lived serving process that runs the dedup family repeatedly
    reuses one pinned table per corpus instead of accumulating a fresh
    `.cache()` handle per call (storage bounded by distinct corpora,
    not call count; pinned by tests/test_cache_lifecycle.py).
    Invalidation drops AND unpersists via email_etl_spark.cache.
    Ad-hoc DataFrames (tests, composed operators) omit sf_dir and keep
    the per-call handle, relying on Spark's LRU block eviction.
    """

    def build():
        toks = parallelize_scan(docs).select(
            "doc_id", T.tokens(F.col("text")).alias("toks")
        )
        return toks.select("doc_id", H.shingles(F.col("toks"), k=k).alias("sh")).cache()

    return memo(docs.sparkSession, "shingles", sf_dir, k, build=build)


def _md5_sig_table(docs: DataFrame, sf_dir: str | None, k: int = 3) -> DataFrame:
    """(doc_id, mh0..mh31) md5-lane signature table, memoized per
    corpus dir (r10): the 8-md5-per-shingle signature projection is
    the most expensive pass in the md5-lane family, and FIVE registry
    queries each re-ran it per call — the calibration/est_error pair
    joins twice (both sides). Derived from the cached _shingle_table;
    only the memoized table is pinned."""

    def sig():
        return H.with_minhash_sig(_shingle_table(docs, k, sf_dir=sf_dir), "sh").drop("sh")

    if sf_dir is None:
        return sig()
    return memo(docs.sparkSession, "md5_sig", sf_dir, k, build=lambda: sig().cache())


def _lsh_verified_pairs(
    docs: DataFrame,
    k: int,
    threshold: float,
    with_containment: bool = False,
    sf_dir: str | None = None,
    lanes: str = "xx",
) -> DataFrame:
    """Shared MinHash+LSH bucket-then-verify pipeline: word-k-gram
    shingles → N_LANES md5-derived minhash lanes → band buckets →
    bucket-local candidate pairs → exact-Jaccard verification.

    Output equals the exact all-pairs scan whenever LSH recall holds;
    with 16 bands × 2 rows the miss probability for a pair at the
    threshold J=t is (1-t²)^16 (≈1e-2 at t=0.5, ≈8e-4 at t=0.6) and
    vanishes for real near-dups (J≥0.9 → <1e-11). Exact variants
    (PPJoin prefix filtering) were measured 25x slower on this corpus:
    a tiny uniform vocabulary makes every 2-gram high-frequency, which
    is the worst case for inverted-index joins.
    """
    return _verified_pairs_from_shingles(
        _shingle_table(docs, k, sf_dir=sf_dir),
        threshold,
        with_containment,
        lanes=lanes,
        md5_sig=_md5_sig_table(docs, sf_dir, k) if lanes == "md5" and sf_dir else None,
    )


def _verified_pairs_from_shingles(
    sh: DataFrame,
    threshold: float,
    with_containment: bool = False,
    ordered: bool = True,
    lanes: str = "xx",
    md5_sig: DataFrame | None = None,
) -> DataFrame:
    """LSH bucket-then-verify over a prebuilt (doc_id, sh) shingle
    table — the body of _lsh_verified_pairs, split out so the
    closure-only consumers can run it on a COLLAPSED doc set
    (_closure_edges).

    `lanes` picks the candidate-signature family (r10 optimization):
    "xx" (default) = native-xxhash64 integer lanes + BIGINT band keys
    (functions/hashing.py::cand_bands — ~2.3x cheaper per
    signature pass, identical recall structure); "md5" = the
    oracle-reproducible md5 lanes, REQUIRED for the queries whose
    oracle replays the md5 bucketing itself (minhash_recall_eval /
    minhash_calibration / minhash_est_error). The verified PAIR
    output is hash-family-independent whenever recall holds — proved
    per family by the 2-SF oracle sweep plus an sf0.1 before/after
    output diff this round."""
    # per-doc array-local signature: zero shuffles between the scan and
    # the band-bucket join (vs distinct-shingle + broadcast-join +
    # 32-column groupBy — measured ~40% faster end-to-end and two
    # full-data shuffles cheaper at scale).
    # band buckets → candidate pairs (distinct across bands)
    if lanes == "md5":
        # reuse the memoized per-corpus signature table when the
        # caller has one (_md5_sig_table); ad-hoc shingle frames build
        # their own projection as before
        sig = md5_sig if md5_sig is not None else H.with_minhash_sig(sh, "sh").drop("sh")
        sig_cols = [F.col(f"mh{i}") for i in range(H.N_LANES)]
        bands = F.array(
            *[
                F.struct(F.lit(b).alias("band"), H.band_key(sig_cols, b).alias("key"))
                for b in range(H.N_BANDS)
            ]
        )
        buckets = sig.select("doc_id", F.explode(bands).alias("bk"))
    else:
        # one module-cached expression (hashing.py::cand_bands): no
        # per-call py4j tree construction, much smaller Catalyst tree
        buckets = sh.select("doc_id", F.explode(H.cand_bands("sh")).alias("bk"))
    buckets = buckets.select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    l, r = buckets.alias("l"), buckets.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )

    # exact verification on the candidate set. The intersection is
    # materialized ONCE per pair via an explicit projection — putting
    # H.jaccard's tree straight into select() evaluates array_intersect
    # twice (numerator + union term; no CSE across the filter).
    # NO broadcast hint on the candidate-pair side: candidate volume is
    # corpus-proportional on template-heavy corpora (a bucket of B
    # boilerplate docs yields B² candidates — dup_graph_degrees exists
    # to find exactly these hubs), so a forced broadcast is an OOM at
    # 100 TB and the hint would FORBID AQE from degrading gracefully.
    # AQE still picks a broadcast join at runtime whenever the pair set
    # is genuinely small (its post-shuffle size is measured, not
    # estimated). The shingle table must never broadcast either way.
    # Hub-key SKEW on doc_a/doc_b (one template doc in thousands of
    # pairs) is handled by AQE skew-join splitting, not manual salting
    # — the split's activation on a hub corpus is pinned by
    # tests/test_dedup_closure.py::test_pair_verify_join_aqe_skew_split_activates.
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    # pair contract is EXACT integer basis points: j_bps is the
    # half-up integer (2*10^4*|A∩B| + |A∪B|) div (2*|A∪B|) over the
    # BIGINT set sizes — identical to the old ROUND(|A∩B|/|A∪B|, 4)
    # semantics (>= t ⟺ j_bps >= 10^4*t) minus the IEEE-halfway
    # hazard the r8/r9 driver reds traced to ROUND over a double
    # quotient. Per-pair quantities are per-doc sized, so BIGINT
    # never overflows at any corpus scale.
    # LOSSLESS size prefilter before the intersect (r10, guide §1.2):
    # j = i/u ≤ min(na,nb)/max(na,nb), and j_bps ≥ thr ⟺
    # 20000·i ≥ (2·thr−1)·u, so 20000·min < (2·thr−1)·max (exact
    # BIGINTs) proves a candidate can never pass — the O(|A|+|B|)
    # array_intersect runs only on size-compatible survivors. On a
    # k=2 corpus (every 2-gram high-frequency → candidate-rich) this
    # is the difference between verifying every bucket collision and
    # verifying plausible ones.
    thr_bps = _thr_bps(threshold)
    sized = (
        cand.join(sha, "doc_a")
        .join(shb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "sh_a",
            "sh_b",
            F.size("sh_a").cast("bigint").alias("na"),
            F.size("sh_b").cast("bigint").alias("nb"),
        )
        .where(
            F.lit(20000).cast("bigint") * F.least("na", "nb")
            >= F.lit(2 * thr_bps - 1).cast("bigint") * F.greatest("na", "nb")
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint").alias("n_inter"),
            "na",
            "nb",
        )
        .withColumn("un", F.col("na") + F.col("nb") - F.col("n_inter"))
    )
    jac = F.expr("(20000L * n_inter + un) div (2L * un)")
    if with_containment:
        out = sized.select(
            "doc_a",
            "doc_b",
            jac.alias("j_bps"),
            F.expr("(20000L * n_inter + na) div (2L * na)").alias("containment_a_bps"),
            F.expr("(20000L * n_inter + nb) div (2L * nb)").alias("containment_b_bps"),
        ).where(F.col("j_bps") >= _thr_bps(threshold))
    else:
        out = sized.select("doc_a", "doc_b", jac.alias("j_bps")).where(
            F.col("j_bps") >= _thr_bps(threshold)
        )
    return out.orderBy("doc_a", "doc_b") if ordered else out


def _closure_edges(
    docs: DataFrame, k: int, threshold: float, sf_dir: str | None = None
) -> DataFrame:
    """Connectivity-sufficient near-dup edge stream (doc_a, doc_b) for
    the transitive-CLOSURE consumers (dedup_clusters / dedup_keep_best
    / dedup_savings / dup_cluster_size_hist) — NOT the full verified
    pair set, which stays the contract of the pair-OUTPUT queries
    (dedup_minhash, dup_graph_degrees, ...).

    The hot-bucket B² problem: a bucket of B boilerplate copies emits
    C(B,2) candidate pairs, and for closure that is pure waste. Raw
    "star edges to the bucket minimum" would be UNSOUND here because an
    edge requires exact-Jaccard verification (two docs can each miss
    the threshold against the bucket min yet clear it with each other).
    The sound collapse is over IDENTICAL SHINGLE SETS:

    - docs are grouped by a fingerprint of their sorted shingle set;
      within a group J = 1 ≥ any threshold, so B−1 star edges
      (min-doc rep → member) reproduce the group clique's connectivity
      at linear cost with NO verification needed;
    - for any doc x outside the group, J(x, member) = J(x, rep)
      (equal sets), so the rep's verified pairs carry every member's
      cross-group edges.

    Components over (star ∪ verified-rep-pairs) therefore equal
    components over the full verified pair graph EXACTLY (pinned by
    tests/test_dedup_closure.py against brute force), while the
    dominant template-copy blowup drops from quadratic to linear. Only
    near-but-NOT-identical shingle sets still pay pair cost — which
    exact closure semantics genuinely require.

    Registry callers pass `sf_dir`: the edge stream (and its cached
    rep-shingle table) is memoized per (sf_dir, k, threshold), since
    dup_cluster_size_hist / dedup_savings re-derive clusters and would
    otherwise re-pin a fresh reps_sh handle per call (ADVICE r6).
    """
    return memo(
        docs.sparkSession, "closure", sf_dir, k, threshold,
        build=lambda: _closure_edges_build(docs, k, threshold, sf_dir),
    )[0]


def _closure_edges_build(docs: DataFrame, k: int, threshold: float, sf_dir: str | None):
    """(edges, reps_sh): the edge stream and the cached table it reads."""
    sh = _shingle_table(docs, k, sf_dir=sf_dir)
    fp = sh.select(
        "doc_id",
        "sh",
        F.md5(F.concat_ws("\x1f", F.array_sort("sh"))).alias("fp"),
    )
    grp = fp.groupBy("fp").agg(F.min("doc_id").alias("rep"))
    mem = fp.select("doc_id", "fp").join(grp, "fp")
    star = mem.where(F.col("doc_id") != F.col("rep")).select(
        F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    # cached for the same reason _shingle_table is: the rep table feeds
    # three branches inside the verify pipeline (signature, verify-left,
    # verify-right) — without the barrier each branch would recompute
    # the fingerprint groupBy + join
    reps_sh = (
        fp.join(grp.select(F.col("rep").alias("doc_id")), "doc_id")
        .select("doc_id", "sh")
        .cache()
    )
    rep_pairs = _verified_pairs_from_shingles(
        reps_sh, threshold, ordered=False
    ).select("doc_a", "doc_b")
    return star.unionByName(rep_pairs), reps_sh


@register(
    "dedup_ngram_jaccard",
    oracle=f"WITH {_shingle_cte(2)} {_pairs_sql(NGRAM_THRESHOLD)}",
    doc="Word-2-gram Jaccard near-dup pairs via LSH bucket-then-verify (exact-verified; see _lsh_verified_pairs).",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_verified_pairs(
        load_table(spark, sf_dir, "documents"), k=2, threshold=NGRAM_THRESHOLD, sf_dir=sf_dir
    )


@register(
    "dedup_minhash",
    headline=True,
    oracle=f"WITH {_shingle_cte(3)} {_pairs_sql(MINHASH_THRESHOLD)}",
    doc=(
        "MinHash+LSH near-dup: 32 md5-derived minhash lanes → 16 band buckets → "
        "bucket-local candidate pairs → exact-Jaccard verify (SURVEY §2.E). "
        "Oracle is exact all-pairs Jaccard; LSH recall at the threshold is ~1."
    ),
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_verified_pairs(
        load_table(spark, sf_dir, "documents"), k=3, threshold=MINHASH_THRESHOLD, sf_dir=sf_dir
    )


# anchored at the repo root (not the caller's cwd) — see ANN_INDEX_ROOT
import os as _os

MINHASH_INDEX_ROOT = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "spark-warehouse",
    "minhash_index",
)


def build_minhash_index(
    spark: SparkSession, sf_dir: str, index_dir: str | None = None
) -> str:
    """Materialize the MinHash band-bucket table for the documents
    corpus: (band, key, doc_id), partitioned by band (16 dirs) and
    key-sorted within partitions for row-group pruning. The 8-md5-per-
    shingle signature pass — the expensive part of every LSH dedup —
    runs ONCE at index-build time instead of inside each query plan
    (the reference's build-once index discipline, init_db.sql:53-67).
    Keys are NOT partition columns: band keys are corpus-cardinality,
    and one directory per key is a small-file storm at any scale.
    Idempotent per corpus dir."""
    import os

    from email_etl_spark.sinks.parquet import write_partitioned

    index_dir = index_dir or os.path.join(
        MINHASH_INDEX_ROOT, os.path.basename(sf_dir.rstrip("/"))
    )
    if not os.path.exists(os.path.join(index_dir, "_SUCCESS")):
        docs = load_table(spark, sf_dir, "documents")
        toks = parallelize_scan(docs).select("doc_id", T.tokens(F.col("text")).alias("toks"))
        sh = toks.select("doc_id", H.shingles(F.col("toks"), k=3).alias("sh"))
        sig = H.with_minhash_sig(sh, "sh").drop("sh")
        sig_cols = [F.col(f"mh{i}") for i in range(H.N_LANES)]
        bands = F.array(
            *[
                F.struct(F.lit(b).alias("band"), H.band_key(sig_cols, b).alias("key"))
                for b in range(H.N_BANDS)
            ]
        )
        buckets = sig.select("doc_id", F.explode(bands).alias("bk")).select(
            "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
        )
        write_partitioned(buckets, index_dir, ["band"], sort_col="key")
    return index_dir


@register(
    "dedup_minhash_indexed",
    oracle=f"WITH {_shingle_cte(3)} {_pairs_sql(MINHASH_THRESHOLD)}",
    doc=(
        "MinHash+LSH near-dup served from the PERSISTED band-bucket "
        "index (build_minhash_index): candidates come from a self-join "
        "of the stored (band, key, doc_id) table — the signature pass "
        "never re-runs at query time — and exact-Jaccard verification "
        "shingles ONLY the candidate docs (broadcast semi-join), so "
        "query-time work scales with the candidate set, not the "
        "corpus. Same results and oracle as dedup_minhash "
        "(SURVEY §2.E)."
    ),
)
def dedup_minhash_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    index_dir = build_minhash_index(spark, sf_dir)
    idx = open_parquet(spark, index_dir)
    l, r = idx.alias("l"), idx.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    # shingle ONLY candidate docs for verification
    docs = load_table(spark, sf_dir, "documents")
    cand_docs = (
        cand.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id")).distinct()
    )
    # candidate-side joins carry NO broadcast hint (candidate volume is
    # corpus-proportional on template-heavy corpora; see
    # _lsh_verified_pairs) — AQE broadcasts at runtime when small.
    sh = (
        docs.join(cand_docs, "doc_id")
        .select("doc_id", T.tokens(F.col("text")).alias("toks"))
        .select("doc_id", H.shingles(F.col("toks"), k=3).alias("sh"))
    )
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    sized = (
        cand
        .join(sha, "doc_a")
        .join(shb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint").alias("n_inter"),
            F.size("sh_a").cast("bigint").alias("na"),
            F.size("sh_b").cast("bigint").alias("nb"),
        )
        .withColumn("un", F.col("na") + F.col("nb") - F.col("n_inter"))
    )
    jac = F.expr("(20000L * n_inter + un) div (2L * un)")
    return (
        sized.select("doc_a", "doc_b", jac.alias("j_bps"))
        .where(F.col("j_bps") >= _thr_bps(MINHASH_THRESHOLD))
        .orderBy("doc_a", "doc_b")
    )


@register(
    "dedup_embedding",
    oracle=f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {duckdb_cosine("a.embedding", "b.embedding")} AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {duckdb_cosine("a.embedding", "b.embedding")} >= {EMB_THRESHOLD}
ORDER BY vec_a, vec_b
""",
    doc=(
        "Embedding-cosine near-dup pairs (SURVEY §2.E): the knn_join "
        "block-tile kernel with a similarity floor instead of k — vectors "
        "fall into P = ceil(n/4096) mod-blocks, every block-pair tile is "
        "one bounded NumPy matmul task that keeps the cells within the "
        "4-digit rounding tolerance of the threshold, then exact "
        "sequential-fold verification on the survivors. Fully "
        "distributed: no driver collect, no corpus broadcast, no "
        "candidate distinct (each ordered pair comes from exactly one "
        "tile; the vec_a < vec_b half is kept) — the semantics are exact "
        "all-pairs, and P grows with the corpus so each tile fits one "
        "task."
    ),
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from email_etl_spark.plans.search import _tile_pairs

    # the kernel emits both orientations of each kept pair exactly
    # once; the q < n half is the (vec_a, vec_b) contract, no distinct
    return (
        _tile_pairs(spark, sf_dir, floor=EMB_THRESHOLD)
        .where((F.col("q") < F.col("n")) & (F.col("c") >= EMB_THRESHOLD))
        .select(F.col("q").alias("vec_a"), F.col("n").alias("vec_b"), F.col("c").alias("cos_sim"))
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# SimHash dedup — 64-bit sign-sum fingerprint over the distinct token
# set; near-dup pairs are pairs within Hamming distance HAM_T. The
# 4-block bucketing is EXACT by pigeonhole (≤3 differing bits over 4
# blocks ⇒ one block identical), so unlike MinHash there is no recall
# gap at all: bucket-join candidates + exact Hamming verify ≡ the
# all-pairs scan.
# ---------------------------------------------------------------------------

HAM_T = 3
_HEX = "0123456789abcdef"


def _simhash_pack_kernel(hs_series):
    """Arrow batch kernel for the 64-bit simhash packing. EXACT
    integer arithmetic end to end (per-bit count of set bits → sign
    of 2·c − n → two's-complement packing), so the output is
    bit-identical to the old 64-fold JVM form on every input — only
    the counting method changed, not one arithmetic operation. The
    pure-Python reference twin lives in
    tests/test_simhash_kernel.py."""
    import numpy as np
    import pandas as pd

    shifts = np.arange(63, -1, -1, dtype=np.uint64)
    one = np.uint64(1)
    out = []
    for lst in hs_series:
        n = 0 if lst is None else len(lst)
        if n == 0:
            out.append([0, 0, 0, 0, 0])
            continue
        vals = np.array([int(h, 16) for h in lst], dtype=np.uint64)
        c = ((vals[:, None] >> shifts) & one).sum(axis=0).astype(np.int64)
        bit = (2 * c - n) > 0
        sig_u = int((bit.astype(np.uint64) << shifts).sum(dtype=np.uint64))
        sig = sig_u - (1 << 64) if sig_u >= (1 << 63) else sig_u
        out.append(
            [sig] + [(sig_u >> (16 * (3 - b))) & 0xFFFF for b in range(4)]
        )
    return pd.Series(out)


_SIMHASH_PACK_UDF = None


def _simhash_ints_df(hashes: DataFrame, keep: list[str], hs_col: str = "hs") -> DataFrame:
    """(keep..., sig, blk0..blk3) — simhash packed as integers: sig is
    the full 64-bit bigint fingerprint, blk0..blk3 the 16-bit block
    keys. Integer packing makes pair verification one bit_count(xor)
    instead of 64 string comparisons.

    r10 (guide §4.2): the signature is computed by ONE Arrow batch
    kernel instead of 64 independent JVM aggregate folds over the
    hash array — the folds cost O(64·n_tokens) interpreted lambda
    evaluations per doc and measured 10.3 s over the sf0.1 corpus vs
    0.7 s for the kernel. The kernel's integer math reproduces the
    fold bit-for-bit (see _simhash_pack_kernel); the packed array is
    materialized in a named projection so the 5 outputs read one
    ArrowEvalPython result, never 5."""
    global _SIMHASH_PACK_UDF
    if _SIMHASH_PACK_UDF is None:  # lazy: pandas_udf needs an active session
        _SIMHASH_PACK_UDF = F.pandas_udf(_simhash_pack_kernel, "array<bigint>")
    packed = hashes.select(*keep, _SIMHASH_PACK_UDF(F.col(hs_col)).alias("_p"))
    return packed.select(
        *keep,
        F.element_at(F.col("_p"), 1).alias("sig"),
        *[F.element_at(F.col("_p"), b + 2).alias(f"blk{b}") for b in range(4)],
    )


def _simhash_sql() -> str:
    terms = []
    for p in range(16):
        for b in range(4):
            contrib = (
                f"list_sum(list_transform(hs, h -> "
                f"((strpos('{_HEX}', h[{p + 1}]) - 1 >> {3 - b}) & 1) * 2 - 1))"
            )
            terms.append(f"CASE WHEN {contrib} > 0 THEN '1' ELSE '0' END")
    return " || ".join(terms)


_HAMMING_SQL = (
    "list_sum(list_transform(range(1, 65), "
    "i -> CASE WHEN a.bits[i] <> b.bits[i] THEN 1 ELSE 0 END))"
)


@register(
    "dedup_simhash",
    oracle=f"""
WITH tok AS (SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents),
hsh AS (SELECT doc_id, list_transform(toks, t -> substr(md5(t), 1, 16)) AS hs FROM tok),
sim AS (SELECT doc_id, {_simhash_sql()} AS bits FROM hsh)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST({_HAMMING_SQL} AS BIGINT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE {_HAMMING_SQL} <= {HAM_T}
ORDER BY doc_a, doc_b
""",
    doc=(
        "64-bit SimHash near-dup pairs at Hamming <= 3; 4-block bucketing is "
        "exact by pigeonhole — bucket-join + verify equals the all-pairs scan "
        "with zero recall loss (SURVEY §2.E)."
    ),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # heavy per-row hash work: spread the single-split scan (io.py)
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.array_distinct(T.tokens(F.col("text"))).alias("toks")
    )
    hashes = toks.select(
        "doc_id",
        F.transform(F.col("toks"), lambda t: F.substring(F.md5(t), 1, 16)).alias("hs"),
    )
    sim = _simhash_ints_df(hashes, ["doc_id"])

    # pigeonhole blocks: pairs at Hamming <= 3 must agree on >= 1 of 4
    # 16-bit blocks → bucket join instead of cross join; the hamming
    # filter applies INSIDE the join (bit_count of xor) so candidate
    # pairs never materialize as a wide intermediate
    blocks = F.array(
        *[F.struct(F.lit(b).alias("blk"), F.col(f"blk{b}").alias("key")) for b in range(4)]
    )
    buckets = sim.select("doc_id", "sig", F.explode(blocks).alias("bk")).select(
        "doc_id", "sig", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key")
    )
    l, r = buckets.alias("l"), buckets.alias("r")
    ham = F.bit_count(F.col("l.sig").bitwiseXOR(F.col("r.sig")))
    return (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .where(ham <= HAM_T)
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            ham.cast("bigint").alias("hamming"),
        )
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


@register(
    "dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_shingle_cte(3)},
pairs AS {{_pairs}},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
-- transitive closure by recursive reachability (small near-dup graph)
reach AS (
  SELECT node, node AS reachable FROM nodes
  UNION
  SELECT r.node, e.b FROM reach r JOIN edges e ON r.reachable = e.a
)
SELECT node AS doc_id, MIN(reachable) AS cluster_id
FROM reach GROUP BY node ORDER BY doc_id
""".replace("{_pairs}", "(" + _pairs_sql(MINHASH_THRESHOLD).replace("ORDER BY doc_a, doc_b", "") + ")"),
    doc=(
        "Duplicate clusters: transitive closure over near-dup pairs via "
        "min-label propagation WITH pointer jumping (operators/graph.py: "
        "O(log diameter) rounds, and a loud ConvergenceError instead of "
        "silent partial labels if max_iter is ever exhausted) — keeps "
        "one representative per duplicate GROUP, not per pair. "
        "Closure-only consumer: identical-shingle docs are collapsed to "
        "a rep before pair generation (_closure_edges), so the "
        "hot-bucket B² pair stream becomes B−1 star edges with provably "
        "identical components; all four closure consumers share ONE "
        "memoized components run per corpus (_closure_components). "
        "Oracle computes the same closure with a recursive CTE over the "
        "exact all-pairs graph (SURVEY §2.E)."
    ),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # closure-only consumer: identical-shingle docs are collapsed to a
    # rep before pair generation (see _closure_edges) — components are
    # provably identical to the full verified-pair graph's, but the
    # B² hot-bucket pair stream becomes B−1 star edges
    comp = _closure_components(spark, sf_dir, k=3, threshold=MINHASH_THRESHOLD)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    ).orderBy("doc_id")


def _containment_sql(threshold: float) -> str:
    i = "len(list_intersect(a.sh, b.sh))"
    jac = _jbps_sql(i, "len(a.sh)", "len(b.sh)")
    return f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST({jac} AS BIGINT) AS j_bps,
       CAST((20000 * {i} + len(a.sh)) // (2 * len(a.sh)) AS BIGINT) AS containment_a_bps,
       CAST((20000 * {i} + len(b.sh)) // (2 * len(b.sh)) AS BIGINT) AS containment_b_bps
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE {jac} >= {_thr_bps(threshold)}
ORDER BY doc_a, doc_b
"""


@register(
    "dedup_containment",
    oracle=f"WITH {_shingle_cte(2)} {_containment_sql(NGRAM_THRESHOLD)}",
    doc=(
        "Near-dup pairs with shingle CONTAINMENT scores (|A∩B|/|A| and "
        "/|B|) alongside Jaccard — the asymmetric signal that flags "
        "doc-inside-doc duplication (boilerplate wrapping, quoted replies: "
        "the reference's reply-chain corpus makes these common). Same "
        "LSH bucket-then-verify pair discovery as dedup_ngram_jaccard "
        "(SURVEY §2.E)."
    ),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_verified_pairs(
        load_table(spark, sf_dir, "documents"),
        k=2,
        threshold=NGRAM_THRESHOLD,
        with_containment=True,
        sf_dir=sf_dir,
    )


@register(
    "dup_rate_by_source",
    oracle="""
WITH f AS (
  SELECT source,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM documents
),
c AS (SELECT fp, COUNT(*) AS n_copies FROM f GROUP BY fp)
SELECT f.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN c.n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       CAST(CAST(SUM(CASE WHEN c.n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) * 10000
            // COUNT(*) AS BIGINT) AS dup_rate_bps
FROM f JOIN c ON f.fp = c.fp
GROUP BY f.source ORDER BY f.source
""",
    doc=(
        "Duplication-rate QA per source: share of docs whose exact "
        "fingerprint occurs more than once anywhere in the corpus "
        "(curation health metric; exact-integer bps — the rate is "
        "(n_dup*10000) DIV n, never touching doubles, so a distributed "
        "sum and a single-threaded oracle cannot diverge). Two hash-key "
        "shuffles: global fingerprint counts, then a co-partitioned "
        "join back — both map-side combined."
    ),
)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select("source", T.fingerprint(F.col("text")).alias("fp"))
    c = f.groupBy("fp").agg(F.count("*").alias("n_copies"))
    dup = F.when(F.col("n_copies") > 1, 1).otherwise(0)
    return (
        f.join(c, "fp")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(dup).cast("bigint").alias("n_dup_docs"),
        )
        .withColumn(
            "dup_rate_bps", F.expr("(n_dup_docs * 10000L) div n_docs").cast("bigint")
        )
        .orderBy("source")
    )


SUBSTR_K = 30  # duplicated-span width (chars)

# 64-bit polynomial rolling-hash base for the span-candidate pass
# (odd constant, wraps mod 2^64). The hash is CANDIDATE-ONLY: equal
# spans always collide (recall 1), and the exact string groupBy below
# removes any accidental collision, so the duplicated-span decision is
# exactly the string-equality one at every scale.
_SPAN_HASH_B = 1099511628211


def _span_hash_kernel(it):
    """mapInPandas batch kernel: (doc_id, source, text) -> one row per
    char position with the 64-bit polynomial hash of its SUBSTR_K-char
    span. Replaces the JVM transform(sequence, p -> substring(text, p,
    K)) explode: UTF8String.substring walks p chars to find the char
    offset, so that form pays O(len²) char steps per doc AND ships
    30-char strings through two exchanges; here the codepoint array is
    decoded once (O(len)), the window hashes are K vectorized
    multiply-adds (exact uint64 wrap), and only 8-byte hashes cross
    the boundary (guide §4.2 + §2.3/§8: shuffle a proxy, not the
    payload). `pos` is the 0-based position the old posexplode
    emitted."""
    import numpy as np
    import pandas as pd

    K = SUBSTR_K
    pows = np.array(
        [pow(_SPAN_HASH_B, K - 1 - i, 1 << 64) for i in range(K)], dtype=np.uint64
    )
    for pdf in it:
        ids, srcs, poss, hs = [], [], [], []
        for did, src, txt in zip(pdf["doc_id"], pdf["source"], pdf["text"]):
            if txt is None:
                continue
            cp = np.frombuffer(txt.encode("utf-32-le"), dtype=np.uint32).astype(
                np.uint64
            )
            m = cp.size - K + 1
            if m <= 0:
                continue
            H = np.zeros(m, dtype=np.uint64)
            for i in range(K):
                H += cp[i : i + m] * pows[i]
            ids.append(np.full(m, did, dtype=np.int64))
            srcs.append(np.full(m, src, dtype=object))
            poss.append(np.arange(m, dtype=np.int32))
            hs.append(H.view(np.int64))
        if ids:
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids),
                    "source": np.concatenate(srcs),
                    "pos": np.concatenate(poss),
                    "h": np.concatenate(hs),
                }
            )


@register(
    "dedup_substring",
    oracle=f"""
WITH base AS (SELECT doc_id, source, length(text) AS n_chars FROM documents),
sh AS (
  SELECT doc_id, source, u.pos, substr(text, u.pos, {SUBSTR_K}) AS sh
  FROM documents CROSS JOIN UNNEST(range(1, length(text) - {SUBSTR_K} + 2)) AS u(pos)
  WHERE length(text) >= {SUBSTR_K}
),
dup AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
dp AS (SELECT s.doc_id, s.source, s.pos FROM sh s WHERE s.sh IN (SELECT sh FROM dup)),
cov AS (
  SELECT doc_id, source,
         COALESCE(LEAST(LEAD(pos) OVER w - pos, {SUBSTR_K}), {SUBSTR_K}) AS contrib,
         CASE WHEN LAG(pos) OVER w IS NULL OR pos - LAG(pos) OVER w > {SUBSTR_K}
              THEN 1 ELSE 0 END AS new_span
  FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
per_doc AS (
  SELECT doc_id, source, SUM(contrib) AS dup_chars, SUM(new_span) AS n_spans
  FROM cov GROUP BY 1, 2
),
per_src AS (
  SELECT source, COUNT(*) AS n_dup_docs, SUM(n_spans) AS n_spans,
         SUM(dup_chars) AS dup_chars
  FROM per_doc GROUP BY source
),
tot AS (SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars FROM base GROUP BY source)
SELECT t.source,
       t.n_docs,
       CAST(COALESCE(p.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
       CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(p.dup_chars, 0) AS BIGINT) AS dup_chars,
       CAST(COALESCE(p.dup_chars, 0) * 10000 // t.total_chars AS BIGINT) AS dup_bps
FROM tot t LEFT JOIN per_src p USING (source)
ORDER BY t.source
""",
    doc=(
        "Exact duplicated-SUBSTRING coverage per source (the "
        "suffix-array-style train-data dedup signal: how many chars sit "
        "inside a >=30-char span shared verbatim by another document). "
        "Shape: every char position contributes one 30-char shingle "
        "(JVM-side transform+posexplode, no Python); cross-doc repeated "
        "shingles found by one map-side-combined groupBy; coverage is an "
        "exact interval-union computed with one lead() window per doc "
        "(min(next-pos, K) per position — adjacent duplicated windows "
        "never double-count). Exact-integer bps. At 100 TB the shingle "
        "stream is C*K bytes: stride the positions (every 4th char) or "
        "shingle per-partition suffix arrays first; the plan shape "
        "(explode -> count -> join-back -> per-doc window) is unchanged."
    ),
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "source", F.length("text").alias("n_chars"))
    # r10 rewrite (guide §2.3/§4.2/§8; 11.9 s -> see OPTIMIZATION_r10):
    # 1. one Arrow pass emits an 8-byte rolling hash per char position
    #    (the old JVM substring explode walked O(len²) chars per doc
    #    and shuffled 30-char spans twice);
    # 2. candidate spans = hashes seen in ≥2 docs (recall 1: equal
    #    strings always hash equal);
    # 3. the EXACT string decision is re-made on the candidate subset
    #    only — substring extraction and the string groupBy now touch
    #    just the (near-)duplicated positions, so the output is the
    #    same exact duplicated-span set, collision-proof.
    pos_h = parallelize_scan(docs).select("doc_id", "source", "text").mapInPandas(
        _span_hash_kernel, schema="doc_id bigint, source string, pos int, h bigint"
    )
    cand_h = (
        pos_h.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    cand = pos_h.join(cand_h, "h").select("doc_id", "source", "pos")
    cand_sh = cand.join(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        "source",
        "pos",
        F.expr(f"substring(text, pos + 1, {SUBSTR_K})").alias("sh"),
    )
    dup_sh = (
        cand_sh.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("nd2"))
        .where(F.col("nd2") >= 2)
        .select("sh")
    )
    dp = cand_sh.join(dup_sh, "sh").select("doc_id", "source", "pos")

    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    contrib = F.coalesce(
        F.least(F.lead("pos").over(w) - F.col("pos"), F.lit(SUBSTR_K)),
        F.lit(SUBSTR_K),
    )
    new_span = F.when(
        F.lag("pos").over(w).isNull() | ((F.col("pos") - F.lag("pos").over(w)) > SUBSTR_K),
        1,
    ).otherwise(0)
    per_doc = (
        dp.select("doc_id", "source", contrib.alias("contrib"), new_span.alias("new_span"))
        .groupBy("doc_id", "source")
        .agg(F.sum("contrib").alias("dup_chars"), F.sum("new_span").alias("n_spans"))
    )
    per_src = per_doc.groupBy("source").agg(
        F.count("*").alias("n_dup_docs"),
        F.sum("n_spans").alias("n_spans"),
        F.sum("dup_chars").alias("dup_chars"),
    )
    return (
        base.groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .join(per_src, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_dup_docs", F.lit(0)).cast("bigint").alias("n_dup_docs"),
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("dup_chars", F.lit(0)).cast("bigint").alias("dup_chars"),
            F.expr("(coalesce(dup_chars, 0) * 10000L) div total_chars")
            .cast("bigint")
            .alias("dup_bps"),
        )
        .orderBy("source")
    )


def _quality_sql_fragment() -> str:
    """The quality_score oracle expression (plans/text.py), reused so
    keep-best decisions hash-match the standalone quality query."""
    from email_etl_spark.plans.text import _PUNCT, _stop_sql

    return (
        "ROUND(0.4 * LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0)"
        f" + 0.3 * LEAST(4.0 * {_stop_sql(T.STOPWORDS)} / GREATEST(CAST(len({_TOKS}) AS DOUBLE), 1.0), 1.0)"
        f" + 0.3 * (1.0 - LEAST(4.0 * {_PUNCT} / GREATEST(CAST(length(text) AS DOUBLE), 1.0), 1.0)), 4)"
    )


@register(
    "dedup_keep_best",
    oracle=None,  # assembled below (needs text helpers at import time)
    doc=(
        "Curation keep-best: inside every transitive near-dup cluster "
        "keep the highest-quality member (quality tie -> lowest doc_id). "
        "The step after dedup_clusters in a real pipeline: clusters from "
        "the LSH bucket path + min-label propagation, quality from the "
        "shared heuristic, one window per cluster. Oracle composes the "
        "recursive-CTE closure with the same quality expression "
        "(SURVEY §2.E)."
    ),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # closure-only consumer — collapsed edge stream (see _closure_edges)
    comp = _closure_components(spark, sf_dir, k=3, threshold=MINHASH_THRESHOLD)
    q = parallelize_scan(docs).select(
        "doc_id", T.quality_score(F.col("text")).alias("quality")
    )
    m = comp.select(F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")).join(
        q, "doc_id"
    )
    # per-cluster argmax (quality DESC, doc_id ASC) as ONE aggregation:
    # max(struct(quality, -doc_id)) replays the row_number window's
    # sort order without the per-cluster sort exchange — map-side
    # partial combining ships ≤1 row per (cluster, map partition)
    # (guide §2.3; same rewrite as semdedup_prune). quality_score's
    # regex passes also run on a parallelized scan now instead of the
    # raw single-split parquet read.
    best = m.groupBy("cluster_id").agg(
        F.max(F.struct(F.col("quality"), (-F.col("doc_id")).alias("nd"))).alias("b"),
        F.count("*").alias("n_members"),
    )
    return best.select(
        "cluster_id",
        (-F.col("b.nd")).alias("keep_doc_id"),
        "n_members",
        F.col("b.quality").alias("best_quality"),
    ).orderBy("cluster_id")


def _keep_best_oracle() -> str:
    pairs = "(" + _pairs_sql(MINHASH_THRESHOLD).replace("ORDER BY doc_a, doc_b", "") + ")"
    return f"""
WITH RECURSIVE {_shingle_cte(3)},
pairs AS {pairs},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach AS (
  SELECT node, node AS reachable FROM nodes
  UNION
  SELECT r.node, e.b FROM reach r JOIN edges e ON r.reachable = e.a
),
clusters AS (SELECT node AS doc_id, MIN(reachable) AS cluster_id FROM reach GROUP BY node),
q AS (SELECT doc_id, {_quality_sql_fragment()} AS quality FROM documents),
m AS (
  SELECT c.cluster_id, c.doc_id, q.quality,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.quality DESC, c.doc_id) AS rn
  FROM clusters c JOIN q USING (doc_id)
)
SELECT cluster_id,
       MAX(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id,
       COUNT(*) AS n_members,
       MAX(CASE WHEN rn = 1 THEN quality END) AS best_quality
FROM m GROUP BY cluster_id ORDER BY cluster_id
"""


# late-bind the oracle (reuses plans.text SQL fragments; building it at
# decoration time would be an import cycle) — same pattern as
# curation_funnel
from email_etl_spark.plans.registry import REGISTRY as _R  # noqa: E402
import dataclasses as _dc  # noqa: E402

_R["dedup_keep_best"] = _dc.replace(_R["dedup_keep_best"], oracle=_keep_best_oracle())


@register(
    "dup_graph_degrees",
    oracle=f"""
WITH {_shingle_cte(3)},
pairs AS ({_pairs_sql(MINHASH_THRESHOLD).replace("ORDER BY doc_a, doc_b", "")}),
deg AS (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT doc_a AS node FROM pairs
    UNION ALL SELECT doc_b FROM pairs
  ) GROUP BY node
)
SELECT CAST(degree AS BIGINT) AS degree,
       COUNT(*) AS n_docs,
       CAST(MIN(node) AS BIGINT) AS example_doc
FROM deg GROUP BY degree ORDER BY degree
""",
    doc=(
        "Near-dup graph degree distribution (template/boilerplate HUB "
        "detection: a doc near-duplicating many others is a template, "
        "not an accident). Pairs come from the same LSH bucket path as "
        "dedup_minhash; degrees are one union + map-side-combined "
        "count; the histogram is a second tiny aggregate. Heavy hubs "
        "are exactly the skewed keys operators/skew.py salts at scale "
        "(SURVEY §2.E)."
    ),
)
def dup_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _lsh_verified_pairs(docs, k=3, threshold=MINHASH_THRESHOLD, sf_dir=sf_dir)
    # explode BOTH endpoints from one projection — unionAll of two
    # selects builds (and runs) the whole LSH pair pipeline twice
    # (round-3 audit: 29 exchanges where ~15 suffice)
    nodes = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("node")
    )
    deg = nodes.groupBy("node").agg(F.count("*").alias("degree"))
    return (
        deg.groupBy(F.col("degree").cast("bigint").alias("degree"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("node").cast("bigint").alias("example_doc"),
        )
        .orderBy("degree")
    )


_RECALL_SAMPLE_HI = "80"  # 128/256 = 50% deterministic doc sample


def _lsh_oracle_sql() -> str:
    """DuckDB replication of the FULL MinHash+LSH pipeline — lanes,
    band keys, bucket join, exact-Jaccard verify — bit-for-bit with
    functions/hashing.py (every hash is md5-derived by design so any
    SQL engine reproduces it). Runs on the sampled stratum only: a
    sampled pair collides in a band independently of all other docs,
    so LSH-restricted-to-sample == full-corpus-LSH ∩ sample×sample."""
    lane = (
        lambda l: "list_min(list_transform(sh, s -> "
        f"substring(md5('{l // H.LANES_PER_GROUP}:' || s), {1 + 8 * (l % H.LANES_PER_GROUP)}, 8)))"
    )
    band_keys = ", ".join(
        f"{lane(2 * b)} || {lane(2 * b + 1)}" for b in range(H.N_BANDS)
    )
    jac = _jbps_sql(
        "len(list_intersect(sa.sh, sb.sh))", "len(sa.sh)", "len(sb.sh)"
    )
    jac_ab = _jbps_sql(
        "len(list_intersect(a.sh, b.sh))", "len(a.sh)", "len(b.sh)"
    )
    parts = " || ' ' || ".join(f"toks[i+{j}]" for j in range(3))
    return f"""
WITH tok AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
  WHERE substr(md5('recall:' || CAST(doc_id AS VARCHAR)), 1, 2) < '{_RECALL_SAMPLE_HI}'
),
sh AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_distinct(list_transform(range(1, len(toks) - 1), i -> {parts}))
              ELSE [array_to_string(toks, ' ')] END AS sh
  FROM tok
),
sig AS MATERIALIZED (SELECT doc_id, [{band_keys}] AS keys FROM sh),
bk AS (
  SELECT doc_id, bb.b AS band, keys[bb.b] AS key
  FROM sig CROSS JOIN (SELECT unnest(range(1, {H.N_BANDS + 1})) AS b) bb
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bk l JOIN bk r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
),
lsh AS MATERIALIZED (
  SELECT c.doc_a, c.doc_b
  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b
  WHERE {jac} >= {_thr_bps(MINHASH_THRESHOLD)}
),
exact AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE {jac_ab} >= {_thr_bps(MINHASH_THRESHOLD)}
),
hits AS (SELECT doc_a, doc_b FROM exact INTERSECT SELECT doc_a, doc_b FROM lsh)
SELECT (SELECT COUNT(*) FROM exact) AS n_exact_pairs,
       (SELECT COUNT(*) FROM hits) AS n_lsh_pairs,
       CAST(CASE WHEN (SELECT COUNT(*) FROM exact) > 0
                 THEN ((SELECT COUNT(*) FROM hits) * 10000) // (SELECT COUNT(*) FROM exact)
                 ELSE 10000 END AS BIGINT) AS recall_bps
"""


@register(
    "minhash_recall_eval",
    oracle=_lsh_oracle_sql(),
    doc=(
        "Dedup QA: recall of the MinHash+LSH candidate path against an "
        "exact Jaccard scan at the same threshold — the pre-deployment "
        "gate for the banding config (16 bands x 2 rows: expected miss "
        "~8e-4 at J=0.6). The exact side runs on a DETERMINISTIC 50% "
        "md5 doc sample (the train_val_split trick) so the quadratic "
        "inequality join touches O((p*n)^2) not O(n^2) — tune p down "
        "as the corpus grows; recall is statistical by design. The LSH "
        "side is the production path unchanged (restricting the "
        "intersection to sampled pairs is exact: band collisions are "
        "pair-local). The oracle independently replicates the ENTIRE "
        "LSH pipeline in DuckDB (md5 lanes, band buckets, verify), so "
        "the gate checks the LSH pair counting itself, not just the "
        "exact side."
    ),
)
def minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # lanes="md5": this query's ORACLE replays the md5 LSH pipeline —
    # the output measures the md5 bucketing's own recall, so the
    # candidate path must stay on the contract lanes
    lsh_pairs = _lsh_verified_pairs(
        docs, k=3, threshold=MINHASH_THRESHOLD, sf_dir=sf_dir, lanes="md5"
    ).select("doc_a", "doc_b")
    # deterministic md5 doc sample bounds the quadratic exact side;
    # the sample filter runs on doc_id only, so it applies directly to
    # the CACHED per-corpus shingle table (no second tokenize+shingle
    # pass over the sampled docs — r10, guide §1.2)
    sh = _shingle_table(docs, 3, sf_dir=sf_dir).where(
        F.substring(
            F.md5(F.concat(F.lit("recall:"), F.col("doc_id").cast("string"))), 1, 2
        )
        < _RECALL_SAMPLE_HI
    )
    # r10 (133 s -> see OPTIMIZATION_r10): lossless size prefilter,
    # single array_intersect, one-pass conditional counts. r11 (guide
    # §3 "avoid accidental cartesian products"; VERDICT r10 #2): the
    # remaining O((p·n)²) BroadcastNestedLoopJoin replaced by EXACT
    # prefix filtering (the published AllPairs/PPJoin candidate rule):
    # the half-up gate j_bps ≥ thr_bps unwinds to 20000·i ≥
    # (2·thr_bps−1)·u (truncating-div algebra, VERDICT r10-verified),
    # and u ≥ |A| gives every qualifying pair an overlap lower bound
    # α(A) = ceil(gate·|A| / 20000). Sorting both shingle sets by ONE
    # global order (lexicographic array_sort), if |A∩B| ≥ α then the
    # first |A|−α+1 elements of A and the first |B|−α+1 of B must share
    # an element — so an equi-join on exploded PREFIX shingles yields a
    # provable superset of the exact pair set, at O(Σ prefix·df)
    # instead of O((p·n)²) pair probes. Word-3-gram shingles are
    # near-unique across docs, so the join output is close to the true
    # pair set; the r10 size prefilter still gates the verify.
    _gate = 2 * _thr_bps(MINHASH_THRESHOLD) - 1  # 11999 at thr 0.6
    ss = sh.select(
        "doc_id",
        F.array_sort("sh").alias("sh"),
        F.size("sh").alias("n"),
    )
    # prefix length = n − α + 1, α = ceil(gate·n/20000) (exact integer)
    pref = F.slice(
        F.col("sh"),
        1,
        F.col("n") - F.expr(f"({_gate}L * n + 19999) div 20000") + 1,
    )
    pa = ss.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("na"),
        F.explode(pref).alias("tok"),
    )
    pb = ss.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("nb"),
        F.explode(pref).alias("tok_b"),
    )
    cand = (
        pa.join(
            pb,
            (F.col("tok") == F.col("tok_b"))
            & (F.col("doc_a") < F.col("doc_b"))
            # the r10 lossless size prefilter, now inside the equi-join
            & (
                F.lit(20000).cast("bigint") * F.least("na", "nb")
                >= F.lit(_gate).cast("bigint") * F.greatest("na", "nb")
            ),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = ss.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = ss.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    sized = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size("sh_a").alias("na"),
            F.size("sh_b").alias("nb"),
            F.size(F.array_intersect("sh_a", "sh_b")).alias("ni"),
        )
    )
    # exact integer gate, same algebra as the oracle's j_bps ≥ thr_bps
    # ((20000·i + u) div (2·u) ≥ thr ⟺ 20000·i ≥ (2·thr−1)·u): no
    # double division or ROUND left in the pair filter
    _u = F.col("na") + F.col("nb") - F.col("ni")
    exact_pairs = sized.where(
        F.lit(20000).cast("bigint") * F.col("ni")
        >= F.lit(_gate).cast("bigint") * _u
    ).select("doc_a", "doc_b")
    flagged = exact_pairs.join(
        lsh_pairs.withColumn("hit", F.lit(1)), ["doc_a", "doc_b"], "left"
    )
    return flagged.agg(
        F.count("*").cast("bigint").alias("n_exact_pairs"),
        F.count("hit").cast("bigint").alias("n_lsh_pairs"),
    ).select(
        "n_exact_pairs",
        "n_lsh_pairs",
        F.when(
            F.col("n_exact_pairs") > 0,
            F.expr("(n_lsh_pairs * 10000L) div n_exact_pairs"),
        )
        .otherwise(F.lit(10000))
        .cast("bigint")
        .alias("recall_bps"),
    )


SEMDEDUP_THRESHOLD = 0.45  # cosine; aligned with dedup_embedding


def _semdedup_k(n: int) -> int:
    """Corpus-derived cluster count for SemDeDup: K = max(KM_K, floor(sqrt n)).

    With K ∝ √n, expected cluster size is √n and within-cluster pair
    work Σ per-cluster² ≈ K·(n/K)² = n²/K = n^1.5 — genuinely sublinear
    in pair space as the corpus grows, matching the published SemDeDup
    recipe of scaling cluster count with corpus size (a compile-time
    constant K keeps pair work Θ(n²/const), i.e. still quadratic).
    math.isqrt(n) == FLOOR(SQRT(n)) in SQL for every realistic n (IEEE
    sqrt is correctly rounded; doubles are exact to 2^53)."""
    import math

    from email_etl_spark.plans.search import KM_K

    return max(KM_K, math.isqrt(n))


def _semdedup_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # memoized, .cache()d coarse assignment (vec_id, embedding, cid):
    # the within-cluster pair stage self-joins the assignment, and
    # without a barrier BOTH sides re-run the Arrow assign kernel and
    # the corpus scan (measured ~2x wall at sf0.1). Materializing the
    # assignment is the published SemDeDup shape (cluster once, then
    # prune per cluster).
    return memo(spark, "semdedup", sf_dir, build=lambda: _semdedup_assign(spark, sf_dir))


def _semdedup_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from email_etl_spark.plans.search import _km_assign, _n_vectors

    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    k = _semdedup_k(_n_vectors(spark, sf_dir))
    init = (
        emb.where(F.col("vec_id") < k)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    cents = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in init]
    return _km_assign(emb, cents).select("vec_id", "embedding", "cid").cache()


def _semdedup_k_sql() -> str:
    """DuckDB twin of _semdedup_k, computed from the same corpus."""
    from email_etl_spark.plans.search import KM_K

    return (
        f"(SELECT GREATEST({KM_K}, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) "
        "FROM embeddings)"
    )


def _semdedup_oracle() -> str:
    from email_etl_spark.plans.search import _km_dist_sql

    d0 = _km_dist_sql("e.v", "c.v")
    cos = duckdb_cosine("a.embedding", "b.embedding")
    return f"""
WITH e AS (
  SELECT vec_id, embedding,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c0 AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < {_semdedup_k_sql()}),
a1 AS MATERIALIZED (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {d0} ASC, c.cid) AS rn
    FROM e CROSS JOIN c0 c
  ) WHERE rn = 1
),
p AS (
  SELECT b.vec_id, b.cid, a.vec_id AS keeper_id,
         CAST({cos} AS DECIMAL(6,4)) AS sim
  FROM a1 a JOIN a1 b ON a.cid = b.cid AND a.vec_id < b.vec_id
),
best AS (
  SELECT vec_id, cid, keeper_id, sim FROM (
    SELECT vec_id, cid, keeper_id, sim,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, keeper_id) AS rn
    FROM p
  ) WHERE rn = 1
)
SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id, keeper_id,
       CAST(sim AS DOUBLE) AS similarity
FROM best WHERE sim >= {SEMDEDUP_THRESHOLD} ORDER BY vec_id
"""


@register(
    "semdedup_prune",
    headline=True,
    oracle=_semdedup_oracle(),
    doc=(
        "SemDeDup-style semantic pruning (Abbas et al. 2023, public "
        "paper): assign every embedding to its nearest coarse centroid "
        "(the kmeans_codebook convention — codebook seeded from the "
        "first K vectors, bit-identical L2 folds; because K here is "
        "corpus-derived it exceeds KM_LITERAL_MAX_K and _km_assign "
        "ships the codebook as a broadcast DATAFRAME, K-independent "
        "plan size, map-side-partial argmin), then search "
        "near-duplicates ONLY within each cluster "
        "and prune every vector that has a smaller-id cluster peer at "
        "cosine >= threshold, reporting its keeper. Cluster bounding "
        "is the scale story: pair work is sum of per-cluster squares, "
        "not corpus^2 — and K is CORPUS-DERIVED (max(KM_K, floor "
        "sqrt n), _semdedup_k) so the bound is n^1.5, not Θ(n²/const); "
        "the cid-keyed join salts like any skewed key "
        "(operators/skew.py). Exact decimal sims make the keeper "
        "argmax deterministic (SURVEY §2.E/§2.F)."
    ),
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _semdedup_assignment(spark, sf_dir)
    keep = a.select(
        F.col("cid").alias("k_cid"),
        F.col("vec_id").alias("keeper_id"),
        F.col("embedding").alias("e_keep"),
    )
    pairs = a.join(
        keep,
        (F.col("cid") == F.col("k_cid")) & (F.col("keeper_id") < F.col("vec_id")),
    ).select(
        "vec_id",
        "cid",
        "keeper_id",
        cosine_rounded(F.col("embedding"), F.col("e_keep"))
        .cast("decimal(6,4)")
        .alias("sim"),
    )
    # per-vec argmax (sim DESC, keeper_id ASC) as ONE aggregation:
    # max(struct(sim, -keeper_id)) is the same total order the old
    # row_number window sorted by (struct comparison is lexicographic;
    # keeper ids are distinct per vec, so there are no ties). An
    # aggregate gets map-side partial combining — the shuffle carries
    # ≤1 row per (vec_id, map partition) instead of EVERY verified
    # pair through a full sort exchange (guide §2.3 "aggregate before
    # you shuffle"); on a hub cluster at 100 TB that is the difference
    # between a per-vec straggler sort and a bounded merge.
    best = pairs.groupBy("vec_id", "cid").agg(
        F.max(F.struct(F.col("sim"), (-F.col("keeper_id")).alias("nk"))).alias("b")
    )
    return (
        best.where(F.col("b.sim") >= SEMDEDUP_THRESHOLD)
        .select(
            "vec_id",
            F.col("cid").cast("bigint").alias("cluster_id"),
            (-F.col("b.nk")).alias("keeper_id"),
            F.col("b.sim").cast("double").alias("similarity"),
        )
        .orderBy("vec_id")
    )


@register(
    "near_dup_rate_curve",
    oracle=f"""
WITH {_shingle_cte(3)},
p AS (
  SELECT CAST({_jbps_sql("len(list_intersect(a.sh, b.sh))", "len(a.sh)", "len(b.sh)")}
           // 1000 AS BIGINT) AS band
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE {_jbps_sql("len(list_intersect(a.sh, b.sh))", "len(a.sh)", "len(b.sh)")} >= 5000
),
h AS (SELECT band, COUNT(*) AS n_pairs FROM p GROUP BY band)
SELECT band, n_pairs,
       CAST(SUM(n_pairs) OVER (ORDER BY band DESC) AS BIGINT) AS pairs_at_or_above
FROM h ORDER BY band
""",
    doc=(
        "Near-dup rate curve: pair counts per Jaccard decile band "
        "(0.5-1.0) with the descending-cumulative count at or above "
        "each band — the threshold-tuning view a dedup deployment "
        "reads before picking its cut (how much MORE would 0.6 -> 0.5 "
        "remove?). Pairs ride the same LSH bucket-verify stream as "
        "dedup_minhash at the curve's lowest band; banding is pure "
        "integer arithmetic on the exact half-up j_bps contract (no "
        "float-floor knife edges); the cumulative window runs over "
        "<=6 rollup rows (SURVEY §2.E)."
    ),
)
def near_dup_rate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pairs = _lsh_verified_pairs(
        load_table(spark, sf_dir, "documents"), k=3, threshold=0.5, sf_dir=sf_dir
    )
    band = F.expr("j_bps div 1000").cast("bigint")
    hist = pairs.groupBy(band.alias("band")).agg(F.count("*").alias("n_pairs"))
    w = Window.orderBy(F.desc("band")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        hist.withColumn("pairs_at_or_above", F.sum("n_pairs").over(w).cast("bigint"))
        .orderBy("band")
    )


WINNOW_K = 4      # word k-gram width
WINNOW_W = 4      # winnowing window (guarantee: any shared run of
                  # >= W + K - 1 = 7 tokens leaves a shared fingerprint)
WINNOW_DF_CAP = 100   # boilerplate guard: drop fingerprints in > cap docs
WINNOW_MIN_SHARED = 2


@register(
    "winnowing_dedup",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, u.pos,
         substr(md5(array_to_string(list_slice(toks, u.pos, u.pos + {WINNOW_K} - 1), ' ')), 1, 16) AS h
  FROM tok CROSS JOIN UNNEST(range(1, GREATEST(len(toks) - {WINNOW_K} + 1, 1) + 1)) AS u(pos)
),
win AS (
  SELECT doc_id, pos,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS wmin,
         COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS wcnt,
         MAX(pos) OVER (PARTITION BY doc_id) AS m
  FROM g
),
sk AS (
  SELECT DISTINCT doc_id, wmin AS fp FROM win
  WHERE wcnt = {WINNOW_W} OR (m < {WINNOW_W} AND pos = 1)
),
eligible AS (
  SELECT fp FROM sk GROUP BY fp
  HAVING COUNT(*) >= 2 AND COUNT(*) <= {WINNOW_DF_CAP}
),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sk GROUP BY doc_id),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM sk a JOIN sk b ON a.fp = b.fp AND a.doc_id < b.doc_id
  WHERE a.fp IN (SELECT fp FROM eligible)
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b,
       CAST(p.shared AS BIGINT) AS shared_fps,
       CAST(sa.sz AS BIGINT) AS sketch_a,
       CAST(sb.sz AS BIGINT) AS sketch_b,
       CAST(p.shared * 10000 // LEAST(sa.sz, sb.sz) AS BIGINT) AS overlap_bps
FROM p
JOIN sz sa ON sa.doc_id = p.doc_a
JOIN sz sb ON sb.doc_id = p.doc_b
WHERE p.shared >= {WINNOW_MIN_SHARED}
ORDER BY doc_a, doc_b
""",
    doc=(
        "Winnowing (MOSS) fingerprint near-dup pairs (Schleimer/"
        "Wilkerson/Aiken 2003, public algorithm): positional word "
        f"{WINNOW_K}-gram md5 hashes, per-position window-of-"
        f"{WINNOW_W} minima as the selected sketch (guarantee: any "
        f"verbatim run of >= {WINNOW_W + WINNOW_K - 1} tokens shared "
        "between two docs leaves a shared fingerprint), then a "
        "fingerprint-key equality self-join. Scale shape: the sketch "
        f"is ~2/(w+1) of the gram stream; a df-in-[2,{WINNOW_DF_CAP}] "
        "semi-join drops singleton AND boilerplate fingerprints "
        "BEFORE the self-join, so the pair space is bounded by true "
        "co-occurrence, never corpus^2 — the same discipline as "
        "source_overlap. One window per doc, three keyed shuffles "
        "total; no driver collect (SURVEY §2.E)."
    ),
)
def winnowing_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    # materialize the token array FIRST: slicing the raw tokenizer
    # expression inside the per-position lambda re-tokenizes per
    # element (the O(rows x positions) pitfall, functions/hashing.py)
    tokd = docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    m = F.greatest(F.size(toks) - F.lit(WINNOW_K - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(WINNOW_K))),
    )
    g = tokd.select(
        "doc_id", F.posexplode(grams).alias("pos0", "gram")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.substring(F.md5(F.col("gram")), 1, 16).alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    wd = Window.partitionBy("doc_id")
    win = g.select(
        "doc_id",
        "pos",
        F.min("h").over(w).alias("wmin"),
        F.count("*").over(w).alias("wcnt"),
        F.max("pos").over(wd).alias("m"),
    )
    sk = (
        win.where(
            (F.col("wcnt") == WINNOW_W)
            | ((F.col("m") < WINNOW_W) & (F.col("pos") == 1))
        )
        .select("doc_id", F.col("wmin").alias("fp"))
        .distinct()
    )
    # pair generation WITHOUT a sketch self-join: group doc ids per
    # fingerprint (bounded: the df cap bounds every list at
    # WINNOW_DF_CAP, so the pairwise explode is <= cap^2/2 per
    # fingerprint) and explode ordered pairs list-locally. One
    # derivation of the sketch pipeline instead of the self-join's
    # two probe-side rebuilds — the dup_graph_degrees lesson.
    ds = F.array_sort(F.collect_list("doc_id"))
    grp = (
        sk.groupBy("fp")
        .agg(ds.alias("ds"))
        .where((F.size("ds") >= 2) & (F.size("ds") <= WINNOW_DF_CAP))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda a, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    p = (
        grp.select(F.explode(pair_structs).alias("pr"))
        .select(F.col("pr.doc_a").alias("doc_a"), F.col("pr.doc_b").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= WINNOW_MIN_SHARED)
    )
    sz = sk.groupBy("doc_id").agg(F.count("*").alias("sz"))
    # attach both sketch sizes with ONE derivation of sz (the
    # dup_graph_degrees single-build lesson): explode the pair stream
    # into (endpoint, side) rows, join them against sz, then fold the
    # two sides back per pair. No broadcast hint on the pair stream
    # (see _lsh_verified_pairs) — AQE broadcasts it when small.
    long = p.select(
        "doc_a",
        "doc_b",
        "shared",
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("doc_id"), F.lit("a").alias("side")),
                F.struct(F.col("doc_b").alias("doc_id"), F.lit("b").alias("side")),
            )
        ).alias("ep"),
    ).select("doc_a", "doc_b", "shared", F.col("ep.doc_id").alias("doc_id"), F.col("ep.side").alias("side"))
    j = sz.join(long, "doc_id")
    return (
        j.groupBy("doc_a", "doc_b", "shared")
        .agg(
            F.max(F.when(F.col("side") == "a", F.col("sz"))).alias("sketch_a"),
            F.max(F.when(F.col("side") == "b", F.col("sz"))).alias("sketch_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("shared").cast("bigint").alias("shared_fps"),
            F.col("sketch_a").cast("bigint"),
            F.col("sketch_b").cast("bigint"),
            F.expr("shared * 10000L div least(sketch_a, sketch_b)")
            .cast("bigint")
            .alias("overlap_bps"),
        )
        .orderBy("doc_a", "doc_b")
    )


_PFX_TOKS = 16  # C4-style leading-token prefix


@register(
    "prefix_dup_rate",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source,
         md5(array_to_string(list_slice(
           list_filter(str_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''),
           1, {_PFX_TOKS}), ' ')) AS pfx
  FROM documents
),
g AS (SELECT pfx, COUNT(*) AS c FROM t GROUP BY pfx)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN g.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_prefix_dup,
       CAST(SUM(CASE WHEN g.c > 1 THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS dup_bps
FROM t JOIN g USING (pfx)
GROUP BY source ORDER BY source
""",
    doc=(
        "Leading-prefix duplication rate per source: docs whose first "
        f"{_PFX_TOKS} tokens are shared with at least one other doc — "
        "the C4-style cheap near-dup signal (templated boilerplate "
        "openings) that catches what exact-hash dedup misses and costs "
        "none of MinHash's shingling (SURVEY §2.E). One tokenize pass "
        "projects a single md5 per doc; the prefix-count table "
        "aggregates map-side and joins back on the hash key — both "
        "shuffles carry 16-byte keys, never text. Exact-integer bps."
    ),
)
def prefix_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from email_etl_spark.functions.text import tokens as _tokens
    from email_etl_spark.io import parallelize_scan

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    pfx = F.md5(F.concat_ws(" ", F.slice(_tokens(F.col("text")), 1, _PFX_TOKS)))
    t = docs.select("doc_id", "source", pfx.alias("pfx"))
    g = t.groupBy("pfx").agg(F.count("*").alias("c"))
    return (
        t.join(g, "pfx")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).cast("bigint").alias("n_prefix_dup"),
            F.expr("sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) * 10000L div count(*)")
            .cast("bigint")
            .alias("dup_bps"),
        )
        .orderBy("source")
    )


@register(
    "dup_cluster_size_hist",
    oracle=f"""
WITH RECURSIVE {_shingle_cte(3)},
pairs AS {{_pairs}},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach AS (
  SELECT node, node AS reachable FROM nodes
  UNION
  SELECT r.node, e.b FROM reach r JOIN edges e ON r.reachable = e.a
),
clusters AS (
  SELECT node AS doc_id, MIN(reachable) AS cluster_id
  FROM reach GROUP BY node
),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM clusters GROUP BY cluster_id)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
""".replace("{_pairs}", "(" + _pairs_sql(MINHASH_THRESHOLD).replace("ORDER BY doc_a, doc_b", "") + ")"),
    doc=(
        "Duplicate-cluster size histogram: how much of the near-dup "
        "mass sits in pairs vs. mega-clusters — the shape that decides "
        "keep-one-per-cluster savings and flags boilerplate blowups "
        "(a 10k-doc cluster means a template, not content; SURVEY "
        "§2.E). Derives from the same min-label-propagation closure "
        "as dedup_clusters, then two map-side-combined rollups over "
        "the (doc, cluster) table — cluster ids never leave the "
        "executors."
    ),
)
def dup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = dedup_clusters(spark, sf_dir)
    sizes = base.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
            (F.col("cluster_size") * F.col("n_clusters")).cast("bigint").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


def _dup_quality_gap_oracle() -> str:
    from email_etl_spark.plans.text import _PUNCT, _TOKS, _stop_sql

    from email_etl_spark.functions import text as T

    quality = (
        "0.4 * LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0)"
        f" + 0.3 * LEAST(4.0 * {_stop_sql(T.STOPWORDS)} / GREATEST(CAST(len({_TOKS}) AS DOUBLE), 1.0), 1.0)"
        f" + 0.3 * (1.0 - LEAST(4.0 * {_PUNCT} / GREATEST(CAST(length(text) AS DOUBLE), 1.0), 1.0))"
    )
    return f"""
WITH {_shingle_cte(3)},
pairs AS ({_pairs_sql(MINHASH_THRESHOLD).replace("ORDER BY doc_a, doc_b", "")}),
dup AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs
  )
),
q AS (
  SELECT d.doc_id, d.source,
         CAST(CAST(ROUND({quality}, 4) AS DECIMAL(18,4)) * 10000 AS BIGINT) AS qm,
         CASE WHEN u.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
  FROM documents d LEFT JOIN dup u ON d.doc_id = u.doc_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(is_dup) AS BIGINT) AS n_dup,
       CAST(CASE WHEN SUM(is_dup) > 0
                 THEN SUM(CASE WHEN is_dup = 1 THEN qm ELSE 0 END) * 100 // SUM(is_dup)
            END AS BIGINT) AS dup_mean_q_micro,
       CAST(CASE WHEN COUNT(*) - SUM(is_dup) > 0
                 THEN SUM(CASE WHEN is_dup = 0 THEN qm ELSE 0 END) * 100 // (COUNT(*) - SUM(is_dup))
            END AS BIGINT) AS nondup_mean_q_micro
FROM q GROUP BY source ORDER BY source
"""


@register(
    "dup_quality_gap",
    oracle=_dup_quality_gap_oracle(),
    doc=(
        "Quality gap between near-duplicated and unique docs per "
        "source: joins the LSH-verified pair stream's endpoint set "
        "back onto the quality heuristic — the curation question "
        "('is our duplication concentrated in low-quality "
        "boilerplate?') that decides whether dedup alone fixes a "
        "shard or a quality filter must run too (SURVEY §2.E). "
        "Endpoint ids explode from one pair-stream build (the "
        "dup_graph_degrees discipline), quality means are exact "
        "integer micro-units over pre-rounded decimals with "
        "truncating div in BOTH engines — order-insensitive and "
        "knife-edge-free."
    ),
)
def dup_quality_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from email_etl_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    pairs = _lsh_verified_pairs(docs, k=3, threshold=MINHASH_THRESHOLD, sf_dir=sf_dir)
    dup_ids = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    qm = (T.quality_score(F.col("text")).cast("decimal(18,4)") * 10000).cast("bigint")
    q = (
        docs.select("doc_id", "source", qm.alias("qm"))
        .join(dup_ids, "doc_id", "left")
        .withColumn("is_dup", F.coalesce(F.col("is_dup"), F.lit(0)))
    )
    return (
        q.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("is_dup").cast("bigint").alias("n_dup"),
            F.expr(
                "CASE WHEN sum(is_dup) > 0 THEN "
                "sum(CASE WHEN is_dup = 1 THEN qm ELSE 0L END) * 100L div sum(is_dup) END"
            )
            .cast("bigint")
            .alias("dup_mean_q_micro"),
            F.expr(
                "CASE WHEN count(*) - sum(is_dup) > 0 THEN "
                "sum(CASE WHEN is_dup = 0 THEN qm ELSE 0L END) * 100L div (count(*) - sum(is_dup)) END"
            )
            .cast("bigint")
            .alias("nondup_mean_q_micro"),
        )
        .orderBy("source")
    )


@register(
    "dup_source_matrix",
    oracle=f"""
WITH {_shingle_cte(3)},
pairs AS ({_pairs_sql(MINHASH_THRESHOLD).replace("ORDER BY doc_a, doc_b", "")}),
m AS (
  SELECT LEAST(a.source, b.source) AS source_x,
         GREATEST(a.source, b.source) AS source_y
  FROM pairs p
  JOIN documents a ON p.doc_a = a.doc_id
  JOIN documents b ON p.doc_b = b.doc_id
)
SELECT source_x, source_y, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM m GROUP BY source_x, source_y
ORDER BY n_pairs DESC, source_x, source_y
""",
    doc=(
        "Cross-source duplication matrix: near-dup pair counts per "
        "unordered source pair — who mirrors whom (diagonal = "
        "within-source boilerplate, off-diagonal = scraped/syndicated "
        "content), the provenance view that decides which source to "
        "keep when dedup_keep_best breaks ties (SURVEY §2.E). The "
        "verified pair stream builds ONCE; two id→source joins "
        "(source lookup is broadcast-size after column pruning) and "
        "an unordered-pair canonicalization via LEAST/GREATEST; the "
        "matrix is sources² rows at most."
    ),
)
def dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _lsh_verified_pairs(docs, k=3, threshold=MINHASH_THRESHOLD, sf_dir=sf_dir)
    src = docs.select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    b = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    # id→source lookups are corpus-cardinality after pruning (every
    # doc_id), so they carry no broadcast hint either — the join
    # shuffles on the id key and AQE broadcasts whichever side is small
    m = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.least(F.col("src_a"), F.col("src_b")).alias("source_x"),
            F.greatest(F.col("src_a"), F.col("src_b")).alias("source_y"),
        )
    )
    return (
        m.groupBy("source_x", "source_y")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "source_x", "source_y")
    )


@register(
    "graph_triangles",
    oracle=f"""
WITH {_shingle_cte(3)},
pairs AS ({_pairs_sql(MINHASH_THRESHOLD).replace("ORDER BY doc_a, doc_b", "")}),
e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1 JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e
  ) GROUP BY node
)
SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_triangles,
       CAST((SELECT COALESCE(SUM(d * (d - 1) / 2), 0) FROM deg) AS BIGINT) AS n_wedges,
       CAST(CASE WHEN (SELECT SUM(d * (d - 1) / 2) FROM deg) > 0
                 THEN (SELECT COUNT(*) FROM tri) * 3 * 10000
                      // (SELECT SUM(d * (d - 1) / 2) FROM deg)
                 ELSE 0 END AS BIGINT) AS closure_bps
""",
    doc=(
        "Triangle census of the near-dup graph: triangle and wedge "
        "counts plus the global closure rate — high closure means "
        "duplicate families are tight template clusters (safe to "
        "keep-one), low closure means chains of partial overlaps "
        "where transitive dedup over-merges (SURVEY §2.E). Canonical "
        "a<b ordered edges make each triangle count exactly once via "
        "the two-join wedge-close pattern (the standard distributed "
        "triangle algorithm — join on shared middle vertex, then "
        "semi-join the closing edge); wedges derive from the degree "
        "table. The pair stream builds once; all joins key on doc "
        "ids, never text."
    ),
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # localCheckpoint truncates the LSH-pipeline lineage (the
    # dup_pagerank convention, dedup.py:2320): the edge list feeds
    # FIVE branches (e1, e2, closing, deg, the edge count) and each
    # re-nests the whole band-join pair-stream plan without it (~88
    # static exchanges); with it every branch roots at the
    # materialized edge RDD.
    e = _lsh_verified_pairs(docs, k=3, threshold=MINHASH_THRESHOLD, sf_dir=sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).localCheckpoint(eager=True)
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedge = e1.join(e2, "y")
    closing = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = wedge.join(closing, ["x", "z"], "leftsemi")
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    counts = e.agg(F.count("*").cast("bigint").alias("n_edges")).crossJoin(
        F.broadcast(deg.agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.coalesce(F.sum(F.expr("d * (d - 1) / 2")), F.lit(0))
            .cast("bigint")
            .alias("n_wedges"),
        ))
    ).crossJoin(F.broadcast(tri.agg(F.count("*").cast("bigint").alias("n_triangles"))))
    return counts.select(
        "n_edges",
        "n_nodes",
        "n_triangles",
        "n_wedges",
        F.when(
            F.col("n_wedges") > 0,
            F.expr("n_triangles * 3 * 10000L div n_wedges"),
        )
        .otherwise(0)
        .cast("bigint")
        .alias("closure_bps"),
    )


def _minhash_calibration_oracle() -> str:
    lane_cols = ", ".join(
        f"MIN(substr(md5('{g}:' || s), {1 + 8 * j}, 8)) AS mh{g * H.LANES_PER_GROUP + j}"
        for g in range(H.N_GROUPS)
        for j in range(H.LANES_PER_GROUP)
    )
    matches = " + ".join(
        f"CASE WHEN la.mh{i} = lb.mh{i} THEN 1 ELSE 0 END" for i in range(H.N_LANES)
    )
    return f"""
WITH {_shingle_cte(3)},
pairs AS ({_pairs_sql(MINHASH_THRESHOLD).replace("ORDER BY doc_a, doc_b", "")}),
lanes AS (
  SELECT doc_id, {lane_cols}
  FROM (SELECT doc_id, UNNEST(sh) AS s FROM sh) GROUP BY doc_id
),
e AS (
  SELECT p.doc_a, p.doc_b,
         ({matches}) * 10000 // {H.N_LANES} AS est_bps,
         CAST(p.j_bps AS BIGINT) AS exact_bps
  FROM pairs p
  JOIN lanes la ON p.doc_a = la.doc_id
  JOIN lanes lb ON p.doc_b = lb.doc_id
),
b AS (
  SELECT (est_bps - exact_bps + 10000) // 250 AS err_bucket,
         est_bps - exact_bps AS err
  FROM e
)
SELECT CAST(err_bucket AS BIGINT) AS err_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(MIN(err) AS BIGINT) AS min_err_bps,
       CAST(MAX(err) AS BIGINT) AS max_err_bps
FROM b GROUP BY err_bucket ORDER BY err_bucket
"""


@register(
    "minhash_calibration",
    oracle=_minhash_calibration_oracle(),
    doc=(
        "MinHash estimator calibration: per verified near-dup pair, "
        "the 32-lane signature estimate (matching lanes / 32, integer "
        "bps) against the exact shingle Jaccard, binned into a "
        "250-bps error histogram — the measurement that justifies the "
        "lane count before a corpus trusts signature-only screening "
        "(online near-dup, streaming/neardup.py) where exact "
        "verification is skipped (SURVEY §2.E). Signatures come from "
        "the same shuffle-free array-local lane minima as production; "
        "the error arithmetic is pure integer (shifted-bucket trick "
        "keeps truncating division non-negative in both engines)."
    ),
)
def minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # lanes="md5": the oracle replays the md5 LSH pair set alongside
    # the md5 lane estimates — keep both sides on the contract lanes
    pairs = _lsh_verified_pairs(
        docs, k=3, threshold=MINHASH_THRESHOLD, sf_dir=sf_dir, lanes="md5"
    )
    sig = _md5_sig_table(docs, sf_dir)
    la = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(H.N_LANES)]
    )
    lb = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(H.N_LANES)]
    )
    matches = None
    for i in range(H.N_LANES):
        m = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        matches = m if matches is None else matches + m
    # no broadcast hint on the pair stream (see _lsh_verified_pairs)
    e = (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .select(
            (matches * 10000).cast("bigint").alias("m4"),
            F.col("j_bps").cast("bigint").alias("exact_bps"),
        )
        .select(
            F.expr(f"m4 div {H.N_LANES}").cast("bigint").alias("est_bps"),
            "exact_bps",
        )
    )
    b = e.select(
        F.expr("(est_bps - exact_bps + 10000) div 250").cast("bigint").alias("err_bucket"),
        (F.col("est_bps") - F.col("exact_bps")).alias("err"),
    )
    return (
        b.groupBy("err_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.min("err").cast("bigint").alias("min_err_bps"),
            F.max("err").cast("bigint").alias("max_err_bps"),
        )
        .orderBy("err_bucket")
    )


def _dedup_savings_oracle() -> str:
    toks_sql = "list_filter(str_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
    return f"""
WITH RECURSIVE {_shingle_cte(3)},
pairs AS ({_pairs_sql(MINHASH_THRESHOLD).replace("ORDER BY doc_a, doc_b", "")}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach AS (
  SELECT node, node AS reachable FROM nodes
  UNION
  SELECT r.node, e.b FROM reach r JOIN edges e ON r.reachable = e.a
),
clusters AS (SELECT node AS doc_id, MIN(reachable) AS cluster_id FROM reach GROUP BY node),
tk AS (SELECT doc_id, len({toks_sql}) AS n_tok FROM documents),
j AS (SELECT c.cluster_id, c.doc_id, tk.n_tok FROM clusters c JOIN tk USING (doc_id)),
per AS (
  SELECT cluster_id, COUNT(*) AS sz, SUM(n_tok) AS tok_all, MIN(doc_id) AS keeper
  FROM j GROUP BY cluster_id
),
keep AS (
  SELECT p.cluster_id, p.sz, p.tok_all, tk.n_tok AS tok_keep
  FROM per p JOIN tk ON p.keeper = tk.doc_id
),
tot AS (SELECT SUM(n_tok) AS corpus_tokens FROM tk)
SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs_in_clusters,
       CAST(SUM(sz) - COUNT(*) AS BIGINT) AS n_docs_removable,
       CAST(SUM(tok_all - tok_keep) AS BIGINT) AS tokens_removable,
       CAST(SUM(tok_all - tok_keep) * 10000 // MAX(tot.corpus_tokens) AS BIGINT) AS corpus_tokens_bps
FROM keep CROSS JOIN tot
"""


@register(
    "dedup_savings",
    oracle=_dedup_savings_oracle(),
    doc=(
        "Dedup savings projection: exact token count reclaimed by "
        "keeping one representative (min doc_id) per near-dup cluster "
        "— the number that justifies the dedup pass's cost in a "
        "100 TB budget review (SURVEY §2.E). Clusters come from the "
        "shared min-label-propagation closure; token counts join on "
        "doc_id (hash join on ids, never text); savings and the "
        "corpus share are exact integers from one token pass + one "
        "cluster rollup."
    ),
)
def dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(spark, sf_dir)
    tk = parallelize_scan(docs).select(
        "doc_id", T.token_count(F.col("text")).alias("n_tok")
    )
    j = clusters.join(tk, "doc_id")
    per = j.groupBy("cluster_id").agg(
        F.count("*").alias("sz"),
        F.sum("n_tok").alias("tok_all"),
        F.min("doc_id").alias("keeper"),
    )
    keep = per.join(
        tk.select(F.col("doc_id").alias("keeper"), F.col("n_tok").alias("tok_keep")),
        "keeper",
    )
    tot = tk.agg(F.sum("n_tok").cast("bigint").alias("corpus_tokens"))
    return (
        keep.crossJoin(F.broadcast(tot))
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("sz").cast("bigint").alias("n_docs_in_clusters"),
            (F.sum("sz") - F.count("*")).cast("bigint").alias("n_docs_removable"),
            F.sum(F.col("tok_all") - F.col("tok_keep")).cast("bigint").alias("tokens_removable"),
            F.expr("sum(tok_all - tok_keep) * 10000L div max(corpus_tokens)")
            .cast("bigint")
            .alias("corpus_tokens_bps"),
        )
    )


# ---------------------------------------------------------------------------
# lsh_band_curve — banding-configuration tuning sweep
# ---------------------------------------------------------------------------

_BAND_CURVE_ROWS = (1, 2, 4, 8)  # rows-per-band configs over the 32 lanes


def _band_curve_oracle() -> str:
    lane_cols = ", ".join(
        f"MIN(substr(md5('{g}:' || s), {1 + 8 * j}, 8)) AS mh{g * H.LANES_PER_GROUP + j}"
        for g in range(H.N_GROUPS)
        for j in range(H.LANES_PER_GROUP)
    )
    bk_selects = []
    for r in _BAND_CURVE_ROWS:
        for b in range(H.N_LANES // r):
            key = " || ':' || ".join(f"mh{b * r + i}" for i in range(r))
            bk_selects.append(f"SELECT {r} AS r, {b} AS band, {key} AS key, doc_id FROM lanes")
    bk = " UNION ALL ".join(bk_selects)
    jac = _jbps_sql(
        "len(list_intersect(a.sh, b.sh))", "len(a.sh)", "len(b.sh)"
    )
    return f"""
WITH {_shingle_cte(3)},
lanes AS (
  SELECT doc_id, {lane_cols}
  FROM (SELECT doc_id, UNNEST(sh) AS s FROM sh) GROUP BY doc_id
),
bk AS ({bk}),
cand AS (
  SELECT DISTINCT x.r, x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bk x JOIN bk y
    ON x.r = y.r AND x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
),
ver AS (SELECT DISTINCT doc_a, doc_b FROM cand),
vj AS (
  SELECT v.doc_a, v.doc_b,
         CASE WHEN {jac} >= {_thr_bps(MINHASH_THRESHOLD)} THEN 1 ELSE 0 END AS is_true
  FROM ver v JOIN sh a ON v.doc_a = a.doc_id JOIN sh b ON v.doc_b = b.doc_id
)
SELECT CAST(c.r AS BIGINT) AS rows_per_band,
       CAST({H.N_LANES} // c.r AS BIGINT) AS n_bands,
       CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
       CAST(SUM(j.is_true) AS BIGINT) AS n_true_pairs,
       CAST(SUM(j.is_true) * 10000 // COUNT(*) AS BIGINT) AS precision_bps
FROM cand c JOIN vj j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
GROUP BY c.r ORDER BY rows_per_band
"""


@register(
    "lsh_band_curve",
    oracle=_band_curve_oracle(),
    doc=(
        "LSH banding-configuration sweep: candidate-pair volume and "
        "precision (share of candidates that verify at the J>=0.6 "
        "threshold, integer bps) for rows-per-band in {1,2,4,8} over "
        "the same 32 minhash lanes — the S-curve measurement that "
        "picks the band/row split before a corpus commits to a "
        "banding (companion to minhash_recall_eval, which gates ONE "
        "config's recall; SURVEY §2.E). One signature pass feeds all "
        "configs through a single (cfg, band, key) equality self-join; "
        "exact verification runs once over the union of candidates "
        "(the 1-row config's set is a superset of every other's by "
        "construction) and per-config counts join back on the pair "
        "key. Precision arithmetic is pure integer with non-negative "
        "truncating div in both engines. The 1-row config is "
        "candidate-heaviest by design — it is the curve's left "
        "endpoint, priced at tuning time on a sample, never the "
        "production banding."
    ),
)
def lsh_band_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = _shingle_table(docs, 3, sf_dir=sf_dir)
    sig = _md5_sig_table(docs, sf_dir)

    cfg_structs = []
    for r in _BAND_CURVE_ROWS:
        for b in range(H.N_LANES // r):
            key = F.concat_ws(":", *[F.col(f"mh{b * r + i}") for i in range(r)])
            cfg_structs.append(
                F.struct(F.lit(r).alias("r"), F.lit(b).alias("band"), key.alias("key"))
            )
    bk = sig.select("doc_id", F.explode(F.array(*cfg_structs)).alias("c")).select(
        "doc_id", F.col("c.r").alias("r"), F.col("c.band").alias("band"), F.col("c.key").alias("key")
    )
    x, y = bk.alias("x"), bk.alias("y")
    # NOTE (r11): the double consumption of `cand` below (per-config
    # counts + verification side) is NOT a lazy re-run — both branches
    # root at identical subtrees that AQE's ReuseExchange deduplicates
    # at runtime. A collect_set(r)-per-pair restructure that "removed"
    # the second pass measured 3.4 -> 4.4 s (isolated A/B, sf0.1) and
    # was reverted.
    cand = (
        x.join(
            y,
            (F.col("x.r") == F.col("y.r"))
            & (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.r").alias("r"), F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )

    # exact verification once over the union of candidate pairs (== the
    # 1-row config's set); per-config counts rejoin on the pair key.
    # No broadcast hints on pair streams (see _lsh_verified_pairs).
    ver = cand.select("doc_a", "doc_b").distinct()
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    sized = (
        ver
        .join(sha, "doc_a")
        .join(shb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint").alias("n_inter"),
            F.size("sh_a").cast("bigint").alias("na"),
            F.size("sh_b").cast("bigint").alias("nb"),
        )
        .withColumn("un", F.col("na") + F.col("nb") - F.col("n_inter"))
    )
    jac = F.expr("(20000L * n_inter + un) div (2L * un)")
    vj = sized.select(
        "doc_a",
        "doc_b",
        F.when(jac >= _thr_bps(MINHASH_THRESHOLD), 1).otherwise(0).alias("is_true"),
    )
    return (
        cand.join(vj, ["doc_a", "doc_b"])
        .groupBy("r")
        .agg(F.count("*").alias("n_cand"), F.sum("is_true").alias("n_true"))
        .select(
            F.col("r").cast("bigint").alias("rows_per_band"),
            F.expr(f"{H.N_LANES} div r").cast("bigint").alias("n_bands"),
            F.col("n_cand").cast("bigint").alias("n_candidate_pairs"),
            F.col("n_true").cast("bigint").alias("n_true_pairs"),
            F.expr("n_true * 10000L div n_cand").cast("bigint").alias("precision_bps"),
        )
        .orderBy("rows_per_band")
    )


# ---------------------------------------------------------------------------
# dedup_tiers — marginal removal per dedup tier
# ---------------------------------------------------------------------------


def _dedup_tiers_oracle() -> str:
    from email_etl_spark.plans.search import _km_dist_sql

    d0 = _km_dist_sql("e.v", "c.v")
    cos = duckdb_cosine("a.embedding", "b.embedding")
    return f"""
WITH RECURSIVE {_shingle_cte(3)},
pairs AS ({_pairs_sql(MINHASH_THRESHOLD).replace("ORDER BY doc_a, doc_b", "")}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach AS (
  SELECT node, node AS reachable FROM nodes
  UNION
  SELECT r.node, e.b FROM reach r JOIN edges e ON r.reachable = e.a
),
clusters AS (SELECT node AS doc_id, MIN(reachable) AS cluster_id FROM reach GROUP BY node),
f AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM documents
),
ex AS (
  SELECT doc_id,
         CASE WHEN doc_id > MIN(doc_id) OVER (PARTITION BY fp) THEN 1 ELSE 0 END AS is_exact
  FROM f
),
e AS (
  SELECT vec_id, embedding,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c0 AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < {_semdedup_k_sql()}),
a1 AS MATERIALIZED (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {d0} ASC, c.cid) AS rn
    FROM e CROSS JOIN c0 c
  ) WHERE rn = 1
),
sem AS (
  SELECT DISTINCT b.vec_id
  FROM a1 a JOIN a1 b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE CAST({cos} AS DECIMAL(6,4)) >= {SEMDEDUP_THRESHOLD}
),
flags AS (
  SELECT ex.doc_id, ex.is_exact,
         CASE WHEN cl.doc_id IS NOT NULL AND cl.doc_id <> cl.cluster_id THEN 1 ELSE 0 END AS is_near,
         CASE WHEN s.vec_id IS NOT NULL THEN 1 ELSE 0 END AS is_sem
  FROM ex
  LEFT JOIN clusters cl ON ex.doc_id = cl.doc_id
  LEFT JOIN sem s ON ex.doc_id = s.vec_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(is_exact) AS BIGINT) AS n_exact_removed,
       CAST(SUM(CASE WHEN is_exact = 0 AND is_near = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_extra,
       CAST(SUM(CASE WHEN is_exact = 0 AND is_near = 0 AND is_sem = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sem_extra,
       CAST(COUNT(*) - SUM(CASE WHEN is_exact = 1 OR is_near = 1 OR is_sem = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
FROM flags
"""


@register(
    "dedup_tiers",
    oracle=_dedup_tiers_oracle(),
    doc=(
        "Marginal-removal funnel across the three dedup tiers a "
        "training pipeline stacks: exact fingerprint (cheapest), "
        "MinHash near-dup clusters at J>=0.6, and SemDeDup semantic "
        "pruning at cosine>=0.45 — each doc attributed to the FIRST "
        "tier that would remove it, so every count is the tier's "
        "MARGINAL contribution on top of the cheaper ones (the "
        "which-pass-pays-for-itself view; curation_funnel sees only "
        "the exact tier, dedup_savings only the near tier; SURVEY "
        "§2.E). Composes the three production paths unchanged: "
        "fingerprint window, LSH bucket-verify closure (min-label "
        "propagation), cluster-bounded semantic pairs — removal "
        "flags join on ids only, one final 1-row conditional "
        "aggregate."
    ),
)
def dedup_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w_fp = Window.partitionBy("fp")
    ex = docs.select(
        "doc_id", T.fingerprint(F.col("text")).alias("fp")
    ).select(
        "doc_id",
        F.when(F.col("doc_id") > F.min("doc_id").over(w_fp), 1).otherwise(0).alias("is_exact"),
    )
    clus = dedup_clusters(spark, sf_dir).select(
        "doc_id", F.when(F.col("doc_id") != F.col("cluster_id"), 1).otherwise(0).alias("is_near")
    )
    sem = (
        semdedup_prune(spark, sf_dir)
        .select(F.col("vec_id").alias("doc_id"), F.lit(1).alias("is_sem"))
        .distinct()
    )
    flags = (
        ex.join(clus, "doc_id", "left")
        .join(sem, "doc_id", "left")
        .select(
            "is_exact",
            F.coalesce(F.col("is_near"), F.lit(0)).alias("is_near"),
            F.coalesce(F.col("is_sem"), F.lit(0)).alias("is_sem"),
        )
    )
    return flags.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("is_exact").cast("bigint").alias("n_exact_removed"),
        F.sum(F.when((F.col("is_exact") == 0) & (F.col("is_near") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n_near_extra"),
        F.sum(
            F.when(
                (F.col("is_exact") == 0) & (F.col("is_near") == 0) & (F.col("is_sem") == 1), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_sem_extra"),
        (
            F.count("*")
            - F.sum(
                F.when(
                    (F.col("is_exact") == 1) | (F.col("is_near") == 1) | (F.col("is_sem") == 1), 1
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("n_survivors"),
    )


# ---------------------------------------------------------------------------
# incremental_neardup — batch-admission twin of streaming/neardup.py
# ---------------------------------------------------------------------------


@register(
    "incremental_neardup",
    oracle=f"""
WITH {_shingle_cte(3)},
mx AS (SELECT MAX(doc_id) * 9 // 10 AS cut FROM documents),
pairs AS (
  SELECT n.doc_id AS new_id, o.doc_id AS old_id,
         CAST({_jbps_sql("len(list_intersect(n.sh, o.sh))", "len(n.sh)", "len(o.sh)")}
              AS BIGINT) AS j_bps
  FROM sh n JOIN sh o ON n.doc_id > o.doc_id, mx
  WHERE n.doc_id > mx.cut AND o.doc_id <= mx.cut
)
SELECT new_id, old_id, j_bps
FROM pairs WHERE j_bps >= {_thr_bps(MINHASH_THRESHOLD)}
ORDER BY new_id, old_id
""",
    doc=(
        "Incremental near-dup admission: the newest decile of documents "
        "(ingest batch, ids above the 90% id cut) screened against the "
        "standing corpus for J>=0.6 matches — the BATCH twin of the "
        "streaming admission-control path (streaming/neardup.py), here "
        "oracle-checked end to end where the stream variant is "
        "rows-only (SURVEY §2.E). Cross-set MinHash+LSH, the "
        "fuzzy_decontaminate shape: both sides signed by the same "
        "32-lane signature pass, candidates from a (band, key) "
        "equality join between the batch side and the corpus side, "
        "exact-Jaccard verify on candidates only. The batch side is "
        "never broadcast and the corpus is never re-shingled per "
        "query at scale (the persisted band-bucket index serves the "
        "corpus side: dedup_minhash_indexed); work scales with the "
        "batch and its collisions, not the corpus."
    ),
)
def incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.expr("max(doc_id) * 9 div 10").alias("cut"))
    toks = parallelize_scan(docs).select("doc_id", T.tokens(F.col("text")).alias("toks"))
    sh = (
        toks.crossJoin(F.broadcast(mx))
        .select(
            "doc_id",
            H.shingles(F.col("toks"), k=3).alias("sh"),
            (F.col("doc_id") > F.col("cut")).alias("is_new"),
        )
        .cache()
    )
    sig = H.with_minhash_sig(sh, "sh").drop("sh")
    sig_cols = [F.col(f"mh{i}") for i in range(H.N_LANES)]
    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band"), H.band_key(sig_cols, b).alias("key"))
            for b in range(H.N_BANDS)
        ]
    )
    buckets = sig.select("doc_id", "is_new", F.explode(bands).alias("bk")).select(
        "doc_id", "is_new", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    new_b = buckets.where(F.col("is_new")).select(F.col("doc_id").alias("new_id"), "band", "key")
    old_b = buckets.where(~F.col("is_new")).select(F.col("doc_id").alias("old_id"), "band", "key")
    cand = new_b.join(old_b, ["band", "key"]).select("new_id", "old_id").distinct()

    # no broadcast hint on the candidate pairs (see _lsh_verified_pairs)
    shn = sh.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("sh_n"))
    sho = sh.select(F.col("doc_id").alias("old_id"), F.col("sh").alias("sh_o"))
    sized = (
        cand
        .join(shn, "new_id")
        .join(sho, "old_id")
        .select(
            "new_id",
            "old_id",
            F.size(F.array_intersect("sh_n", "sh_o")).cast("bigint").alias("n_inter"),
            F.size("sh_n").cast("bigint").alias("nn"),
            F.size("sh_o").cast("bigint").alias("no"),
        )
        .withColumn("un", F.col("nn") + F.col("no") - F.col("n_inter"))
    )
    jac = F.expr("(20000L * n_inter + un) div (2L * un)")
    return (
        sized.select("new_id", "old_id", jac.alias("j_bps"))
        .where(F.col("j_bps") >= _thr_bps(MINHASH_THRESHOLD))
        .orderBy("new_id", "old_id")
    )


# ---------------------------------------------------------------------------
# dup_pagerank — damped power iteration over the near-dup graph
# ---------------------------------------------------------------------------

_PR_D = 0.85
_PR_TOP = 20


def _dup_pagerank_oracle() -> str:
    return f"""
WITH {_shingle_cte(3)},
pairs AS ({_pairs_sql(MINHASH_THRESHOLD).replace("ORDER BY doc_a, doc_b", "")}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
nn AS (SELECT COUNT(*) AS n FROM deg),
s1 AS (
  SELECT e.dst AS node,
         SUM(CAST(ROUND(1.0 / (nn.n * d.deg), 9) AS DECIMAL(18,9))) AS s
  FROM edges e JOIN deg d ON e.src = d.node CROSS JOIN nn
  GROUP BY e.dst
),
pr1 AS (
  SELECT s1.node,
         CAST(ROUND({1 - _PR_D} / nn.n + {_PR_D} * CAST(s1.s AS DOUBLE), 9)
              AS DECIMAL(18,9)) AS pr
  FROM s1 CROSS JOIN nn
),
s2 AS (
  SELECT e.dst AS node,
         SUM(CAST(ROUND(CAST(p.pr AS DOUBLE) / d.deg, 9) AS DECIMAL(18,9))) AS s
  FROM edges e
  JOIN pr1 p ON e.src = p.node
  JOIN deg d ON e.src = d.node
  GROUP BY e.dst
),
pr2 AS (
  SELECT s2.node,
         ROUND({1 - _PR_D} / nn.n + {_PR_D} * CAST(s2.s AS DOUBLE), 6) AS pagerank
  FROM s2 CROSS JOIN nn
)
SELECT p.node AS doc_id, CAST(d.deg AS BIGINT) AS degree, p.pagerank
FROM pr2 p JOIN deg d ON p.node = d.node
ORDER BY pagerank DESC, doc_id LIMIT {_PR_TOP}
"""


@register(
    "dup_pagerank",
    oracle=_dup_pagerank_oracle(),
    doc=(
        "PageRank over the near-dup graph (damping 0.85, two unrolled "
        "power-iteration rounds from the uniform start): ranks "
        "template/boilerplate HUBS by the weight of their whole "
        "neighborhood, not just edge count — a doc connected to other "
        "well-connected dups outranks one with the same raw degree "
        "(dup_graph_degrees sees only degree; SURVEY §2.E). Edges "
        "ride the shared LSH bucket-verify pair stream; each round is "
        "one node-keyed join + one map-side-combined aggregate over "
        "the edge stream (the standard distributed PageRank shape — "
        "rounds scale linearly, no driver state); every contribution "
        "is pre-rounded to DECIMAL(18,9) before its sum so both "
        "engines fold bit-identically at any parallelism."
    ),
)
def dup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _lsh_verified_pairs(docs, k=3, threshold=MINHASH_THRESHOLD, sf_dir=sf_dir).select(
        "doc_a", "doc_b"
    )
    # localCheckpoint truncates the LSH-pipeline lineage (the
    # connected_components convention, operators/graph.py): without it
    # every downstream branch — deg, both rounds, the output join —
    # re-nests the whole pair-stream plan and the static plan balloons
    # to ~225 exchanges; with it each round roots at the materialized
    # edge RDD.
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    nn = deg.agg(F.count("*").alias("n"))

    dsrc = deg.select(F.col("node").alias("src"), "deg")
    c1 = F.round(F.lit(1.0) / (F.col("n") * F.col("deg")), 9).cast("decimal(18,9)")
    # degree/rank tables are node-cardinality (corpus-proportional on
    # boilerplate-heavy corpora) — no broadcast hints; nn is 1 row
    s1 = (
        edges.join(dsrc, "src")
        .crossJoin(F.broadcast(nn))
        .select(F.col("dst").alias("node"), c1.alias("c"))
        .groupBy("node")
        .agg(F.sum("c").alias("s"))
    )
    pr1 = s1.crossJoin(F.broadcast(nn)).select(
        "node",
        F.round(F.lit(1 - _PR_D) / F.col("n") + F.lit(_PR_D) * F.col("s").cast("double"), 9)
        .cast("decimal(18,9)")
        .alias("pr"),
    )
    p_src = pr1.select(F.col("node").alias("src"), "pr")
    c2 = F.round(F.col("pr").cast("double") / F.col("deg"), 9).cast("decimal(18,9)")
    s2 = (
        edges.join(p_src, "src")
        .join(dsrc, "src")
        .select(F.col("dst").alias("node"), c2.alias("c"))
        .groupBy("node")
        .agg(F.sum("c").alias("s"))
    )
    pr2 = s2.crossJoin(F.broadcast(nn)).select(
        "node",
        F.round(F.lit(1 - _PR_D) / F.col("n") + F.lit(_PR_D) * F.col("s").cast("double"), 6)
        .alias("pagerank"),
    )
    return (
        pr2.join(deg, "node")
        .select(
            F.col("node").alias("doc_id"),
            F.col("deg").cast("bigint").alias("degree"),
            "pagerank",
        )
        .orderBy(F.desc("pagerank"), "doc_id")
        .limit(_PR_TOP)
    )


# ---------------------------------------------------------------------------
# simhash_calibration — hamming-vs-Jaccard curve for the simhash cut
# ---------------------------------------------------------------------------


def _simhash_calibration_oracle() -> str:
    ham = (
        "list_sum(list_transform(range(1, 65), "
        "i -> CASE WHEN sa.bits[i] <> sb.bits[i] THEN 1 ELSE 0 END))"
    )
    return f"""
WITH {_shingle_cte(3)},
pairs AS ({_pairs_sql(0.5).replace("ORDER BY doc_a, doc_b", "")}),
tok2 AS (SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents),
hsh AS (SELECT doc_id, list_transform(toks, t -> substr(md5(t), 1, 16)) AS hs FROM tok2),
sim AS (SELECT doc_id, {_simhash_sql()} AS bits FROM hsh),
e AS (
  SELECT CAST(p.j_bps // 1000 AS BIGINT) AS jac_band,
         CAST({ham} AS BIGINT) AS hamming
  FROM pairs p
  JOIN sim sa ON p.doc_a = sa.doc_id
  JOIN sim sb ON p.doc_b = sb.doc_id
)
SELECT CAST(jac_band AS BIGINT) AS jac_band,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(MIN(hamming) AS BIGINT) AS min_hamming,
       CAST(MAX(hamming) AS BIGINT) AS max_hamming,
       CAST(SUM(hamming) * 100 // COUNT(*) AS BIGINT) AS mean_hamming_centi,
       CAST(SUM(CASE WHEN hamming <= {HAM_T} THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS within_cut_bps
FROM e GROUP BY jac_band ORDER BY jac_band
"""


@register(
    "simhash_calibration",
    oracle=_simhash_calibration_oracle(),
    doc=(
        "SimHash threshold calibration: for every verified near-dup "
        "pair at J>=0.5, the 64-bit simhash Hamming distance rolled "
        "up per Jaccard decile band (min/max/mean centi-units + the "
        f"share within the HAM_T={HAM_T} production cut, integer bps) "
        "— the measurement that justifies, per corpus, where the "
        "simhash cut sits on the Jaccard scale before anyone treats "
        "the two dedup paths as interchangeable (minhash_calibration "
        "does this for the signature estimate; SURVEY §2.E). Pairs "
        "ride the shared LSH bucket-verify stream; signatures are the "
        "production integer packing (one bit_count(xor) per pair); "
        "banding and rates are pure integer arithmetic."
    ),
)
def simhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _lsh_verified_pairs(docs, k=3, threshold=0.5, sf_dir=sf_dir)
    # heavy per-row hash work: spread the single-split scan (io.py)
    toks = parallelize_scan(docs).select(
        "doc_id", F.array_distinct(T.tokens(F.col("text"))).alias("toks")
    )
    hashes = toks.select(
        "doc_id",
        F.transform(F.col("toks"), lambda t: F.substring(F.md5(t), 1, 16)).alias("hs"),
    )
    sim = _simhash_ints_df(hashes, ["doc_id"]).select("doc_id", "sig")
    sa = sim.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sim.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    # no broadcast hint on the pair stream (see _lsh_verified_pairs)
    e = (
        pairs
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.expr("j_bps div 1000").alias("jac_band"),
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("bigint").alias("hamming"),
        )
    )
    return (
        e.groupBy(F.col("jac_band").cast("bigint").alias("jac_band"))
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.min("hamming").cast("bigint").alias("min_hamming"),
            F.max("hamming").cast("bigint").alias("max_hamming"),
            F.expr("sum(hamming) * 100 div count(*)").cast("bigint").alias("mean_hamming_centi"),
            F.expr(f"sum(CASE WHEN hamming <= {HAM_T} THEN 1 ELSE 0 END) * 10000 div count(*)")
            .cast("bigint")
            .alias("within_cut_bps"),
        )
        .orderBy("jac_band")
    )


@register(
    "cross_lang_pairs",
    oracle=f"""
WITH {_shingle_cte(3)},
pairs AS ({_pairs_sql(MINHASH_THRESHOLD).replace("ORDER BY doc_a, doc_b", "")}),
lp AS (
  SELECT LEAST(da.lang, db.lang) AS lang_a,
         GREATEST(da.lang, db.lang) AS lang_b,
         p.doc_a
  FROM pairs p
  JOIN documents da ON p.doc_a = da.doc_id
  JOIN documents db ON p.doc_b = db.doc_id
)
SELECT lang_a, lang_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(MIN(doc_a) AS BIGINT) AS example_doc
FROM lp GROUP BY lang_a, lang_b ORDER BY lang_a, lang_b
""",
    doc=(
        "Near-duplicate pairs broken down by unordered language pair "
        "— the translation/mirror-mining view of the LSH pair stream "
        "(cross-language near-dups are parallel-text candidates; "
        "same-language pairs are ordinary boilerplate): the "
        "dedup_minhash bucket-then-verify pipeline unchanged, then "
        "each surviving pair picks up its endpoints' languages via "
        "two id-keyed joins against the (doc_id, lang) projection — "
        "the pair stream is orders of magnitude below the corpus, so "
        "both joins shuffle only pairs; rollup is map-side combined "
        "(SURVEY §2.E)."
    ),
)
def cross_lang_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _lsh_verified_pairs(docs, k=3, threshold=MINHASH_THRESHOLD, sf_dir=sf_dir).select(
        "doc_a", "doc_b"
    )
    langs = docs.select("doc_id", "lang")
    la = langs.select(F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_pa"))
    lb = langs.select(F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_pb"))
    lp = (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .select(
            F.least("lang_pa", "lang_pb").alias("lang_a"),
            F.greatest("lang_pa", "lang_pb").alias("lang_b"),
            "doc_a",
        )
    )
    return (
        lp.groupBy("lang_a", "lang_b")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.min("doc_a").cast("bigint").alias("example_doc"),
        )
        .orderBy("lang_a", "lang_b")
    )


def _lsh_bucket_skew_oracle() -> str:
    lane = (
        lambda l: "list_min(list_transform(sh, s -> "
        f"substring(md5('{l // H.LANES_PER_GROUP}:' || s), {1 + 8 * (l % H.LANES_PER_GROUP)}, 8)))"
    )
    band_keys = ", ".join(
        f"{lane(2 * b)} || {lane(2 * b + 1)}" for b in range(H.N_BANDS)
    )
    return f"""
WITH {_shingle_cte(3)},
sig AS MATERIALIZED (SELECT doc_id, [{band_keys}] AS keys FROM sh),
bk AS (
  SELECT doc_id, bb.b AS band, keys[bb.b + 1] AS key
  FROM sig CROSS JOIN (SELECT unnest(range(0, {H.N_BANDS})) AS b) bb
),
bc AS (SELECT band, key, COUNT(*) AS c FROM bk GROUP BY 1, 2)
SELECT CAST(band AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(c) AS BIGINT) AS n_docs,
       CAST(MAX(c) AS BIGINT) AS max_bucket,
       CAST(SUM(c * (c - 1)) // 2 AS BIGINT) AS candidate_pairs,
       CAST(MAX(c) * 10000 // SUM(c) AS BIGINT) AS top1_share_bps
FROM bc GROUP BY band ORDER BY band
"""


@register(
    "lsh_bucket_skew",
    oracle=_lsh_bucket_skew_oracle(),
    doc=(
        "Band-bucket occupancy profile of the MinHash LSH space — the "
        "skew measurement behind this round's no-broadcast-hint rule: "
        "per band, bucket count, largest bucket, and the exact "
        "candidate-pair work the bucket join will generate "
        "(sum of C(bucket,2)) BEFORE running it — join_size_estimate's "
        "LSH twin. A template-heavy corpus shows up as max_bucket "
        "growing with the corpus (B boilerplate docs -> B^2 pairs), "
        "which is exactly when a forced broadcast of the pair set "
        "would OOM and when bucket caps / AQE skew handling earn their "
        "keep. One signature pass (shuffle-free, array-local lanes), "
        "one (band, key) count aggregate — the corpus is never "
        "self-joined; the whole report derives from the "
        "bucket-cardinality count table (SURVEY §2.E)."
    ),
)
def lsh_bucket_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sig = _md5_sig_table(docs, sf_dir)
    sig_cols = [F.col(f"mh{i}") for i in range(H.N_LANES)]
    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band"), H.band_key(sig_cols, b).alias("key"))
            for b in range(H.N_BANDS)
        ]
    )
    buckets = sig.select(F.explode(bands).alias("bk")).select(
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    bc = buckets.groupBy("band", "key").agg(F.count("*").alias("c"))
    return (
        bc.groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.sum("c").cast("bigint").alias("n_docs"),
            F.max("c").cast("bigint").alias("max_bucket"),
            F.expr("sum(c * (c - 1)) div 2").cast("bigint").alias("candidate_pairs"),
            F.expr("max(c) * 10000 div sum(c)").cast("bigint").alias("top1_share_bps"),
        )
        .select(
            F.col("band").cast("bigint").alias("band"),
            "n_buckets",
            "n_docs",
            "max_bucket",
            "candidate_pairs",
            "top1_share_bps",
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# content_chunk_dedup — content-defined chunking (CDC) dedup sizing.
# ---------------------------------------------------------------------------

_CDC_BOUNDARY_HEX = "1"  # boundary iff md5(token) first hex < '1' (p = 1/16)


@register(
    "content_chunk_dedup",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
pos AS (
  SELECT doc_id, u.i AS pos, toks[u.i] AS tok
  FROM tok CROSS JOIN UNNEST(range(1, len(toks) + 1)) AS u(i)
),
b AS (
  SELECT doc_id, pos, tok,
         CASE WHEN substr(md5(tok), 1, 1) < '{_CDC_BOUNDARY_HEX}' THEN 1 ELSE 0 END AS bd
  FROM pos
),
ch AS (
  SELECT doc_id, pos, tok,
         SUM(bd) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cid
  FROM b
),
chunks AS (
  SELECT doc_id, COALESCE(cid, 0) AS cid,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS fp,
         COUNT(*) AS n_toks
  FROM ch GROUP BY doc_id, COALESCE(cid, 0)
),
f AS (SELECT fp, COUNT(*) AS n_copies, MAX(n_toks) AS n_toks FROM chunks GROUP BY fp)
SELECT CAST((SELECT COUNT(*) FROM chunks) AS BIGINT) AS n_chunks,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
       CAST((SELECT SUM(n_toks) FROM chunks) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN n_copies > 1 THEN (n_copies - 1) * n_toks ELSE 0 END) AS BIGINT)
         AS reclaimable_tokens,
       CAST(SUM(CASE WHEN n_copies > 1 THEN (n_copies - 1) * n_toks ELSE 0 END) * 10000
            // (SELECT SUM(n_toks) FROM chunks) AS BIGINT) AS reclaim_bps
FROM f
""",
    doc=(
        "Content-defined chunking dedup sizing (the FastCDC/rsync "
        "primitive): chunk boundaries fall where md5(token) starts "
        "below a threshold (p = 1/16, expected 16-token chunks), so "
        "identical passages chunk identically REGARDLESS of their "
        "byte offset — the shift-robustness prefix_dup_rate and "
        "fixed-window shingles lack — and the distinct-fingerprint "
        "rollup prices keep-one-copy chunk storage exactly "
        "(reclaimable tokens + bps). Boundaries are token-local md5 "
        "tests (plan-constant threshold), chunk ids come from one "
        "doc-keyed running-sum window bounded by doc length, chunk "
        "fingerprints group on 16-byte keys, never text "
        "(SURVEY §2.E)."
    ),
)
def content_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = parallelize_scan(docs).select("doc_id", T.tokens(F.col("text")).alias("toks"))
    pos = toks.select("doc_id", F.posexplode("toks").alias("p0", "tok")).select(
        "doc_id", (F.col("p0") + 1).alias("pos"), "tok"
    )
    bd = F.when(F.substring(F.md5(F.col("tok")), 1, 1) < _CDC_BOUNDARY_HEX, 1).otherwise(0)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ch = pos.select(
        "doc_id", "pos", "tok", F.coalesce(F.sum(bd).over(w), F.lit(0)).alias("cid")
    )
    chunks = (
        ch.groupBy("doc_id", "cid")
        .agg(
            F.md5(F.concat_ws(" ", F.array_sort(
                F.collect_list(F.struct("pos", "tok"))
            ).getField("tok"))).alias("fp"),
            F.count("*").alias("n_toks"),
        )
    )
    f = chunks.groupBy("fp").agg(
        F.count("*").alias("n_copies"), F.max("n_toks").alias("n_toks")
    )
    tot = chunks.agg(
        F.count("*").alias("n_chunks"), F.sum("n_toks").alias("n_tokens")
    )
    return (
        f.agg(
            F.count("*").cast("bigint").alias("n_distinct_chunks"),
            F.sum(
                F.when(F.col("n_copies") > 1, (F.col("n_copies") - 1) * F.col("n_toks")).otherwise(0)
            ).alias("reclaimable_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n_chunks").cast("bigint").alias("n_chunks"),
            "n_distinct_chunks",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("reclaimable_tokens").cast("bigint").alias("reclaimable_tokens"),
            F.expr("reclaimable_tokens * 10000 div n_tokens")
            .cast("bigint")
            .alias("reclaim_bps"),
        )
    )


_IDX_AUDIT_HI = "2"  # ~1/8 md5 doc sample for the integrity audit


@register(
    "minhash_index_integrity",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
  WHERE substr(md5('idx:' || CAST(doc_id AS VARCHAR)), 1, 1) < '{_IDX_AUDIT_HI}'
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sample_docs,
       CAST(COUNT(*) * {H.N_BANDS} AS BIGINT) AS n_expected_rows,
       CAST(COUNT(*) * {H.N_BANDS} AS BIGINT) AS n_matched,
       CAST(0 AS BIGINT) AS n_missing,
       CAST(0 AS BIGINT) AS n_stale
FROM tok
""",
    doc=(
        "Integrity audit of the PERSISTED MinHash band-bucket index "
        "(text_index_stats' dedup twin): recompute the 16 band keys "
        "for a deterministic ~1/8 md5 doc sample and full-outer join "
        "them against the stored (band, key, doc_id) rows — n_missing "
        "(doc in corpus, row absent from index) and n_stale (row in "
        "index with a key the current text no longer produces) must "
        "both be ZERO on a healthy index; a truncated write, a "
        "missed compaction, or drift between index build and corpus "
        "shows up immediately. The oracle states the healthy-index "
        "contract (sample x 16 bands, all matched) from the corpus "
        "alone, so any divergence in the store FAILS the hash gate. "
        "Query-side work: one sample-pruned signature pass + a "
        "doc_id-keyed join against the index (partition-pruned by "
        "the sample's bands at scale) (SURVEY §2.E)."
    ),
)
def minhash_index_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    index_dir = build_minhash_index(spark, sf_dir)
    idx = open_parquet(spark, index_dir)
    docs = load_table(spark, sf_dir, "documents")
    key = F.col("doc_id").cast("string")
    sample = docs.where(
        F.substring(F.md5(F.concat(F.lit("idx:"), key)), 1, 1) < _IDX_AUDIT_HI
    )
    toks = parallelize_scan(sample).select("doc_id", T.tokens(F.col("text")).alias("toks"))
    sh = toks.select("doc_id", H.shingles(F.col("toks"), k=3).alias("sh"))
    sig = H.with_minhash_sig(sh, "sh").drop("sh")
    sig_cols = [F.col(f"mh{i}") for i in range(H.N_LANES)]
    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band"), H.band_key(sig_cols, b).alias("key"))
            for b in range(H.N_BANDS)
        ]
    )
    fresh = sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
        F.lit(1).alias("is_fresh"),
    )
    stored = (
        idx.join(fresh.select("doc_id").distinct(), "doc_id")
        .select("doc_id", "band", "key", F.lit(1).alias("is_stored"))
    )
    j = fresh.join(stored, ["doc_id", "band", "key"], "full_outer")
    return (
        j.agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_sample_docs"),
            F.sum(F.coalesce(F.col("is_fresh"), F.lit(0)))
            .cast("bigint")
            .alias("n_expected_rows"),
            F.sum(
                F.when(F.col("is_fresh").isNotNull() & F.col("is_stored").isNotNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_matched"),
            F.sum(F.when(F.col("is_stored").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_missing"),
            F.sum(F.when(F.col("is_fresh").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_stale"),
        )
    )


# ---------------------------------------------------------------------------
# closure_edge_stats — the star-edge collapse, made observable per corpus.
# ---------------------------------------------------------------------------


def _closure_edge_stats_oracle() -> str:
    jac = _jbps_sql(
        "len(list_intersect(a.sh, b.sh))", "len(a.sh)", "len(b.sh)"
    )
    return f"""
WITH {_shingle_cte(3)},
fpt AS (
  SELECT doc_id, sh, md5(array_to_string(list_sort(sh), chr(31))) AS fp FROM sh
),
grp AS (SELECT fp, MIN(doc_id) AS rep, COUNT(*) AS b FROM fpt GROUP BY fp),
g AS (
  SELECT CAST(SUM(b) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_identity_groups,
         CAST(SUM(b) - COUNT(*) AS BIGINT) AS star_edges,
         CAST(SUM(b * (b - 1) // 2) AS BIGINT) AS within_pairs
  FROM grp
),
reps AS (SELECT f.doc_id, f.sh FROM fpt f JOIN grp g2 ON f.doc_id = g2.rep),
rp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM reps a JOIN reps b ON a.doc_id < b.doc_id
  WHERE {jac} >= {_thr_bps(MINHASH_THRESHOLD)}
),
rps AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS rep_pair_edges,
         CAST(COALESCE(SUM(ga.b * gb.b), 0) AS BIGINT) AS cross_pairs
  FROM rp JOIN grp ga ON ga.rep = rp.doc_a JOIN grp gb ON gb.rep = rp.doc_b
)
SELECT g.n_docs,
       g.n_identity_groups,
       g.star_edges,
       rps.rep_pair_edges,
       g.star_edges + rps.rep_pair_edges AS closure_edges,
       g.within_pairs + rps.cross_pairs AS pair_equivalent_edges,
       CASE WHEN g.within_pairs + rps.cross_pairs = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((g.within_pairs + rps.cross_pairs
                       - g.star_edges - rps.rep_pair_edges) * 10000
                      // (g.within_pairs + rps.cross_pairs) AS BIGINT)
       END AS savings_bps
FROM g CROSS JOIN rps
"""


@register(
    "closure_edge_stats",
    oracle=_closure_edge_stats_oracle(),
    doc=(
        "Star-edge collapse accounting (VERDICT r6 #6): per corpus, the "
        "edges the closure consumers actually ride (star edges within "
        "identical-shingle groups + verified rep pairs) vs the "
        "PAIR-EQUIVALENT count the uncollapsed path would verify-emit "
        "(sum of C(B,2) within groups + |X|*|Y| across near-dup group "
        "pairs — exact, because J(x,y) = J(rep_x, rep_y) for equal "
        "shingle sets). savings_bps makes the B-1-vs-B^2 win observable "
        "per corpus instead of only proven in unit fixtures "
        "(test_dedup_closure.py). Rides the memoized shingle table; the "
        "corpus is never self-joined — only identity-group REPS are "
        "(SURVEY §2.E)."
    ),
)
def closure_edge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = _shingle_table(docs, 3, sf_dir=sf_dir)
    fpt = sh.select(
        "doc_id",
        "sh",
        F.md5(F.concat_ws("\x1f", F.array_sort("sh"))).alias("fp"),
    )
    # localCheckpoint (r11, guide §2.4): the group-level table (one row
    # per identity group, dimension-sized) feeds FOUR branches (the
    # corpus rollup g, the rep projection, and both sides of the
    # group-size rejoin) and each re-ran the fingerprint pass over the
    # cached shingle table without it
    grp = fpt.groupBy("fp").agg(
        F.min("doc_id").alias("rep"), F.count("*").alias("b")
    ).localCheckpoint(eager=True)
    g = grp.agg(
        F.sum("b").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_identity_groups"),
        (F.sum("b") - F.count("*")).cast("bigint").alias("star_edges"),
        F.expr("sum(b * (b - 1) div 2)").cast("bigint").alias("within_pairs"),
    )
    reps_sh = fpt.join(
        grp.select(F.col("rep").alias("doc_id")), "doc_id"
    ).select("doc_id", "sh")
    rp = _verified_pairs_from_shingles(
        reps_sh, MINHASH_THRESHOLD, ordered=False
    ).select("doc_a", "doc_b")
    ga = grp.select(F.col("rep").alias("doc_a"), F.col("b").alias("ba"))
    gb = grp.select(F.col("rep").alias("doc_b"), F.col("b").alias("bb"))
    rps = (
        rp.join(ga, "doc_a")
        .join(gb, "doc_b")
        .agg(
            F.count("*").cast("bigint").alias("rep_pair_edges"),
            F.coalesce(F.sum(F.col("ba") * F.col("bb")), F.lit(0))
            .cast("bigint")
            .alias("cross_pairs"),
        )
    )
    pair_equiv = F.col("within_pairs") + F.col("cross_pairs")
    closure = F.col("star_edges") + F.col("rep_pair_edges")
    return g.crossJoin(F.broadcast(rps)).select(
        "n_docs",
        "n_identity_groups",
        "star_edges",
        "rep_pair_edges",
        closure.cast("bigint").alias("closure_edges"),
        pair_equiv.cast("bigint").alias("pair_equivalent_edges"),
        F.when(pair_equiv == 0, F.lit(0))
        .otherwise(F.expr(
            "(within_pairs + cross_pairs - star_edges - rep_pair_edges) * 10000"
            " div (within_pairs + cross_pairs)"
        ))
        .cast("bigint")
        .alias("savings_bps"),
    )


# ---------------------------------------------------------------------------
# minhash_est_error — sketch-accuracy audit: lane estimate vs exact Jaccard.
# ---------------------------------------------------------------------------


def _minhash_est_error_oracle() -> str:
    jac = _jbps_sql(
        "len(list_intersect(a.sh, b.sh))", "len(a.sh)", "len(b.sh)"
    )
    lane = (
        lambda l: "list_min(list_transform(sh, s -> "
        f"substring(md5('{l // H.LANES_PER_GROUP}:' || s), {1 + 8 * (l % H.LANES_PER_GROUP)}, 8)))"
    )
    lanes = ", ".join(lane(l) for l in range(H.N_LANES))
    lanes_e6 = H.N_LANES * 10000  # err is in units of 1/(32*10^4)
    return f"""
WITH {_shingle_cte(3)},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST({jac} AS BIGINT) AS j_bps
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE {jac} >= {_thr_bps(MINHASH_THRESHOLD)}
),
sig AS MATERIALIZED (SELECT doc_id, [{lanes}] AS lanes FROM sh),
e AS (
  SELECT p.j_bps,
         CAST(len(list_filter(range(1, {H.N_LANES + 1}),
                              i -> sa.lanes[i] = sb.lanes[i])) AS BIGINT) AS m
  FROM pairs p
  JOIN sig sa ON sa.doc_id = p.doc_a
  JOIN sig sb ON sb.doc_id = p.doc_b
)
SELECT CAST(j_bps // 1000 AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST((2000000 * CAST(SUM(ABS(10000 * m - {H.N_LANES} * j_bps)) AS HUGEINT)
             + CAST(COUNT(*) AS HUGEINT) * {lanes_e6})
            // (2 * CAST(COUNT(*) AS HUGEINT) * {lanes_e6}) AS BIGINT) AS mean_abs_err_e6,
       CAST((2000000 * MAX(ABS(10000 * m - {H.N_LANES} * j_bps)) + {lanes_e6})
            // (2 * {lanes_e6}) AS BIGINT) AS max_abs_err_e6
FROM e GROUP BY 1 ORDER BY band
"""


@register(
    "minhash_est_error",
    oracle=_minhash_est_error_oracle(),
    doc=(
        "MinHash sketch-accuracy audit: for every exact-verified "
        "near-dup pair, compare the 32-lane minhash ESTIMATE of Jaccard "
        "(fraction of agreeing lanes — the quantity LSH banding actually "
        "thresholds on) against the exact set Jaccard, summarized per "
        "0.1-wide J band (mean/max absolute error). The per-lane-count "
        "error floor is what sizes N_LANES: stderr ~ sqrt(J(1-J)/32). "
        "All error terms live in integer space (|10000*m - 32*j_bps|, "
        "units of 1/320000, off the exact j_bps pair contract) and the "
        "outputs ship as half-up e6 integers via DECIMAL(38,0)/HUGEINT "
        "cross-multiplication — no double division anywhere, so the "
        "distributed aggregate is order-insensitive and hash-stable "
        "cross-engine. Rides the memoized shingle table + the same "
        "md5 lane replication the index-integrity oracle uses "
        "(SURVEY §2.E)."
    ),
)
def minhash_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = _shingle_table(docs, 3, sf_dir=sf_dir)
    # lanes="md5": the oracle replays the md5 LSH pair set alongside
    # the md5 lane estimates — keep both sides on the contract lanes
    pairs = _verified_pairs_from_shingles(
        sh,
        MINHASH_THRESHOLD,
        ordered=False,
        lanes="md5",
        md5_sig=_md5_sig_table(docs, sf_dir),
    )
    sig = _md5_sig_table(docs, sf_dir)
    siga = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(H.N_LANES)],
    )
    sigb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(H.N_LANES)],
    )
    m = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(H.N_LANES)
    ).cast("bigint")
    e = (
        pairs.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .select("j_bps", m.alias("m"))
    )
    err = F.abs(10000 * F.col("m") - H.N_LANES * F.col("j_bps"))
    # half-up e6 presentation over DECIMAL(38,0): the mean's numerator
    # 2*10^6*sum_err can pass BIGINT once the pair stream exceeds
    # ~1.4e7 pairs (sum_err <= 32e4 * n_pairs)
    den = H.N_LANES * 10000
    return (
        e.groupBy(F.expr("j_bps div 1000").cast("bigint").alias("band"))
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(err).alias("sum_err"),
            F.max(err).alias("max_err"),
        )
        .select(
            "band",
            "n_pairs",
            F.expr(
                f"CAST((CAST(2000000 AS DECIMAL(38,0)) * sum_err"
                f" + CAST(n_pairs AS DECIMAL(38,0)) * {den})"
                f" div (CAST(2 AS DECIMAL(38,0)) * n_pairs * {den}) AS BIGINT)"
            ).alias("mean_abs_err_e6"),
            F.expr(
                f"CAST((2000000L * max_err + {den}) div (2L * {den}) AS BIGINT)"
            ).alias("max_abs_err_e6"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# dedup_method_agreement — do the dedup families flag the same docs?
# ---------------------------------------------------------------------------


def _method_agreement_oracle() -> str:
    def sh_cte(k: int) -> str:
        return (
            _shingle_cte(k)
            .replace("tok AS", f"tok{k} AS")
            .replace("FROM tok", f"FROM tok{k}")
            .replace("sh AS", f"sh{k} AS")
        )

    def jac(k: int) -> str:
        return _jbps_sql(
            "len(list_intersect(a.sh, b.sh))", "len(a.sh)", "len(b.sh)"
        )

    return f"""
WITH {sh_cte(2)},
{sh_cte(3)},
exa AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM documents
),
exflag AS (
  SELECT DISTINCT doc_id FROM exa
  WHERE fp IN (SELECT fp FROM exa GROUP BY fp HAVING COUNT(*) > 1)
),
ngp AS (
  SELECT a.doc_id AS da, b.doc_id AS db
  FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
  WHERE {jac(2)} >= {_thr_bps(NGRAM_THRESHOLD)}
),
ngflag AS (
  SELECT DISTINCT doc_id
  FROM (SELECT da AS doc_id FROM ngp UNION ALL SELECT db FROM ngp) t
),
mhp AS (
  SELECT a.doc_id AS da, b.doc_id AS db
  FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id
  WHERE {jac(3)} >= {_thr_bps(MINHASH_THRESHOLD)}
),
mhflag AS (
  SELECT DISTINCT doc_id
  FROM (SELECT da AS doc_id FROM mhp UNION ALL SELECT db FROM mhp) t
),
flags AS (
  SELECT 'exact' AS method, doc_id FROM exflag
  UNION ALL SELECT 'ngram2', doc_id FROM ngflag
  UNION ALL SELECT 'minhash3', doc_id FROM mhflag
),
counts AS (SELECT method, CAST(COUNT(*) AS BIGINT) AS n FROM flags GROUP BY method),
skel AS (
  SELECT * FROM (VALUES ('exact', 'minhash3'), ('exact', 'ngram2'),
                        ('minhash3', 'ngram2')) AS v(method_a, method_b)
),
ovl AS (
  SELECT a.method AS method_a, b.method AS method_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM flags a JOIN flags b ON a.doc_id = b.doc_id AND a.method < b.method
  GROUP BY 1, 2
)
SELECT s.method_a, s.method_b,
       CAST(COALESCE(ca.n, 0) AS BIGINT) AS n_a,
       CAST(COALESCE(cb.n, 0) AS BIGINT) AS n_b,
       CAST(COALESCE(o.n_both, 0) AS BIGINT) AS n_both,
       CAST(COALESCE((20000 * COALESCE(o.n_both, 0)
                      + (COALESCE(ca.n, 0) + COALESCE(cb.n, 0) - COALESCE(o.n_both, 0)))
                     // NULLIF(2 * (COALESCE(ca.n, 0) + COALESCE(cb.n, 0)
                                    - COALESCE(o.n_both, 0)), 0), 0)
            AS BIGINT) AS agreement_bps
FROM skel s
LEFT JOIN counts ca ON ca.method = s.method_a
LEFT JOIN counts cb ON cb.method = s.method_b
LEFT JOIN ovl o ON o.method_a = s.method_a AND o.method_b = s.method_b
ORDER BY s.method_a, s.method_b
"""


@register(
    "dedup_method_agreement",
    oracle=_method_agreement_oracle(),
    doc=(
        "Method-agreement matrix for the dedup families: which docs do "
        "exact fingerprinting, 2-gram Jaccard (t=0.5) and 3-gram "
        "MinHash (t=0.6) each FLAG as duplicates, and how much do the "
        "flag sets overlap (set Jaccard per method pair)? The report a "
        "pipeline owner reads before choosing a tier ladder "
        "(dedup_tiers): high exact~minhash agreement means the fuzzy "
        "pass mostly rediscovers byte-dupes; low ngram~minhash "
        "agreement means shingle size materially changes the corpus "
        "slice removed. Flag sets ride the memoized pair pipelines; "
        "the 3-row method skeleton is a plan constant "
        "(SURVEY §2.E)."
    ),
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fpd = docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))
    dup_fp = fpd.groupBy("fp").agg(F.count("*").alias("nc")).where(F.col("nc") > 1)
    exflag = fpd.join(dup_fp, "fp").select("doc_id")

    def flag_of(pairs: DataFrame) -> DataFrame:
        return pairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        ).distinct()

    ngflag = flag_of(
        _lsh_verified_pairs(docs, k=2, threshold=NGRAM_THRESHOLD, sf_dir=sf_dir)
    )
    mhflag = flag_of(
        _lsh_verified_pairs(docs, k=3, threshold=MINHASH_THRESHOLD, sf_dir=sf_dir)
    )
    flags = (
        exflag.select(F.lit("exact").alias("method"), "doc_id")
        .unionByName(ngflag.select(F.lit("ngram2").alias("method"), "doc_id"))
        .unionByName(mhflag.select(F.lit("minhash3").alias("method"), "doc_id"))
    )
    # r10 (guide §1.2): the old shape consumed `flags` from THREE
    # branches (per-method counts + both sides of a self-join), and a
    # lazy branch re-executes its whole lineage — including both LSH
    # verified-pair pipelines — once per consumer (measured 11.0 s).
    # One per-doc rollup of method membership followed by ONE 1-row
    # conditional aggregate yields every count and every pairwise
    # overlap from a single evaluation of the expensive stream; the
    # 3-row output skeleton is assembled from that 1-row broadcast.
    ms = F.col("ms")
    per_doc = flags.groupBy("doc_id").agg(F.collect_set("method").alias("ms"))
    has = {m: F.array_contains(ms, m).cast("int") for m in ("exact", "minhash3", "ngram2")}
    stats = per_doc.agg(
        *[F.sum(has[m]).cast("bigint").alias(f"n_{m}") for m in ("exact", "minhash3", "ngram2")],
        *[
            F.sum(has[a] * has[b]).cast("bigint").alias(f"b_{a}_{b}")
            for a, b in (("exact", "minhash3"), ("exact", "ngram2"), ("minhash3", "ngram2"))
        ],
    )
    skel = spark.createDataFrame(
        [("exact", "minhash3"), ("exact", "ngram2"), ("minhash3", "ngram2")],
        "method_a string, method_b string",
    )
    methods = ("exact", "minhash3", "ngram2")
    ordered_pairs = (("exact", "minhash3"), ("exact", "ngram2"), ("minhash3", "ngram2"))

    def _dispatch(side: str, cols: dict) -> F.Column:
        # route each skeleton row to its stat column; 0 when the corpus
        # flagged nothing (the old LEFT-join coalesce semantics)
        return F.coalesce(
            *[F.when(F.col(side) == k, v) for k, v in cols.items()], F.lit(0)
        ).cast("bigint")

    j = skel.crossJoin(F.broadcast(stats)).select(
        "method_a",
        "method_b",
        _dispatch("method_a", {m: F.col(f"n_{m}") for m in methods}).alias("n_a"),
        _dispatch("method_b", {m: F.col(f"n_{m}") for m in methods}).alias("n_b"),
        F.coalesce(
            *[
                F.when(
                    (F.col("method_a") == a) & (F.col("method_b") == b),
                    F.col(f"b_{a}_{b}"),
                )
                for a, b in ordered_pairs
            ],
            F.lit(0),
        ).cast("bigint").alias("n_both"),
    )
    return j.select(
        "method_a",
        "method_b",
        "n_a",
        "n_b",
        "n_both",
        # half-up integer bps over the flag-set union (exact-presentation
        # convention); NULL denominator (empty union) coalesces to 0
        F.coalesce(
            F.expr(
                "(20000L * n_both + (n_a + n_b - n_both))"
                " div nullif(2L * (n_a + n_b - n_both), 0L)"
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("agreement_bps"),
    ).orderBy("method_a", "method_b")


# ---------------------------------------------------------------------------
# dup_rate_by_ingest_bucket — is duplication growing over the crawl?
# ---------------------------------------------------------------------------

_INGEST_BUCKET = 100  # doc_id div 100: ingest-order cohorts


@register(
    "dup_rate_by_ingest_bucket",
    oracle=f"""
WITH fp AS (
  SELECT doc_id, md5(text) AS f FROM documents
),
firsts AS (
  SELECT f, MIN(doc_id) AS first_id FROM fp GROUP BY f
),
flagged AS (
  SELECT fp.doc_id // {_INGEST_BUCKET} AS bucket,
         CASE WHEN fp.doc_id <> fi.first_id THEN 1 ELSE 0 END AS is_dup
  FROM fp JOIN firsts fi ON fp.f = fi.f
)
SELECT CAST(bucket AS BIGINT) AS ingest_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(is_dup) AS BIGINT) AS n_dups,
       CAST(SUM(is_dup) * 10000 // COUNT(*) AS BIGINT) AS dup_rate_bps
FROM flagged GROUP BY bucket ORDER BY ingest_bucket
""",
    doc=(
        "Exact-duplicate rate per ingest-order cohort (doc_id div "
        f"{_INGEST_BUCKET}): is the crawl picking up MORE duplicates "
        "over time? — the temporal axis of duplication, next to "
        "dup_rate_by_source's provenance axis; a rising curve means "
        "the frontier is re-crawling covered ground and the dedup "
        "budget should shift earlier in the pipeline "
        "(incremental_neardup's online screen). First-seen owner per "
        "content hash via one fingerprint groupBy joined back on the "
        "hash key — both shuffles key-partitioned, no windows "
        "(SURVEY §2.E)."
    ),
)
def dup_rate_by_ingest_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", F.md5(F.col("text")).alias("f"))
    firsts = fp.groupBy("f").agg(F.min("doc_id").alias("first_id"))
    flagged = fp.join(firsts, "f").select(
        F.expr(f"doc_id div {_INGEST_BUCKET}").alias("bucket"),
        F.when(F.col("doc_id") != F.col("first_id"), 1).otherwise(0).alias("is_dup"),
    )
    return (
        flagged.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("is_dup").cast("bigint").alias("n_dups"),
            F.expr("SUM(is_dup) * 10000 div COUNT(*)")
            .cast("bigint")
            .alias("dup_rate_bps"),
        )
        .select(
            F.col("bucket").cast("bigint").alias("ingest_bucket"),
            "n_docs",
            "n_dups",
            "dup_rate_bps",
        )
        .orderBy("ingest_bucket")
    )


# ---------------------------------------------------------------------------
# cluster_source_span — cross-source contamination inside dup clusters.
# ---------------------------------------------------------------------------


@register(
    "cluster_source_span",
    oracle=f"""
WITH RECURSIVE {_shingle_cte(3)},
pairs AS {{_pairs}},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach AS (
  SELECT node, node AS reachable FROM nodes
  UNION
  SELECT r.node, e.b FROM reach r JOIN edges e ON r.reachable = e.a
),
clusters AS (
  SELECT node AS doc_id, MIN(reachable) AS cluster_id
  FROM reach GROUP BY node
),
spans AS (
  SELECT c.cluster_id,
         COUNT(*) AS cluster_size,
         COUNT(DISTINCT d.source) AS n_sources
  FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
  GROUP BY c.cluster_id
)
SELECT CAST(n_sources AS BIGINT) AS n_sources_in_cluster,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
FROM spans GROUP BY n_sources ORDER BY n_sources_in_cluster
""".replace("{_pairs}", "(" + _pairs_sql(MINHASH_THRESHOLD).replace("ORDER BY doc_a, doc_b", "") + ")"),
    doc=(
        "Cross-source span of near-duplicate clusters: for each "
        "cluster, how many DISTINCT sources its members came from, "
        "histogrammed — multi-source clusters are syndicated/mirrored "
        "content (dedup before mixture weighting or the weights "
        "double-count it), single-source clusters are within-crawl "
        "repetition (fix the frontier instead). The cluster-level "
        "completion of dup_source_matrix's pairwise view, riding the "
        "SAME memoized min-label-propagation closure as "
        "dedup_clusters (no extra pair generation), plus one "
        "key-equality join to documents for source and two rollups "
        "(SURVEY §2.E)."
    ),
)
def cluster_source_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    spans = (
        base.join(docs, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("cluster_size"),
            F.countDistinct("source").alias("n_sources"),
        )
    )
    return (
        spans.groupBy("n_sources")
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("cluster_size").cast("bigint").alias("n_docs"),
        )
        .select(
            F.col("n_sources").cast("bigint").alias("n_sources_in_cluster"),
            "n_clusters",
            "n_docs",
        )
        .orderBy("n_sources_in_cluster")
    )


@register(
    "cross_source_dup_matrix",
    oracle=f"""
WITH {_shingle_cte(3)},
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST({_jbps_sql("len(list_intersect(a.sh, b.sh))", "len(a.sh)", "len(b.sh)")}
              AS BIGINT) AS j_bps
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE {_jbps_sql("len(list_intersect(a.sh, b.sh))", "len(a.sh)", "len(b.sh)")}
        >= {_thr_bps(MINHASH_THRESHOLD)}
),
s AS (
  SELECT LEAST(da.source, db.source) AS source_a,
         GREATEST(da.source, db.source) AS source_b,
         p.j_bps
  FROM p JOIN documents da ON p.doc_a = da.doc_id
         JOIN documents db ON p.doc_b = db.doc_id
)
SELECT source_a, source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(j_bps) // COUNT(*) AS BIGINT) AS avg_jaccard_bps
FROM s GROUP BY source_a, source_b
ORDER BY n_pairs DESC, source_a, source_b
""",
    doc=(
        "Cross-source duplication matrix: verified near-dup pair "
        "counts (the dedup_minhash family's 3-gram Jaccard >= 0.6) "
        "rolled up to unordered (source, source) cells — WHICH sources "
        "copy from which, the provenance view behind mirror detection "
        "and per-source dedup budgeting (dup_rate_by_source says how "
        "much; this says with whom). Rides the shared memoized shingle "
        "cache and the LSH bucket-then-verify pair stream (no new scan "
        "when the family already ran); the source join is two "
        "id-keyed equi-joins and the rollup is source^2-bounded — "
        "dimension-sized at any corpus scale. Exact bps Jaccard means "
        "(integer sums, floor div) (SURVEY §2.E)."
    ),
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _lsh_verified_pairs(
        docs, k=3, threshold=MINHASH_THRESHOLD, sf_dir=sf_dir
    )
    src = docs.select("doc_id", "source")
    s = (
        pairs.join(src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "sa"), "doc_a")
        .join(src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "sb"), "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "j_bps",
        )
    )
    return (
        s.groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.expr("sum(j_bps) div count(*)").cast("bigint").alias("avg_jaccard_bps"),
        )
        .orderBy(F.desc("n_pairs"), "source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# dup_jaccard_histogram — strength distribution of the verified pair stream.
# ---------------------------------------------------------------------------

_JHIST_STEP_BPS = 500


@register(
    "dup_jaccard_histogram",
    oracle=f"""
WITH {_shingle_cte(3)},
p AS (
  SELECT CAST({_jbps_sql("len(list_intersect(a.sh, b.sh))", "len(a.sh)", "len(b.sh)")}
              AS BIGINT) AS j_bps
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE {_jbps_sql("len(list_intersect(a.sh, b.sh))", "len(a.sh)", "len(b.sh)")}
        >= {_thr_bps(MINHASH_THRESHOLD)}
),
b AS (
  SELECT j_bps // {_JHIST_STEP_BPS} AS bucket, j_bps
  FROM p
)
SELECT CAST(bucket * {_JHIST_STEP_BPS} AS BIGINT) AS j_bps_lo,
       CAST(LEAST(bucket * {_JHIST_STEP_BPS} + {_JHIST_STEP_BPS} - 1, 10000)
            AS BIGINT) AS j_bps_hi,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(j_bps) // COUNT(*) AS BIGINT) AS avg_j_bps
FROM b GROUP BY bucket ORDER BY j_bps_lo
""",
    doc=(
        "Similarity-strength histogram of the verified near-dup pair "
        "stream (dedup_minhash's 3-gram Jaccard >= 0.6) in 500-bps "
        "buckets: the threshold-tuning view — a mass of pairs piled "
        "just above the cut means the threshold is bisecting a "
        "near-dup population (lower it or lose recall), a bimodal "
        "shape separates true mirrors (~10000) from boilerplate "
        "overlap; minhash_calibration predicts the S-curve, THIS "
        "shows where the corpus actually sits on it. Rides the "
        "memoized shingle cache and LSH bucket-then-verify pair "
        "stream (no new scan when the family already ran); the rollup "
        "is 9-bucket-bounded at any corpus scale. Buckets and means "
        "are pure integer arithmetic off the exact half-up j_bps pair "
        "contract — no double appears anywhere (SURVEY §2.E)."
    ),
)
def dup_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _lsh_verified_pairs(docs, k=3, threshold=MINHASH_THRESHOLD, sf_dir=sf_dir)
    b = pairs.select("j_bps", F.expr(f"j_bps div {_JHIST_STEP_BPS}").alias("bucket"))
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.expr("sum(j_bps) div count(*)").cast("bigint").alias("avg_j_bps"),
        )
        .select(
            (F.col("bucket") * _JHIST_STEP_BPS).cast("bigint").alias("j_bps_lo"),
            F.least(
                F.col("bucket") * _JHIST_STEP_BPS + _JHIST_STEP_BPS - 1,
                F.lit(10000),
            )
            .cast("bigint")
            .alias("j_bps_hi"),
            "n_pairs",
            "avg_j_bps",
        )
        .orderBy("j_bps_lo")
    )
