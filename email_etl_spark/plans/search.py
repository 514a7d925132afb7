"""Search queries (SURVEY.md §2.C/§2.F) — the pgvector + full-text
surface (ref: src/database.py:168-210, scripts/init_db.sql:94-144,
src/llm_integration.py:32-59).

The reference's `ORDER BY embedding <=> $q LIMIT k` becomes a
broadcast of the (tiny) query-vector side against the distributed
embedding table + TakeOrderedAndProject — no global sort, no collect.
The hybrid score mirrors hybrid_email_search's 0.7·vector +
0.3·text-rank blend.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from email_etl_spark.cache import memo
from email_etl_spark.functions import built_once
from email_etl_spark.functions.text import tokens
from email_etl_spark.functions.vectors import cosine_rounded, duckdb_cosine
from email_etl_spark.io import load_table, open_parquet, parallelize_scan
from email_etl_spark.plans.registry import register

# Fixed "user query" for deterministic testing: terms + a corpus vector
# standing in for the embedded query string.
QUERY_TERMS = ("spark", "join", "fast")
QUERY_VEC_ID = 0

class _Cos:
    """str.format-compatible wrapper over duckdb_cosine."""

    @staticmethod
    def format(a: str, b: str) -> str:
        return duckdb_cosine(a, b)


_COS = _Cos()


def _term_rank(text_col):
    """Term-frequency rank (ts_rank analog): sum of per-term counts
    over (1 + token count), rounded for engine parity."""
    toks = tokens(text_col)

    def eq(term):  # single-arg lambda: F.filter treats 2-arg lambdas as (elem, idx)
        return lambda t: t == term

    tf = None
    for term in QUERY_TERMS:
        cnt = F.size(F.filter(toks, eq(term)))
        tf = cnt if tf is None else tf + cnt
    return F.round(tf.cast("double") / (F.size(toks) + F.lit(1)).cast("double"), 4)


_TERM_RANK_SQL = (
    "ROUND(CAST("
    + " + ".join(
        f"len(list_filter(toks, x -> x = '{t}'))" for t in QUERY_TERMS
    )
    + " AS DOUBLE) / (len(toks) + 1), 4)"
)
_TOKS_SQL = "list_filter(str_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"


@register(
    "semantic_topk",
    headline=True,
    oracle=f"""
SELECT e.vec_id, e.label,
       {_COS.format(a="e.embedding", b="q.embedding")} AS similarity
FROM embeddings e
CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
WHERE e.vec_id <> {QUERY_VEC_ID}
ORDER BY similarity DESC, e.vec_id
LIMIT 10
""",
    doc="Vector cosine top-k (ref: search_similar_emails, src/database.py:168; pgvector `<=>`).",
)
def semantic_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    q = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qvec"))
    return (
        emb.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            cosine_rounded(F.col("embedding"), F.col("qvec")).alias("similarity"),
        )
        .orderBy(F.desc("similarity"), "vec_id")
        .limit(10)
    )


@register(
    "text_rank",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents)
SELECT doc_id, lang, {_TERM_RANK_SQL} AS rank
FROM t
WHERE {_TERM_RANK_SQL} > 0
ORDER BY rank DESC, doc_id
LIMIT 20
""",
    doc="Full-text term rank (ref: ts_rank in hybrid_email_search, scripts/init_db.sql:120-127).",
)
def text_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    rank = _term_rank(F.col("text"))
    return (
        docs.select("doc_id", "lang", rank.alias("rank"))
        .where(F.col("rank") > 0)
        .orderBy(F.desc("rank"), "doc_id")
        .limit(20)
    )


@register(
    "hybrid_search",
    headline=True,
    oracle=f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
t AS (
  SELECT d.doc_id, d.lang, {_TOKS_SQL} AS toks, e.embedding
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE d.lang = 'en'
)
-- the 0.7/0.3 blend happens in DECIMAL: both operands are exact
-- 4-decimal values, so the score is an exact 5-decimal value — no
-- double-rounding boundary can split the engines.
SELECT doc_id,
       CAST(CAST({_COS.format(a="t.embedding", b="q.embedding")} AS DECIMAL(6,4)) * 0.7
          + CAST({_TERM_RANK_SQL} AS DECIMAL(6,4)) * 0.3 AS DOUBLE) AS score
FROM t CROSS JOIN q
ORDER BY score DESC, doc_id
LIMIT 15
""",
    doc="Hybrid 0.7·vector + 0.3·text-rank search with provider-style filter (ref: hybrid_email_search, scripts/init_db.sql:94-144).",
)
def hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize_scan(load_table(spark, sf_dir, "documents").where(F.col("lang") == "en"))
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qvec"))
    joined = docs.join(emb, docs.doc_id == emb.vec_id).crossJoin(F.broadcast(q))
    # blend in exact decimal (see oracle comment): 0.7·cos4 + 0.3·rank4
    # is an exact 5-decimal value, immune to double-rounding boundaries
    score = (
        cosine_rounded(F.col("embedding"), F.col("qvec")).cast("decimal(6,4)")
        * F.lit("0.7").cast("decimal(2,1)")
        + _term_rank(F.col("text")).cast("decimal(6,4)") * F.lit("0.3").cast("decimal(2,1)")
    ).cast("double")
    return (
        joined.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(15)
    )


@register(
    "ann_bruteforce",
    headline=True,
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id, e.label,
         {_COS.format(a="e.embedding", b="q.qvec")} AS similarity,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY {_COS.format(a="e.embedding", b="q.qvec")} DESC, e.vec_id
         ) AS rn
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, label, similarity
FROM scored WHERE rn <= 3
ORDER BY query_id, similarity DESC, vec_id
""",
    doc="Exact batch ANN baseline: broadcast the query batch, window top-k per query (SURVEY §2.F).",
)
def ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "label",
            cosine_rounded(F.col("embedding"), F.col("qvec")).alias("similarity"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("query_id", "vec_id", "label", "similarity")
        .orderBy("query_id", F.desc("similarity"), "vec_id")
    )


# ---------------------------------------------------------------------------
# ANN via random-hyperplane (sign) LSH — the scale path for similarity
# search: bucket on sign signatures, verify exact cosine only inside
# colliding buckets. The hyperplanes are md5-derived plan constants
# (functions/hashing.py::hyperplanes), so the oracle reproduces the
# exact same buckets — the query is deterministic end to end, not
# probabilistic at parity time.
# ---------------------------------------------------------------------------

from email_etl_spark.functions.hashing import hyperplanes  # noqa: E402

LSH_TABLES = 4
LSH_BITS = 8
EMB_DIM = 64
_PLANES = hyperplanes(LSH_TABLES, LSH_BITS, EMB_DIM)

# the 32 hyperplanes flattened table-major: the signature kernels'
# input, a pure function of the md5-derived planes
_FLAT_PLANES = [
    [float(v) for v in _PLANES[t][j]] for t in range(LSH_TABLES) for j in range(LSH_BITS)
]


@built_once
def _planes_literal():
    # element-wise F.lit() on a 32x64 nested array costs ~1s of py4j
    # round-trips per build, while one parsed SQL literal is ~free and
    # value-identical (repr() round-trips every IEEE double exactly)
    return F.expr(
        "array("
        + ",".join("array(" + ",".join(f"{v!r}D" for v in p) + ")" for p in _FLAT_PLANES)
        + ")"
    )


def _sig_spark(emb_col) -> list:
    """One LSH signature column per table: an 8-char '0'/'1' string.

    All 32 hyperplanes are ONE nested-array literal and the sign bits
    come from a single transform lambda (one compiled expression
    applied 32 times, not 32 inlined fold trees); each dot replays the
    oracle's left-to-right IEEE accumulation. The four substrings below
    reference that one expression, so the signature work runs once per
    row."""
    bit_arr = F.transform(
        _planes_literal(),
        lambda plane: F.when(
            F.aggregate(
                F.zip_with(emb_col, plane, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0")),
    )
    return [
        F.array_join(F.slice(bit_arr, 1 + t * LSH_BITS, LSH_BITS), "").alias(f"sig{t}")
        for t in range(LSH_TABLES)
    ]


def _lsh_buckets(vectors: DataFrame) -> DataFrame:
    """(vec_id, embedding) → one (vec_id, t, key) row per LSH table,
    key the vector's signature in table t: the bucket table of the
    persisted index (build_ann_index, streaming/ann_index.py) and of
    every in-plan (t, key) equality join."""
    sigs = vectors.select("vec_id", *_sig_spark(F.col("embedding")))
    tables = F.array(
        *[
            F.struct(F.lit(t).alias("t"), F.col(f"sig{t}").alias("key"))
            for t in range(LSH_TABLES)
        ]
    )
    return sigs.select("vec_id", F.explode(tables).alias("bk")).select(
        "vec_id", F.col("bk.t").alias("t"), F.col("bk.key").alias("key")
    )


def _sig_sql(emb_expr: str, t: int) -> str:
    bits = []
    for j in range(LSH_BITS):
        plane = "[" + ", ".join(str(v) for v in _PLANES[t][j]) + "]::DOUBLE[]"
        dot = (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, {EMB_DIM} + 1), "
            f"i -> CAST({emb_expr}[i] AS DOUBLE) * ({plane})[i])), (acc, v) -> acc + v)"
        )
        bits.append(f"CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END")
    return " || ".join(bits)


def _ann_lsh_oracle() -> str:
    sig_cols = ", ".join(f"{_sig_sql('embedding', t)} AS sig{t}" for t in range(LSH_TABLES))
    collide = " OR ".join(f"e.sig{t} = q.sig{t}" for t in range(LSH_TABLES))
    return f"""
WITH sigs AS (SELECT vec_id, label, embedding, {sig_cols} FROM embeddings),
q AS (SELECT * FROM sigs WHERE vec_id = {QUERY_VEC_ID}),
cand AS (
  SELECT e.vec_id, e.label,
         {_COS.format(a="e.embedding", b="q.embedding")} AS similarity
  FROM sigs e CROSS JOIN q
  WHERE e.vec_id <> q.vec_id AND ({collide})
)
SELECT vec_id, label, similarity FROM cand
ORDER BY similarity DESC, vec_id LIMIT 5
"""


@register(
    "ann_lsh",
    headline=True,
    oracle=_ann_lsh_oracle(),
    doc=(
        "Sign-LSH ANN: 4 tables x 8 hyperplane bits bucket the corpus; only "
        "bucket-colliding vectors get exact cosine verification. The "
        "signature computation is one map pass, and candidates come from an "
        "EQUALITY join on the (table, signature) bucket key — at scale a "
        "bucket-partitioned store reads only the colliding buckets, never "
        "the corpus (SURVEY §2.F)."
    ),
)
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    # memoized signature-projection HANDLE (lazy plan, no data): the
    # 32-hyperplane nested-array literal costs ~0.7 s of py4j Column
    # construction plus ~0.4 s of Catalyst analysis PER BUILDER CALL
    # when rebuilt inline (measured r10, decompose probe). A serving
    # layer derives its signature view once per corpus, exactly like
    # the persisted-index handle ann_lsh_indexed already memoizes.
    sigs = memo(
        spark, "lsh_sigs", sf_dir,
        build=lambda: emb.select("vec_id", *_sig_spark(F.col("embedding"))),
    )
    # candidate discovery (r10): the query's LSH_TABLES bucket keys are
    # PLAN CONSTANTS — computed driver-side from the memoized query
    # vector with the same left-to-right IEEE accumulation as the
    # engine kernels (_query_bucket_keys, the bit-identical convention
    # ann_lsh_indexed / ann_multiprobe already serve from) — so the
    # collision test is a literal filter on the per-table signature
    # columns. This replaces the old explode→self-join→distinct shape
    # (3 operators + 2 exchanges) with zero extra shuffles: each vector
    # appears once in `sigs`, so an OR over the 4 table keys already
    # yields the deduplicated candidate set. Same candidate semantics
    # (share ≥1 bucket with the query), same one signature map pass;
    # at scale the pruned-bucket read stays ann_lsh_indexed's job.
    qkeys = _query_bucket_keys(_qvec_list(spark, sf_dir))
    collide = None
    for t, key in qkeys:
        c = F.col(f"sig{t}") == F.lit(key)
        collide = c if collide is None else (collide | c)
    cand_ids = (
        sigs.where(collide)
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id")
    )
    # exact verification inside the collided set: broadcast the (small
    # by construction) candidate ids back over the embedding table. The
    # query vector is a PLAN CONSTANT, exactly as in real ANN serving
    # (the caller hands the engine an embedded query, it never lives in
    # the corpus scan): a single-row pushed-filter lookup at build time
    # becomes a literal array, so verification is a pure map over the
    # candidate rows — no join, no nested loop. Memoized per corpus dir
    # the way a serving layer holds the already-embedded query.
    return (
        F.broadcast(cand_ids)
        .join(emb, "vec_id")
        .select(
            "vec_id",
            "label",
            cosine_rounded(F.col("embedding"), _qvec_lit(spark, sf_dir)).alias("similarity"),
        )
        .orderBy(F.desc("similarity"), "vec_id")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# Persisted ANN index: the reference builds its vector index ONCE and
# serves queries from it (HNSW, scripts/init_db.sql:53; GIN full-text,
# init_db.sql:59-67) — recomputing signatures inside every query plan
# is the 100 TB anti-pattern. build_ann_index materializes the
# (t, key, vec_id) bucket table partitioned by (t, key); a query then
# computes the query vector's LSH_TABLES bucket keys driver-side (plan
# constants, same md5-derived planes) and reads ONLY those partitions
# — directory-level pruning, the corpus is never scanned.
# ---------------------------------------------------------------------------

# anchored at the repo root (not the caller's cwd): a driver running
# from elsewhere must not scatter index dirs outside the repo
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
ANN_INDEX_ROOT = os.path.join(_REPO_ROOT, "spark-warehouse", "ann_lsh_index")


def _qvec_list(spark: SparkSession, sf_dir: str) -> list[float]:
    """The already-embedded query vector as plan-constant floats
    (memoized per corpus dir: its lookup is a job)."""

    def build():
        row = (
            load_table(spark, sf_dir, "embeddings")
            .where(F.col("vec_id") == QUERY_VEC_ID)
            .select("embedding")
            .first()
        )
        return [float(x) for x in row[0]]

    return memo(spark, "qvec_list", sf_dir, build=build)


def _qvec_lit(spark: SparkSession, sf_dir: str):
    """The query vector as ONE parsed array literal (the
    _planes_literal convention: element-wise F.lit() costs a py4j
    round-trip per dimension)."""
    return F.expr("array(" + ",".join(f"{x!r}D" for x in _qvec_list(spark, sf_dir)) + ")")


def _query_bucket_keys(qvec: list[float]) -> list[tuple[int, str]]:
    """(table, signature) bucket keys for a query vector, computed
    driver-side with the same left-to-right IEEE dot accumulation as
    the engine kernels (bit-identical; the ann_multiprobe convention)."""
    keys = []
    for t in range(LSH_TABLES):
        bits = []
        for j in range(LSH_BITS):
            dot = 0.0
            for d in range(EMB_DIM):
                dot = dot + qvec[d] * float(_PLANES[t][j][d])
            bits.append("1" if dot >= 0 else "0")
        keys.append((t, "".join(bits)))
    return keys


def build_ann_index(spark: SparkSession, sf_dir: str, index_dir: str | None = None) -> str:
    """Materialize the sign-LSH bucket table for a corpus, partitioned
    by (t, key) — one signature map pass over the embeddings, written
    once through the warehouse layout rules (sinks/parquet.py). Query
    plans against the index are partition-pruned bucket reads.
    Idempotent per corpus dir: skipped when the index already exists."""
    import os as _os

    from email_etl_spark.sinks.parquet import write_partitioned

    index_dir = index_dir or _os.path.join(
        ANN_INDEX_ROOT, _os.path.basename(sf_dir.rstrip("/"))
    )
    if not _os.path.exists(_os.path.join(index_dir, "_SUCCESS")):
        emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
        write_partitioned(_lsh_buckets(emb), index_dir, ["t", "key"], sort_col="vec_id")
    return index_dir


@register(
    "ann_lsh_indexed",
    headline=True,
    oracle=_ann_lsh_oracle(),
    doc=(
        "Sign-LSH ANN served from the PERSISTED bucket index (ref: "
        "build-once HNSW index, scripts/init_db.sql:53): build_ann_index "
        "materializes (t, key, vec_id) partitioned by (t, key); the "
        "query computes its bucket keys driver-side from the md5-derived "
        "planes and reads only those partitions (PartitionFilters — "
        "proven pruned in tests/test_ann_index.py), then verifies exact "
        "cosine over the colliding vectors only. Same results as "
        "ann_lsh, without recomputing corpus signatures per query "
        "(SURVEY §2.F)."
    ),
)
def ann_lsh_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    index_dir = build_ann_index(spark, sf_dir)
    keys = _query_bucket_keys(_qvec_list(spark, sf_dir))
    # listing the ~1k bucket dirs costs ~1 s of driver-side discovery
    # per fresh read.parquet, so the handle is held open
    idx = open_parquet(spark, index_dir)
    pred = None
    for t, key in keys:
        clause = (F.col("t") == t) & (F.col("key") == key)
        pred = clause if pred is None else (pred | clause)
    cand_ids = (
        idx.where(pred)
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id")
        .distinct()
    )
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        F.broadcast(cand_ids)
        .join(emb, "vec_id")
        .select(
            "vec_id",
            "label",
            cosine_rounded(F.col("embedding"), _qvec_lit(spark, sf_dir)).alias("similarity"),
        )
        .orderBy(F.desc("similarity"), "vec_id")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# Date-filtered search (ref: hybrid_email_search(date_from, date_to),
# scripts/init_db.sql:99-131; every MCP search tool exposes the same
# date_from/date_to pair, src/api/mcp_tools.py:32-44, 71-83).
#
# The corpus has no timestamp column, so a deterministic ingest date is
# derived from the id: doc k arrives on 2024-01-01 + (k div 10) days —
# ten docs a day, the monotone id↔date mapping every append-only ingest
# produces. At scale the table is date-partitioned and the date window
# prunes partitions; here the monotone mapping plays that role: the
# builder converts the window to an id range and pushes THAT into the
# parquet scan (visible as PushedFilters), so the scan reads only the
# window — the date predicate never touches out-of-window rows.
# ---------------------------------------------------------------------------

EPOCH_DATE = "2024-01-01"
DOCS_PER_DAY = 10
DATE_FROM = "2024-01-08"
DATE_TO = "2024-01-21"


def _date_window_id_bounds() -> tuple[int, int]:
    """Convert the [DATE_FROM, DATE_TO] window to the equivalent
    contiguous id range under the monotone ingest mapping."""
    from datetime import date

    epoch = date.fromisoformat(EPOCH_DATE)
    lo_day = (date.fromisoformat(DATE_FROM) - epoch).days
    hi_day = (date.fromisoformat(DATE_TO) - epoch).days
    return lo_day * DOCS_PER_DAY, (hi_day + 1) * DOCS_PER_DAY - 1


_DOC_DATE_SQL = f"DATE '{EPOCH_DATE}' + CAST(doc_id // {DOCS_PER_DAY} AS INTEGER)"
_VEC_DATE_SQL = f"DATE '{EPOCH_DATE}' + CAST(vec_id // {DOCS_PER_DAY} AS INTEGER)"


def _doc_date_col(id_col):
    return F.date_add(F.to_date(F.lit(EPOCH_DATE)), (id_col / DOCS_PER_DAY).cast("int"))


@register(
    "hybrid_search_dated",
    oracle=f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
t AS (
  SELECT d.doc_id, {_DOC_DATE_SQL.replace("doc_id", "d.doc_id")} AS doc_date,
         {_TOKS_SQL.replace("text", "d.text")} AS toks, e.embedding
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE d.lang = 'en'
    AND {_DOC_DATE_SQL.replace("doc_id", "d.doc_id")} BETWEEN DATE '{DATE_FROM}' AND DATE '{DATE_TO}'
)
SELECT doc_id, doc_date,
       CAST(CAST({_COS.format(a="t.embedding", b="q.embedding")} AS DECIMAL(6,4)) * 0.7
          + CAST({_TERM_RANK_SQL} AS DECIMAL(6,4)) * 0.3 AS DOUBLE) AS score
FROM t CROSS JOIN q
ORDER BY score DESC, doc_id
LIMIT 15
""",
    doc=(
        "Date-windowed hybrid search — the full hybrid_email_search "
        "surface incl. date_from/date_to (ref: scripts/init_db.sql:99-131, "
        "src/api/mcp_tools.py:32-44). The date window becomes a pushed id "
        "range under the monotone ingest mapping (= partition pruning on a "
        "date-partitioned table), then the 0.7/0.3 blend runs on the "
        "pruned slice only."
    ),
)
def hybrid_search_dated(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo, hi = _date_window_id_bounds()
    docs = parallelize_scan(
        load_table(spark, sf_dir, "documents").where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi) & (F.col("lang") == "en")
        )
    )
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qvec"))
    joined = docs.join(emb, docs.doc_id == emb.vec_id).crossJoin(F.broadcast(q))
    score = (
        cosine_rounded(F.col("embedding"), F.col("qvec")).cast("decimal(6,4)")
        * F.lit("0.7").cast("decimal(2,1)")
        + _term_rank(F.col("text")).cast("decimal(6,4)") * F.lit("0.3").cast("decimal(2,1)")
    ).cast("double")
    return (
        joined.select(
            "doc_id", _doc_date_col(F.col("doc_id")).alias("doc_date"), score.alias("score")
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(15)
    )


@register(
    "semantic_topk_dated",
    oracle=f"""
SELECT e.vec_id, {_VEC_DATE_SQL.replace("vec_id", "e.vec_id")} AS vec_date, e.label,
       {_COS.format(a="e.embedding", b="q.embedding")} AS similarity
FROM embeddings e
CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
WHERE e.vec_id <> {QUERY_VEC_ID}
  AND {_VEC_DATE_SQL.replace("vec_id", "e.vec_id")} BETWEEN DATE '{DATE_FROM}' AND DATE '{DATE_TO}'
ORDER BY similarity DESC, e.vec_id
LIMIT 10
""",
    doc=(
        "Date-windowed vector top-k — search_similar_emails with "
        "date_from/date_to (ref: src/database.py:168-210, "
        "src/api/mcp_tools.py:71-83). Same pushed id-range pruning as "
        "hybrid_search_dated."
    ),
)
def semantic_topk_dated(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo, hi = _date_window_id_bounds()
    emb = parallelize_scan(
        load_table(spark, sf_dir, "embeddings").where(
            (F.col("vec_id") >= lo) & (F.col("vec_id") <= hi)
        )
    )
    full = load_table(spark, sf_dir, "embeddings")
    q = full.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qvec"))
    return (
        emb.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            _doc_date_col(F.col("vec_id")).alias("vec_date"),
            "label",
            cosine_rounded(F.col("embedding"), F.col("qvec")).alias("similarity"),
        )
        .orderBy(F.desc("similarity"), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# RAG context assembly (ref: answer_question, src/llm_integration.py:
# 233-307 minus the generation call). The question's embedding comes
# from the deterministic stub embedder at PLAN BUILD time and is
# inlined as a literal — both engines rank against the identical
# vector, and the assembled context block is byte-identical.
# ---------------------------------------------------------------------------

RAG_QUESTION = "spark join performance"


def _rag_qvec() -> list[float]:
    from email_etl_spark.llm.stub import _embed_one

    return _embed_one(RAG_QUESTION)


@built_once
def _rag_qvec_literal():
    return F.expr("array(" + ",".join(f"{float(v)!r}D" for v in _rag_qvec()) + ")")


def _rag_oracle() -> str:
    qvec = "[" + ", ".join(repr(v) for v in _rag_qvec()) + "]::DOUBLE[]"
    cos = duckdb_cosine("e.embedding", f"({qvec})")
    return f"""
WITH hits AS (
  SELECT d.doc_id, {cos} AS similarity, substr(d.text, 1, 200) AS snippet
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  ORDER BY similarity DESC, d.doc_id LIMIT 5
)
SELECT '{RAG_QUESTION}' AS question,
       COUNT(*) AS n_sources,
       string_agg(
         'Doc ' || CAST(doc_id AS VARCHAR) || ' (similarity ' || printf('%.4f', similarity) || '):' || chr(10) || snippet,
         chr(10) || '---' || chr(10) ORDER BY similarity DESC, doc_id
       ) AS context
FROM hits
"""


@register(
    "rag_context",
    headline=True,
    oracle=_rag_oracle(),
    doc=(
        "RAG context block: top-k semantic hits composed into the prompt "
        "context the reference hands to the LLM (ask_email_question surface)."
    ),
)
def rag_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    # plan-constant question vector as ONE parsed literal (the
    # _planes_literal convention): element-wise F.lit() on a 64-dim
    # array costs 64 py4j round-trips per builder call
    qvec = _rag_qvec_literal()
    hits = (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .select(
            "doc_id",
            cosine_rounded(F.col("embedding"), qvec).alias("similarity"),
            F.substring("text", 1, 200).alias("snippet"),
        )
        .orderBy(F.desc("similarity"), "doc_id")
        .limit(5)
    )
    entry = F.struct(
        (-F.col("similarity")).alias("neg_sim"),
        F.col("doc_id").alias("doc_id"),
        F.concat(
            F.lit("Doc "), F.col("doc_id").cast("string"),
            F.lit(" (similarity "), F.format_string("%.4f", F.col("similarity")),
            F.lit("):\n"), F.col("snippet"),
        ).alias("block"),
    )
    return (
        hits.select(entry.alias("entry"))
        .agg(
            F.count("*").alias("n_sources"),
            F.array_join(
                F.transform(F.array_sort(F.collect_list("entry")), lambda e: e["block"]),
                "\n---\n",
            ).alias("context"),
        )
        .select(F.lit(RAG_QUESTION).alias("question"), "n_sources", "context")
    )


# ---------------------------------------------------------------------------
# IVF-style ANN: coarse-quantize vectors to their nearest centroid,
# probe only the query's nprobe nearest centroid lists, verify exact
# cosine inside the probed lists. Centroids here are deterministic
# seeds (vec_id < K) so the oracle replays the identical structure; a
# production build iterates k-means with the same assignment operator
# (assignment is the engine op — the seeding policy is pluggable).
# ---------------------------------------------------------------------------

IVF_K = 16       # coarse centroids
IVF_NPROBE = 4   # probed lists per query


def _ann_ivf_oracle() -> str:
    cos_cv = _COS.format(a="v.embedding", b="c.embedding")
    cos_qc = _COS.format(a="q.embedding", b="c.embedding")
    cos_qv = _COS.format(a="v.embedding", b="q.embedding")
    return f"""
WITH c AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < {IVF_K}),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {cos_cv} DESC, c.cid) AS rn
    FROM embeddings v CROSS JOIN c
  ) WHERE rn = 1
),
q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
probes AS (
  SELECT cid FROM (
    SELECT c.cid, ROW_NUMBER() OVER (ORDER BY {cos_qc} DESC, c.cid) AS rn
    FROM c CROSS JOIN q
  ) WHERE rn <= {IVF_NPROBE}
)
SELECT v.vec_id, v.label, {cos_qv} AS similarity
FROM embeddings v
JOIN assign a ON v.vec_id = a.vec_id
JOIN probes p ON a.cid = p.cid
CROSS JOIN q
WHERE v.vec_id <> {QUERY_VEC_ID}
ORDER BY similarity DESC, v.vec_id
LIMIT 5
"""


@register(
    "ann_ivf",
    oracle=_ann_ivf_oracle(),
    doc=(
        "IVF ANN: deterministic coarse quantizer (argmax-cosine assignment "
        "to K centroid seeds), nprobe nearest lists probed, exact verify "
        "inside lists. At scale, assignment is one broadcast-centroid map "
        "pass and probing reads only nprobe/K of the corpus (SURVEY §2.F)."
    ),
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    cents = emb.where(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    # assignment: broadcast centroids, argmax cosine per vector
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "embedding",
        "cid",
        cosine_rounded(F.col("embedding"), F.col("cvec")).alias("c_sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("c_sim"), "cid")
    assign = (
        scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
        .select("vec_id", "label", "embedding", "cid")
    )
    # probe the query's nprobe nearest centroid lists
    q = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qvec"))
    probe_scored = cents.crossJoin(F.broadcast(q)).select(
        "cid", cosine_rounded(F.col("cvec"), F.col("qvec")).alias("q_sim")
    )
    wq = Window.orderBy(F.desc("q_sim"), "cid")
    probes = (
        probe_scored.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= IVF_NPROBE)
        .select("cid")
    )
    return (
        assign.join(F.broadcast(probes), "cid")
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            cosine_rounded(F.col("embedding"), F.col("qvec")).alias("similarity"),
        )
        .orderBy(F.desc("similarity"), "vec_id")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# TF-IDF ranked search: classic lexical relevance with corpus-level
# document frequencies — the step up from ts_rank-style term counting.
# idf = ln(N / df) over the same fixed query terms; all arithmetic is
# (int, int) -> one double op, so both engines agree bit-for-bit
# before the final rounding.
# ---------------------------------------------------------------------------


def _tfidf_oracle() -> str:
    toks = _TOKS_SQL
    tf = {t: f"len(list_filter(toks, x -> x = '{t}'))" for t in QUERY_TERMS}
    per_term = " + ".join(
        f"CASE WHEN {tf[t]} > 0 THEN {tf[t]} * ln(CAST(n_total AS DOUBLE) / df_{t}) ELSE 0.0 END"
        for t in QUERY_TERMS
    )
    dfs = ", ".join(
        f"SUM(CASE WHEN {tf[t]} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in QUERY_TERMS
    )
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
stats AS (SELECT COUNT(*) AS n_total, {dfs} FROM t)
SELECT doc_id, ROUND({per_term}, 4) AS tfidf
FROM t CROSS JOIN stats
WHERE {per_term} > 0
ORDER BY tfidf DESC, doc_id
LIMIT 20
"""


@register(
    "tfidf_search",
    oracle=_tfidf_oracle(),
    doc=(
        "TF-IDF ranked search over fixed query terms: corpus df via one "
        "aggregate broadcast back over the scan — two passes total, no "
        "per-term joins (full-text surface, scripts/init_db.sql:66-71)."
    ),
)
def tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    toks_df = docs.select("doc_id", tokens(F.col("text")).alias("toks"))

    def eq(term):
        return lambda x: x == term

    tf_cols = {t: F.size(F.filter(F.col("toks"), eq(t))) for t in QUERY_TERMS}
    with_tf = toks_df.select(
        "doc_id", *[tf.alias(f"tf_{t}") for t, tf in tf_cols.items()]
    )
    stats = with_tf.agg(
        F.count("*").alias("n_total"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in QUERY_TERMS
        ],
    )
    score = None
    for t in QUERY_TERMS:
        term_score = F.when(
            F.col(f"tf_{t}") > 0,
            F.col(f"tf_{t}") * F.log(F.col("n_total").cast("double") / F.col(f"df_{t}")),
        ).otherwise(F.lit(0.0))
        score = term_score if score is None else score + term_score
    return (
        with_tf.crossJoin(F.broadcast(stats))
        .where(score > 0)
        .select("doc_id", F.round(score, 4).alias("tfidf"))
        .orderBy(F.desc("tfidf"), "doc_id")
        .limit(20)
    )


_NORM_SQL = (
    "sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(embedding) + 1), "
    "i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))), (acc, v) -> acc + v))"
)


@register(
    "embedding_qa",
    oracle=f"""
WITH v AS (
  SELECT label, len(embedding) AS dim,
         CAST(ROUND({_NORM_SQL}, 6) AS DECIMAL(18,6)) AS norm_r
  FROM embeddings
)
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(SUM(CASE WHEN dim = 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_dim_ok,
       CAST(SUM(CASE WHEN norm_r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       CAST(MIN(norm_r) AS DOUBLE) AS min_norm,
       CAST(MAX(norm_r) AS DOUBLE) AS max_norm,
       ROUND(CAST(SUM(norm_r) AS DOUBLE) / COUNT(*), 6) AS avg_norm
FROM v GROUP BY label ORDER BY label
""",
    doc=(
        "Embedding-table QA rollup — the sanity pass a pipeline runs "
        "before indexing or training on a vector column: per-label "
        "counts, dimension-contract violations, zero vectors, and "
        "norm statistics. Per-row norms are rounded to DECIMAL(18,6) "
        "BEFORE the distributed sum (the unigram_logprob convention) "
        "so the mean is order-insensitive and bit-stable at any "
        "parallelism. One scan + one partial-aggregated shuffle; the "
        "fold stays in the JVM (no Python UDF)."
    ),
)
def embedding_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from email_etl_spark.functions.vectors import dot

    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    norm_r = F.round(F.sqrt(dot(e, e)), 6).cast("decimal(18,6)")
    v = emb.select("label", F.size(e).alias("dim"), norm_r.alias("norm_r"))
    return (
        v.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.when(F.col("dim") == 64, 1).otherwise(0)).cast("bigint").alias("n_dim_ok"),
            F.sum(F.when(F.col("norm_r") == 0, 1).otherwise(0)).cast("bigint").alias("n_zero"),
            F.min("norm_r").cast("double").alias("min_norm"),
            F.max("norm_r").cast("double").alias("max_norm"),
            F.round(F.sum("norm_r").cast("double") / F.count("*"), 6).alias("avg_norm"),
        )
        .orderBy("label")
    )


_KNN_K = 3


@register(
    "knn_join",
    oracle=f"""
WITH pairs AS (
  SELECT a.vec_id AS q, b.vec_id AS n,
         {duckdb_cosine('a.embedding', 'b.embedding')} AS c
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
),
ranked AS (
  SELECT q, n, c, ROW_NUMBER() OVER (PARTITION BY q ORDER BY c DESC, n) AS rk
  FROM pairs
)
SELECT q AS vec_id, rk AS rank, n AS neighbor_id, c AS cos_sim
FROM ranked WHERE rk <= {_KNN_K} ORDER BY vec_id, rank
""",
    doc=(
        "Exact k-NN self-join over the embedding table: every vector's "
        f"top-{_KNN_K} cosine neighbors — the all-to-all variant of ANN "
        "(semantic clustering, hard-negative mining, citation-graph "
        "construction). Scale shape: block tiling (vec mod P), each "
        "(i,j) tile one bounded NumPy matmul task that keeps, per row, "
        "every cell within the 4-digit rounding tolerance of its LOCAL "
        "k-th similarity — a threshold, not a count, so every candidate "
        "tied at the k-th rounded value survives, and the shuffle "
        "carries O(P·k) candidate rows per vector on tie-free data, "
        "never the O(n) similarity row — then survivors are exact-fold "
        "verified (the matmul is a pruner, not the contract) and a "
        "per-query sorted-truncate aggregation takes the global top-k "
        "with a deterministic (cos desc, id) tiebreak (map-side "
        "combined — no corpus-wide sort). No driver collect, no corpus "
        "broadcast; P = ceil(n/4096) grows with the corpus so a block "
        "always fits a task. ann_lsh/ann_ivf are the approximate fast "
        "paths when recall<1 is acceptable."
    ),
)
def knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _knn_pairs(spark, sf_dir).orderBy("vec_id", "rank")


_KNN_BLOCK = 4096  # tile side in rows: one tile's similarity matrix
# is at most 4096² float64 = 128 MB — a bounded per-task allocation at
# any corpus size (guide §5)

# The tile kernel's pruning tolerance. Consumers compare cosines
# rounded to 4 digits, and two values that round to the same 4-digit
# result differ by less than 1e-4; 1e-9 covers the float64 matmul vs
# sequential-fold divergence (~1e-15 at 64 dims) with a wide margin.
_TILE_TOL = 1e-4 + 1e-9


def _n_vectors(spark: SparkSession, sf_dir: str) -> int:
    """Row count of the embeddings table, memoized per corpus: the tile
    kernel (_tile_pairs) and _semdedup_assignment derive their tile or
    cluster count from it, and each count is a job."""
    return memo(spark, "rows", sf_dir, build=lambda: load_table(spark, sf_dir, "embeddings").count())


def _tile_pairs(
    spark: SparkSession,
    sf_dir: str,
    *,
    k: int | None = None,
    floor: float | None = None,
    group=None,
) -> DataFrame:
    """The exact all-pairs block-tile kernel: (q, n, c) rows, c the
    exact-fold rounded cosine, for every ordered pair q != n that the
    per-row rule keeps. Exactly one of:
    - k: keep each row's cells with sim >= (the row's local k-th sim)
      - _TILE_TOL. A local k-th is never above the global k-th, so
      every pair that can reach the row's global top-k under the
      (cos DESC, id ASC) contract survives, ties at the k-th rounded
      value included;
    - floor: keep cells with sim >= floor - _TILE_TOL, every pair whose
      rounded cosine can reach `floor`.
    `group` (a column) limits the pairs to ones across groups.

    Vector v belongs to block v mod P, P = ceil(n/_KNN_BLOCK) from the
    memoized row count, so one tile's matrix is bounded at any corpus
    size. Tile (i, j), i <= j, is one applyInPandas task: block i as
    role-0 rows against block j as role-1 columns, scored by a float64
    NumPy matmul that only prunes — kept pairs are re-scored by the
    oracle-identical sequential fold (cosine_rounded).

    No distinct() on the candidate stream: each ordered (q, n) pair is
    emitted by exactly one (tile, direction). Its block pair selects
    the tile (min, max); the row direction emits it iff blk_q <= blk_n,
    the column direction iff blk_q > blk_n (the diagonal tile holds one
    block in both roles, so only its row direction runs), and within a
    direction each row's kept cells are distinct columns."""
    cross = group is not None
    emb = load_table(spark, sf_dir, "embeddings")
    P = max(1, -(-_n_vectors(spark, sf_dir) // _KNN_BLOCK))
    blk = F.pmod(F.col("vec_id"), F.lit(P)).cast("int")
    cols = ["vec_id", "embedding"] + (["grp"] if cross else [])
    base = emb.select("vec_id", "embedding", *([group.alias("grp")] if cross else []), blk.alias("blk"))
    left = base.select(
        *cols,
        F.col("blk").alias("pa"),
        F.explode(F.sequence(F.col("blk"), F.lit(P - 1))).alias("pb"),
        F.lit(0).alias("role"),
    )
    right = base.select(
        *cols,
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("pa"),
        F.col("blk").alias("pb"),
        F.lit(1).alias("role"),
    )

    def tile(pdf):
        import numpy as np
        import pandas as pd

        a = pdf[pdf["role"] == 0]
        b = pdf[pdf["role"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame({"q": [], "n": []}).astype("int64")

        def unit(rows):
            m = np.stack(rows["embedding"].to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(m, axis=1)
            nrm[nrm == 0] = 1.0
            return m / nrm[:, None]

        a_ids = a["vec_id"].to_numpy()
        b_ids = b["vec_id"].to_numpy()
        sims = unit(a) @ unit(b).T
        sims[a_ids[:, None] == b_ids[None, :]] = -np.inf  # mask self
        if cross:
            sims[a["grp"].to_numpy()[:, None] == b["grp"].to_numpy()[None, :]] = -np.inf
        directions = [(a_ids, b_ids, sims)]
        if a.iloc[0]["pa"] != a.iloc[0]["pb"]:
            directions.append((b_ids, a_ids, sims.T))
        qs, ns = [], []
        for ids_q, ids_n, s in directions:
            if k is None:
                cut = floor
            elif k < s.shape[1]:
                # each row's local k-th largest: np.partition is O(cols)
                # per row, no sort
                cut = -np.partition(-s, k - 1, axis=1)[:, k - 1 : k]
            else:
                cut = -np.inf
            rows, cells = np.nonzero((s >= cut - _TILE_TOL) & np.isfinite(s))
            qs.append(ids_q[rows])
            ns.append(ids_n[cells])
        return pd.DataFrame({"q": np.concatenate(qs), "n": np.concatenate(ns)})

    cand = (
        left.unionByName(right)
        .groupBy("pa", "pb")
        .applyInPandas(tile, schema="q long, n long")
    )
    # exact-fold verification on the candidates only. No broadcast
    # hint: the candidate set is corpus-proportional by construction,
    # so a forced broadcast is an OOM at scale; AQE picks broadcast at
    # runtime when genuinely small.
    eq = emb.select(F.col("vec_id").alias("q"), F.col("embedding").alias("eq"))
    en = emb.select(F.col("vec_id").alias("n"), F.col("embedding").alias("en"))
    return (
        cand
        .join(en, "n")
        .join(eq, "q")
        .select("q", "n", cosine_rounded(F.col("eq"), F.col("en")).alias("c"))
    )


def _knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # memoized: FOUR registry queries (knn_join, hub_vectors,
    # label_noise_knn, knn_confusion) consume the same O(n²)-tiled pair
    # computation, and each lazy consumer re-ran the whole pipeline
    # (~12 s each at sf0.1, r10 measurement)
    return memo(spark, "knn", sf_dir, build=lambda: _knn_pairs_build(spark, sf_dir))


def _knn_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # global top-k via sort_array over a per-query collect_list instead
    # of a row_number window (guide §2.3, the semdedup_prune /
    # dedup_keep_best convention): no full Sort of the candidate
    # stream, map-side partial combining, and the n-keyed join runs
    # BEFORE the q-keyed one so this q aggregation can reuse the q
    # exchange when the joins shuffle (§2.4). Order is the window's
    # exactly: struct sorts (c DESC, -n DESC) = (c DESC, n ASC).
    return (
        _tile_pairs(spark, sf_dir, k=_KNN_K)
        .groupBy("q")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("c").alias("c"),
                            (-F.col("n")).alias("mn"),
                            F.col("n").alias("n"),
                        )
                    ),
                    asc=False,
                ),
                1,
                _KNN_K,
            ).alias("top")
        )
        .select("q", F.posexplode("top").alias("pos", "t"))
        .select(
            F.col("q").alias("vec_id"),
            (F.col("pos") + 1).cast("bigint").alias("rank"),
            F.col("t.n").alias("neighbor_id"),
            F.col("t.c").alias("cos_sim"),
        )
        .cache()
    )


def _recall_oracle() -> str:
    sig_cols = ", ".join(f"{_sig_sql('embedding', t)} AS sig{t}" for t in range(LSH_TABLES))
    q_sig_cols = ", ".join(f"sig{t}" for t in range(LSH_TABLES))
    collide = " OR ".join(f"e.sig{t} = q.sig{t}" for t in range(LSH_TABLES))
    return f"""
WITH sigs AS (SELECT vec_id, embedding, {sig_cols} FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qvec, {q_sig_cols}
      FROM sigs WHERE vec_id < 5),
cand AS (
  SELECT DISTINCT q.query_id, e.vec_id
  FROM sigs e JOIN q ON e.vec_id <> q.query_id AND ({collide})
),
exact AS (
  SELECT q.query_id, e.vec_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY {_COS.format(a="e.embedding", b="q.qvec")} DESC, e.vec_id
         ) AS rn
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
),
top3 AS (SELECT query_id, vec_id FROM exact WHERE rn <= 3),
hits AS (
  SELECT t.query_id,
         SUM(CASE WHEN c.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
  FROM top3 t LEFT JOIN cand c ON t.query_id = c.query_id AND t.vec_id = c.vec_id
  GROUP BY t.query_id
),
nc AS (SELECT query_id, COUNT(*) AS n_candidates FROM cand GROUP BY query_id)
SELECT h.query_id,
       CAST(COALESCE(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(h.n_hits AS BIGINT) AS n_hits,
       CAST(h.n_hits * 10000 // 3 AS BIGINT) AS recall_bps
FROM hits h LEFT JOIN nc USING (query_id)
ORDER BY h.query_id
"""


@register(
    "ann_recall_eval",
    oracle=_recall_oracle(),
    doc=(
        "ANN QA: recall@3 of the sign-LSH bucket index against the exact "
        "cosine top-3, per query (first 5 corpus vectors as the query "
        "batch). The eval every production ANN deployment runs before "
        "trusting an index: candidates from the (table, signature) "
        "EQUALITY bucket join, ground truth from the exact broadcast "
        "top-k, one left join to count hits. Exact-integer recall bps. "
        "On this synthetic near-uniform corpus the measured recall is "
        "LOW — which is the point: the eval surfaces that 4x8-bit "
        "signatures under-bucket this distribution BEFORE an index ships "
        "(the fix is more tables / multi-probe, a config change). At "
        "100 TB the ground-truth side runs on a sampled query set "
        "(recall is a statistical property); the candidate side is the "
        "same pruned bucket read as ann_lsh (SURVEY §2.F)."
    ),
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    buckets = _lsh_buckets(emb)
    qb = buckets.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "t", "key"
    )
    cand = (
        buckets.join(F.broadcast(qb), ["t", "key"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), "vec_id")
    top3 = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_rounded(F.col("embedding"), F.col("qvec")).alias("similarity"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("query_id", "vec_id")
    )
    hits = (
        top3.join(cand.withColumn("hit", F.lit(1)), ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"))
    )
    nc = cand.groupBy("query_id").agg(F.count("*").alias("n_candidates"))
    return (
        hits.join(nc, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias("n_candidates"),
            F.col("n_hits").cast("bigint").alias("n_hits"),
            F.expr("(n_hits * 10000L) div 3").cast("bigint").alias("recall_bps"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# K-means codebook training — the Lloyd-iteration step that produces
# the IVF coarse quantizer ann_ivf seeds with (and the prototype step
# behind label_centroids). Classic distributed shape: assignment is a
# broadcast-centroid map pass over the corpus; the update collects only
# the K x dim codebook (plan constants, like MLlib's KMeans), never
# corpus rows.
# ---------------------------------------------------------------------------

KM_K = 8
KM_ITERS = 2  # assignment rounds; KM_ITERS - 1 centroid updates


def _km_dist_sql(vexpr: str, cexpr: str) -> str:
    """Sequential squared-L2 fold over the 64 dims (same IEEE op order
    as the Spark zip_with/aggregate fold, so distances are
    bit-identical)."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {EMB_DIM} + 1), "
        f"i -> ({vexpr}[i] - {cexpr}[i]) * ({vexpr}[i] - {cexpr}[i]))), (acc, x) -> acc + x)"
    )


def _km_ctes() -> str:
    """The unrolled 2-round Lloyd CTE chain (e .. a2): shared by
    kmeans_codebook and every query that consumes the learned
    assignment."""
    d0 = _km_dist_sql("e.v", "c.v")
    return f"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
c0 AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < {KM_K}),
a1 AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {d0} ASC, c.cid) AS rn
    FROM e CROSS JOIN c0 c
  ) WHERE rn = 1
),
c1s AS (
  SELECT cid, d.i AS dim,
         CAST(SUM(CAST(ROUND(v[d.i], 6) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS s,
         COUNT(*) AS n
  FROM a1 CROSS JOIN UNNEST(range(1, {EMB_DIM} + 1)) AS d(i)
  GROUP BY cid, d.i
),
c1f AS (
  -- 6dp mean rounded half-away-from-zero in integer micro-units:
  -- sum/count hits exact decimal halves at ~1/count probability,
  -- where double ROUND implementations disagree cross-engine
  SELECT cid, dim,
         CAST(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
                   ELSE -((2 * (-s) + n) // (2 * n)) END AS DOUBLE) / 1000000.0 AS cval
  FROM c1s
),
c1 AS (SELECT cid, list(cval ORDER BY dim) AS v FROM c1f GROUP BY cid),
a2 AS (
  SELECT vec_id, cid, dist FROM (
    SELECT e.vec_id, c.cid, {d0} AS dist,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {d0} ASC, c.cid) AS rn
    FROM e CROSS JOIN c1 c
  ) WHERE rn = 1
)"""


def _kmeans_oracle() -> str:
    return f"""
WITH {_km_ctes()}
SELECT cluster_id, n_vectors, min_vec_id,
       CAST(CASE WHEN s >= 0 THEN (2 * s + n * 100) // (2 * n * 100)
                 ELSE -((2 * (-s) + n * 100) // (2 * n * 100)) END AS DOUBLE) / 10000.0 AS avg_dist
FROM (
  SELECT cid AS cluster_id,
         COUNT(*) AS n_vectors,
         MIN(vec_id) AS min_vec_id,
         CAST(SUM(CAST(ROUND(dist, 6) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS s,
         COUNT(*) AS n
  FROM a2 GROUP BY cid
) ORDER BY cluster_id
"""


def _micro_mean_expr(p: int) -> str:
    """SQL CASE rounding an exact micro-unit sum `s` (bigint, 1e-6
    units) over count `n` to p decimal places, half-away-from-zero,
    entirely in integer arithmetic (no double ROUND knife-edge)."""
    d = f"(n * {10 ** (6 - p)})" if p < 6 else "n"
    return (
        f"CASE WHEN s >= 0 THEN (2 * s + {d}) div (2 * {d}) "
        f"ELSE -((2 * (-s) + {d}) div (2 * {d})) END"
    )


# Expression-literal codebooks are BOUNDED (VERDICT r7 #1): inlining a
# K x EMB_DIM nested-array literal into the plan is only safe while the
# Catalyst expression tree stays small. Above this K the codebook ships
# as a broadcast DataFrame instead — the faiss/SemDeDup coarse-assign
# shape — so a corpus-derived K (e.g. semdedup_prune's K = sqrt(n),
# ~640k doubles of literal at n = 10^8) can never blow up the plan.
# 16 keeps the fixed-K Lloyd trainers (KM_K = 8) on the shuffle-free
# literal path while every corpus-derived-K consumer exercises the
# broadcast path at ALL tested SFs (K = 22 at sf0.001).
KM_LITERAL_MAX_K = 16

# kernel row-chunking budget: ~n_chunk*K doubles of distances held at
# once (32 MB default). Module-level so tests can shrink it and drive
# the multi-chunk path on small corpora.
KM_KERNEL_CHUNK_DOUBLES = 1 << 22


def _km_assign(df: DataFrame, cents: list) -> DataFrame:
    """Nearest-centroid assignment with lowest-cid tiebreak. Two
    physically different, bit-identical plans: a plan-constant literal
    codebook up to KM_LITERAL_MAX_K centroids (no shuffle), a broadcast
    codebook DataFrame above it (bounded plan size at any K). Both fold
    squared-L2 with the same zip_with/aggregate expression, so
    distances — and therefore the argmin — are IEEE-identical."""
    if len(cents) <= KM_LITERAL_MAX_K:
        return _km_assign_literal(df, cents)
    return _km_assign_bcast(df, cents)


def _km_fold(cvec):
    """The shared squared-L2 fold (same IEEE op order in both assign
    paths and in the DuckDB oracle's _km_dist_sql)."""
    return F.aggregate(
        F.zip_with(
            F.col("embedding"),
            cvec,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _km_assign_literal(df: DataFrame, cents: list) -> DataFrame:
    """Plan-constant codebook: per row, squared-L2 to every centroid
    (one nested-array literal), argmin via array_position (FIRST
    minimum; cents are sorted by cid => lowest-cid tiebreak). Never
    called with more than KM_LITERAL_MAX_K centroids — that is an
    executable invariant, not a convention."""
    if len(cents) > KM_LITERAL_MAX_K:
        raise ValueError(
            f"expression-literal codebook of K={len(cents)} exceeds "
            f"KM_LITERAL_MAX_K={KM_LITERAL_MAX_K}; use _km_assign "
            "(routes to the broadcast-DataFrame path)"
        )
    clit = F.expr(
        "array("
        + ",".join("array(" + ",".join(f"{v!r}D" for v in vec) + ")" for _, vec in cents)
        + ")"
    )
    cid_lit = F.expr("array(" + ",".join(f"{cid}L" for cid, _ in cents) + ")")
    dists = F.transform(clit, _km_fold)
    step = df.select("vec_id", "embedding", dists.alias("dists"))
    idx = F.array_position(F.col("dists"), F.array_min(F.col("dists"))).cast("int")
    return step.select(
        "vec_id",
        "embedding",
        F.element_at(cid_lit, idx).alias("cid"),
        F.element_at(F.col("dists"), idx).alias("dist"),
    )


# memoized broadcast codebooks, keyed by (applicationId, content
# digest): without this every _km_assign_bcast call ships a fresh
# broadcast pair that stays executor-pinned for the session lifetime —
# the kmeans-family queries re-plan per run, and Lloyd training
# broadcasts a NEW codebook every round, so a long bench/test session
# accumulated dozens of dead copies (ADVICE r8). Same-codebook calls
# now reuse one pair; superseded entries are unpersist()ed on FIFO
# eviction (not destroy()ed — an old cached plan that re-executes can
# still lazily re-fetch an unpersisted broadcast).
_KM_BCAST_CACHE: dict = {}
_KM_BCAST_MAX = 4


def _km_bcast_pair(sc, cb, cids):
    import hashlib

    key = (
        sc.applicationId,
        hashlib.sha256(cb.tobytes() + cids.tobytes()).hexdigest(),
    )
    pair = _KM_BCAST_CACHE.get(key)
    if pair is None:
        pair = (sc.broadcast(cb), sc.broadcast(cids))
        _KM_BCAST_CACHE[key] = pair
        while len(_KM_BCAST_CACHE) > _KM_BCAST_MAX:
            old_key = next(iter(_KM_BCAST_CACHE))
            old_pair = _KM_BCAST_CACHE.pop(old_key)
            for b in old_pair:
                try:
                    b.unpersist(False)
                except Exception:
                    pass  # owning context already stopped
    return pair


def _km_assign_bcast(df: DataFrame, cents: list) -> DataFrame:
    """Broadcast-variable codebook + vectorized Arrow kernel — the
    faiss coarse-assign shape. The K x D codebook ships once per
    executor as a Spark broadcast (never through the Catalyst plan, so
    plan size is independent of K) and assignment is a PURE MAP PASS:
    zero shuffle, zero sort, no join. The SQL alternatives both fail
    at corpus-derived K: an expression-literal codebook is a multi-MB
    plan at K = sqrt(n); a broadcast-DataFrame cross join materializes
    an n*K row stream through a sort-based argmin aggregate (struct
    min/min_by are not hash-aggregatable) — measured 2.1x slower at
    sf0.1 and an n*K-row spill hazard at scale.

    Bit-identity with the literal path and the DuckDB oracle
    (_km_dist_sql): the kernel accumulates squared diffs dimension-
    sequentially (acc += diff_d^2 in dim order), so every double add
    happens in the same IEEE order as the zip_with/aggregate fold;
    argmin takes the FIRST minimum and cents are sorted by cid, the
    same lowest-cid tiebreak as ORDER BY dist, cid. Row chunks bound
    kernel memory to ~32 MB of distances at any K."""
    import numpy as np
    import pandas as pd

    cb = np.array([vec for _, vec in cents], dtype=np.float64)
    cids = np.array([cid for cid, _ in cents], dtype=np.int64)
    sc = df.sparkSession.sparkContext
    b_cb, b_cids = _km_bcast_pair(sc, cb, cids)
    chunk_doubles = KM_KERNEL_CHUNK_DOUBLES  # captured at build time

    @F.pandas_udf("struct<cid: bigint, dist: double>")
    def _assign(emb):
        C, ids = b_cb.value, b_cids.value
        k, dims = C.shape
        x = np.array(emb.tolist(), dtype=np.float64)  # float32 widens exactly
        n = x.shape[0]
        out_cid = np.empty(n, dtype=np.int64)
        out_dist = np.empty(n, dtype=np.float64)
        step = max(1, chunk_doubles // max(k, 1))
        for lo in range(0, n, step):
            xc = x[lo : lo + step]
            acc = np.zeros((xc.shape[0], k), dtype=np.float64)
            for d in range(dims):  # dim-sequential: IEEE-identical fold
                diff = xc[:, d : d + 1] - C[None, :, d]
                acc += diff * diff
            idx = np.argmin(acc, axis=1)  # first minimum -> lowest cid
            out_cid[lo : lo + step] = ids[idx]
            out_dist[lo : lo + step] = acc[np.arange(xc.shape[0]), idx]
        return pd.DataFrame({"cid": out_cid, "dist": out_dist})

    step = df.select("vec_id", "embedding", _assign("embedding").alias("a"))
    return step.select(
        "vec_id",
        "embedding",
        F.col("a.cid").alias("cid"),
        F.col("a.dist").alias("dist"),
    )


def _km_train(emb: DataFrame) -> list:
    """KM_ITERS-round Lloyd training; returns the final centroid list
    (plan constants — only the K x EMB_DIM codebook crosses the
    driver)."""
    init = (
        emb.where(F.col("vec_id") < KM_K)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    cents = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in init]
    for _ in range(KM_ITERS - 1):
        a = _km_assign(emb, cents)
        upd = (
            a.select("cid", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(
                (F.sum(F.round(F.col("x").cast("double"), 6).cast("decimal(18,6)")) * 1000000)
                .cast("bigint")
                .alias("s"),
                F.count("*").alias("n"),
            )
            .select("cid", "pos", F.expr(_micro_mean_expr(6)).alias("microv"))
            .collect()
        )
        by_cid: dict = {}
        for r in upd:
            by_cid.setdefault(int(r["cid"]), {})[int(r["pos"])] = int(r["microv"]) / 1000000.0
        cents = [
            (cid, [dims[p] for p in sorted(dims)]) for cid, dims in sorted(by_cid.items())
        ]
    return cents


@register(
    "kmeans_codebook",
    oracle=_kmeans_oracle(),
    doc=(
        "Distributed Lloyd k-means (2 assignment rounds, K=8, seeded "
        "from the first K vectors): trains the IVF coarse-quantizer "
        "codebook. Assignment = broadcast-codebook map pass (squared-L2 "
        "as one JVM fold per centroid, argmin + lowest-cid tiebreak); "
        "update = posexplode -> (cid, dim) partial-aggregated sum with "
        "the repo's round-to-DECIMAL(18,6)-before-sum convention, then "
        "collect of the K x 64 codebook ONLY (plan constants, the MLlib "
        "shape — corpus rows never reach the driver). Empty clusters "
        "drop (both engines). Oracle = the same two rounds unrolled as "
        "CTEs with an identical sequential fold, so distances are "
        "bit-identical and the final rollup hash-matches exactly."
    ),
)
def kmeans_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    final = _km_assign(emb, _km_train(emb))
    return (
        final.groupBy("cid")
        .agg(
            F.count("*").alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
            (F.sum(F.round(F.col("dist"), 6).cast("decimal(18,6)")) * 1000000)
            .cast("bigint")
            .alias("s"),
            F.count("*").alias("n"),
        )
        .select(
            F.col("cid").cast("bigint").alias("cluster_id"),
            "n_vectors",
            "min_vec_id",
            (F.expr(_micro_mean_expr(4)).cast("double") / 10000.0).alias("avg_dist"),
        )
        .orderBy("cluster_id")
    )


OUTLIER_TOP = 10


def _outlier_oracle() -> str:
    dist = _km_dist_sql("e.v", "c.v")
    return f"""
WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
cs AS (
  SELECT label, d.i AS dim,
         CAST(SUM(CAST(ROUND(v[d.i], 6) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS s,
         COUNT(*) AS n
  FROM e CROSS JOIN UNNEST(range(1, {EMB_DIM} + 1)) AS d(i)
  GROUP BY label, d.i
),
cf AS (
  SELECT label, dim,
         CAST(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
                   ELSE -((2 * (-s) + n) // (2 * n)) END AS DOUBLE) / 1000000.0 AS cval
  FROM cs
),
c AS (SELECT label, list(cval ORDER BY dim) AS v FROM cf GROUP BY label),
scored AS (
  SELECT e.vec_id, e.label, ROUND({dist}, 4) AS center_dist
  FROM e JOIN c ON e.label = c.label
)
SELECT vec_id, label, center_dist,
       CAST(ROW_NUMBER() OVER (ORDER BY center_dist DESC, vec_id) AS BIGINT) AS rank
FROM scored
ORDER BY center_dist DESC, vec_id LIMIT {OUTLIER_TOP}
"""


@register(
    "embedding_outliers",
    oracle=_outlier_oracle(),
    doc=(
        "Embedding-QA outlier report: the top-10 vectors farthest "
        "from their own label centroid (mislabel / corrupt-vector "
        "detection before training). Centroids use the "
        "round-to-DECIMAL(18,6)-before-sum convention and are collected "
        "as the per-label codebook (plan constants — same MLlib shape as "
        "kmeans_codebook); distances are the bit-identical sequential "
        "L2 fold; global top-N is TakeOrderedAndProject, so every task "
        "returns at most N rows."
    ),
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    cf = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            (F.sum(F.round(F.col("x").cast("double"), 6).cast("decimal(18,6)")) * 1000000)
            .cast("bigint")
            .alias("s"),
            F.count("*").alias("n"),
        )
        .select("label", "pos", F.expr(_micro_mean_expr(6)).alias("microv"))
        .collect()
    )
    by_label: dict = {}
    for r in cf:
        by_label.setdefault(int(r["label"]), {})[int(r["pos"])] = int(r["microv"]) / 1000000.0
    cents = [
        (lbl, [dims[p] for p in sorted(dims)]) for lbl, dims in sorted(by_label.items())
    ]
    # per-label centroid lookup via map literal keyed by label
    centmap = F.expr(
        "map("
        + ",".join(
            f"{lbl}, array(" + ",".join(f"{v!r}D" for v in vec) + ")"
            for lbl, vec in cents
        )
        + ")"
    )
    dist = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.element_at(centmap, F.col("label").cast("int")),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = emb.select("vec_id", "label", F.round(dist, 4).alias("center_dist"))
    # global top-N first (TakeOrderedAndProject: each task returns <=N
    # rows), THEN rank the surviving N — the global row_number window
    # never sees the corpus
    top = scored.orderBy(F.desc("center_dist"), "vec_id").limit(OUTLIER_TOP)
    w = Window.orderBy(F.desc("center_dist"), "vec_id")
    return (
        top.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .orderBy(F.desc("center_dist"), "vec_id")
    )


BM25_K1 = 1.2
BM25_B = 0.75


def _bm25_oracle() -> str:
    toks = _TOKS_SQL
    tf = {t: f"len(list_filter(toks, x -> x = '{t}'))" for t in QUERY_TERMS}
    dfs = ", ".join(
        f"SUM(CASE WHEN {tf[t]} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in QUERY_TERMS
    )
    # dl/avgdl folded to (dl*n_total)/sum_dl: exact integer products, ONE
    # double division — same op tree as the Spark side
    norm = "(0.25 + 0.75 * (CAST(dl * n_total AS DOUBLE) / sum_dl))"
    # k1/(k1+1) constants cast to DOUBLE explicitly: as DuckDB DECIMALs
    # the products are exact-then-converted-once, ~1 ulp off the Spark
    # double-literal path — enough to split ROUND(...,4) on knife edges
    per_term = " + ".join(
        f"CASE WHEN {tf[t]} > 0 THEN "
        f"ln(1.0 + (CAST(n_total - df_{t} AS DOUBLE) + 0.5) / (CAST(df_{t} AS DOUBLE) + 0.5))"
        f" * ({tf[t]} * 2.2::DOUBLE) / ({tf[t]} + 1.2::DOUBLE * {norm}) ELSE 0.0 END"
        for t in QUERY_TERMS
    )
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks, len({toks}) AS dl FROM documents),
stats AS (SELECT COUNT(*) AS n_total, SUM(dl) AS sum_dl, {dfs} FROM t)
SELECT doc_id, ROUND({per_term}, 4) AS bm25
FROM t CROSS JOIN stats
WHERE {per_term} > 0
ORDER BY bm25 DESC, doc_id
LIMIT 20
"""


@register(
    "bm25_search",
    oracle=_bm25_oracle(),
    doc=(
        "BM25-ranked search over the fixed query terms (k1=1.2, b=0.75) "
        "— the standard lexical ranker a production search deployment "
        "uses where ts_rank/TF-IDF fall short. Same two-pass shape as "
        "tfidf_search: one aggregate computes N, sum(dl) and per-term "
        "document frequencies, broadcast back over the scan; dl/avgdl "
        "is folded to (dl*N)/sum_dl so exact integer products feed ONE "
        "double division per doc and both engines share the op tree "
        "bit-for-bit. Top-20 via TakeOrderedAndProject."
    ),
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    toks_df = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).withColumn("dl", F.size("toks"))

    def eq(term):
        return lambda x: x == term

    tf_cols = {t: F.size(F.filter(F.col("toks"), eq(t))) for t in QUERY_TERMS}
    with_tf = toks_df.select(
        "doc_id", "dl", *[tf.alias(f"tf_{t}") for t, tf in tf_cols.items()]
    )
    stats = with_tf.agg(
        F.count("*").alias("n_total"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in QUERY_TERMS
        ],
    )
    norm = F.lit(0.25) + F.lit(0.75) * (
        (F.col("dl") * F.col("n_total")).cast("double") / F.col("sum_dl")
    )
    score = None
    for t in QUERY_TERMS:
        tf = F.col(f"tf_{t}")
        idf = F.log(
            F.lit(1.0)
            + ((F.col("n_total") - F.col(f"df_{t}")).cast("double") + F.lit(0.5))
            / (F.col(f"df_{t}").cast("double") + F.lit(0.5))
        )
        term_score = F.when(
            tf > 0, idf * (tf * F.lit(2.2)) / (tf + F.lit(1.2) * norm)
        ).otherwise(F.lit(0.0))
        score = term_score if score is None else score + term_score
    return (
        with_tf.crossJoin(F.broadcast(stats))
        .where(score > 0)
        .select("doc_id", F.round(score, 4).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Power iteration for the top principal direction of the embedding
# cloud (uncentred — the dominant variance axis). Two UNNORMALIZED
# matrix-vector rounds: v_{k+1} = A^T (A v_k). Skipping inter-round
# normalization sidesteps any driver-side rounding: the only values
# that cross rounds are exact DECIMAL sums cast to double (correctly
# rounded in both engines), and the final normalize+round runs inside
# the engines themselves.
# ---------------------------------------------------------------------------

_PCA_V0 = 0.125  # uniform unit start: 64 dims of 1/8 -> norm 1


def _pca_dot_sql(vexpr: str, cexpr: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {EMB_DIM} + 1), "
        f"i -> {vexpr}[i] * ({cexpr})[i])), (acc, x) -> acc + x)"
    )


def _pca_oracle() -> str:
    v0 = "[" + ", ".join(str(_PCA_V0) for _ in range(EMB_DIM)) + "]::DOUBLE[]"
    return f"""
WITH e AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
p1 AS (SELECT v, {_pca_dot_sql('v', v0)} AS s FROM e),
m1 AS (
  SELECT d.i AS dim,
         CAST(SUM(CAST(ROUND(v[d.i] * s, 6) AS DECIMAL(18,6))) AS DOUBLE) AS m
  FROM p1 CROSS JOIN UNNEST(range(1, {EMB_DIM} + 1)) AS d(i) GROUP BY d.i
),
c1 AS (SELECT list(m ORDER BY dim) AS v1 FROM m1),
p2 AS (SELECT e.v, {_pca_dot_sql('e.v', 'c1.v1')} AS s FROM e CROSS JOIN c1),
m2 AS (
  SELECT d.i AS dim,
         CAST(SUM(CAST(ROUND(v[d.i] * s, 6) AS DECIMAL(18,6))) AS DOUBLE) AS m
  FROM p2 CROSS JOIN UNNEST(range(1, {EMB_DIM} + 1)) AS d(i) GROUP BY d.i
),
c2 AS (SELECT list(m ORDER BY dim) AS v2 FROM m2),
n AS (
  SELECT v2,
         sqrt(list_reduce(list_prepend(0.0, list_transform(v2, x -> x * x)),
                          (a, b) -> a + b)) AS nrm
  FROM c2
)
SELECT CAST(d.i AS BIGINT) AS dim, ROUND(v2[d.i] / nrm, 6) AS loading
FROM n CROSS JOIN UNNEST(range(1, {EMB_DIM} + 1)) AS d(i)
ORDER BY dim
"""


@register(
    "pca_power_top1",
    oracle=_pca_oracle(),
    doc=(
        "Top principal direction of the embedding cloud via two "
        "distributed power-iteration rounds (uncentred Gram matrix, "
        "uniform unit start). Each round is one broadcast-vector map "
        "pass (sequential dot fold) + a posexplode (dim) partial "
        "aggregate with round-to-DECIMAL(18,6)-before-sum; only the "
        "64-value iterate crosses rounds (plan constants). Final "
        "normalization + rounding happens inside the engine from the "
        "dim-sorted array, so no driver arithmetic touches the result. "
        "The oracle unrolls both rounds with identical fold order — "
        "loadings hash-match exactly."
    ),
)
def pca_power_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))

    def mv_pass(vec_lit: list) -> DataFrame:
        """One A^T(A v) round: s = x . v per row, then per-dim exact sums."""
        vlit = F.expr("array(" + ",".join(f"{v!r}D" for v in vec_lit) + ")")
        s = F.aggregate(
            F.zip_with(F.col("embedding"), vlit, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return (
            emb.select(F.posexplode("embedding").alias("pos", "x"), s.alias("s"))
            .groupBy("pos")
            .agg(
                F.sum(F.round(F.col("x").cast("double") * F.col("s"), 6).cast("decimal(18,6)"))
                .cast("double")
                .alias("m")
            )
            .select((F.col("pos") + 1).alias("dim"), "m")
        )

    m1 = mv_pass([_PCA_V0] * EMB_DIM).orderBy("dim").collect()
    v1 = [float(r["m"]) for r in m1]
    m2 = mv_pass(v1)
    # engine-side normalize + round over the dim-sorted 64-value array
    packed = m2.agg(
        F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("sm")
    ).select(F.transform("sm", lambda s: s["m"]).alias("v2"))
    nrm = F.sqrt(
        F.aggregate(
            F.transform("v2", lambda x: x * x), F.lit(0.0), lambda a, b: a + b
        )
    )
    return (
        packed.select(
            F.posexplode(F.transform("v2", lambda x: F.round(x / nrm, 6))).alias(
                "pos", "loading"
            )
        )
        .select((F.col("pos") + 1).cast("bigint").alias("dim"), "loading")
        .orderBy("dim")
    )


def _hamming1_sql(t: int) -> str:
    """DuckDB: hamming distance between corpus and query signature t."""
    return (
        f"list_reduce(list_prepend(0, list_transform(range(1, {LSH_BITS} + 1), "
        f"i -> CASE WHEN substr(e.sig{t}, i, 1) <> substr(q.sig{t}, i, 1) "
        f"THEN 1 ELSE 0 END)), (a, b) -> a + b) <= 1"
    )


def _ann_multiprobe_oracle() -> str:
    sig_cols = ", ".join(f"{_sig_sql('embedding', t)} AS sig{t}" for t in range(LSH_TABLES))
    collide = " OR ".join(_hamming1_sql(t) for t in range(LSH_TABLES))
    return f"""
WITH sigs AS (SELECT vec_id, label, embedding, {sig_cols} FROM embeddings),
q AS (SELECT * FROM sigs WHERE vec_id = {QUERY_VEC_ID}),
cand AS (
  SELECT e.vec_id, e.label,
         {_COS.format(a="e.embedding", b="q.embedding")} AS similarity
  FROM sigs e CROSS JOIN q
  WHERE e.vec_id <> q.vec_id AND ({collide})
)
SELECT vec_id, label, similarity FROM cand
ORDER BY similarity DESC, vec_id LIMIT 5
"""


@register(
    "ann_multiprobe",
    oracle=_ann_multiprobe_oracle(),
    doc=(
        "Multi-probe sign-LSH ANN — the fix ann_recall_eval points at: "
        "besides the query's own bucket, probe every Hamming-1 neighbor "
        "bucket (9 keys per table x 4 tables = 36 probe keys, plan "
        "constants derived driver-side from the SAME md5 hyperplanes "
        "with the same sequential fold, so keys are bit-identical to "
        "engine signatures). Candidate discovery stays a pure EQUALITY "
        "join on (table, signature) — multi-probe multiplies probe KEYS, "
        "never scanned rows, so the 100 TB story is unchanged: read 36 "
        "buckets instead of 4 (SURVEY §2.F)."
    ),
)
def ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    buckets = _lsh_buckets(emb)
    probes = []
    for t, key in _query_bucket_keys(_qvec_list(spark, sf_dir)):
        probes.append((t, key))
        for j in range(LSH_BITS):  # all Hamming-1 neighbors
            flipped = key[:j] + ("0" if key[j] == "1" else "1") + key[j + 1 :]
            probes.append((t, flipped))
    probe_df = spark.createDataFrame(probes, "t int, key string")
    cand_ids = (
        buckets.join(F.broadcast(probe_df), ["t", "key"])
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id")
        .distinct()
    )
    return (
        F.broadcast(cand_ids)
        .join(emb, "vec_id")
        .select(
            "vec_id",
            "label",
            cosine_rounded(F.col("embedding"), _qvec_lit(spark, sf_dir)).alias("similarity"),
        )
        .orderBy(F.desc("similarity"), "vec_id")
        .limit(5)
    )


RRF_K = 60
RRF_DEPTH = 50


def _rrf_oracle() -> str:
    return f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
t AS (
  SELECT d.doc_id, {_TOKS_SQL} AS toks, e.embedding
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE d.lang = 'en'
),
sem AS (
  SELECT doc_id, ROW_NUMBER() OVER (
           ORDER BY {_COS.format(a="t.embedding", b="q.embedding")} DESC, doc_id) AS r
  FROM t CROSS JOIN q
),
txt AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY {_TERM_RANK_SQL} DESC, doc_id) AS r
  FROM t WHERE {_TERM_RANK_SQL} > 0
),
fused AS (
  SELECT COALESCE(s.doc_id, x.doc_id) AS doc_id,
         CASE
           WHEN s.r IS NOT NULL AND x.r IS NOT NULL THEN
             (2000000000 * (({RRF_K} + s.r) + ({RRF_K} + x.r))
              + ({RRF_K} + s.r) * ({RRF_K} + x.r))
             // (2 * ({RRF_K} + s.r) * ({RRF_K} + x.r))
           WHEN s.r IS NOT NULL THEN
             (2000000000 + ({RRF_K} + s.r)) // (2 * ({RRF_K} + s.r))
           ELSE
             (2000000000 + ({RRF_K} + x.r)) // (2 * ({RRF_K} + x.r))
         END AS rrf_e9
  FROM (SELECT * FROM sem WHERE r <= {RRF_DEPTH}) s
  FULL OUTER JOIN (SELECT * FROM txt WHERE r <= {RRF_DEPTH}) x ON s.doc_id = x.doc_id
)
SELECT doc_id, CAST(rrf_e9 AS BIGINT) AS rrf_e9
FROM fused ORDER BY rrf_e9 DESC, doc_id LIMIT 15
"""


@register(
    "hybrid_search_rrf",
    oracle=_rrf_oracle(),
    doc=(
        "Reciprocal-rank-fusion hybrid search — the modern alternative "
        "to the reference's 0.7/0.3 weighted blend: each retriever "
        "(cosine, term rank) contributes 1/(60+rank) from its top-50, "
        "summed over a full-outer doc join. Ranks are computed AFTER a "
        "TakeOrderedAndProject depth cut, so the rank window only ever "
        "sees 50 rows — no global single-reducer sort at any corpus "
        "size. Integer ranks make the fused score an EXACT half-up e9 "
        "integer via (a+b)/(ab) cross-multiplication — no double "
        "division or ROUND; rankings reuse the rounded-cosine/rank "
        "tiebreak conventions (SURVEY §2.C)."
    ),
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize_scan(
        load_table(spark, sf_dir, "documents").where(F.col("lang") == "en")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qvec"))
    joined = docs.join(emb, docs.doc_id == emb.vec_id).crossJoin(F.broadcast(q))

    sem_top = (
        joined.select(
            "doc_id", cosine_rounded(F.col("embedding"), F.col("qvec")).alias("sim")
        )
        .orderBy(F.desc("sim"), "doc_id")
        .limit(RRF_DEPTH)
    )
    w_sem = Window.orderBy(F.desc("sim"), "doc_id")
    sem = sem_top.withColumn("r_sem", F.row_number().over(w_sem)).select("doc_id", "r_sem")

    rank = _term_rank(F.col("text"))
    # Text leg ranks over the SAME docs-join-embeddings universe as the
    # semantic leg (oracle CTE `t`) — a doc without an embedding row must
    # not enter either retriever.  Semi-join keeps the text leg from
    # carrying the embedding column through the rank sort.
    docs_embedded = docs.join(
        emb.select(F.col("vec_id").alias("doc_id")), "doc_id", "left_semi"
    )
    txt_top = (
        docs_embedded.select("doc_id", rank.alias("rank"))
        .where(F.col("rank") > 0)
        .orderBy(F.desc("rank"), "doc_id")
        .limit(RRF_DEPTH)
    )
    w_txt = Window.orderBy(F.desc("rank"), "doc_id")
    txt = txt_top.withColumn("r_txt", F.row_number().over(w_txt)).select("doc_id", "r_txt")

    # exact rational presentation: both ranks integer and <= K+DEPTH,
    # so 1/(K+r_sem)+1/(K+r_txt) = (a+b)/(a*b) ships as the half-up
    # integer e9 (2e9*(a+b) + a*b) div (2*a*b) — the old ROUND(sum of
    # reciprocals, 6) was a small-denominator rational, exactly the
    # halfway subclass that produced the rocchio near-miss
    a = f"({RRF_K} + r_sem)"
    b = f"({RRF_K} + r_txt)"
    fused = sem.join(txt, "doc_id", "full").select(
        "doc_id",
        F.expr(
            f"CASE WHEN r_sem IS NOT NULL AND r_txt IS NOT NULL THEN"
            f" (2000000000L * ({a} + {b}) + {a} * {b}) div (2L * {a} * {b})"
            f" WHEN r_sem IS NOT NULL THEN"
            f" (2000000000L + {a}) div (2L * {a})"
            f" ELSE (2000000000L + {b}) div (2L * {b}) END"
        )
        .cast("bigint")
        .alias("rrf_e9"),
    )
    return fused.orderBy(F.desc("rrf_e9"), "doc_id").limit(15)


MMR_POOL = 20
MMR_K = 10


def _mmr_oracle() -> str:
    """Unrolled greedy MMR: sel_i = argmax(0.7*rel - 0.3*max-sim-to-
    selected) over the remaining pool. rel/sim are DECIMAL(6,4) and the
    lambda blend stays in decimal (the hybrid_search convention), so
    every argmax compares exact values."""
    cos_eq = _COS.format(a="e.embedding", b="q.embedding")
    cos_ab = _COS.format(a="a.embedding", b="b.embedding")
    steps = []
    sel_terms = ["SELECT vec_id FROM s1"]
    for i in range(2, MMR_K + 1):
        prev_sel = " UNION ALL ".join(sel_terms)
        # MATERIALIZED: step i references s1..s{i-1} twice each — inlined,
        # the unrolled plan expands exponentially in MMR_K.
        steps.append(f"""
m{i} AS MATERIALIZED (
  SELECT va, MAX(sim) AS ms FROM sims
  WHERE vb IN ({prev_sel}) GROUP BY va
),
s{i} AS MATERIALIZED (
  SELECT c.vec_id, CAST(c.rel * 0.7 - m.ms * 0.3 AS DOUBLE) AS score
  FROM cand c JOIN m{i} m ON c.vec_id = m.va
  WHERE c.vec_id NOT IN ({prev_sel})
  ORDER BY c.rel * 0.7 - m.ms * 0.3 DESC, c.vec_id LIMIT 1
)""")
        sel_terms.append(f"SELECT vec_id FROM s{i}")
    union_out = " UNION ALL ".join(
        f"SELECT {i} AS rank, vec_id, score FROM s{i}" for i in range(1, MMR_K + 1)
    )
    return f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
cand AS MATERIALIZED (
  SELECT e.vec_id, CAST({cos_eq} AS DECIMAL(6,4)) AS rel, e.embedding
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> {QUERY_VEC_ID}
  ORDER BY rel DESC, e.vec_id LIMIT {MMR_POOL}
),
sims AS MATERIALIZED (
  SELECT a.vec_id AS va, b.vec_id AS vb, CAST({cos_ab} AS DECIMAL(6,4)) AS sim
  FROM cand a CROSS JOIN cand b WHERE a.vec_id <> b.vec_id
),
s1 AS MATERIALIZED (SELECT vec_id, CAST(rel AS DOUBLE) AS score FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
{",".join(steps)}
SELECT CAST(rank AS BIGINT) AS rank, vec_id, score FROM ({union_out}) ORDER BY rank
"""


@register(
    "mmr_rerank",
    oracle=_mmr_oracle(),
    doc=(
        "Maximal-marginal-relevance re-rank: diversify the semantic "
        "top-20 into 5 results (score = 0.7*relevance - 0.3*max-"
        "similarity-to-already-selected). Candidate retrieval and the "
        "20x20 pairwise cosines are the distributed part (broadcast "
        "top-k, both computed by Spark expressions shared with the "
        "oracle); the greedy argmax loop then runs over the COLLECTED "
        "20-row pool as plan constants — the kmeans_codebook "
        "convention — because a lazy per-step union would double the "
        "plan at every iteration (round-3 audit: 803 exchanges at "
        "K=5). Rel/sim stay DECIMAL(6,4) end-to-end and the greedy "
        "blend runs in exact python Decimal, so each argmax compares "
        "the same exact values as the oracle's unrolled steps "
        "(SURVEY §2.C)."
    ),
)
def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from decimal import Decimal

    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    q = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qvec"))
    cand = (
        emb.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            cosine_rounded(F.col("embedding"), F.col("qvec"))
            .cast("decimal(6,4)")
            .alias("rel"),
            "embedding",
        )
        .orderBy(F.desc("rel"), "vec_id")
        .limit(MMR_POOL)
    ).cache()
    a = cand.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = cand.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    sims = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("va") != F.col("vb"))
        .select(
            "va",
            "vb",
            cosine_rounded(F.col("ea"), F.col("eb")).cast("decimal(6,4)").alias("sim"),
        )
    )
    # Bounded collects (MMR_POOL rows + MMR_POOL^2 pairs): the pool is a
    # plan constant from here on, like the K x 64 kmeans codebook.
    rel_by_id = {r["vec_id"]: r["rel"] for r in cand.select("vec_id", "rel").collect()}
    sim_by_pair = {(r["va"], r["vb"]): r["sim"] for r in sims.collect()}
    cand.unpersist()
    lam, lam_c = Decimal("0.7"), Decimal("0.3")
    first = min(rel_by_id, key=lambda v: (-rel_by_id[v], v))
    selected = [(1, first, float(rel_by_id[first]))]
    chosen = {first}
    for i in range(2, MMR_K + 1):
        best = None
        for v, rel in rel_by_id.items():
            if v in chosen:
                continue
            ms = max(sim_by_pair[(v, s)] for s in chosen)
            score = rel * lam - ms * lam_c
            if best is None or (-score, v) < (-best[1], best[0]):
                best = (v, score)
        selected.append((i, best[0], float(best[1])))
        chosen.add(best[0])
    vec_id_type = dict(emb.dtypes)["vec_id"]
    return spark.createDataFrame(
        selected, f"rank bigint, vec_id {vec_id_type}, score double"
    ).orderBy("rank")


def _drift_oracle() -> str:
    return """
WITH thr AS (SELECT (MAX(vec_id) + 1) // 2 AS t FROM embeddings),
f AS (
  SELECT e.label, e.vec_id < thr.t AS is_ref, d.i AS dim,
         CAST(ROUND(CAST(e.embedding[d.i] AS DOUBLE), 6) AS DECIMAL(18,6)) AS x
  FROM embeddings e CROSS JOIN thr
  CROSS JOIN UNNEST(range(1, 65)) AS d(i)
),
m AS (
  SELECT label, dim,
         CAST(ROUND(CAST(SUM(CASE WHEN is_ref THEN x END) AS DOUBLE)
               / SUM(CASE WHEN is_ref THEN 1 ELSE 0 END), 6) AS DECIMAL(8,6)) AS mr,
         CAST(ROUND(CAST(SUM(CASE WHEN NOT is_ref THEN x END) AS DOUBLE)
               / SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END), 6) AS DECIMAL(8,6)) AS mn
  FROM f GROUP BY label, dim
),
j AS (
  SELECT label,
         SUM(mr * mn) AS sp, SUM(mr * mr) AS na, SUM(mn * mn) AS nb,
         SUM((mr - mn) * (mr - mn)) AS sq
  FROM m GROUP BY label
),
c AS (
  SELECT e.label,
         CAST(SUM(CASE WHEN e.vec_id < thr.t THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN e.vec_id >= thr.t THEN 1 ELSE 0 END) AS BIGINT) AS n_new
  FROM embeddings e CROSS JOIN thr GROUP BY e.label
)
SELECT c.label, c.n_ref, c.n_new,
       ROUND(CAST(j.sp AS DOUBLE) /
             (sqrt(CAST(j.na AS DOUBLE)) * sqrt(CAST(j.nb AS DOUBLE))), 4) AS mean_cosine,
       ROUND(sqrt(CAST(j.sq AS DOUBLE)), 4) AS mean_l2_shift
FROM c JOIN j ON c.label = j.label
WHERE c.n_ref > 0 AND c.n_new > 0
ORDER BY c.label
"""


@register(
    "embedding_drift",
    oracle=_drift_oracle(),
    doc=(
        "Embedding drift monitor — the train/serve skew check a "
        "production vector pipeline runs before trusting a new ingest "
        "window: split the corpus at the id midpoint (the monotone "
        "ingest mapping makes this a time split), compute per-label "
        "per-dimension means for each half, and report the cosine and "
        "L2 shift between the two mean vectors per label. Every fold "
        "that crosses rows or dims is EXACT-DECIMAL (components and "
        "mean products rounded to fixed scale before summation — the "
        "kmeans/unigram convention) so the statistic is bit-stable at "
        "any parallelism; only the final sqrt/ratio runs in double. "
        "One scan, two partial-aggregated shuffles, no UDFs "
        "(SURVEY §2.F)."
    ),
)
def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    thr = emb.agg(((F.max("vec_id") + 1) / 2).cast("long").alias("t"))
    flat = (
        emb.crossJoin(F.broadcast(thr))
        .select(
            "label",
            (F.col("vec_id") < F.col("t")).alias("is_ref"),
            F.posexplode("embedding").alias("dim", "xr"),
        )
        .select(
            "label",
            "is_ref",
            "dim",
            F.round(F.col("xr").cast("double"), 6).cast("decimal(18,6)").alias("x"),
        )
    )
    m = flat.groupBy("label", "dim").agg(
        F.round(
            F.sum(F.when(F.col("is_ref"), F.col("x"))).cast("double")
            / F.sum(F.when(F.col("is_ref"), 1).otherwise(0)),
            6,
        )
        .cast("decimal(8,6)")
        .alias("mr"),
        F.round(
            F.sum(F.when(~F.col("is_ref"), F.col("x"))).cast("double")
            / F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)),
            6,
        )
        .cast("decimal(8,6)")
        .alias("mn"),
    )
    j = m.groupBy("label").agg(
        F.sum(F.col("mr") * F.col("mn")).alias("sp"),
        F.sum(F.col("mr") * F.col("mr")).alias("na"),
        F.sum(F.col("mn") * F.col("mn")).alias("nb"),
        F.sum((F.col("mr") - F.col("mn")) * (F.col("mr") - F.col("mn"))).alias("sq"),
    )
    c = (
        emb.crossJoin(F.broadcast(thr))
        .groupBy("label")
        .agg(
            F.sum(F.when(F.col("vec_id") < F.col("t"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_ref"),
            F.sum(F.when(F.col("vec_id") >= F.col("t"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
        )
    )
    return (
        c.join(j, "label")
        .where((F.col("n_ref") > 0) & (F.col("n_new") > 0))
        .select(
            "label",
            "n_ref",
            "n_new",
            F.round(
                F.col("sp").cast("double")
                / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
                4,
            ).alias("mean_cosine"),
            F.round(F.sqrt(F.col("sq").cast("double")), 4).alias("mean_l2_shift"),
        )
        .orderBy("label")
    )


# --- ann_pq: product quantization with asymmetric distance (ADC) ----------

PQ_M = 8      # subspaces
PQ_D = 8      # dims per subspace (PQ_M * PQ_D == EMB_DIM)
PQ_K = 8      # centroids per subspace codebook
PQ_NQ = 5     # query batch: vec_id < PQ_NQ
PQ_TOPK = 5


def _pq_dist_sql(vexpr: str, cexpr: str) -> str:
    """Sequential squared-L2 fold over PQ_D dims (same IEEE op order as
    the Spark/driver folds)."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {PQ_D} + 1), "
        f"i -> ({vexpr}[i] - {cexpr}[i]) * ({vexpr}[i] - {cexpr}[i]))), (acc, x) -> acc + x)"
    )


def _pq_oracle() -> str:
    d = _pq_dist_sql("s.sv", "c.cv")
    dq = _pq_dist_sql("q.qv", "c.cv")
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
sub AS (
  SELECT vec_id, mm.m AS m, list_slice(v, mm.m * {PQ_D} + 1, mm.m * {PQ_D} + {PQ_D}) AS sv
  FROM e CROSS JOIN UNNEST(range(0, {PQ_M})) AS mm(m)
),
c0 AS (SELECT vec_id AS cid, m, sv AS cv FROM sub WHERE vec_id < {PQ_K}),
a1 AS (
  SELECT vec_id, m, sv, cid FROM (
    SELECT s.vec_id, s.m, s.sv, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY {d} ASC, c.cid) AS rn
    FROM sub s JOIN c0 c ON c.m = s.m
  ) WHERE rn = 1
),
c1s AS (
  SELECT m, cid, dd.i AS dim,
         CAST(SUM(CAST(ROUND(sv[dd.i], 6) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS s,
         COUNT(*) AS n
  FROM a1 CROSS JOIN UNNEST(range(1, {PQ_D} + 1)) AS dd(i)
  GROUP BY m, cid, dd.i
),
c1f AS (
  -- 6dp mean rounded half-away-from-zero ENTIRELY in integer
  -- micro-units: sum/count hits exact decimal halves at ~1/count
  -- probability, where double ROUND implementations disagree
  SELECT m, cid, dim,
         CAST(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
                   ELSE -((2 * (-s) + n) // (2 * n)) END AS DOUBLE) / 1000000.0 AS cval
  FROM c1s
),
c1 AS (SELECT m, cid, list(cval ORDER BY dim) AS cv FROM c1f GROUP BY m, cid),
codes AS (
  SELECT vec_id, m, cid FROM (
    SELECT s.vec_id, s.m, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY {d} ASC, c.cid) AS rn
    FROM sub s JOIN c1 c ON c.m = s.m
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, m, sv AS qv FROM sub WHERE vec_id < {PQ_NQ}),
lut AS (
  SELECT q.query_id, c.m, c.cid, ROUND({dq}, 6) AS pd
  FROM q JOIN c1 c ON c.m = q.m
),
adc AS (
  SELECT l.query_id, x.vec_id,
         CAST(SUM(CAST(l.pd AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
  FROM codes x JOIN lut l ON l.m = x.m AND l.cid = x.cid
  WHERE x.vec_id <> l.query_id
  GROUP BY 1, 2
)
SELECT query_id, vec_id, ROUND(adc_dist, 6) AS adc_dist
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, vec_id) AS rn
  FROM adc
) WHERE rn <= {PQ_TOPK}
ORDER BY query_id, vec_id
"""


def _pq_fold(sv, cent: list) -> "F.Column":
    """Sequential squared-L2 between a sub-vector column and a constant
    centroid, same op order as the oracle fold."""
    clit = F.expr("array(" + ",".join(f"{v!r}D" for v in cent) + ")")
    return F.aggregate(
        F.zip_with(sv, clit, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_assign_cols(v, books: dict) -> list:
    """One argmin column per subspace from plan-constant codebooks.
    books: {m: [(cid, [PQ_D floats]), ...] sorted by cid}."""
    cols = []
    for m in range(PQ_M):
        sv = F.slice(v, m * PQ_D + 1, PQ_D)
        dists = F.array(*[_pq_fold(sv, cent) for _, cent in books[m]])
        cid_lit = F.expr("array(" + ",".join(f"{cid}L" for cid, _ in books[m]) + ")")
        idx = F.array_position(dists, F.array_min(dists)).cast("int")
        cols.append(F.element_at(cid_lit, idx).alias(f"cid{m}"))
    return cols


def _pq_train_books(emb: DataFrame, sf_dir: str | None = None) -> dict:
    """Train the per-subspace PQ codebooks: deterministic first-K
    sub-vector seeds, one Lloyd update. Only the PQ_M x PQ_K x PQ_D
    codebook crosses the driver (kmeans_codebook convention).

    Memoized per corpus dir when `sf_dir` is given (r10): the trained
    codebook is the index structure a serving layer holds — the same
    class as the persisted-index ("pq_books", dir) entry and the
    memoized query vector — and FOUR registry queries (ann_pq,
    ann_ivfpq, pq_recall_eval, build_pq_index) each re-ran the two
    training jobs (seed collect + Lloyd-update aggregate) per call."""
    return memo(emb.sparkSession, "pq_trained", sf_dir, build=lambda: _pq_train_books_build(emb))


def _pq_train_books_build(emb: DataFrame) -> dict:
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    seeds = (
        emb.where(F.col("vec_id") < PQ_K)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    books0 = {
        m: [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]][m * PQ_D : (m + 1) * PQ_D])
            for r in seeds
        ]
        for m in range(PQ_M)
    }
    # one Lloyd update: assign to seeds, then per-(m, cid, dim) means.
    # The mean is rounded to 6dp ENTIRELY in integer micro-units
    # (half-away-from-zero): sum-of-6dp-decimals / count hits exact
    # decimal halves at ~1/count probability, where Spark's HALF_UP
    # BigDecimal round and DuckDB's scaled-double round disagree — a
    # double ROUND here is a genuine knife-edge, not a theoretical one.
    a1 = emb.select("vec_id", v.alias("v")).select(
        "vec_id", "v", F.array(*[c for c in _pq_assign_cols(F.col("v"), books0)]).alias("cids")
    )
    s_int = (F.sum(F.round(F.col("x"), 6).cast("decimal(18,6)")) * 1000000).cast("bigint")
    n = F.count("*")
    upd = (
        a1.select("cids", F.posexplode("v").alias("pos0", "x"))
        .select(
            (F.col("pos0") / PQ_D).cast("int").alias("m"),
            (F.col("pos0") % PQ_D + 1).alias("dim"),
            F.expr(f"cids[CAST(pos0 / {PQ_D} AS INT)]").alias("cid"),
            "x",
        )
        .groupBy("m", "cid", "dim")
        .agg(s_int.alias("s"), n.alias("n"))
        .select(
            "m",
            "cid",
            "dim",
            F.expr(
                "CASE WHEN s >= 0 THEN (2 * s + n) div (2 * n) "
                "ELSE -((2 * (-s) + n) div (2 * n)) END"
            ).alias("microv"),
        )
        .collect()
    )
    by_mc: dict = {}
    for r in upd:
        by_mc.setdefault((int(r["m"]), int(r["cid"])), {})[int(r["dim"])] = (
            int(r["microv"]) / 1000000.0
        )
    return {
        m: sorted(
            [
                (cid, [dims[p] for p in sorted(dims)])
                for (mm, cid), dims in by_mc.items()
                if mm == m
            ]
        )
        for m in range(PQ_M)
    }


def _pq_encode(emb: DataFrame, books: dict) -> DataFrame:
    """Encode the corpus: PQ_M small codes per vector, one map pass."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select("vec_id", v.alias("v")).select(
        "vec_id", *_pq_assign_cols(F.col("v"), books)
    )


def _pq_adc_struct(qrow, books1: dict):
    """Per-query (query_id, adc_dist) struct column over code columns:
    ADC = fixed-order fold of PQ_M pre-rounded decimal LUT terms. The
    LUT is a plan constant computed driver-side with the same IEEE op
    order as the oracle's list_reduce fold."""
    qid = int(qrow["vec_id"])
    qv = [float(x) for x in qrow["embedding"]]
    adc = None
    for m in range(PQ_M):
        qsub = qv[m * PQ_D : (m + 1) * PQ_D]
        lut = {}
        for cid, cent in books1[m]:
            s = 0.0
            for i in range(PQ_D):
                d = qsub[i] - cent[i]
                s = s + d * d
            lut[cid] = s
        cid_col = F.col(f"cid{m}")
        pd_col = F.lit(None).cast("double")
        for cid, val in sorted(lut.items(), reverse=True):
            pd_col = F.when(cid_col == cid, F.lit(val)).otherwise(pd_col)
        term = F.round(pd_col, 6).cast("decimal(18,6)")
        adc = term if adc is None else adc + term
    return F.struct(
        F.lit(qid).cast("bigint").alias("query_id"),
        adc.cast("double").alias("adc_dist"),
        # the exact DECIMAL sum, for consumers that present integer
        # micro-units instead of a final ROUND(double) (ann_ivfpq)
        adc.alias("adc_dec"),
    )


def _pq_query_batch(emb: DataFrame, books1: dict):
    """The PQ_NQ query rows in vec_id order (one collect) and the array
    of their ADC structs over the code columns: the query batch every
    PQ query scores the corpus against."""
    qrows = (
        emb.where(F.col("vec_id") < PQ_NQ)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    return qrows, F.array(*[_pq_adc_struct(qr, books1) for qr in qrows])


@register(
    "ann_pq",
    oracle=_pq_oracle(),
    doc=(
        "Product quantization ANN with asymmetric distance (Jegou et "
        f"al. 2011, public): {PQ_M} subspaces x {PQ_D} dims, per-"
        f"subspace {PQ_K}-centroid codebooks trained by one Lloyd "
        "round from the first-K sub-vectors (kmeans_codebook "
        "convention: broadcast-constant assignment map pass, only the "
        f"{PQ_M}x{PQ_K}x{PQ_D} codebook crosses the driver). Encoding "
        f"compresses each vector to {PQ_M} byte codes (32x smaller "
        "than float32 at 100 TB); query scoring is a pure projection — "
        "per-query lookup tables are plan constants, the ADC sum folds "
        "8 pre-rounded DECIMAL(18,6) terms in fixed order, and top-k "
        "is a per-query window. Corpus rows never leave executors; no "
        "join touches the raw vectors after encoding (SURVEY §2.F)."
    ),
)
def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    books1 = _pq_train_books(emb, sf_dir)
    codes = _pq_encode(emb, books1)
    _, adc = _pq_query_batch(emb, books1)
    scored = codes.select(
        "vec_id", F.explode(adc).alias("qa")
    ).select(
        F.col("qa.query_id").alias("query_id"), "vec_id", F.col("qa.adc_dist").alias("adc_dist")
    ).where(F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= PQ_TOPK)
        .select("query_id", "vec_id", F.round("adc_dist", 6).alias("adc_dist"))
        .orderBy("query_id", "vec_id")
    )


# --- ann_ivfpq: IVF coarse pruning + PQ asymmetric re-scoring --------------

IVFPQ_NPROBE = 4


def _ivfpq_oracle() -> str:
    d = _pq_dist_sql("s.sv", "c.cv")
    dq = _pq_dist_sql("q.qv", "c.cv")
    cos_cv = _COS.format(a="v.embedding", b="cc.cvec")
    cos_qc = _COS.format(a="qe.embedding", b="cc.cvec")
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
sub AS (
  SELECT vec_id, mm.m AS m, list_slice(v, mm.m * {PQ_D} + 1, mm.m * {PQ_D} + {PQ_D}) AS sv
  FROM e CROSS JOIN UNNEST(range(0, {PQ_M})) AS mm(m)
),
c0 AS (SELECT vec_id AS cid, m, sv AS cv FROM sub WHERE vec_id < {PQ_K}),
a1 AS (
  SELECT vec_id, m, sv, cid FROM (
    SELECT s.vec_id, s.m, s.sv, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY {d} ASC, c.cid) AS rn
    FROM sub s JOIN c0 c ON c.m = s.m
  ) WHERE rn = 1
),
c1s AS (
  SELECT m, cid, dd.i AS dim,
         CAST(SUM(CAST(ROUND(sv[dd.i], 6) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS s,
         COUNT(*) AS n
  FROM a1 CROSS JOIN UNNEST(range(1, {PQ_D} + 1)) AS dd(i)
  GROUP BY m, cid, dd.i
),
c1f AS (
  -- 6dp mean rounded half-away-from-zero ENTIRELY in integer
  -- micro-units: sum/count hits exact decimal halves at ~1/count
  -- probability, where double ROUND implementations disagree
  SELECT m, cid, dim,
         CAST(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
                   ELSE -((2 * (-s) + n) // (2 * n)) END AS DOUBLE) / 1000000.0 AS cval
  FROM c1s
),
c1 AS (SELECT m, cid, list(cval ORDER BY dim) AS cv FROM c1f GROUP BY m, cid),
codes AS (
  SELECT vec_id, m, cid FROM (
    SELECT s.vec_id, s.m, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY {d} ASC, c.cid) AS rn
    FROM sub s JOIN c1 c ON c.m = s.m
  ) WHERE rn = 1
),
cc AS (SELECT vec_id AS ccid, embedding AS cvec FROM embeddings WHERE vec_id < {IVF_K}),
assign AS (
  SELECT vec_id, ccid FROM (
    SELECT v.vec_id, cc.ccid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {cos_cv} DESC, cc.ccid) AS rn
    FROM embeddings v CROSS JOIN cc
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, ccid FROM (
    SELECT qe.vec_id AS query_id, cc.ccid,
           ROW_NUMBER() OVER (PARTITION BY qe.vec_id ORDER BY {cos_qc} DESC, cc.ccid) AS rn
    FROM embeddings qe CROSS JOIN cc
    WHERE qe.vec_id < {PQ_NQ}
  ) WHERE rn <= {IVFPQ_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM assign a JOIN probes p ON a.ccid = p.ccid
  WHERE a.vec_id <> p.query_id
),
q AS (SELECT vec_id AS query_id, m, sv AS qv FROM sub WHERE vec_id < {PQ_NQ}),
lut AS (
  SELECT q.query_id, c.m, c.cid, ROUND({dq}, 6) AS pd
  FROM q JOIN c1 c ON c.m = q.m
),
adc AS (
  SELECT cand.query_id, cand.vec_id,
         CAST(SUM(CAST(l.pd AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist,
         CAST(SUM(CAST(l.pd AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS adc_micro
  FROM cand
  JOIN codes x ON x.vec_id = cand.vec_id
  JOIN lut l ON l.query_id = cand.query_id AND l.m = x.m AND l.cid = x.cid
  GROUP BY 1, 2
)
SELECT query_id, vec_id, adc_micro
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, vec_id) AS rn
  FROM adc
) WHERE rn <= {PQ_TOPK}
ORDER BY query_id, vec_id
"""


@register(
    "ann_ivfpq",
    oracle=_ivfpq_oracle(),
    doc=(
        "IVF+PQ ANN — the FAISS-style 100 TB serving architecture "
        "(Jegou et al. 2011): the IVF coarse quantizer (argmax-cosine "
        f"to {IVF_K} centroid seeds) prunes the corpus to "
        f"{IVFPQ_NPROBE}/{IVF_K} probed lists per query, then PQ "
        "asymmetric distance re-scores ONLY the probed candidates "
        "from their 8-byte codes. Both codebooks are plan constants; "
        "candidate discovery is an equality join on the list id "
        "(partition-pruned reads when the code table is stored "
        "list-partitioned); scoring touches codes, never raw vectors. "
        "Scan cost per query: nprobe/K of the corpus at 1/32 the "
        "bytes — the multiplicative compound of IVF pruning and PQ "
        "compression (SURVEY §2.F)."
    ),
)
def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    books1 = _pq_train_books(emb, sf_dir)
    codes = _pq_encode(emb, books1)
    # IVF coarse assignment (ann_ivf structure): broadcast centroids,
    # argmax cosine per vector
    cents = emb.where(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("ccid"), F.col("embedding").alias("cvec")
    )
    cscore = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "ccid", cosine_rounded(F.col("embedding"), F.col("cvec")).alias("c_sim")
    )
    wv = Window.partitionBy("vec_id").orderBy(F.desc("c_sim"), "ccid")
    assign = (
        cscore.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select("vec_id", "ccid")
    )
    # probes: each query's IVFPQ_NPROBE nearest lists (tiny, broadcast)
    qe = emb.where(F.col("vec_id") < PQ_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    pscore = qe.crossJoin(F.broadcast(cents)).select(
        "query_id", "ccid", cosine_rounded(F.col("qvec"), F.col("cvec")).alias("q_sim")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("q_sim"), "ccid")
    probes = (
        pscore.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= IVFPQ_NPROBE)
        .select("query_id", "ccid")
    )
    cand = (
        assign.join(F.broadcast(probes), "ccid")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    # ADC re-score only the candidates: join codes, per-query LUT CASE
    _, adc = _pq_query_batch(emb, books1)
    scored = (
        cand.join(codes, "vec_id")
        .select("query_id", "vec_id", F.explode(adc).alias("qa"))
        .where(F.col("qa.query_id") == F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.col("qa.adc_dist").alias("adc_dist"),
            F.col("qa.adc_dec").alias("adc_dec"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= PQ_TOPK)
        # exact micro-unit presentation off the DECIMAL(18,6) ADC sum
        # (no final ROUND(double), the r8 halfway hazard)
        .select(
            "query_id",
            "vec_id",
            F.expr("CAST(adc_dec * 1000000 AS BIGINT)").alias("adc_micro"),
        )
        .orderBy("query_id", "vec_id")
    )


# --- cluster_top_terms: label the LEARNED clusters -------------------------

CLUSTER_LIFT_MIN = 5
CLUSTER_LIFT_TOP = 5


def _cluster_terms_oracle() -> str:
    toks = "list_filter(str_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
    return f"""
WITH {_km_ctes()},
d AS (
  SELECT a2.cid, UNNEST({toks}) AS tok
  FROM documents JOIN a2 ON doc_id = a2.vec_id
),
c AS (SELECT cid, tok, COUNT(*) AS n FROM d GROUP BY 1, 2),
l AS (SELECT cid, SUM(n) AS cid_toks FROM c GROUP BY cid),
t AS (SELECT tok, SUM(n) AS tok_total FROM c GROUP BY tok),
scored AS (
  SELECT c.cid, c.tok, c.n,
         ROUND(CAST(c.n * (SELECT SUM(n) FROM c) AS DOUBLE)
               / (l.cid_toks * t.tok_total), 4) AS lift
  FROM c JOIN l USING (cid) JOIN t USING (tok)
  WHERE c.n >= {CLUSTER_LIFT_MIN}
),
r AS (SELECT cid, tok, n, lift,
             ROW_NUMBER() OVER (PARTITION BY cid
                                ORDER BY lift DESC, n DESC, tok) AS rank
      FROM scored)
SELECT CAST(cid AS BIGINT) AS cluster_id, tok, n, lift, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {CLUSTER_LIFT_TOP} ORDER BY cluster_id, rank
"""


@register(
    "cluster_top_terms",
    oracle=_cluster_terms_oracle(),
    doc=(
        "Distinctive terms per LEARNED k-means cluster — the "
        "clustering -> labeling composition a topic-discovery pipeline "
        "runs (label_top_terms names the given labels; this names the "
        "clusters the engine itself just trained). The assignment is "
        "the kmeans_codebook broadcast-constant map pass (shared "
        "trainer, same 2 Lloyd rounds, bit-identical folds), joined to "
        "documents on doc_id = vec_id; lift = exact integer products "
        "folded into one double division (label_top_terms convention). "
        "Shuffles: the id join + map-side-combined (cid, tok) counts; "
        "lift joins touch vocab-sized tables only (SURVEY §2.L)."
    ),
)
def cluster_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    assign = _km_assign(emb, _km_train(emb)).select("vec_id", "cid")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
    )
    d = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .join(assign, F.col("doc_id") == F.col("vec_id"))
        .select("cid", "tok")
    )
    c = d.groupBy("cid", "tok").agg(F.count("*").alias("n"))
    from pyspark.sql import Window

    # marginals as WINDOWS over the vocab-sized count table — the
    # join form derives the corpus explode+join pipeline once per
    # marginal (4 corpus passes); windows reuse ONE derivation and
    # only shuffle vocab-sized rows
    cid_toks = F.sum("n").over(Window.partitionBy("cid"))
    tok_total = F.sum("n").over(Window.partitionBy("tok"))
    all_toks = F.sum("n").over(Window.partitionBy())
    scored = (
        c.select(
            "cid",
            "tok",
            "n",
            cid_toks.alias("cid_toks"),
            tok_total.alias("tok_total"),
            all_toks.alias("all_toks"),
        )
        .where(F.col("n") >= CLUSTER_LIFT_MIN)
        .select(
            "cid",
            "tok",
            "n",
            F.round(
                (F.col("n") * F.col("all_toks")).cast("double")
                / (F.col("cid_toks") * F.col("tok_total")),
                4,
            ).alias("lift"),
        )
    )

    w = Window.partitionBy("cid").orderBy(F.desc("lift"), F.desc("n"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= CLUSTER_LIFT_TOP)
        .select(
            F.col("cid").cast("bigint").alias("cluster_id"),
            "tok",
            "n",
            "lift",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy("cluster_id", "rank")
    )


# --- persisted IVF+PQ index: the build-once serving layout -----------------

PQ_INDEX_ROOT = os.path.join(_REPO_ROOT, "spark-warehouse", "ann_pq_index")


def build_pq_index(spark: SparkSession, sf_dir: str, index_dir: str | None = None) -> str:
    """Materialize the IVF+PQ serving index ONCE per corpus (the
    reference's build-once HNSW discipline, scripts/init_db.sql:53):
    - codes/   (ccid, vec_id, cid0..cid7) partitioned by ccid — each
      IVF list is a directory, so probing reads only nprobe/K of the
      index, and each row is 8 codes instead of 64 floats (32x);
    - codebook/ the PQ_M x PQ_K x PQ_D trained codebook (tiny).
    Idempotent per corpus dir. Queries never retrain or re-encode."""
    import os as _os

    from email_etl_spark.sinks.parquet import write_partitioned

    index_dir = index_dir or _os.path.join(
        PQ_INDEX_ROOT, _os.path.basename(sf_dir.rstrip("/"))
    )
    codes_dir = _os.path.join(index_dir, "codes")
    book_dir = _os.path.join(index_dir, "codebook")
    if not _os.path.exists(_os.path.join(book_dir, "_SUCCESS")):
        emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
        books1 = _pq_train_books(emb, sf_dir)
        codes = _pq_encode(emb, books1)
        cents = emb.where(F.col("vec_id") < IVF_K).select(
            F.col("vec_id").alias("ccid"), F.col("embedding").alias("cvec")
        )
        cscore = emb.crossJoin(F.broadcast(cents)).select(
            "vec_id", "ccid", cosine_rounded(F.col("embedding"), F.col("cvec")).alias("c_sim")
        )
        wv = Window.partitionBy("vec_id").orderBy(F.desc("c_sim"), "ccid")
        assign = (
            cscore.withColumn("rn", F.row_number().over(wv))
            .where(F.col("rn") == 1)
            .select("vec_id", "ccid")
        )
        write_partitioned(codes.join(assign, "vec_id"), codes_dir, ["ccid"], sort_col="vec_id")
        rows = [
            (m, int(cid), [float(x) for x in cv])
            for m, entries in books1.items()
            for cid, cv in entries
        ]
        spark.createDataFrame(
            rows, "m int, cid bigint, cv array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(book_dir)
    return index_dir


@register(
    "ann_ivfpq_indexed",
    oracle=_ivfpq_oracle(),
    doc=(
        "IVF+PQ ANN served from the PERSISTED index: build_pq_index "
        "writes the code table partitioned by IVF list (ccid) plus the "
        "trained codebook; a query collects its nprobe list ids from "
        "the tiny centroid table, reads ONLY those list directories "
        "(PartitionFilters — proven pruned in tests/test_pq_index.py), "
        "and ADC-scores the 8-byte codes against plan-constant lookup "
        "tables. Same results contract as ann_ivfpq, with training, "
        "encoding and list assignment amortized to build time — per-"
        "query work is nprobe/K of the index at 1/32 the bytes, the "
        "genuine 100 TB serving shape (SURVEY §2.F)."
    ),
)
def ann_ivfpq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    index_dir = build_pq_index(spark, sf_dir)
    import os as _os

    # codebook: 64 tiny rows, memoized plan constants
    def read_books():
        books = {m: [] for m in range(PQ_M)}
        for r in spark.read.parquet(_os.path.join(index_dir, "codebook")).collect():
            books[int(r["m"])].append((int(r["cid"]), [float(x) for x in r["cv"]]))
        return {m: sorted(v) for m, v in books.items()}

    books1 = memo(spark, "pq_books", index_dir, build=read_books)
    emb = load_table(spark, sf_dir, "embeddings")
    # probes: per-query nprobe nearest lists over the 16-row centroid
    # table — a bounded collect (the serving layer's routing step)
    cents = emb.where(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("ccid"), F.col("embedding").alias("cvec")
    )
    qe = emb.where(F.col("vec_id") < PQ_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("q_sim"), "ccid")
    probe_rows = (
        qe.crossJoin(F.broadcast(cents))
        .select(
            "query_id", "ccid", cosine_rounded(F.col("qvec"), F.col("cvec")).alias("q_sim")
        )
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= IVFPQ_NPROBE)
        .select("query_id", "ccid")
        .collect()
    )
    by_q: dict = {}
    for r in probe_rows:
        by_q.setdefault(int(r["query_id"]), []).append(int(r["ccid"]))
    all_lists = sorted({c for lists in by_q.values() for c in lists})
    # partition-pruned read of the probed list directories only
    idx = open_parquet(spark, _os.path.join(index_dir, "codes"))
    pruned = idx.where(F.col("ccid").cast("int").isin(all_lists))
    _, adc = _pq_query_batch(emb, books1)
    probe_map = F.expr(
        "map("
        + ",".join(
            f"{qid}, array({','.join(str(c) for c in sorted(ccids))})"
            for qid, ccids in sorted(by_q.items())
        )
        + ")"
    )
    scored = (
        pruned.select("ccid", "vec_id", F.explode(adc).alias("qa"))
        .where(
            F.array_contains(
                F.element_at(probe_map, F.col("qa.query_id").cast("int")),
                F.col("ccid").cast("int"),
            )
        )
        .select(
            F.col("qa.query_id").alias("query_id"),
            "vec_id",
            F.col("qa.adc_dist").alias("adc_dist"),
            F.col("qa.adc_dec").alias("adc_dec"),
        )
        .where(F.col("vec_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= PQ_TOPK)
        # exact micro-unit presentation (shared ivfpq oracle contract)
        .select(
            "query_id",
            "vec_id",
            F.expr("CAST(adc_dec * 1000000 AS BIGINT)").alias("adc_micro"),
        )
        .orderBy("query_id", "vec_id")
    )


# --- cluster_exemplars: nearest docs to each learned centroid --------------

EXEMPLAR_TOP = 3
EXEMPLAR_SNIPPET = 80


def _exemplar_oracle() -> str:
    return f"""
WITH {_km_ctes()},
r AS (
  SELECT cid, vec_id, ROUND(dist, 4) AS center_dist,
         ROW_NUMBER() OVER (PARTITION BY cid ORDER BY dist ASC, vec_id) AS rank
  FROM a2
)
SELECT CAST(r.cid AS BIGINT) AS cluster_id,
       CAST(r.rank AS BIGINT) AS rank,
       r.vec_id, r.center_dist,
       substr(d.text, 1, {EXEMPLAR_SNIPPET}) AS snippet
FROM r JOIN documents d ON d.doc_id = r.vec_id
WHERE r.rank <= {EXEMPLAR_TOP}
ORDER BY cluster_id, rank
"""


@register(
    "cluster_exemplars",
    oracle=_exemplar_oracle(),
    doc=(
        "Cluster exemplars: the top-3 documents nearest each LEARNED "
        "k-means centroid (the human-inspection companion to "
        "cluster_top_terms — what a curation reviewer actually reads "
        "to name a cluster). Shared Lloyd trainer; the per-cluster "
        "nearest-member cut is one window over the assignment (each "
        "task emits <= K x top rows), then an id join pulls snippets "
        "for the <= K x top winners only — never full documents for "
        "the corpus (SURVEY §2.L)."
    ),
)
def cluster_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    assign = _km_assign(emb, _km_train(emb)).select("vec_id", "cid", "dist")
    w = Window.partitionBy("cid").orderBy(F.asc("dist"), F.asc("vec_id"))
    r = (
        assign.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= EXEMPLAR_TOP)
        .select("cid", "rank", "vec_id", F.round("dist", 4).alias("center_dist"))
    )
    return (
        r.join(docs.select("doc_id", "text"), F.col("doc_id") == F.col("vec_id"))
        .select(
            F.col("cid").cast("bigint").alias("cluster_id"),
            F.col("rank").cast("bigint").alias("rank"),
            "vec_id",
            "center_dist",
            F.substring("text", 1, EXEMPLAR_SNIPPET).alias("snippet"),
        )
        .orderBy("cluster_id", "rank")
    )


# --- pq_recall_eval: the PQ deployment gate --------------------------------


def _pq_recall_oracle() -> str:
    d = _pq_dist_sql("s.sv", "c.cv")
    dq = _pq_dist_sql("q.qv", "c.cv")
    dfull = _km_dist_sql("v.v", "qf.v")
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
sub AS (
  SELECT vec_id, mm.m AS m, list_slice(v, mm.m * {PQ_D} + 1, mm.m * {PQ_D} + {PQ_D}) AS sv
  FROM e CROSS JOIN UNNEST(range(0, {PQ_M})) AS mm(m)
),
c0 AS (SELECT vec_id AS cid, m, sv AS cv FROM sub WHERE vec_id < {PQ_K}),
a1 AS (
  SELECT vec_id, m, sv, cid FROM (
    SELECT s.vec_id, s.m, s.sv, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY {d} ASC, c.cid) AS rn
    FROM sub s JOIN c0 c ON c.m = s.m
  ) WHERE rn = 1
),
c1s AS (
  SELECT m, cid, dd.i AS dim,
         CAST(SUM(CAST(ROUND(sv[dd.i], 6) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS s,
         COUNT(*) AS n
  FROM a1 CROSS JOIN UNNEST(range(1, {PQ_D} + 1)) AS dd(i)
  GROUP BY m, cid, dd.i
),
c1f AS (
  SELECT m, cid, dim,
         CAST(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
                   ELSE -((2 * (-s) + n) // (2 * n)) END AS DOUBLE) / 1000000.0 AS cval
  FROM c1s
),
c1 AS (SELECT m, cid, list(cval ORDER BY dim) AS cv FROM c1f GROUP BY m, cid),
codes AS (
  SELECT vec_id, m, cid FROM (
    SELECT s.vec_id, s.m, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY {d} ASC, c.cid) AS rn
    FROM sub s JOIN c1 c ON c.m = s.m
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, m, sv AS qv FROM sub WHERE vec_id < {PQ_NQ}),
lut AS (
  SELECT q.query_id, c.m, c.cid, ROUND({dq}, 6) AS pd
  FROM q JOIN c1 c ON c.m = q.m
),
adc AS (
  SELECT l.query_id, x.vec_id,
         CAST(SUM(CAST(l.pd AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
  FROM codes x JOIN lut l ON l.m = x.m AND l.cid = x.cid
  WHERE x.vec_id <> l.query_id
  GROUP BY 1, 2
),
pq_top AS (
  SELECT query_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, vec_id) AS rn
    FROM adc
  ) WHERE rn <= {PQ_TOPK}
),
qf AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < {PQ_NQ}),
truth AS (
  SELECT query_id, vec_id FROM (
    SELECT qf.query_id, v.vec_id,
           ROW_NUMBER() OVER (PARTITION BY qf.query_id ORDER BY {dfull} ASC, v.vec_id) AS rn
    FROM e v CROSS JOIN qf
    WHERE v.vec_id <> qf.query_id
  ) WHERE rn <= {PQ_TOPK}
)
SELECT t.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(COUNT(p.vec_id) AS BIGINT) AS n_hit,
       CAST(COUNT(p.vec_id) * 10000 // COUNT(*) AS BIGINT) AS recall_bps
FROM truth t LEFT JOIN pq_top p USING (query_id, vec_id)
GROUP BY t.query_id ORDER BY t.query_id
"""


@register(
    "pq_recall_eval",
    oracle=_pq_recall_oracle(),
    doc=(
        "Recall@5 of PQ asymmetric-distance top-5 vs EXACT squared-L2 "
        "top-5 per query — the pre-deployment quality gate for the PQ "
        "code path (the ann_recall_eval discipline applied to "
        "ann_pq/ann_ivfpq: an approximate index ships only with its "
        "recall measured). Ground truth is a broadcast-query window "
        "over the exact fold (bit-identical both engines); the PQ side "
        "is the shared trainer/encoder; recall is exact-integer bps. "
        "Eval-scale: truth computation is the brute-force baseline — "
        "at 100 TB run it on a deterministic md5 query sample, the "
        "minhash_recall_eval convention (SURVEY §2.F)."
    ),
)
def pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    books1 = _pq_train_books(emb, sf_dir)
    codes = _pq_encode(emb, books1)
    qrows, adc = _pq_query_batch(emb, books1)
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    pq_top = (
        codes.select("vec_id", F.explode(adc).alias("qa"))
        .select(
            F.col("qa.query_id").alias("query_id"),
            "vec_id",
            F.col("qa.adc_dist").alias("adc_dist"),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= PQ_TOPK)
        .select("query_id", "vec_id")
    )
    # exact squared-L2 ground truth: per-query plan-constant fold
    truth_q = []
    for qr in qrows:
        qid = int(qr["vec_id"])
        qlit = F.expr(
            "array(" + ",".join(f"{float(x)!r}D" for x in qr["embedding"]) + ")"
        )
        dist = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                qlit,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        truth_q.append(
            F.struct(
                F.lit(qid).cast("bigint").alias("query_id"), dist.alias("full_dist")
            )
        )
    truth = (
        emb.select("vec_id", F.explode(F.array(*truth_q)).alias("qd"))
        .select(
            F.col("qd.query_id").alias("query_id"),
            "vec_id",
            F.col("qd.full_dist").alias("full_dist"),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.asc("full_dist"), F.asc("vec_id"))
            ),
        )
        .where(F.col("rn") <= PQ_TOPK)
        .select("query_id", "vec_id")
    )
    return (
        truth.join(pq_top.withColumn("hit", F.lit(1)), ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("bigint").alias("n_truth"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_truth",
            "n_hit",
            F.expr("n_hit * 10000L div n_truth").cast("bigint").alias("recall_bps"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Persisted full-text postings index (ref: GIN index over the tsvector
# column, scripts/init_db.sql:59-67). build_text_index materializes the
# inverted file ONCE: (term, doc_id, tf, dl) hash-bucketed by term into
# a fixed partition count (a real vocabulary is unbounded, so bucketing
# — not partitionBy(term) — is the layout that survives 100 TB), plus a
# 1-row corpus-stats table (N, sum_dl). A query computes its terms'
# buckets driver-side and reads ONLY those directories; df(term) is
# derivable from the pruned postings themselves, so no global scan ever
# happens at query time.
# ---------------------------------------------------------------------------

TEXT_INDEX_ROOT = os.path.join(_REPO_ROOT, "spark-warehouse", "text_index")
TEXT_INDEX_BUCKETS = 64


def _term_bucket(term: str) -> int:
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:2], 16) % TEXT_INDEX_BUCKETS


def build_text_index(spark: SparkSession, sf_dir: str, index_dir: str | None = None) -> str:
    """Materialize the inverted postings file for a corpus: one
    tokenize+explode pass, term-bucketed layout (md5(term) % 64 — the
    same two-hex-lane convention as the dedup signatures), plus the
    1-row (n_total, sum_dl) stats table. Idempotent per corpus dir."""
    import os as _os

    from email_etl_spark.sinks.parquet import write_partitioned

    index_dir = index_dir or _os.path.join(
        TEXT_INDEX_ROOT, _os.path.basename(sf_dir.rstrip("/"))
    )
    postings_dir = _os.path.join(index_dir, "postings")
    stats_dir = _os.path.join(index_dir, "stats")
    if not (
        _os.path.exists(_os.path.join(postings_dir, "_SUCCESS"))
        and _os.path.exists(_os.path.join(stats_dir, "_SUCCESS"))
    ):
        docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
        toks_df = docs.select(
            "doc_id", tokens(F.col("text")).alias("toks")
        ).withColumn("dl", F.size("toks"))
        post = (
            toks_df.select("doc_id", "dl", F.explode("toks").alias("term"))
            .groupBy("term", "doc_id", "dl")
            .agg(F.count("*").cast("int").alias("tf"))
            .withColumn(
                "tb",
                F.conv(F.substring(F.md5(F.col("term")), 1, 2), 16, 10).cast("int")
                % TEXT_INDEX_BUCKETS,
            )
        )
        write_partitioned(post, postings_dir, ["tb"], sort_col="term")
        stats = toks_df.agg(
            F.count("*").cast("bigint").alias("n_total"),
            F.sum("dl").cast("bigint").alias("sum_dl"),
        )
        stats.coalesce(1).write.mode("overwrite").parquet(stats_dir)
    return index_dir


@register(
    "bm25_indexed",
    headline=True,
    oracle=_bm25_oracle(),
    doc=(
        "BM25 search served from the PERSISTED postings index (ref: "
        "GIN full-text index, scripts/init_db.sql:59-67): the inverted "
        "file is built once, term-bucketed; the query prunes to its "
        "terms' bucket directories (PartitionFilters — proven in "
        "tests/test_text_index.py), pivots tf per doc from the pruned "
        "postings, derives df by counting them, and joins the 1-row "
        "persisted stats — the corpus text is NEVER tokenized at query "
        "time. Identical scoring op tree to bm25_search (k1=1.2, "
        "b=0.75, folded dl·N/sum_dl norm), so results hash-match the "
        "same oracle (SURVEY §2.C)."
    ),
)
def bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    index_dir = build_text_index(spark, sf_dir)
    post = open_parquet(spark, os.path.join(index_dir, "postings"))
    stats1 = open_parquet(spark, os.path.join(index_dir, "stats"))

    buckets = sorted({_term_bucket(t) for t in QUERY_TERMS})
    pruned = post.where(
        F.col("tb").isin(buckets) & F.col("term").isin(list(QUERY_TERMS))
    )
    # df per term from the pruned postings (one row per (term, doc)) +
    # per-doc tf pivot — both tiny: only docs containing a query term
    dfs = pruned.agg(
        *[
            F.sum(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"df_{t}")
            for t in QUERY_TERMS
        ]
    )
    with_tf = pruned.groupBy("doc_id", "dl").agg(
        *[
            F.sum(F.when(F.col("term") == t, F.col("tf")).otherwise(0)).alias(f"tf_{t}")
            for t in QUERY_TERMS
        ]
    )
    norm = F.lit(0.25) + F.lit(0.75) * (
        (F.col("dl") * F.col("n_total")).cast("double") / F.col("sum_dl")
    )
    score = None
    for t in QUERY_TERMS:
        tf = F.col(f"tf_{t}")
        idf = F.log(
            F.lit(1.0)
            + ((F.col("n_total") - F.col(f"df_{t}")).cast("double") + F.lit(0.5))
            / (F.col(f"df_{t}").cast("double") + F.lit(0.5))
        )
        term_score = F.when(
            tf > 0, idf * (tf * F.lit(2.2)) / (tf + F.lit(1.2) * norm)
        ).otherwise(F.lit(0.0))
        score = term_score if score is None else score + term_score
    return (
        with_tf.crossJoin(F.broadcast(stats1))
        .crossJoin(F.broadcast(dfs))
        .where(score > 0)
        .select("doc_id", F.round(score, 4).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


_HN_K = 5  # hard negatives per query


@register(
    "hard_negatives",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec, label AS qlabel
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, q.qlabel, e.vec_id, e.label,
         {_COS.format(a="e.embedding", b="q.qvec")} AS similarity,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY {_COS.format(a="e.embedding", b="q.qvec")} DESC, e.vec_id
         ) AS rn
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id AND e.label <> q.qlabel
)
SELECT query_id, qlabel, vec_id, label, similarity, CAST(rn AS BIGINT) AS rank
FROM scored WHERE rn <= {_HN_K}
ORDER BY query_id, rank
""",
    doc=(
        "Hard-negative mining for contrastive training: per query "
        f"vector, the top-{_HN_K} most similar vectors whose label "
        "DIFFERS from the query's — maximally confusing negatives, "
        "the standard batch-construction step for embedding-model "
        "fine-tuning (SURVEY §2.F). Same scale shape as "
        "ann_bruteforce: broadcast the bounded query batch, one "
        "corpus scan with the label filter applied BEFORE scoring "
        "(cheap predicate ahead of the cosine fold), per-query "
        "window top-k over candidate rows only. At 100 TB the "
        "retrieval leg swaps to the LSH/IVF index; the mining logic "
        "is unchanged."
    ),
)
def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .where((F.col("vec_id") != F.col("query_id")) & (F.col("label") != F.col("qlabel")))
        .select(
            "query_id",
            "qlabel",
            "vec_id",
            "label",
            cosine_rounded(F.col("embedding"), F.col("qvec")).alias("similarity"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= _HN_K)
        .select("query_id", "qlabel", "vec_id", "label", "similarity", "rank")
        .orderBy("query_id", "rank")
    )


_IVF_CURVE = (1, 2, 4, 8)
_IVF_CURVE_K = 5  # exact ground-truth depth


def _ivf_curve_oracle() -> str:
    cos_cv = _COS.format(a="v.embedding", b="c.embedding")
    cos_qc = _COS.format(a="q.embedding", b="c.embedding")
    cos_qv = _COS.format(a="v.embedding", b="q.embedding")
    probes = ", ".join(str(p) for p in _IVF_CURVE)
    return f"""
WITH c AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < {IVF_K}),
q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {cos_cv} DESC, c.cid) AS rn
    FROM embeddings v CROSS JOIN c
  ) WHERE rn = 1
),
prank AS (
  SELECT c.cid, ROW_NUMBER() OVER (ORDER BY {cos_qc} DESC, c.cid) AS prank
  FROM c CROSS JOIN q
),
cand AS (
  SELECT a.vec_id, p.prank FROM assign a JOIN prank p ON a.cid = p.cid
  WHERE a.vec_id <> {QUERY_VEC_ID}
),
top5 AS (
  SELECT vec_id FROM (
    SELECT v.vec_id, ROW_NUMBER() OVER (ORDER BY {cos_qv} DESC, v.vec_id) AS rn
    FROM embeddings v CROSS JOIN q WHERE v.vec_id <> {QUERY_VEC_ID}
  ) WHERE rn <= {_IVF_CURVE_K}
),
np AS (SELECT UNNEST([{probes}]) AS nprobe)
SELECT np.nprobe,
       CAST((SELECT COUNT(*) FROM cand WHERE prank <= np.nprobe) AS BIGINT) AS n_candidates,
       CAST((SELECT COUNT(*) FROM top5 t JOIN cand c ON t.vec_id = c.vec_id
             WHERE c.prank <= np.nprobe) AS BIGINT) AS n_hits,
       CAST((SELECT COUNT(*) FROM top5 t JOIN cand c ON t.vec_id = c.vec_id
             WHERE c.prank <= np.nprobe) * 10000 // {_IVF_CURVE_K} AS BIGINT) AS recall_bps
FROM np ORDER BY np.nprobe
"""


@register(
    "ivf_recall_curve",
    oracle=_ivf_curve_oracle(),
    doc=(
        "IVF tuning curve: recall@5 and candidate count at nprobe ∈ "
        "{1,2,4,8} — the measurement that picks the recall/cost "
        "operating point BEFORE a deployment commits to an nprobe "
        "(the ann_recall_eval discipline applied to the IVF axis, "
        "SURVEY §2.F). The corpus is touched exactly twice (one "
        "broadcast-centroid assignment pass, one exact ground-truth "
        "top-5 pass); the whole curve then derives from cumulative "
        "counts over the 16-row centroid-rank table — adding curve "
        "points costs nothing more at any scale."
    ),
)
def ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    cents = emb.where(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    q = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    # assignment: argmax cosine to the K centroid seeds
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cid",
        cosine_rounded(F.col("embedding"), F.col("cvec")).alias("c_sim"),
    )
    wv = Window.partitionBy("vec_id").orderBy(F.desc("c_sim"), "cid")
    assign = (
        scored.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    # centroid probe rank for the query (16-row table)
    prank = (
        cents.crossJoin(F.broadcast(q))
        .select("cid", cosine_rounded(F.col("cvec"), F.col("qvec")).alias("q_sim"))
        .withColumn("prank", F.row_number().over(Window.orderBy(F.desc("q_sim"), "cid")))
        .select("cid", "prank")
    )
    cand = (
        assign.join(F.broadcast(prank), "cid")
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "prank")
    )
    # exact ground truth top-5
    top5 = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", cosine_rounded(F.col("embedding"), F.col("qvec")).alias("s"))
        .orderBy(F.desc("s"), "vec_id")
        .limit(_IVF_CURVE_K)
        .select("vec_id")
    )
    # cumulative counts over the 16-value prank axis (tiny windows)
    cand_by_rank = cand.groupBy("prank").agg(F.count("*").alias("nc"))
    hit_by_rank = (
        F.broadcast(top5).join(cand, "vec_id").groupBy("prank").agg(F.count("*").alias("nh"))
    )
    ranks = spark.range(1, IVF_K + 1).select(F.col("id").cast("int").alias("prank"))
    wcum = Window.orderBy("prank").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        ranks.join(cand_by_rank, "prank", "left")
        .join(hit_by_rank, "prank", "left")
        .select(
            "prank",
            F.sum(F.coalesce(F.col("nc"), F.lit(0))).over(wcum).alias("cum_c"),
            F.sum(F.coalesce(F.col("nh"), F.lit(0))).over(wcum).alias("cum_h"),
        )
        .where(F.col("prank").isin(list(_IVF_CURVE)))
    )
    return curve.select(
        F.col("prank").cast("int").alias("nprobe"),
        F.col("cum_c").cast("bigint").alias("n_candidates"),
        F.col("cum_h").cast("bigint").alias("n_hits"),
        F.expr(f"cum_h * 10000L div {_IVF_CURVE_K}").cast("bigint").alias("recall_bps"),
    ).orderBy("nprobe")


def _ann_index_stats_oracle() -> str:
    sig_cols = ", ".join(f"{_sig_sql('embedding', t)} AS sig{t}" for t in range(LSH_TABLES))
    unions = "\nUNION ALL\n".join(
        f"SELECT {t} AS t, sig{t} AS key FROM sigs" for t in range(LSH_TABLES)
    )
    return f"""
WITH sigs AS (SELECT vec_id, {sig_cols} FROM embeddings),
buckets AS ({unions}),
bc AS (SELECT t, key, COUNT(*) AS c FROM buckets GROUP BY t, key),
r AS (
  SELECT t, c,
         ROW_NUMBER() OVER (PARTITION BY t ORDER BY c DESC, key) AS rd
  FROM bc
)
SELECT t,
       CAST(SUM(c) AS BIGINT) AS n_vecs,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(c) AS BIGINT) AS max_bucket,
       CAST(MAX(c) * 10000 // SUM(c) AS BIGINT) AS top1_bps,
       CAST(SUM(CASE WHEN rd <= 10 THEN c ELSE 0 END) * 10000 // SUM(c) AS BIGINT) AS top10_bps
FROM r GROUP BY t ORDER BY t
"""


@register(
    "ann_index_stats",
    oracle=_ann_index_stats_oracle(),
    doc=(
        "Bucket-balance health check of the persisted sign-LSH index: "
        "per hash table, bucket count, largest bucket and top-1/top-10 "
        "occupancy shares in exact integer bps — the index diagnostic "
        "that predicts worst-case probe cost (a 5000-bps bucket means "
        "half the corpus collides into one key and queries hitting it "
        "degrade to brute force; the join_skew_report discipline "
        "applied to the index layout; SURVEY §2.F). Reads the "
        "build-once index table, never the vectors; the rank window "
        "runs over bucket-cardinality counts only."
    ),
)
def ann_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    index_dir = build_ann_index(spark, sf_dir)
    idx = open_parquet(spark, index_dir)
    bc = idx.groupBy("t", "key").agg(F.count("*").alias("c"))
    wd = Window.partitionBy("t").orderBy(F.desc("c"), "key")
    r = bc.withColumn("rd", F.row_number().over(wd))
    return (
        r.groupBy("t")
        .agg(
            F.sum("c").cast("bigint").alias("n_vecs"),
            F.count("*").cast("bigint").alias("n_buckets"),
            F.max("c").cast("bigint").alias("max_bucket"),
            F.expr("max(c) * 10000L div sum(c)").cast("bigint").alias("top1_bps"),
            F.expr("sum(CASE WHEN rd <= 10 THEN c ELSE 0 END) * 10000L div sum(c)")
            .cast("bigint")
            .alias("top10_bps"),
        )
        .select(
            F.col("t").cast("int").alias("t"),
            "n_vecs",
            "n_buckets",
            "max_bucket",
            "top1_bps",
            "top10_bps",
        )
        .orderBy("t")
    )


_MAXSIM_QT = (0, 1, 2)  # pseudo query-term vector ids
MAXSIM_TOP = 10


def _maxsim_oracle() -> str:
    qsel = ", ".join(str(q) for q in _MAXSIM_QT)
    return f"""
WITH qt AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
            WHERE vec_id IN ({qsel})),
s AS (
  SELECT e.vec_id, e.label, qt.qid,
         {_COS.format(a="e.embedding", b="qt.qvec")} AS c
  FROM embeddings e CROSS JOIN qt
  WHERE e.vec_id NOT IN ({qsel})
),
m AS (
  SELECT vec_id, label, qid, MAX(c) AS mc
  FROM s GROUP BY vec_id, label, qid
),
sc AS (
  SELECT vec_id, label, ROUND(SUM(mc), 4) AS maxsim
  FROM m GROUP BY vec_id, label
)
SELECT vec_id, label, maxsim
FROM sc ORDER BY maxsim DESC, vec_id LIMIT {MAXSIM_TOP}
"""


@register(
    "maxsim_search",
    oracle=_maxsim_oracle(),
    doc=(
        "Late-interaction (ColBERT-style) multi-vector retrieval: the "
        "query is a BAG of term vectors and a doc scores "
        "sum_over_terms(max cosine) — the modern ranker between "
        "single-vector ANN and full cross-encoders (SURVEY §2.C/F). "
        "Scale shape identical to ann_bruteforce: the bounded "
        "query-term batch broadcasts, ONE corpus scan scores "
        "|terms|·n pairs, per-(doc, term) max and per-doc sum are "
        "map-side-combined aggregates, top-10 via "
        "TakeOrderedAndProject. Per-term cosines round before the "
        "max/sum (engine-identical); at 100 TB the per-term "
        "candidate retrieval swaps to the LSH index and the maxsim "
        "re-score touches candidates only."
    ),
)
def maxsim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    qt = emb.where(F.col("vec_id").isin(list(_MAXSIM_QT))).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    s = (
        emb.where(~F.col("vec_id").isin(list(_MAXSIM_QT)))
        .crossJoin(F.broadcast(qt))
        .select(
            "vec_id",
            "label",
            "qid",
            cosine_rounded(F.col("embedding"), F.col("qvec")).alias("c"),
        )
    )
    m = s.groupBy("vec_id", "label", "qid").agg(F.max("c").alias("mc"))
    sc = m.groupBy("vec_id", "label").agg(F.round(F.sum("mc"), 4).alias("maxsim"))
    return sc.orderBy(F.desc("maxsim"), "vec_id").limit(MAXSIM_TOP)


@register(
    "emb_dim_variance",
    oracle=f"""
WITH d AS (
  SELECT u.i - 1 AS dim,
         CAST(CAST(ROUND(CAST(embedding[u.i] AS DOUBLE), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vm
  FROM embeddings, UNNEST(range(1, {EMB_DIM} + 1)) AS u(i)
),
g AS (
  SELECT dim, COUNT(*) AS n, SUM(vm) AS sm, SUM(vm * vm) AS ssq
  FROM d GROUP BY dim
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(n AS BIGINT) AS n,
       CAST(sm AS BIGINT) AS sum_micro,
       CAST((n * ssq - sm * sm) // (n * n) AS BIGINT) AS variance_pico
FROM g ORDER BY dim
""",
    doc=(
        "Per-dimension variance of the embedding cloud — the feature-"
        "health screen that catches dead dimensions (variance ≈ 0 "
        "means the encoder ignores the axis) and dominant ones before "
        "PQ/IVF training commits a codebook to them (complements "
        "pca_power_top1's single dominant direction with the full "
        "per-axis profile; SURVEY §2.F). One posexplode pass; values "
        "quantize once to integer micro-units, sums/squares are exact "
        "integer aggregates (order-insensitive), and the variance is "
        "the closed form in pure integer pico-units with truncating "
        "div in BOTH engines — no double arithmetic anywhere, so no "
        "ulp or rounding-rule edge exists. (At extreme row counts the "
        "three products upgrade to DECIMAL(38,0); bounds here fit "
        "int64 with 10^3 headroom.)"
    ),
)
def emb_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    vm = (
        F.round(F.col("x").cast("double"), 6).cast("decimal(18,6)") * 1000000
    ).cast("bigint")
    d = emb.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim", vm.alias("vm")
    )
    g = d.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("vm").cast("bigint").alias("sm"),
        F.sum(F.col("vm") * F.col("vm")).cast("bigint").alias("ssq"),
    )
    return g.select(
        F.col("dim").cast("bigint").alias("dim"),
        "n",
        F.col("sm").alias("sum_micro"),
        F.expr("(n * ssq - sm * sm) div (n * n)").cast("bigint").alias("variance_pico"),
    ).orderBy("dim")


EXPAND_TOP = 20


def _expanded_search_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    return f"""
WITH pres AS (
  SELECT DISTINCT doc_id, UNNEST({_TOKS_SQL}) AS tok FROM documents
),
qp AS (SELECT doc_id, tok AS qt FROM pres WHERE tok IN ({terms})),
co AS (
  SELECT q.qt, p.tok, COUNT(*) AS n_co
  FROM qp q JOIN pres p ON q.doc_id = p.doc_id
  WHERE p.tok <> q.qt AND p.tok NOT IN ({terms})
  GROUP BY q.qt, p.tok
),
partner AS (
  SELECT qt, tok FROM (
    SELECT qt, tok, ROW_NUMBER() OVER (PARTITION BY qt ORDER BY n_co DESC, tok) AS rn
    FROM co
  ) WHERE rn = 1
),
exp AS (
  SELECT UNNEST([{terms}]) AS tok, 2 AS w
  UNION ALL
  SELECT tok, 1 AS w FROM partner
),
sc AS (
  SELECT p.doc_id, SUM(e.w) AS score
  FROM pres p JOIN exp e ON p.tok = e.tok
  GROUP BY p.doc_id
)
SELECT doc_id, CAST(score AS BIGINT) AS score
FROM sc ORDER BY score DESC, doc_id LIMIT {EXPAND_TOP}
"""


@register(
    "expanded_search",
    oracle=_expanded_search_oracle(),
    doc=(
        "PMI-style query expansion feeding lexical retrieval: each "
        "base query term recruits its strongest doc-co-occurrence "
        "partner (deterministic count-desc/lexicographic argmax), "
        "then docs score by weighted term presence (base=2, "
        "expansion=1) — the pseudo-relevance-feedback loop a search "
        "deployment layers over bm25 when recall matters (SURVEY "
        "§2.C). One distinct (doc, token) presence projection serves "
        "BOTH the partner mining (semi-joined to the 3 query terms "
        "before the co-count, so the join is query-term-bounded) and "
        "the scoring pass (expansion table broadcast); integer "
        "scores, TakeOrderedAndProject cut."
    ),
)
def expanded_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    # NOTE (r11): do NOT localCheckpoint pres despite the 3-branch
    # fan-out — the three consumers root at IDENTICAL distinct
    # subtrees, which AQE's ReuseExchange deduplicates at runtime, so
    # the tokenize already runs once; an eager checkpoint measured
    # 2.5 -> 4.2 s (isolated A/B, sf0.1) as pure added materialization
    pres = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).distinct()
    terms = list(QUERY_TERMS)
    qp = pres.where(F.col("tok").isin(terms)).select(
        "doc_id", F.col("tok").alias("qt")
    )
    co = (
        qp.join(pres, "doc_id")
        .where((F.col("tok") != F.col("qt")) & ~F.col("tok").isin(terms))
        .groupBy("qt", "tok")
        .agg(F.count("*").alias("n_co"))
    )
    # per-qt argmax (n_co DESC, tok ASC) as one aggregation:
    # min(struct(-n_co, tok)) replays the row_number window's order
    # with map-side partial combining (guide §2.3; the semdedup_prune
    # convention) — (qt, tok) rows are unique, so no ties
    partner = (
        co.groupBy("qt")
        .agg(
            F.min(
                F.struct((-F.col("n_co")).alias("nn"), F.col("tok").alias("tok"))
            ).alias("b")
        )
        .select(F.col("b.tok").alias("tok"), F.lit(1).alias("w"))
    )
    base = (
        docs.sparkSession.createDataFrame([(t,) for t in terms], "tok string")
        .select("tok", F.lit(2).alias("w"))
    )
    exp = base.unionByName(partner)
    sc = (
        pres.join(F.broadcast(exp), "tok")
        .groupBy("doc_id")
        .agg(F.sum("w").cast("bigint").alias("score"))
    )
    return sc.orderBy(F.desc("score"), "doc_id").limit(EXPAND_TOP)


@register(
    "int8_quant_report",
    oracle=f"""
WITH d AS (
  SELECT u.i - 1 AS dim,
         ABS(CAST(CAST(ROUND(CAST(embedding[u.i] AS DOUBLE), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS am
  FROM embeddings, UNNEST(range(1, {EMB_DIM} + 1)) AS u(i)
),
mx AS (SELECT dim, MAX(am) AS absmax FROM d GROUP BY dim),
e AS (
  SELECT d.dim, mx.absmax,
         d.am - ((d.am * 127 // mx.absmax) * mx.absmax // 127) AS err
  FROM d JOIN mx ON d.dim = mx.dim
  WHERE mx.absmax > 0
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(MAX(absmax) AS BIGINT) AS absmax_micro,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(err) AS BIGINT) AS sum_abs_err_micro,
       CAST(MAX(err) AS BIGINT) AS max_abs_err_micro,
       CAST(SUM(err) * 1000 // (MAX(absmax) * COUNT(*)) AS BIGINT) AS rel_err_permille
FROM e GROUP BY dim ORDER BY dim
""",
    doc=(
        "Int8 scalar-quantization planning report per embedding "
        "dimension: the per-dim absmax scale an int8 code table would "
        "use (4x compression for serving, the cheap alternative to "
        "PQ's 32x; SURVEY §2.F), plus the exact reconstruction-error "
        "profile of the truncating 127-level quantizer — sum/max "
        "absolute error and scale-relative error per mille. The whole "
        "computation is pure integer on micro-unit magnitudes "
        "(code = am*127 div absmax, recon = code*absmax div 127, both "
        "non-negative so truncating div agrees across engines): no "
        "double arithmetic, no rounding-rule edge. Two map-side-"
        "combined aggregates over one posexplode stream with the "
        "64-row absmax table broadcast back — the same shape at any "
        "corpus size."
    ),
)
def int8_quant_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    am = F.abs(
        (F.round(F.col("x").cast("double"), 6).cast("decimal(18,6)") * 1000000).cast("bigint")
    )
    d = emb.select(F.posexplode("embedding").alias("dim", "x")).select("dim", am.alias("am"))
    mx = d.groupBy("dim").agg(F.max("am").alias("absmax"))
    e = (
        d.join(F.broadcast(mx.where(F.col("absmax") > 0)), "dim")
        .select(
            "dim",
            "absmax",
            (
                F.col("am")
                - F.expr("(am * 127 div absmax) * absmax div 127")
            ).alias("err"),
        )
    )
    return (
        e.groupBy("dim")
        .agg(
            F.max("absmax").alias("absmax"),
            F.count("*").alias("n"),
            F.sum("err").alias("serr"),
            F.max("err").alias("merr"),
        )
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            F.col("absmax").cast("bigint").alias("absmax_micro"),
            F.col("n").cast("bigint").alias("n"),
            F.col("serr").cast("bigint").alias("sum_abs_err_micro"),
            F.col("merr").cast("bigint").alias("max_abs_err_micro"),
            F.expr("serr * 1000 div (absmax * n)").cast("bigint").alias("rel_err_permille"),
        )
        .orderBy("dim")
    )


_HUB_TOP = 10


@register(
    "hub_vectors",
    oracle=f"""
WITH pairs AS (
  SELECT a.vec_id AS q, b.vec_id AS n,
         {duckdb_cosine('a.embedding', 'b.embedding')} AS c
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
),
ranked AS (
  SELECT q, n, c, ROW_NUMBER() OVER (PARTITION BY q ORDER BY c DESC, n) AS rk
  FROM pairs
),
deg AS (
  SELECT n AS vec_id, COUNT(*) AS in_degree,
         SUM(CAST(c AS DECIMAL(18,4))) AS sc
  FROM ranked WHERE rk <= {_KNN_K}
  GROUP BY n
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(in_degree AS BIGINT) AS in_degree,
       CAST((100 * CAST(sc * 10000 AS BIGINT)) // in_degree AS BIGINT)
           AS avg_in_cos_micro
FROM deg ORDER BY in_degree DESC, vec_id LIMIT {_HUB_TOP}
""",
    doc=(
        "Hubness diagnostic of the embedding space: the top-10 "
        f"vectors by in-degree in the exact top-{_KNN_K} cosine kNN "
        "graph (how many other vectors count them among their nearest "
        "neighbors), with the mean similarity of those incoming edges. "
        "High-hubness vectors are the known high-dimensional ANN "
        "pathology — they dominate result lists, distort recall "
        "measurements, and mark near-duplicate/centroid-like content "
        "(SURVEY §2.F; the vector-space twin of dup_graph_degrees). "
        "Rides the block-tiled exact kNN join (knn_join — O(P·k) "
        "shuffle rows per vector, no corpus broadcast); the degree "
        "rollup is one map-side-combined aggregate over k·n edge rows "
        "and the cut is a TakeOrderedAndProject. Edge similarities "
        "sum as exact DECIMAL(18,4) (order-insensitive); the mean "
        "ships as pure-integer avg_in_cos_micro = (10^6*sc) div "
        "in_degree — no final ROUND(double), the r8 halfway hazard."
    ),
)
def hub_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    knn = _knn_pairs(spark, sf_dir)
    deg = knn.groupBy(F.col("neighbor_id").alias("vec_id")).agg(
        F.count("*").alias("in_degree"),
        F.sum(F.col("cos_sim").cast("decimal(18,4)")).alias("sc"),
    )
    return (
        deg.select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.col("in_degree").cast("bigint").alias("in_degree"),
            # sc is DECIMAL(18,4): *10^4 recovers the exact integer;
            # Spark div and DuckDB // both truncate toward zero
            F.expr("(100 * CAST(sc * 10000 AS BIGINT)) div in_degree")
            .cast("bigint")
            .alias("avg_in_cos_micro"),
        )
        .orderBy(F.desc("in_degree"), "vec_id")
        .limit(_HUB_TOP)
    )


_NDCG_K = 10
# graded relevance from the rounded cosine: >=0.5 -> 3, >=0.3 -> 2,
# >=0.15 -> 1, else 0 (thresholds compare the SAME 4-digit-rounded
# value both engines, so no knife edge)
_NDCG_CUTS = ((0.5, 3), (0.3, 2), (0.15, 1))


def _ndcg_oracle() -> str:
    cos = duckdb_cosine("e.embedding", "q.embedding")
    grade = "CASE " + " ".join(
        f"WHEN {cos} >= {c} THEN {g}" for c, g in _NDCG_CUTS
    ) + " ELSE 0 END"
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
r AS (
  SELECT doc_id, {_TERM_RANK_SQL} AS rank FROM t
  WHERE {_TERM_RANK_SQL} > 0
  ORDER BY rank DESC, doc_id LIMIT {_NDCG_K}
),
sys AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY rank DESC, doc_id) AS pos FROM r),
g AS (
  SELECT e.vec_id AS doc_id, {grade} AS grade
  FROM embeddings e
  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
  WHERE e.vec_id <> {QUERY_VEC_ID}
),
dg AS (
  SELECT SUM(CAST(ROUND((POW(2, COALESCE(g.grade, 0)) - 1) / log2(s.pos + 1), 9)
             AS DECIMAL(18,9))) AS dcg
  FROM sys s LEFT JOIN g ON s.doc_id = g.doc_id
),
ideal AS (
  SELECT grade, ROW_NUMBER() OVER (ORDER BY grade DESC) AS pos
  FROM g ORDER BY grade DESC LIMIT {_NDCG_K}
),
ig AS (
  SELECT SUM(CAST(ROUND((POW(2, grade) - 1) / log2(pos + 1), 9)
             AS DECIMAL(18,9))) AS idcg
  FROM ideal
)
SELECT CAST(dcg * 1000000000 AS BIGINT) AS dcg_nano,
       CAST(idcg * 1000000000 AS BIGINT) AS idcg_nano,
       CAST((1000000 * CAST(dcg * 1000000000 AS BIGINT))
            // CAST(idcg * 1000000000 AS BIGINT) AS BIGINT) AS ndcg_micro
FROM dg CROSS JOIN ig
"""


@register(
    "ndcg_eval",
    oracle=_ndcg_oracle(),
    doc=(
        "Graded ranking-quality gate: NDCG@10 of the lexical term-rank "
        "retriever against cosine-graded relevance labels (grades 0-3 "
        "cut on the 4-digit-rounded similarity to the query vector) — "
        "the metric that sees ORDER quality where the recall@k gates "
        "(ann_recall_eval, pq_recall_eval) only see set membership "
        "(SURVEY §2.F). Distributed shape: the system top-10 is a "
        "TakeOrderedAndProject, grades come from one broadcast-query "
        "map pass, the ideal ordering is a top-10 over the grade "
        "table; every DCG term is rounded to DECIMAL(18,9) BEFORE the "
        "10-row sums (order-insensitive), and the outputs are the "
        "exact nano-unit integers of those sums plus the pure-integer "
        "ndcg_micro = (10^6*dcg) div idcg — no final ROUND(double), "
        "the r8 halfway hazard."
    ),
)
def ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    rank = _term_rank(F.col("text"))
    r = (
        docs.select("doc_id", rank.alias("rank"))
        .where(F.col("rank") > 0)
        .orderBy(F.desc("rank"), "doc_id")
        .limit(_NDCG_K)
    )
    w_sys = Window.orderBy(F.desc("rank"), "doc_id")
    sys = r.select("doc_id", F.row_number().over(w_sys).alias("pos"))

    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    qv = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qvec"))
    c = cosine_rounded(F.col("embedding"), F.col("qvec"))
    grade = F.lit(0)
    for cut, g in reversed(_NDCG_CUTS):
        grade = F.when(c >= cut, g).otherwise(grade)
    gt = (
        emb.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qv))
        .select(F.col("vec_id").alias("doc_id"), grade.alias("grade"))
    )

    term = lambda gcol, pcol: F.round(
        (F.pow(F.lit(2.0), gcol) - 1) / F.log2(pcol + F.lit(1.0)), 9
    ).cast("decimal(18,9)")
    dcg = (
        F.broadcast(sys)
        .join(gt, "doc_id", "left")
        .select(term(F.coalesce(F.col("grade"), F.lit(0)), F.col("pos")).alias("t"))
        .agg(F.sum("t").alias("dcg"))
    )
    ideal = (
        gt.orderBy(F.desc("grade"), "doc_id")
        .limit(_NDCG_K)
        .select("grade", F.row_number().over(Window.orderBy(F.desc("grade"), "doc_id")).alias("pos"))
        .select(term(F.col("grade"), F.col("pos")).alias("t"))
        .agg(F.sum("t").alias("idcg"))
    )
    return (
        dcg.crossJoin(F.broadcast(ideal))
        .select(
            # DECIMAL(18,9) sums: *10^9 recovers exact integers
            F.expr("CAST(dcg * 1000000000 AS BIGINT)").alias("dcg_nano"),
            F.expr("CAST(idcg * 1000000000 AS BIGINT)").alias("idcg_nano"),
            F.expr(
                "(1000000 * CAST(dcg * 1000000000 AS BIGINT))"
                " div CAST(idcg * 1000000000 AS BIGINT)"
            )
            .cast("bigint")
            .alias("ndcg_micro"),
        )
    )


@register(
    "reciprocal_best_match",
    oracle=f"""
WITH g AS (SELECT vec_id, embedding, label % 2 AS grp FROM embeddings),
p AS (
  SELECT a.vec_id AS q, b.vec_id AS n,
         {duckdb_cosine('a.embedding', 'b.embedding')} AS c
  FROM g a JOIN g b ON a.grp <> b.grp
),
best AS (
  SELECT q, n, c FROM (
    SELECT q, n, c, ROW_NUMBER() OVER (PARTITION BY q ORDER BY c DESC, n) AS rn
    FROM p
  ) WHERE rn = 1
)
SELECT x.q AS vec_a, x.n AS vec_b, x.c AS cos_sim
FROM best x JOIN best y ON x.n = y.q AND y.n = x.q
WHERE x.q < x.n
ORDER BY vec_a, vec_b
""",
    doc=(
        "Reciprocal best match across the two label-parity groups: "
        "pairs (a, b) from opposite groups that are EACH OTHER's "
        "nearest cross-group neighbor — the mutual-NN mining pattern "
        "behind parallel-corpus alignment and cross-dataset bridging "
        "(a one-directional best is often asymmetric noise; mutuality "
        "is the standard precision filter). Scale shape: the knn_join "
        "block-tile kernel with k = 1 and a cross-group mask — P "
        "mod-blocks, each (i,j) tile one bounded NumPy matmul that keeps "
        "each row's cross-group cells within the rounding tolerance of "
        "its local best (so tied bests all survive), exact-fold verify "
        "on survivors, per-query argmax aggregation (map-side combined, "
        "no candidate-stream sort), then the mutuality self-join runs "
        "on the n-row best table (SURVEY §2.F). No driver collect, no "
        "corpus broadcast; P = ceil(n/4096) grows with the corpus."
    ),
)
def reciprocal_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _tile_pairs(spark, sf_dir, k=1, group=F.col("label") % 2)
    # per-query argmax (c DESC, n ASC) as one aggregation with map-side
    # partial combining (guide §2.3; the langid/semdedup convention) —
    # the row_number window cost a full sort of the candidate stream
    best = (
        scored.groupBy("q")
        .agg(
            F.min(
                F.struct(
                    (-F.col("c")).alias("nc"),
                    F.col("n").alias("n"),
                    F.col("c").alias("c"),
                )
            ).alias("b")
        )
        .select("q", F.col("b.n").alias("n"), F.col("b.c").alias("c"))
    )
    back = best.select(F.col("q").alias("n"), F.col("n").alias("q"))
    return (
        best.join(back, ["q", "n"])
        .where(F.col("q") < F.col("n"))
        .select(F.col("q").alias("vec_a"), F.col("n").alias("vec_b"), F.col("c").alias("cos_sim"))
        .orderBy("vec_a", "vec_b")
    )


def _topic_coherence_oracle() -> str:
    toks = "list_filter(str_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
    npmi = (
        "CASE WHEN co.dfj = 0 THEN -1.0 "
        "WHEN co.dfj = nn.n_docs THEN 1.0 "
        "ELSE ln(CAST(co.dfj * nn.n_docs AS DOUBLE) / (fa.df * fb.df)) "
        "     / ln(CAST(nn.n_docs AS DOUBLE) / co.dfj) END"
    )
    return f"""
WITH top AS ({_cluster_terms_oracle()}),
tp AS (
  SELECT a.cluster_id, a.tok AS ta, b.tok AS tb
  FROM top a JOIN top b ON a.cluster_id = b.cluster_id AND a.tok < b.tok
),
terms AS (SELECT DISTINCT tok FROM (SELECT ta AS tok FROM tp UNION SELECT tb FROM tp)),
pres AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, UNNEST({toks}) AS tok FROM documents)
  WHERE tok IN (SELECT tok FROM terms)
),
nn AS (SELECT COUNT(*) AS n_docs FROM documents),
dft AS (SELECT tok, COUNT(*) AS df FROM pres GROUP BY tok),
dp AS (SELECT DISTINCT ta, tb FROM tp),
co AS (
  SELECT dp.ta, dp.tb, COUNT(y.doc_id) AS dfj
  FROM dp
  LEFT JOIN pres x ON x.tok = dp.ta
  LEFT JOIN pres y ON y.tok = dp.tb AND y.doc_id = x.doc_id
  GROUP BY dp.ta, dp.tb
),
scored AS (
  SELECT tp.cluster_id,
         CAST(ROUND({npmi}, 9) AS DECIMAL(18,9)) AS npmi
  FROM tp
  JOIN co ON tp.ta = co.ta AND tp.tb = co.tb
  JOIN dft fa ON tp.ta = fa.tok
  JOIN dft fb ON tp.tb = fb.tok
  CROSS JOIN nn
)
SELECT cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(CAST(SUM(npmi) * 1000000000 AS BIGINT) // COUNT(*) AS BIGINT)
           AS coherence_nano
FROM scored GROUP BY cluster_id ORDER BY cluster_id
"""


@register(
    "topic_coherence",
    oracle=_topic_coherence_oracle(),
    doc=(
        "Topic-coherence eval (NPMI@5, the standard topic-model "
        "quality metric): for each LEARNED k-means cluster's top-5 "
        "lift terms (cluster_top_terms), the mean normalized pointwise "
        "mutual information over the 10 within-cluster term pairs, "
        "with doc-level co-occurrence probabilities from the whole "
        "corpus — low coherence flags clusters whose label terms "
        "don't actually co-occur, i.e. noise clusters the human-"
        "inspection loop (cluster_exemplars) should visit first "
        "(SURVEY §2.L). Scale shape: the pair list is cluster-bounded "
        "(K*10 rows, broadcast); the presence stream is semi-join "
        "filtered to the <=5K distinct label terms BEFORE the doc-"
        "keyed co-occurrence join; NPMI is one double expression over "
        "exact integer counts (exact-endpoint CASEs at dfj=0 and "
        "dfj=n), each pair term pre-rounded to DECIMAL(18,9) before "
        "the per-cluster mean, which ships as pure-integer "
        "coherence_nano = (10^9*sum) div n_pairs (no final "
        "ROUND(double), the r8 halfway hazard)."
    ),
)
def topic_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    top = cluster_top_terms(spark, sf_dir).select("cluster_id", "tok")
    a = top.select("cluster_id", F.col("tok").alias("ta"))
    b = top.select(F.col("cluster_id").alias("cid_b"), F.col("tok").alias("tb"))
    # localCheckpoint (the connected_components convention) truncates
    # the kmeans+lift lineage behind the K*10-row pair list — without
    # it every downstream branch re-nests the full clustering plan
    # (~130 static exchanges)
    tp = (
        a.join(b, (F.col("cluster_id") == F.col("cid_b")) & (F.col("ta") < F.col("tb")))
        .select("cluster_id", "ta", "tb")
        .localCheckpoint(eager=True)
    )
    terms = tp.select(F.col("ta").alias("tok")).unionByName(
        tp.select(F.col("tb").alias("tok"))
    ).distinct()

    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != "")
    # the filtered presence table feeds four branches (two df marginals
    # + both sides of the co-occurrence join); checkpoint so the
    # corpus tokenize runs once and the static plan stays flat
    pres = (
        parallelize_scan(docs)
        .select("doc_id", F.explode(toks).alias("tok"))
        .join(F.broadcast(terms), "tok")
        .distinct()
        .localCheckpoint(eager=True)
    )
    nn = docs.agg(F.count("*").alias("n_docs"))
    dft = pres.groupBy("tok").agg(F.count("*").alias("df"))
    dp = tp.select("ta", "tb").distinct()
    # r11 (guide §2.4): pair co-occurrence via per-doc term SETS × the
    # broadcast K·10-row pair list instead of the doc-keyed
    # pres-×-pres SortMergeJoin chain — one rollup of the (already
    # term-filtered) presence stream, one broadcast nested filter, one
    # dimension-sized aggregate; the two SMJ sorts and their exchanges
    # are gone. Pairs that never co-occur are restored by the left
    # join below (dfj = 0 -> npmi = -1 endpoint).
    docsets = pres.groupBy("doc_id").agg(F.collect_set("tok").alias("toks"))
    co_hit = (
        docsets.join(
            F.broadcast(dp),
            F.array_contains("toks", F.col("ta"))
            & F.array_contains("toks", F.col("tb")),
        )
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("dfj"))
    )
    co = F.broadcast(dp).join(co_hit, ["ta", "tb"], "left").select(
        "ta", "tb", F.coalesce("dfj", F.lit(0)).alias("dfj")
    )
    fa = dft.select(F.col("tok").alias("ta"), F.col("df").alias("dfa"))
    fb = dft.select(F.col("tok").alias("tb"), F.col("df").alias("dfb"))
    npmi = (
        F.when(F.col("dfj") == 0, F.lit(-1.0))
        .when(F.col("dfj") == F.col("n_docs"), F.lit(1.0))
        .otherwise(
            F.log((F.col("dfj") * F.col("n_docs")).cast("double") / (F.col("dfa") * F.col("dfb")))
            / F.log(F.col("n_docs").cast("double") / F.col("dfj"))
        )
    )
    scored = (
        tp.join(F.broadcast(co), ["ta", "tb"])
        .join(F.broadcast(fa), "ta")
        .join(F.broadcast(fb), "tb")
        .crossJoin(F.broadcast(nn))
        .select("cluster_id", F.round(npmi, 9).cast("decimal(18,9)").alias("npmi"))
    )
    return (
        scored.groupBy("cluster_id")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("npmi").alias("s"),
        )
        .select(
            "cluster_id",
            "n_pairs",
            # exact DECIMAL(18,9) sum: *10^9 recovers the integer;
            # Spark div and DuckDB // both truncate toward zero
            F.expr("CAST(s * 1000000000 AS BIGINT) div n_pairs")
            .cast("bigint")
            .alias("coherence_nano"),
        )
        .orderBy("cluster_id")
    )


def _label_purity_oracle() -> str:
    # I(C;L), H(C), H(L) terms all pre-rounded to DECIMAL(18,9); one
    # double division + sqrt at the end
    mi_t = "CAST(ROUND(CAST(nij AS DOUBLE) / n * ln(CAST(nij * n AS DOUBLE) / (ni * nj)), 9) AS DECIMAL(18,9))"
    hc_t = "CAST(ROUND(-CAST(ni AS DOUBLE) / n * ln(CAST(ni AS DOUBLE) / n), 9) AS DECIMAL(18,9))"
    hl_t = "CAST(ROUND(-CAST(nj AS DOUBLE) / n * ln(CAST(nj AS DOUBLE) / n), 9) AS DECIMAL(18,9))"
    return f"""
WITH {_km_ctes()},
ct AS (
  SELECT a2.cid, emb.label, COUNT(*) AS nij
  FROM a2 JOIN embeddings emb ON a2.vec_id = emb.vec_id
  GROUP BY a2.cid, emb.label
),
tot AS (SELECT SUM(nij) AS n FROM ct),
ci AS (SELECT cid, SUM(nij) AS ni FROM ct GROUP BY cid),
lj AS (SELECT label, SUM(nij) AS nj FROM ct GROUP BY label),
pur AS (SELECT SUM(mx) AS hits FROM (SELECT cid, MAX(nij) AS mx FROM ct GROUP BY cid)),
mi AS (
  SELECT SUM({mi_t}) AS i_cl
  FROM ct JOIN ci USING (cid) JOIN lj USING (label) CROSS JOIN tot
),
hc AS (SELECT SUM({hc_t}) AS h_c FROM ci CROSS JOIN tot),
hl AS (SELECT SUM({hl_t}) AS h_l FROM lj CROSS JOIN tot)
SELECT CAST(tot.n AS BIGINT) AS n_points,
       CAST((SELECT COUNT(*) FROM ci) AS BIGINT) AS n_clusters,
       CAST((SELECT COUNT(*) FROM lj) AS BIGINT) AS n_labels,
       CAST(pur.hits * 10000 // tot.n AS BIGINT) AS purity_bps,
       ROUND(CAST(mi.i_cl AS DOUBLE) / sqrt(CAST(hc.h_c AS DOUBLE) * CAST(hl.h_l AS DOUBLE)), 4) AS nmi
FROM tot CROSS JOIN pur CROSS JOIN mi CROSS JOIN hc CROSS JOIN hl
"""


@register(
    "label_purity",
    oracle=_label_purity_oracle(),
    doc=(
        "External clustering eval: purity and normalized mutual "
        "information of the LEARNED k-means clusters against the "
        "given embedding labels — the companion to topic_coherence's "
        "intrinsic eval (high coherence + low NMI = consistent but "
        "wrong clusters; SURVEY §2.F). The contingency table is one "
        "map-side-combined (cid, label) aggregate, K x |labels| rows; "
        "every downstream marginal, entropy and MI term runs over "
        "that tiny table with each ln term pre-rounded to "
        "DECIMAL(18,9) before its sum (order-insensitive), purity in "
        "exact integer bps, and ONE double division + sqrt at the "
        "end."
    ),
)
def label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    assign = _km_assign(emb, _km_train(emb)).select("vec_id", "cid")
    ct = (
        assign.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cid", "label")
        .agg(F.count("*").alias("nij"))
    )
    # all marginals as windows over the K x |labels| contingency table
    n = F.sum("nij").over(Window.partitionBy())
    ni = F.sum("nij").over(Window.partitionBy("cid"))
    nj = F.sum("nij").over(Window.partitionBy("label"))
    mx = F.max("nij").over(Window.partitionBy("cid"))
    t = ct.select(
        "cid", "label", "nij",
        n.alias("n"), ni.alias("ni"), nj.alias("nj"), mx.alias("mx"),
    )
    mi_t = F.round(
        F.col("nij").cast("double") / F.col("n")
        * F.log((F.col("nij") * F.col("n")).cast("double") / (F.col("ni") * F.col("nj"))),
        9,
    ).cast("decimal(18,9)")
    # entropy terms fold once per cluster/label: take the first row of
    # each partition so sums see each marginal exactly once
    rn_c = F.row_number().over(Window.partitionBy("cid").orderBy("label"))
    rn_l = F.row_number().over(Window.partitionBy("label").orderBy("cid"))
    hc_t = F.round(
        -F.col("ni").cast("double") / F.col("n")
        * F.log(F.col("ni").cast("double") / F.col("n")),
        9,
    ).cast("decimal(18,9)")
    hl_t = F.round(
        -F.col("nj").cast("double") / F.col("n")
        * F.log(F.col("nj").cast("double") / F.col("n")),
        9,
    ).cast("decimal(18,9)")
    agg = (
        t.withColumn("rn_c", rn_c)
        .withColumn("rn_l", rn_l)
        .agg(
            F.max("n").alias("n"),
            F.sum(F.when(F.col("rn_c") == 1, 1).otherwise(0)).alias("n_clusters"),
            F.sum(F.when(F.col("rn_l") == 1, 1).otherwise(0)).alias("n_labels"),
            F.sum(F.when(F.col("rn_c") == 1, F.col("mx")).otherwise(0)).alias("hits"),
            F.sum(mi_t).alias("i_cl"),
            F.sum(F.when(F.col("rn_c") == 1, hc_t)).alias("h_c"),
            F.sum(F.when(F.col("rn_l") == 1, hl_t)).alias("h_l"),
        )
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_points"),
        F.col("n_clusters").cast("bigint").alias("n_clusters"),
        F.col("n_labels").cast("bigint").alias("n_labels"),
        F.expr("hits * 10000 div n").cast("bigint").alias("purity_bps"),
        F.round(
            F.col("i_cl").cast("double")
            / F.sqrt(F.col("h_c").cast("double") * F.col("h_l").cast("double")),
            4,
        ).alias("nmi"),
    )


INT8_NQ = 5      # query batch (vec_id < INT8_NQ), the PQ_NQ convention
INT8_CAND = 30   # int8-dot candidate depth before exact rescore
INT8_TOPK = 10

_VM_SQL = "CAST(CAST(ROUND(CAST(embedding[u.i] AS DOUBLE), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)"


def _ann_int8_oracle() -> str:
    cos = duckdb_cosine("a.embedding", "b.embedding")
    return f"""
WITH d AS (
  SELECT vec_id, u.i - 1 AS dim, {_VM_SQL} AS vm
  FROM embeddings, UNNEST(range(1, {EMB_DIM} + 1)) AS u(i)
),
mx AS (SELECT dim, MAX(ABS(vm)) AS am FROM d GROUP BY dim),
codes AS (
  SELECT vec_id, d.dim,
         CASE WHEN mx.am = 0 THEN 0
              ELSE (CASE WHEN vm >= 0 THEN 1 ELSE -1 END) * (ABS(vm) * 127 // mx.am)
         END AS code
  FROM d JOIN mx ON d.dim = mx.dim
),
qd AS (SELECT vec_id AS qid, dim, code AS qc FROM codes WHERE vec_id < {INT8_NQ}),
dots AS (
  SELECT q.qid, c.vec_id, SUM(c.code * q.qc) AS dot8
  FROM codes c JOIN qd q ON c.dim = q.dim
  WHERE c.vec_id <> q.qid
  GROUP BY q.qid, c.vec_id
),
cand AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot8 DESC, vec_id) AS rn
    FROM dots
  ) WHERE rn <= {INT8_CAND}
),
res AS (
  SELECT cand.qid AS query_id, cand.vec_id, {cos} AS cos_sim
  FROM cand
  JOIN embeddings a ON cand.qid = a.vec_id
  JOIN embeddings b ON cand.vec_id = b.vec_id
)
SELECT query_id, vec_id, cos_sim FROM (
  SELECT query_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
  FROM res
) WHERE rn <= {INT8_TOPK} ORDER BY query_id, vec_id
""" 


@register(
    "ann_int8",
    oracle=_ann_int8_oracle(),
    doc=(
        "Int8-quantized ANN: the corpus scored from symmetric per-dim "
        "int8 codes (the int8_quant_report quantizer — absmax scale, "
        "truncating 127-level, pure integer), top-30 candidates per "
        "query by the EXACT-INTEGER code dot product, then exact "
        "cosine rescore to the top-10 — the 4x-compression serving "
        "path between full-precision brute force and PQ's 32x "
        "(SURVEY §2.F). Per-dim scales and the 5-query code batch are "
        "bounded plan constants (the kmeans_codebook collect "
        "convention); corpus scoring is ONE JVM map pass "
        "(zip_with/aggregate over the code array, no Python, no "
        "shuffle), the candidate cut is a per-query window over the "
        "5xN dot rows, and the rescore touches <=150 candidate "
        "vectors. Integer dots are bit-identical across engines, so "
        "the candidate set — not just the final ranking — is "
        "oracle-pinned."
    ),
)
def ann_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))

    # per-dim absmax micro-units: 64 values, collected as plan
    # constants (bounded, the codebook convention)
    vm = (F.round(F.col("x").cast("double"), 6).cast("decimal(18,6)") * 1000000).cast("bigint")
    mx_rows = (
        emb.select(F.posexplode("embedding").alias("dim", "x"))
        .select("dim", F.abs(vm).alias("am"))
        .groupBy("dim")
        .agg(F.max("am").alias("am"))
        .orderBy("dim")
        .collect()
    )
    am = [int(r["am"]) for r in mx_rows]

    # corpus codes: one JVM element-wise pass, no shuffle
    am_arr = "array(" + ", ".join(f"{v}L" for v in am) + ")"
    code_expr = (
        f"zip_with(embedding, {am_arr}, (x, am) -> CASE WHEN am = 0 THEN 0L "
        "ELSE (CASE WHEN x >= 0 THEN 1L ELSE -1L END) * "
        "(abs(CAST(CAST(ROUND(CAST(x AS DOUBLE), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)) "
        "* 127 div am) END)"
    )
    coded = emb.select("vec_id", "embedding", F.expr(code_expr).alias("codes"))

    # query codes driver-side from the collected query embeddings
    # (5 rows — plan constants), same integer arithmetic
    from decimal import ROUND_HALF_UP, Decimal

    qrows = (
        emb.where(F.col("vec_id") < INT8_NQ)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )

    def q_codes(vec):
        out = []
        for x, a in zip(vec, am):
            v = int(
                (Decimal(repr(round(float(x), 6))) * 1000000).quantize(
                    Decimal("1"), rounding=ROUND_HALF_UP
                )
            )
            out.append(0 if a == 0 else (1 if v >= 0 else -1) * (abs(v) * 127 // a))
        return out

    per_q = []
    for qr in qrows:
        qc = q_codes(qr["embedding"])
        qc_arr = "array(" + ", ".join(f"{c}L" for c in qc) + ")"
        per_q.append(
            F.struct(
                F.lit(int(qr["vec_id"])).alias("qid"),
                F.expr(
                    f"aggregate(zip_with(codes, {qc_arr}, (c, qc) -> c * qc), 0L, (acc, x) -> acc + x)"
                ).alias("dot8"),
            )
        )

    dots = (
        coded.select("vec_id", F.explode(F.array(*per_q)).alias("q"))
        .select(F.col("q.qid").alias("qid"), "vec_id", F.col("q.dot8").alias("dot8"))
        .where(F.col("vec_id") != F.col("qid"))
    )
    wc = Window.partitionBy("qid").orderBy(F.desc("dot8"), "vec_id")
    cand = (
        dots.withColumn("rn", F.row_number().over(wc))
        .where(F.col("rn") <= INT8_CAND)
        .select("qid", "vec_id")
    )

    qe = emb.where(F.col("vec_id") < INT8_NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    # the candidate set is NQ×INT8_CAND (bounded), but carries no
    # broadcast hint by convention — no pair/candidate stream does
    # (see _lsh_verified_pairs); AQE broadcasts it at runtime anyway
    res = (
        cand
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qe), "qid")
        .select(
            F.col("qid").alias("query_id"),
            "vec_id",
            cosine_rounded(F.col("embedding"), F.col("qvec")).alias("cos_sim"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        res.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= INT8_TOPK)
        .select("query_id", "vec_id", "cos_sim")
        .orderBy("query_id", "vec_id")
    )


_TIDX_TOP = 15


@register(
    "text_index_stats",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
nn AS (SELECT COUNT(*) AS n_total FROM tok),
p AS (
  SELECT doc_id, tok AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, UNNEST(toks) AS tok FROM tok)
  GROUP BY doc_id, tok
),
s AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS cf
  FROM p GROUP BY term
)
SELECT term, df, cf,
       CAST(df * 10000 // nn.n_total AS BIGINT) AS doc_share_bps
FROM s CROSS JOIN nn
ORDER BY df DESC, term LIMIT {_TIDX_TOP}
""",
    doc=(
        "Posting-list health check of the PERSISTED full-text index "
        "(the GIN-index maintenance view, init_db.sql:59-67 — "
        "ann_index_stats' lexical twin): the top-15 heaviest terms by "
        "document frequency with collection frequency and corpus "
        "share in exact bps, READ FROM the stored postings table "
        "(build_text_index) and its 1-row stats table, while the "
        "oracle derives the same numbers from the raw corpus — so "
        "the gate verifies INDEX INTEGRITY end to end: a stale, "
        "truncated, or double-written index diverges immediately "
        "(SURVEY §2.C). Heavy posting lists are the stopword/bucket-"
        "skew candidates that decide the df-cap and bucket count at "
        "scale. One map-side-combined rollup over stored postings; "
        "the corpus is never re-tokenized."
    ),
)
def text_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    index_dir = build_text_index(spark, sf_dir)
    post = open_parquet(spark, os.path.join(index_dir, "postings"))
    stats1 = open_parquet(spark, os.path.join(index_dir, "stats"))
    s = post.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("cf"),
    )
    return (
        s.crossJoin(F.broadcast(stats1.select("n_total")))
        .select("term", "df", "cf", F.expr("df * 10000 div n_total").cast("bigint").alias("doc_share_bps"))
        .orderBy(F.desc("df"), "term")
        .limit(_TIDX_TOP)
    )


_PJH_SHIFT = 10_000_000  # micro-unit shift keeps bins non-negative
_PJH_STEP = 100_000      # 0.1-unit histogram bins


@register(
    "pca_projection_hist",
    oracle=f"""
WITH l AS ({_pca_oracle()}),
d AS (
  SELECT vec_id, u.i AS dim, embedding[u.i] AS x
  FROM embeddings, UNNEST(range(1, {EMB_DIM} + 1)) AS u(i)
),
p AS (
  SELECT d.vec_id,
         CAST(ROUND(CAST(d.x AS DOUBLE) * l.loading * 1000000, 0) AS BIGINT) AS pm
  FROM d JOIN l ON d.dim = l.dim
),
t AS (SELECT vec_id, SUM(pm) AS tm FROM p GROUP BY vec_id),
h AS (SELECT (tm + {_PJH_SHIFT}) // {_PJH_STEP} AS bin, tm FROM t)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(tm) AS BIGINT) AS min_proj_micro,
       CAST(MAX(tm) AS BIGINT) AS max_proj_micro
FROM h GROUP BY bin ORDER BY bin
""",
    doc=(
        "Distribution of the embedding cloud along its LEARNED top "
        "principal direction (pca_power_top1's loadings collected as "
        "the bounded 64-value plan constant): 0.1-unit projection "
        "histogram — a bimodal shape flags a dominant cluster split "
        "the per-axis views (emb_dim_variance) cannot see, the "
        "one-dimensional health check before trusting IVF/PQ training "
        "on the cloud (SURVEY §2.F). Per-(vector, dim) products are "
        "rounded to integer micro-units BEFORE the per-vector sum, so "
        "the projection is an order-insensitive integer aggregate "
        "(no float fold order anywhere); binning uses the shifted "
        "non-negative div trick. One posexplode pass + one "
        "map-side-combined rollup."
    ),
)
def pca_projection_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    # memoized loading-vector literal (r10): collecting pca_power_top1
    # re-ran its whole two-pass power iteration per call, plus 64
    # element-wise F.lit py4j round-trips — the trained axis is a
    # plan constant per corpus (the pca_top2_state / pq-books class)
    # the cached value is the PLAIN FLOAT LIST, not the built Column: a
    # py4j-backed Column dangles if the JVM gateway restarts within the
    # process, while list values are driver-side only and the F.expr
    # construction from them is cheap (ADVICE r10)
    vals = memo(
        spark, "pca1_loadings", sf_dir,
        build=lambda: [
            float(r["loading"]) for r in pca_power_top1(spark, sf_dir).orderBy("dim").collect()
        ],
    )
    arr = F.expr("array(" + ",".join(f"{v!r}D" for v in vals) + ")")
    p = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "vec_id",
        F.round(
            F.col("x").cast("double") * F.element_at(arr, F.col("pos") + 1) * 1000000, 0
        )
        .cast("bigint")
        .alias("pm"),
    )
    t = p.groupBy("vec_id").agg(F.sum("pm").alias("tm"))
    h = t.select(F.expr(f"(tm + {_PJH_SHIFT}) div {_PJH_STEP}").alias("bin"), "tm")
    return (
        h.groupBy(F.col("bin").cast("bigint").alias("bin"))
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.min("tm").cast("bigint").alias("min_proj_micro"),
            F.max("tm").cast("bigint").alias("max_proj_micro"),
        )
        .orderBy("bin")
    )


def _linear_probe_oracle() -> str:
    return f"""
WITH e AS (
  SELECT embedding, CASE WHEN label % 2 = 0 THEN 1.0 ELSE 0.0 END AS y
  FROM embeddings
),
g1 AS (
  SELECT d.i AS dim,
         SUM(CAST(ROUND((0.5 - y) * CAST(embedding[d.i] AS DOUBLE), 6) AS DECIMAL(18,6))) AS g
  FROM e CROSS JOIN UNNEST(range(1, {EMB_DIM} + 1)) AS d(i) GROUP BY d.i
),
w1 AS (SELECT list(CAST(g * -0.001 AS DOUBLE) ORDER BY dim) AS w FROM g1),
g1b AS (SELECT SUM(CAST(ROUND(0.5 - y, 6) AS DECIMAL(18,6))) AS g FROM e),
w1b AS (SELECT CAST(g * -0.001 AS DOUBLE) AS wb FROM g1b),
m AS (
  SELECT e.y, e.embedding,
         ROUND(list_reduce(list_prepend(0.0,
                 list_transform(range(1, {EMB_DIM} + 1),
                                i -> CAST(e.embedding[i] AS DOUBLE) * w1.w[i])),
               (a, b) -> a + b) + w1b.wb, 6) AS margin
  FROM e CROSS JOIN w1 CROSS JOIN w1b
),
pr AS (SELECT y, embedding, ROUND(1.0 / (1.0 + EXP(-margin)), 6) AS p FROM m),
g2 AS (
  SELECT d.i AS dim,
         SUM(CAST(ROUND((p - y) * CAST(embedding[d.i] AS DOUBLE), 6) AS DECIMAL(18,6))) AS g
  FROM pr CROSS JOIN UNNEST(range(1, {EMB_DIM} + 1)) AS d(i) GROUP BY d.i
),
g2b AS (SELECT SUM(CAST(ROUND(p - y, 6) AS DECIMAL(18,6))) AS g FROM pr)
SELECT CAST(0 AS BIGINT) AS dim,
       CAST(-(g1b.g + g2b.g) * 1000000 AS BIGINT) AS weight_e9
FROM g1b CROSS JOIN g2b
UNION ALL
SELECT CAST(g2.dim AS BIGINT) AS dim,
       CAST(-(g1.g + g2.g) * 1000000 AS BIGINT) AS weight_e9
FROM g2 JOIN g1 USING (dim)
ORDER BY dim
"""


@register(
    "linear_probe",
    oracle=_linear_probe_oracle(),
    doc=(
        "Linear probe over the frozen embedding space: train a "
        "logistic-regression head (is the label even?) with two "
        "unrolled batch-gradient epochs and report the 65 learned "
        "weights (bias + one per dimension) — the standard cheap test "
        "of how linearly separable a label is in an embedding space "
        "before paying for a finetune. Distribution shape is the "
        "MLlib one (and pca_power_top1's): each epoch is one "
        "broadcast-weights map pass + a per-dimension partial "
        "aggregate; only the 65-value weight vector ever crosses the "
        "driver between epochs. Epoch 1 starts at w=0 so sigmoid(0) "
        "is exactly 0.5; every gradient term is rounded to "
        "DECIMAL(18,6) before summation (order-insensitive at any "
        "parallelism), weight updates are exact decimal multiplies "
        "(g * -0.001), and epoch-2 margins round to 6 dp before the "
        "sigmoid so both engines fold identical doubles in identical "
        "order; the final weights ship as EXACT integer e9 units "
        "(weight_e9 = -10^6*(g1+g2) off the DECIMAL(18,6) gradients — "
        "no double output; the r9 ks_stat red proved shared IEEE op "
        "trees are not env-stable) (SURVEY §2.F)."
    ),
)
def linear_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    y = F.when(F.col("label") % 2 == 0, F.lit(1.0)).otherwise(F.lit(0.0))

    # epoch 1: w = 0 -> p = 0.5 exactly; gradient in exact decimal
    flat1 = emb.select(F.posexplode("embedding").alias("pos", "x"), y.alias("y"))
    g1 = (
        flat1.groupBy("pos")
        .agg(
            F.sum(
                F.round((F.lit(0.5) - F.col("y")) * F.col("x").cast("double"), 6).cast(
                    "decimal(18,6)"
                )
            ).alias("g")
        )
        .select(
            "pos",
            F.expr("CAST(g * -0.001 AS DOUBLE)").alias("w"),
            # exact integer micro-units of the epoch-1 gradient — the
            # output weights are the exact decimal -0.001*(g1+g2), so
            # they ship as integer e9 units off these
            F.expr("CAST(g * 1000000 AS BIGINT)").alias("g_micro"),
        )
        .orderBy("pos")
    )
    # bounded collects: the 65-value weight vector is the only thing
    # that crosses the driver between epochs (the pca/kmeans shape)
    g1_rows = g1.collect()
    w1 = [float(r["w"]) for r in g1_rows]
    g1_micro = [int(r["g_micro"]) for r in g1_rows]
    g1b_row = (
        emb.select(F.sum(F.round(F.lit(0.5) - y, 6).cast("decimal(18,6)")).alias("g"))
        .select(
            F.expr("CAST(g * -0.001 AS DOUBLE)").alias("wb"),
            F.expr("CAST(g * 1000000 AS BIGINT)").alias("g_micro"),
        )
        .first()
    )
    w1b = float(g1b_row["wb"])
    g1b_micro = int(g1b_row["g_micro"])

    # epoch 2: broadcast weights as plan constants; sequential-fold
    # margin (identical order to the oracle's list_reduce), 6-dp
    # rounding before the sigmoid pins the transcendental's input
    w1lit = F.expr("array(" + ",".join(f"{w!r}D" for w in w1) + ")")
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), w1lit, lambda x, w: x.cast("double") * w),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    margin = F.round(dot + F.lit(w1b), 6)
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)), 6)
    e2 = emb.select("embedding", y.alias("y"), p.alias("p"))
    flat2 = e2.select(F.posexplode("embedding").alias("pos", "x"), "y", "p")
    g2 = flat2.groupBy("pos").agg(
        F.sum(
            F.round((F.col("p") - F.col("y")) * F.col("x").cast("double"), 6).cast(
                "decimal(18,6)"
            )
        ).alias("g")
    )
    # weights ship as EXACT integer e9 units: weight = -0.001*(g1+g2)
    # over DECIMAL(18,6) gradients is the exact integer -(G1+G2) in
    # micro-gradient units x 10^3 precision, i.e. weight_e9 =
    # -10^6*(g1+g2) — no double output (the r9 ks_stat red proved
    # shared IEEE op trees are not env-stable as outputs)
    g1lit = F.expr(
        "array(" + ",".join(f"{g}L" for g in g1_micro) + ")"
    )
    dims = g2.select(
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        (
            -(
                F.element_at(g1lit, (F.col("pos") + 1).cast("int"))
                + F.expr("CAST(g * 1000000 AS BIGINT)")
            )
        )
        .cast("bigint")
        .alias("weight_e9"),
    )
    bias = (
        e2.select(F.sum(F.round(F.col("p") - F.col("y"), 6).cast("decimal(18,6)")).alias("g"))
        .select(
            F.lit(0).cast("bigint").alias("dim"),
            (-(F.lit(g1b_micro) + F.expr("CAST(g * 1000000 AS BIGINT)")))
            .cast("bigint")
            .alias("weight_e9"),
        )
    )
    return bias.unionAll(dims).orderBy("dim")


# Matryoshka-style dimension ablation: how much recall@10 survives
# truncating embeddings to their first d dims (the MRL deployment
# question: can the ANN index store 8/16/32 of 64 dims?)
ABLATION_DIMS = (8, 16, 32, 64)
ABLATION_K = 10
ABLATION_QUERIES = 5  # vec_id < 5, the ann_recall_eval convention


def _dim_ablation_oracle() -> str:
    a, b = "(e.embedding[1:dd.d])", "(q.qvec[1:dd.d])"
    values = ",".join(f"({d})" for d in ABLATION_DIMS)
    denom = ABLATION_QUERIES * ABLATION_K
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
           WHERE vec_id < {ABLATION_QUERIES}),
dims AS (SELECT * FROM (VALUES {values}) dd(d)),
scored AS (
  SELECT dd.d AS dims, q.query_id, e.vec_id,
         ROW_NUMBER() OVER (
           PARTITION BY dd.d, q.query_id
           ORDER BY {duckdb_cosine(a, b)} DESC, e.vec_id
         ) AS rn
  FROM embeddings e CROSS JOIN q CROSS JOIN dims dd
  WHERE e.vec_id <> q.query_id
),
topk AS (SELECT dims, query_id, vec_id FROM scored WHERE rn <= {ABLATION_K}),
truth AS (SELECT query_id, vec_id FROM topk WHERE dims = {max(ABLATION_DIMS)}),
hits AS (
  SELECT t.dims, COUNT(c.vec_id) AS n_hits
  FROM topk t JOIN truth c ON t.query_id = c.query_id AND t.vec_id = c.vec_id
  GROUP BY t.dims
)
SELECT CAST(dims AS BIGINT) AS dims,
       CAST(n_hits AS BIGINT) AS n_hits,
       CAST(n_hits * 10000 // {denom} AS BIGINT) AS recall_bps
FROM hits ORDER BY dims
"""


@register(
    "dim_ablation_recall",
    oracle=_dim_ablation_oracle(),
    doc=(
        "Matryoshka-style dimension-ablation recall curve (SURVEY "
        "§2.F): recall@10 of brute-force search using only the first "
        "8/16/32/64 dims of each embedding, against the full-width "
        "ground truth — the measurement that decides whether the ANN "
        "index can store truncated vectors (MRL, Kusupati et al. "
        "2022). Re-expresses the reference's pgvector full-width scan "
        "(src/database.py:168-184) as a width-sweep eval. The 5 query "
        "vectors and the 4 widths are broadcast (5- and 4-row "
        "dimension tables); each candidate row is scanned ONCE and "
        "scored at all widths via a prefix slice of the same array — "
        "no per-width rescan. The full-width row anchors the gate at "
        "recall_bps = 10000 by construction; eval harness shape "
        "(bounded queries x corpus), sample queries at cluster scale."
    ),
)
def dim_ablation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < ABLATION_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    dims = spark.range(1).select(
        F.explode(F.array(*[F.lit(d) for d in ABLATION_DIMS])).alias("dims")
    )
    pairs = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .crossJoin(F.broadcast(dims))
    )
    scored = pairs.select(
        "dims",
        "query_id",
        "vec_id",
        cosine_rounded(
            F.slice("embedding", F.lit(1), F.col("dims")),
            F.slice("qvec", F.lit(1), F.col("dims")),
        ).alias("sim"),
    )
    w = Window.partitionBy("dims", "query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    topk = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= ABLATION_K)
        .select("dims", "query_id", "vec_id")
        # truth is a filter of topk: checkpoint the <= |dims|*q*k rows
        # so the scoring pipeline runs ONCE, not once per branch
        # (kmeans_codebook convention)
        .localCheckpoint(eager=True)
    )
    truth = topk.where(F.col("dims") == max(ABLATION_DIMS)).select(
        F.col("query_id").alias("tq"), F.col("vec_id").alias("tv")
    )
    hits = (
        topk.join(
            F.broadcast(truth),
            (F.col("query_id") == F.col("tq")) & (F.col("vec_id") == F.col("tv")),
        )
        .groupBy("dims")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )
    denom = ABLATION_QUERIES * ABLATION_K
    return hits.select(
        F.col("dims").cast("bigint").alias("dims"),
        "n_hits",
        F.expr(f"n_hits * 10000 div {denom}").cast("bigint").alias("recall_bps"),
    ).orderBy("dims")


AC_MAX_PLEN = 3
AC_TOPK = 3


@register(
    "query_autocomplete",
    oracle=f"""
WITH t AS (
  SELECT unnest(list_filter(str_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM documents
),
c AS (SELECT term, COUNT(*) AS n FROM t GROUP BY term),
p AS (
  SELECT v.plen, substr(c.term, 1, v.plen) AS prefix, c.term, c.n
  FROM c CROSS JOIN (VALUES (1),(2),(3)) v(plen)
  WHERE length(c.term) > v.plen
),
r AS (
  SELECT plen, prefix, term, n,
         ROW_NUMBER() OVER (PARTITION BY plen, prefix ORDER BY n DESC, term) AS rank
  FROM p
)
SELECT CAST(plen AS BIGINT) AS plen, prefix, CAST(rank AS BIGINT) AS rank, term,
       CAST(n AS BIGINT) AS n
FROM r WHERE rank <= {AC_TOPK} ORDER BY plen, prefix, rank
""",
    doc=(
        "Prefix -> top-3 completion table for search-box typeahead "
        "(SURVEY §2.C — the suggest surface next to the reference's "
        "search endpoints, src/api/server.py:118-507). The corpus is "
        "touched ONCE (tokenize + term-count shuffle); prefix "
        "generation, ranking and the suggest table itself are all "
        "vocabulary-sized (the 3-row prefix-length table is broadcast "
        "into the expansion, deterministic frequency-then-lexical "
        "tie-break). At cluster scale the vocab table is the thing "
        "you persist: rebuild per corpus snapshot, serve from the "
        "sorted (plen, prefix, rank) layout this query emits."
    ),
)
def query_autocomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    c = t.groupBy("term").agg(F.count("*").alias("n"))
    plens = spark.range(1).select(
        F.explode(F.array(*[F.lit(i) for i in range(1, AC_MAX_PLEN + 1)])).alias("plen")
    )
    p = (
        c.crossJoin(F.broadcast(plens))
        .where(F.length("term") > F.col("plen"))
        .select("plen", F.expr("substr(term, 1, plen)").alias("prefix"), "term", "n")
    )
    w = Window.partitionBy("plen", "prefix").orderBy(F.desc("n"), F.asc("term"))
    return (
        p.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= AC_TOPK)
        .select(
            F.col("plen").cast("bigint").alias("plen"),
            "prefix",
            F.col("rank").cast("bigint").alias("rank"),
            "term",
            F.col("n").cast("bigint").alias("n"),
        )
        .orderBy("plen", "prefix", "rank")
    )


SNIPPET_WIN = 8  # tokens per highlight window
SNIPPET_DOCS = 10


@register(
    "search_snippets",
    oracle=f"""
WITH t AS (
  SELECT doc_id, list_filter(str_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
pos AS (
  SELECT doc_id, toks, u.i,
         CASE WHEN toks[u.i] IN ({", ".join(f"'{t}'" for t in QUERY_TERMS)}) THEN 1 ELSE 0 END AS hit
  FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)
),
scored AS (
  SELECT doc_id, toks, i,
         SUM(hit) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN CURRENT ROW AND {SNIPPET_WIN - 1} FOLLOWING) AS wscore,
         SUM(hit) OVER (PARTITION BY doc_id) AS total_hits
  FROM pos
),
best AS (
  SELECT doc_id, toks, i, wscore, total_hits,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wscore DESC, i) AS rn
  FROM scored
),
top_docs AS (
  SELECT doc_id, toks, i, wscore, total_hits,
         ROW_NUMBER() OVER (ORDER BY total_hits DESC, doc_id) AS drank
  FROM best WHERE rn = 1 AND total_hits > 0
)
SELECT CAST(drank AS BIGINT) AS drank, doc_id,
       CAST(total_hits AS BIGINT) AS total_hits,
       CAST(wscore AS BIGINT) AS window_hits,
       array_to_string(toks[i:i + {SNIPPET_WIN - 1}], ' ') AS snippet
FROM top_docs WHERE drank <= {SNIPPET_DOCS} ORDER BY drank
""",
    doc=(
        "Result-snippet extraction (Postgres ts_headline analog — the "
        "reference renders search hits through FTS, "
        "scripts/init_db.sql:59-67): for the top-10 docs by query-term "
        "hits, the 8-token window with the most hits (earliest on "
        "ties) becomes the highlight snippet. One tokenize+posexplode "
        "pass; per-doc sliding-window scoring and best-window pick "
        "share ONE doc-partitioned sort; doc ranking is a distributed "
        "top-k (TakeOrderedAndProject) — the global row_number runs "
        "on the 10 survivors only, never the corpus."
    ),
)
def search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    pos = t.select("doc_id", "toks", F.posexplode("toks").alias("p", "tok")).select(
        "doc_id",
        "toks",
        (F.col("p") + 1).alias("i"),
        F.when(F.col("tok").isin(*QUERY_TERMS), 1).otherwise(0).alias("hit"),
    )
    wd = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, SNIPPET_WIN - 1)
    wt = Window.partitionBy("doc_id")
    scored = pos.select(
        "doc_id",
        "toks",
        "i",
        F.sum("hit").over(wd).alias("wscore"),
        F.sum("hit").over(wt).alias("total_hits"),
    )
    wb = Window.partitionBy("doc_id").orderBy(F.desc("wscore"), F.asc("i"))
    best = scored.withColumn("rn", F.row_number().over(wb)).where(
        (F.col("rn") == 1) & (F.col("total_hits") > 0)
    )
    # distributed top-k first; the unpartitioned rank window then only
    # ever sees SNIPPET_DOCS rows
    top = best.orderBy(F.desc("total_hits"), F.asc("doc_id")).limit(SNIPPET_DOCS)
    wr = Window.orderBy(F.desc("total_hits"), F.asc("doc_id"))
    return (
        top.withColumn("drank", F.row_number().over(wr))
        .select(
            F.col("drank").cast("bigint").alias("drank"),
            "doc_id",
            F.col("total_hits").cast("bigint").alias("total_hits"),
            F.col("wscore").cast("bigint").alias("window_hits"),
            F.concat_ws(" ", F.slice("toks", F.col("i"), F.lit(SNIPPET_WIN))).alias("snippet"),
        )
        .orderBy("drank")
    )


def _probe_calibration_oracle() -> str:
    lp = _linear_probe_oracle()
    return f"""
WITH lp AS MATERIALIZED (SELECT * FROM ({lp})),
wv AS (SELECT list(CAST(weight_e9 AS DOUBLE) / 1000000000.0 ORDER BY dim) AS w
       FROM lp WHERE dim >= 1),
wb AS (SELECT CAST(weight_e9 AS DOUBLE) / 1000000000.0 AS b FROM lp WHERE dim = 0),
e AS (
  SELECT embedding, CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END AS y
  FROM embeddings
),
m AS (
  SELECT e.y,
         ROUND(list_reduce(list_prepend(0.0,
                 list_transform(range(1, {EMB_DIM} + 1),
                                i -> CAST(e.embedding[i] AS DOUBLE) * wv.w[i])),
               (a, b) -> a + b) + wb.b, 6) AS margin
  FROM e CROSS JOIN wv CROSS JOIN wb
),
pr AS (
  SELECT y, ROUND(1.0 / (1.0 + EXP(-margin)), 6) AS p FROM m
),
bins AS (
  SELECT LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9) AS bin,
         y, CAST(p AS DECIMAL(18,6)) AS pd
  FROM pr
)
SELECT bin,
       COUNT(*) AS n,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM(y) * 10000 // COUNT(*) AS BIGINT) AS acc_bps,
       ROUND(CAST(SUM(pd) AS DOUBLE) / COUNT(*), 6) AS conf
FROM bins GROUP BY bin ORDER BY bin
"""


@register(
    "probe_calibration",
    oracle=_probe_calibration_oracle(),
    doc=(
        "Reliability diagram of the trained linear probe: score every "
        "vector with the probe's FINAL weights (the 65-value vector "
        "linear_probe trains — collected as plan constants, the "
        "kmeans/pca convention), bucket predictions into 10 "
        "confidence bins, and report per-bin empirical accuracy vs "
        "mean confidence — the calibration check (Guo et al. 2017) "
        "run before anyone thresholds a classifier's probabilities "
        "for filtering decisions; the |acc − conf| gaps are the ECE "
        "terms. Determinism: margins use the SAME sequential fold + "
        "6-dp pre-sigmoid rounding as the probe's epoch 2, "
        "probabilities are 6-dp before both binning and the "
        "DECIMAL(18,6) confidence sums, and accuracy is exact integer "
        "bps. Shape: one broadcast-weights map pass + one 10-group "
        "aggregate (SURVEY §2.F)."
    ),
)
def probe_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    wrows = linear_probe(spark, sf_dir).orderBy("dim").collect()
    # weight doubles reconstructed from the exact e9 integers with ONE
    # correctly-rounded division — int→double is exact below 2^53, so
    # both engines land on the identical IEEE weight values
    bias = int(wrows[0]["weight_e9"]) / 1e9
    w = [int(r["weight_e9"]) / 1e9 for r in wrows[1:]]
    wlit = F.expr("array(" + ",".join(f"{v!r}D" for v in w) + ")")
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), wlit, lambda x, wv: x.cast("double") * wv),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    margin = F.round(dot + F.lit(bias), 6)
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)), 6)
    y = F.when(F.col("label") % 2 == 0, 1).otherwise(0)
    bins = emb.select(
        F.least(F.floor(p * 10), F.lit(9)).cast("bigint").alias("bin"),
        y.alias("y"),
        p.cast("decimal(18,6)").alias("pd"),
    )
    return (
        bins.groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.expr("sum(y) * 10000 div count(*)").cast("bigint").alias("acc_bps"),
            F.round(F.sum("pd").cast("double") / F.count("*"), 6).alias("conf"),
        )
        .orderBy("bin")
    )


@register(
    "label_noise_knn",
    oracle=f"""
WITH pairs AS (
  SELECT a.vec_id AS q, a.label AS lq, b.vec_id AS n, b.label AS ln_,
         {duckdb_cosine('a.embedding', 'b.embedding')} AS c
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
),
ranked AS (
  SELECT q, lq, ln_, ROW_NUMBER() OVER (PARTITION BY q ORDER BY c DESC, n) AS rk
  FROM pairs
),
votes AS (
  SELECT q, lq,
         SUM(CASE WHEN ln_ <> lq THEN 1 ELSE 0 END) AS n_diff
  FROM ranked WHERE rk <= {_KNN_K} GROUP BY q, lq
)
SELECT lq AS label,
       COUNT(*) AS n_vecs,
       CAST(SUM(CASE WHEN 2 * n_diff > {_KNN_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_suspect,
       CAST(SUM(CASE WHEN 2 * n_diff > {_KNN_K} THEN 1 ELSE 0 END) * 10000
            // COUNT(*) AS BIGINT) AS suspect_bps,
       CAST(SUM(n_diff) AS BIGINT) AS total_diff_votes
FROM votes GROUP BY lq ORDER BY lq
""",
    doc=(
        "Label-noise detection by neighbor vote (confident-learning "
        "lite, Northcutt et al. 2021's cheap precursor): a vector "
        "whose k nearest neighbors MAJORITY-disagree with its own "
        "label is a mislabel suspect — the curation gate run before "
        "training a classifier on harvested labels. Builds on "
        "knn_join's exact block-tiled top-k pair stream (O(P·k) "
        "shuffle rows per vector, no corpus broadcast — the pruned "
        "matmul is the candidate generator, exact-fold cosine the "
        "contract), then two key-equality label joins and an exact "
        "integer-bps rollup per label (SURVEY §2.F)."
    ),
)
def label_noise_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = _knn_pairs(spark, sf_dir).select("vec_id", "neighbor_id")
    lab_q = emb.select(F.col("vec_id"), F.col("label").alias("lq"))
    lab_n = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("ln_")
    )
    votes = (
        pairs.join(lab_q, "vec_id")
        .join(lab_n, "neighbor_id")
        .groupBy("vec_id", "lq")
        .agg(F.sum(F.when(F.col("ln_") != F.col("lq"), 1).otherwise(0)).alias("n_diff"))
    )
    suspect = F.when(2 * F.col("n_diff") > _KNN_K, 1).otherwise(0)
    return (
        votes.groupBy(F.col("lq").alias("label"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(suspect).cast("bigint").alias("n_suspect"),
            F.expr(f"sum(CASE WHEN 2 * n_diff > {_KNN_K} THEN 1 ELSE 0 END) * 10000"
                   " div count(*)")
            .cast("bigint")
            .alias("suspect_bps"),
            F.sum("n_diff").cast("bigint").alias("total_diff_votes"),
        )
        .orderBy("label")
    )


@register(
    "retrievability_audit",
    oracle=f"""
WITH tok AS (SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents),
d AS (
  SELECT t.doc_id, t.lang,
         (e.vec_id IS NOT NULL) AS sem_ok,
         ({_TERM_RANK_SQL} > 0) AS lex_ok
  FROM tok t LEFT JOIN embeddings e ON t.doc_id = e.vec_id
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN sem_ok THEN 1 ELSE 0 END) AS BIGINT) AS sem_reachable,
       CAST(SUM(CASE WHEN lex_ok THEN 1 ELSE 0 END) AS BIGINT) AS lex_reachable,
       CAST(SUM(CASE WHEN sem_ok OR lex_ok THEN 1 ELSE 0 END) AS BIGINT)
         AS any_reachable,
       CAST(SUM(CASE WHEN NOT sem_ok AND NOT lex_ok THEN 1 ELSE 0 END) AS BIGINT)
         AS unreachable,
       CAST(SUM(CASE WHEN sem_ok OR lex_ok THEN 1 ELSE 0 END) * 10000
            // COUNT(*) AS BIGINT) AS reachable_bps
FROM d GROUP BY lang ORDER BY lang
""",
    doc=(
        "Retrievability audit of the search surface: per language, "
        "how many documents EACH retrieval path can actually reach — "
        "semantic needs an embedding row (missing_embeddings' gap, "
        "here quantified per serving path), lexical needs a nonzero "
        "term-rank for the standing query vocabulary — and how many "
        "NO path can surface (the silent dark-corpus a search UI "
        "never shows; the operational question behind "
        "hybrid_search_rrf's universe bug in the round-3 advice). "
        "One left join on the id key + one map-side-combined rollup; "
        "exact integer bps (SURVEY §2.C)."
    ),
)
def retrievability_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), F.lit(True).alias("sem_ok")
    )
    rank = _term_rank(F.col("text"))
    d = docs.join(emb, "doc_id", "left").select(
        "lang",
        F.coalesce(F.col("sem_ok"), F.lit(False)).alias("sem_ok"),
        (rank > 0).alias("lex_ok"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("sem_ok"), 1).otherwise(0)).cast("bigint").alias("sem_reachable"),
            F.sum(F.when(F.col("lex_ok"), 1).otherwise(0)).cast("bigint").alias("lex_reachable"),
            F.sum(F.when(F.col("sem_ok") | F.col("lex_ok"), 1).otherwise(0))
            .cast("bigint")
            .alias("any_reachable"),
            F.sum(F.when(~F.col("sem_ok") & ~F.col("lex_ok"), 1).otherwise(0))
            .cast("bigint")
            .alias("unreachable"),
            F.expr(
                "sum(CASE WHEN sem_ok OR lex_ok THEN 1 ELSE 0 END) * 10000 div count(*)"
            )
            .cast("bigint")
            .alias("reachable_bps"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# score_rank_corr — how correlated are the hybrid legs?
# ---------------------------------------------------------------------------

_RC_SAMPLE_HI = "4"  # ~25% md5 doc sample (first hex digit < '4')


@register(
    "score_rank_corr",
    oracle=f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
u AS (
  SELECT d.doc_id, {_TOKS_SQL} AS toks, e.embedding
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE d.doc_id <> {QUERY_VEC_ID}
    AND substr(md5('rc:' || CAST(d.doc_id AS VARCHAR)), 1, 1) < '{_RC_SAMPLE_HI}'
),
sc AS (
  SELECT u.doc_id,
         {_COS.format(a="u.embedding", b="q.embedding")} AS sem,
         {_TERM_RANK_SQL} AS lex
  FROM u CROSS JOIN q
),
r AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY sem DESC, doc_id) AS r_sem,
         ROW_NUMBER() OVER (ORDER BY lex DESC, doc_id) AS r_lex
  FROM sc
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM((r_sem - r_lex) * (r_sem - r_lex)) AS BIGINT) AS sum_d2,
       1.0 - 6.0 * SUM((r_sem - r_lex) * (r_sem - r_lex))
           / (CAST(COUNT(*) AS DOUBLE) * (CAST(COUNT(*) AS DOUBLE) * COUNT(*) - 1)) AS spearman_rho,
       CAST(SUM(CASE WHEN r_sem <= 10 AND r_lex <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS top10_overlap
FROM r
""",
    doc=(
        "Spearman rank correlation between the two hybrid-search legs "
        "(semantic cosine vs lexical term rank) over the ranking "
        "universe — the diagnostic that says whether the 0.7/0.3 "
        "blend adds anything: rho near 1 means the legs agree and "
        "hybrid is redundant, rho near 0 means they surface DIFFERENT "
        "documents and fusion earns its keep; top-10 overlap gives "
        "the serving-page view of the same question. Both scores are "
        "the exact expressions the production queries use (rounded "
        "cosine, rounded term rank); ranks are deterministic total "
        "orders (score desc, doc_id); rho's 6Σd² numerator is pure "
        "integer. Runs on a deterministic ~25% md5 doc sample "
        "(embedding_sim_hist convention) because exact global ranks "
        "need a total order — tune the rate down as the corpus grows "
        "(SURVEY §2.C/§2.F)."
    ),
)
def score_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from email_etl_spark.functions.vectors import cosine_rounded

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qvec = _qvec_lit(spark, sf_dir)
    u = (
        docs.where(
            (F.col("doc_id") != QUERY_VEC_ID)
            & (
                F.substring(
                    F.md5(F.concat(F.lit("rc:"), F.col("doc_id").cast("string"))), 1, 1
                )
                < _RC_SAMPLE_HI
            )
        )
        .join(emb.withColumnRenamed("vec_id", "doc_id"), "doc_id")
    )
    sc = u.select(
        "doc_id",
        cosine_rounded(F.col("embedding"), qvec).alias("sem"),
        _term_rank(F.col("text")).alias("lex"),
    )
    r = sc.select(
        "doc_id",
        F.row_number().over(Window.orderBy(F.desc("sem"), "doc_id")).alias("r_sem"),
        F.row_number().over(Window.orderBy(F.desc("lex"), "doc_id")).alias("r_lex"),
    )
    # BIGINT cast BEFORE the multiply: two int32 row_numbers' product
    # silently wraps (non-ANSI) past ~46k sampled docs, diverging from
    # the DuckDB oracle's HUGEINT sum — same discipline as the rho
    # expression below.
    d2 = F.expr("CAST(r_sem - r_lex AS BIGINT) * (r_sem - r_lex)")
    return r.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(d2).cast("bigint").alias("sum_d2"),
        F.expr(
            "1.0 - 6.0 * SUM(CAST((r_sem - r_lex) AS BIGINT) * (r_sem - r_lex))"
            " / (CAST(COUNT(*) AS DOUBLE) * (CAST(COUNT(*) AS DOUBLE) * COUNT(*) - 1))"
        ).alias("spearman_rho"),
        F.sum(F.when((F.col("r_sem") <= 10) & (F.col("r_lex") <= 10), 1).otherwise(0))
        .cast("bigint")
        .alias("top10_overlap"),
    )


# ---------------------------------------------------------------------------
# interleaved_eval — balanced interleaving of the two search legs.
# ---------------------------------------------------------------------------


@register(
    "interleaved_eval",
    oracle=f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
u AS (
  SELECT d.doc_id, {_TOKS_SQL} AS toks, e.embedding
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE d.doc_id <> {QUERY_VEC_ID}
),
sc AS (
  SELECT u.doc_id,
         {_COS.format(a="u.embedding", b="q.embedding")} AS sem,
         {_TERM_RANK_SQL} AS lex
  FROM u CROSS JOIN q
),
ts AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sem DESC, doc_id) AS r
  FROM sc ORDER BY sem DESC, doc_id LIMIT 10
),
tl AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY lex DESC, doc_id) AS r
  FROM sc ORDER BY lex DESC, doc_id LIMIT 10
),
uni AS (
  SELECT doc_id, r * 2 AS k FROM ts
  UNION ALL SELECT doc_id, r * 2 + 1 FROM tl
),
kept AS (SELECT doc_id, MIN(k) AS k FROM uni GROUP BY doc_id),
final AS (SELECT doc_id, k FROM kept ORDER BY k LIMIT 10)
SELECT CAST(COUNT(*) AS BIGINT) AS n_final,
       CAST(SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS sem_credit,
       CAST(SUM(CASE WHEN k % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS lex_credit,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ts JOIN tl USING (doc_id)) AS n_overlap
FROM final
""",
    doc=(
        "Balanced interleaving of the semantic and lexical top-10 "
        "lists — the ONLINE-eval primitive behind interleaved A/B "
        "ranker tests (Joachims 2003 family): merge both rankings at "
        "alternating priority (sort key rank*2+team), dedupe keeping "
        "each doc's best slot, serve the first 10, and credit each "
        "slot to the leg that contributed it. A lopsided credit says "
        "one leg dominates the served page; n_overlap is the "
        "agreement mass. Both legs are corpus-wide "
        "TakeOrderedAndProject top-10s (never a global sort); the "
        "interleave itself runs on 20 rows (SURVEY §2.C)."
    ),
)
def interleaved_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from email_etl_spark.functions.vectors import cosine_rounded

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qvec = _qvec_list(spark, sf_dir)
    q = F.expr("array(" + ",".join(f"{float(x)!r}D" for x in qvec) + ")")
    sc = (
        docs.where(F.col("doc_id") != QUERY_VEC_ID)
        .join(emb.withColumnRenamed("vec_id", "doc_id"), "doc_id")
        .select(
            "doc_id",
            cosine_rounded(F.col("embedding"), q).alias("sem"),
            _term_rank(F.col("text")).alias("lex"),
        )
    )
    ts = (
        sc.orderBy(F.desc("sem"), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            "sem",
            F.row_number()
            .over(Window.orderBy(F.desc("sem"), "doc_id"))
            .alias("r"),
        )
        .select("doc_id", "r")
    )
    tl = (
        sc.orderBy(F.desc("lex"), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("lex"), "doc_id"))
            .alias("r"),
        )
    )
    uni = ts.select("doc_id", (F.col("r") * 2).alias("k")).unionByName(
        tl.select("doc_id", (F.col("r") * 2 + 1).alias("k"))
    )
    kept = uni.groupBy("doc_id").agg(F.min("k").alias("k"))
    final = kept.orderBy("k").limit(10)
    overlap = ts.join(tl, "doc_id").agg(
        F.count("*").cast("bigint").alias("n_overlap")
    )
    return final.agg(
        F.count("*").cast("bigint").alias("n_final"),
        F.sum(F.when(F.col("k") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("sem_credit"),
        F.sum(F.when(F.col("k") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("lex_credit"),
    ).crossJoin(F.broadcast(overlap))


# ---------------------------------------------------------------------------
# embedding_norm_profile — per-label L2-norm moments.
# ---------------------------------------------------------------------------

_NORM_SQL = (
    "ROUND(sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, v) -> acc + v)), 6)"
)


@register(
    "embedding_norm_profile",
    oracle=f"""
WITH n AS (
  SELECT label, CAST({_NORM_SQL} AS DECIMAL(18,6)) AS nrm FROM embeddings
)
SELECT CAST(label AS INT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(nrm) AS DOUBLE) AS min_norm,
       CAST(MAX(nrm) AS DOUBLE) AS max_norm,
       ROUND(CAST(SUM(nrm) AS DOUBLE) / COUNT(*), 6) AS mean_norm,
       CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
FROM n GROUP BY label ORDER BY label
""",
    doc=(
        "Per-label L2-norm moments of the embedding column — the "
        "first thing to look at before ANY cosine pipeline: a label "
        "whose norms collapse toward 0 poisons cosine (division by "
        "~0), mixed norm scales mean someone concatenated two "
        "embedding versions, and n_zero > 0 breaks normalization "
        "outright (embedding_qa flags per-VECTOR pathologies; this "
        "shows the per-label DISTRIBUTION). Norms are rounded to 6dp "
        "then summed as DECIMAL(18,6) — exact, order-insensitive "
        "distributed aggregation; one scan, label-sized rollup "
        "(SURVEY §2.F)."
    ),
)
def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = F.round(
        F.sqrt(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda a, x: a + x.cast("double") * x.cast("double"),
            )
        ),
        6,
    ).cast("decimal(18,6)")
    return (
        emb.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.min("nrm").cast("double").alias("min_norm"),
            F.max("nrm").cast("double").alias("max_norm"),
            F.round(F.sum("nrm").cast("double") / F.count("*"), 6).alias("mean_norm"),
            F.sum(F.when(F.col("nrm") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_zero"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# rocchio_expansion — pseudo-relevance-feedback query expansion.
# ---------------------------------------------------------------------------

_PRF_DOCS = 10  # feedback set: top-k of the base ranking
_PRF_TERMS = 5  # expansion terms taken from the feedback set
_PRF_BETA = "0.5"  # Rocchio feedback weight (exact decimal string)


def _rocchio_oracle() -> str:
    from email_etl_spark.functions.text import STOPWORDS

    stop = ", ".join(f"'{w}'" for w in sorted(STOPWORDS))
    qterms = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    tf_sql = " + ".join(
        f"len(list_filter(toks, x -> x = '{t}'))" for t in QUERY_TERMS
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
base AS (
  SELECT doc_id, toks,
         CAST({tf_sql} AS BIGINT) AS tf,
         CAST(len(toks) AS BIGINT) AS n
  FROM t
),
fb AS (SELECT * FROM base
       ORDER BY (20000 * tf + (n + 1)) // (2 * (n + 1)) DESC, doc_id
       LIMIT {_PRF_DOCS}),
fbtok AS (SELECT u.tok FROM fb, unnest(fb.toks) AS u(tok)),
exp_terms AS (
  SELECT tok, COUNT(*) AS c FROM fbtok
  WHERE tok NOT IN ({qterms}) AND tok NOT IN ({stop})
  GROUP BY tok ORDER BY c DESC, tok LIMIT {_PRF_TERMS}
),
expanded AS (
  SELECT b.doc_id,
         (20000 * b.tf + (b.n + 1)) // (2 * (b.n + 1)) AS base_e4,
         (20000 * (SELECT COALESCE(SUM(len(list_filter(b.toks, x -> x = e.tok))), 0)
                   FROM exp_terms e) + (b.n + 1)) // (2 * (b.n + 1)) AS exp_e4
  FROM base b
)
SELECT doc_id,
       CAST(base_e4 AS BIGINT) AS base_score_e4,
       CAST(10 * base_e4 + 5 * exp_e4 AS BIGINT) AS expanded_score_e5
FROM expanded
ORDER BY expanded_score_e5 DESC, doc_id LIMIT {_PRF_DOCS}
"""


@register(
    "rocchio_expansion",
    oracle=_rocchio_oracle(),
    doc=(
        "Pseudo-relevance-feedback query expansion (Rocchio): rank on "
        "the base query terms, mine the top-10 feedback docs for the "
        f"{_PRF_TERMS} most frequent non-query non-stopword terms, "
        "and rescore the corpus with base + 0.5×expansion-tf — the "
        "classic recall lever when the user's wording misses the "
        "corpus's (expanded_search substitutes synonyms; PRF LEARNS "
        "the expansion from the corpus itself). Expansion terms are "
        "a 5-row broadcast; both rankings are TakeOrderedAndProject; "
        "two corpus scans total. expanded_score ships as the pure "
        "integer e5-units 10*base_e4 + 5*exp_e4 (the old final "
        "ROUND(double) hit an exact .5 halfway at sf0.1 — r9 fix) "
        "(SURVEY §2.C)."
    ),
)
def rocchio_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from email_etl_spark.functions.text import STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    tf = None
    for term in QUERY_TERMS:
        cnt = F.size(F.filter(F.col("toks"), (lambda tt: lambda x: x == tt)(term)))
        tf = cnt if tf is None else tf + cnt
    base = t.select(
        "doc_id",
        "toks",
        tf.cast("bigint").alias("tf"),
        F.size("toks").cast("bigint").alias("n"),
    )
    # scores are EXACT integer e4 units via half-up integer division
    # (2*10^4*tf + (n+1)) div (2*(n+1)) — the _micro_mean_expr
    # pattern; no double quotient, no ROUND anywhere. The old final
    # ROUND(double, 4) landed EXACTLY on a .5 halfway at sf0.1
    # (0.46155 -> 0.4615 vs 0.4616 across engines) — the r8 hazard
    # class caught live by the FULL_SF01 sweep.
    base_e4 = F.expr("(20000 * tf + (n + 1)) div (2 * (n + 1))")
    fb = base.orderBy(F.desc(base_e4), "doc_id").limit(_PRF_DOCS)
    fbtok = fb.select(F.explode("toks").alias("tok"))
    exp_terms = (
        fbtok.where(
            ~F.col("tok").isin(list(QUERY_TERMS)) & ~F.col("tok").isin(sorted(STOPWORDS))
        )
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(_PRF_TERMS)
    )
    hits = (
        base.select("doc_id", F.explode_outer("toks").alias("tok"))
        .join(F.broadcast(exp_terms.select("tok")), "tok", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )
    expanded = (
        base.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            base_e4.alias("base_e4"),
            F.expr(
                "(20000 * coalesce(n_hits, 0) + (n + 1)) div (2 * (n + 1))"
            ).alias("exp_e4"),
        )
    )
    return (
        expanded.select(
            "doc_id",
            F.col("base_e4").cast("bigint").alias("base_score_e4"),
            (10 * F.col("base_e4") + 5 * F.col("exp_e4"))
            .cast("bigint")
            .alias("expanded_score_e5"),
        )
        .orderBy(F.desc("expanded_score_e5"), "doc_id")
        .limit(_PRF_DOCS)
    )


# ---------------------------------------------------------------------------
# embedding_isotropy — centroid-offset anisotropy of the embedding cloud.
# ---------------------------------------------------------------------------


@register(
    "embedding_isotropy",
    oracle=f"""
WITH d AS (
  SELECT u.i - 1 AS dim,
         CAST(CAST(ROUND(CAST(embedding[u.i] AS DOUBLE), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vm
  FROM embeddings, UNNEST(range(1, {EMB_DIM} + 1)) AS u(i)
),
g AS (
  SELECT dim, COUNT(*) AS n, SUM(vm) AS sm, SUM(vm * vm) AS ssq
  FROM d GROUP BY dim
),
t AS (
  SELECT MAX(n) AS n,
         SUM(CAST(sm AS DECIMAL(19,0)) * CAST(sm AS DECIMAL(19,0))) AS s2,
         SUM(CAST(ssq AS DECIMAL(38,0))) AS q
  FROM g
)
SELECT CAST(n AS BIGINT) AS n_vectors,
       ROUND(SQRT(CAST(s2 AS DOUBLE)) / (n * 1000000.0), 6) AS centroid_norm,
       ROUND(SQRT(CAST(q AS DOUBLE) / n) / 1000000.0, 6) AS rms_norm,
       ROUND(CAST(s2 AS DOUBLE) / (n * CAST(q AS DOUBLE)), 6) AS anisotropy_ratio
FROM t
""",
    doc=(
        "Embedding-cloud isotropy screen (Mu & Viswanath 2018, "
        "'All-but-the-Top'): ||centroid||^2 / E||v||^2 — the share of "
        "total second moment sitting in the common-mean direction. A "
        "ratio near 0 is an isotropic cloud; a large ratio means every "
        "cosine is inflated by a shared offset and retrieval should "
        "mean-center first (the single-number companion to "
        "pca_power_top1's dominant direction and emb_dim_variance's "
        "per-axis profile). Identity: ||sum v||^2 = sum_d S_d^2 and "
        "E||v||^2 = sum_d ssq_d / n, so the whole statistic reduces to "
        "the SAME per-dim integer-micro aggregates emb_dim_variance "
        "uses — exact order-insensitive sums (squares through "
        "DECIMAL(38,0)), three doubles at the end (SURVEY §2.F)."
    ),
)
def embedding_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    vm = (
        F.round(F.col("x").cast("double"), 6).cast("decimal(18,6)") * 1000000
    ).cast("bigint")
    d = emb.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim", vm.alias("vm")
    )
    g = d.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("vm").cast("bigint").alias("sm"),
        F.sum(F.col("vm") * F.col("vm")).cast("bigint").alias("ssq"),
    )
    t = g.agg(
        F.max("n").alias("n"),
        F.sum(
            F.col("sm").cast("decimal(19,0)") * F.col("sm").cast("decimal(19,0)")
        ).alias("s2"),
        F.sum(F.col("ssq").cast("decimal(38,0)")).alias("q"),
    )
    return t.select(
        F.col("n").cast("bigint").alias("n_vectors"),
        F.round(
            F.sqrt(F.col("s2").cast("double")) / (F.col("n") * 1000000.0), 6
        ).alias("centroid_norm"),
        F.round(
            F.sqrt(F.col("q").cast("double") / F.col("n")) / 1000000.0, 6
        ).alias("rms_norm"),
        F.round(
            F.col("s2").cast("double") / (F.col("n") * F.col("q").cast("double")), 6
        ).alias("anisotropy_ratio"),
    )


# ---------------------------------------------------------------------------
# bm25f_search — two-field (lead/body) BM25F ranking.
# ---------------------------------------------------------------------------

# field weights / length-normalization slopes (Robertson & Zaragoza
# 2009 simplified BM25F): the lead field counts double and is
# normalized more gently than the body
_BM25F_W_T, _BM25F_W_B = 2.0, 1.0
_BM25F_LEAD = 8  # lead field = first 8 tokens (headline/subject proxy)


def _bm25f_oracle() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(toks_{fld}, x -> x = '{t}')) AS tf_{t}_{fld}"
        for t in QUERY_TERMS
        for fld in ("t", "b")
    )
    dfs = ", ".join(
        f"SUM(CASE WHEN tf_{t}_t + tf_{t}_b > 0 THEN 1 ELSE 0 END) AS df_{t}"
        for t in QUERY_TERMS
    )
    norm_t = "(0.5 + 0.5 * (CAST(lt * n_total AS DOUBLE) / sum_lt))"
    norm_b = "(0.25 + 0.75 * (CAST(lb * n_total AS DOUBLE) / sum_lb))"
    per_term = " + ".join(
        f"CASE WHEN tf_{t}_t + tf_{t}_b > 0 THEN "
        f"ln(1.0 + (CAST(n_total - df_{t} AS DOUBLE) + 0.5) / (CAST(df_{t} AS DOUBLE) + 0.5))"
        f" * ((tf_{t}_t * {_BM25F_W_T}::DOUBLE) / {norm_t}"
        f"    + (tf_{t}_b * {_BM25F_W_B}::DOUBLE) / {norm_b})"
        f" / (1.2::DOUBLE + (tf_{t}_t * {_BM25F_W_T}::DOUBLE) / {norm_t}"
        f"    + (tf_{t}_b * {_BM25F_W_B}::DOUBLE) / {norm_b}) ELSE 0.0 END"
        for t in QUERY_TERMS
    )
    return f"""
WITH f AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
),
sp AS (
  SELECT doc_id, toks[1:{_BM25F_LEAD}] AS toks_t,
         toks[{_BM25F_LEAD} + 1:] AS toks_b
  FROM f
),
t AS (
  SELECT doc_id, len(toks_t) AS lt, len(toks_b) AS lb, {tf_cols} FROM sp
),
stats AS (
  SELECT COUNT(*) AS n_total, SUM(lt) AS sum_lt, SUM(lb) AS sum_lb, {dfs} FROM t
)
SELECT doc_id, ROUND({per_term}, 4) AS bm25f
FROM t CROSS JOIN stats
WHERE {per_term} > 0
ORDER BY bm25f DESC, doc_id
LIMIT 20
"""


def _bm25f_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    toks_df = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    split = toks_df.select(
        "doc_id",
        F.slice(F.col("toks"), 1, _BM25F_LEAD).alias("toks_t"),
        F.expr(
            f"slice(toks, {_BM25F_LEAD} + 1, greatest(size(toks) - {_BM25F_LEAD}, 0))"
        ).alias("toks_b"),
    )

    def eq(term):
        return lambda x: x == term

    return split.select(
        "doc_id",
        F.size("toks_t").alias("lt"),
        F.size("toks_b").alias("lb"),
        *[
            F.size(F.filter(F.col(f"toks_{fld}"), eq(t))).alias(f"tf_{t}_{fld}")
            for t in QUERY_TERMS
            for fld in ("t", "b")
        ],
    )


@register(
    "bm25f_search",
    oracle=_bm25f_oracle(),
    headline=True,
    doc=(
        f"BM25F two-field ranking (lead = the first {_BM25F_LEAD} "
        "tokens, weight 2.0, b=0.5; body = the remainder, weight 1.0, "
        "b=0.75): field-weighted term frequencies are length-"
        "normalized PER FIELD, summed, and pushed through one shared "
        "K1 saturation — the structured-document ranker (subject-vs-"
        "body email search) that flat bm25_search cannot express, per "
        "Robertson & Zaragoza 2009. Same scale shape as bm25_search: "
        "one corpus scan computes per-field tfs and lengths, one 1-row "
        "stats aggregate (N, per-field length sums, whole-doc dfs) "
        "broadcast back, per-field dl/avgdl folded to (l*N)/sum_l "
        "exact integer products with ONE double division each, top-20 "
        "via TakeOrderedAndProject (SURVEY §2.C)."
    ),
)
def bm25f_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # memoized per-doc field-tf projection (lazy plan handle, no data):
    # the 8 higher-order filter columns + field split cost ~0.3 s of
    # py4j Column construction per builder call when rebuilt inline
    # (r10 decompose probe measured 0.44 s total builder time).
    # Constants QUERY_TERMS/_BM25F_LEAD are module-fixed, so the
    # projection is a pure function of sf_dir.
    with_tf = memo(spark, "bm25f_tf", sf_dir, build=lambda: _bm25f_tf(spark, sf_dir))
    stats = with_tf.agg(
        F.count("*").alias("n_total"),
        F.sum("lt").alias("sum_lt"),
        F.sum("lb").alias("sum_lb"),
        *[
            F.sum(
                F.when(F.col(f"tf_{t}_t") + F.col(f"tf_{t}_b") > 0, 1).otherwise(0)
            ).alias(f"df_{t}")
            for t in QUERY_TERMS
        ],
    )
    norm_t = F.lit(0.5) + F.lit(0.5) * (
        (F.col("lt") * F.col("n_total")).cast("double") / F.col("sum_lt")
    )
    norm_b = F.lit(0.25) + F.lit(0.75) * (
        (F.col("lb") * F.col("n_total")).cast("double") / F.col("sum_lb")
    )
    score = None
    for t in QUERY_TERMS:
        tft, tfb = F.col(f"tf_{t}_t"), F.col(f"tf_{t}_b")
        idf = F.log(
            F.lit(1.0)
            + ((F.col("n_total") - F.col(f"df_{t}")).cast("double") + F.lit(0.5))
            / (F.col(f"df_{t}").cast("double") + F.lit(0.5))
        )
        tfw = (tft * F.lit(_BM25F_W_T)) / norm_t + (tfb * F.lit(_BM25F_W_B)) / norm_b
        term_score = F.when(tft + tfb > 0, idf * tfw / (F.lit(1.2) + tfw)).otherwise(
            F.lit(0.0)
        )
        score = term_score if score is None else score + term_score
    return (
        with_tf.crossJoin(F.broadcast(stats))
        .where(score > 0)
        .select("doc_id", F.round(score, 4).alias("bm25f"))
        .orderBy(F.desc("bm25f"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Cluster-quality family: centroid silhouette + Davies–Bouldin index.
# Shared basis: exact micro-unit per-label centroids (the
# embedding_outliers round-to-DECIMAL(18,6)-before-sum convention), so
# every distance downstream is a fold over identical doubles in both
# engines.
# ---------------------------------------------------------------------------

_CENT_CTE = f"""
e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
cs AS (
  SELECT label, d.i AS dim,
         CAST(SUM(CAST(ROUND(v[d.i], 6) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS s,
         COUNT(*) AS n
  FROM e CROSS JOIN UNNEST(range(1, {EMB_DIM} + 1)) AS d(i)
  GROUP BY label, d.i
),
cf AS (
  SELECT label, dim, n,
         CAST(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
                   ELSE -((2 * (-s) + n) // (2 * n)) END AS DOUBLE) / 1000000.0 AS cval
  FROM cs
),
c AS (SELECT label, MAX(n) AS n_vectors, list(cval ORDER BY dim) AS v FROM cf GROUP BY label)"""


def _collect_label_centroids(spark: SparkSession, sf_dir: str):
    """[(label, [64 centroid doubles])] — exact micro-unit per-label
    centroids, collected ONCE as plan constants (the MLlib-codebook
    shape, embedding_outliers discipline): one corpus scan total, so
    consumers that reference the codebook k times don't re-derive the
    aggregate k times. Memoized per corpus dir (r10): two registry
    queries (silhouette_centroid, davies_bouldin) each re-collected
    the same codebook per call — the _pq_train_books class."""
    return memo(spark, "label_cents", sf_dir, build=lambda: _label_centroids(spark, sf_dir))


def _label_centroids(spark: SparkSession, sf_dir: str):
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    cf = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            (F.sum(F.round(F.col("x").cast("double"), 6).cast("decimal(18,6)")) * 1000000)
            .cast("bigint")
            .alias("s"),
            F.count("*").alias("n"),
        )
        .select("label", "pos", F.expr(_micro_mean_expr(6)).alias("microv"))
        .collect()
    )
    by_label: dict = {}
    for r in cf:
        by_label.setdefault(int(r["label"]), {})[int(r["pos"])] = (
            int(r["microv"]) / 1000000.0
        )
    return [
        (lbl, [dims[p] for p in sorted(dims)]) for lbl, dims in sorted(by_label.items())
    ]


def _centroid_codebook_df(spark: SparkSession, cents) -> DataFrame:
    """k-row (cl, cent) codebook DataFrame from the collected plan
    constants (LocalTableScan — no corpus scan behind it)."""
    return spark.createDataFrame(
        [(int(lbl), [float(x) for x in vec]) for lbl, vec in cents],
        "cl int, cent array<double>",
    )


def _fold_sqdist(vec_col, cent_col):
    """Sequential squared-L2 fold (bit-identical to _km_dist_sql)."""
    return F.aggregate(
        F.zip_with(
            vec_col, cent_col, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


@register(
    "silhouette_centroid",
    oracle=f"""
WITH {_CENT_CTE},
d AS (
  SELECT e.vec_id, e.label AS own, c.label AS cl,
         {_km_dist_sql('e.v', 'c.v')} AS sq
  FROM e CROSS JOIN c
),
ab AS (
  SELECT vec_id, own,
         MAX(CASE WHEN cl = own THEN SQRT(sq) END) AS a,
         MIN(CASE WHEN cl <> own THEN SQRT(sq) END) AS b
  FROM d GROUP BY vec_id, own
),
s AS (
  SELECT own AS label,
         CAST(CASE WHEN GREATEST(a, b) = 0 THEN 0
              ELSE ROUND((b - a) / GREATEST(a, b), 6) END AS DECIMAL(18,6)) AS sil
  FROM ab
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       ROUND(CAST(SUM(sil) AS DOUBLE) / COUNT(*), 4) AS mean_silhouette,
       CAST(SUM(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
FROM s GROUP BY label ORDER BY label
""",
    doc=(
        "Per-label centroid silhouette (the medoid-free variant that "
        "scales: a = distance to OWN centroid, b = distance to the "
        "nearest OTHER centroid, s = (b-a)/max(a,b)): how separable "
        "the label clusters are in embedding space, label by label — "
        "the summary gate before trusting labels for linear_probe or "
        "label_noise_knn (whose per-vector kNN view it complements at "
        "k-row cost instead of pair cost). Centroids are exact "
        "micro-unit means (embedding_outliers convention), every "
        "vector meets only the k-row centroid codebook (n x k, never "
        "n x n), per-vector silhouettes are pre-rounded to "
        "DECIMAL(18,6) so label means are order-insensitive. "
        "n_negative counts probably-mislabeled vectors (closer to a "
        "foreign centroid than their own) (SURVEY §2.F)."
    ),
)
def silhouette_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    cents = _centroid_codebook_df(spark, _collect_label_centroids(spark, sf_dir))
    d = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        F.col("label").alias("own"),
        "cl",
        _fold_sqdist(F.col("embedding"), F.col("cent")).alias("sq"),
    )
    ab = d.groupBy("vec_id", "own").agg(
        F.max(F.when(F.col("cl") == F.col("own"), F.sqrt("sq"))).alias("a"),
        F.min(F.when(F.col("cl") != F.col("own"), F.sqrt("sq"))).alias("b"),
    )
    s = ab.select(
        F.col("own").alias("label"),
        F.when(F.greatest("a", "b") == 0, F.lit(0).cast("decimal(18,6)"))
        .otherwise(
            F.round((F.col("b") - F.col("a")) / F.greatest("a", "b"), 6).cast(
                "decimal(18,6)"
            )
        )
        .alias("sil"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.round(F.sum("sil").cast("double") / F.count("*"), 4).alias(
                "mean_silhouette"
            ),
            F.sum(F.when(F.col("sil") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_negative"),
        )
        .orderBy("label")
    )


@register(
    "davies_bouldin",
    oracle=f"""
WITH {_CENT_CTE},
oe AS (
  SELECT e.label, SQRT({_km_dist_sql('e.v', 'c.v')}) AS dist
  FROM e JOIN c ON e.label = c.label
),
sig AS (
  SELECT label,
         CAST(SUM(CAST(ROUND(dist, 6) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS s,
         COUNT(*) AS n
  FROM oe GROUP BY label
),
sigma AS (
  SELECT label,
         CAST(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
                   ELSE -((2 * (-s) + n) // (2 * n)) END AS DOUBLE) / 1000000.0 AS sg
  FROM sig
),
r AS (
  SELECT i.label AS li,
         MAX(ROUND((si.sg + sj.sg) / SQRT({_km_dist_sql('i.v', 'j.v')}), 6)) AS d_i
  FROM c i JOIN c j ON i.label <> j.label
  JOIN sigma si ON si.label = i.label
  JOIN sigma sj ON sj.label = j.label
  GROUP BY i.label
)
SELECT CAST(COUNT(*) AS BIGINT) AS k_labels,
       ROUND(CAST(SUM(CAST(d_i AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4)
           AS db_index
FROM r
""",
    doc=(
        "Davies–Bouldin index over the label clustering: mean over "
        "labels of max_j (sigma_i + sigma_j) / d(c_i, c_j) — the "
        "single-number separation score (lower = tighter, farther-"
        "apart clusters) complementing silhouette_centroid's per-label "
        "view; the standard k-selection criterion if the labels came "
        "from clustering. Scatter sigma_i is the exact micro-unit mean "
        "of per-vector centroid distances (one corpus scan, k-row "
        "broadcast equi-join); everything after is k^2 arithmetic on "
        "the k-row centroid codebook — worst-pair ratios pre-rounded "
        "to 6 dp before the max, the k per-label maxima summed as "
        "DECIMAL(18,6) (SURVEY §2.F)."
    ),
)
def davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    cents = _centroid_codebook_df(spark, _collect_label_centroids(spark, sf_dir))
    own = cents
    oe = emb.join(F.broadcast(own), emb["label"] == own["cl"]).select(
        "label", F.sqrt(_fold_sqdist(F.col("embedding"), F.col("cent"))).alias("dist")
    )
    # scatter sigma_i is a k-row exact-integer aggregate — collect it
    # as plan constants (absorption_within_k discipline) so the k^2
    # ratio stage never re-derives the corpus aggregate per branch
    sig_rows = (
        oe.groupBy("label")
        .agg(
            (F.sum(F.round(F.col("dist"), 6).cast("decimal(18,6)")) * 1000000)
            .cast("bigint")
            .alias("s"),
            F.count("*").alias("n"),
        )
        .select("label", F.expr(_micro_mean_expr(6)).alias("microv"))
        .collect()
    )
    sgmap = F.expr(
        "map("
        + ",".join(
            f"{int(r['label'])}, {int(r['microv']) / 1000000.0!r}D" for r in sig_rows
        )
        + ")"
    )
    ci = cents.select(F.col("cl").alias("li"), F.col("cent").alias("vi"))
    cj = cents.select(F.col("cl").alias("lj"), F.col("cent").alias("vj"))
    pairs = (
        ci.crossJoin(F.broadcast(cj))
        .where(F.col("li") != F.col("lj"))
        .select(
            "li",
            F.round(
                (
                    F.element_at(sgmap, F.col("li").cast("int"))
                    + F.element_at(sgmap, F.col("lj").cast("int"))
                )
                / F.sqrt(_fold_sqdist(F.col("vi"), F.col("vj"))),
                6,
            ).alias("ratio"),
        )
    )
    r = pairs.groupBy("li").agg(F.max("ratio").alias("d_i"))
    return r.agg(
        F.count("*").cast("bigint").alias("k_labels"),
        F.round(
            F.sum(F.col("d_i").cast("decimal(18,6)")).cast("double") / F.count("*"), 4
        ).alias("db_index"),
    )


# ---------------------------------------------------------------------------
# knn_confusion — leave-one-out kNN label prediction confusion matrix.
# ---------------------------------------------------------------------------


@register(
    "knn_confusion",
    oracle=f"""
WITH pairs AS (
  SELECT a.vec_id AS q, b.vec_id AS n, b.label AS nb_label,
         {duckdb_cosine('a.embedding', 'b.embedding')} AS c
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
),
ranked AS (
  SELECT q, nb_label, ROW_NUMBER() OVER (PARTITION BY q ORDER BY c DESC, n) AS rk
  FROM pairs
),
votes AS (
  SELECT q, nb_label, COUNT(*) AS cnt
  FROM ranked WHERE rk <= {_KNN_K} GROUP BY q, nb_label
),
pred AS (
  SELECT q, nb_label AS pred_label,
         ROW_NUMBER() OVER (PARTITION BY q ORDER BY cnt DESC, nb_label) AS vr
  FROM votes
)
SELECT e.label AS true_label, p.pred_label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM pred p JOIN embeddings e ON p.q = e.vec_id
WHERE p.vr = 1
GROUP BY e.label, p.pred_label
ORDER BY true_label, pred_label
""",
    doc=(
        "Leave-one-out kNN classification confusion matrix: each "
        f"vector's label is predicted by majority vote over its top-"
        f"{_KNN_K} cosine neighbors (ties split by count desc, then "
        "smaller label — fully deterministic), and the (true, "
        "predicted) cells are counted. The aggregate companion to "
        "label_noise_knn: that query flags individual suspects, this "
        "one shows WHICH classes bleed into which — the confusion "
        "structure that decides whether labels are usable for "
        "classifier-filtered curation (linear_probe). Rides the "
        "block-tiled knn_join pipeline (O(P*k) shuffle per vector, "
        "no all-pairs materialization); the vote and matrix are two "
        "integer groupBys over the k*n neighbor rows (SURVEY §2.F)."
    ),
)
def knn_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    nbrs = _knn_pairs(spark, sf_dir)
    nb = nbrs.join(
        emb.select(
            F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nb_label")
        ),
        "neighbor_id",
    )
    votes = nb.groupBy("vec_id", "nb_label").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cnt"), F.asc("nb_label"))
    pred = (
        votes.withColumn("vr", F.row_number().over(w))
        .where(F.col("vr") == 1)
        .select("vec_id", F.col("nb_label").alias("pred_label"))
    )
    truth = emb.select("vec_id", F.col("label").alias("true_label"))
    return (
        pred.join(truth, "vec_id")
        .groupBy("true_label", "pred_label")
        .agg(F.count("*").cast("bigint").alias("n_vectors"))
        .orderBy("true_label", "pred_label")
    )


# ---------------------------------------------------------------------------
# calinski_harabasz — variance-ratio cluster validity index.
# ---------------------------------------------------------------------------

_MICRO_INT = _micro_mean_expr(6)  # integer micro-unit rounded mean over (s, n)


@register(
    "calinski_harabasz",
    oracle=f"""
WITH {_CENT_CTE},
ci AS (
  SELECT label, dim, n, CAST({_MICRO_INT.replace('div', '//')} AS BIGINT) AS cm
  FROM cs
),
gi AS (
  SELECT dim,
         CAST({_MICRO_INT.replace('div', '//')} AS BIGINT) AS gm
  FROM (SELECT dim, CAST(SUM(s) AS BIGINT) AS s, CAST(SUM(n) AS BIGINT) AS n
        FROM cs GROUP BY dim)
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM cs WHERE dim = 1
),
bl AS (
  SELECT ci.label, MAX(ci.n) AS n_l,
         CAST(SUM((ci.cm - gi.gm) * (ci.cm - gi.gm)) AS BIGINT) AS sd
  FROM ci JOIN gi USING (dim) GROUP BY ci.label
),
bint AS (
  SELECT SUM(CAST(n_l AS DECIMAL(38,0)) * sd) AS b FROM bl
),
wss AS (
  SELECT SUM(CAST(ROUND({_km_dist_sql('e.v', 'c.v')}, 6) AS DECIMAL(18,6))) AS w
  FROM e JOIN c ON e.label = c.label
)
SELECT t.n_total AS n_vectors, t.k AS k_labels,
       ROUND(((CAST(b.b AS DOUBLE) / 1000000000000.0) / (t.k - 1))
             / (CAST(w.w AS DOUBLE) / (t.n_total - t.k)), 4) AS ch_index
FROM tot t CROSS JOIN bint b CROSS JOIN wss w
""",
    doc=(
        "Calinski–Harabasz variance-ratio index over the label "
        "clustering: (between-cluster SS / (k-1)) / (within-cluster "
        "SS / (n-k)) — higher = denser, better-separated clusters; "
        "with silhouette_centroid (per-label) and davies_bouldin "
        "(worst-pair) this completes the three standard internal "
        "validity criteria. Label centroids AND the global centroid "
        "derive from one (label, dim) exact micro-unit sum aggregate "
        "(the global mean is the weighted merge of the label sums — "
        "no second corpus pass), and the between-SS is computed "
        "entirely on INTEGER micro units — (c_micro - g_micro)^2 "
        "cross-products, order-free by construction; within-SS is one "
        "scan with per-vector squared distances pre-rounded to "
        "DECIMAL(18,6) (SURVEY §2.F)."
    ),
)
def calinski_harabasz(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    rows = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            (F.sum(F.round(F.col("x").cast("double"), 6).cast("decimal(18,6)")) * 1000000)
            .cast("bigint")
            .alias("s"),
            F.count("*").alias("n"),
        )
        .collect()
    )

    def micro_int(s: int, n: int) -> int:
        if s >= 0:
            return (2 * s + n) // (2 * n)
        return -((2 * (-s) + n) // (2 * n))

    by_label: dict = {}
    counts: dict = {}
    gacc: dict = {}
    for r in rows:
        lbl, pos, s, n = int(r["label"]), int(r["pos"]), int(r["s"]), int(r["n"])
        by_label.setdefault(lbl, {})[pos] = micro_int(s, n)
        counts[lbl] = n
        acc = gacc.setdefault(pos, [0, 0])
        acc[0] += s
        acc[1] += n
    n_total = sum(counts.values())
    k = len(counts)
    gm = {pos: micro_int(s, n) for pos, (s, n) in gacc.items()}
    b_int = sum(
        counts[lbl] * sum((cm - gm[pos]) ** 2 for pos, cm in dims.items())
        for lbl, dims in by_label.items()
    )
    centmap = F.expr(
        "map("
        + ",".join(
            f"{lbl}, array("
            + ",".join(f"{dims[p] / 1000000.0!r}D" for p in sorted(dims))
            + ")"
            for lbl, dims in sorted(by_label.items())
        )
        + ")"
    )
    wss = emb.agg(
        F.sum(
            F.round(
                _fold_sqdist(
                    F.col("embedding"),
                    F.element_at(centmap, F.col("label").cast("int")),
                ),
                6,
            ).cast("decimal(18,6)")
        ).alias("w")
    )
    return wss.select(
        F.lit(n_total).cast("bigint").alias("n_vectors"),
        F.lit(k).cast("bigint").alias("k_labels"),
        F.round(
            F.expr(
                f"((CAST({b_int} AS DOUBLE) / 1000000000000.0) / ({k} - 1))"
                f" / (CAST(w AS DOUBLE) / ({n_total} - {k}))"
            ),
            4,
        ).alias("ch_index"),
    )


# ---------------------------------------------------------------------------
# Top-2 PCA via projection deflation: the second principal direction and
# the explained-variance split. Every 64-length reduction is an ORDERED
# sequential fold (Python loop <-> DuckDB list_reduce over a dim-sorted
# list), so no mid-stream rounding is needed — both engines run the
# identical IEEE op sequence; corpus passes keep the
# round-to-DECIMAL(18,6)-before-sum convention.
# ---------------------------------------------------------------------------


def _pca_mv_collect(spark: SparkSession, sf_dir: str, vec: list) -> list:
    """One exact A^T(A v) corpus pass, collected as plan constants."""
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    vlit = F.expr("array(" + ",".join(f"{v!r}D" for v in vec) + ")")
    s = F.aggregate(
        F.zip_with(F.col("embedding"), vlit, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    rows = (
        emb.select(F.posexplode("embedding").alias("pos", "x"), s.alias("s"))
        .groupBy("pos")
        .agg(
            F.sum(F.round(F.col("x").cast("double") * F.col("s"), 6).cast("decimal(18,6)"))
            .cast("double")
            .alias("m")
        )
        .collect()
    )
    byp = {int(r["pos"]): float(r["m"]) for r in rows}
    return [byp[p] for p in sorted(byp)]


def _seq_dot(a: list, b: list) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _pca_top2_state(spark: SparkSession, sf_dir: str):
    """(v1u, w1, w2, lam1, lam2): unnormalized-iteration state shared by
    the top-2 loadings and explained-variance queries.

    Memoized per corpus dir (r10): the state costs FOUR
    matrix-vector collect jobs over the corpus and three registry
    queries each re-derived it per call — it is the trained spectral
    state a serving layer holds, the _pq_train_books class."""
    return memo(spark, "pca_top2_state", sf_dir, build=lambda: _pca_top2_iterate(spark, sf_dir))


def _pca_top2_iterate(spark: SparkSession, sf_dir: str):
    v0 = [_PCA_V0] * EMB_DIM
    v1 = _pca_mv_collect(spark, sf_dir, v0)
    v2 = _pca_mv_collect(spark, sf_dir, v1)
    import math

    nrm2 = math.sqrt(_seq_dot(v2, v2))
    v1u = [x / nrm2 for x in v2]
    lam1 = _seq_dot(v1, v2) / _seq_dot(v1, v1)
    d0 = _seq_dot(v1u, v0)
    w0 = [x - d0 * u for x, u in zip(v0, v1u)]
    m3 = _pca_mv_collect(spark, sf_dir, w0)
    d3 = _seq_dot(m3, v1u)
    w1 = [x - d3 * u for x, u in zip(m3, v1u)]
    m4 = _pca_mv_collect(spark, sf_dir, w1)
    d4 = _seq_dot(m4, v1u)
    w2 = [x - d4 * u for x, u in zip(m4, v1u)]
    lam2 = _seq_dot(w1, m4) / _seq_dot(w1, w1)
    return (v1u, w1, w2, lam1, lam2)


def _pca2_ctes() -> str:
    """The shared CTE chain: v1 rounds, normalize, deflation rounds —
    the SQL twin of _pca_top2_state (same fold orders)."""
    v0 = "[" + ", ".join(str(_PCA_V0) for _ in range(EMB_DIM)) + "]::DOUBLE[]"
    return f"""
e AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
p1 AS (SELECT v, {_pca_dot_sql('v', v0)} AS s FROM e),
m1 AS (
  SELECT d.i AS dim,
         CAST(SUM(CAST(ROUND(v[d.i] * s, 6) AS DECIMAL(18,6))) AS DOUBLE) AS m
  FROM p1 CROSS JOIN UNNEST(range(1, {EMB_DIM} + 1)) AS d(i) GROUP BY d.i
),
c1 AS (SELECT list(m ORDER BY dim) AS v1 FROM m1),
p2 AS (SELECT e.v, {_pca_dot_sql('e.v', 'c1.v1')} AS s FROM e CROSS JOIN c1),
m2 AS (
  SELECT d.i AS dim,
         CAST(SUM(CAST(ROUND(v[d.i] * s, 6) AS DECIMAL(18,6))) AS DOUBLE) AS m
  FROM p2 CROSS JOIN UNNEST(range(1, {EMB_DIM} + 1)) AS d(i) GROUP BY d.i
),
c2 AS (SELECT list(m ORDER BY dim) AS v2 FROM m2),
u1 AS (
  SELECT list_transform(v2, x -> x / sqrt({_pca_dot_sql('v2', 'v2')})) AS u
  FROM c2
),
w0 AS (
  SELECT list_transform(range(1, {EMB_DIM} + 1),
           i -> {_PCA_V0} - {_pca_dot_sql('u1.u', v0)} * u1.u[i]) AS w
  FROM u1
),
p3 AS (SELECT e.v, {_pca_dot_sql('e.v', 'w0.w')} AS s FROM e CROSS JOIN w0),
m3 AS (
  SELECT d.i AS dim,
         CAST(SUM(CAST(ROUND(v[d.i] * s, 6) AS DECIMAL(18,6))) AS DOUBLE) AS m
  FROM p3 CROSS JOIN UNNEST(range(1, {EMB_DIM} + 1)) AS d(i) GROUP BY d.i
),
c3 AS (SELECT list(m ORDER BY dim) AS m3 FROM m3),
w1 AS (
  SELECT list_transform(range(1, {EMB_DIM} + 1),
           i -> c3.m3[i] - {_pca_dot_sql('c3.m3', 'u1.u')} * u1.u[i]) AS w
  FROM c3 CROSS JOIN u1
),
p4 AS (SELECT e.v, {_pca_dot_sql('e.v', 'w1.w')} AS s FROM e CROSS JOIN w1),
m4 AS (
  SELECT d.i AS dim,
         CAST(SUM(CAST(ROUND(v[d.i] * s, 6) AS DECIMAL(18,6))) AS DOUBLE) AS m
  FROM p4 CROSS JOIN UNNEST(range(1, {EMB_DIM} + 1)) AS d(i) GROUP BY d.i
),
c4 AS (SELECT list(m ORDER BY dim) AS m4 FROM m4),
w2 AS (
  SELECT list_transform(range(1, {EMB_DIM} + 1),
           i -> c4.m4[i] - {_pca_dot_sql('c4.m4', 'u1.u')} * u1.u[i]) AS w
  FROM c4 CROSS JOIN u1
)"""


@register(
    "pca_top2_loadings",
    oracle=f"""
WITH {_pca2_ctes()}
SELECT CAST(d.i AS BIGINT) AS dim,
       ROUND(u1.u[d.i], 6) AS loading1,
       ROUND(w2.w[d.i] / sqrt({_pca_dot_sql('w2.w', 'w2.w')}), 6) AS loading2
FROM u1 CROSS JOIN w2 CROSS JOIN UNNEST(range(1, {EMB_DIM} + 1)) AS d(i)
ORDER BY dim
""",
    doc=(
        "Top TWO principal directions of the embedding cloud via "
        "power iteration + projection deflation (Hotelling): the "
        "second component is iterated on the Gram operator with the "
        "first direction projected out after every matvec — PC2 is "
        "where anisotropy hides once embedding_isotropy flags a "
        "dominant common direction (Mu & Viswanath 2018 remove the "
        "top FEW, not one). Four exact-decimal corpus passes total "
        "(two per component, the pca_power_top1 recipe); every "
        "64-length reduction (norms, projection coefficients) is an "
        "ORDERED sequential fold run identically in both engines — "
        "no mid-stream rounding anywhere; the loadings ship GRID-"
        "PINNED at 6 dp (ROUND of an irrational-valued quantity — "
        "unit-norm sqrt normalization — the measure-zero halfway "
        "class SURVEY §5 documents; a raw double would drift with "
        "the engine environment, the r9 ks_stat lesson, while the "
        "6-dp grid absorbs ulp-level drift) (SURVEY §2.F)."
    ),
)
def pca_top2_loadings(spark: SparkSession, sf_dir: str) -> DataFrame:
    v1u, _, w2, _, _ = _pca_top2_state(spark, sf_dir)
    u_lit = F.expr("array(" + ",".join(f"{v!r}D" for v in v1u) + ")")
    w_lit = F.expr("array(" + ",".join(f"{v!r}D" for v in w2) + ")")
    nrm = F.sqrt(
        F.aggregate(
            F.transform(w_lit, lambda x: x * x), F.lit(0.0), lambda a, b: a + b
        )
    )
    packed = spark.range(1).select(u_lit.alias("u"), w_lit.alias("w"), nrm.alias("n"))
    return (
        packed.select(
            F.posexplode(F.col("u")).alias("pos", "l1"),
            F.col("w"),
            F.col("n"),
        )
        .select(
            (F.col("pos") + 1).cast("bigint").alias("dim"),
            F.round(F.col("l1"), 6).alias("loading1"),
            F.round(
                F.element_at(F.col("w"), F.col("pos") + 1) / F.col("n"), 6
            ).alias("loading2"),
        )
        .orderBy("dim")
    )


@register(
    "pca_explained_variance",
    oracle=f"""
WITH {_pca2_ctes()},
lam AS (
  SELECT ({_pca_dot_sql('c1.v1', 'c2.v2')}) / ({_pca_dot_sql('c1.v1', 'c1.v1')}) AS l1,
         ({_pca_dot_sql('w1.w', 'c4.m4')}) / ({_pca_dot_sql('w1.w', 'w1.w')}) AS l2
  FROM c1 CROSS JOIN c2 CROSS JOIN w1 CROSS JOIN c4
),
tr AS (
  SELECT CAST(SUM(CAST(ROUND(v[d.i] * v[d.i], 6) AS DECIMAL(18,6))) AS DOUBLE) AS t
  FROM e CROSS JOIN UNNEST(range(1, {EMB_DIM} + 1)) AS d(i)
)
SELECT component, ROUND(eigenvalue, 6) AS eigenvalue,
       CAST(FLOOR(eigenvalue * 10000 / t) AS BIGINT) AS var_share_bps
FROM (
  SELECT 1 AS component, l1 AS eigenvalue FROM lam
  UNION ALL
  SELECT 2, l2 FROM lam
) CROSS JOIN tr
ORDER BY component
""",
    doc=(
        "Explained-variance split of the top two principal components: "
        "Rayleigh-quotient eigenvalues off the SAME deflation "
        "iterates as pca_top2_loadings, each as a share of the total "
        "(uncentred) second moment trace(A^T A) in bps — the number "
        "that says whether mean-centering / top-k direction removal "
        "is worth it (a 4,000-bps PC1 = one axis carries 40% of all "
        "energy) and the k-selection signal for dim_ablation_recall. "
        "Trace is one exact-decimal corpus aggregate; eigenvalues are "
        "ordered-fold arithmetic on collected plan constants, shipped "
        "GRID-PINNED at 6 dp (Rayleigh quotients of corpus-sized "
        "sums: effectively irrational-valued, the measure-zero "
        "halfway class of SURVEY §5 — not raw doubles, the r9 "
        "ks_stat lesson) (SURVEY §2.F)."
    ),
)
def pca_explained_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    v1u, w1, w2, lam1, lam2 = _pca_top2_state(spark, sf_dir)
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    tr = emb.select(F.posexplode("embedding").alias("pos", "x")).agg(
        F.sum(
            F.round(F.col("x").cast("double") * F.col("x").cast("double"), 6).cast(
                "decimal(18,6)"
            )
        )
        .cast("double")
        .alias("t")
    )
    rows = None
    for comp, lam in ((1, lam1), (2, lam2)):
        row = tr.select(
            F.lit(comp).cast("bigint").alias("component"),
            F.round(F.lit(lam), 6).alias("eigenvalue"),
            F.expr(f"CAST(FLOOR({lam!r} * 10000 / t) AS BIGINT)").alias(
                "var_share_bps"
            ),
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows.orderBy("component")


# ---------------------------------------------------------------------------
# ann_range_search (round 8): radius similarity search — the pgvector
# `embedding <=> q < r` surface (ref: src/database.py semantic search
# path) the top-k family doesn't cover: "everything within tau",
# result size data-driven rather than fixed-k.
# ---------------------------------------------------------------------------

_RANGE_TAU = 0.30  # cosine radius; 5-query deterministic batch


@register(
    "ann_range_search",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id, e.label,
         {_COS.format(a="e.embedding", b="q.qvec")} AS similarity
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, label, similarity
FROM scored WHERE similarity >= {_RANGE_TAU}
ORDER BY query_id, similarity DESC, vec_id
""",
    doc=(
        f"Radius (range) similarity search at cosine >= {_RANGE_TAU} "
        "for a broadcast 5-query batch — the unbounded-result "
        "companion to ann_bruteforce's top-k (pgvector's distance-"
        "threshold WHERE clause; recall@radius ground truth for the "
        "LSH/IVF approximate paths). Same scale shape as the batch "
        "ANN family: the query side is a plan-bounded broadcast "
        "(reviewed BNL), the corpus side streams map-only through the "
        "similarity filter — no shuffle at all until the presentation "
        "sort; exact DECIMAL(6,4) similarities make the threshold "
        "edge deterministic cross-engine (SURVEY §2.F)."
    ),
)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "label",
            cosine_rounded(F.col("embedding"), F.col("qvec")).alias("similarity"),
        )
        .where(F.col("similarity") >= _RANGE_TAU)
        .orderBy("query_id", F.desc("similarity"), "vec_id")
    )


# ---------------------------------------------------------------------------
# rbo_rankers (round 8): rank-biased overlap between the exact-cosine
# and dot-product rankers — metric-choice sensitivity in RANK space
# (score_rank_corr correlates scores; RBO compares the lists users
# actually see, top-weighted).
# ---------------------------------------------------------------------------

_RBO_P, _RBO_K = 0.9, 20


def _rbo_weights() -> list[str]:
    """w(m) = (1-p) * sum_{d=m..K} p^(d-1)/d, rounded to 6dp — the
    per-document RBO contribution for agreement depth m = max(rank_a,
    rank_b). Computed once in Python and injected as the SAME decimal
    literals into both engines, so the sum is exact and order-free."""
    ws = []
    for m in range(1, _RBO_K + 1):
        w = (1 - _RBO_P) * sum(_RBO_P ** (d - 1) / d for d in range(m, _RBO_K + 1))
        ws.append(f"{round(w, 6):.6f}")
    return ws


def _rbo_oracle() -> str:
    from email_etl_spark.functions.vectors import _duckdb_dot

    dot_sql = _duckdb_dot("e.embedding", "q.qvec")
    wlits = ", ".join(_rbo_weights())
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
           ORDER BY {_COS.format(a="e.embedding", b="q.qvec")} DESC, e.vec_id) AS r_cos,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
           ORDER BY ROUND({dot_sql}, 4) DESC, e.vec_id) AS r_dot
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
),
agree AS (
  SELECT query_id, GREATEST(r_cos, r_dot) AS m
  FROM scored WHERE r_cos <= {_RBO_K} AND r_dot <= {_RBO_K}
),
w AS (
  SELECT query_id, COUNT(*) AS n_common,
         SUM(CAST([{wlits}][m] AS DECIMAL(18,6))) AS s
  FROM agree GROUP BY query_id
)
SELECT q.query_id, CAST(COALESCE(w.n_common, 0) AS BIGINT) AS n_common,
       ROUND(CAST(COALESCE(w.s, 0) AS DOUBLE), 4) AS rbo
FROM q LEFT JOIN w ON q.query_id = w.query_id
ORDER BY q.query_id
"""


@register(
    "rbo_rankers",
    oracle=_rbo_oracle(),
    doc=(
        f"Rank-biased overlap (Webber et al. 2010) at p={_RBO_P}, "
        f"depth K={_RBO_K}, between the exact-cosine and dot-product "
        "rankers per query — does skipping normalization (the cheap "
        "serving shortcut) change what the top of the list looks "
        "like? Top-weighted where Spearman/Kendall are not, and "
        "defined on partial lists. Distributed identity: RBO_trunc = "
        "sum over common docs of w(max(rank_a, rank_b)) with w a "
        "K-entry plan-constant table — the per-depth overlap sum "
        "telescopes per document, so no per-depth pass; identical "
        "6dp-decimal weight literals injected into both engines make "
        "the per-query sum exact and order-free. Rankings are two "
        "windows over the same broadcast-query scored stream "
        "(one scan) (SURVEY §2.F)."
    ),
)
def rbo_rankers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from email_etl_spark.functions.vectors import dot

    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_rounded(F.col("embedding"), F.col("qvec")).alias("cos4"),
            F.round(dot(F.col("embedding"), F.col("qvec")), 4).alias("dot4"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("cos4"), "vec_id")
    wd = Window.partitionBy("query_id").orderBy(F.desc("dot4"), "vec_id")
    ranked = scored.select(
        "query_id",
        F.row_number().over(wc).alias("r_cos"),
        F.row_number().over(wd).alias("r_dot"),
    )
    wlits = ", ".join(_rbo_weights())
    both = ranked.where(
        (F.col("r_cos") <= _RBO_K) & (F.col("r_dot") <= _RBO_K)
    ).select("query_id", F.greatest("r_cos", "r_dot").alias("m"))
    w = both.groupBy("query_id").agg(
        F.count("*").alias("n_common"),
        F.sum(
            F.expr(f"cast(array({wlits})[m - 1] as decimal(18,6))")
        ).alias("s"),
    )
    return (
        q.select("query_id")
        .join(w, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_common", F.lit(0)).cast("bigint").alias("n_common"),
            F.round(F.coalesce(F.col("s"), F.lit(0)).cast("double"), 4).alias("rbo"),
        )
        .orderBy("query_id")
    )


def _range_lsh_oracle() -> str:
    sig_cols_e = ", ".join(
        f"{_sig_sql('embedding', t)} AS sig{t}" for t in range(LSH_TABLES)
    )
    collide = " OR ".join(f"e.sig{t} = q.sig{t}" for t in range(LSH_TABLES))
    cos = _COS.format(a="e.embedding", b="q.qvec")
    return f"""
WITH e AS (SELECT vec_id, embedding, {sig_cols_e} FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qvec, {sig_cols_e}
      FROM embeddings WHERE vec_id < 5),
exact AS (
  SELECT q.query_id, COUNT(*) AS n_exact
  FROM e CROSS JOIN q
  WHERE e.vec_id <> q.query_id AND {cos} >= {_RANGE_TAU}
  GROUP BY q.query_id
),
cand AS (
  SELECT q.query_id, e.vec_id, {cos} AS sim
  FROM e JOIN q ON ({collide})
  WHERE e.vec_id <> q.query_id
),
found AS (
  SELECT query_id, COUNT(*) AS n_candidates,
         COUNT(*) FILTER (WHERE sim >= {_RANGE_TAU}) AS n_found
  FROM cand GROUP BY query_id
)
SELECT q.query_id,
       CAST(COALESCE(exact.n_exact, 0) AS BIGINT) AS n_exact,
       CAST(COALESCE(found.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(found.n_found, 0) AS BIGINT) AS n_found,
       CAST(CASE WHEN COALESCE(exact.n_exact, 0) = 0 THEN 10000
            ELSE COALESCE(found.n_found, 0) * 10000 // exact.n_exact END AS BIGINT)
           AS recall_bps
FROM q LEFT JOIN exact ON q.query_id = exact.query_id
       LEFT JOIN found ON q.query_id = found.query_id
ORDER BY q.query_id
"""


@register(
    "range_lsh_recall",
    oracle=_range_lsh_oracle(),
    doc=(
        f"Recall@radius of the sign-LSH bucket index against "
        f"ann_range_search's exact ground truth (cosine >= {_RANGE_TAU}, "
        "5-query batch): candidates = vectors sharing ANY of the 4 "
        "table signatures with the query (the ann_lsh convention), "
        "verified inside the collided set — reported per query as "
        "exact-set size, candidate volume, found count and exact-bps "
        "recall. This is the eval that says whether the bucket-"
        "partitioned range path can replace the brute-force scan on a "
        "given corpus. Candidate discovery is the same (t, key) "
        "equality join as ann_lsh (bucket-pruned reads at scale, "
        "never a corpus scan); only the tiny ground-truth side uses "
        "the reviewed broadcast-batch BNL (SURVEY §2.F)."
    ),
)
def range_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    buckets = _lsh_buckets(emb)
    qb = buckets.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "t", "key"
    )
    cand_ids = (
        buckets.join(F.broadcast(qb), ["t", "key"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_rounded(F.col("embedding"), F.col("qvec")).alias("sim"),
        )
    )
    exact = (
        scored.where(F.col("sim") >= _RANGE_TAU)
        .groupBy("query_id")
        .agg(F.count("*").alias("n_exact"))
    )
    found = (
        cand_ids.join(scored, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum(
                F.when(F.col("sim") >= _RANGE_TAU, 1).otherwise(0)
            ).alias("n_found"),
        )
    )
    return (
        q.select("query_id")
        .join(exact, "query_id", "left")
        .join(found, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_exact", F.lit(0)).cast("bigint").alias("n_exact"),
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias("n_candidates"),
            F.coalesce("n_found", F.lit(0)).cast("bigint").alias("n_found"),
            F.expr(
                "cast(case when coalesce(n_exact, 0) = 0 then 10000 "
                "else coalesce(n_found, 0) * 10000 div n_exact end as bigint)"
            ).alias("recall_bps"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# binary_quant_recall — 1-bit sign quantization recall eval.
# ---------------------------------------------------------------------------

_BQ_K = 10
_BQ_QUERIES = 5


def _bq_half_sql(col: str, lo: int) -> str:
    # pack dims [lo, lo+32) of the embedding into one BIGINT of sign
    # bits (1-based list indexing; weight 2^(31-j) for local offset j)
    return (
        f"list_sum(list_transform(range(1, 33), i -> "
        f"CAST(CASE WHEN {col}[i + {lo}] > 0 THEN 1 ELSE 0 END AS BIGINT)"
        f" * (1::BIGINT << (32 - i))))"
    )


def _bq_oracle() -> str:
    cos = duckdb_cosine("c.embedding", "q.embedding")
    ham = (
        "bit_count(xor(cb.h1, qb.h1)) + bit_count(xor(cb.h2, qb.h2))"
    )
    return f"""
WITH bits AS (
  SELECT vec_id, {_bq_half_sql("embedding", 0)} AS h1,
         {_bq_half_sql("embedding", 32)} AS h2
  FROM embeddings
),
exact_rank AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id ORDER BY {cos} DESC, c.vec_id ASC
         ) AS rk
  FROM embeddings c JOIN embeddings q
    ON q.vec_id < {_BQ_QUERIES} AND c.vec_id <> q.vec_id
),
ham_rank AS (
  SELECT qb.vec_id AS query_id, cb.vec_id, {ham} AS hamming,
         ROW_NUMBER() OVER (
           PARTITION BY qb.vec_id ORDER BY {ham} ASC, cb.vec_id ASC
         ) AS rk
  FROM bits cb JOIN bits qb
    ON qb.vec_id < {_BQ_QUERIES} AND cb.vec_id <> qb.vec_id
)
SELECT e.query_id,
       CAST(COUNT(h.vec_id) AS BIGINT) AS n_hits,
       CAST(COUNT(h.vec_id) * 10000 // {_BQ_K} AS BIGINT) AS recall_bps,
       (SELECT CAST(SUM(hamming) AS BIGINT) FROM ham_rank h2
        WHERE h2.query_id = e.query_id AND h2.rk <= {_BQ_K}) AS ham_sum
FROM exact_rank e
LEFT JOIN ham_rank h
  ON h.query_id = e.query_id AND h.vec_id = e.vec_id AND h.rk <= {_BQ_K}
WHERE e.rk <= {_BQ_K}
GROUP BY e.query_id
ORDER BY e.query_id
"""


@register(
    "binary_quant_recall",
    oracle=_bq_oracle(),
    doc=(
        "Recall@10 of 1-bit SIGN quantization — each 64-dim embedding "
        "compressed 32x to 64 sign bits packed into two BIGINT halves, "
        "neighbors ranked by XOR-popcount Hamming distance and scored "
        "against the exact cosine top-10 (first 5 corpus vectors as "
        "the query batch, the ann_recall_eval convention). This is "
        "the eval behind binary-embedding deployments (Hamming on "
        "packed bits is the cheapest possible distance kernel: two "
        "xor+popcnt per candidate), and it is distinct from ann_lsh's "
        "hyperplane signatures: no projection, the raw dimension "
        "signs ARE the code. Everything ordinal is exact integers — "
        "bit packing by comparison+shift, Hamming via bit_count(xor), "
        "vec_id tiebreaks; ties in the exact ranking use the shared "
        "4-dp cosine grid. Scale shape: the bit table is one "
        "projection of the corpus scan (64 bits/vector: 100 TB of "
        "fp32 embeddings -> ~3 TB of codes); ranking joins broadcast "
        "the 5-row query batch, never corpus x corpus "
        "(SURVEY §2.F)."
    ),
)
def binary_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    half1 = sum(
        (
            F.when(F.col("embedding")[i] > 0, 1).otherwise(0) * (1 << (31 - i))
            for i in range(32)
        ),
        F.lit(0),
    )
    half2 = sum(
        (
            F.when(F.col("embedding")[i + 32] > 0, 1).otherwise(0)
            * (1 << (31 - i))
            for i in range(32)
        ),
        F.lit(0),
    )
    bits = emb.select(
        "vec_id", half1.cast("bigint").alias("h1"), half2.cast("bigint").alias("h2")
    )
    q = emb.where(F.col("vec_id") < _BQ_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    ew = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("vec_id"))
    exact_top = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_rounded(F.col("embedding"), F.col("qvec")).alias("similarity"),
        )
        .withColumn("rk", F.row_number().over(ew))
        .where(F.col("rk") <= _BQ_K)
        .select("query_id", "vec_id")
    )
    qb = bits.where(F.col("vec_id") < _BQ_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("h1").alias("q1"),
        F.col("h2").alias("q2"),
    )
    ham = (
        F.bit_count(F.col("h1").bitwiseXOR(F.col("q1")))
        + F.bit_count(F.col("h2").bitwiseXOR(F.col("q2")))
    )
    hw = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("vec_id"))
    ham_top = (
        bits.crossJoin(F.broadcast(qb))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", ham.cast("bigint").alias("hamming"))
        .withColumn("rk", F.row_number().over(hw))
        .where(F.col("rk") <= _BQ_K)
    )
    # ONE pass over both rankings: full-outer join then a single
    # aggregate — consuming ham_top twice (hits + hamming mass) would
    # duplicate its window subtree into an extra corpus pass
    joined = exact_top.withColumn("e", F.lit(1)).join(
        ham_top.select("query_id", "vec_id", "hamming").withColumn("h", F.lit(1)),
        ["query_id", "vec_id"],
        "full_outer",
    )
    return (
        joined.groupBy("query_id")
        .agg(
            F.sum(
                F.when((F.col("e") == 1) & (F.col("h") == 1), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_hits"),
            F.sum(F.when(F.col("h") == 1, F.col("hamming")))
            .cast("bigint")
            .alias("ham_sum"),
        )
        .select(
            "query_id",
            "n_hits",
            F.expr(f"(n_hits * 10000L) div {_BQ_K}").cast("bigint").alias(
                "recall_bps"
            ),
            "ham_sum",
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# rm3_expansion — relevance-model (RM3) expansion-term weights.
# ---------------------------------------------------------------------------

_RM3_OUT_TERMS = 10


def _rm3_oracle() -> str:
    from email_etl_spark.functions.text import STOPWORDS

    stop = ", ".join(f"'{w}'" for w in sorted(STOPWORDS))
    qterms = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    tf_sql = " + ".join(
        f"len(list_filter(toks, x -> x = '{t}'))" for t in QUERY_TERMS
    )
    qw = 1_000_000 // len(QUERY_TERMS)
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
base AS (
  SELECT doc_id, toks,
         CAST({tf_sql} AS BIGINT) AS tf,
         CAST(len(toks) AS BIGINT) AS n
  FROM t
),
fb AS (SELECT * FROM base
       ORDER BY (20000 * tf + (n + 1)) // (2 * (n + 1)) DESC, doc_id
       LIMIT {_PRF_DOCS}),
ft AS (SELECT fb.doc_id, fb.n, u.tok FROM fb, unnest(fb.toks) AS u(tok)),
ct AS (SELECT doc_id, n, tok, COUNT(*) AS c FROM ft GROUP BY 1, 2, 3),
w AS (
  SELECT tok,
         CAST(COUNT(*) AS BIGINT) AS fb_df,
         CAST(SUM((1000000 * c) // n) AS BIGINT) AS rm1_e6
  FROM ct WHERE tok NOT IN ({stop}) GROUP BY tok
)
SELECT tok, fb_df, rm1_e6,
       CAST((CASE WHEN tok IN ({qterms}) THEN {qw} ELSE 0 END + rm1_e6) // 2
            AS BIGINT) AS rm3_e6
FROM w ORDER BY rm1_e6 DESC, tok LIMIT {_RM3_OUT_TERMS}
"""


@register(
    "rm3_expansion",
    oracle=_rm3_oracle(),
    doc=(
        "RM3 relevance-model query expansion — the language-modeling "
        "twin of rocchio_expansion (which moves a vector-space "
        "centroid; this estimates a TERM DISTRIBUTION): P(w|R) = "
        "sum over the top-10 feedback docs of tf_wd/|d| with uniform "
        "doc prior (RM1), then interpolated 50/50 with the uniform "
        "original-query model (RM3; query terms get 10^6/|Q| e6, "
        "everything else 0). Output: top-10 candidate terms with "
        "feedback df, rm1_e6 and rm3_e6 weights. Exact integers "
        "end-to-end: per-(doc,term) contribution is the truncating "
        "(10^6*tf) div |d| BEFORE the order-free cross-doc sum, so "
        "distributed summation cannot diverge from the oracle; the "
        "feedback ranking reuses rocchio's half-up e4 tf/(n+1) "
        "contract. Scale shape: ONE corpus scan for the base ranking "
        "(TakeOrdered top-10), then every aggregate runs over the "
        "10-doc feedback set's exploded tokens — expansion cost is "
        "independent of corpus size (SURVEY §2.C)."
    ),
)
def rm3_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from email_etl_spark.functions.text import STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    tf = None
    for term in QUERY_TERMS:
        cnt = F.size(F.filter(F.col("toks"), (lambda tt: lambda x: x == tt)(term)))
        tf = cnt if tf is None else tf + cnt
    base = t.select(
        "doc_id",
        "toks",
        tf.cast("bigint").alias("tf"),
        F.size("toks").cast("bigint").alias("n"),
    )
    base_e4 = F.expr("(20000 * tf + (n + 1)) div (2 * (n + 1))")
    fb = base.orderBy(F.desc(base_e4), "doc_id").limit(_PRF_DOCS)
    ct = (
        fb.select("doc_id", "n", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "n", "tok")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    w = (
        ct.where(~F.col("tok").isin(sorted(STOPWORDS)))
        .groupBy("tok")
        .agg(
            F.count("*").cast("bigint").alias("fb_df"),
            F.sum(F.expr("(1000000 * c) div n")).cast("bigint").alias("rm1_e6"),
        )
    )
    qw = 1_000_000 // len(QUERY_TERMS)
    return (
        w.select(
            "tok",
            "fb_df",
            "rm1_e6",
            F.expr(
                f"(CASE WHEN tok IN ({', '.join(repr(t) for t in QUERY_TERMS)})"
                f" THEN {qw} ELSE 0 END + rm1_e6) div 2"
            )
            .cast("bigint")
            .alias("rm3_e6"),
        )
        .orderBy(F.desc("rm1_e6"), "tok")
        .limit(_RM3_OUT_TERMS)
    )
