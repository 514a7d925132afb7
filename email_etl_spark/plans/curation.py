"""Training-data curation queries (SURVEY.md §2.L extension).

The ops a 100 TB pretraining pipeline runs after dedup/quality
filtering: deterministic split assignment, stratified sampling,
benchmark decontamination, and sequence-packing budgeting. All
splits/samples hash on md5(doc_id) so any engine reproduces the
assignment bit-for-bit (same convention as functions/hashing.py) and
re-runs are stable under repartitioning — no RNG state anywhere.

Scale notes:
- split/sample/pack are scan + single groupBy rollups: partial
  aggregation means the shuffle carries only (group × partition)
  rows at 100 TB.
- decontaminate broadcasts the *benchmark* shingle set (benchmarks
  are small by construction — MBs even when the corpus is 100 TB)
  and streams the corpus through a broadcast semi-join: no shuffle
  of the big side at all.

Reference surface: skip-already-processed dedup + incremental curation
in etl_pipeline.py (src/etl_pipeline.py:60-104) generalized to the
training-data case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from email_etl_spark.cache import memo
from email_etl_spark.functions import hashing as H
from email_etl_spark.functions import text as T
from email_etl_spark.io import load_table, parallelize_scan
from email_etl_spark.plans.registry import register

_TOKS = "list_filter(str_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

# hex-prefix thresholds: uniform md5 → first 2 hex chars < 'e6' keeps
# 230/256 ≈ 89.8%, < 'f3' keeps 243/256 ≈ 94.9%.
_TRAIN_HI = "e6"
_VAL_HI = "f3"
_SAMPLE_HI = "33"  # 51/256 ≈ 19.9%


def _hash2(prefix: str, col: F.Column) -> F.Column:
    return F.substring(F.md5(F.concat(F.lit(prefix), col.cast("string"))), 1, 2)


@register(
    "train_val_split",
    oracle=f"""
WITH t AS (
  SELECT substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) AS h, n_chars
  FROM documents
)
SELECT CASE WHEN h < '{_TRAIN_HI}' THEN 'train'
            WHEN h < '{_VAL_HI}' THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM t GROUP BY 1 ORDER BY 1
""",
    doc="Deterministic hash-based train/val/test assignment (90/5/5) — "
    "stable under reshuffles and re-runs, no RNG (curation op; "
    "ref: skip-processed idempotence, src/etl_pipeline.py:60-78).",
)
def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = _hash2("split:", F.col("doc_id"))
    split = (
        F.when(h < _TRAIN_HI, "train").when(h < _VAL_HI, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("split")
    )


@register(
    "stratified_sample",
    oracle=f"""
WITH t AS (
  SELECT lang, substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 2) AS h
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN h < '{_SAMPLE_HI}' THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM t GROUP BY lang ORDER BY lang
""",
    doc="Per-language deterministic ~20% sample (hash-threshold, not "
    "RNG) — the stratified downsampling step of corpus mixing; "
    "exact reproducibility across engines and re-runs.",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keep = (_hash2("samp:", F.col("doc_id")) < _SAMPLE_HI).cast("long")
    return (
        docs.select("lang", keep.alias("keep"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_total"), F.sum("keep").cast("bigint").alias("n_sampled"))
        .orderBy("lang")
    )


@register(
    "decontaminate",
    oracle="""
WITH tok AS (
  SELECT doc_id, list_filter(str_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 5
              THEN list_distinct(list_transform(range(1, len(toks) - 3),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))
              ELSE [array_to_string(toks, ' ')] END AS sh,
         substr(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_bench
  FROM tok
),
bench AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE is_bench),
tr AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE NOT is_bench)
SELECT DISTINCT tr.doc_id FROM tr JOIN bench USING (s) ORDER BY doc_id
""",
    doc="Benchmark decontamination: flag corpus docs sharing any word "
    "5-gram with a held-out benchmark set (~1/16 of docs by hash). "
    "Benchmark shingles broadcast; corpus side is a streamed "
    "semi-join — no big-side shuffle at 100 TB.",
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    is_bench = (
        F.substring(F.md5(F.concat(F.lit("bench:"), F.col("doc_id").cast("string"))), 1, 1)
        == "0"
    )
    # cache = the materialization BARRIER: without it CollapseProject
    # inlines the tokenizer back into the shingle lambda and the scan
    # re-tokenizes per element (measured 26s -> 5s at sf0.1; the
    # _lsh_verified_pairs convention, enforced by test_plan_guard)
    sh = toks.select(
        "doc_id", H.shingles(F.col("toks"), k=5).alias("sh"), is_bench.alias("is_bench")
    ).cache()
    bench_sh = (
        sh.where("is_bench").select(F.explode("sh").alias("s")).distinct()
    )
    return (
        sh.where(~F.col("is_bench"))
        .select("doc_id", F.explode("sh").alias("s"))
        .join(F.broadcast(bench_sh), "s", "leftsemi")
        .select("doc_id")
        .distinct()
        .orderBy("doc_id")
    )


@register(
    "seq_pack_estimate",
    oracle=f"""
WITH t AS (SELECT lang, len({_TOKS}) AS n FROM documents)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN n > 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow_docs,
       CAST(CEIL(CAST(SUM(n) AS DOUBLE) / 256.0) AS BIGINT) AS n_seqs_packed,
       CAST(SUM(CAST(CEIL(CAST(n AS DOUBLE) / 256.0) AS BIGINT)) AS BIGINT) AS n_seqs_padded
FROM t GROUP BY lang ORDER BY lang
""",
    doc="Sequence-packing budget per language for a 256-token context: "
    "concatenation lower bound vs one-doc-per-sequence padding cost "
    "(training-batch planning over token_count).",
)
def seq_pack_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = T.token_count(F.col("text"))
    return (
        docs.select("lang", n.alias("n"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n").cast("bigint").alias("total_tokens"),
            F.sum((F.col("n") > 256).cast("long")).cast("bigint").alias("n_overflow_docs"),
            F.ceil(F.sum("n").cast("double") / F.lit(256.0)).cast("bigint").alias("n_seqs_packed"),
            F.sum(F.ceil(F.col("n").cast("double") / F.lit(256.0)).cast("bigint")).cast("bigint").alias("n_seqs_padded"),
        )
        .orderBy("lang")
    )


QUALITY_CUT = 0.5


@register(
    "curation_funnel",
    oracle=None,  # assembled below after plans.text imports resolve
    doc="",
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation filter funnel in ONE scan: raw count → lang filter →
    quality filter → distinct surviving fingerprints, as conditional
    aggregates (no per-stage passes; countDistinct shuffles only the
    surviving fingerprint keys)."""
    docs = load_table(spark, sf_dir, "documents")
    q = T.quality_score(F.col("text"))
    lang_ok = F.col("lang") == "en"
    qual_ok = lang_ok & (q >= QUALITY_CUT)
    fp = T.fingerprint(F.col("text"))
    return docs.agg(
        F.count("*").alias("n_raw"),
        F.sum(lang_ok.cast("bigint")).alias("n_lang_ok"),
        F.sum(qual_ok.cast("bigint")).alias("n_quality_ok"),
        F.countDistinct(F.when(qual_ok, fp)).alias("n_unique"),
    )


def _funnel_oracle() -> str:
    from email_etl_spark.plans.text import _PUNCT, _stop_sql, _TOKS  # noqa: F401

    qsql = (
        f"ROUND(0.4 * LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0)"
        f" + 0.3 * LEAST(4.0 * {_stop_sql(T.STOPWORDS)} / GREATEST(CAST(len({_TOKS}) AS DOUBLE), 1.0), 1.0)"
        f" + 0.3 * (1.0 - LEAST(4.0 * {_PUNCT} / GREATEST(CAST(length(text) AS DOUBLE), 1.0), 1.0)), 4)"
    )
    return f"""
WITH t AS (
  SELECT lang = 'en' AS lang_ok,
         lang = 'en' AND {qsql} >= {QUALITY_CUT} AS qual_ok,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM documents
)
SELECT COUNT(*) AS n_raw,
       CAST(SUM(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_ok,
       CAST(SUM(CASE WHEN qual_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok,
       COUNT(DISTINCT CASE WHEN qual_ok THEN fp END) AS n_unique
FROM t
"""


# late-bind the oracle (it reuses plans.text SQL fragments; building it
# at decoration time would be an import cycle)
from email_etl_spark.plans.registry import REGISTRY as _R  # noqa: E402
import dataclasses as _dc  # noqa: E402

_R["curation_funnel"] = _dc.replace(
    _R["curation_funnel"],
    oracle=_funnel_oracle(),
    doc=(
        "Curation filter funnel (raw → lang → quality → unique) as one "
        "scan of conditional aggregates — the etl_pipeline stats surface "
        "generalized to training-data filtering (SURVEY §2.L)."
    ),
)


_FUZZY_DECON_THRESHOLD = 0.6  # 3-gram Jaccard
_FUZZY_DECON_THR_BPS = 6000   # the same cut on the exact integer j_bps contract


def _bench_flagged_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuzzy_decontaminate's cached (doc_id, sh, is_bench) table,
    memoized per corpus dir: repeated calls in one long-lived session
    reuse one pinned handle instead of accumulating them (ADVICE r6)."""

    def build():
        docs = load_table(spark, sf_dir, "documents")
        toks = parallelize_scan(docs).select(
            "doc_id", T.tokens(F.col("text")).alias("toks")
        )
        is_bench = (
            F.substring(
                F.md5(F.concat(F.lit("bench:"), F.col("doc_id").cast("string"))), 1, 1
            )
            == "0"
        )
        return toks.select(
            "doc_id",
            H.shingles(F.col("toks"), k=3).alias("sh"),
            is_bench.alias("is_bench"),
        ).cache()

    return memo(spark, "decon_sh", sf_dir, build=build)


@register(
    "fuzzy_decontaminate",
    headline=True,
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_distinct(list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
              ELSE [array_to_string(toks, ' ')] END AS sh,
         substr(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_bench
  FROM tok
)
SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
       CAST((20000 * len(list_intersect(t.sh, b.sh))
             + (len(t.sh) + len(b.sh) - len(list_intersect(t.sh, b.sh))))
            // (2 * (len(t.sh) + len(b.sh) - len(list_intersect(t.sh, b.sh))))
            AS BIGINT) AS j_bps
FROM sh t JOIN sh b ON NOT t.is_bench AND b.is_bench
WHERE (20000 * len(list_intersect(t.sh, b.sh))
       + (len(t.sh) + len(b.sh) - len(list_intersect(t.sh, b.sh))))
      // (2 * (len(t.sh) + len(b.sh) - len(list_intersect(t.sh, b.sh))))
      >= {_FUZZY_DECON_THR_BPS}
ORDER BY train_id, bench_id
""",
    doc=(
        "Fuzzy benchmark decontamination: near-duplicate (not just "
        "exact-n-gram) overlap between the training corpus and the "
        "held-out benchmark split, the guard against paraphrased eval "
        "leakage. Cross-set MinHash+LSH: both sides get array-local "
        "minhash signatures, candidates come from an EQUALITY join on "
        "(band, key) — a shuffle join, because unlike exact "
        "decontaminate's tiny shingle set, a hash-defined bench split "
        "scales with the corpus and must never be broadcast — and "
        "only bucket-colliding train×bench pairs are exact-Jaccard "
        "verified (no broadcast hints anywhere on the path — AQE picks "
        "the join strategy from runtime sizes). "
        "Oracle is the exact all-pairs cross-set scan; LSH recall at "
        "the corpus's J>=0.8 near-dup floor is ~1 (functions/hashing.py)."
    ),
)
def fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _bench_flagged_shingles(spark, sf_dir)

    # candidate-only lanes (r10): the lanes never reach the output —
    # only bucket-colliding pairs survive to exact verification — so
    # the cheap xxhash64 integer band keys replace the md5 ones
    # (functions/hashing.py::cand_bands, one module-cached expression;
    # same recall curve, no per-call py4j tree construction)
    buckets = sh.select("doc_id", "is_bench", F.explode(H.cand_bands("sh")).alias("bk")).select(
        "doc_id", "is_bench", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    train_b = buckets.where(~F.col("is_bench")).select(
        F.col("doc_id").alias("train_id"), "band", "key"
    )
    bench_b = buckets.where(F.col("is_bench")).select(
        F.col("doc_id").alias("bench_id"), "band", "key"
    )
    cand = train_b.join(bench_b, ["band", "key"]).select("train_id", "bench_id").distinct()

    # no broadcast hint on the candidate pairs: cross-set collisions are
    # corpus-proportional on template-heavy corpora (see
    # _lsh_verified_pairs in plans/dedup.py); AQE broadcasts when small
    sht = sh.select(F.col("doc_id").alias("train_id"), F.col("sh").alias("sh_t"))
    shb = sh.select(F.col("doc_id").alias("bench_id"), F.col("sh").alias("sh_b"))
    # lossless size prefilter before the intersect (the
    # _verified_pairs_from_shingles bound): j_bps ≥ thr ⟺ 20000·i ≥
    # (2·thr−1)·u and i ≤ min, u ≥ max — size-incompatible candidates
    # can never pass, so they skip the O(|A|+|B|) intersect
    sized = (
        cand
        .join(sht, "train_id")
        .join(shb, "bench_id")
        .select(
            "train_id",
            "bench_id",
            "sh_t",
            "sh_b",
            F.size("sh_t").cast("bigint").alias("nt"),
            F.size("sh_b").cast("bigint").alias("nb"),
        )
        .where(
            F.lit(20000).cast("bigint") * F.least("nt", "nb")
            >= F.lit(2 * _FUZZY_DECON_THR_BPS - 1).cast("bigint") * F.greatest("nt", "nb")
        )
        .select(
            "train_id",
            "bench_id",
            F.size(F.array_intersect("sh_t", "sh_b")).cast("bigint").alias("n_inter"),
            "nt",
            "nb",
        )
        .withColumn("un", F.col("nt") + F.col("nb") - F.col("n_inter"))
    )
    # exact half-up integer j_bps off the BIGINT set sizes — the
    # plans/dedup.py pair contract (no ROUND over a double quotient)
    jac = F.expr("(20000L * n_inter + un) div (2L * un)")
    return (
        sized.select("train_id", "bench_id", jac.alias("j_bps"))
        .where(F.col("j_bps") >= _FUZZY_DECON_THR_BPS)
        .orderBy("train_id", "bench_id")
    )


@register(
    "mixture_weights",
    oracle=f"""
WITH s AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
r AS (
  SELECT *, CAST(ROUND(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(18,6)) AS w_raw
  FROM s
),
t AS (SELECT SUM(w_raw) AS w_total FROM r)
SELECT source, n_docs, n_tokens,
       CAST((2000000 * CAST(CAST(w_raw * 1000000 AS BIGINT) AS HUGEINT)
             + CAST(CAST(w_total * 1000000 AS BIGINT) AS HUGEINT))
            // (2 * CAST(CAST(w_total * 1000000 AS BIGINT) AS HUGEINT))
            AS BIGINT) AS weight_ppm
FROM r CROSS JOIN t ORDER BY source
""",
    doc=(
        "Training-mixture weights with temperature sampling: per-source "
        "token counts re-weighted by n^0.5 (alpha=0.5, the standard "
        "upsample-the-tail mixing rule) and normalized to basis "
        "parts-per-million. The per-source sqrt is rounded to "
        "DECIMAL(18,6) BEFORE the normalizing sum, so the total — and "
        "therefore every weight — is order-insensitive and bit-stable "
        "at any parallelism; the weight ships as the exact half-up "
        "integer ppm of the two e6-lattice decimals (no double "
        "output). The normalizer is a 1-row broadcast; one "
        "partial-aggregated shuffle total."
    ),
)
def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(T.token_count(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    r = s.withColumn(
        "w_raw", F.round(F.sqrt(F.col("n_tokens").cast("double")), 6).cast("decimal(18,6)")
    )
    t = r.agg(F.sum("w_raw").alias("w_total"))
    return (
        r.crossJoin(F.broadcast(t))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            # exact half-up integer ppm off the e6 decimal lattice
            F.expr(
                "CAST((CAST(2000000 AS DECIMAL(38,0))"
                " * CAST(w_raw * 1000000 AS BIGINT)"
                " + CAST(w_total * 1000000 AS BIGINT))"
                " div (CAST(2 AS DECIMAL(38,0))"
                " * CAST(w_total * 1000000 AS BIGINT)) AS BIGINT)"
            ).alias("weight_ppm"),
        )
        .orderBy("source")
    )


SHARD_BUDGET = 1024  # tokens per export shard
_PREFIX_BUCKET = 256  # contiguous doc_id range per prefix-sum bucket


@register(
    "shard_plan",
    oracle=f"""
WITH t AS (SELECT lang, doc_id, len({_TOKS}) AS n FROM documents),
c AS (
  SELECT lang, doc_id, n,
         COALESCE(SUM(n) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM t
)
SELECT lang,
       CAST(cum_before // {SHARD_BUDGET} AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS shard_tokens,
       MIN(doc_id) AS first_doc_id,
       MAX(doc_id) AS last_doc_id
FROM c GROUP BY 1, 2 ORDER BY lang, shard_id
""",
    doc=(
        "Deterministic token-budgeted export-shard assignment per "
        "language (the planning step behind sinks/jsonl.py): doc k goes "
        "to shard floor(tokens-before-k / budget) in doc_id order. The "
        "prefix sum is computed the SCALABLE way — per contiguous "
        "doc_id-range bucket subtotals, a tiny window over the bucket "
        "totals for cross-bucket offsets (broadcast back), then a "
        "window WITHIN each (lang, bucket) — so no single serial "
        "per-lang window ever scans the corpus; every window partition "
        "is one bounded bucket. The oracle is the equivalent "
        "single-window cumsum, exact at oracle scale."
    ),
)
def shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        "doc_id",
        T.token_count(F.col("text")).alias("n"),
        F.expr(f"doc_id div {_PREFIX_BUCKET}").alias("bucket"),
    )
    # level 1: per-bucket subtotals (tiny: one row per 256-doc range)
    sub = t.groupBy("lang", "bucket").agg(F.sum("n").alias("bucket_tokens"))
    w_off = (
        Window.partitionBy("lang")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sub.select(
        "lang",
        "bucket",
        F.coalesce(F.sum("bucket_tokens").over(w_off), F.lit(0)).alias("offset"),
    )
    # level 2: parallel window inside each bounded bucket
    w_in = (
        Window.partitionBy("lang", "bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = (
        t.join(F.broadcast(offsets), ["lang", "bucket"])
        .select(
            "lang",
            "doc_id",
            "n",
            (F.col("offset") + F.coalesce(F.sum("n").over(w_in), F.lit(0))).alias("cum_before"),
        )
    )
    return (
        c.groupBy("lang", F.expr(f"cum_before div {SHARD_BUDGET}").cast("bigint").alias("shard_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n").cast("bigint").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
        .orderBy("lang", "shard_id")
    )


# --- DSIR importance weights (Xie et al. 2023, public method) --------------

DSIR_BUCKETS = 256
DSIR_TARGET = "lang = 'en' AND source IN ('src0', 'src1')"


@register(
    "dsir_weights",
    oracle=f"""
WITH tok AS (SELECT doc_id, lang, source, {_TOKS} AS toks FROM documents),
bg AS (
  SELECT doc_id, lang, source,
         CAST(('0x' || substr(md5(toks[u.i] || ' ' || toks[u.i + 1]), 1, 4)) AS BIGINT)
           % {DSIR_BUCKETS} AS b
  FROM tok CROSS JOIN UNNEST(range(1, len(toks))) AS u(i)
),
tcnt AS (SELECT b, COUNT(*) AS nt FROM bg WHERE {DSIR_TARGET} GROUP BY b),
rcnt AS (SELECT b, COUNT(*) AS nr FROM bg GROUP BY b),
tn AS (SELECT COUNT(*) AS n_t FROM bg WHERE {DSIR_TARGET}),
rn AS (SELECT COUNT(*) AS n_r FROM bg),
ratio AS (
  SELECT r.b,
         CAST(ROUND(
           LN(CAST((COALESCE(t.nt, 0) + 1) * (rn.n_r + {DSIR_BUCKETS}) AS DOUBLE)
              / ((r.nr + 1) * (tn.n_t + {DSIR_BUCKETS}))), 6) AS DECIMAL(18,6)) AS lr
  FROM rcnt r LEFT JOIN tcnt t USING (b) CROSS JOIN tn CROSS JOIN rn
),
per_doc AS (
  SELECT bg.doc_id,
         COUNT(*) AS n,
         CAST(SUM(ratio.lr) AS DOUBLE) AS lw,
         CAST(SUM(ratio.lr) * 1000000 AS BIGINT) AS s
  FROM bg JOIN ratio USING (b)
  GROUP BY bg.doc_id
)
SELECT doc_id,
       n AS n_feats,
       lw AS log_weight,
       CAST(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
                 ELSE -((2 * (-s) + n) // (2 * n)) END AS DOUBLE) / 1000000
         AS avg_log_ratio
FROM per_doc ORDER BY doc_id
""",
    doc=(
        "DSIR-style importance weights for data selection (Data "
        "Selection via Importance Resampling, Xie et al. 2023, public "
        "method): hashed word-bigram features into "
        f"{DSIR_BUCKETS} md5 buckets, per-bucket add-one-smoothed "
        "probabilities under a TARGET distribution (here the "
        "en/src0+src1 slice as the high-quality proxy) and the RAW "
        "corpus, and per-doc log importance = sum of per-feature "
        "ln(p_target/p_raw). The numerator/denominator fold to ONE "
        "integer-product double ln per bucket; per-feature terms are "
        "pre-rounded to DECIMAL(18,6) before the distributed per-doc "
        "sum (order-insensitive). The 256-row ratio table broadcasts; "
        "shuffles: two bucket counts + the per-doc rollup "
        "(SURVEY §2.L)."
    ),
)
def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # materialize the token array FIRST (the O(rows x positions)
    # re-tokenization pitfall, functions/hashing.py header note)
    is_target = (F.col("lang") == "en") & (F.col("source").isin("src0", "src1"))
    tokd = docs.select(
        "doc_id", is_target.alias("tgt"), T.tokens(F.col("text")).alias("toks")
    )
    toks = F.col("toks")
    bgs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = tokd.select(
        "doc_id",
        "tgt",
        F.explode(bgs).alias("g"),
    ).select(
        "doc_id",
        "tgt",
        (F.conv(F.substring(F.md5(F.col("g")), 1, 4), 16, 10).cast("bigint")
         % DSIR_BUCKETS).alias("b"),
    )
    rcnt = bg.groupBy("b").agg(
        F.count("*").alias("nr"),
        F.sum(F.when(F.col("tgt"), 1).otherwise(0)).alias("nt"),
    )
    tot = bg.agg(
        F.count("*").alias("n_r"),
        F.sum(F.when(F.col("tgt"), 1).otherwise(0)).alias("n_t"),
    )
    ratio = rcnt.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            F.log(
                ((F.col("nt") + 1) * (F.col("n_r") + DSIR_BUCKETS)).cast("double")
                / ((F.col("nr") + 1) * (F.col("n_t") + DSIR_BUCKETS))
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("lr"),
    )
    # avg in exact integer micro-units, half-away-from-zero (the
    # kmeans_codebook _micro_mean_expr convention, plans/search.py):
    # ROUND(sum/n, 6) on doubles splits engines when the quotient
    # lands exactly on a half (first seen at sf0.1, doc 4599)
    per_doc = (
        bg.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("lr").cast("double").alias("lw"),
            (F.sum("lr") * 1000000).cast("bigint").alias("s"),
        )
    )
    micro = (
        "CASE WHEN s >= 0 THEN (2 * s + n) div (2 * n) "
        "ELSE -((2 * (-s) + n) div (2 * n)) END"
    )
    return per_doc.select(
        "doc_id",
        F.col("n").alias("n_feats"),
        F.col("lw").alias("log_weight"),
        (F.expr(micro).cast("double") / 1000000).alias("avg_log_ratio"),
    ).orderBy("doc_id")


@register(
    "contamination_by_benchmark",
    oracle="""
WITH tok AS (
  SELECT doc_id, list_filter(str_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 5
              THEN list_distinct(list_transform(range(1, len(toks) - 3),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))
              ELSE [array_to_string(toks, ' ')] END AS sh,
         substr(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_bench
  FROM tok
),
bench AS (SELECT doc_id AS bench_id, unnest(sh) AS s FROM sh WHERE is_bench),
tr AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE NOT is_bench),
hits AS (
  SELECT b.bench_id,
         COUNT(DISTINCT t.doc_id) AS n_contaminating_docs,
         COUNT(DISTINCT b.s) AS n_leaked_shingles
  FROM bench b JOIN tr t USING (s)
  GROUP BY b.bench_id
),
all_bench AS (SELECT DISTINCT doc_id AS bench_id FROM sh WHERE is_bench)
SELECT a.bench_id,
       CAST(COALESCE(h.n_contaminating_docs, 0) AS BIGINT) AS n_contaminating_docs,
       CAST(COALESCE(h.n_leaked_shingles, 0) AS BIGINT) AS n_leaked_shingles
FROM all_bench a LEFT JOIN hits h USING (bench_id)
ORDER BY bench_id
""",
    doc=(
        "Per-benchmark-item contamination report — the REVERSE view of "
        "decontaminate (which flags corpus docs; eval owners ask the "
        "other direction: WHICH benchmark items leak, through how many "
        "corpus docs, via how many distinct 5-grams). Same shingle kit "
        "and hash-derived benchmark split; the join keys on the shared "
        "shingle (benchmark side tiny and broadcast), the rollup is "
        "map-side combined per bench item; zero-hit items kept via the "
        "left join so the report is total (SURVEY §2.L)."
    ),
)
def contamination_by_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tokd = docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    sh = tokd.select(
        "doc_id",
        H.shingles(F.col("toks"), k=5).alias("sh"),
        (F.substring(F.md5(F.concat(F.lit("bench:"), F.col("doc_id").cast("string"))), 1, 1)
         == "0").alias("is_bench"),
    ).cache()  # materialization barrier — see decontaminate
    bench = sh.where(F.col("is_bench")).select(
        F.col("doc_id").alias("bench_id"), F.explode("sh").alias("s")
    )
    tr = sh.where(~F.col("is_bench")).select("doc_id", F.explode("sh").alias("s"))
    hits = (
        tr.join(F.broadcast(bench), "s")
        .groupBy("bench_id")
        .agg(
            F.countDistinct("doc_id").alias("n_contaminating_docs"),
            F.countDistinct("s").alias("n_leaked_shingles"),
        )
    )
    all_bench = sh.where(F.col("is_bench")).select(F.col("doc_id").alias("bench_id")).distinct()
    return (
        all_bench.join(hits, "bench_id", "left")
        .select(
            "bench_id",
            F.coalesce("n_contaminating_docs", F.lit(0)).cast("bigint").alias("n_contaminating_docs"),
            F.coalesce("n_leaked_shingles", F.lit(0)).cast("bigint").alias("n_leaked_shingles"),
        )
        .orderBy("bench_id")
    )


MIN_TOKENS = 30


@register(
    "filter_ablation",
    oracle=None,  # late-bound below (reuses plans.text SQL fragments)
    doc="",
)
def filter_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-filter ablation of the curation stack: for each filter,
    how many docs it rejects SOLO (failing it, regardless of others)
    and MARGINALLY (failing ONLY it — the docs this filter uniquely
    removes). The planning view that says which filter is doing the
    work and which is redundant. One scan + one fingerprint window
    (the dup flag); everything else is conditional aggregation."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    flags = docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("f_lang"),
        (T.quality_score(F.col("text")) >= QUALITY_CUT).alias("f_q"),
        (T.token_count(F.col("text")) >= MIN_TOKENS).alias("f_len"),
        T.fingerprint(F.col("text")).alias("fp"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    d = flags.withColumn("f_uniq", F.row_number().over(w) == 1)
    names = ["f_lang", "f_q", "f_len", "f_uniq"]
    aggs = []
    for f in names:
        others = [F.col(o) for o in names if o != f]
        all_others = others[0] & others[1] & others[2]
        aggs += [
            F.sum((~F.col(f)).cast("bigint")).alias(f"{f}__solo"),
            F.sum(((~F.col(f)) & all_others).cast("bigint")).alias(f"{f}__marginal"),
        ]
    one = d.agg(*aggs)
    label = {"f_lang": "lang", "f_q": "quality", "f_len": "min_tokens", "f_uniq": "exact_dup"}
    rows = F.array(
        *[
            F.struct(
                F.lit(label[f]).alias("filter"),
                F.col(f"{f}__solo").cast("bigint").alias("n_reject_solo"),
                F.col(f"{f}__marginal").cast("bigint").alias("n_reject_marginal"),
            )
            for f in names
        ]
    )
    return (
        one.select(F.explode(rows).alias("r"))
        .select("r.filter", "r.n_reject_solo", "r.n_reject_marginal")
        .orderBy("filter")
    )


def _ablation_oracle() -> str:
    from email_etl_spark.plans.text import _PUNCT, _stop_sql, _TOKS  # noqa: F401

    qsql = (
        f"ROUND(0.4 * LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0)"
        f" + 0.3 * LEAST(4.0 * {_stop_sql(T.STOPWORDS)} / GREATEST(CAST(len({_TOKS}) AS DOUBLE), 1.0), 1.0)"
        f" + 0.3 * (1.0 - LEAST(4.0 * {_PUNCT} / GREATEST(CAST(length(text) AS DOUBLE), 1.0), 1.0)), 4)"
    )
    sel = []
    names = {"lang": "f_lang", "quality": "f_q", "min_tokens": "f_len", "exact_dup": "f_uniq"}
    for lbl, f in names.items():
        others = " AND ".join(o for o in names.values() if o != f)
        sel.append(
            f"SELECT '{lbl}' AS filter, "
            f"CAST(SUM(CASE WHEN NOT {f} THEN 1 ELSE 0 END) AS BIGINT) AS n_reject_solo, "
            f"CAST(SUM(CASE WHEN NOT {f} AND {others} THEN 1 ELSE 0 END) AS BIGINT) AS n_reject_marginal "
            f"FROM d"
        )
    union = " UNION ALL ".join(sel)
    return f"""
WITH f0 AS (
  SELECT doc_id,
         lang = 'en' AS f_lang,
         {qsql} >= {QUALITY_CUT} AS f_q,
         len({_TOKS}) >= {MIN_TOKENS} AS f_len,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM documents
),
d AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1 AS f_uniq
  FROM f0
)
{union}
ORDER BY filter
"""


_R["filter_ablation"] = _dc.replace(
    _R["filter_ablation"],
    oracle=_ablation_oracle(),
    doc=(
        "Per-filter curation ablation: solo and marginal reject counts "
        "for lang / quality / min-tokens / exact-dup — which filter "
        "does the work, which is redundant (the ablation view next to "
        "curation_funnel's sequential view). One scan + one "
        "fingerprint window; conditional aggregation only "
        "(SURVEY §2.L)."
    ),
)


WS_TOP = 50  # weighted-sample size
_WS_DENOM = 4294967296.0  # 2^32: md5 32-bit lane -> uniform (0, 1]


@register(
    "weighted_sample",
    oracle=f"""
WITH t AS (
  SELECT doc_id, n_chars,
         ln((CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
            / {_WS_DENOM}) / n_chars AS k
  FROM documents
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, ROUND(k * 1000000, 2) AS es_key_micro
FROM t ORDER BY k DESC, doc_id LIMIT {WS_TOP}
""",
    doc=(
        "Deterministic weighted sampling without replacement "
        "(Efraimidis–Spirakis A-Res): each doc draws u in (0,1] from "
        "an md5 lane of its id and keeps key ln(u)/w with w = n_chars; "
        "the global top-50 keys ARE the weighted sample — longer docs "
        "proportionally likelier, yet exactly reproducible across "
        "engines and re-runs (no RNG state). The length-weighted "
        "sampling step of corpus mixing (SURVEY §2.L). One scan + "
        "TakeOrderedAndProject; keys are independent per row so the "
        "selection distributes with no shuffle beyond the top-k "
        "merge."
    ),
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lane = F.conv(
        F.substring(F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    k = F.log((lane + 1) / F.lit(_WS_DENOM)) / F.col("n_chars")
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            k.alias("k"),
        )
        .orderBy(F.desc("k"), "doc_id")
        .limit(WS_TOP)
        .sortWithinPartitions(F.desc("k"), "doc_id")
        .select("doc_id", "n_chars", F.round(F.col("k") * 1000000, 2).alias("es_key_micro"))
    )


def _dataset_card_oracle() -> str:
    from email_etl_spark.plans.text import _PUNCT, _TOKS, _stop_sql

    quality = (
        "0.4 * LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0)"
        f" + 0.3 * LEAST(4.0 * {_stop_sql(T.STOPWORDS)} / GREATEST(CAST(len({_TOKS}) AS DOUBLE), 1.0), 1.0)"
        f" + 0.3 * (1.0 - LEAST(4.0 * {_PUNCT} / GREATEST(CAST(length(text) AS DOUBLE), 1.0), 1.0))"
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang, source,
         length(text) AS nc,
         len({_TOKS}) AS nt,
         CAST(CAST(ROUND({quality}, 4) AS DECIMAL(18,4)) * 10000 AS BIGINT) AS qm,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nc) AS BIGINT) AS total_chars,
       CAST(SUM(nt) AS BIGINT) AS total_tokens,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS en_bps,
       CAST(SUM(qm) * 100 // COUNT(*) AS BIGINT) AS mean_quality_micro,
       CAST((COUNT(*) - COUNT(DISTINCT fp)) * 10000 // COUNT(*) AS BIGINT) AS exact_dup_bps
FROM t
"""


@register(
    "dataset_card",
    oracle=_dataset_card_oracle(),
    doc=(
        "One-row dataset card: docs / chars / tokens / language and "
        "source cardinalities / English share / mean quality / exact-"
        "duplicate rate — the release-notes summary every corpus drop "
        "ships with, composed from the engine's own per-doc "
        "expressions in ONE scan (SURVEY §2.L). Tokenize, quality and "
        "fingerprint project once per row; the distinct counts ride "
        "Spark's multi-distinct expand (one shuffle), everything else "
        "is map-side combined; quality mean is exact integer "
        "micro-units with truncating div in both engines."
    ),
)
def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    qm = (T.quality_score(F.col("text")).cast("decimal(18,4)") * 10000).cast("bigint")
    t = docs.select(
        "lang",
        "source",
        F.length("text").alias("nc"),
        T.token_count(F.col("text")).alias("nt"),
        qm.alias("qm"),
        T.fingerprint(F.col("text")).alias("fp"),
    )
    return t.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("nc").cast("bigint").alias("total_chars"),
        F.sum("nt").cast("bigint").alias("total_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.expr("sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 10000L div count(*)")
        .cast("bigint")
        .alias("en_bps"),
        F.expr("sum(qm) * 100L div count(*)").cast("bigint").alias("mean_quality_micro"),
        (
            (F.count("*") - F.countDistinct("fp")) * 10000
        ).cast("bigint").alias("_dup_tmp"),
    ).select(
        "n_docs",
        "total_chars",
        "total_tokens",
        "n_langs",
        "n_sources",
        "en_bps",
        "mean_quality_micro",
        F.expr("_dup_tmp div n_docs").cast("bigint").alias("exact_dup_bps"),
    )


_LEN_CUTS = (50, 100, 200, 400)


@register(
    "length_filter_curve",
    oracle=f"""
WITH t AS (SELECT len({_TOKS}) AS n FROM documents),
tot AS (SELECT COUNT(*) AS nd, SUM(n) AS nt FROM t),
c AS (SELECT UNNEST([{", ".join(str(c) for c in _LEN_CUTS)}]) AS cut)
SELECT c.cut AS min_tokens,
       CAST(SUM(CASE WHEN t.n >= c.cut THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
       CAST(SUM(CASE WHEN t.n >= c.cut THEN t.n ELSE 0 END) AS BIGINT) AS tokens_kept,
       CAST(SUM(CASE WHEN t.n >= c.cut THEN 1 ELSE 0 END) * 10000 // MAX(tot.nd) AS BIGINT) AS docs_kept_bps,
       CAST(SUM(CASE WHEN t.n >= c.cut THEN t.n ELSE 0 END) * 10000 // MAX(tot.nt) AS BIGINT) AS tokens_kept_bps
FROM t CROSS JOIN c CROSS JOIN tot
GROUP BY c.cut ORDER BY c.cut
""",
    doc=(
        "Minimum-length filter tuning curve: docs and tokens retained "
        "at cutoffs {50,100,200,400} tokens — the survivors-vs-"
        "threshold sweep run before committing a Gopher-style length "
        "rule (the near_dup_rate_curve discipline applied to the "
        "length axis; SURVEY §2.L). ONE tokenize pass; each row "
        "feeds all 4 cutoff cells map-side (conditional sums, no "
        "re-scan per threshold), totals broadcast from a 1-row "
        "aggregate; exact-integer bps."
    ),
)
def length_filter_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(T.token_count(F.col("text")).alias("n"))
    tot = t.agg(
        F.count("*").cast("bigint").alias("nd"), F.sum("n").cast("bigint").alias("nt")
    )
    cuts = F.explode(F.array(*[F.lit(c) for c in _LEN_CUTS])).alias("cut")
    e = t.crossJoin(F.broadcast(tot)).select("n", "nd", "nt").select(
        "n", "nd", "nt", cuts
    )
    return (
        e.groupBy("cut")
        .agg(
            F.sum(F.when(F.col("n") >= F.col("cut"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs_kept"),
            F.sum(F.when(F.col("n") >= F.col("cut"), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("tokens_kept"),
            F.expr("sum(CASE WHEN n >= cut THEN 1 ELSE 0 END) * 10000L div max(nd)")
            .cast("bigint")
            .alias("docs_kept_bps"),
            F.expr("sum(CASE WHEN n >= cut THEN n ELSE 0L END) * 10000L div max(nt)")
            .cast("bigint")
            .alias("tokens_kept_bps"),
        )
        .select(F.col("cut").cast("int").alias("min_tokens"), "n_docs_kept", "tokens_kept", "docs_kept_bps", "tokens_kept_bps")
        .orderBy("min_tokens")
    )


@register(
    "weighted_length_quantiles",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, CAST(len({_TOKS}) AS BIGINT) AS n_tok
  FROM documents
),
c AS (
  SELECT lang, n_tok,
         SUM(n_tok) OVER (PARTITION BY lang ORDER BY n_tok, doc_id) AS cum,
         SUM(n_tok) OVER (PARTITION BY lang) AS total
  FROM t
)
SELECT lang,
       CAST(MAX(total) AS BIGINT) AS total_tokens,
       CAST(MIN(CASE WHEN cum * 2 >= total THEN n_tok END) AS BIGINT) AS wp50_tokens,
       CAST(MIN(CASE WHEN cum * 10 >= total * 9 THEN n_tok END) AS BIGINT) AS wp90_tokens
FROM c GROUP BY lang ORDER BY lang
""",
    doc=(
        "Token-WEIGHTED length percentiles per language: the doc "
        "length at which half (p50) and 90% of the corpus's TOKENS "
        "sit at-or-below — the packing/budget question ('what length "
        "holds half the token mass?') that unweighted doc-count "
        "percentiles (value_percentiles, length_deciles) answer "
        "wrongly because long docs carry disproportionate mass "
        "(SURVEY §2.L). Pure integer rank selection: cumulative token "
        "sums over one per-language sort window with a doc_id "
        "tiebreak, thresholds as integer cross-multiplications "
        "(cum*2 >= total), no interpolation float path; at 100 TB the "
        "per-language window salts/splits like any keyed sort."
    ),
)
def weighted_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    t = docs.select("doc_id", "lang", T.token_count(F.col("text")).cast("bigint").alias("n_tok"))
    wc = (
        Window.partitionBy("lang")
        .orderBy("n_tok", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("lang")
    c = t.select(
        "lang",
        "n_tok",
        F.sum("n_tok").over(wc).alias("cum"),
        F.sum("n_tok").over(wt).alias("total"),
    )
    return (
        c.groupBy("lang")
        .agg(
            F.max("total").cast("bigint").alias("total_tokens"),
            F.min(F.when(F.col("cum") * 2 >= F.col("total"), F.col("n_tok")))
            .cast("bigint")
            .alias("wp50_tokens"),
            F.min(F.when(F.col("cum") * 10 >= F.col("total") * 9, F.col("n_tok")))
            .cast("bigint")
            .alias("wp90_tokens"),
        )
        .orderBy("lang")
    )


_LEAK_PFX_TOKS = 16  # same C4-style prefix key as prefix_dup_rate


@register(
    "split_leakage",
    oracle=f"""
WITH d AS (
  SELECT md5(array_to_string(list_slice(
           list_filter(str_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''),
           1, {_LEAK_PFX_TOKS}), ' ')) AS fp,
         substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) AS h
  FROM documents
),
g AS (
  SELECT fp,
         SUM(CASE WHEN h < '{_TRAIN_HI}' THEN 1 ELSE 0 END) AS n_train,
         SUM(CASE WHEN h >= '{_TRAIN_HI}' AND h < '{_VAL_HI}' THEN 1 ELSE 0 END) AS n_val,
         SUM(CASE WHEN h >= '{_VAL_HI}' THEN 1 ELSE 0 END) AS n_test
  FROM d GROUP BY fp
),
agg AS (
  SELECT
    SUM(n_val) AS val_docs,
    SUM(CASE WHEN n_train > 0 THEN n_val ELSE 0 END) AS val_leaked,
    SUM(CASE WHEN n_train > 0 AND n_val > 0 THEN 1 ELSE 0 END) AS val_groups,
    SUM(n_test) AS test_docs,
    SUM(CASE WHEN n_train > 0 THEN n_test ELSE 0 END) AS test_leaked,
    SUM(CASE WHEN n_train > 0 AND n_test > 0 THEN 1 ELSE 0 END) AS test_groups
  FROM g
)
SELECT * FROM (
  SELECT 'test' AS split, CAST(test_docs AS BIGINT) AS n_docs,
         CAST(test_leaked AS BIGINT) AS n_leaked,
         CAST(test_groups AS BIGINT) AS n_groups_spanning,
         CAST(CASE WHEN test_docs > 0 THEN test_leaked * 10000 // test_docs ELSE 0 END AS BIGINT) AS leak_bps
  FROM agg
  UNION ALL
  SELECT 'val', CAST(val_docs AS BIGINT), CAST(val_leaked AS BIGINT),
         CAST(val_groups AS BIGINT),
         CAST(CASE WHEN val_docs > 0 THEN val_leaked * 10000 // val_docs ELSE 0 END AS BIGINT)
  FROM agg
) ORDER BY split
""",
    doc=(
        "Train/eval split-leakage audit (SURVEY §2.E/§2.K): eval docs "
        "whose 16-token opening prefix also appears in the train split "
        "— the contamination check a pipeline runs AFTER splitting, "
        "because hash-random splits scatter near-duplicate groups "
        "across sides (McCoy et al.; the C4 prefix key reused from "
        "prefix_dup_rate catches templated openings exact-hash dedup "
        "misses). One tokenize pass projects a 16-byte prefix key + "
        "the deterministic split tag (train_val_split's md5, no RNG); "
        "ONE shuffle on the key builds per-group split counts; the "
        "report then collapses to a single partial-aggregated row "
        "exploded into per-eval-split rows — text never shuffles. "
        "Exact-integer leak bps."
    ),
)
def split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.slice(T.tokens(F.col("text")), 1, _LEAK_PFX_TOKS)))
    h = _hash2("split:", F.col("doc_id"))
    d = docs.select(fp.alias("fp"), h.alias("h"))
    g = d.groupBy("fp").agg(
        F.sum(F.when(F.col("h") < _TRAIN_HI, 1).otherwise(0)).alias("n_train"),
        F.sum(F.when((F.col("h") >= _TRAIN_HI) & (F.col("h") < _VAL_HI), 1).otherwise(0)).alias(
            "n_val"
        ),
        F.sum(F.when(F.col("h") >= _VAL_HI, 1).otherwise(0)).alias("n_test"),
    )
    agg = g.agg(
        F.sum("n_val").alias("val_docs"),
        F.sum(F.when(F.col("n_train") > 0, F.col("n_val")).otherwise(0)).alias("val_leaked"),
        F.sum(F.when((F.col("n_train") > 0) & (F.col("n_val") > 0), 1).otherwise(0)).alias(
            "val_groups"
        ),
        F.sum("n_test").alias("test_docs"),
        F.sum(F.when(F.col("n_train") > 0, F.col("n_test")).otherwise(0)).alias("test_leaked"),
        F.sum(F.when((F.col("n_train") > 0) & (F.col("n_test") > 0), 1).otherwise(0)).alias(
            "test_groups"
        ),
    )
    return (
        agg.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("test").alias("split"),
                        F.col("test_docs").cast("bigint").alias("n_docs"),
                        F.col("test_leaked").cast("bigint").alias("n_leaked"),
                        F.col("test_groups").cast("bigint").alias("n_groups_spanning"),
                        F.when(
                            F.col("test_docs") > 0, F.expr("test_leaked * 10000 div test_docs")
                        )
                        .otherwise(0)
                        .cast("bigint")
                        .alias("leak_bps"),
                    ),
                    F.struct(
                        F.lit("val").alias("split"),
                        F.col("val_docs").cast("bigint").alias("n_docs"),
                        F.col("val_leaked").cast("bigint").alias("n_leaked"),
                        F.col("val_groups").cast("bigint").alias("n_groups_spanning"),
                        F.when(F.col("val_docs") > 0, F.expr("val_leaked * 10000 div val_docs"))
                        .otherwise(0)
                        .cast("bigint")
                        .alias("leak_bps"),
                    ),
                )
            ).alias("r")
        )
        .select("r.*")
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# release_gate — one-pass dataset release scorecard.
# ---------------------------------------------------------------------------

# (check, threshold_bps, direction): max = value must be <= threshold,
# min = value must be >= threshold
RELEASE_CHECKS = (
    ("exact_dup_rate", 2000, "max"),
    ("english_share", 5000, "min"),
    ("short_doc_rate", 2000, "max"),
    ("pii_doc_rate", 500, "max"),
)
_SHORT_CHARS = 100


def _release_gate_oracle() -> str:
    from email_etl_spark.plans.text import _PII_EMAIL

    arms = []
    for check, thr, direction in RELEASE_CHECKS:
        op = "<=" if direction == "max" else ">="
        arms.append(
            f"SELECT '{check}' AS check_name, {check} AS value_bps, "
            f"CAST({thr} AS BIGINT) AS threshold_bps, '{direction}' AS direction, "
            f"CAST(CASE WHEN {check} {op} {thr} THEN 1 ELSE 0 END AS BIGINT) AS passed "
            "FROM m"
        )
    melted = "\n  UNION ALL ".join(arms)
    return f"""
WITH m AS (
  SELECT CAST((COUNT(*) - COUNT(DISTINCT md5(text))) * 10000 // COUNT(*) AS BIGINT)
           AS exact_dup_rate,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT)
           AS english_share,
         CAST(SUM(CASE WHEN n_chars < {_SHORT_CHARS} THEN 1 ELSE 0 END) * 10000 // COUNT(*)
              AS BIGINT) AS short_doc_rate,
         CAST(SUM(CASE WHEN regexp_matches(text, '{_PII_EMAIL}') THEN 1 ELSE 0 END)
              * 10000 // COUNT(*) AS BIGINT) AS pii_doc_rate
  FROM documents
)
SELECT * FROM ({melted}) ORDER BY check_name
"""


@register(
    "release_gate",
    oracle=_release_gate_oracle(),
    doc=(
        "Dataset release scorecard — the single table a data-release "
        "review reads before a corpus ships to training: exact-dup "
        "rate, English share, short-doc rate, and PII prevalence, "
        "each in exact integer bps against its policy threshold with "
        "a pass flag (thresholds are plan constants; the policy file "
        "of a real pipeline). ALL four metrics come from ONE "
        "map-side-combined corpus aggregate (the md5 distinct-count "
        "is the only shuffle); the 4-row scorecard is then a "
        "constant-space melt. Composes the signals dedup_exact / "
        "lang_id / quality_score / pii_scrub compute in full "
        "elsewhere into the go/no-go summary (SURVEY §2.K)."
    ),
)
def release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from email_etl_spark.plans.text import _PII_EMAIL

    docs = load_table(spark, sf_dir, "documents")
    # rlike via the Python API (not F.expr) so the regex never passes
    # through SQL string-literal escape processing — the pii_scrub
    # dialect-parity convention
    n = F.count("*")
    cnt = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    ibps = lambda c: F.expr(f"{c}_raw * 10000 div n_total").cast("bigint")  # noqa: E731
    m0 = docs.agg(
        n.alias("n_total"),
        (n - F.countDistinct(F.md5("text"))).alias("exact_dup_rate_raw"),
        cnt(F.col("lang") == "en").alias("english_share_raw"),
        cnt(F.col("n_chars") < _SHORT_CHARS).alias("short_doc_rate_raw"),
        cnt(F.col("text").rlike(_PII_EMAIL)).alias("pii_doc_rate_raw"),
    )
    m = m0.select(
        *[ibps(c).alias(c) for c, _, _ in RELEASE_CHECKS],
    )
    arms = []
    for check, thr, direction in RELEASE_CHECKS:
        val = F.col(check)
        ok = val <= thr if direction == "max" else val >= thr
        arms.append(
            F.struct(
                F.lit(check).alias("check_name"),
                val.alias("value_bps"),
                F.lit(thr).cast("bigint").alias("threshold_bps"),
                F.lit(direction).alias("direction"),
                F.when(ok, 1).otherwise(0).cast("bigint").alias("passed"),
            )
        )
    return (
        m.select(F.explode(F.array(*arms)).alias("c"))
        .select("c.*")
        .orderBy("check_name")
    )


SOURCE_CAP = 10


@register(
    "source_cap_sample",
    oracle=f"""
WITH r AS (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id)
           AS rk
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN rk <= {SOURCE_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rk <= {SOURCE_CAP} THEN doc_id END) AS BIGINT) AS kept_id_sum,
       CAST(SUM(CASE WHEN rk <= {SOURCE_CAP} THEN n_chars END) AS BIGINT) AS kept_chars
FROM r GROUP BY source ORDER BY source
""",
    doc=(
        "Per-source frequency capping: keep at most CAP documents per "
        "source, chosen by md5-hash order — the domain-balancing pass "
        "every web-scale mixture runs so one crawl host cannot "
        "dominate training data (the action twin of mixture_weights' "
        "planning). Hash order makes the kept set a deterministic "
        "uniform subsample, stable across re-runs/engines/partitions "
        "— no RNG (train_val_split convention, doc_id tiebreak). "
        "Shape: ONE row_number window per source key (the shuffle is "
        "on the source key — at 100 TB a hot source is exactly the "
        "row this op deletes, and only top-CAP rows per partition "
        "survive); output checksums (id-sum, kept chars) pin the "
        "exact membership, not just the counts (SURVEY §2.L)."
    ),
)
def source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("cap:"), F.col("doc_id").cast("string"))), "doc_id"
    )
    r = docs.select("source", "doc_id", "n_chars", F.row_number().over(w).alias("rk"))
    keep = F.col("rk") <= SOURCE_CAP
    return (
        r.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(keep, F.col("doc_id"))).cast("bigint").alias("kept_id_sum"),
            F.sum(F.when(keep, F.col("n_chars"))).cast("bigint").alias("kept_chars"),
        )
        .orderBy("source")
    )


@register(
    "quantile_normalize",
    oracle="""
WITH r AS (
  SELECT source, n_chars,
         NTILE(10) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS dec_src,
         NTILE(10) OVER (ORDER BY n_chars, doc_id) AS dec_glob
  FROM documents
),
s AS (
  SELECT source, dec_src AS decile,
         MAX(n_chars) AS src_boundary, COUNT(*) AS n_docs
  FROM r GROUP BY 1, 2
),
g AS (SELECT dec_glob AS decile, MAX(n_chars) AS glob_boundary FROM r GROUP BY 1)
SELECT s.source, CAST(s.decile AS BIGINT) AS decile,
       CAST(s.src_boundary AS BIGINT) AS src_boundary,
       CAST(g.glob_boundary AS BIGINT) AS glob_boundary,
       CAST(s.src_boundary - g.glob_boundary AS BIGINT) AS shift,
       CAST(s.n_docs AS BIGINT) AS n_docs
FROM s JOIN g USING (decile)
ORDER BY s.source, s.decile
""",
    doc=(
        "Cross-source quantile calibration of document length: each "
        "source's decile boundaries against the global ones, plus the "
        "shift — the table that tells a curation pipeline whether a "
        "raw threshold like 'drop under 200 chars' means the same "
        "thing on every source (it never does: a crawl host full of "
        "boilerplate has wildly different length quantiles than a "
        "books source), and the mapping quantile normalization would "
        "apply. Determinism: deciles via NTILE over the total order "
        "(n_chars, doc_id) — exact integers, no quantile "
        "interpolation to drift between engines. Shape: per-source "
        "windows shuffle once on source; the global decile is the one "
        "genuinely global sort — at 100 TB swap it for "
        "approx_percentile boundaries and keep the mapping join "
        "(SURVEY §2.L)."
    ),
)
def quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    r = docs.select(
        "source",
        "n_chars",
        F.ntile(10)
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("dec_src"),
        F.ntile(10).over(Window.orderBy("n_chars", "doc_id")).alias("dec_glob"),
    )
    s = r.groupBy("source", F.col("dec_src").alias("decile")).agg(
        F.max("n_chars").alias("src_boundary"), F.count("*").alias("n_docs")
    )
    g = r.groupBy(F.col("dec_glob").alias("decile")).agg(
        F.max("n_chars").alias("glob_boundary")
    )
    return (
        s.join(F.broadcast(g), "decile")
        .select(
            "source",
            F.col("decile").cast("bigint").alias("decile"),
            F.col("src_boundary").cast("bigint").alias("src_boundary"),
            F.col("glob_boundary").cast("bigint").alias("glob_boundary"),
            (F.col("src_boundary") - F.col("glob_boundary")).cast("bigint").alias("shift"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
        )
        .orderBy("source", "decile")
    )


def _pref_quality_sql() -> str:
    """The quality_score oracle expression (plans/text.py), inlined so
    the ranking key is the SAME rounded heuristic both engines sort."""
    from email_etl_spark.plans.text import _PUNCT, _TOKS, _stop_sql

    return (
        "ROUND(0.4 * LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0)"
        f" + 0.3 * LEAST(4.0 * {_stop_sql(T.STOPWORDS)} /"
        f" GREATEST(CAST(len({_TOKS}) AS DOUBLE), 1.0), 1.0)"
        f" + 0.3 * (1.0 - LEAST(4.0 * {_PUNCT} /"
        " GREATEST(CAST(length(text) AS DOUBLE), 1.0), 1.0)), 4)"
    )


@register(
    "preference_pairs",
    oracle=f"""
WITH q AS (
  SELECT doc_id, source, {_pref_quality_sql()} AS quality FROM documents
),
r AS (
  SELECT doc_id, source, quality,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY quality DESC, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM q
),
p AS (
  SELECT hi.source,
         hi.doc_id AS chosen_id, lo.doc_id AS rejected_id,
         CAST(ROUND((hi.quality - lo.quality) * 10000) AS BIGINT) AS gap_bps
  FROM r hi JOIN r lo
    ON hi.source = lo.source AND lo.rk = hi.n + 1 - hi.rk
  WHERE hi.rk < hi.n + 1 - hi.rk
)
SELECT source,
       COUNT(*) AS n_pairs,
       CAST(SUM(chosen_id) AS BIGINT) AS chosen_id_sum,
       CAST(SUM(rejected_id) AS BIGINT) AS rejected_id_sum,
       CAST(SUM(gap_bps) AS BIGINT) AS total_gap_bps,
       CAST(MIN(gap_bps) AS BIGINT) AS min_gap_bps
FROM p GROUP BY source ORDER BY source
""",
    doc=(
        "Preference-pair formation for DPO/RLHF-style training: "
        "within each source, rank documents by the shared quality "
        "heuristic and pair rank r (chosen) with rank n+1-r "
        "(rejected) — extreme-vs-extreme pairing maximizes the "
        "preference margin while keeping both sides in-distribution "
        "(same source), the standard cheap recipe before human "
        "labels exist. Shape: ONE rank window per source key (no "
        "self-join on content — the partner rank is arithmetic), one "
        "rank-equality self-join that shuffles only (source, rank) "
        "keys, and exact-integer bps gaps; id-sum checksums pin the "
        "exact pairing, not just counts (source_cap_sample "
        "convention) (SURVEY §2.L)."
    ),
)
def preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    q = docs.select("doc_id", "source", T.quality_score(F.col("text")).alias("quality"))
    wq = Window.partitionBy("source").orderBy(F.desc("quality"), "doc_id")
    wn = Window.partitionBy("source")
    r = q.select(
        "doc_id",
        "source",
        "quality",
        F.row_number().over(wq).alias("rk"),
        F.count("*").over(wn).alias("n"),
    )
    hi = r.select(
        "source",
        F.col("doc_id").alias("chosen_id"),
        F.col("quality").alias("q_hi"),
        "rk",
        "n",
        (F.col("n") + 1 - F.col("rk")).alias("lo_rk"),
    ).where(F.col("rk") < F.col("lo_rk"))
    lo = r.select(
        F.col("source").alias("source_lo"),
        F.col("doc_id").alias("rejected_id"),
        F.col("quality").alias("q_lo"),
        F.col("rk").alias("lo_rk"),
    )
    p = hi.join(
        lo,
        (F.col("source") == F.col("source_lo")) & (hi.lo_rk == lo.lo_rk),
    ).select(
        "source",
        "chosen_id",
        "rejected_id",
        F.round((F.col("q_hi") - F.col("q_lo")) * 10000).cast("bigint").alias("gap_bps"),
    )
    return (
        p.groupBy("source")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("chosen_id").cast("bigint").alias("chosen_id_sum"),
            F.sum("rejected_id").cast("bigint").alias("rejected_id_sum"),
            F.sum("gap_bps").cast("bigint").alias("total_gap_bps"),
            F.min("gap_bps").cast("bigint").alias("min_gap_bps"),
        )
        .orderBy("source")
    )


@register(
    "sample_bias_chi2",
    oracle="""
WITH d AS (
  SELECT lang, substr(md5('bias:' || CAST(doc_id AS VARCHAR)), 1, 1) = '0'
           AS in_sample
  FROM documents
),
per AS (
  SELECT lang, COUNT(*) AS n_l,
         SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS o_l
  FROM d GROUP BY lang
),
tot AS (SELECT SUM(n_l) AS n, SUM(o_l) AS ns FROM per),
terms AS (
  SELECT per.lang,
         CAST(ROUND(
           (per.o_l - CAST(tot.ns AS DOUBLE) * per.n_l / tot.n)
           * (per.o_l - CAST(tot.ns AS DOUBLE) * per.n_l / tot.n)
           / (CAST(tot.ns AS DOUBLE) * per.n_l / tot.n), 9)
         AS DECIMAL(18,9)) AS term
  FROM per CROSS JOIN tot
)
SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n_docs,
       (SELECT CAST(ns AS BIGINT) FROM tot) AS n_sample,
       COUNT(*) - 1 AS dof,
       CAST(SUM(term) AS DOUBLE) AS chi2
FROM terms
""",
    doc=(
        "Sampling-bias chi-square: goodness-of-fit of the md5 hash "
        "sample's language distribution against the population's — "
        "the audit that certifies a deterministic sample is UNBIASED "
        "before eval numbers computed on it are trusted (a chi2 far "
        "above dof means the hash interacts with the stratum, which "
        "would silently skew every sampled metric). One "
        "map-side-combined (lang, in_sample) rollup is the only "
        "corpus pass; expected counts and chi2 terms are identical "
        "double expressions over exact integers, pre-rounded to "
        "DECIMAL(18,9) before the order-insensitive sum "
        "(SURVEY §2.L)."
    ),
)
def sample_bias_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    in_sample = (
        F.substring(F.md5(F.concat(F.lit("bias:"), F.col("doc_id").cast("string"))), 1, 1)
        == "0"
    )
    per = docs.select("lang", in_sample.alias("s")).groupBy("lang").agg(
        F.count("*").alias("n_l"),
        F.sum(F.when(F.col("s"), 1).otherwise(0)).alias("o_l"),
    )
    tot = per.agg(F.sum("n_l").alias("n"), F.sum("o_l").alias("ns"))
    e = F.col("ns").cast("double") * F.col("n_l") / F.col("n")
    terms = per.crossJoin(F.broadcast(tot)).select(
        "n",
        "ns",
        F.round((F.col("o_l") - e) * (F.col("o_l") - e) / e, 9)
        .cast("decimal(18,9)")
        .alias("term"),
    )
    return terms.groupBy("n", "ns").agg(
        (F.count("*") - 1).alias("dof"),
        F.sum("term").cast("double").alias("chi2"),
    ).select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("ns").cast("bigint").alias("n_sample"),
        F.col("dof").cast("bigint").alias("dof"),
        "chi2",
    )


_EPOCH_CAP_MILLI = 4000  # repeat a source at most 4x (milli-epochs)
_BUDGET_X = 2            # train budget = 2x the corpus token mass


@register(
    "epoch_allocation",
    oracle=f"""
WITH t AS (
  SELECT source, COUNT(*) AS n_docs, SUM(len({_TOKS})) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT SUM(n_tokens) * {_BUDGET_X} AS budget, COUNT(*) AS n_sources FROM t
),
a AS (
  SELECT t.source, t.n_docs, t.n_tokens,
         tot.budget // tot.n_sources AS budget_share
  FROM t CROSS JOIN tot
),
e AS (
  SELECT source, n_docs, n_tokens, budget_share,
         budget_share * 1000 // n_tokens AS epochs_milli
  FROM a
)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(budget_share AS BIGINT) AS budget_share,
       CAST(epochs_milli AS BIGINT) AS epochs_milli,
       CAST(LEAST(epochs_milli, {_EPOCH_CAP_MILLI}) AS BIGINT) AS epochs_capped_milli,
       CAST(LEAST(budget_share, n_tokens * {_EPOCH_CAP_MILLI} // 1000) AS BIGINT) AS effective_tokens,
       CAST(budget_share - LEAST(budget_share, n_tokens * {_EPOCH_CAP_MILLI} // 1000) AS BIGINT) AS stranded_budget
FROM e ORDER BY source
""",
    doc=(
        "Data-constrained epoch allocation (Muennighoff et al. 2023, "
        "public recipe): given a token budget of "
        f"{_BUDGET_X}x the corpus and an equal per-source split, how "
        "many epochs does each source run, where does the "
        f"{_EPOCH_CAP_MILLI / 1000:.0f}-epoch repeat cap bind, and how "
        "much budget is STRANDED on sources too small to absorb their "
        "share — the planning view that decides whether to re-weight "
        "(mixture_weights) or go crawl more data. Pure integer "
        "milli-epoch arithmetic (truncating div both engines); one "
        "tokenize scan, a source-cardinality rollup and a 1-row "
        "budget broadcast (SURVEY §2.L)."
    ),
)
def epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(T.token_count(F.col("text"))).alias("n_tokens"),
    )
    tot = t.agg(
        (F.sum("n_tokens") * _BUDGET_X).alias("budget"),
        F.count("*").alias("n_sources"),
    )
    a = t.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("budget div n_sources").alias("budget_share"),
    )
    e = a.withColumn("epochs_milli", F.expr("budget_share * 1000 div n_tokens"))
    eff = F.expr(f"LEAST(budget_share, n_tokens * {_EPOCH_CAP_MILLI} div 1000)")
    return e.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("budget_share").cast("bigint").alias("budget_share"),
        F.col("epochs_milli").cast("bigint").alias("epochs_milli"),
        F.least(F.col("epochs_milli"), F.lit(_EPOCH_CAP_MILLI))
        .cast("bigint")
        .alias("epochs_capped_milli"),
        eff.cast("bigint").alias("effective_tokens"),
        (F.col("budget_share") - eff).cast("bigint").alias("stranded_budget"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# filter_agreement_kappa — do the curation filters agree, or is one
# redundant with another?
# ---------------------------------------------------------------------------

_KAPPA_MINLEN = 50  # min-token filter
_KAPPA_STOPX = 10   # stopword floor: n_stop * 10 >= n_tokens


def _kappa_pair_sql(name: str, x: str, y: str, xy: str) -> str:
    """One kappa row from the 1-row sufficient-statistics table s:
    all-integer until the single final double division (identical
    expression text both engines after operator substitution)."""
    agree = f"(n - {x} - {y} + 2 * {xy})"
    pe = f"({x} * {y} + (n - {x}) * (n - {y}))"
    return f"""
SELECT '{name}' AS filter_pair,
       CAST(n AS BIGINT) AS n_docs,
       CAST({xy} AS BIGINT) AS n_both_pass,
       CAST(n - {x} - {y} + {xy} AS BIGINT) AS n_both_fail,
       CAST({agree} * 10000 // n AS BIGINT) AS agree_bps,
       CAST(n * {agree} - {pe} AS DOUBLE) / CAST(n * n - {pe} AS DOUBLE) AS kappa
FROM s"""


def _kappa_oracle() -> str:
    from email_etl_spark.plans.dedup import _quality_sql_fragment
    from email_etl_spark.plans.text import _stop_sql

    q = _quality_sql_fragment()
    stop = _stop_sql(T.STOPWORDS)
    rows = "\nUNION ALL".join(
        [
            _kappa_pair_sql("minlen~stopword", "m", "st", "ms"),
            _kappa_pair_sql("quality~minlen", "q", "m", "qm"),
            _kappa_pair_sql("quality~stopword", "q", "st", "qs"),
        ]
    )
    return f"""
WITH f AS (
  SELECT CASE WHEN {q} >= 0.5 THEN 1 ELSE 0 END AS fq,
         CASE WHEN len({_TOKS}) >= {_KAPPA_MINLEN} THEN 1 ELSE 0 END AS fm,
         CASE WHEN {stop} * {_KAPPA_STOPX} >= len({_TOKS}) THEN 1 ELSE 0 END AS fs
  FROM documents
),
s AS (
  SELECT COUNT(*) AS n, SUM(fq) AS q, SUM(fm) AS m, SUM(fs) AS st,
         SUM(fq * fm) AS qm, SUM(fq * fs) AS qs, SUM(fm * fs) AS ms
  FROM f
)
SELECT * FROM ({rows}) ORDER BY filter_pair
"""


@register(
    "filter_agreement_kappa",
    oracle=_kappa_oracle(),
    doc=(
        "Cohen's kappa between the curation filters (quality >= 0.5, "
        f"min {_KAPPA_MINLEN} tokens, stopword ratio >= "
        f"1/{_KAPPA_STOPX}) — chance-corrected agreement answers the "
        "question raw agreement can't: a filter that passes almost "
        "everything agrees with everyone by luck. kappa ~ 1 means one "
        "filter is redundant (drop the expensive one), kappa ~ 0 "
        "means they remove DIFFERENT documents and stack "
        "(filter_ablation shows the marginal counts, this shows the "
        "correlation structure). ONE conditional-aggregate scan "
        "produces the 7 sufficient statistics; each pairwise kappa is "
        "pure integer moments folded into a single final double "
        "division — bit-equal cross-engine; the 3-row melt is "
        "constant-space (SURVEY §2.L)."
    ),
)
def filter_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks_n = T.token_count(F.col("text"))
    fq = F.when(T.quality_score(F.col("text")) >= 0.5, 1).otherwise(0)
    fm = F.when(toks_n >= _KAPPA_MINLEN, 1).otherwise(0)
    fs = F.when(
        T.stopword_count(F.col("text")) * _KAPPA_STOPX >= toks_n, 1
    ).otherwise(0)
    s = docs.agg(
        F.count("*").alias("n"),
        F.sum(fq).alias("q"),
        F.sum(fm).alias("m"),
        F.sum(fs).alias("st"),
        F.sum(fq * fm).alias("qm"),
        F.sum(fq * fs).alias("qs"),
        F.sum(fm * fs).alias("ms"),
    )

    def row(name: str, x: str, y: str, xy: str):
        # pe multiplies two corpus-sized marginals and the denominator
        # is n*n: in Spark BIGINT both wrap silently past ~3e9 docs
        # (non-ANSI), while the DuckDB oracle's SUM is HUGEINT. Widen
        # to DECIMAL(38,0) — same 1e38 headroom as HUGEINT — so the
        # moments stay EXACT integers until the one final double
        # division, preserving bit-equality at any realistic n.
        agree = f"(n - {x} - {y} + 2 * {xy})"
        pe = (
            f"(CAST({x} AS DECIMAL(38,0)) * {y}"
            f" + (CAST(n AS DECIMAL(38,0)) - {x}) * (n - {y}))"
        )
        return F.struct(
            F.lit(name).alias("filter_pair"),
            F.col("n").cast("bigint").alias("n_docs"),
            F.col(xy).cast("bigint").alias("n_both_pass"),
            F.expr(f"n - {x} - {y} + {xy}").cast("bigint").alias("n_both_fail"),
            F.expr(f"{agree} * 10000 div n").cast("bigint").alias("agree_bps"),
            F.expr(
                f"CAST(CAST(n AS DECIMAL(38,0)) * {agree} - {pe} AS DOUBLE)"
                f" / CAST(CAST(n AS DECIMAL(38,0)) * n - {pe} AS DOUBLE)"
            ).alias("kappa"),
        )

    rows = [
        row("minlen~stopword", "m", "st", "ms"),
        row("quality~minlen", "q", "m", "qm"),
        row("quality~stopword", "q", "st", "qs"),
    ]
    return (
        s.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.*")
        .orderBy("filter_pair")
    )



_KFOLD = 5


def _fold_duck() -> str:
    digit = (
        lambda i: f"(strpos('0123456789abcdef', substr(md5('fold:' || CAST(doc_id AS VARCHAR)), {i}, 1)) - 1)"
    )
    poly = " + ".join(f"{digit(i)} * {16 ** (3 - i)}" for i in range(1, 4))
    return f"(({poly}) % {_KFOLD})"


@register(
    "stratified_kfold_assign",
    oracle=f"""
WITH a AS (
  SELECT lang, {_fold_duck()} AS fold, len({_TOKS}) AS nt FROM documents
),
g AS (SELECT lang, fold, COUNT(*) AS n_docs, SUM(nt) AS n_tokens FROM a GROUP BY 1, 2),
lt AS (SELECT lang, SUM(n_tokens) AS lang_tokens FROM g GROUP BY lang)
SELECT g.lang, CAST(g.fold AS BIGINT) AS fold,
       CAST(g.n_docs AS BIGINT) AS n_docs,
       CAST(g.n_tokens AS BIGINT) AS n_tokens,
       CAST(g.n_tokens * 10000 // lt.lang_tokens AS BIGINT) AS token_share_bps
FROM g JOIN lt USING (lang)
ORDER BY lang, fold
""",
    doc=(
        "Deterministic stratified k-fold assignment (k="
        f"{_KFOLD}) with the per-fold token balance it produces: fold "
        "= md5(doc_id) mod k (3 hex digits — 4096 mod 5 keeps the "
        "residue bias <0.03%), stratification read out per language "
        "as each fold's token share in exact bps — the CV-split "
        "generalization of train_val_split, and the balance check "
        "run BEFORE trusting per-fold eval numbers. One tokenize "
        "scan, (lang x k)-sized rollups, no RNG so any engine "
        "reproduces the exact membership (SURVEY §2.L)."
    ),
)
def stratified_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fold = (
        F.expr(
            "CAST(CONV(SUBSTRING(MD5(CONCAT('fold:', CAST(doc_id AS STRING))), 1, 3), 16, 10) AS BIGINT)"
        )
        % _KFOLD
    )
    a = docs.select(
        "lang", fold.alias("fold"), T.token_count(F.col("text")).alias("nt")
    )
    g = a.groupBy("lang", "fold").agg(
        F.count("*").alias("n_docs"), F.sum("nt").alias("n_tokens")
    )
    lt = g.groupBy("lang").agg(F.sum("n_tokens").alias("lang_tokens"))
    return (
        g.join(lt, "lang")
        .select(
            "lang",
            F.col("fold").cast("bigint").alias("fold"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.expr("n_tokens * 10000 div lang_tokens")
            .cast("bigint")
            .alias("token_share_bps"),
        )
        .orderBy("lang", "fold")
    )


def _fleiss_oracle() -> str:
    from email_etl_spark.plans.dedup import _quality_sql_fragment
    from email_etl_spark.plans.text import _stop_sql

    q = _quality_sql_fragment()
    stop = _stop_sql(T.STOPWORDS)
    return f"""
WITH f AS (
  SELECT (CASE WHEN {q} >= 0.5 THEN 1 ELSE 0 END)
       + (CASE WHEN len({_TOKS}) >= {_KAPPA_MINLEN} THEN 1 ELSE 0 END)
       + (CASE WHEN {stop} * {_KAPPA_STOPX} >= len({_TOKS}) THEN 1 ELSE 0 END) AS x
  FROM documents
),
s AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx,
         SUM(x * x + (3 - x) * (3 - x) - 3) AS agree_num
  FROM f
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(3 AS BIGINT) AS n_raters,
       CAST(agree_num AS DOUBLE) / (6.0 * n) AS p_bar,
       (CAST(sx AS DOUBLE) * sx + CAST(3 * n - sx AS DOUBLE) * (3 * n - sx))
         / (9.0 * CAST(n AS DOUBLE) * n) AS p_e,
       (CAST(agree_num AS DOUBLE) / (6.0 * n)
        - (CAST(sx AS DOUBLE) * sx + CAST(3 * n - sx AS DOUBLE) * (3 * n - sx))
          / (9.0 * CAST(n AS DOUBLE) * n))
       / (1.0 - (CAST(sx AS DOUBLE) * sx + CAST(3 * n - sx AS DOUBLE) * (3 * n - sx))
          / (9.0 * CAST(n AS DOUBLE) * n)) AS fleiss_kappa
FROM s
"""


@register(
    "fleiss_kappa_filters",
    oracle=_fleiss_oracle(),
    doc=(
        "Fleiss' kappa across the three curation filters treated as "
        "raters of pass/fail — the single multi-rater agreement "
        "number summarizing what filter_agreement_kappa's three "
        "pairwise kappas show cell by cell (Fleiss 1971). Per-doc "
        "agreement collapses to the exact integer x²+(3−x)²−3 over "
        "the pass count x, so the whole statistic derives from THREE "
        "integer sums off one conditional-aggregate scan; P̄, P̄e and "
        "kappa are structurally identical double expressions over "
        "those exact inputs (unrounded IEEE, kneser_ney convention) "
        "(SURVEY §2.L)."
    ),
)
def fleiss_kappa_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks_n = T.token_count(F.col("text"))
    x = (
        F.when(T.quality_score(F.col("text")) >= 0.5, 1).otherwise(0)
        + F.when(toks_n >= _KAPPA_MINLEN, 1).otherwise(0)
        + F.when(T.stopword_count(F.col("text")) * _KAPPA_STOPX >= toks_n, 1).otherwise(0)
    )
    s = docs.select(x.alias("x")).agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x") + (3 - F.col("x")) * (3 - F.col("x")) - 3).alias(
            "agree_num"
        ),
    )
    pe = (
        "(CAST(sx AS DOUBLE) * sx + CAST(3 * n - sx AS DOUBLE) * (3 * n - sx))"
        " / (9.0 * CAST(n AS DOUBLE) * n)"
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.lit(3).cast("bigint").alias("n_raters"),
        F.expr("CAST(agree_num AS DOUBLE) / (6.0 * n)").alias("p_bar"),
        F.expr(pe).alias("p_e"),
        F.expr(
            f"(CAST(agree_num AS DOUBLE) / (6.0 * n) - {pe}) / (1.0 - {pe})"
        ).alias("fleiss_kappa"),
    )


# ---------------------------------------------------------------------------
# temperature_sampling_weights — sqrt-temperature source mixing.
# ---------------------------------------------------------------------------


@register(
    "temperature_sampling_weights",
    oracle="""
WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source),
tot AS (SELECT SUM(n) AS nn FROM c),
s AS (
  SELECT source, n,
         CAST(ROUND(SQRT(ROUND(CAST(n AS DOUBLE) / nn, 9)) * 1000000000) AS BIGINT) AS s9
  FROM c CROSS JOIN tot
),
w AS (SELECT SUM(s9) AS ws FROM s)
SELECT source, n AS n_docs,
       CAST(s9 * 1000000 // ws AS BIGINT) AS weight_ppm,
       ROUND((CAST(s9 AS DOUBLE) / ws) * (SELECT nn FROM tot) / n, 4) AS eff_epochs
FROM s CROSS JOIN w ORDER BY source
""",
    doc=(
        "Temperature-based source mixing weights at T = 2 (alpha = "
        "1/2): w_i ∝ p_i^(1/2), the multilingual-LM standard "
        "(mBERT/mT5 style) that UPSAMPLES small sources relative to "
        "proportional mixing without letting any source dominate — "
        "the smooth counterpart to mixture_weights' floor/cap rule and "
        "epoch_allocation's budgeted epochs; eff_epochs says how many "
        "passes over each source the mix implies (>1 = repeated data, "
        "the overfit-risk flag). alpha = 1/2 is deliberately a DYADIC "
        "exponent: p^alpha is a single IEEE SQRT — correctly rounded "
        "in every engine, unlike libm POWER — and the normalizing sum "
        "runs over integer-scaled sqrt values, so the report is "
        "bit-stable cross-engine. One map-side-combined source count; "
        "everything after is source-cardinality (SURVEY §2.L)."
    ),
)
def temperature_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    tot = c.agg(F.sum("n").alias("nn"))
    s9 = F.round(
        F.sqrt(F.round(F.col("n").cast("double") / F.col("nn"), 9)) * 1000000000
    ).cast("bigint")
    s = c.crossJoin(F.broadcast(tot)).select("source", "n", "nn", s9.alias("s9"))
    w = s.agg(F.sum("s9").alias("ws"))
    return (
        s.crossJoin(F.broadcast(w))
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.expr("s9 * 1000000 div ws").cast("bigint").alias("weight_ppm"),
            F.round(
                (F.col("s9").cast("double") / F.col("ws"))
                * F.col("nn")
                / F.col("n"),
                4,
            ).alias("eff_epochs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# pack_efficiency_curve — packing/padding economics across context sizes.
# ---------------------------------------------------------------------------

_PACK_LENGTHS = (128, 256, 512, 1024)


@register(
    "pack_efficiency_curve",
    oracle=f"""
WITH t AS (SELECT len({{toks}}) AS n FROM documents),
l AS (SELECT UNNEST(ARRAY{list(_PACK_LENGTHS)}) AS ctx),
x AS (SELECT l.ctx, t.n FROM t CROSS JOIN l)
SELECT CAST(ctx AS BIGINT) AS ctx_len,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       CAST(CEIL(CAST(SUM(n) AS DOUBLE) / ctx) AS BIGINT) AS n_seqs_packed,
       CAST(SUM(CAST(CEIL(CAST(n AS DOUBLE) / ctx) AS BIGINT)) AS BIGINT)
           AS n_seqs_padded,
       CAST(SUM(n) * 10000
            // (SUM(CAST(CEIL(CAST(n AS DOUBLE) / ctx) AS BIGINT)) * ctx)
            AS BIGINT) AS padded_util_bps,
       CAST(SUM(LEAST(n, ctx)) * 10000 // SUM(n) AS BIGINT) AS trunc_keep_bps
FROM x GROUP BY ctx ORDER BY ctx_len
""".replace("{toks}", _TOKS),
    doc=(
        "Sequence-packing efficiency curve across candidate context "
        "lengths (128/256/512/1024): for each, the concatenation lower "
        "bound on sequence count, the one-doc-per-sequence padded "
        "count, the padded slot utilization in bps (how much compute a "
        "naive batcher wastes), and the token share a truncate-to-"
        "context policy keeps. Generalizes seq_pack_estimate's single "
        "256 budget into the curve that actually picks the training "
        "context length / packing strategy trade-off. One scan: doc "
        "token counts explode over the 4-length literal and partial "
        "aggregation collapses to 4 rows per task before the shuffle "
        "(SURVEY §2.L)."
    ),
)
def pack_efficiency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(T.token_count(F.col("text")).cast("bigint").alias("n"))
    x = t.select(
        "n",
        F.explode(F.array(*[F.lit(c) for c in _PACK_LENGTHS])).alias("ctx"),
    )
    return (
        x.groupBy("ctx")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("total_tokens"),
            F.ceil(F.sum("n").cast("double") / F.col("ctx").cast("double"))
            .cast("bigint")
            .alias("n_seqs_packed"),
            F.sum(F.ceil(F.col("n").cast("double") / F.col("ctx").cast("double")).cast("bigint"))
            .cast("bigint")
            .alias("n_seqs_padded"),
            F.expr(
                "SUM(n) * 10000 div"
                " (SUM(CAST(CEIL(CAST(n AS DOUBLE) / ctx) AS BIGINT)) * ctx)"
            )
            .cast("bigint")
            .alias("padded_util_bps"),
            F.expr("SUM(LEAST(n, ctx)) * 10000 div SUM(n)")
            .cast("bigint")
            .alias("trunc_keep_bps"),
        )
        .select(
            F.col("ctx").cast("bigint").alias("ctx_len"),
            "n_docs",
            "total_tokens",
            "n_seqs_packed",
            "n_seqs_padded",
            "padded_util_bps",
            "trunc_keep_bps",
        )
        .orderBy("ctx_len")
    )


# ---------------------------------------------------------------------------
# cochran_q_filters — do the curation filters PASS at different rates?
# ---------------------------------------------------------------------------


def _cochran_oracle() -> str:
    from email_etl_spark.plans.dedup import _quality_sql_fragment
    from email_etl_spark.plans.text import _stop_sql

    q = _quality_sql_fragment()
    stop = _stop_sql(T.STOPWORDS)
    return f"""
WITH f AS (
  SELECT CAST(CASE WHEN {q} >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS fq,
         CAST(CASE WHEN len({_TOKS}) >= {_KAPPA_MINLEN} THEN 1 ELSE 0 END AS BIGINT) AS fm,
         CAST(CASE WHEN {stop} * {_KAPPA_STOPX} >= len({_TOKS}) THEN 1 ELSE 0 END AS BIGINT) AS fs
  FROM documents
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(fq) AS BIGINT) AS gq,
         CAST(SUM(fm) AS BIGINT) AS gm,
         CAST(SUM(fs) AS BIGINT) AS gs,
         CAST(SUM((fq + fm + fs) * (fq + fm + fs)) AS BIGINT) AS l2
  FROM f
)
SELECT n AS n_docs, gq AS n_pass_quality, gm AS n_pass_minlen, gs AS n_pass_stopword,
       ROUND(2.0 * (3.0 * (CAST(gq AS DOUBLE) * gq + CAST(gm AS DOUBLE) * gm
                           + CAST(gs AS DOUBLE) * gs)
                    - CAST(gq + gm + gs AS DOUBLE) * (gq + gm + gs))
             / (3.0 * (gq + gm + gs) - l2), 4) AS q_stat,
       2.0 * (3.0 * (CAST(gq AS DOUBLE) * gq + CAST(gm AS DOUBLE) * gm
                     + CAST(gs AS DOUBLE) * gs)
              - CAST(gq + gm + gs AS DOUBLE) * (gq + gm + gs))
         / (3.0 * (gq + gm + gs) - l2) > 5.9915 AS reject_95
FROM s
"""


@register(
    "cochran_q_filters",
    oracle=_cochran_oracle(),
    doc=(
        "Cochran's Q test across the three binary curation filters "
        "(quality >= 0.5, min 50 tokens, stopword floor — the "
        "filter_agreement_kappa battery): do the filters PASS at "
        "different rates on the same documents? Kappa/Fleiss measure "
        "whether filters AGREE; Q tests whether their marginal "
        "strictness differs — the related-samples complement that "
        "says which knob actually gates the funnel. Q(k=3) = "
        "2*(3*sum(G_j^2) - T^2)/(3T - sum(L_i^2)) from five exact "
        "integers off ONE conditional-aggregate scan (per-doc pass "
        "count L and per-filter totals G share the pass); chi-square "
        "dof=2 critical 5.9915 (SURVEY §2.L)."
    ),
)
def cochran_q_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks_n = T.token_count(F.col("text"))
    fq = F.when(T.quality_score(F.col("text")) >= 0.5, 1).otherwise(0)
    fm = F.when(toks_n >= _KAPPA_MINLEN, 1).otherwise(0)
    fs = F.when(
        T.stopword_count(F.col("text")) * _KAPPA_STOPX >= toks_n, 1
    ).otherwise(0)
    s = docs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(fq).cast("bigint").alias("gq"),
        F.sum(fm).cast("bigint").alias("gm"),
        F.sum(fs).cast("bigint").alias("gs"),
        F.sum((fq + fm + fs) * (fq + fm + fs)).cast("bigint").alias("l2"),
    )
    qexpr = F.expr(
        "2.0 * (3.0 * (CAST(gq AS DOUBLE) * gq + CAST(gm AS DOUBLE) * gm"
        "              + CAST(gs AS DOUBLE) * gs)"
        "       - CAST(gq + gm + gs AS DOUBLE) * (gq + gm + gs))"
        " / (3.0 * (gq + gm + gs) - l2)"
    )
    return s.select(
        F.col("n").alias("n_docs"),
        F.col("gq").alias("n_pass_quality"),
        F.col("gm").alias("n_pass_minlen"),
        F.col("gs").alias("n_pass_stopword"),
        F.round(qexpr, 4).alias("q_stat"),
        (qexpr > 5.9915).alias("reject_95"),
    )


# ---------------------------------------------------------------------------
# source_gini_tokens — token-mass concentration across sources.
# ---------------------------------------------------------------------------


@register(
    "source_gini_tokens",
    oracle=f"""
WITH s AS (
  SELECT source, CAST(SUM(len({_TOKS})) AS BIGINT) AS tok
  FROM documents GROUP BY source
),
r AS (
  SELECT tok,
         ROW_NUMBER() OVER (ORDER BY tok, source) AS i,
         COUNT(*) OVER () AS n,
         SUM(tok) OVER () AS tot
  FROM s
)
SELECT CAST(MAX(n) AS BIGINT) AS n_sources,
       CAST(MAX(tot) AS BIGINT) AS total_tokens,
       CAST((1000000 * SUM((2 * i - n - 1) * tok)) // (MAX(n) * MAX(tot))
            AS BIGINT) AS gini_micro
FROM r
""",
    doc=(
        "Gini coefficient of token mass across sources: one number "
        "for how lopsided the corpus mixture is (0 = every source "
        "contributes equally, ->1 = one source dominates) — the "
        "inequality summary behind mixture_weights and "
        "temperature_sampling_weights (both exist to FLATTEN exactly "
        "this curve; this is the metric that says how much flattening "
        "is needed and whether a re-weight actually moved it). Exact "
        "integer Gini numerator sum((2i-n-1)*x_i) over the source "
        "rollup sorted with a deterministic (tok, source) tiebreak; "
        "presented as the pure-integer gini_micro = (10^6*num) div "
        "(n*tot) in DECIMAL(38,0) arithmetic — no final ROUND(double), "
        "the r8 halfway hazard; the only window runs over |sources| "
        "rows (SURVEY §2.L)."
    ),
)
def source_gini_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(T.token_count(F.col("text"))).cast("bigint").alias("tok")
    )
    r = s.select(
        "tok",
        F.row_number().over(Window.orderBy("tok", "source")).alias("i"),
        F.count("*").over(Window.partitionBy()).alias("n"),
        F.sum("tok").over(Window.partitionBy()).alias("tot"),
    )
    a = r.agg(
        F.max("n").cast("bigint").alias("n_sources"),
        F.max("tot").cast("bigint").alias("total_tokens"),
        F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("tok"))
        .cast("bigint")
        .alias("num"),
    )
    # Gini numerator is >= 0 (ascending sort), so Spark's truncating
    # div and DuckDB's flooring // agree; DECIMAL(38,0) keeps
    # 10^6 * num exact past the BIGINT range at corpus scale
    return a.select(
        "n_sources",
        "total_tokens",
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * num)"
            " div (CAST(n_sources AS DECIMAL(38,0)) * total_tokens) AS BIGINT)"
        ).alias("gini_micro"),
    )


# ---------------------------------------------------------------------------
# mixture_anneal_schedule — natural→uniform mixture interpolation plan.
# ---------------------------------------------------------------------------

_ANNEAL_EPOCHS = 4


@register(
    "mixture_anneal_schedule",
    oracle=f"""
WITH s AS (
  SELECT source, CAST(SUM(len({{toks}})) AS BIGINT) AS tok
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(tok) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS k FROM s),
e AS (SELECT UNNEST(range(1, {_ANNEAL_EPOCHS} + 1)) AS epoch)
SELECT CAST(e.epoch AS BIGINT) AS epoch, s.source,
       CAST(
         ((({_ANNEAL_EPOCHS} - e.epoch) * (s.tok * 1000000 // tot.t)
           + (e.epoch - 1) * (1000000 // tot.k))
          // ({_ANNEAL_EPOCHS} - 1)) AS BIGINT) AS weight_micro
FROM s CROSS JOIN tot CROSS JOIN e
ORDER BY epoch, source
""".replace("{toks}", _TOKS),
    doc=(
        "Multi-epoch mixture annealing schedule: per epoch 1..4, "
        "per-source sampling weights linearly interpolated from the "
        "NATURAL token mixture (epoch 1 — gradient-friendly start) to "
        "the UNIFORM mixture (epoch 4 — tail-source coverage), the "
        "curriculum-annealing recipe for multi-source pretraining "
        "runs; mixture_weights and temperature_sampling_weights give "
        "single snapshots, this is the full training plan. Both "
        "endpoints are exact integer micro-unit shares (tok*1e6 div "
        "total, 1e6 div k) and the interpolation is pure integer "
        "arithmetic — bit-stable at any corpus size; one tokenize "
        "scan + a |sources| x 4 literal expansion (SURVEY §2.L)."
    ),
)
def mixture_anneal_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(T.token_count(F.col("text"))).cast("bigint").alias("tok")
    )
    tot = s.agg(
        F.sum("tok").cast("bigint").alias("t"),
        F.count("*").cast("bigint").alias("k"),
    )
    e = s.crossJoin(F.broadcast(tot)).select(
        "source",
        "tok",
        "t",
        "k",
        F.explode(
            F.array(*[F.lit(i) for i in range(1, _ANNEAL_EPOCHS + 1)])
        ).alias("epoch"),
    )
    return e.select(
        F.col("epoch").cast("bigint").alias("epoch"),
        "source",
        F.expr(
            f"(({_ANNEAL_EPOCHS} - epoch) * (tok * 1000000 div t)"
            f" + (epoch - 1) * (1000000 div k)) div ({_ANNEAL_EPOCHS} - 1)"
        )
        .cast("bigint")
        .alias("weight_micro"),
    ).orderBy("epoch", "source")


@register(
    "theil_index_tokens",
    oracle=f"""
WITH d AS (
  SELECT source, CAST(len({_TOKS}) AS BIGINT) AS c
  FROM documents WHERE len({_TOKS}) > 0
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS x FROM d),
bc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS nc FROM d GROUP BY c),
tt AS (
  SELECT SUM(CAST(c * nc AS DECIMAL(18,0)) *
             CAST(ROUND(LN(CAST(c AS DOUBLE) * n / x), 6) AS DECIMAL(18,6))) AS num
  FROM bc CROSS JOIN tot
),
bs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns, CAST(SUM(c) AS BIGINT) AS xs
       FROM d GROUP BY source),
tb AS (
  SELECT SUM(CAST(xs AS DECIMAL(18,0)) *
             CAST(ROUND(LN((CAST(xs AS DOUBLE) * n) / (CAST(x AS DOUBLE) * ns)), 6)
                  AS DECIMAL(18,6))) AS num2
  FROM bs CROSS JOIN tot
)
SELECT tot.n AS n_docs, tot.x AS n_tokens,
       ROUND(CAST(tt.num AS DOUBLE) / tot.x, 6) AS theil_total,
       ROUND(CAST(tb.num2 AS DOUBLE) / tot.x, 6) AS theil_between,
       ROUND(CAST(tt.num AS DOUBLE) / tot.x
             - CAST(tb.num2 AS DOUBLE) / tot.x, 6) AS theil_within
FROM tot CROSS JOIN tt CROSS JOIN tb
""",
    doc=(
        "Theil T inequality index of per-document token mass, "
        "DECOMPOSED into between-source and within-source components "
        "(Theil 1967 — the decomposability Gini lacks): "
        "source_gini_tokens says HOW unequal the corpus is, this says "
        "WHERE the inequality lives — a high between share means "
        "re-weighting sources fixes it (mixture_weights' lever), a "
        "high within share means per-source length filtering is the "
        "lever. Doc token counts collapse to the distinct-count "
        "spectrum (bounded by max doc length) and sources to the "
        "source dim, so every ln term lives on a dimension-sized "
        "table: terms pre-rounded to DECIMAL(18,6), weighted by exact "
        "integer masses, summed exactly (order-free), one shared "
        "final double expression per component (SURVEY §2.L)."
    ),
)
def theil_index_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source", F.size(T.tokens(F.col("text"))).cast("bigint").alias("c")
    ).where(F.col("c") > 0)
    tot = d.agg(
        F.count("*").cast("bigint").alias("n"), F.sum("c").cast("bigint").alias("x")
    )
    bc = d.groupBy("c").agg(F.count("*").cast("bigint").alias("nc"))
    tt = (
        bc.crossJoin(F.broadcast(tot))
        .select(
            (
                F.expr("cast(c * nc as decimal(18,0))")
                * F.expr(
                    "cast(round(ln(cast(c as double) * n / x), 6) as decimal(18,6))"
                )
            ).alias("term")
        )
        .agg(F.sum("term").alias("num"))
    )
    bs = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("ns"), F.sum("c").cast("bigint").alias("xs")
    )
    tb = (
        bs.crossJoin(F.broadcast(tot))
        .select(
            (
                F.expr("cast(xs as decimal(18,0))")
                * F.expr(
                    "cast(round(ln((cast(xs as double) * n)"
                    " / (cast(x as double) * ns)), 6) as decimal(18,6))"
                )
            ).alias("term")
        )
        .agg(F.sum("term").alias("num2"))
    )
    return (
        tot.crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tb))
        .select(
            F.col("n").alias("n_docs"),
            F.col("x").alias("n_tokens"),
            F.round(F.expr("cast(num as double) / x"), 6).alias("theil_total"),
            F.round(F.expr("cast(num2 as double) / x"), 6).alias("theil_between"),
            F.round(
                F.expr("cast(num as double) / x - cast(num2 as double) / x"), 6
            ).alias("theil_within"),
        )
    )


@register(
    "packed_sequence_stats",
    oracle=f"""
WITH d AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n
  FROM documents WHERE len({_TOKS}) > 0
),
o AS (
  SELECT doc_id, n,
         COALESCE(SUM(n) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM d
),
s AS (
  SELECT doc_id, n, off,
         off // 512 AS s_first, (off + n - 1) // 512 AS s_last
  FROM o
),
t AS (SELECT SUM(n) AS total, COUNT(*) AS nd FROM d)
SELECT CAST(t.nd AS BIGINT) AS n_docs,
       CAST(t.total AS BIGINT) AS total_tokens,
       CAST((t.total + 511) // 512 AS BIGINT) AS n_sequences,
       CAST(((t.total + 511) // 512) * 512 - t.total AS BIGINT) AS pad_tokens,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM s WHERE s_first <> s_last)
           AS boundary_docs,
       (SELECT CAST(SUM(s_last - s_first + 1) AS BIGINT) FROM s)
           AS doc_seq_incidences
FROM t
""",
    doc=(
        "Packing plan audit for the fixed-length (L=512) token-"
        "sequence sink (sinks/packed.py): document count, token total, "
        "sequence count, terminal padding, how many documents straddle "
        "a sequence boundary, and the total (doc, sequence) incidence "
        "count — the numbers that decide loader sharding and attention-"
        "mask strategy before a packing run. The Spark side reuses the "
        "sink's actual machinery (two-level prefix-sum offsets + span "
        "arithmetic), so the audit IS the sink's plan, not a parallel "
        "reimplementation; the oracle recomputes offsets with a plain "
        "window cumsum. All exact integers (SURVEY §2.L)."
    ),
)
def packed_sequence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from email_etl_spark.sinks.packed import _with_offsets

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.size(T.tokens(F.col("text"))).cast("bigint").alias("n")
    ).where(F.col("n") > 0)
    # reuse the sink's two-level prefix sum on a (doc_id, n)-shaped
    # frame (ids column unused by the offset math)
    o = _with_offsets(d.withColumn("ids", F.array().cast("array<int>")))
    s = o.select(
        "doc_id",
        "n",
        "off",
        F.expr("off div 512").alias("s_first"),
        F.expr("(off + n - 1) div 512").alias("s_last"),
    )
    agg = s.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.sum(F.when(F.col("s_first") != F.col("s_last"), 1).otherwise(0))
        .cast("bigint")
        .alias("boundary_docs"),
        F.sum(F.col("s_last") - F.col("s_first") + 1)
        .cast("bigint")
        .alias("doc_seq_incidences"),
    )
    return agg.select(
        "n_docs",
        "total_tokens",
        F.expr("(total_tokens + 511) div 512").cast("bigint").alias("n_sequences"),
        F.expr("((total_tokens + 511) div 512) * 512 - total_tokens")
        .cast("bigint")
        .alias("pad_tokens"),
        "boundary_docs",
        "doc_seq_incidences",
    )


# ---------------------------------------------------------------------------
# quality_token_tradeoff — tokens surviving each quality cut, by decile.
# ---------------------------------------------------------------------------


def _quality_tradeoff_oracle() -> str:
    from email_etl_spark.plans.text import _PUNCT, _stop_sql, _TOKS  # noqa: F401

    qsql = (
        f"ROUND(0.4 * LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0)"
        f" + 0.3 * LEAST(4.0 * {_stop_sql(T.STOPWORDS)} / GREATEST(CAST(len({_TOKS}) AS DOUBLE), 1.0), 1.0)"
        f" + 0.3 * (1.0 - LEAST(4.0 * {_PUNCT} / GREATEST(CAST(length(text) AS DOUBLE), 1.0), 1.0)), 4)"
    )
    return f"""
WITH d AS (
  SELECT doc_id,
         CAST({qsql} AS DECIMAL(5,4)) AS q,
         CAST(len({_TOKS}) AS BIGINT) AS n
  FROM documents
),
t AS (
  SELECT NTILE(10) OVER (ORDER BY q DESC, doc_id) AS decile, q, n FROM d
),
g AS (
  SELECT decile,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n) AS BIGINT) AS n_tokens,
         CAST(MIN(q * 10000) AS BIGINT) AS min_quality_bps
  FROM t GROUP BY decile
)
SELECT CAST(decile AS BIGINT) AS decile, n_docs, n_tokens, min_quality_bps,
       CAST(SUM(n_tokens) OVER (ORDER BY decile) AS BIGINT) AS cum_tokens,
       CAST((10000 * SUM(n_tokens) OVER (ORDER BY decile))
            // (SELECT SUM(n_tokens) FROM g) AS BIGINT) AS cum_token_bps
FROM g ORDER BY decile
"""


@register(
    "quality_token_tradeoff",
    oracle=_quality_tradeoff_oracle(),
    doc=(
        "The quality-vs-quantity curve every pretraining-data cut is "
        "negotiated on: documents ranked into quality deciles (best = "
        "decile 1, deterministic (q DESC, doc_id) order), with per-"
        "decile and CUMULATIVE token counts — 'keep only the top 30% "
        "by quality' reads straight off cum_token_bps as the fraction "
        "of the token budget that survives, and min_quality_bps gives "
        "the score threshold that decile boundary implies (the "
        "continuous companion to length_filter_curve and "
        "filter_ablation's fixed cuts). NO corpus-wide sort (VERDICT "
        "r9 #7): q lives on a <=10001-point integer grid, so pass 1 "
        "is one map-side-combined exact frequency histogram (bounded "
        "driver constant, the kmeans-codebook class), the NTILE tile "
        "arithmetic replays over its cumsums in pure integer math, "
        "and pass 2 sorts ONLY the <=9 boundary-straddling q-groups "
        "(group-local windows) for their doc_id-ordered token "
        "prefixes — output bit-identical to the corpus NTILE at a "
        "fraction of the shuffle (SURVEY §4); every output is an "
        "exact integer (quality bps, integer cumsums, truncating div "
        "— no final ROUND(double), SURVEY §2.L)."
    ),
)
def quality_token_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-pass exact decile assignment WITHOUT a corpus-wide
    # RangePartitioning sort (VERDICT r9 #7): q is an exact integer
    # (bps on a <=10001-point grid), so
    #   pass 1: exact (q_bps -> count, token-sum) frequency histogram,
    #           one map-side-combined aggregate; <=10001 rows collect
    #           to the driver as a bounded plan constant (the
    #           kmeans-codebook class, SURVEY §4);
    #   driver: replay NTILE(10)'s tile arithmetic over the histogram
    #           cumsums — every decile's n_docs/min_q and the FULL
    #           q-groups it contains are pure integer math; only the
    #           <=9 q-groups STRADDLING a tile boundary need their
    #           doc_id-ordered token prefix;
    #   pass 2: one job over ONLY the straddling groups (window
    #           partitioned by q_bps — 9 group-local sorts, never the
    #           corpus) for those prefix token-sums.
    # Output is bit-identical to NTILE(10) OVER (ORDER BY q DESC,
    # doc_id) — same tile sizes, same tie splits — at the cost of two
    # narrow passes instead of a global sort.
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        (T.quality_score(F.col("text")).cast("decimal(5,4)") * 10000)
        .cast("bigint")
        .alias("q_bps"),
        T.token_count(F.col("text")).cast("bigint").alias("n"),
    )
    hist = (
        d.groupBy("q_bps")
        .agg(F.count("*").alias("cnt"), F.sum("n").alias("tok"))
        .collect()
    )
    groups = sorted(
        ((int(r["q_bps"]), int(r["cnt"]), int(r["tok"])) for r in hist),
        key=lambda g: -g[0]
    )
    total = sum(c for _, c, _ in groups)
    n_tiles = min(10, total)
    size, rem = divmod(total, 10)

    def tile_hi(i):  # last (1-based) rank of tile i under NTILE(10)
        return i * size + min(i, rem)

    # walk the q-descending histogram once, attributing full groups to
    # deciles and recording boundary splits (q_bps -> docs taken by the
    # earlier decile, in doc_id-ascending order)
    per = {
        i: {"n_docs": 0, "tok_full": 0, "min_q": None}
        for i in range(1, n_tiles + 1)
    }
    splits: list[tuple[int, int, int, int]] = []  # (q_bps, m, tile_lo, tile_hi)
    rank = 0
    tile = 1
    for q_bps, cnt, tok in groups:
        lo, hi = rank + 1, rank + cnt
        if hi <= tile_hi(tile):  # group fits entirely in the current tile
            per[tile]["n_docs"] += cnt
            per[tile]["tok_full"] += tok
            per[tile]["min_q"] = q_bps
        else:  # group straddles one or more tile boundaries; its
            # token attribution happens in pass 2 via doc_id prefixes
            pos = lo - 1
            while pos < hi:
                take = min(tile_hi(tile), hi) - pos
                per[tile]["n_docs"] += take
                per[tile]["min_q"] = q_bps
                if pos + take < hi:
                    splits.append((q_bps, pos + take - (lo - 1), tile, tile + 1))
                    tile += 1
                pos += take
        rank = hi
        while tile <= n_tiles and rank >= tile_hi(tile):
            tile += 1

    # pass 2: doc_id-ordered token prefixes of the straddling groups
    split_tok: dict[tuple[int, int], int] = {}
    if splits:
        bq = [q for q, _, _, _ in splits]
        w = Window.partitionBy("q_bps").orderBy("doc_id")
        ranked = (
            d.where(F.col("q_bps").isin(bq))
            .withColumn("rn", F.row_number().over(w))
        )
        agg = (
            ranked.groupBy("q_bps")
            .agg(
                F.sum("n").alias("tok_all"),
                *[
                    F.sum(F.when(F.col("rn") <= m, F.col("n")).otherwise(0)).alias(
                        f"p{j}"
                    )
                    for j, (_, m, _, _) in enumerate(splits)
                ],
            )
            .collect()
        )
        by_q = {int(r["q_bps"]): r for r in agg}
        # attribute each straddling group's tokens: prefix m_j (in
        # doc_id-ascending order) to the tile before boundary j,
        # remainder to the last tile the group touches
        for j, (q, _, _, _) in enumerate(splits):
            split_tok[(q, j)] = int(by_q[q][f"p{j}"])
        prev_prefix: dict[int, int] = {}
        for j, (q, _, t_lo, t_hi) in enumerate(splits):
            prefix = split_tok[(q, j)]
            per[t_lo]["tok_full"] += prefix - prev_prefix.get(q, 0)
            prev_prefix[q] = prefix
            last_tile_of_q = max(th for (qq, _, _, th) in splits if qq == q)
            if t_hi == last_tile_of_q:
                per[t_hi]["tok_full"] += int(by_q[q]["tok_all"]) - prefix

    rows = []
    cum = 0
    tot_tokens = sum(per[i]["tok_full"] for i in per)
    for i in range(1, n_tiles + 1):
        cum += per[i]["tok_full"]
        rows.append(
            (
                i,
                per[i]["n_docs"],
                per[i]["tok_full"],
                per[i]["min_q"],
                cum,
                (10000 * cum) // tot_tokens,
            )
        )
    return spark.createDataFrame(
        rows,
        "decile long, n_docs long, n_tokens long, min_quality_bps long,"
        " cum_tokens long, cum_token_bps long",
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# packed_attention_waste — cross-document attention overhead of packing.
# ---------------------------------------------------------------------------


@register(
    "packed_attention_waste",
    oracle=f"""
WITH d AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n
  FROM documents WHERE len({_TOKS}) > 0
),
o AS (
  SELECT doc_id, n,
         COALESCE(SUM(n) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM d
),
spans AS (
  SELECT UNNEST(range(CAST(off // 512 AS BIGINT),
                      CAST((off + n - 1) // 512 + 1 AS BIGINT))) AS sid, off, n
  FROM o
),
sl AS (
  SELECT sid,
         LEAST(off + n, (sid + 1) * 512) - GREATEST(off, sid * 512) AS len
  FROM spans
),
seq AS (
  SELECT sid, CAST(SUM(len) AS BIGINT) AS L,
         CAST(SUM(len * len) AS BIGINT) AS s2
  FROM sl GROUP BY sid
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sequences,
         CAST(SUM(L * (L + 1) // 2) AS BIGINT) AS total_pairs,
         CAST(SUM((L * L - s2) // 2) AS BIGINT) AS cross_doc_pairs
  FROM seq
)
SELECT n_sequences, total_pairs, cross_doc_pairs,
       CAST((10000 * cross_doc_pairs) // total_pairs AS BIGINT) AS waste_bps
FROM s
""",
    doc=(
        "Cross-document attention overhead of the fixed-length (L=512) "
        "packing plan: within each packed sequence, how many causal "
        "attention pairs (q, k<=q over real tokens) connect tokens "
        "from DIFFERENT documents — the work a block-diagonal "
        "attention mask saves, and the contamination an unmasked "
        "trainer pays. packed_sequence_stats counts boundary "
        "incidences; this weighs them: per sequence the cross-doc "
        "pair count is (L^2 - sum(len_i^2))/2 from the same two-level "
        "prefix-sum offsets and span-slice arithmetic the sink uses "
        "(sinks/packed.py), so the audit IS the sink's plan. All "
        "exact integers (len_i <= 512 so every square fits BIGINT at "
        "any corpus scale; truncating div — no final ROUND(double), "
        "SURVEY §2.L)."
    ),
)
def packed_attention_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    from email_etl_spark.sinks.packed import _with_offsets

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.size(T.tokens(F.col("text"))).cast("bigint").alias("n")
    ).where(F.col("n") > 0)
    o = _with_offsets(d.withColumn("ids", F.array().cast("array<int>")))
    spans = o.select(
        "off",
        "n",
        F.explode(
            F.sequence(F.expr("off div 512"), F.expr("(off + n - 1) div 512"))
        ).alias("sid"),
    )
    sl = spans.select(
        "sid",
        (
            F.least(F.col("off") + F.col("n"), (F.col("sid") + 1) * 512)
            - F.greatest(F.col("off"), F.col("sid") * 512)
        ).alias("len"),
    )
    seq = sl.groupBy("sid").agg(
        F.sum("len").cast("bigint").alias("L"),
        F.sum(F.col("len") * F.col("len")).cast("bigint").alias("s2"),
    )
    s = seq.agg(
        F.count("*").cast("bigint").alias("n_sequences"),
        F.sum(F.expr("L * (L + 1) div 2")).cast("bigint").alias("total_pairs"),
        F.sum(F.expr("(L * L - s2) div 2")).cast("bigint").alias("cross_doc_pairs"),
    )
    return s.select(
        "n_sequences",
        "total_pairs",
        "cross_doc_pairs",
        F.expr("(10000 * cross_doc_pairs) div total_pairs")
        .cast("bigint")
        .alias("waste_bps"),
    )


# ---------------------------------------------------------------------------
# token_budget_apportionment — Hamilton largest-remainder budget split.
# ---------------------------------------------------------------------------

_BUDGET_TOKENS = 10_000_000


@register(
    "token_budget_apportionment",
    oracle=f"""
WITH s AS (
  SELECT source, CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_tokens) AS n FROM s),
q AS (
  SELECT source, n_tokens,
         CAST(({_BUDGET_TOKENS} * CAST(n_tokens AS HUGEINT)) // tot.n AS BIGINT)
           AS base_alloc,
         CAST(({_BUDGET_TOKENS} * CAST(n_tokens AS HUGEINT)) % tot.n AS BIGINT)
           AS rem
  FROM s CROSS JOIN tot
),
l AS (
  SELECT CAST({_BUDGET_TOKENS} - SUM(base_alloc) AS BIGINT) AS leftover FROM q
),
r AS (
  SELECT q.*, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk FROM q
)
SELECT source, n_tokens, base_alloc,
       CAST(CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
       CAST(base_alloc + CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END AS BIGINT)
         AS alloc
FROM r CROSS JOIN l ORDER BY source
""",
    doc=(
        "Hamilton largest-remainder apportionment of a fixed "
        "10M-token training budget across sources, proportional to "
        "their exact token mass: base_alloc = floor(B*n_i/N) plus one "
        "extra token for the sources with the largest remainders "
        "(ties to source asc), so SUM(alloc) == B EXACTLY — the "
        "integer-exact allocation step between mixture_weights' "
        "planning ppm and an actual sampler's per-source quotas "
        "(naive rounding over/under-spends the budget; largest "
        "remainder is the classic fix). One corpus scan into a "
        "source-dimension rollup; the quota arithmetic is pure "
        "HUGEINT/DECIMAL(38,0) division and the remainder rank is a "
        "window over the source dimension only (SURVEY §2.L)."
    ),
)
def token_budget_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(T.token_count(F.col("text"))).cast("bigint").alias("n_tokens")
    )
    tot = s.agg(F.sum("n_tokens").alias("n"))
    q = s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.expr(
            f"CAST((CAST({_BUDGET_TOKENS} AS DECIMAL(38,0)) * n_tokens) div n"
            " AS BIGINT)"
        ).alias("base_alloc"),
        F.expr(
            f"CAST((CAST({_BUDGET_TOKENS} AS DECIMAL(38,0)) * n_tokens) % n"
            " AS BIGINT)"
        ).alias("rem"),
    )
    lo = q.agg((F.lit(_BUDGET_TOKENS) - F.sum("base_alloc")).alias("leftover"))
    r = q.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("rem"), "source"))
    )
    return (
        r.crossJoin(F.broadcast(lo))
        .select(
            "source",
            "n_tokens",
            "base_alloc",
            F.when(F.col("rk") <= F.col("leftover"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("extra"),
            (
                F.col("base_alloc")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("alloc"),
        )
        .orderBy("source")
    )
