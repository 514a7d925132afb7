"""Data-governance & pipeline-maintenance operators (SURVEY.md §2.L):
the table-management surface a 100 TB training-data pipeline runs
between ingest and training — snapshot-to-snapshot diffs (what changed
since the last crawl), CDC change-log application with delete
semantics (the general form of the reference's ON CONFLICT upsert,
src/database.py:137-178), and a declarative data-quality expectations
gate (the engine-side generalization of the reference's validation
layer, src/security.py:20-118, which checks every attachment against
a rule list before admission).

All three are pure DataFrame compositions — full-outer diff joins,
one-shuffle keyed windows, single-pass conditional aggregates — so
Catalyst keeps scans pruned and aggregation map-side combined.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from email_etl_spark.cache import memo
from email_etl_spark.io import load_table
from email_etl_spark.plans.registry import register

# ---------------------------------------------------------------------------
# snapshot_diff — crawl-to-crawl corpus diff.
#
# Two snapshots are DERIVED deterministically from the documents table
# (the corpus has only one physical snapshot): membership and edit
# flags come from independent md5 lanes keyed by doc_id — the same
# deterministic-hash-sampling idiom as train_val_split
# (plans/curation.py) — so both engines construct bit-identical "old"
# and "new" snapshots, every diff class is populated, and the oracle
# can replay the construction textually.
# ---------------------------------------------------------------------------

# membership: ~15/16 of docs in each snapshot, independent lanes →
# ~6% added, ~6% removed; edits hit 2/16 of the intersection
_OLD_NOT = "f"  # doc in OLD snapshot iff first md5('old:'||id) digit != 'f'
_NEW_NOT = "e"  # doc in NEW snapshot iff first md5('new:'||id) digit != 'e'
_EDIT_IN = ("0", "1")  # doc edited between snapshots iff digit in {0,1}


def _snapshot_diff_oracle() -> str:
    edit_set = ", ".join(f"'{d}'" for d in _EDIT_IN)
    return f"""
WITH old_snap AS (
  SELECT doc_id, source, n_chars,
         CASE WHEN substr(md5('edit:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ({edit_set})
              THEN substr(text, 1, CAST(n_chars // 2 AS INT) + 1) ELSE text END AS old_text
  FROM documents
  WHERE substr(md5('old:' || CAST(doc_id AS VARCHAR)), 1, 1) <> '{_OLD_NOT}'
),
new_snap AS (
  SELECT doc_id, source, n_chars, text
  FROM documents
  WHERE substr(md5('new:' || CAST(doc_id AS VARCHAR)), 1, 1) <> '{_NEW_NOT}'
),
d AS (
  SELECT COALESCE(n.source, o.source) AS source,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.old_text <> n.text THEN 'changed'
              ELSE 'unchanged' END AS status,
         COALESCE(n.n_chars, 0) AS chars_n,
         COALESCE(o.n_chars, 0) AS chars_o
  FROM old_snap o FULL OUTER JOIN new_snap n ON o.doc_id = n.doc_id
)
SELECT source,
       CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
       CAST(SUM(CASE WHEN status = 'added' THEN chars_n ELSE 0 END) AS BIGINT) AS chars_added,
       CAST(SUM(CASE WHEN status = 'removed' THEN chars_o ELSE 0 END) AS BIGINT) AS chars_removed
FROM d GROUP BY source ORDER BY source
"""


@register(
    "snapshot_diff",
    oracle=_snapshot_diff_oracle(),
    doc=(
        "Snapshot-to-snapshot corpus diff — the crawl-refresh "
        "primitive: classify every doc_id across two corpus snapshots "
        "as added / removed / changed / unchanged via ONE full-outer "
        "join on the key plus a text comparison on the intersection, "
        "rolled up per source with churn byte counts. At 100 TB both "
        "snapshots shuffle once on doc_id into a sort-merge full-outer "
        "join (neither side is broadcastable and no other plan reads "
        "less); the per-source rollup is map-side combined. Snapshots "
        "here are derived from independent md5 membership/edit lanes "
        "(deterministic-hash idiom of train_val_split) so both engines "
        "build identical inputs and all four classes are non-empty; "
        "in production the two sides are yesterday's and today's "
        "parquet roots and the derivation filters drop out. A doc "
        "counts as changed only if its text actually differs — edits "
        "that truncate nothing (n_chars div 2 + 1 >= n_chars) stay "
        "unchanged, same expression both engines (SURVEY §2.L)."
    ),
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    key = F.col("doc_id").cast("string")
    edit = F.substring(F.md5(F.concat(F.lit("edit:"), key)), 1, 1).isin(*_EDIT_IN)
    old_snap = (
        docs.where(F.substring(F.md5(F.concat(F.lit("old:"), key)), 1, 1) != _OLD_NOT)
        .select(
            F.col("doc_id").alias("doc_o"),
            F.col("source").alias("src_o"),
            F.col("n_chars").alias("chars_o"),
            F.when(
                edit, F.expr("substring(text, 1, CAST(n_chars div 2 AS INT) + 1)")
            )
            .otherwise(F.col("text"))
            .alias("old_text"),
        )
    )
    new_snap = docs.where(
        F.substring(F.md5(F.concat(F.lit("new:"), key)), 1, 1) != _NEW_NOT
    ).select(
        F.col("doc_id").alias("doc_n"),
        F.col("source").alias("src_n"),
        F.col("n_chars").alias("chars_n"),
        "text",
    )
    status = (
        F.when(F.col("doc_o").isNull(), "added")
        .when(F.col("doc_n").isNull(), "removed")
        .when(F.col("old_text") != F.col("text"), "changed")
        .otherwise("unchanged")
    )
    d = old_snap.join(
        new_snap, old_snap.doc_o == new_snap.doc_n, "full_outer"
    ).select(
        F.coalesce("src_n", "src_o").alias("source"),
        status.alias("status"),
        F.coalesce("chars_n", F.lit(0)).alias("chars_n"),
        F.coalesce("chars_o", F.lit(0)).alias("chars_o"),
    )
    n_of = lambda s: F.sum(F.when(F.col("status") == s, 1).otherwise(0)).cast("bigint")
    c_of = lambda s, c: F.sum(
        F.when(F.col("status") == s, F.col(c)).otherwise(0)
    ).cast("bigint")
    return (
        d.groupBy("source")
        .agg(
            n_of("added").alias("n_added"),
            n_of("removed").alias("n_removed"),
            n_of("changed").alias("n_changed"),
            n_of("unchanged").alias("n_unchanged"),
            c_of("added", "chars_n").alias("chars_added"),
            c_of("removed", "chars_o").alias("chars_removed"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# cdc_apply — ordered change-log application with delete semantics.
# ---------------------------------------------------------------------------


@register(
    "cdc_apply",
    oracle="""
WITH log AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_ops,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id) AS n_deletes
  FROM events
)
SELECT user_id, value AS last_value,
       CAST(n_ops AS BIGINT) AS n_ops,
       CAST(n_deletes AS BIGINT) AS n_deletes,
       ts AS last_ts
FROM log WHERE rn = 1 AND op = 'U'
ORDER BY user_id
""",
    doc=(
        "CDC change-log apply — the general form of the reference's "
        "ON CONFLICT keep-latest upsert (src/database.py:137-178) "
        "extended with DELETE semantics: the events stream is read as "
        "a change log (event_type 'error' → tombstone D, everything "
        "else → upsert U), ordered per key by (ts, event_id), and the "
        "final state keeps a key only if its LAST op is an upsert — "
        "exactly MERGE INTO ... WHEN MATCHED DELETE applied in log "
        "order. One shuffle on user_id feeds row_number + both "
        "per-key counters from the SAME window partition (the "
        "ordered and unordered windows land as two Window physical "
        "ops over one Exchange — no second shuffle); at 100 TB this "
        "is the standard log-compaction "
        "shape — state size bounds the output, log size bounds the "
        "scan, and the same plan runs incrementally per micro-batch "
        "in streaming/pipeline.py's foreachBatch upsert (SURVEY §2.L)."
    ),
)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    log = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
    )
    w = Window.partitionBy("user_id")
    wo = w.orderBy(F.desc("ts"), F.desc("event_id"))
    state = log.select(
        "user_id",
        "value",
        "ts",
        "op",
        F.row_number().over(wo).alias("rn"),
        F.count("*").over(w).cast("bigint").alias("n_ops"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).over(w).cast("bigint").alias("n_deletes"),
    )
    return (
        state.where((F.col("rn") == 1) & (F.col("op") == "U"))
        .select(
            "user_id",
            F.col("value").alias("last_value"),
            "n_ops",
            "n_deletes",
            F.col("ts").alias("last_ts"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# expectations_report — declarative data-quality gate (Deequ-style).
# ---------------------------------------------------------------------------


@register(
    "expectations_report",
    oracle="""
WITH a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ck,
         CAST(SUM(CASE WHEN o_orderstatus IN ('O', 'F', 'P') THEN 0 ELSE 1 END) AS BIGINT) AS bad_status,
         CAST(SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT) AS nonpos_price,
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dup_keys,
         CAST(CASE WHEN MAX(o_orderdate) >= TIMESTAMP '1998-01-01' THEN 0 ELSE 1 END AS BIGINT) AS stale
  FROM orders
),
r AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS orphans
  FROM orders
  WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
),
report AS (
  SELECT 'o_custkey_not_null' AS rule, n AS n_checked, null_ck AS n_violations FROM a
  UNION ALL
  SELECT 'o_orderstatus_in_set', n, bad_status FROM a
  UNION ALL
  SELECT 'o_totalprice_positive', n, nonpos_price FROM a
  UNION ALL
  SELECT 'o_orderkey_unique', n, dup_keys FROM a
  UNION ALL
  SELECT 'o_custkey_referential', n, (SELECT orphans FROM r) FROM a
  UNION ALL
  SELECT 'o_orderdate_fresh', n, stale FROM a
)
SELECT rule, n_checked, n_violations,
       CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
FROM report ORDER BY rule
""",
    doc=(
        "Declarative data-quality expectations gate — the engine-side "
        "generalization of the reference's admission validation "
        "(src/security.py:20-118 checks every attachment against a "
        "rule list; here every BATCH is checked against a table-level "
        "rule list before downstream stages consume it): completeness "
        "(NOT NULL), accepted value set, range, key uniqueness, "
        "referential integrity against the customer dim, and "
        "watermark freshness. Five of the six rules fold into ONE "
        "single-pass conditional aggregate over the fact scan "
        "(uniqueness rides the same pass as COUNT DISTINCT's "
        "two-level partial agg); referential integrity is a "
        "left-anti join against the dim — broadcast at dim size, the "
        "one rule that genuinely needs a second scan. The report "
        "explodes from the two bounded aggregate rows, so the whole "
        "gate costs one fact scan + one anti join at any corpus size "
        "(SURVEY §2.L)."
    ),
)
def expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    a = orders.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("null_ck"),
        F.sum(F.when(F.col("o_orderstatus").isin("O", "F", "P"), 0).otherwise(1))
        .cast("bigint")
        .alias("bad_status"),
        F.sum(F.when(F.col("o_totalprice") > 0, 0).otherwise(1))
        .cast("bigint")
        .alias("nonpos_price"),
        (F.count("*") - F.countDistinct("o_orderkey")).cast("bigint").alias("dup_keys"),
        F.when(F.max("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"), 0)
        .otherwise(1)
        .cast("bigint")
        .alias("stale"),
    )
    orphans = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count("*").cast("bigint").alias("orphans"))
    )
    rules = a.crossJoin(F.broadcast(orphans)).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("o_custkey_not_null").alias("rule"),
                    F.col("n").alias("n_checked"),
                    F.col("null_ck").alias("n_violations"),
                ),
                F.struct(
                    F.lit("o_orderstatus_in_set").alias("rule"),
                    F.col("n").alias("n_checked"),
                    F.col("bad_status").alias("n_violations"),
                ),
                F.struct(
                    F.lit("o_totalprice_positive").alias("rule"),
                    F.col("n").alias("n_checked"),
                    F.col("nonpos_price").alias("n_violations"),
                ),
                F.struct(
                    F.lit("o_orderkey_unique").alias("rule"),
                    F.col("n").alias("n_checked"),
                    F.col("dup_keys").alias("n_violations"),
                ),
                F.struct(
                    F.lit("o_custkey_referential").alias("rule"),
                    F.col("n").alias("n_checked"),
                    F.col("orphans").alias("n_violations"),
                ),
                F.struct(
                    F.lit("o_orderdate_fresh").alias("rule"),
                    F.col("n").alias("n_checked"),
                    F.col("stale").alias("n_violations"),
                ),
            )
        ).alias("e")
    )
    return (
        rules.select(
            "e.rule",
            "e.n_checked",
            "e.n_violations",
            F.when(F.col("e.n_violations") == 0, 1).otherwise(0).cast("bigint").alias("passed"),
        )
        .orderBy("rule")
    )


# ---------------------------------------------------------------------------
# k_anonymity_profile — quasi-identifier re-identification risk.
# ---------------------------------------------------------------------------


@register(
    "k_anonymity_profile",
    oracle="""
WITH g AS (
  SELECT event_type,
         EXTRACT(hour FROM ts) AS hh,
         CAST(FLOOR(value) AS BIGINT) AS vbin,
         COUNT(*) AS s
  FROM events GROUP BY 1, 2, 3
),
b AS (
  SELECT event_type,
         CASE WHEN s = 1 THEN 'k=1'
              WHEN s < 5 THEN 'k=2-4'
              WHEN s < 10 THEN 'k=5-9'
              ELSE 'k>=10' END AS risk_bucket,
         s
  FROM g
)
SELECT event_type, risk_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(s) AS BIGINT) AS n_rows
FROM b GROUP BY event_type, risk_bucket
ORDER BY event_type, risk_bucket
""",
    doc=(
        "k-anonymity risk profile over the quasi-identifier "
        "(event_type, hour-of-day, integer value bin) — the "
        "aggregate-privacy counterpart of pii_scrub's direct-"
        "identifier redaction: rows in equivalence classes of size "
        "k=1 are re-identifiable on the QI alone, k<5 classes are "
        "conventionally still risky, and a release gate reads this "
        "table before exporting events for analysis. Two map-side-"
        "combined aggregates: the QI rollup shuffles only distinct "
        "combinations (bounded by the QI domain, not the row count), "
        "the risk-bucket rollup is tiny. No windows, no joins, no "
        "sort beyond the final 20-row ORDER BY — the profile costs "
        "one scan at any corpus size (SURVEY §2.L)."
    ),
)
def k_anonymity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.select(
            "event_type",
            F.hour("ts").alias("hh"),
            F.floor("value").cast("bigint").alias("vbin"),
        )
        .groupBy("event_type", "hh", "vbin")
        .agg(F.count("*").alias("s"))
    )
    bucket = (
        F.when(F.col("s") == 1, "k=1")
        .when(F.col("s") < 5, "k=2-4")
        .when(F.col("s") < 10, "k=5-9")
        .otherwise("k>=10")
    )
    return (
        g.select("event_type", bucket.alias("risk_bucket"), "s")
        .groupBy("event_type", "risk_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum("s").cast("bigint").alias("n_rows"),
        )
        .orderBy("event_type", "risk_bucket")
    )


RETENTION_DAYS = 14


@register(
    "retention_purge_audit",
    oracle=f"""
WITH m AS (SELECT MAX(ts) - INTERVAL {RETENTION_DAYS} DAY AS horizon FROM events),
e AS (
  SELECT event_type,
         CASE WHEN ts < m.horizon THEN 1 ELSE 0 END AS expired,
         length(props) AS sz
  FROM events CROSS JOIN m
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(expired) AS BIGINT) AS n_expired,
       CAST(SUM(expired) * 10000 // COUNT(*) AS BIGINT) AS expired_bps,
       CAST(COALESCE(SUM(CASE WHEN expired = 1 THEN sz END), 0) AS BIGINT) AS purge_chars
FROM e GROUP BY event_type ORDER BY event_type
""",
    doc=(
        "Retention-policy purge audit (SURVEY §2.K): what a "
        f"{RETENTION_DAYS}-day TTL would delete, per event type — row "
        "counts, share in exact bps, and payload chars to reclaim "
        "(the sizing pass a timeseries store runs before enabling a "
        "drop-chunk retention job; horizon = corpus max(ts) minus the "
        "policy window, a dataset-derived watermark, so the audit is "
        "deterministic and engine-reproducible — no wall clock). The "
        "1-row horizon broadcast joins into the scan; one partial-"
        "aggregated rollup, no second pass. At cluster scale the "
        "ts predicate is the partition-pruning key: the same horizon "
        "turns into dropped date partitions, and this report prices "
        "that drop before it runs."
    ),
)
def retention_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = ev.agg(F.expr(f"max(ts) - INTERVAL {RETENTION_DAYS} DAYS").alias("horizon"))
    e = ev.crossJoin(F.broadcast(m)).select(
        "event_type",
        F.when(F.col("ts") < F.col("horizon"), 1).otherwise(0).alias("expired"),
        F.length("props").alias("sz"),
    )
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_total"),
            F.sum("expired").cast("bigint").alias("n_expired"),
            F.expr("sum(expired) * 10000 div count(*)").cast("bigint").alias("expired_bps"),
            F.coalesce(F.sum(F.when(F.col("expired") == 1, F.col("sz"))), F.lit(0))
            .cast("bigint")
            .alias("purge_chars"),
        )
        .orderBy("event_type")
    )


# candidate functional dependencies over the corpus schema: two hold
# by key uniqueness, the rest measure approximate-FD violation rates
FD_PAIRS = (
    ("orders", "o_orderkey", "o_orderstatus"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("lineitem", "l_orderkey", "l_linestatus"),
    ("lineitem", "l_partkey", "l_returnflag"),
    ("documents", "doc_id", "lang"),
    ("documents", "source", "lang"),
    ("events", "user_id", "event_type"),
    ("customer", "c_nationkey", "c_mktsegment"),
)


def _fd_pair_sql(tbl: str, a: str, b: str) -> str:
    return f"""
SELECT '{tbl}.{a} -> {b}' AS fd,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       CAST(SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS violation_bps,
       CAST(CASE WHEN SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS BIGINT) AS fd_holds
FROM (SELECT {a}, COUNT(DISTINCT {b}) AS nb FROM {tbl} GROUP BY {a})"""


@register(
    "fd_profile",
    oracle="\nUNION ALL".join(_fd_pair_sql(*p) for p in FD_PAIRS) + "\nORDER BY fd",
    doc=(
        "Approximate functional-dependency profile (SURVEY §2.K — "
        "Metanome-style schema profiling, Papenbrock et al. 2015): "
        "for each candidate A -> B, the count of A-groups, groups "
        "with more than one distinct B (violations), exact-bps "
        "violation rate, and whether the FD holds exactly. Key-backed "
        "FDs (o_orderkey, doc_id) hold by uniqueness; the rest price "
        "how far the denormalized columns are from dependency. Each "
        "pair is one 2-column projected scan with a map-side-combined "
        "distinct-count (the scan reads ONLY the pair), collapsed to "
        "a 1-row report; the result is a fixed-8-row union. At "
        "cluster scale add pairs freely — each costs one pruned "
        "column-pair aggregation, no joins."
    ),
)
def fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = []
    for tbl, a, b in FD_PAIRS:
        t = load_table(spark, sf_dir, tbl)
        g = t.groupBy(a).agg(F.countDistinct(b).alias("nb"))
        viol = F.sum(F.when(F.col("nb") > 1, 1).otherwise(0))
        parts.append(
            g.agg(
                F.lit(f"{tbl}.{a} -> {b}").alias("fd"),
                F.count("*").cast("bigint").alias("n_groups"),
                viol.cast("bigint").alias("n_violating"),
                F.expr("sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) * 10000 div count(*)")
                .cast("bigint")
                .alias("violation_bps"),
                F.when(viol == 0, 1).otherwise(0).cast("bigint").alias("fd_holds"),
            )
        )
    res = parts[0]
    for p in parts[1:]:
        res = res.unionAll(p)
    return res.orderBy("fd")


# candidate inclusion dependencies (FK edges): five hold; the
# documents -> embeddings edge genuinely fails above sf0.01 (docs
# without embedding rows), so the audit carries live signal
IND_PAIRS = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("documents", "doc_id", "embeddings", "vec_id"),
    ("embeddings", "vec_id", "documents", "doc_id"),
)


def _ind_pair_sql(ct: str, ck: str, pt: str, pk: str) -> str:
    orph = f"SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END)"
    return f"""
SELECT '{ct}.{ck} <= {pt}.{pk}' AS ind,
       CAST(COUNT(*) AS BIGINT) AS n_child_keys,
       CAST({orph} AS BIGINT) AS n_orphans,
       CAST({orph} * 10000 // COUNT(*) AS BIGINT) AS orphan_bps,
       CAST(CASE WHEN {orph} = 0 THEN 1 ELSE 0 END AS BIGINT) AS ind_holds
FROM (SELECT DISTINCT {ck} FROM {ct}) c LEFT JOIN (SELECT DISTINCT {pk} FROM {pt}) p ON c.{ck} = p.{pk}"""


@register(
    "ref_integrity_profile",
    oracle="\nUNION ALL".join(_ind_pair_sql(*p) for p in IND_PAIRS) + "\nORDER BY ind",
    doc=(
        "Referential-integrity / inclusion-dependency audit (SURVEY "
        "§2.K — the IND half of schema profiling next to fd_profile; "
        "generalizes missing_embeddings from one listing to a 6-edge "
        "scorecard): per candidate FK edge, distinct child keys, "
        "orphans (child keys absent from the parent), exact-bps "
        "orphan rate, and an exact-holds flag. Each edge is two "
        "key-only distinct projections + one left join (AQE picks "
        "broadcast for dimension-sized parents, sort-merge for "
        "key-to-key edges) collapsed to a 1-row report; the docs -> "
        "embeddings edge fails with live orphan counts at sf0.1."
    ),
)
def ref_integrity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = []
    for ct, ck, pt, pk in IND_PAIRS:
        c = load_table(spark, sf_dir, ct).select(ck).distinct()
        p = load_table(spark, sf_dir, pt).select(pk).distinct()
        j = c.join(p, c[ck] == p[pk], "left")
        orph = F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0))
        parts.append(
            j.agg(
                F.lit(f"{ct}.{ck} <= {pt}.{pk}").alias("ind"),
                F.count("*").cast("bigint").alias("n_child_keys"),
                orph.cast("bigint").alias("n_orphans"),
                F.expr(f"sum(CASE WHEN {pk} IS NULL THEN 1 ELSE 0 END) * 10000 div count(*)")
                .cast("bigint")
                .alias("orphan_bps"),
                F.when(orph == 0, 1).otherwise(0).cast("bigint").alias("ind_holds"),
            )
        )
    res = parts[0]
    for p2 in parts[1:]:
        res = res.unionAll(p2)
    return res.orderBy("ind")


# ---------------------------------------------------------------------------
# l_diversity_profile — sensitive-attribute diversity within QI classes.
# ---------------------------------------------------------------------------


@register(
    "l_diversity_profile",
    oracle="""
WITH g AS (
  SELECT event_type,
         EXTRACT(hour FROM ts) AS hh,
         CAST(FLOOR(value) AS BIGINT) AS vbin,
         COUNT(*) AS s,
         COUNT(DISTINCT user_id) AS l
  FROM events GROUP BY 1, 2, 3
),
b AS (
  SELECT event_type,
         CASE WHEN l = 1 THEN 'l=1'
              WHEN l < 5 THEN 'l=2-4'
              WHEN l < 10 THEN 'l=5-9'
              ELSE 'l>=10' END AS div_bucket,
         s
  FROM g
)
SELECT event_type, div_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(s) AS BIGINT) AS n_rows
FROM b GROUP BY event_type, div_bucket
ORDER BY event_type, div_bucket
""",
    doc=(
        "l-diversity profile over the same quasi-identifier as "
        "k_anonymity_profile (event_type, hour, integer value bin), "
        "with user_id as the sensitive attribute: a class can be "
        "k-anonymous yet leak its sensitive value when every row "
        "belongs to ONE user (l=1 = homogeneity attack); the release "
        "gate reads both profiles together. One QI rollup with a "
        "distinct-count (shuffles only distinct (QI, user) pairs — "
        "bounded by the QI domain x active users, not row count) plus "
        "a tiny bucket rollup; no windows, no joins (SURVEY §2.L)."
    ),
)
def l_diversity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.select(
            "event_type",
            F.hour("ts").alias("hh"),
            F.floor("value").cast("bigint").alias("vbin"),
            "user_id",
        )
        .groupBy("event_type", "hh", "vbin")
        .agg(F.count("*").alias("s"), F.countDistinct("user_id").alias("l"))
    )
    bucket = (
        F.when(F.col("l") == 1, "l=1")
        .when(F.col("l") < 5, "l=2-4")
        .when(F.col("l") < 10, "l=5-9")
        .otherwise("l>=10")
    )
    return (
        g.select("event_type", bucket.alias("div_bucket"), "s")
        .groupBy("event_type", "div_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum("s").cast("bigint").alias("n_rows"),
        )
        .orderBy("event_type", "div_bucket")
    )


# ---------------------------------------------------------------------------
# column_entropy_profile — per-column value-distribution health.
# ---------------------------------------------------------------------------

# (table, [categorical columns]) melted per table in one scan each
_ENTROPY_COLS = (
    ("documents", ("lang", "source")),
    ("events", ("event_type",)),
    ("orders", ("o_orderstatus", "o_orderpriority")),
    ("customer", ("c_mktsegment",)),
)


def _col_entropy_oracle() -> str:
    melts = []
    for table, cols in _ENTROPY_COLS:
        for c in cols:
            melts.append(
                f"SELECT '{table}' AS table_name, '{c}' AS column_name, "
                f"CAST({c} AS VARCHAR) AS val FROM {table}"
            )
    melted = "\n  UNION ALL ".join(melts)
    return f"""
WITH m AS ({melted}),
c AS (
  SELECT table_name, column_name, val, COUNT(*) AS n
  FROM m GROUP BY 1, 2, 3
),
t AS (
  SELECT table_name, column_name, SUM(n) AS total, COUNT(*) AS n_distinct,
         MAX(n) AS top_n
  FROM c GROUP BY 1, 2
),
h AS (
  SELECT c.table_name, c.column_name,
         SUM(CAST(ROUND(-CAST(c.n AS DOUBLE) / t.total
                        * ln(CAST(c.n AS DOUBLE) / t.total), 9)
             AS DECIMAL(18,9))) AS hsum
  FROM c JOIN t USING (table_name, column_name)
  GROUP BY 1, 2
)
SELECT t.table_name, t.column_name,
       CAST(t.n_distinct AS BIGINT) AS n_distinct,
       CAST(t.total AS BIGINT) AS n_rows,
       ROUND(CAST(h.hsum AS DOUBLE), 4) AS entropy,
       CAST(t.top_n * 10000 // t.total AS BIGINT) AS top_share_bps
FROM t JOIN h USING (table_name, column_name)
ORDER BY table_name, column_name
"""


@register(
    "column_entropy_profile",
    oracle=_col_entropy_oracle(),
    doc=(
        "Per-column value-distribution health across every categorical "
        "column in the warehouse (Shannon entropy, distinct count, "
        "top-value share): near-zero entropy flags a column collapsed "
        "to one value (broken upstream extract), entropy near "
        "ln(n_distinct) flags uniform synthetic fill — the profiling "
        "companion to fd_profile/table_profile a 100 TB ingest runs "
        "after each snapshot. Each table is scanned ONCE and melted "
        "JVM-side (explode of (column, value) structs — no per-column "
        "rescans); value counts shuffle only distinct values, entropy "
        "terms pre-round to DECIMAL(18,9) (user_entropy convention) so "
        "the distributed sum is order-insensitive (SURVEY §2.L)."
    ),
)
def column_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = []
    for table, cols in _ENTROPY_COLS:
        df = load_table(spark, sf_dir, table)
        melted = df.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(c).cast("string").alias("val"),
                    )
                    for c in cols
                ])
            ).alias("kv")
        ).select(
            F.lit(table).alias("table_name"),
            F.col("kv.column_name").alias("column_name"),
            F.col("kv.val").alias("val"),
        )
        parts.append(melted)
    m = parts[0]
    for p in parts[1:]:
        m = m.unionAll(p)
    c = m.groupBy("table_name", "column_name", "val").agg(F.count("*").alias("n"))
    t = c.groupBy("table_name", "column_name").agg(
        F.sum("n").alias("total"),
        F.count("*").alias("n_distinct"),
        F.max("n").alias("top_n"),
    )
    h = (
        c.join(t.select("table_name", "column_name", "total"), ["table_name", "column_name"])
        .select(
            "table_name",
            "column_name",
            F.round(
                -F.col("n").cast("double") / F.col("total")
                * F.log(F.col("n").cast("double") / F.col("total")),
                9,
            )
            .cast("decimal(18,9)")
            .alias("term"),
        )
        .groupBy("table_name", "column_name")
        .agg(F.sum("term").alias("hsum"))
    )
    return (
        t.join(h, ["table_name", "column_name"])
        .select(
            "table_name",
            "column_name",
            F.col("n_distinct").cast("bigint").alias("n_distinct"),
            F.col("total").cast("bigint").alias("n_rows"),
            F.round(F.col("hsum").cast("double"), 4).alias("entropy"),
            F.expr("top_n * 10000 div total").cast("bigint").alias("top_share_bps"),
        )
        .orderBy("table_name", "column_name")
    )


_SKIP_LO, _SKIP_HI = "2024-01-10", "2024-01-20"  # inclusive day window


@register(
    "parquet_skipping_stats",
    # DuckDB's parquet_metadata() reads the same thrift footer pyarrow
    # does, so footer facts DO have an oracle twin: row_group_bytes ==
    # pyarrow total_byte_size and stats_min_value/stats_max_value
    # stringify identically. parquet_metadata() only accepts CONSTANT
    # paths, so the SQL carries the __SF_DIR__ token — substituted with
    # the actual corpus dir by the parity harness (tests/oracle.py) and
    # pinned to the driver's sf0.01 correctness contract in
    # oracle_sql_map(). Skip arithmetic on crafted multi-row-group
    # files stays pinned in tests/test_metadata.py.
    # Stat strings are representation-normalized on BOTH sides before
    # comparison by the gate: DuckDB trims trailing fractional-second
    # zeros ('…00.5') while pyarrow's str(datetime) pads to 6-digit
    # micros ('…00.500000'), so a row group whose min/max micros end in
    # 0 would hash-mismatch spuriously. Shared canonical form = trim
    # trailing zeros then any dangling '.', applied to the DISPLAY
    # columns only — the skippable comparison stays on the raw strings
    # (trimming preserves chronological order, but raw is obviously
    # safe).
    oracle=f"""
SELECT regexp_extract(file_name, '[^/]+$') AS file,
       CAST(row_group_id AS INTEGER) AS rg_idx,
       CAST(row_group_num_rows AS BIGINT) AS n_rows,
       CAST(row_group_bytes AS BIGINT) AS total_bytes,
       regexp_replace(regexp_replace(stats_min_value, '(\\.\\d*?)0+$', '\\1'),
                      '\\.$', '') AS stat_min,
       regexp_replace(regexp_replace(stats_max_value, '(\\.\\d*?)0+$', '\\1'),
                      '\\.$', '') AS stat_max,
       NOT (stats_min_value <= '{_SKIP_HI} 23:59:59.999999999'
            AND stats_max_value >= '{_SKIP_LO}') AS skippable
FROM parquet_metadata('__SF_DIR__/events.parquet')
WHERE path_in_schema = 'ts'
ORDER BY file, rg_idx
""",
    doc=(
        "Data-skipping profile from parquet FOOTERS only: one row per "
        "row group of the events table with its ts min/max statistics "
        "and whether the sessionize-era date window could skip it — "
        "the planning layer a 100 TB scan consults before reading any "
        "data page. The driver ships file PATHS; executors read "
        "footers (kilobytes) in mapInPandas "
        "(operators/metadata.parquet_rowgroup_stats), so a "
        "million-file lake profiles in one metadata-parallel pass. "
        "Local testdata is single-file/single-group — the skip "
        "arithmetic is exercised on a crafted multi-row-group file in "
        "tests/test_metadata.py (SURVEY §4)."
    ),
)
def parquet_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from email_etl_spark.operators.metadata import (
        parquet_rowgroup_stats,
        skippable_outside_window,
    )

    path = os.path.join(sf_dir, "events.parquet")
    stats = parquet_rowgroup_stats(spark, [path], "ts")
    skippable = skippable_outside_window(_SKIP_LO, _SKIP_HI)

    def trim_frac(c):
        # Canonical stat string shared with the DuckDB oracle: trim
        # trailing fractional-second zeros, then a dangling '.', so the
        # gate compares values, not engine formatting.
        return F.regexp_replace(
            F.regexp_replace(c, r"(\.\d*?)0+$", "$1"), r"\.$", ""
        )

    return stats.select(
        F.element_at(F.split(F.col("file"), "/"), -1).alias("file"),
        "rg_idx",
        "n_rows",
        "total_bytes",
        trim_frac(F.col("stat_min")).alias("stat_min"),
        trim_frac(F.col("stat_max")).alias("stat_max"),
        skippable.alias("skippable"),
    ).orderBy("file", "rg_idx")


DP_EPS_X10 = 10  # epsilon = 1.0 (x10 to keep the name integer)
_DP_U = (
    "((CAST(CONV(SUBSTRING(MD5(CONCAT('dp:', event_type)), 1, 6), 16, 10) AS BIGINT)"
    " % 1000000) + 0.5) / 1000000.0"
)
_DP_U_DUCK = (
    "((65536 * (16 * (strpos('0123456789abcdef', substr(md5('dp:' || event_type), 1, 1)) - 1)"
    "          + strpos('0123456789abcdef', substr(md5('dp:' || event_type), 2, 1)) - 1)"
    " + 256 * (16 * (strpos('0123456789abcdef', substr(md5('dp:' || event_type), 3, 1)) - 1)"
    "          + strpos('0123456789abcdef', substr(md5('dp:' || event_type), 4, 1)) - 1)"
    " + (16 * (strpos('0123456789abcdef', substr(md5('dp:' || event_type), 5, 1)) - 1)"
    "    + strpos('0123456789abcdef', substr(md5('dp:' || event_type), 6, 1)) - 1))"
    " % 1000000 + 0.5) / 1000000.0"
)


@register(
    "dp_release_counts",
    oracle=f"""
WITH c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
u AS (SELECT event_type, n, {_DP_U_DUCK} AS u FROM c),
z AS (
  SELECT event_type, n,
         ROUND(-(10.0 / {DP_EPS_X10}) * CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END
               * LN(1.0 - 2.0 * ABS(u - 0.5)), 4) AS noise
  FROM u
)
SELECT event_type,
       CAST(ROUND(n + noise) AS BIGINT) AS n_released,
       noise,
       {DP_EPS_X10} / 10.0 AS epsilon
FROM z ORDER BY event_type
""",
    doc=(
        "Laplace-mechanism count release (Dwork et al. 2006) — the "
        "third leg of the privacy family after k_anonymity_profile / "
        "l_diversity_profile: per-group counts plus Laplace(1/eps) "
        "noise (sensitivity 1, eps=1) via the inverse-CDF transform. "
        "CAVEAT, stated loudly: the uniform draw is md5-derived (the "
        "engine's no-RNG reproducibility convention), which makes "
        "this the MECHANISM's pipeline — bit-checkable cross-engine — "
        "not a cryptographically private release; production swaps "
        "the hash for a secure RNG and changes nothing else. Shape: "
        "one map-side-combined count + per-row noise arithmetic; the "
        "inverse-CDF ln is rounded to 4 dp in both engines "
        "(SURVEY §2.L)."
    ),
)
def dp_release_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    u = F.expr(_DP_U)
    noise = F.round(
        -(10.0 / DP_EPS_X10)
        * F.when(u >= 0.5, 1.0).otherwise(-1.0)
        * F.log(1.0 - 2.0 * F.abs(u - 0.5)),
        4,
    )
    return c.select(
        "event_type",
        F.round(F.col("n") + noise).cast("bigint").alias("n_released"),
        noise.alias("noise"),
        F.lit(DP_EPS_X10 / 10.0).alias("epsilon"),
    ).orderBy("event_type")


@register(
    "t_closeness_profile",
    oracle="""
WITH base AS (
  SELECT event_type,
         EXTRACT(hour FROM ts) AS hh,
         CAST(FLOOR(value) AS BIGINT) AS vbin,
         user_id % 8 AS coh
  FROM events
),
cnt AS (SELECT event_type, hh, vbin, coh, COUNT(*) AS c FROM base GROUP BY 1, 2, 3, 4),
nc AS (SELECT event_type, hh, vbin, SUM(c) AS n_c FROM cnt GROUP BY 1, 2, 3),
g AS (SELECT coh, SUM(c) AS gc FROM cnt GROUP BY 1),
tot AS (SELECT SUM(c) AS n FROM cnt),
grid AS (SELECT nc.event_type, nc.hh, nc.vbin, nc.n_c, g.coh, g.gc FROM nc CROSS JOIN g),
diffs AS (
  SELECT gr.event_type, gr.hh, gr.vbin, gr.n_c,
         ABS(CAST(COALESCE(cnt.c, 0) AS HUGEINT) * tot.n
             - CAST(gr.gc AS HUGEINT) * gr.n_c) AS d
  FROM grid gr
  LEFT JOIN cnt ON cnt.event_type = gr.event_type AND cnt.hh = gr.hh
              AND cnt.vbin = gr.vbin AND cnt.coh = gr.coh
  CROSS JOIN tot
),
per_class AS (
  SELECT event_type, hh, vbin, n_c,
         CAST(SUM(d) * 10000 // (2 * CAST(n_c AS HUGEINT) * (SELECT n FROM tot)) AS BIGINT) AS t_bps
  FROM diffs GROUP BY 1, 2, 3, 4
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(n_c) AS BIGINT) AS n_rows,
       CAST(MAX(t_bps) AS BIGINT) AS max_t_bps,
       CAST(SUM(CAST(n_c AS HUGEINT) * t_bps) // SUM(n_c) AS BIGINT) AS wmean_t_bps,
       CAST(SUM(CASE WHEN t_bps >= 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_classes
FROM per_class GROUP BY event_type ORDER BY event_type
""",
    doc=(
        "t-closeness profile (Li et al. 2007) over the same "
        "quasi-identifier as k_anonymity_profile — the fourth leg of "
        "the privacy family: a class can be k-anonymous AND l-diverse "
        "yet still leak if its sensitive-attribute distribution sits "
        "far from the global one (skewness attack). Sensitive "
        "attribute = the deterministic user cohort (user_id mod 8, "
        "the engine's categorical stand-in); distance = total "
        "variation (EMD under the equal-distance metric), computed "
        "EXACTLY as |c_i*N - g_i*n_c| integer cross-products over the "
        "class x cohort grid — zero float CDFs, HUGEINT/DECIMAL(38,0) "
        "products so planetary volume cannot overflow. Shape: ONE "
        "events scan (the QI+cohort rollup); every later table is "
        "bounded by the QI domain, the 8-row cohort margin broadcasts "
        "(SURVEY §2.L)."
    ),
)
def t_closeness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.hour("ts").alias("hh"),
        F.floor("value").cast("bigint").alias("vbin"),
        (F.col("user_id") % 8).alias("coh"),
    )
    cnt = base.groupBy("event_type", "hh", "vbin", "coh").agg(F.count("*").alias("c"))
    nc = cnt.groupBy("event_type", "hh", "vbin").agg(F.sum("c").alias("n_c"))
    g = cnt.groupBy("coh").agg(F.sum("c").alias("gc"))
    tot = cnt.agg(F.sum("c").alias("n"))
    grid = nc.crossJoin(F.broadcast(g))
    j = (
        grid.join(cnt, ["event_type", "hh", "vbin", "coh"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "hh",
            "vbin",
            "n_c",
            F.abs(
                F.coalesce(F.col("c"), F.lit(0)).cast("decimal(38,0)") * F.col("n")
                - F.col("gc").cast("decimal(38,0)") * F.col("n_c")
            ).alias("d"),
            F.col("n"),
        )
    )
    per_class = j.groupBy("event_type", "hh", "vbin", "n_c").agg(
        F.expr(
            "CAST(sum(d) * 10000 AS DECIMAL(38,0)) div "
            "(2 * CAST(n_c AS DECIMAL(38,0)) * CAST(max(n) AS DECIMAL(38,0)))"
        ).alias("t_bps")
    )
    return (
        per_class.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_classes"),
            F.sum("n_c").cast("bigint").alias("n_rows"),
            F.max("t_bps").cast("bigint").alias("max_t_bps"),
            F.expr(
                "CAST(sum(CAST(n_c AS DECIMAL(38,0)) * t_bps) AS DECIMAL(38,0)) div sum(n_c)"
            )
            .cast("bigint")
            .alias("wmean_t_bps"),
            F.sum(F.when(F.col("t_bps") >= 5000, 1).otherwise(0))
            .cast("bigint")
            .alias("n_risky_classes"),
        )
        .orderBy("event_type")
    )


_DPQ_EPS_X10 = 10  # epsilon = 1.0
# Gumbel-max exponential mechanism: md5-derived uniform per candidate
# (no-RNG reproducibility convention, same caveat as dp_release_counts)
_DPQ_U = (
    "((CAST(CONV(SUBSTRING(MD5(CONCAT('dpq:', CAST(v AS STRING))), 1, 6), 16, 10) AS BIGINT)"
    " % 1000000) + 0.5) / 1000000.0"
)
_DPQ_U_DUCK = (
    "((65536 * (16 * (strpos('0123456789abcdef', substr(md5('dpq:' || CAST(v AS VARCHAR)), 1, 1)) - 1)"
    "          + strpos('0123456789abcdef', substr(md5('dpq:' || CAST(v AS VARCHAR)), 2, 1)) - 1)"
    " + 256 * (16 * (strpos('0123456789abcdef', substr(md5('dpq:' || CAST(v AS VARCHAR)), 3, 1)) - 1)"
    "          + strpos('0123456789abcdef', substr(md5('dpq:' || CAST(v AS VARCHAR)), 4, 1)) - 1)"
    " + (16 * (strpos('0123456789abcdef', substr(md5('dpq:' || CAST(v AS VARCHAR)), 5, 1)) - 1)"
    "    + strpos('0123456789abcdef', substr(md5('dpq:' || CAST(v AS VARCHAR)), 6, 1)) - 1))"
    " % 1000000 + 0.5) / 1000000.0"
)


@register(
    "dp_quantile_release",
    oracle=f"""
WITH b AS (
  SELECT CAST(FLOOR(value) AS BIGINT) AS v, COUNT(*) AS c
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
n AS (SELECT SUM(c) AS nt FROM b),
r AS (
  SELECT v, c, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum FROM b
),
s AS (
  SELECT v, cum, n.nt,
         ROUND(-ABS(2.0 * cum - n.nt) * {_DPQ_EPS_X10} / 40.0
               - LN(-LN({_DPQ_U_DUCK})), 9) AS score
  FROM r CROSS JOIN n
),
win AS (
  SELECT v, nt FROM s
  QUALIFY ROW_NUMBER() OVER (ORDER BY score DESC, v) = 1
),
tru AS (SELECT MIN(v) AS m FROM r CROSS JOIN n WHERE 2 * cum >= n.nt)
SELECT CAST(win.nt AS BIGINT) AS n_values,
       CAST(tru.m AS BIGINT) AS true_median_bin,
       CAST(win.v AS BIGINT) AS released_bin,
       {_DPQ_EPS_X10} / 10.0 AS epsilon
FROM win CROSS JOIN tru
""",
    doc=(
        "Exponential-mechanism DP median release (McSherry & Talwar "
        "2007) over integer purchase-value bins — the fourth privacy "
        "leg: k-anonymity/l-diversity/t-closeness profile the RISK, "
        "dp_release_counts releases counts, this releases a QUANTILE "
        "with utility u(v) = -|rank(v) - n/2| (sensitivity 1) via the "
        "Gumbel-max trick. SAME LOUD CAVEAT as dp_release_counts: the "
        "per-candidate uniform is md5-derived so the mechanism's "
        "pipeline is bit-checkable cross-engine — production swaps a "
        "secure RNG and changes nothing else. Scores pre-rounded to 9 "
        "dp before the argmax (deterministic winner, value "
        "tiebreak); one fact rollup, all later tables bounded by the "
        "~100-bin candidate domain (SURVEY §2.L)."
    ),
)
def dp_quantile_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.floor("value").cast("bigint").alias("v"))
        .agg(F.count("*").alias("c"))
    )
    n = b.agg(F.sum("c").alias("nt"))
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r = b.select("v", "c", F.sum("c").over(wc).alias("cum"))
    s = r.crossJoin(F.broadcast(n)).select(
        "v",
        "cum",
        "nt",
        F.round(
            -F.abs(2.0 * F.col("cum") - F.col("nt")) * _DPQ_EPS_X10 / 40.0
            - F.log(-F.log(F.expr(_DPQ_U))),
            9,
        ).alias("score"),
    )
    ww = Window.orderBy(F.desc("score"), "v")
    win = s.withColumn("rn", F.row_number().over(ww)).where(F.col("rn") == 1)
    tru = (
        r.crossJoin(F.broadcast(n))
        .where(2 * F.col("cum") >= F.col("nt"))
        .agg(F.min("v").alias("m"))
    )
    return win.crossJoin(F.broadcast(tru)).select(
        F.col("nt").cast("bigint").alias("n_values"),
        F.col("m").cast("bigint").alias("true_median_bin"),
        F.col("v").cast("bigint").alias("released_bin"),
        F.lit(_DPQ_EPS_X10 / 10.0).alias("epsilon"),
    )


_RG_BANDS_MB = (1, 16, 64)  # histogram edges; target healthy size >= 64 MB


@register(
    "rowgroup_size_histogram",
    oracle="""
WITH g AS (
  SELECT row_group_id, MAX(row_group_bytes) AS bytes
  FROM parquet_metadata('__SF_DIR__/events.parquet')
  GROUP BY row_group_id
),
b AS (
  SELECT CASE WHEN bytes < 1048576 THEN '<1MB'
              WHEN bytes < 16777216 THEN '1-16MB'
              WHEN bytes < 67108864 THEN '16-64MB'
              ELSE '>=64MB' END AS size_band,
         bytes
  FROM g
)
SELECT size_band,
       CAST(COUNT(*) AS BIGINT) AS n_row_groups,
       CAST(SUM(bytes) AS BIGINT) AS total_bytes,
       CAST(COUNT(*) * 10000 // (SELECT COUNT(*) FROM g) AS BIGINT) AS share_bps
FROM b GROUP BY size_band ORDER BY size_band
""",
    doc=(
        "Row-group size histogram from parquet FOOTERS (the "
        "compaction-planning companion to parquet_skipping_stats): "
        "row groups below the 64 MB healthy band mean a small-file / "
        "small-group problem — every one costs a seek and dilutes "
        "min/max skipping, and the fix (OPTIMIZE / rewrite with "
        "bigger groups) is priced by exactly this table. Executors "
        "read footers only (operators/metadata, kilobytes per file); "
        "the oracle reads the same thrift metadata through DuckDB's "
        "parquet_metadata() via the __SF_DIR__ token (SURVEY §4)."
    ),
)
def rowgroup_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from email_etl_spark.operators.metadata import parquet_rowgroup_stats

    path = os.path.join(sf_dir, "events.parquet")
    stats = parquet_rowgroup_stats(spark, [path], "ts")
    g = stats.select("rg_idx", F.col("total_bytes").alias("bytes"))
    band = (
        F.when(F.col("bytes") < 1 << 20, "<1MB")
        .when(F.col("bytes") < 16 << 20, "1-16MB")
        .when(F.col("bytes") < 64 << 20, "16-64MB")
        .otherwise(">=64MB")
    )
    tot = g.agg(F.count("*").alias("n_all"))
    return (
        g.select(band.alias("size_band"), "bytes")
        .groupBy("size_band")
        .agg(
            F.count("*").cast("bigint").alias("n_row_groups"),
            F.sum("bytes").cast("bigint").alias("total_bytes"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "size_band",
            "n_row_groups",
            "total_bytes",
            F.expr("n_row_groups * 10000 div n_all").cast("bigint").alias("share_bps"),
        )
        .orderBy("size_band")
    )


# ---------------------------------------------------------------------------
# mv_refresh_delta — incremental materialized-view maintenance.
# ---------------------------------------------------------------------------

MV_BASE_ROOT = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "spark-warehouse",
    "mv_base",
)


def build_mv_base_snapshot(
    spark: SparkSession, sf_dir: str, snapshot_dir: str | None = None
) -> str:
    """Materialize the per-source BASE STATE of the stats view —
    aggregates over docs up to the id midpoint ("yesterday's
    snapshot") plus the midpoint itself — the build-once discipline of
    build_minhash_index (plans/dedup.py). At refresh time the history
    is read from HERE, never rescanned: the query plan touches the
    corpus only through the delta id-slice. Midpoint arithmetic is
    integer `div` end to end (matching the oracle's floor division at
    any magnitude — (min+max)/2 through DOUBLE loses exactness past
    2^53). Idempotent per corpus dir."""
    import os

    snapshot_dir = snapshot_dir or os.path.join(
        MV_BASE_ROOT, os.path.basename(sf_dir.rstrip("/"))
    )
    if not os.path.exists(os.path.join(snapshot_dir, "_SUCCESS")):
        docs = load_table(spark, sf_dir, "documents")
        row = docs.agg(
            F.expr("(min(doc_id) + max(doc_id)) div 2").alias("m")
        ).first()
        m = row["m"] if row is not None else None
        base = docs if m is None else docs.where(F.col("doc_id") <= F.lit(m))
        snap = base.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.max("doc_id").alias("max_doc_id"),
            F.lit(m).cast("long").alias("m"),
        )
        # dimension-sized state: one file, no partition tree
        snap.coalesce(1).write.mode("overwrite").parquet(snapshot_dir)
        # a (re)build swaps the directory contents: drop any cached
        # handle/midpoint pointing at the old file listing (the
        # compaction convention, streaming/ann_index.py)
        from email_etl_spark.cache import invalidate_under

        invalidate_under(snapshot_dir)
    return snapshot_dir


@register(
    "mv_refresh_delta",
    headline=True,
    oracle="""
WITH mid AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS m FROM documents)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
       CAST(SUM(CASE WHEN doc_id > (SELECT m FROM mid) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_delta_docs
FROM documents GROUP BY source ORDER BY source
""",
    doc=(
        "Incremental materialized-view refresh: the per-source stats "
        "view is maintained as PERSISTED BASE STATE (docs up to the id "
        "midpoint — yesterday's snapshot, written once by "
        "build_mv_base_snapshot under spark-warehouse/mv_base) merged "
        "with a DELTA aggregate over only the new id-slice — the plan "
        "scans the corpus exactly once, with doc_id > m PUSHED to the "
        "parquet scan (row-group pruning skips history), plus one read "
        "of the dimension-sized snapshot. Rescanning a petabyte to add "
        "a day is not a refresh strategy; the foreachBatch upsert sink "
        "in streaming/pipeline.py persists exactly this mergeable "
        "state. All statistics here are MERGEABLE (count/sum/max merge "
        "by sum/sum/max); the oracle is the full recompute, so the "
        "gate PROVES snapshot+delta == scratch (SURVEY §2.H/§4; plan "
        "shape pinned by tests/test_mv_snapshot.py)."
    ),
)
def mv_refresh_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    snap_dir = build_mv_base_snapshot(spark, sf_dir)
    # memoized snapshot handle + midpoint (r10): re-reading the
    # dimension-sized snapshot and re-running the one-row `.first()`
    # job on EVERY builder call cost ~0.1 s/run; the midpoint is
    # immutable snapshot metadata, so a refresh service reads it once
    # per snapshot build (a rebuild invalidates the snapshot dir).
    def read_snapshot():
        snap = spark.read.parquet(snap_dir)
        # the midpoint is snapshot metadata — one bounded value, a plan
        # constant (the MLlib shape), NOT a runtime subquery: inlining
        # it as a literal is what lets the delta predicate reach
        # PushedFilters
        row = snap.select("m").first()
        return snap, (row["m"] if row is not None else None)

    snap, m = memo(spark, "mv_snap", snap_dir, build=read_snapshot)

    docs = load_table(spark, sf_dir, "documents")
    delta_docs = docs if m is None else docs.where(F.col("doc_id") > F.lit(m))
    delta = delta_docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.max("doc_id").alias("max_doc_id"),
        F.count("*").alias("n_delta_docs"),
    )
    base = snap.select(
        "source",
        "n_docs",
        "total_chars",
        "max_doc_id",
        F.lit(0).cast("long").alias("n_delta_docs"),
    )
    # merge step: the ONLY work a refresh does at scale — state tables
    # are source-sized, the delta aggregate is delta-sized
    return (
        base.unionByName(delta)
        .groupBy("source")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("total_chars").cast("bigint").alias("total_chars"),
            F.max("max_doc_id").cast("bigint").alias("max_doc_id"),
            F.sum("n_delta_docs").cast("bigint").alias("n_delta_docs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# dp_topk_release — exponential-mechanism top-k selection.
# ---------------------------------------------------------------------------

DP_TOPK = 3
_DP_TOPK_EPS_X10 = 10  # epsilon = 1.0 per selection round


def _gumbel_duck(round_no: int) -> str:
    """Deterministic md5-derived uniform -> Gumbel for (round, type),
    DuckDB text: g = -ln(-ln(u)), u in (0,1) from the first 6 hex
    digits (the _DP_U/_DP_U_DUCK twin-expression pattern)."""
    h = f"md5('dptk:{round_no}:' || event_type)"
    u = (
        f"((65536 * (16 * (strpos('0123456789abcdef', substr({h}, 1, 1)) - 1)"
        f"          + strpos('0123456789abcdef', substr({h}, 2, 1)) - 1)"
        f" + 256 * (16 * (strpos('0123456789abcdef', substr({h}, 3, 1)) - 1)"
        f"          + strpos('0123456789abcdef', substr({h}, 4, 1)) - 1)"
        f" + (16 * (strpos('0123456789abcdef', substr({h}, 5, 1)) - 1)"
        f"    + strpos('0123456789abcdef', substr({h}, 6, 1)) - 1))"
        f" % 1000000 + 0.5) / 1000000.0"
    )
    return f"(0.0 - ln(0.0 - ln({u})))"


def _gumbel_spark(round_no: int) -> str:
    """Spark text of the SAME uniform: CONV(first 6 md5 hex, 16, 10)
    mod 1e6 — value-identical to _gumbel_duck's digit polynomial."""
    u = (
        f"((CAST(CONV(SUBSTRING(MD5(CONCAT('dptk:{round_no}:', event_type)), 1, 6),"
        f" 16, 10) AS BIGINT) % 1000000) + 0.5) / 1000000.0"
    )
    return f"(0.0 - LN(0.0 - LN({u})))"


def _dp_topk_oracle() -> str:
    eps = _DP_TOPK_EPS_X10 / 10.0
    score = lambda r: (  # noqa: E731
        f"ROUND({eps} * c / 2.0 + {_gumbel_duck(r)}, 6)"
    )
    return f"""
WITH c AS (SELECT event_type, COUNT(*) AS c FROM events GROUP BY event_type),
r1 AS (SELECT event_type, {score(1)} AS s FROM c
       ORDER BY s DESC, event_type LIMIT 1),
r2 AS (SELECT event_type, {score(2)} AS s FROM c
       WHERE event_type NOT IN (SELECT event_type FROM r1)
       ORDER BY s DESC, event_type LIMIT 1),
r3 AS (SELECT event_type, {score(3)} AS s FROM c
       WHERE event_type NOT IN (SELECT event_type FROM r1
                                UNION ALL SELECT event_type FROM r2)
       ORDER BY s DESC, event_type LIMIT 1)
SELECT CAST(rk AS BIGINT) AS rank, event_type, s AS score
FROM (SELECT 1 AS rk, * FROM r1 UNION ALL SELECT 2, * FROM r2
      UNION ALL SELECT 3, * FROM r3)
ORDER BY rank
"""


@register(
    "dp_topk_release",
    oracle=_dp_topk_oracle(),
    doc=(
        "Differentially-private top-k selection (k=3) of the most "
        "active event types via PEELING EXPONENTIAL MECHANISM: each "
        "round scores every unreleased candidate with eps*count/2 "
        "plus Gumbel noise (the Gumbel-max trick IS the exponential "
        "mechanism) and releases the argmax — identities only, never "
        "counts; composes with dp_release_counts (Laplace counts) and "
        "dp_quantile_release (exponential quantiles) to complete the "
        "DP-release family. Noise is md5-derived and loudly NOT a "
        "secure RNG — the right framing for a bit-checkable pipeline; "
        "swap the hash for a seeded CSPRNG in production. Scores are "
        "rounded to 6dp before the argmax so tie-breaks are "
        "cross-engine stable; candidate table is type-sized "
        "(SURVEY §2.L)."
    ),
)
def dp_topk_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count("*").alias("c"))
    eps = _DP_TOPK_EPS_X10 / 10.0

    def scored(df: DataFrame, r: int) -> DataFrame:
        return df.select(
            "event_type",
            F.expr(f"ROUND({eps} * c / 2.0 + {_gumbel_spark(r)}, 6)").alias("s"),
        )

    picked: list[DataFrame] = []
    remaining = c
    for r in range(1, DP_TOPK + 1):
        win = (
            scored(remaining, r)
            .orderBy(F.desc("s"), "event_type")
            .limit(1)
            .select(F.lit(r).cast("bigint").alias("rank"), "event_type", "s")
        )
        picked.append(win)
        remaining = remaining.join(
            win.select("event_type"), "event_type", "left_anti"
        )
    out = picked[0]
    for p in picked[1:]:
        out = out.unionByName(p)
    return out.select("rank", "event_type", F.col("s").alias("score")).orderBy(
        "rank"
    )


# ---------------------------------------------------------------------------
# dp_mean_release — Laplace mean with contribution clipping.
# ---------------------------------------------------------------------------

DP_MEAN_CLIP = 100.0  # per-event value clip bound (sensitivity of the sum)


def _dp_mean_u_duck(prefix: str) -> str:
    h = f"md5('{prefix}:' || event_type)"
    return (
        f"((65536 * (16 * (strpos('0123456789abcdef', substr({h}, 1, 1)) - 1)"
        f"          + strpos('0123456789abcdef', substr({h}, 2, 1)) - 1)"
        f" + 256 * (16 * (strpos('0123456789abcdef', substr({h}, 3, 1)) - 1)"
        f"          + strpos('0123456789abcdef', substr({h}, 4, 1)) - 1)"
        f" + (16 * (strpos('0123456789abcdef', substr({h}, 5, 1)) - 1)"
        f"    + strpos('0123456789abcdef', substr({h}, 6, 1)) - 1))"
        f" % 1000000 + 0.5) / 1000000.0"
    )


def _dp_mean_u_spark(prefix: str) -> str:
    return (
        f"((CAST(CONV(SUBSTRING(MD5(CONCAT('{prefix}:', event_type)), 1, 6),"
        f" 16, 10) AS BIGINT) % 1000000) + 0.5) / 1000000.0"
    )


def _lap_duck(u: str, scale: float) -> str:
    return (
        f"ROUND(-{scale} * CASE WHEN {u} >= 0.5 THEN 1.0 ELSE -1.0 END"
        f" * LN(1.0 - 2.0 * ABS({u} - 0.5)), 4)"
    )


def _dp_mean_oracle() -> str:
    c = DP_MEAN_CLIP
    # eps=1 split evenly: Laplace(2C/eps) on the clipped sum,
    # Laplace(2/eps) on the count
    n_sum = _lap_duck(_dp_mean_u_duck("dpm_s"), 2.0 * c)
    n_cnt = _lap_duck(_dp_mean_u_duck("dpm_n"), 2.0)
    return f"""
WITH a AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(ROUND(LEAST(GREATEST(value, 0.0), {c}), 4)
                  AS DECIMAL(18,4))) AS s
  FROM events GROUP BY event_type
)
SELECT event_type,
       {n_sum} AS noise_sum,
       {n_cnt} AS noise_count,
       ROUND((CAST(s AS DOUBLE) + {n_sum})
             / GREATEST(1.0, n + {n_cnt}), 4) AS released_mean,
       CAST({c} AS DOUBLE) AS clip,
       CAST(1.0 AS DOUBLE) AS epsilon
FROM a ORDER BY event_type
"""


@register(
    "dp_mean_release",
    oracle=_dp_mean_oracle(),
    doc=(
        "Differentially-private MEAN release per event type — the "
        "fourth mechanism in the DP family (Laplace counts, exponential "
        "quantile, peeling top-k, now clipped mean): per-event values "
        "are clipped to [0, C] so the sum's sensitivity is C, then "
        "Laplace(2C/eps) noises the clipped sum and Laplace(2/eps) the "
        "count (eps=1 split evenly, sequential composition), and the "
        "release is noisy_sum / max(1, noisy_count). Clipped values are "
        "rounded to 4 dp and summed through DECIMAL(18,4) so the "
        "distributed sum is exact and order-insensitive; noise draws "
        "are md5-derived and loudly NOT a secure RNG (the engine's "
        "bit-checkable convention — production swaps in a seeded "
        "CSPRNG and changes nothing else). One map-side-combined "
        "aggregate over the stream; noise is per-group arithmetic "
        "(SURVEY §2.L)."
    ),
)
def dp_mean_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = DP_MEAN_CLIP
    ev = load_table(spark, sf_dir, "events")
    clipped = F.round(F.least(F.greatest(F.col("value"), F.lit(0.0)), F.lit(c)), 4)
    a = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(clipped.cast("decimal(18,4)")).alias("s"),
    )

    def lap(prefix: str, scale: float):
        u = F.expr(_dp_mean_u_spark(prefix))
        return F.round(
            -scale
            * F.when(u >= 0.5, 1.0).otherwise(-1.0)
            * F.log(1.0 - 2.0 * F.abs(u - 0.5)),
            4,
        )

    noise_sum = lap("dpm_s", 2.0 * c)
    noise_cnt = lap("dpm_n", 2.0)
    return a.select(
        "event_type",
        noise_sum.alias("noise_sum"),
        noise_cnt.alias("noise_count"),
        F.round(
            (F.col("s").cast("double") + noise_sum)
            / F.greatest(F.lit(1.0), F.col("n") + noise_cnt),
            4,
        ).alias("released_mean"),
        F.lit(c).alias("clip"),
        F.lit(1.0).alias("epsilon"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# parquet_compression_profile — column-chunk compression economics.
# ---------------------------------------------------------------------------


@register(
    "parquet_compression_profile",
    oracle="""
SELECT path_in_schema AS column_name,
       MAX(compression) AS codec,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(total_compressed_size) AS BIGINT) AS compressed_bytes,
       CAST(SUM(total_uncompressed_size) AS BIGINT) AS uncompressed_bytes,
       CAST(SUM(total_compressed_size) * 10000 // SUM(total_uncompressed_size)
            AS BIGINT) AS ratio_bps
FROM parquet_metadata('__SF_DIR__/documents.parquet')
GROUP BY path_in_schema
ORDER BY column_name
""",
    doc=(
        "Column-chunk compression profile of the documents table from "
        "parquet FOOTERS only: per column, codec and compressed vs "
        "uncompressed byte totals with the ratio in bps — the storage-"
        "economics companion to parquet_skipping_stats (skip planning) "
        "and rowgroup_size_histogram (group sizing): at 100 TB, the "
        "columns that don't compress are where the storage bill and "
        "the scan seconds live, and an incompressible text column is "
        "the first candidate for dictionary/zstd re-encoding in "
        "zorder_layout's rewrite. Same scale shape as its siblings: "
        "paths distributed, footers (kilobytes) read executor-side in "
        "mapInPandas (operators/metadata.parquet_column_chunks), one "
        "metadata-parallel pass for a million-file lake; pyarrow and "
        "DuckDB read the identical thrift fields (SURVEY §4)."
    ),
)
def parquet_compression_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from email_etl_spark.operators.metadata import parquet_column_chunks

    path = os.path.join(sf_dir, "documents.parquet")
    chunks = parquet_column_chunks(spark, [path])
    return (
        chunks.groupBy(F.col("column").alias("column_name"))
        .agg(
            F.max("codec").alias("codec"),
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum("compressed_bytes").cast("bigint").alias("compressed_bytes"),
            F.sum("uncompressed_bytes").cast("bigint").alias("uncompressed_bytes"),
            F.expr(
                "SUM(compressed_bytes) * 10000 div SUM(uncompressed_bytes)"
            )
            .cast("bigint")
            .alias("ratio_bps"),
        )
        .orderBy("column_name")
    )


# ---------------------------------------------------------------------------
# event_id_gap_audit — lost-event detection over the id sequence.
# ---------------------------------------------------------------------------


@register(
    "event_id_gap_audit",
    oracle="""
WITH ids AS (SELECT DISTINCT event_id AS id FROM events),
s AS (
  SELECT CAST(MIN(id) AS BIGINT) AS lo, CAST(MAX(id) AS BIGINT) AS hi,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ids
),
runs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_runs
  FROM ids a LEFT JOIN ids b ON a.id = b.id + 1
  WHERE b.id IS NULL
)
SELECT s.lo AS min_id, s.hi AS max_id, s.n AS n_ids,
       s.hi - s.lo + 1 - s.n AS n_missing,
       runs.n_runs AS n_contiguous_runs,
       runs.n_runs - 1 AS n_gaps
FROM s CROSS JOIN runs
""",
    doc=(
        "Lost-event audit over the event_id sequence: how many ids "
        "are missing between min and max, and in how many gaps — the "
        "ingestion-integrity check behind exactly-once claims "
        "(incremental_sync's cursor assumes a dense upstream "
        "sequence; this measures how false that is). Deliberately "
        "NO sorted-adjacency pass: run starts are ids with no id-1 "
        "present, counted via a distributed LEFT ANTI equi-join of "
        "the id set against itself shifted by one — every stage is "
        "key-partitioned, no global sort, no single-partition window, "
        "so the audit scales to any id volume; missing total is pure "
        "arithmetic off (min, max, count) (SURVEY §2.A)."
    ),
)
def event_id_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ids = ev.select(F.col("event_id").alias("id")).distinct()
    s = ids.agg(
        F.min("id").cast("bigint").alias("lo"),
        F.max("id").cast("bigint").alias("hi"),
        F.count("*").cast("bigint").alias("n"),
    )
    shifted = ids.select((F.col("id") + 1).alias("id"))
    run_starts = ids.join(shifted, "id", "left_anti")
    runs = run_starts.agg(F.count("*").cast("bigint").alias("n_runs"))
    return (
        s.crossJoin(F.broadcast(runs))
        .select(
            F.col("lo").alias("min_id"),
            F.col("hi").alias("max_id"),
            F.col("n").alias("n_ids"),
            (F.col("hi") - F.col("lo") + 1 - F.col("n"))
            .cast("bigint")
            .alias("n_missing"),
            F.col("n_runs").alias("n_contiguous_runs"),
            (F.col("n_runs") - 1).cast("bigint").alias("n_gaps"),
        )
    )


# ---------------------------------------------------------------------------
# shuffle_partition_plan — footer-driven shuffle sizing per table.
# ---------------------------------------------------------------------------

_SHUF_TABLES = ("documents", "events", "lineitem", "orders")
_SHUF_TARGET = 128 * 1024 * 1024  # bytes per shuffle partition


def _shuffle_plan_sql() -> str:
    arms = "\nUNION ALL\n".join(
        f"""SELECT '{t}' AS table_name,
       (SELECT COUNT(*) FROM {t}) AS n_rows,
       (SELECT CAST(SUM(total_uncompressed_size) AS BIGINT)
        FROM parquet_metadata('__SF_DIR__/{t}.parquet')) AS uncompressed_bytes"""
        for t in _SHUF_TABLES
    )
    return f"""
WITH base AS ({arms})
SELECT table_name, CAST(n_rows AS BIGINT) AS n_rows, uncompressed_bytes,
       CAST(uncompressed_bytes // n_rows AS BIGINT) AS avg_row_bytes,
       CAST(GREATEST(1, CAST(CEIL(CAST(uncompressed_bytes AS DOUBLE)
                                  / {_SHUF_TARGET}) AS BIGINT)) AS BIGINT)
           AS partitions_128mb,
       CAST(n_rows // GREATEST(1, CAST(CEIL(CAST(uncompressed_bytes AS DOUBLE)
                                            / {_SHUF_TARGET}) AS BIGINT)) AS BIGINT)
           AS rows_per_partition
FROM base ORDER BY table_name
"""


@register(
    "shuffle_partition_plan",
    oracle=_shuffle_plan_sql(),
    doc=(
        "Shuffle-sizing plan from parquet footers: per table, row "
        "count, UNCOMPRESSED byte total (the in-memory proxy shuffle "
        "sizing actually needs — compressed size undersizes partitions "
        "3-5x on text), average row width, and the partition count "
        "that lands ~128 MB per partition with the resulting "
        "rows-per-partition — the number you set "
        "spark.sql.shuffle.partitions / maxPartitionBytes from "
        "BEFORE running the 100 TB job, derived the same way the "
        "footer family derives everything: kilobyte metadata reads "
        "(operators/metadata.parquet_column_chunks), never a data "
        "scan for the byte totals (row counts are one count(*) per "
        "table — metadata-only in parquet). Exact integer arithmetic "
        "throughout except the one shared CEIL (SURVEY §4)."
    ),
)
def shuffle_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from email_etl_spark.operators.metadata import parquet_column_chunks

    out = None
    for t in _SHUF_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        n = load_table(spark, sf_dir, t).count()
        byt = parquet_column_chunks(spark, [path]).agg(
            F.sum("uncompressed_bytes").cast("bigint").alias("uncompressed_bytes")
        )
        row = byt.select(
            F.lit(t).alias("table_name"),
            F.lit(n).cast("bigint").alias("n_rows"),
            "uncompressed_bytes",
            F.expr(f"uncompressed_bytes div {n}").cast("bigint").alias("avg_row_bytes"),
            F.expr(
                f"GREATEST(1, CAST(CEIL(CAST(uncompressed_bytes AS DOUBLE)"
                f" / {_SHUF_TARGET}) AS BIGINT))"
            )
            .cast("bigint")
            .alias("partitions_128mb"),
            F.expr(
                f"{n} div GREATEST(1, CAST(CEIL(CAST(uncompressed_bytes AS DOUBLE)"
                f" / {_SHUF_TARGET}) AS BIGINT))"
            )
            .cast("bigint")
            .alias("rows_per_partition"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("table_name")
