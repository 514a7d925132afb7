"""Attachment-metadata analytics (SURVEY.md §2 / reference attachments
table, scripts/init_db.sql:38, src/security.py:57-127).

The reference stores one row per attachment (filename, MIME, size,
content hash) and validates each against size / dangerous-extension /
MIME-sniff rules. The corpus has no attachment table, so a
deterministic attachment set is derived from `documents` — doc k
carries 1 + (k mod 3) attachments whose filename extension, declared
MIME, magic bytes and size all come from md5("att:k:j") bytes — and
then the REAL validation operators (operators/security.py:
attachment_report → sniff_mime, size, extension, mismatch, is_safe)
run over it. The oracle replays the same md5-derived corpus and the
same rules in SQL, so every rule constant (25 MiB cap, the dangerous
extension list, the allowed-MIME prefixes, the magic table) is
hash-checked, not just eyeballed.

All rates are exact-integer basis points ((n*10000) div total) — the
repo-wide convention that keeps a distributed aggregation and a
single-threaded oracle bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from email_etl_spark.io import load_table
from email_etl_spark.operators.security import (
    DANGEROUS_EXT_RE,
    MAX_ATTACHMENT_BYTES,
    attachment_report,
)
from email_etl_spark.plans.registry import register

_HEX = "0123456789abcdef"

# attachment-attribute alphabets (deterministic picks by hash byte)
_EXTS = (".pdf", ".png", ".jpg", ".zip", ".txt", ".json", ".exe", ".js")
_DECLARED = (
    "application/pdf",
    "image/png",
    "image/jpeg",
    "application/zip",
    "text/plain",
    "application/json",
)
# magic prefixes feeding operators/security.sniff_mime (index 4 = no
# magic → sniff returns NULL and validation falls back to declared)
_MAGIC_HEX = ("25504446", "89504e47", "ffd8ff", "504b0304", "")
_MAGIC_MIME = ("application/pdf", "image/png", "image/jpeg", "application/zip", None)


def _b_sql(hsrc: str, i: int) -> str:
    """md5-hex byte i (0-based) as an integer, DuckDB side."""
    hi = f"(strpos('{_HEX}', substr({hsrc}, {2 * i + 1}, 1)) - 1)"
    lo = f"(strpos('{_HEX}', substr({hsrc}, {2 * i + 2}, 1)) - 1)"
    return f"({hi} * 16 + {lo})"


def _b_col(h, i: int):
    """md5-hex byte i (0-based) as an integer, Spark side."""
    return F.conv(F.substring(h, 2 * i + 1, 2), 16, 10).cast("int")


def derived_attachment_emails(docs: DataFrame) -> DataFrame:
    """documents → an emails frame with the reference's attachments
    array (message_id + array<struct{filename, mime_type, size_bytes,
    content, content_hash}>), every attribute md5-derived so the oracle
    replays it exactly. The array is built row-locally (transform over
    a sequence) — zero shuffles before validation explodes it."""
    # hex strings, unhexed after selection: binary literals print as
    # JVM identity hashes ([B@…), so the plan text would differ per build
    magic_hex = F.array(*[F.lit(h) for h in _MAGIC_HEX])
    exts = F.array(*[F.lit(e) for e in _EXTS])
    declared = F.array(*[F.lit(m) for m in _DECLARED])
    doc_id = F.col("doc_id")

    def att(j):
        h = F.md5(
            F.concat(
                F.lit("att:"), doc_id.cast("string"), F.lit(":"), j.cast("string")
            )
        )
        content = F.unhex(F.element_at(magic_hex, _b_col(h, 2) % 5 + 1))
        return F.struct(
            F.concat(
                F.lit("doc"),
                doc_id.cast("string"),
                F.lit("_"),
                j.cast("string"),
                F.element_at(exts, _b_col(h, 0) % 8 + 1),
            ).alias("filename"),
            F.element_at(declared, _b_col(h, 1) % 6 + 1).alias("mime_type"),
            (
                (
                    _b_col(h, 3).cast("bigint") * 65536
                    + _b_col(h, 4).cast("bigint") * 256
                    + _b_col(h, 5).cast("bigint")
                )
                * 2
            ).alias("size_bytes"),
            content.alias("content"),
            F.md5(content).alias("content_hash"),
        )

    attachments = F.transform(
        F.sequence(F.lit(0), F.pmod(doc_id, F.lit(3)).cast("int")), att
    )
    return docs.select(
        doc_id.alias("message_id"), "source", attachments.alias("attachments")
    )


def _report_with_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emails = derived_attachment_emails(docs)
    report = attachment_report(emails.select("message_id", "attachments"))
    return report.join(
        emails.select("message_id", "source"), "message_id"
    )


# Oracle twin of derived_attachment_emails + attachment_report rules.
def _att_cte() -> str:
    ext_arr = "[" + ", ".join(f"'{e}'" for e in _EXTS) + "]"
    dec_arr = "[" + ", ".join(f"'{m}'" for m in _DECLARED) + "]"
    detected = (
        "CASE magic_idx WHEN 0 THEN 'application/pdf' WHEN 1 THEN 'image/png' "
        "WHEN 2 THEN 'image/jpeg' WHEN 3 THEN 'application/zip' ELSE NULL END"
    )
    return f"""
raw AS (
  SELECT d.doc_id, d.source,
         md5('att:' || CAST(d.doc_id AS VARCHAR) || ':' || CAST(j.range AS VARCHAR)) AS h,
         j.range AS j
  FROM documents d, range(0, 3) j
  WHERE j.range <= d.doc_id % 3
),
att AS (
  SELECT doc_id, source,
         'doc' || CAST(doc_id AS VARCHAR) || '_' || CAST(j AS VARCHAR)
               || {ext_arr}[({_b_sql("h", 0)} % 8) + 1] AS filename,
         {dec_arr}[({_b_sql("h", 1)} % 6) + 1] AS declared_mime,
         ({_b_sql("h", 2)} % 5) AS magic_idx,
         CAST(({_b_sql("h", 3)} * 65536 + {_b_sql("h", 4)} * 256 + {_b_sql("h", 5)}) * 2 AS BIGINT) AS size_bytes
  FROM raw
),
flags AS (
  SELECT doc_id, source, declared_mime, size_bytes,
         {detected} AS detected_mime,
         CASE WHEN size_bytes > {MAX_ATTACHMENT_BYTES} THEN 1 ELSE 0 END AS too_large,
         CASE WHEN regexp_matches(filename, '{DANGEROUS_EXT_RE}') THEN 1 ELSE 0 END AS dangerous,
         CASE WHEN {detected} IS NOT NULL AND declared_mime IS NOT NULL
                   AND {detected} <> declared_mime THEN 1 ELSE 0 END AS mismatch,
         CASE WHEN COALESCE({detected}, declared_mime) LIKE 'text/%'
                OR COALESCE({detected}, declared_mime) LIKE 'image/%'
                OR COALESCE({detected}, declared_mime) LIKE 'application/pdf%'
                OR COALESCE({detected}, declared_mime) LIKE 'application/json%'
              THEN 1 ELSE 0 END AS mime_allowed
  FROM att
),
verdicts AS (
  SELECT *, CASE WHEN too_large = 0 AND dangerous = 0 AND mime_allowed = 1
                 THEN 1 ELSE 0 END AS safe
  FROM flags
)"""


@register(
    "attachment_mime_stats",
    oracle=f"""
WITH {_att_cte()}
SELECT declared_mime,
       COUNT(*) AS n_att,
       CAST(SUM(size_bytes) AS BIGINT) AS total_bytes,
       CAST(MAX(size_bytes) AS BIGINT) AS max_bytes,
       CAST(SUM(too_large) AS BIGINT) AS n_too_large,
       CAST(SUM(mismatch) AS BIGINT) AS n_mismatch,
       CAST(SUM(safe) AS BIGINT) AS n_safe
FROM verdicts
GROUP BY declared_mime ORDER BY declared_mime
""",
    doc=(
        "Attachment size/MIME rollup over the validation report (ref: "
        "attachments table, scripts/init_db.sql:38): per declared MIME — "
        "volume, bytes, oversize/mismatch/safe counts. One explode + one "
        "groupBy; the binary payload never leaves the scan after the "
        "8-byte magic sniff."
    ),
)
def attachment_mime_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    report = _report_with_source(spark, sf_dir)
    return (
        report.groupBy("declared_mime")
        .agg(
            F.count("*").alias("n_att"),
            F.sum("size_bytes").cast("bigint").alias("total_bytes"),
            F.max("size_bytes").cast("bigint").alias("max_bytes"),
            F.sum(F.col("too_large").cast("int")).cast("bigint").alias("n_too_large"),
            F.sum(F.col("mime_mismatch").cast("int")).cast("bigint").alias("n_mismatch"),
            F.sum(F.col("is_safe").cast("int")).cast("bigint").alias("n_safe"),
        )
        .orderBy("declared_mime")
    )


@register(
    "attachment_risk_by_source",
    oracle=f"""
WITH {_att_cte()}
SELECT source,
       COUNT(*) AS n_att,
       CAST(CAST(SUM(dangerous) AS BIGINT) * 10000 // COUNT(*) AS BIGINT) AS dangerous_bps,
       CAST(CAST(SUM(mismatch) AS BIGINT) * 10000 // COUNT(*) AS BIGINT) AS mismatch_bps,
       CAST(CAST(SUM(1 - safe) AS BIGINT) * 10000 // COUNT(*) AS BIGINT) AS unsafe_bps
FROM verdicts
GROUP BY source ORDER BY source
""",
    doc=(
        "Attachment risk QA per source (ref: src/security.py:57-110 "
        "verdicts): dangerous-extension rate, declared/sniffed MIME "
        "mismatch rate, and overall unsafe rate as exact-integer bps."
    ),
)
def attachment_risk_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    report = _report_with_source(spark, sf_dir)
    agg = report.groupBy("source").agg(
        F.count("*").alias("n_att"),
        F.sum(F.col("dangerous_extension").cast("int")).cast("bigint").alias("n_dangerous"),
        F.sum(F.col("mime_mismatch").cast("int")).cast("bigint").alias("n_mismatch"),
        F.sum((~F.col("is_safe")).cast("int")).cast("bigint").alias("n_unsafe"),
    )
    return agg.select(
        "source",
        "n_att",
        F.expr("(n_dangerous * 10000L) div n_att").cast("bigint").alias("dangerous_bps"),
        F.expr("(n_mismatch * 10000L) div n_att").cast("bigint").alias("mismatch_bps"),
        F.expr("(n_unsafe * 10000L) div n_att").cast("bigint").alias("unsafe_bps"),
    ).orderBy("source")
