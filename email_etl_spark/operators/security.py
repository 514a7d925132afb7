"""Attachment & content security validation (SURVEY.md §1, ref:
src/security.py:57-110) as declarative DataFrame operators.

The reference validates one attachment at a time in Python; here the
whole corpus validates in a single scan-project pass: explode the
attachment array, evaluate every rule as a column expression, and
aggregate verdicts back per message. ClamAV/libmagic are external
scanners — their seam is a deterministic stub column, same as the LLM
seams (llm/stub.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from email_etl_spark.functions import built_once
from email_etl_spark.functions.text import SUSPICIOUS_PATTERNS

MAX_ATTACHMENT_BYTES = 25 * 1024 * 1024  # ref: config.MAX_ATTACHMENT_SIZE_BYTES

DANGEROUS_EXT_RE = (
    "(?i)\\.(exe|com|bat|cmd|scr|vbs|vbe|js|jse|wsf|wsh|msi|jar|app"
    "|dmg|pkg|deb|rpm|sh|bash|ps1|psm1|reg|dll|so|dylib)$"
)

ALLOWED_MIME_PREFIXES = ("text/", "image/", "application/pdf", "application/json")

# minimal content-sniffing table (libmagic stand-in): magic prefix → MIME
_MAGIC = (
    ("25504446", "application/pdf"),   # %PDF
    ("89504e47", "image/png"),
    ("ffd8ff", "image/jpeg"),
    ("504b0304", "application/zip"),
)


def sniff_mime(content: Column) -> Column:
    """Detect MIME from leading bytes (ref: _detect_mime_type,
    src/security.py:116-127; real deployments swap in libmagic via a
    pandas_udf at this seam)."""
    head = F.lower(F.hex(F.substring(content, 1, 8)))
    expr = F.lit(None).cast("string")
    for prefix, mime in reversed(_MAGIC):
        expr = F.when(head.startswith(prefix.upper()) | head.startswith(prefix), F.lit(mime)).otherwise(expr)
    return expr


def attachment_report(emails: DataFrame) -> DataFrame:
    """One validation row per attachment: size/extension/MIME checks,
    detected vs declared MIME, final is_safe verdict
    (ref: validate_attachment, src/security.py:57-110)."""
    att = emails.select(
        "message_id", F.explode("attachments").alias("a")
    ).select(
        "message_id",
        F.col("a.filename").alias("filename"),
        F.col("a.mime_type").alias("declared_mime"),
        F.col("a.size_bytes").alias("size_bytes"),
        F.col("a.content").alias("content"),
        F.col("a.content_hash").alias("content_hash"),
    )
    detected = sniff_mime(F.col("content"))
    too_large = F.col("size_bytes") > MAX_ATTACHMENT_BYTES
    bad_ext = F.regexp_count(F.col("filename"), F.lit(DANGEROUS_EXT_RE)) > 0
    mime_mismatch = detected.isNotNull() & F.col("declared_mime").isNotNull() & (detected != F.col("declared_mime"))
    mime_allowed = None
    for p in ALLOWED_MIME_PREFIXES:
        c = F.coalesce(detected, F.col("declared_mime")).startswith(p)
        mime_allowed = c if mime_allowed is None else (mime_allowed | c)
    return att.select(
        "message_id",
        "filename",
        "declared_mime",
        detected.alias("detected_mime"),
        "size_bytes",
        "content_hash",
        too_large.alias("too_large"),
        bad_ext.alias("dangerous_extension"),
        mime_mismatch.alias("mime_mismatch"),
        (~too_large & ~bad_ext & F.coalesce(mime_allowed, F.lit(False))).alias("is_safe"),
    )


@built_once
def _suspicious_columns(body_col: str) -> tuple[Column, Column]:
    """(suspicious_hits, is_suspicious) for flag_suspicious_content,
    built once per body column (functions.built_once)."""
    lowered = F.lower(F.coalesce(F.col(body_col), F.lit("")))
    hits = None
    for p in SUSPICIOUS_PATTERNS:
        h = F.when(F.regexp_count(lowered, F.lit(p)) > 0, 1).otherwise(0)
        hits = h if hits is None else hits + h
    return hits, F.col("suspicious_hits") > 0


def flag_suspicious_content(emails: DataFrame, body_col: str = "body_markdown") -> DataFrame:
    """Add suspicious-content columns to the email frame
    (ref: validate_email_content, src/security.py:180-212)."""
    hits, flagged = _suspicious_columns(body_col)
    return emails.withColumn("suspicious_hits", hits).withColumn("is_suspicious", flagged)
