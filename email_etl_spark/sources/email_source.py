"""Email sources (SURVEY.md §1 extract surface).

Two ingestion paths into the canonical EMAIL_SCHEMA:

1. parse_gmail_json — Gmail-API-style JSON payloads (the shape the
   reference's provider receives, ref: src/providers/gmail/
   provider.py:227-284). Pure from_json + column expressions: header
   extraction, parseaddr, recipient splitting, HTML fallback — all
   JVM-side, one scan-project stage at any scale.

2. parse_rfc822 — raw RFC-2822 message text via the Python stdlib
   `email` parser inside mapInPandas. This is the legitimate
   Python-UDF case: full MIME walking is not expressible relationally.
   Arrow-batched, one parser instance per batch, schema fixed up
   front.

The provider plugins themselves (OAuth flows, API pagination — ref:
src/providers/base.py, src/auth.py) are driver-side I/O, out of scope
for the engine; ingestion here starts from raw payloads landed in
object storage, which is how an email corpus reaches a cluster.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from email_etl_spark.functions import built_once
from email_etl_spark.functions.email_text import (
    addr_email,
    addr_name,
    html_to_text,
    parse_rfc_date,
    split_recipients,
)
from email_etl_spark.schema import EMAIL_SCHEMA, RAW_GMAIL_SCHEMA


def _header(headers: Column, name: str) -> Column:
    """First header value with the given (case-insensitive) name."""
    matches = F.filter(headers, lambda h: F.lower(h["name"]) == name.lower())
    return F.when(F.size(matches) > 0, F.element_at(matches, 1)["value"]).otherwise(F.lit(None))


@built_once
def _gmail_columns(json_col: str) -> tuple[Column, ...]:
    """The select list of parse_gmail_json. Its header lookups and
    recipient splits trace Python lambdas through py4j, so it is built
    once per json column name (functions.built_once)."""
    msg = F.from_json(F.col(json_col), RAW_GMAIL_SCHEMA)
    headers = msg["headers"]
    from_h = _header(headers, "From")
    body_plain = msg["body_plain"]
    body_html = msg["body_html"]
    atts = msg["attachments"]
    att_structs = F.transform(
        atts,
        lambda a: F.struct(
            a["filename"].alias("filename"),
            a["mimeType"].alias("mime_type"),
            a["size"].alias("size_bytes"),
            a["attachmentId"].alias("attachment_id"),
            F.unbase64(a["data"]).alias("content"),
            F.sha2(F.unbase64(a["data"]), 256).alias("content_hash"),
            F.lit(None).cast("boolean").alias("is_safe"),
        ),
    )
    return (
        msg["id"].alias("message_id"),
        msg["threadId"].alias("thread_id"),
        _header(headers, "Subject").alias("subject"),
        addr_email(from_h).alias("sender"),
        addr_name(from_h).alias("sender_name"),
        split_recipients(_header(headers, "To")).alias("recipients"),
        split_recipients(_header(headers, "Cc")).alias("cc_recipients"),
        split_recipients(_header(headers, "Bcc")).alias("bcc_recipients"),
        parse_rfc_date(_header(headers, "Date")).alias("date"),
        body_plain.alias("body_plain"),
        body_html.alias("body_html"),
        # markdown fallback chain (ref: provider.py:238-242)
        F.coalesce(body_plain, html_to_text(body_html)).alias("body_markdown"),
        msg["labelIds"].alias("labels"),
        (F.size(F.coalesce(atts, F.array())) > 0).alias("has_attachments"),
        att_structs.alias("attachments"),
        F.create_map(F.lit("snippet"), msg["snippet"]).alias("metadata"),
    )


def parse_gmail_json(raw: DataFrame, json_col: str = "payload") -> DataFrame:
    """Parse a DataFrame with a JSON-string column of Gmail-API-like
    messages into the canonical email schema."""
    return raw.select(*_gmail_columns(json_col))


def parse_rfc822(raw: DataFrame, text_col: str = "raw") -> DataFrame:
    """Parse raw RFC-2822 message text into the canonical schema with
    the stdlib `email` package, Arrow-batched via mapInPandas."""
    import pandas as pd

    def parse_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import email
        import email.policy
        import email.utils
        import hashlib

        for pdf in batches:
            rows = []
            for raw_text in pdf[text_col]:
                m = email.message_from_string(raw_text, policy=email.policy.default)
                sender_name, sender = email.utils.parseaddr(m.get("From", ""))
                body_plain = None
                body_html = None
                attachments = []
                for part in m.walk():
                    ctype = part.get_content_type()
                    if part.get_content_maintype() == "multipart":
                        continue
                    if part.get_filename():
                        payload = part.get_payload(decode=True) or b""
                        attachments.append(
                            {
                                "filename": part.get_filename(),
                                "mime_type": ctype,
                                "size_bytes": len(payload),
                                "attachment_id": None,
                                "content": payload,
                                "content_hash": hashlib.sha256(payload).hexdigest(),
                                "is_safe": None,
                            }
                        )
                    elif ctype == "text/plain" and body_plain is None:
                        body_plain = part.get_content()
                    elif ctype == "text/html" and body_html is None:
                        body_html = part.get_content()
                date_hdr = m.get("Date")
                date = email.utils.parsedate_to_datetime(date_hdr) if date_hdr else None
                if date is not None and date.tzinfo is not None:
                    import datetime as dt

                    date = date.astimezone(dt.timezone.utc).replace(tzinfo=None)

                def addrs(header: str) -> list[str]:
                    vals = m.get_all(header, [])
                    return [a for _, a in email.utils.getaddresses(vals) if a]

                rows.append(
                    {
                        "message_id": m.get("Message-ID", "").strip("<>"),
                        "thread_id": (m.get("In-Reply-To") or m.get("Message-ID", "")).strip("<>"),
                        "subject": m.get("Subject"),
                        "sender": sender.lower(),
                        "sender_name": sender_name,
                        "recipients": addrs("To"),
                        "cc_recipients": addrs("Cc"),
                        "bcc_recipients": addrs("Bcc"),
                        "date": date,
                        "body_plain": body_plain,
                        "body_html": body_html,
                        "body_markdown": body_plain,
                        "labels": [],
                        "has_attachments": bool(attachments),
                        "attachments": attachments,
                        "metadata": {},
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in EMAIL_SCHEMA.fields])

    return raw.mapInPandas(parse_batch, schema=EMAIL_SCHEMA)


def read_mbox(spark, path: str) -> DataFrame:
    """Read mbox files (the classic 'From '-separated email corpus
    format) into the canonical schema.

    Spark-first splitting: the text source with a custom record
    delimiter ('\\nFrom ') turns each message into one row at the scan
    — no whole-file reads, so a directory of multi-GB mbox archives
    parallelizes by file split like any text corpus. Each record then
    drops its envelope remainder (everything before the first newline)
    and flows through the same RFC-2822 mapInPandas parser as single-
    message ingestion (one parser path to maintain).

    Ref: the reference ingests via the Gmail API (src/providers/
    gmail/provider.py); mbox is the equivalent bulk-archive entry
    point (Google Takeout exports, listserv archives).
    """
    raw = spark.read.option("lineSep", "\nFrom ").text(path)
    body = F.when(
        F.instr(F.col("value"), "\n") > 0,
        F.expr("substring(value, instr(value, '\n') + 1)"),
    ).otherwise(F.lit(""))
    msgs = (
        raw.select(body.alias("raw"))
        .where(F.length(F.trim(F.col("raw"))) > 0)
    )
    return parse_rfc822(msgs)


def read_maildir(spark, path: str) -> DataFrame:
    """Read a Maildir (one RFC-2822 message per file under cur/ and
    new/) into the canonical schema.

    Maildir filenames carry a `:2,<flags>` info suffix, and Hadoop
    path URIs reject the colon — so the Hadoop text source cannot
    scan a real Maildir at all. Instead the driver lists NAMES only
    (strings, never contents), distributes them, and executors open
    and read the files inside an Arrow-batched mapInPandas — the same
    shape as any file-manifest ingest, and the read work parallelizes
    across the cluster. Messages then flow through the shared
    RFC-2822 parser. tmp/ is skipped by contract (delivery-in-
    progress files are not messages yet).

    Ref: the reference ingests via the Gmail API (src/providers/
    gmail/provider.py); Maildir is the per-message on-disk twin of the
    mbox bulk-archive path (Dovecot/Courier local mail, offlineimap
    and isync exports).
    """
    import os

    import pandas as pd

    files: list[str] = []
    for sub in ("cur", "new"):
        d = os.path.join(path, sub)
        if os.path.isdir(d):
            files.extend(
                os.path.join(d, f)
                for f in sorted(os.listdir(d))
                if not f.startswith(".")
            )
    if not files and os.path.isdir(path):  # flat directory of messages
        files = [
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if os.path.isfile(os.path.join(path, f)) and not f.startswith(".")
        ]
    par = max(1, min(len(files), spark.sparkContext.defaultParallelism))
    paths_df = spark.createDataFrame([(p,) for p in files], "path string").repartition(par)

    def read_files(batches):
        for pdf in batches:
            texts = []
            for p in pdf["path"]:
                with open(p, encoding="utf-8", errors="replace") as fh:
                    texts.append(fh.read())
            yield pd.DataFrame({"raw": texts})

    msgs = paths_df.mapInPandas(read_files, "raw string").where(
        F.length(F.trim(F.col("raw"))) > 0
    )
    return parse_rfc822(msgs)
