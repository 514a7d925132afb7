"""End-to-end ETL orchestration (ref: src/etl_pipeline.py:17-283) —
the reference's import / incremental-sync / status workflow as a
sequence of declarative DataFrame stages over a parquet warehouse.

Reference loop                      → Spark stage
---------------------------------------------------------------
list_messages + per-message fetch   → a raw-payload DataFrame (any
                                      source; lands in object storage)
already-processed check (DB lookup) → left-anti join on message_id
security validation per attachment  → operators/security.py column rules
embedding batches (OpenAI)          → llm/stub.py pandas_udf seam
stats bookkeeping                   → Dataset.observe counters on the raw,
                                      parsed and new rows, fired by the
                                      one job that materializes the new rows
markdown save + index.json          → sinks/markdown.py partitioned append
audit log rows                      → append-only parquet audit table
INSERT ... ON CONFLICT              → append + keep-latest view

One pass over the input: run_import and run_incremental_sync
materialize the new rows (a local checkpoint) in ONE job, which also
fires the raw / parsed / new counters, and every sink reads those
rows. The sinks run in a fixed order: markdown, audit, then the
emails table last, because the emails table is the commit point: the
next import's anti-join skips exactly the rows it holds, so they go
in only once their archive documents and audit rows are written. The
new rows are checkpointed rather than cached for the same table: an
append refreshes every cached plan that reads its path, and a cached
anti-join against it would recompute as empty.

Every stage is a DataFrame→DataFrame function: at 100 TB the same
code runs as one lineage with no driver-side per-message loop, and
the warehouse layout (parquet now) can swap to an ACID table format
without touching stage logic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from email_etl_spark.functions import built_once
from email_etl_spark.io import observe_counters
from email_etl_spark.llm.stub import embed_documents, prepare_email_text
from email_etl_spark.operators.security import flag_suspicious_content
from email_etl_spark.sinks.markdown import write_markdown_tree
from email_etl_spark.sources.email_source import parse_gmail_json


@built_once
def _stage_columns() -> dict:
    """The pipeline's own plan constants (functions.built_once)."""
    return {
        "has_id": F.col("message_id").isNotNull(),
        "embed_text": prepare_email_text(F.col("subject"), F.col("sender"), F.col("body_markdown")),
        "rows": F.count(F.lit(1)),
        "audit": (
            F.col("message_id"),
            F.lit("imported").alias("action"),
            F.current_timestamp().alias("at"),
        ),
    }


class EmailETLPipeline:
    """Spark twin of the reference's ETLPipeline singleton."""

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.warehouse = warehouse_dir
        self.emails_path = os.path.join(warehouse_dir, "emails")
        self.audit_path = os.path.join(warehouse_dir, "audit")
        self.markdown_path = os.path.join(warehouse_dir, "markdown")

    # -- storage ----------------------------------------------------------
    def _existing(self) -> DataFrame | None:
        """The emails table, or None before the first import. The path
        is probed rather than read and caught: a failed read is a
        failed query, which a registered Observation logs as an ERROR."""
        path = self.spark._jvm.org.apache.hadoop.fs.Path(self.emails_path)
        if not path.getFileSystem(self.spark._jsc.hadoopConfiguration()).exists(path):
            return None
        return self.spark.read.parquet(self.emails_path)

    # -- stages -----------------------------------------------------------
    def transform(self, raw_json: DataFrame) -> DataFrame:
        """raw gmail-json payloads → validated, embedded email frame.
        Unparseable payloads (no message_id after parsing) are dropped
        here and counted by run_import as `failed` (ref: stats
        bookkeeping, src/etl_pipeline.py:24-30)."""
        cols = _stage_columns()
        emails = flag_suspicious_content(parse_gmail_json(raw_json).where(cols["has_id"]))
        emails = emails.withColumn("embed_text", cols["embed_text"])
        return embed_documents(emails, text_col="embed_text").drop("embed_text")

    def _write_new(self, new: DataFrame, write_markdown: bool = True) -> int:
        """Materialize the new rows in one job (the one pass over the
        input), then write the sinks in the order the module docstring
        gives. Returns the number of new rows."""
        new, new_obs = observe_counters(new, "import_new", n=_stage_columns()["rows"])
        # a local checkpoint, not cache(): its lineage ends at the
        # materialized rows, so no later job can reach back to the
        # input, and an append to the emails table cannot invalidate it
        new = new.localCheckpoint(eager=True)
        try:
            n_new = new_obs.get["n"]
            if n_new:
                if write_markdown:
                    write_markdown_tree(new, self.markdown_path)
                new.select(*_stage_columns()["audit"]).write.mode("append").parquet(self.audit_path)
                new.write.mode("append").parquet(self.emails_path)
        finally:
            # release the checkpoint blocks now, not at the JVM's next
            # garbage collection
            new._jdf.queryExecution().logical().rdd().unpersist(False)
        return n_new

    def run_import(self, raw_json: DataFrame, write_markdown: bool = True) -> dict:
        """Full import (ref: run_import, src/etl_pipeline.py:32-91):
        parse → validate → skip-already-imported → persist → archive.
        The raw and parsed counts behind the stats are observed inside
        the job that materializes the new rows."""
        existing = self._existing()
        rows = _stage_columns()["rows"]
        raw_json, raw_obs = observe_counters(raw_json, "import_raw", n=rows)
        emails, parsed_obs = observe_counters(self.transform(raw_json), "import_parsed", n=rows)
        new = emails
        if existing is not None:
            new = emails.join(existing.select("message_id"), "message_id", "left_anti")
        n_new = self._write_new(new, write_markdown)
        n_raw, n_parsed = raw_obs.get["n"], parsed_obs.get["n"]
        return {
            "processed": n_new,
            "skipped": n_parsed - n_new,
            "failed": n_raw - n_parsed,
        }

    def run_incremental_sync(self, raw_json: DataFrame) -> dict:
        """Only payloads newer than the stored max(date) watermark
        (ref: run_incremental_sync, src/etl_pipeline.py:233-245)."""
        existing = self._existing()
        if existing is None:
            return self.run_import(raw_json)
        watermark = existing.agg(F.max("date").alias("max_date"))
        fresh = (
            self.transform(raw_json)
            .crossJoin(F.broadcast(watermark))
            .where(F.col("date") > F.col("max_date"))
            .drop("max_date")
        )
        # reuse the anti-join path for exactness at the boundary
        new = fresh.join(existing.select("message_id"), "message_id", "left_anti")
        return {"processed": self._write_new(new)}

    def latest_emails(self) -> DataFrame:
        """Keep-latest-per-message view over the append-only store
        (ref: ON CONFLICT DO UPDATE, src/database.py:78-94)."""
        from pyspark.sql import Window

        existing = self._existing()
        if existing is None:
            raise FileNotFoundError("no emails imported yet")
        w = Window.partitionBy("message_id").orderBy(F.desc("date"))
        return (
            existing.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )

    def status(self) -> dict:
        """Counts + embedding coverage (ref: get_status,
        src/etl_pipeline.py:247-261)."""
        existing = self._existing()
        if existing is None:
            return {"total_emails": 0, "emails_with_embeddings": 0}
        agg = existing.agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("embedding").isNotNull(), 1)).alias("emb"),
        ).first()
        return {"total_emails": agg.n, "emails_with_embeddings": agg.emb}
