"""Markdown archival sink (SURVEY.md §2.K) — the distributed twin of
the reference's MarkdownStorage (ref: src/markdown_storage.py:67-190):
YAML frontmatter + rendered body, laid out by year/month.

Spark-first differences from the reference:
- rendering is a pure column expression (one scan-project pass);
- the year/month directory tree is `partitionBy("year", "month")` on a
  text write — the cluster writes all months in parallel, no
  driver-side mkdir loop;
- the index.json bookkeeping becomes a queryable parquet index table
  instead of a mutable JSON blob.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from email_etl_spark.functions import built_once
from email_etl_spark.functions.text import slugify


def _yaml_list(col: Column) -> Column:
    """Render an array<string> as a YAML inline list."""
    quoted = F.transform(col, lambda x: F.concat(F.lit('"'), x, F.lit('"')))
    return F.concat(F.lit("["), F.array_join(quoted, ", "), F.lit("]"))


@built_once
def _markdown_columns() -> tuple[Column, Column]:
    """(markdown, slug) for render_markdown, built once
    (functions.built_once)."""
    fm = F.concat(
        F.lit("---\n"),
        F.lit("id: "), F.col("message_id"), F.lit("\n"),
        F.lit("thread_id: "), F.coalesce(F.col("thread_id"), F.lit("null")), F.lit("\n"),
        F.lit('subject: "'), F.coalesce(F.col("subject"), F.lit("")), F.lit('"\n'),
        F.lit("from: "), F.coalesce(F.col("sender"), F.lit("")), F.lit("\n"),
        F.lit("to: "), _yaml_list(F.coalesce(F.col("recipients"), F.array())), F.lit("\n"),
        F.lit("date: "), F.date_format(F.col("date"), "yyyy-MM-dd'T'HH:mm:ss"), F.lit("\n"),
        F.lit("labels: "), _yaml_list(F.coalesce(F.col("labels"), F.array())), F.lit("\n"),
        F.lit("---\n\n"),
    )
    body = F.concat(
        F.lit("# "), F.coalesce(F.col("subject"), F.lit("(No Subject)")), F.lit("\n\n"),
        F.lit("**From:** "), F.coalesce(F.col("sender_name"), F.lit("")),
        F.lit(" <"), F.coalesce(F.col("sender"), F.lit("")), F.lit(">  \n"),
        F.lit("**Date:** "), F.date_format(F.col("date"), "MMMM d, yyyy h:mm a"), F.lit("\n\n"),
        F.lit("## Content\n\n"),
        F.coalesce(F.col("body_markdown"), F.col("body_plain"), F.lit("*(No content)*")),
        F.lit("\n"),
    )
    slug = F.concat(
        F.date_format(F.col("date"), "yyyyMMdd_HHmmss"),
        F.lit("_"),
        slugify(F.coalesce(F.col("subject"), F.lit("untitled"))),
    )
    return F.concat(fm, body), slug


def render_markdown(df: DataFrame) -> DataFrame:
    """Add `markdown` (full document text) and `slug` columns to a
    canonical email DataFrame."""
    markdown, slug = _markdown_columns()
    return df.withColumn("markdown", markdown).withColumn("slug", slug)


@built_once
def _tree_columns() -> tuple[Column, ...]:
    return (
        F.year("date").alias("year"),
        F.month("date").alias("month"),
        F.col("markdown").alias("value"),
    )


def write_markdown_tree(df: DataFrame, out_dir: str) -> None:
    """Append the rendered corpus to a year/month-partitioned text
    layout (ref: _get_email_path, src/markdown_storage.py:52-65).
    Append, because the archive accumulates across imports like the
    reference's per-message file saves; every write adds its own
    uniquely named part files."""
    rendered = render_markdown(df).select(*_tree_columns())
    rendered.write.mode("append").partitionBy("year", "month").text(out_dir)


def build_index(df: DataFrame) -> DataFrame:
    """Queryable index table (ref: index.json, src/markdown_storage.py:25-37
    + search_by_date:239-252 — here date-range search is just a filter
    with partition pruning)."""
    return render_markdown(df).select(
        "message_id",
        "subject",
        "sender",
        "date",
        "has_attachments",
        F.concat(
            F.year("date").cast("string"), F.lit("/"),
            F.lpad(F.month("date").cast("string"), 2, "0"), F.lit("/"),
            F.col("slug"), F.lit(".md"),
        ).alias("path"),
    )
