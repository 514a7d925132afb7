"""ETL orchestration + security validation end-to-end
(ref workflow: src/etl_pipeline.py; SURVEY §1)."""

from __future__ import annotations

import base64
import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _msg(i: int, date: str, attach: bool = False, body: str = "hello there") -> str:
    m = {
        "id": f"m-{i:03d}",
        "threadId": "t-1",
        "labelIds": ["INBOX"],
        "snippet": "snip",
        "headers": [
            {"name": "From", "value": f"Sender {i} <s{i}@corp.com>"},
            {"name": "To", "value": "dest@corp.com"},
            {"name": "Subject", "value": f"msg {i}"},
            {"name": "Date", "value": f"{date} +0000"},
        ],
        "body_plain": body,
        "body_html": None,
        "attachments": [],
    }
    if attach:
        m["attachments"] = [
            {
                "filename": "ok.pdf",
                "mimeType": "application/pdf",
                "size": 5,
                "attachmentId": "a1",
                "data": base64.b64encode(b"%PDF-x").decode(),
            },
            {
                "filename": "evil.exe",
                "mimeType": "application/pdf",
                "size": 4,
                "attachmentId": "a2",
                "data": base64.b64encode(b"MZ\x90\x00").decode(),
            },
        ]
    return json.dumps(m)


@pytest.fixture()
def pipeline(spark, tmp_path):
    from email_etl_spark.pipeline import EmailETLPipeline

    return EmailETLPipeline(spark, str(tmp_path / "wh"))


def _markdown_ids(markdown_dir: str) -> list[str]:
    """Message ids of the archived markdown documents (frontmatter
    `id:` lines), read from the files themselves."""
    ids = []
    for dirpath, _, files in os.walk(markdown_dir):
        for f in files:
            if f.startswith((".", "_")):
                continue
            with open(os.path.join(dirpath, f)) as fh:
                lines = fh.read().split("\n")
            ids += [b[4:] for a, b in zip(lines, lines[1:]) if a == "---" and b.startswith("id: ")]
    return sorted(ids)


def _assert_sinks_agree(spark, pipeline, want: list[str]) -> None:
    """The emails table, the audit table and the markdown archive each
    hold every imported message exactly once."""
    for path in (pipeline.emails_path, pipeline.audit_path):
        ids = sorted(r.message_id for r in spark.read.parquet(path).select("message_id").collect())
        assert ids == want, path
    assert _markdown_ids(pipeline.markdown_path) == want


def test_import_dedup_and_sync(spark, pipeline):
    raw1 = spark.createDataFrame(
        [(_msg(1, "Mon, 4 Aug 2025 09:00:00"),), (_msg(2, "Mon, 4 Aug 2025 10:00:00"),)],
        ["payload"],
    )
    stats = pipeline.run_import(raw1)
    assert stats == {"processed": 2, "skipped": 0, "failed": 0}
    _assert_sinks_agree(spark, pipeline, ["m-001", "m-002"])

    # re-import the same payloads → all skipped (anti-join dedup)
    stats2 = pipeline.run_import(raw1)
    assert stats2 == {"processed": 0, "skipped": 2, "failed": 0}
    _assert_sinks_agree(spark, pipeline, ["m-001", "m-002"])

    # incremental sync: one older (filtered by watermark), one newer
    raw2 = spark.createDataFrame(
        [(_msg(3, "Mon, 4 Aug 2025 08:00:00"),), (_msg(4, "Mon, 4 Aug 2025 11:00:00"),)],
        ["payload"],
    )
    stats3 = pipeline.run_incremental_sync(raw2)
    assert stats3 == {"processed": 1}
    # the sync is a second write into the warehouse: the archive and
    # the audit table grow with it instead of losing rows
    _assert_sinks_agree(spark, pipeline, ["m-001", "m-002", "m-004"])

    st = pipeline.status()
    assert st["total_emails"] == 3
    assert st["emails_with_embeddings"] == 3
    latest = pipeline.latest_emails()
    assert latest.count() == 3


def test_suspicious_content_flagging(spark, pipeline):
    raw = spark.createDataFrame(
        [
            (_msg(1, "Mon, 4 Aug 2025 09:00:00", body="please verify your account immediately"),),
            (_msg(2, "Mon, 4 Aug 2025 10:00:00", body="lunch at noon?"),),
        ],
        ["payload"],
    )
    emails = pipeline.transform(raw).collect()
    by_id = {e.message_id: e for e in emails}
    assert by_id["m-001"].is_suspicious
    assert not by_id["m-002"].is_suspicious


def test_attachment_validation(spark):
    from email_etl_spark.operators.security import attachment_report
    from email_etl_spark.sources.email_source import parse_gmail_json

    raw = spark.createDataFrame([(_msg(1, "Mon, 4 Aug 2025 09:00:00", attach=True),)], ["payload"])
    report = attachment_report(parse_gmail_json(raw)).collect()
    by_name = {r.filename: r for r in report}
    ok = by_name["ok.pdf"]
    assert ok.is_safe and ok.detected_mime == "application/pdf" and not ok.mime_mismatch
    evil = by_name["evil.exe"]
    assert not evil.is_safe and evil.dangerous_extension
    # declared pdf but content is not a pdf → mismatch surfaced
    assert evil.detected_mime is None or evil.mime_mismatch


def test_malformed_payload_counted_failed(spark, pipeline):
    raw = spark.createDataFrame(
        [(_msg(1, "Mon, 4 Aug 2025 09:00:00"),), ("{not valid json",), ("42",)],
        ["payload"],
    )
    stats = pipeline.run_import(raw)
    assert stats == {"processed": 1, "skipped": 0, "failed": 2}


def test_import_reads_input_once(spark, pipeline):
    """One pass: every raw row is read once per import, and the stats
    come from counters observed inside the job that materializes the
    new rows rather than from extra scans."""
    sc = spark.sparkContext
    rows_read = sc.accumulator(0)

    def counted(batches):
        for pdf in batches:
            rows_read.add(len(pdf))
            yield pdf

    payloads = [
        _msg(1, "Mon, 4 Aug 2025 09:00:00", attach=True),
        _msg(2, "Mon, 4 Aug 2025 10:00:00"),
        "{not valid json",
        "42",
    ]
    raw = spark.createDataFrame([(p,) for p in payloads], ["payload"]).mapInPandas(
        counted, "payload string"
    )
    persisted = sc._jsc.sc().getPersistentRDDs().size()
    group = "test_import_reads_input_once"
    sc.setJobGroup(group, "fresh import")
    try:
        stats = pipeline.run_import(raw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats == {"processed": 2, "skipped": 0, "failed": 2}
    assert rows_read.value == len(payloads)
    # one job materializes the new rows and fires every counter, then
    # one job per sink: markdown, audit, emails
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4
    # and the materialized rows are released when the import returns
    assert sc._jsc.sc().getPersistentRDDs().size() == persisted
    _assert_sinks_agree(spark, pipeline, ["m-001", "m-002"])

    # the skip path reads the batch once as well
    assert pipeline.run_import(raw) == {"processed": 0, "skipped": 2, "failed": 2}
    assert rows_read.value == 2 * len(payloads)


def test_failed_sink_leaves_batch_unimported(spark, pipeline, monkeypatch):
    """The emails table is written last, so it is the commit point: if
    an earlier sink fails, the batch is not imported and a retry
    imports all of it."""
    import email_etl_spark.pipeline as P

    def unavailable(df, out_dir):
        raise RuntimeError("archive unavailable")

    raw = spark.createDataFrame(
        [(_msg(1, "Mon, 4 Aug 2025 09:00:00"),), (_msg(2, "Mon, 4 Aug 2025 10:00:00"),)],
        ["payload"],
    )
    monkeypatch.setattr(P, "write_markdown_tree", unavailable)
    with pytest.raises(RuntimeError, match="archive unavailable"):
        pipeline.run_import(raw)
    assert pipeline.status()["total_emails"] == 0
    monkeypatch.undo()
    assert pipeline.run_import(raw) == {"processed": 2, "skipped": 0, "failed": 0}
    _assert_sinks_agree(spark, pipeline, ["m-001", "m-002"])


def _normalized_plan(df) -> str:
    """Optimized plan text without exprIds or lambda-variable suffixes,
    which differ between any two builds."""
    text = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?", "#", re.sub(r"_\d+(?=#)", "", text))


def test_reused_expressions_keep_frames_apart(spark, pipeline):
    """The ingest builders hand every call the same Column objects
    (functions.built_once). Two parses joined on message_id must give
    the same rows and the same plan as freshly built expressions."""
    from email_etl_spark.operators.security import _suspicious_columns
    from email_etl_spark.pipeline import _stage_columns
    from email_etl_spark.sources.email_source import _gmail_columns

    a = spark.createDataFrame(
        [
            (_msg(1, "Mon, 4 Aug 2025 09:00:00", body="please verify your account"),),
            (_msg(2, "Mon, 4 Aug 2025 10:00:00", attach=True),),
        ],
        ["payload"],
    )
    b = spark.createDataFrame(
        [
            (_msg(2, "Tue, 5 Aug 2025 10:00:00", body="a different body"),),
            (_msg(3, "Tue, 5 Aug 2025 11:00:00"),),
        ],
        ["payload"],
    )

    def joined(fresh: bool):
        frames = []
        for raw in (a, b):
            if fresh:
                for build in (_gmail_columns, _suspicious_columns, _stage_columns):
                    build.cache_clear()
            frames.append(pipeline.transform(raw))
        return frames[0].join(frames[1], "message_id")

    reused, fresh = joined(fresh=False), joined(fresh=True)
    rows = sorted(map(str, reused.collect()))
    assert rows == sorted(map(str, fresh.collect()))
    assert len(rows) == 1
    # both sides kept their own values: 10:00 on the 4th vs the 5th
    dates = [v for name, v in zip(reused.columns, reused.first()) if name == "date"]
    assert len(dates) == 2 and dates[0] != dates[1]
    assert _normalized_plan(reused) == _normalized_plan(fresh)


_RESTART = """
import json, os, sys
from email_etl_spark.pipeline import EmailETLPipeline
from email_etl_spark.session import get_spark

payloads, out = json.loads(sys.argv[1]), sys.argv[2]
runs = []
for n in range(2):
    spark = get_spark(f"restart-{n}")
    # two first imports per session: the second one starts while the
    # first one's observations are registered
    for wh in ("a", "b"):
        pipe = EmailETLPipeline(spark, os.path.join(out, f"wh{n}{wh}"))
        stats = pipe.run_import(spark.createDataFrame([(p,) for p in payloads], ["payload"]))
        ids = [
            sorted(r.message_id for r in spark.read.parquet(p).select("message_id").collect())
            for p in (pipe.emails_path, pipe.audit_path)
        ]
        runs.append([stats, *ids])
    spark.stop()
print(json.dumps(runs))
"""


def test_import_survives_session_restart(tmp_path):
    """The memoized ingest expressions outlive a SparkSession: stop it,
    start a new one in the same process, and import again. A clean
    import logs no ERROR line. Runs in its own process, so the shared
    test session stays up."""
    payloads = [_msg(1, "Mon, 4 Aug 2025 09:00:00"), _msg(2, "Mon, 4 Aug 2025 10:00:00"), "42"]
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART, json.dumps(payloads), str(tmp_path)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert " ERROR " not in proc.stderr, proc.stderr[-3000:]
    runs = json.loads(proc.stdout.strip().splitlines()[-1])
    ids = ["m-001", "m-002"]
    want = [{"processed": 2, "skipped": 0, "failed": 1}, ids, ids]
    assert runs == [want] * 4
    for wh in ("0a", "0b", "1a", "1b"):
        assert _markdown_ids(str(tmp_path / f"wh{wh}" / "markdown")) == ids
