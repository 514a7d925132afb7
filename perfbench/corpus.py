"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the corpus tables the
MCP and curation workloads read (same schemas as the engine's
`io.TABLES`), and the Gmail-API JSON payload batches the ingest
workload feeds to `EmailETLPipeline`. Only numpy and pyarrow are used,
so input generation never touches Spark and stays outside `setup_s`.
"""

from __future__ import annotations

import base64
import json
import os
import shutil
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "meeting invoice report quarterly budget review project deadline team "
    "schedule call update contract client proposal draft approval payment "
    "travel flight hotel booking order shipment delivery account password "
    "reset security notice newsletter offer discount sale event webinar "
    "agenda notes minutes follow action item summary attached document "
    "spreadsheet slides feedback question answer request support ticket "
    "issue bug release deploy server database backup migration spark "
    "query table index vector search cluster job stage task shuffle"
).split()

# boilerplate lines a template-heavy mailbox repeats: signatures,
# disclaimers and footers shared by a large share of the documents
BOILERPLATE = (
    "this message and any attachments are confidential and intended solely for the addressee",
    "please consider the environment before printing this email",
    "sent from my phone please excuse brevity and typos",
    "to unsubscribe from this list click the link in the footer of this message",
    "best regards the operations team support desk available monday to friday",
)

LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.42, 0.14, 0.15, 0.15, 0.14)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMBED_DIM = 64
TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@dataclass(frozen=True)
class CorpusSpec:
    """Shape of one generated corpus."""

    n_docs: int
    n_vecs: int
    n_events: int
    n_users: int
    boilerplate_share: float = 0.0  # docs carrying a shared template line
    resent_share: float = 0.0  # docs that are exact copies of another doc
    tie_group: int = 0  # vectors sharing one identical value
    small_tie_groups: int = 0  # extra groups of 2-4 identical vectors


def _doc_texts(rng: np.random.Generator, spec: CorpusSpec) -> list[str]:
    texts = []
    for _ in range(spec.n_docs):
        n = int(rng.integers(12, 80))
        body = " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n))
        if rng.random() < spec.boilerplate_share:
            body = body + " " + BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))]
        texts.append(body)
    n_resent = int(spec.n_docs * spec.resent_share)
    if n_resent:
        src = rng.choice(spec.n_docs, n_resent, replace=False)
        dst = rng.choice(spec.n_docs, n_resent, replace=False)
        for s, d in zip(src, dst):
            texts[int(d)] = texts[int(s)]
    return texts


def _vectors(rng: np.random.Generator, spec: CorpusSpec) -> np.ndarray:
    v = rng.standard_normal((spec.n_vecs, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    ids = rng.permutation(spec.n_vecs)
    pos = 0
    groups = [spec.tie_group] if spec.tie_group else []
    groups += [int(rng.integers(2, 5)) for _ in range(spec.small_tie_groups)]
    for size in groups:
        members = ids[pos : pos + size]
        v[members] = v[members[0]]
        pos += size
    return v


def _tpch_stub_tables() -> dict[str, pa.Table]:
    """Tiny relational tables: no benchmarked operation reads them, but
    the DuckDB oracle harness binds a view per engine table."""
    ts = pa.array([datetime(2024, 1, 1)], pa.timestamp("us"))
    return {
        "region": pa.table({"r_regionkey": pa.array([0], pa.int32()), "r_name": ["AFRICA"]}),
        "nation": pa.table({
            "n_nationkey": pa.array([0], pa.int32()), "n_name": ["ALGERIA"],
            "n_regionkey": pa.array([0], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": [1], "c_name": ["c1"], "c_nationkey": pa.array([0], pa.int32()),
            "c_acctbal": [1.0], "c_mktsegment": ["BUILDING"],
        }),
        "supplier": pa.table({
            "s_suppkey": [1], "s_name": ["s1"], "s_nationkey": pa.array([0], pa.int32()),
            "s_acctbal": [1.0],
        }),
        "part": pa.table({
            "p_partkey": [1], "p_name": ["p1"], "p_brand": ["b1"], "p_type": ["t1"],
            "p_size": pa.array([1], pa.int32()), "p_retailprice": [1.0],
        }),
        "orders": pa.table({
            "o_orderkey": [1], "o_custkey": [1], "o_orderstatus": ["O"],
            "o_totalprice": [1.0], "o_orderdate": ts, "o_orderpriority": ["1-URGENT"],
        }),
        "lineitem": pa.table({
            "l_orderkey": [1], "l_partkey": [1], "l_suppkey": [1],
            "l_linenumber": pa.array([1], pa.int32()), "l_quantity": [1.0],
            "l_extendedprice": [1.0], "l_discount": [0.0], "l_tax": [0.0],
            "l_returnflag": ["N"], "l_linestatus": ["O"], "l_shipdate": ts,
        }),
    }


def write_corpus(out_dir: str, seed: int, spec: CorpusSpec) -> None:
    """Write every engine table as `<out_dir>/<table>.parquet`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    texts = _doc_texts(rng, spec)
    docs = pa.table({
        "doc_id": pa.array(np.arange(spec.n_docs, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), spec.n_docs, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, spec.n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = _vectors(rng, spec)
    emb = pa.table({
        "vec_id": pa.array(np.arange(spec.n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, spec.n_vecs), pa.int32()),
    })
    # 30 days of events from 2024-01-01 (incremental_sync's watermark
    # cut-off is 2024-01-20), sorted by time like an event stream
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, spec.n_events))
    start_us = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1_000_000)
    events = pa.table({
        "event_id": pa.array(np.arange(spec.n_events, dtype=np.int64)),
        "ts": pa.array(offs + start_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, spec.n_users, spec.n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, spec.n_events)],
        "value": np.round(rng.exponential(50.0, spec.n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, spec.n_events)],
    })
    tables = {"documents": docs, "embeddings": emb, "events": events, **_tpch_stub_tables()}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def alias_corpus(src_dir: str, alias_dir: str) -> None:
    """A fresh corpus alias: same bytes, new directory. Engine memos key
    on the directory path and persisted indexes on its basename, so an
    alias starts with both empty."""
    os.makedirs(alias_dir)
    for name in TABLE_NAMES:
        src = os.path.join(src_dir, f"{name}.parquet")
        dst = os.path.join(alias_dir, f"{name}.parquet")
        try:
            os.link(src, dst)
        except OSError:
            shutil.copyfile(src, dst)


# -- Gmail-API payloads ----------------------------------------------------

_EPOCH = datetime(2025, 1, 6, 8, 0, tzinfo=timezone.utc)
_ATTACHMENTS = (
    ("report.pdf", "application/pdf", b"%PDF-1.4 quarterly"),
    ("photo.png", "image/png", b"\x89PNG\r\n\x1a\nimage"),
    ("notes.txt", "text/plain", b"plain text notes"),
    ("invoice.exe", "application/octet-stream", b"MZ\x90\x00payload"),
    ("macro.js", "application/javascript", b"var x = 1;"),
    ("archive.zip", "application/zip", b"PK\x03\x04zip"),
)


def _payload(rng: np.random.Generator, mid: str, minute: int) -> str:
    words = " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), int(rng.integers(8, 60))))
    subject = " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), 3))
    sender = f"user{int(rng.integers(0, 400))}@{('corp.com', 'example.org', 'mail.net')[int(rng.integers(0, 3))]}"
    date = (_EPOCH + timedelta(minutes=minute)).strftime("%a, %d %b %Y %H:%M:%S +0000")
    if rng.random() < 0.05:
        words += " please verify your password at this link urgent"
    msg = {
        "id": mid,
        "threadId": f"t-{int(rng.integers(0, 200))}",
        "labelIds": ["INBOX"] + (["IMPORTANT"] if rng.random() < 0.2 else []),
        "snippet": words[:60],
        "headers": [
            {"name": "From", "value": f'"{sender.split("@")[0].title()}" <{sender}>'},
            {"name": "To", "value": "team@corp.com, Lead <lead@corp.com>"},
            {"name": "Subject", "value": subject},
            {"name": "Date", "value": date},
        ],
        "body_plain": None,
        "body_html": None,
        "attachments": [],
    }
    if rng.random() < 0.5:
        msg["body_plain"] = words
    else:
        msg["body_html"] = f"<html><style>p{{}}</style><p>{words}</p><img width=1 height=1 src=x></html>"
    for _ in range(int(rng.choice(4, p=(0.6, 0.25, 0.1, 0.05)))):
        name, mime, data = _ATTACHMENTS[int(rng.integers(0, len(_ATTACHMENTS)))]
        msg["attachments"].append({
            "filename": name, "mimeType": mime, "size": len(data),
            "attachmentId": f"a{int(rng.integers(0, 10**6))}",
            "data": base64.b64encode(data).decode(),
        })
    return json.dumps(msg)


@dataclass
class Message:
    mid: str
    minute: int
    line: str
    valid: bool


@dataclass
class IngestCycle:
    """One ingest cycle's inputs and the counts the pipeline must report.

    fresh: new messages; overlap: half re-sent from `fresh`, half new;
    sync: half dated before the warehouse watermark, half after;
    second: new messages for a warehouse of their own.

    expected[kind] holds the stats of writing that batch in this order,
    expected["ids"][kind] the ids its warehouse holds afterwards."""

    fresh: list[Message]
    overlap: list[Message]
    sync: list[Message]
    second: list[Message]
    expected: dict


MALFORMED_SHARE = 0.01  # payloads cut off mid-JSON


class PayloadFactory:
    """Deterministic Gmail payloads; about 1% are truncated JSON."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.next_id = 0

    def message(self, minute: int) -> Message:
        mid = f"m-{self.next_id:07d}"
        self.next_id += 1
        line = _payload(self.rng, mid, minute)
        valid = self.rng.random() >= MALFORMED_SHARE
        if not valid:
            line = line[: len(line) // 2]
        return Message(mid, minute, line, valid)

    def cycle(self, batch: int) -> IngestCycle:
        half = batch // 2
        fresh = [self.message(m) for m in range(batch)]
        overlap = fresh[:half] + [self.message(batch + m) for m in range(batch - half)]
        watermark = max(m.minute for m in fresh + overlap if m.valid)
        older = [self.message(int(self.rng.integers(0, watermark))) for _ in range(half)]
        newer = [self.message(watermark + 1 + m) for m in range(batch - half)]
        sync = older + newer
        self.rng.shuffle(sync)
        second = [self.message(m) for m in range(batch)]
        second_ok = {m.mid for m in second if m.valid}
        fresh_ok = {m.mid for m in fresh if m.valid}
        over_new = {m.mid for m in overlap[half:] if m.valid}
        newer_ok = {m.mid for m in newer if m.valid}
        expected = {
            "fresh": {"processed": len(fresh_ok), "skipped": 0,
                      "failed": sum(not m.valid for m in fresh)},
            "overlap": {"processed": len(over_new),
                        "skipped": sum(m.valid for m in overlap[:half]),
                        "failed": sum(not m.valid for m in overlap)},
            "sync": {"processed": len(newer_ok)},
            "second": {"processed": len(second_ok), "skipped": 0,
                       "failed": sum(not m.valid for m in second)},
            "ids": {"fresh": fresh_ok, "overlap": fresh_ok | over_new,
                    "sync": fresh_ok | over_new | newer_ok, "second": second_ok},
        }
        return IngestCycle(fresh, overlap, sync, second, expected)


def write_jsonl(path: str, messages: list[Message]) -> None:
    with open(path, "w") as fh:
        for m in messages:
            fh.write(m.line + "\n")
