"""Outside-in layer tracing for the benchmark.

Everything is observed from the benchmark process, around calls into
the program's public functions; the program itself is not modified:

- spans: one per layer boundary (name, start, end, parent span,
  operation id), kept in memory and written out at exit;
- py4j round trips: a counter on py4j's single send path, patched in
  this process only;
- jobs/stages/tasks: one Spark job group per (operation, layer), read
  back through `statusTracker`;
- shuffle, spill, CPU, run and GC time: Spark's own event log, enabled
  for traced runs through launch conf and parsed after the session
  stops.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

import py4j.java_gateway
import py4j.protocol


class Py4jCounter:
    """Counts py4j commands sent from this process, except the
    object-release messages py4j sends when Python garbage-collects a
    proxy: their timing follows the garbage collector, not the code."""

    RELEASE = py4j.protocol.MEMORY_COMMAND_NAME + py4j.protocol.MEMORY_DEL_SUBCOMMAND_NAME

    def __init__(self):
        self.calls = 0

    def install(self) -> None:
        orig = py4j.java_gateway.GatewayClient.send_command
        counter = self

        def send_command(self, command, *args, **kwargs):
            if not command.startswith(counter.RELEASE):
                counter.calls += 1
            return orig(self, command, *args, **kwargs)

        py4j.java_gateway.GatewayClient.send_command = send_command


class Tracer:
    """Span recorder. Disabled, every method is a no-op pass-through so
    the untraced run does no extra work."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[tuple[str, str]] = []
        self.py4j = Py4jCounter()
        self.sc = None
        self._groups: list[str] = []
        if enabled:
            self.py4j.install()

    @contextmanager
    def span(self, name: str, op: str, group: bool = False):
        """Record one span. With group=True the span's Spark jobs run
        under job group `<op>|<name>` so they can be attributed."""
        if not self.enabled:
            yield
            return
        gid = f"{op}|{name}"
        if group:
            self._groups.append(gid)
            self.sc.setJobGroup(gid, name)
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((name, op))
        calls0 = self.py4j.calls
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            rec = {"name": name, "start": t0, "end": t1, "parent": parent,
                   "op": op, "py4j": self.py4j.calls - calls0}
            if group:
                rec.update(self._group_counts(gid))
                self._groups.pop()
                if self._groups:
                    self.sc.setJobGroup(self._groups[-1], "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    @property
    def current_op(self) -> str | None:
        return self._stack[-1][1] if self._stack else None

    def count(self, name: str, op: str, **values) -> None:
        """A zero-length span carrying counts, e.g. rows transferred."""
        if self.enabled:
            now = time.perf_counter()
            self.spans.append({"name": name, "start": now, "end": now, "parent": None,
                               "op": op, "py4j": 0, **values})

    def _group_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                sinfo = st.getStageInfo(sid)
                if sinfo is not None and sinfo.numCompletedTasks > 0:
                    stages += 1
                    tasks += sinfo.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def self_time(spans: list[dict], name: str) -> float:
    """Duration of spans called `name`, minus what their children cover."""
    total = sum(s["end"] - s["start"] for s in spans if s["name"] == name)
    child = sum(s["end"] - s["start"] for s in spans if s["parent"] == name)
    return total - child


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per-job-group task metrics from every event log under `log_dir`.

    Returns {group: {shuffle_read_bytes, shuffle_write_bytes,
    spill_bytes, executor_cpu_s, executor_run_s, gc_s, text_scans}}
    where text_scans counts executed stages that read a text source."""
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path) or os.path.basename(path).startswith((".", "appstatus")):
            continue
        stage_group: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = out[group]
                    rd = m.get("Shuffle Read Metrics", {})
                    g["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    g["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None:
                        continue
                    scopes = " ".join(r.get("Scope", "") for r in info.get("RDD Info", ()))
                    if "Scan text" in scopes:
                        out[group]["text_scans"] += 1
    return out
