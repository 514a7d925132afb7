"""Benchmark entry point.

    python3 perfbench/run.py --workload {mail_ingest,corpus_curation,mcp_serve,
                                         mail_rewrite,corpus_curation_ties}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. Generates the workload's inputs from the
seed, sets up (Spark session start plus a fixed warm-up on a fresh
corpus alias or warehouse), measures whole operation cycles for S
seconds, checks every output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The line before it is the full run record (host, session,
workload-specific figures, named failures); spans and records are also
written under .perfbench/records/.
"""

from __future__ import annotations

import time

T_PROC = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# listed in BENCHMARK.json first; the last two print "correct": false
# on the current program (see perfbench/baseline/NOTES.md)
WORKLOAD_NAMES = ("mail_ingest", "corpus_curation", "mcp_serve", "mail_rewrite", "corpus_curation_ties")
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
}
PER_LAYER = {
    "builder.s": "s", "builder.py4j_calls": "count", "builder.driver_jobs": "count",
    "catalyst.s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.executor_cpu_s": "s", "exec.executor_run_s": "s",
    "transfer.rows": "count",
    "session.start_s": "s", "session.peak_rss_mb": "MB",
    "host.nproc": "count", "host.loadavg_1m": "load", "host.calib_s": "s",
}


def calib_probe(reps: int = 2) -> list[float]:
    """Fixed pure-Python CPU probe: tracks host speed drift."""
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        s = 0
        for i in range(1_500_000):
            s += i * i
        out.append(time.perf_counter() - t0)
    return out


def cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU jiffies of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(v) for v in fh.readline().split()[1:9]]
    return f[7], sum(f)


def launch_env(work: str, trace: bool) -> None:
    """Environment for the Spark JVM and its Python workers; all
    scratch space stays inside the run's work directory."""
    for sub in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    args = " ".join(f"--conf '{k}={v}'" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def start_session():
    from email_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def stop_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def drop_stale_aliases() -> None:
    """Index dirs of benchmark aliases whose process is gone."""
    from perfbench.workloads import INDEX_KINDS

    for kind in INDEX_KINDS:
        d = os.path.join(ROOT, "spark-warehouse", kind)
        for name in os.listdir(d) if os.path.isdir(d) else ():
            m = re.fullmatch(r"perfbench_\w+_p(\d+)_\d+", name)
            if m and not os.path.exists(f"/proc/{m.group(1)}"):
                shutil.rmtree(os.path.join(d, name), ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "email_etl_spark")):
        print(f"email_etl_spark not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import Tracer, parse_event_log
    from perfbench.workloads import WORKLOADS, Run, drop_index_dirs, layer_summary

    tracer = Tracer(bool(a.trace))
    work = os.path.join(ROOT, ".perfbench", f"run-{a.workload}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    launch_env(work, bool(a.trace))
    drop_stale_aliases()
    host = {"host.nproc": os.cpu_count(), "host.loadavg_1m": os.getloadavg()[0]}
    calib_before = calib_probe()
    run = Run(ROOT, work, a.seed, a.seconds, tracer)
    try:
        t0 = time.perf_counter()
        wl = WORKLOADS[a.workload](run)
        gen_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        run.spark = start_session()
        tracer.sc = run.spark.sparkContext
        session_start_s = time.perf_counter() - t0
        wl.setup()
        # process start to ready, less the benchmark's own input
        # generation and CPU probe
        setup_s = time.perf_counter() - T_PROC - gen_s - sum(calib_before)
        steal0, total0 = cpu_jiffies()
        result = wl.measure()
        steal1, total1 = cpu_jiffies()
        if a.trace and hasattr(wl, "standalone"):
            result.update(wl.standalone())
        calib_after = calib_probe()
        peak_rss = jvm_peak_rss_mb(run.spark)
        run.spark.stop()
    finally:
        stop_jvm()
        drop_index_dirs(ROOT, run.aliases)

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "setup_s": setup_s, "input_gen_s": gen_s,
        "session.start_s": session_start_s, "session.peak_rss_mb": peak_rss,
        **host, "host.calib_s": statistics.median(calib_before + calib_after),
        "host.calib_before_s": statistics.median(calib_before),
        "host.calib_after_s": statistics.median(calib_after),
        "host.steal_share": (steal1 - steal0) / max(1, total1 - total0),
        **result,
    }
    record["error_rate"] = record["failed"] / record["attempted"]
    if a.trace:
        events = parse_event_log(os.path.join(work, "eventlog"))
        ops = set(result["first_cycle_ops"])
        record.update(layer_summary(tracer.spans, ops, events))
        if a.workload.startswith("mail_"):
            imports = {o for o in ops if o.endswith((".fresh", ".overlap", ".second"))}
            spans = [s for s in tracer.spans if s["op"] in imports and s["name"] in ("pipeline", "builder")]
            record["pipeline.jobs_per_import"] = sum(s.get("jobs", 0) for s in spans) / len(imports)
            record["pipeline.input_scans_per_import"] = sum(
                v.get("text_scans", 0) for g, v in events.items() if g and g.split("|")[0] in imports
            ) / len(imports)

    records = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(records, exist_ok=True)
    stem = os.path.join(records, f"{a.workload}-s{a.seed}-t{a.trace}-p{os.getpid()}")
    tracer.write(stem + ".spans.jsonl")
    with open(stem + ".record.json", "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER if a.trace else END_TO_END
    metrics = {k: {"value": record[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"record": record}, sort_keys=True))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
