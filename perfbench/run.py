#!/usr/bin/env python3
"""Layered benchmark for oakstore_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. Workloads (see README.md):
``store_ohlcv``, ``queries_build`` and ``queries_exec``. The seed drives
the OHLCV generator, the slice and resample windows and the query order;
the query inputs are the fixed tables in ``perfbench/data``. A run sets up
(Spark session, inputs, one untimed warm-up pass that also checks every
output), then runs timed passes until ``--seconds`` have passed, always
finishing the pass in progress.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` turns on job groups and Spark's event
log and reports the per-layer metrics instead. Every run writes its spans,
with the Spark counters of a traced run, to
``.perfbench/spans-<workload>-<seed>-t<trace>.json``. The line before the
result records the run's provenance.

Each run gets its own TMPDIR, Spark local and warehouse directories, store
root and event-log directory under ``.perfbench/run-<pid>``, all deleted at
exit, so index fixtures and stores never carry over between runs.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT_DIR = ROOT / ".perfbench"
WORKLOADS = ("store_ohlcv", "queries_build", "queries_exec")
STORE_OPS = ("write", "append", "backfill", "slice", "resample", "vacuum")

sys.path.insert(0, str(HERE))

from tracing import Tracer, children, duration, reduce_event_log  # noqa: E402
from workloads import ROW_BYTES  # noqa: E402


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--record-fingerprints",
        action="store_true",
        help="write the query workload's result fingerprints to expected.json instead of checking them",
    )
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if args.record_fingerprints and args.workload == "store_ohlcv":
        ap.error("--record-fingerprints applies to the query workloads")
    return args


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate(run_dir: Path, traced: bool) -> None:
    """Points every scratch location of this process, its JVM and its
    Python workers into ``run_dir``. Must run before the JVM starts."""
    tmp, local, events = run_dir / "tmp", run_dir / "local", run_dir / "events"
    for d in (tmp, local, events):
        d.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    # Python workers import oakstore_spark from pickled UDFs; without the
    # repository root on their path they fail outside the repository root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TZ"] = "UTC"
    time.tzset()
    conf = {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def wrap_sources(tracer: Tracer) -> None:
    """Spans around ``sources.tables.table``. Query modules bind either the
    module function or its package re-export at import, so both are
    replaced, before the registry imports them."""
    import oakstore_spark.sources as sources
    import oakstore_spark.sources.tables as tables

    inner = tables.table

    def table(spark, sf_dir, name):
        with tracer.span("sources.table", "", table=name):
            return inner(spark, sf_dir, name)

    tables.table = table
    sources.table = table


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stops the session, then the JVM it launched, and waits for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def percentile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def end_to_end(spans: list[dict], setup_s: float, rss_mb: float) -> dict:
    """Metrics of the timed passes; ``rss_mb`` is the driver process's peak.

    A workload runs a few kinds of operation whose latencies differ by up
    to tenfold, so the median over all operations falls in a gap between
    kinds and jumps between runs; ``op_s_geomean`` is instead the geometric
    mean over kinds of each kind's median latency. Vacuum is maintenance,
    a millisecond directory walk whose run-to-run spread would swamp that
    mean; it counts in the pass time only."""
    passes = [duration(s) for s in spans if s["name"] == "pass"]
    ops = [
        s for s in spans
        if "op" in s and s["op"] != "vacuum" and s["trace"].startswith("pass") and not s.get("failed")
    ]
    kinds: dict[str, list[float]] = {}
    for s in ops:
        kinds.setdefault(f"{s['op']} {s.get('width', '')} {s.get('proto', '')}", []).append(duration(s))
    geomean = math.exp(statistics.fmean(math.log(statistics.median(v)) for v in kinds.values()))
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s_p50": {"value": statistics.median(passes), "unit": "s"},
        "op_s_geomean": {"value": geomean, "unit": "s"},
        "op_s_p90": {"value": percentile([duration(s) for s in ops], 90), "unit": "s"},
        "driver_peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }


def per_layer(spans: list[dict], counters: dict, session_s: float, jvm_rss_mb: float,
              finish: dict) -> dict:
    """Per-layer metrics of a traced run, defined in README.md."""
    kids = children(spans)
    by_id = {s["id"]: s for s in spans}

    def trace_of(s: dict) -> str:
        # sources.table spans do not know their trace; they inherit it
        while not s["trace"] and s["parent"] is not None:
            s = by_id[s["parent"]]
        return s["trace"]

    measured = [s for s in spans if trace_of(s).startswith("pass")]
    npass = sum(1 for s in measured if s["name"] == "pass")

    def subtree(s: dict):
        yield s
        for c in kids.get(s["id"], ()):
            yield from subtree(c)

    def count(span_list, key: str, deep: bool = False) -> float:
        total = 0
        for s in span_list:
            for t in subtree(s) if deep else (s,):
                total += counters.get(t["id"], {}).get(key, 0)
        return total

    def named(name: str) -> list[dict]:
        return [s for s in measured if s["name"] == name]

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (session_s, "s")
    m["trace.pass_s_p50"] = (statistics.median(duration(s) for s in named("pass")), "s")
    m["trace.unattributed_jobs"] = (counters.get(None, {}).get("jobs", 0), "count")
    m["jvm.peak_rss_mb"] = (jvm_rss_mb, "MB")

    run_ms = count(measured, "executor_run_ms")
    stages = count(measured, "stages")
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("input_bytes", "B"), ("shuffle_read_bytes", "B"),
                      ("shuffle_write_bytes", "B"), ("spill_bytes", "B")):
        m[f"spark.{key}_per_pass"] = (count(measured, key) / npass, unit)
    m["spark.executor_run_s_per_pass"] = (run_ms / 1e3 / npass, "s")
    m["spark.executor_cpu_s_per_pass"] = (count(measured, "executor_cpu_ns") / 1e9 / npass, "s")
    m["spark.gc_share"] = (ratio(count(measured, "jvm_gc_ms"), run_ms), "ratio")
    m["spark.single_task_stage_ratio"] = (ratio(count(measured, "single_task_stages"), stages), "ratio")

    # query layers: shares of the summed query wall time, counts per pass
    queries = [s for s in named("query") if not s.get("failed")]
    wall = sum(duration(s) for s in queries)
    calls, tables, plans, execs = (named(n) for n in ("queries.call", "sources.table", "plan", "exec"))
    m["queries.build_share"] = (ratio(sum(duration(s) for s in calls), wall), "ratio")
    for key in ("jobs", "stages", "tasks"):
        m[f"queries.build_{key}"] = (ratio(count(calls, key, deep=True), npass), "count")
    eager = sum(1 for s in calls if count([s], "jobs", deep=True) > 0)
    m["queries.eager_ratio"] = (ratio(eager, len(calls)), "ratio")
    m["sources.table_calls"] = (ratio(len(tables), npass), "count")
    m["sources.table_share"] = (ratio(sum(duration(s) for s in tables), wall), "ratio")
    m["sources.table_jobs"] = (ratio(count(tables, "jobs"), npass), "count")
    m["plan.share"] = (ratio(sum(duration(s) for s in plans), wall), "ratio")
    exec_wall = sum(duration(s) for s in execs)
    m["exec.share"] = (ratio(exec_wall, wall), "ratio")
    for key in ("jobs", "stages", "tasks"):
        m[f"exec.{key}"] = (ratio(count(execs, key), npass), "count")
    m["exec.single_task_stage_ratio"] = (
        ratio(count(execs, "single_task_stages"), count(execs, "stages")), "ratio")
    m["exec.parallelism"] = (ratio(count(execs, "executor_run_ms") / 1e3, exec_wall), "ratio")

    # store layer: set-up writes plus the timed passes' operations
    store_ops = [
        s for s in spans
        if s["name"].startswith("store.") and (s in measured or s["trace"] == "setup")
    ]
    store_wall = sum(duration(s) for s in store_ops)
    for op in STORE_OPS:
        done = [s for s in store_ops if s["op"] == op]
        n = len(done)
        m[f"store.{op}.share"] = (ratio(sum(duration(s) for s in done), store_wall), "ratio")
        for key in ("jobs", "stages", "tasks"):
            m[f"store.{op}.{key}"] = (ratio(count(done, key), n), "count")
        if op in ("write", "append", "backfill"):
            written = sum(s.get("bytes_written", 0) for s in done)
            m[f"store.{op}.bytes_written"] = (ratio(written, n), "B")
            m[f"store.{op}.files_written"] = (ratio(sum(s.get("files_written", 0) for s in done), n), "count")
        if op in ("append", "backfill"):
            rows = sum(s["rows"] for s in done)
            m[f"store.{op}.write_amp"] = (ratio(written, ROW_BYTES * rows), "ratio")
        if op in ("slice", "resample"):
            rows = sum(s.get("rows", 0) for s in done)
            m[f"store.{op}.rows_read_per_row"] = (ratio(count(done, "input_records"), rows), "ratio")
    vacuums = [s for s in store_ops if s["op"] == "vacuum"]
    m["store.vacuum.bytes_removed"] = (
        ratio(sum(s.get("bytes_removed", 0) for s in vacuums), len(vacuums)), "B")
    m["store.disk_bytes_per_row"] = (finish.get("disk_bytes_per_row", 0.0), "B/row")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def execute(args: argparse.Namespace, run_dir: Path) -> dict:
    sys.path.insert(0, str(ROOT))
    import numpy as np
    from pyspark import SparkContext

    from oakstore_spark.session import get_spark
    from workloads import BUILD_QUERIES, EXEC_QUERIES, Ops, Queries, StoreOHLCV

    rng = np.random.default_rng(args.seed)
    tracer = Tracer(bool(args.trace))
    ops = Ops()
    t0 = time.perf_counter()
    with tracer.span("session.start", "setup") as session_span:
        spark = get_spark("perfbench")
    session_s = duration(session_span)
    spark.sparkContext.setLogLevel("ERROR")
    tracer.bind(spark.sparkContext)
    jvm_pid = SparkContext._gateway.proc.pid
    try:
        if args.trace:
            wrap_sources(tracer)
        if args.workload == "store_ohlcv":
            workload = StoreOHLCV(spark, tracer, ops, rng, run_dir / "stores")
        else:
            names = BUILD_QUERIES if args.workload == "queries_build" else EXEC_QUERIES
            workload = Queries(names, spark, tracer, ops, rng, args.record_fingerprints)
        workload.setup()
        setup_s = time.perf_counter() - t0
        deadline = time.perf_counter() + args.seconds
        n = 0
        while n == 0 or time.perf_counter() < deadline:
            with tracer.span("pass", f"pass{n}"):
                workload.run_pass(f"pass{n}")
            n += 1
        finish = workload.finish()
        rss_mb, jvm_rss_mb = vm_hwm_mb("self"), vm_hwm_mb(jvm_pid)
    finally:
        stop_spark(spark)

    counters = reduce_event_log(run_dir / "events") if args.trace else {}
    if args.trace:
        metrics = per_layer(tracer.spans, counters, session_s, jvm_rss_mb, finish)
    else:
        metrics = end_to_end(tracer.spans, setup_s, rss_mb)
    for s in tracer.spans:
        s["spark"] = dict(counters.get(s["id"], {}))
    OUT_DIR.mkdir(exist_ok=True)
    (OUT_DIR / f"spans-{args.workload}-{args.seed}-t{args.trace}.json").write_text(
        json.dumps({"spans": tracer.spans, "unattributed": dict(counters.get(None, {}))})
    )
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }


def git_commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                         capture_output=True, text=True, check=False)
    return out.stdout.strip() or None


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "oakstore_spark" / "__init__.py").is_file():
        print(f"perfbench: no oakstore_spark package in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    load_start = loadavg()
    run_dir = OUT_DIR / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        isolate(run_dir, bool(args.trace))
        result = execute(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    import pyspark

    provenance = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "commit": git_commit(),
    }
    print(json.dumps({"provenance": provenance}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
