"""Spans recorded by the benchmark around calls into each layer, and the
offline reduction of Spark's event log onto those spans.

A span is opened with ``Tracer.span(name, trace)``. Spans are always
timed, because the end-to-end metrics are read from them. Only a traced
run also sets the Spark job group to the span id, so every job launched
inside the span (and not inside a child span) is attributed to it; the
event log written during that run is then reduced per job group by
``reduce_event_log``.
"""

from __future__ import annotations

import json
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from pathlib import Path

GROUP_PREFIX = "pb-"
_JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    """Keeps spans in memory; ``spans`` is written out when the run ends."""

    def __init__(self, traced: bool) -> None:
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def bind(self, sc) -> None:
        self._sc = sc

    @contextmanager
    def span(self, name: str, trace: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "trace": trace,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: int | None) -> None:
        if self.traced and self._sc is not None:
            self._sc.setLocalProperty(
                _JOB_GROUP, None if sid is None else f"{GROUP_PREFIX}{sid}"
            )


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def children(spans: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]].append(s)
    return out


def reduce_event_log(events_dir: Path) -> dict[int | None, Counter]:
    """Per-span Spark counters from the run's event log, keyed by span id
    (``None`` collects jobs launched outside any benchmark span).

    Jobs and stages are attributed through the job group set at submit
    time; tasks and their metrics through the stage that ran them. A stage
    shared by two jobs counts for the first job that listed it.
    """
    logs = [p for p in events_dir.iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {events_dir}, found {len(logs)}")
    group_of_job: dict[int, int | None] = {}
    job_of_stage: dict[int, int] = {}
    out: dict[int | None, Counter] = defaultdict(Counter)

    def owner(stage_id: int) -> int | None:
        return group_of_job.get(job_of_stage.get(stage_id, -1))

    with open(logs[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(_JOB_GROUP) or ""
                sid = int(group[len(GROUP_PREFIX):]) if group.startswith(GROUP_PREFIX) else None
                group_of_job[ev["Job ID"]] = sid
                for stage in ev["Stage IDs"]:
                    job_of_stage.setdefault(stage, ev["Job ID"])
                out[sid]["jobs"] += 1
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                c = out[owner(info["Stage ID"])]
                c["stages"] += 1
                c["single_task_stages"] += info["Number of Tasks"] == 1
            elif kind == "SparkListenerTaskEnd":
                c = out[owner(ev["Stage ID"])]
                m = ev.get("Task Metrics") or {}
                shuffle_read = m.get("Shuffle Read Metrics") or {}
                c["tasks"] += 1
                c["executor_run_ms"] += m.get("Executor Run Time", 0)
                c["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
                c["jvm_gc_ms"] += m.get("JVM GC Time", 0)
                c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                c["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                c["shuffle_read_bytes"] += shuffle_read.get("Remote Bytes Read", 0) + shuffle_read.get(
                    "Local Bytes Read", 0
                )
                c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out
