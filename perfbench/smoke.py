#!/usr/bin/env python3
"""Smoke test of the benchmark itself, with one-second runs.

    python3 perfbench/smoke.py

For every workload it runs ``run.py`` untraced and traced and checks that
each metric ``BENCHMARK.json`` names is emitted with its unit, that no
operation failed, and, in the traced run, that construction, planning and
execution account for each timed query's wall time. It also checks that
the benchmark refuses to run from a directory holding only itself.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# Query wall time the three phases may leave uncovered: result clean-up
# between the spans is a few milliseconds.
UNCOVERED_S = 0.05


def run(workload: str, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300, check=False,
    )


def check(ok: bool, what: str) -> None:
    if not ok:
        sys.exit(f"smoke: FAIL {what}")


def check_result(workload: str, trace: int, proc: subprocess.CompletedProcess) -> None:
    check(proc.returncode == 0, f"{workload} trace={trace} exited {proc.returncode}: {proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    check(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{workload} result keys")
    check(result["correct"] and result["failed"] == 0 and result["attempted"] > 0,
          f"{workload} trace={trace} correct/failed/attempted: {proc.stderr[-2000:]}")
    spec = SPEC["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    check(got == want, f"{workload} trace={trace} metric names/units differ: {set(got) ^ set(want)}")


def check_query_phases(workload: str) -> None:
    trace = json.loads((ROOT / ".perfbench" / f"spans-{workload}-7-t1.json").read_text())
    spans = trace["spans"]
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    queries = [s for s in spans if s["name"] == "query" and s["trace"].startswith("pass")]
    check(bool(queries), f"{workload}: no timed query spans")
    for q in queries:
        phases = {c["name"]: c["end"] - c["start"] for c in kids.get(q["id"], [])}
        check(set(phases) == {"queries.call", "plan", "exec"}, f"{workload} {q['op']} phases {set(phases)}")
        gap = (q["end"] - q["start"]) - sum(phases.values())
        check(0 <= gap < UNCOVERED_S, f"{workload} {q['op']}: phases leave {gap:.3f} s uncovered")
    check(not any(s["name"].startswith("store.") for s in spans), f"{workload} made store calls")


def check_refuses_alone() -> None:
    with tempfile.TemporaryDirectory(dir=ROOT / ".perfbench") as d:
        shutil.copy(ROOT / "BENCHMARK.json", d)
        shutil.copytree(HERE, Path(d) / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
        proc = run("queries_exec", 0, cwd=Path(d))
    check(proc.returncode != 0 and not proc.stdout.strip(), "runs without the program beside it")


def main() -> None:
    (ROOT / ".perfbench").mkdir(exist_ok=True)
    check_refuses_alone()
    for workload in (w["name"] for w in SPEC["workloads"]):
        for trace in (0, 1):
            check_result(workload, trace, run(workload, trace))
        if workload.startswith("queries_"):
            check_query_phases(workload)
        print(f"smoke: {workload} ok", flush=True)


if __name__ == "__main__":
    main()
