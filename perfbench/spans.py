"""Tracing and measurement helpers for the benchmark: in-memory spans around
calls into the program's layers, the Spark event-log reduction, peak RSS of
the program's processes, and the ambient stamp (steal ticks and a CPU-speed
probe) that goes with every result.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict


class Tracer:
    """Spans (name, start, end, parent, pass) kept in memory. Every span is
    also the Spark job description for actions run inside it, so event-log
    rows tie back to it. With `enabled` False only the job description is
    set and nothing is recorded."""

    def __init__(self, spark_context, workload: str, enabled: bool):
        self.sc, self.workload, self.enabled = spark_context, workload, enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, pass_id, name: str):
        label = f"{self.workload}:{pass_id}:{name}"
        parent = self._stack[-1] if self._stack else None
        self._stack.append(label)
        self.sc.setJobDescription(label)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(parent)
            if self.enabled:
                self.spans.append({"name": name, "start": t0, "end": t1,
                                   "parent": parent, "pass": pass_id})

    def seconds(self, pass_id, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["pass"] == pass_id and s["name"] == name)


def reduce_event_log(log_dir: str) -> dict:
    """Spark event log -> {job description: stats} over its tasks: task
    count, summed run time, per-stage max/median task time, shuffle bytes
    written, bytes spilled, peak task memory, Python-worker time, and bytes
    written by the stage that wrote the most."""
    desc_of_stage: dict[int, str] = {}
    tasks: dict[int, list] = defaultdict(list)
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    d = (e.get("Properties") or {}).get("spark.job.description") or "-"
                    for s in e["Stage IDs"]:
                        desc_of_stage[s] = d
                elif ev == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                    m = e["Task Metrics"]
                    acc = {a["Name"]: a.get("Update", 0) for a in e["Task Info"].get("Accumulables", [])}
                    py_ms = float(acc.get("time to run Python workers") or 0)
                    tasks[e["Stage ID"]].append({
                        "run_ms": m["Executor Run Time"],
                        "shuffle_w": m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                        "spill": m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
                        "peak_mem": m["Peak Execution Memory"],
                        "out_bytes": m["Output Metrics"]["Bytes Written"],
                        "py_ms": py_ms,
                    })
    table: dict[str, dict] = {}
    for stage, ts in tasks.items():
        d = desc_of_stage.get(stage, "-")
        row = table.setdefault(d, {"tasks": 0, "run_s": 0.0, "shuffle_write_bytes": 0,
                                   "spill_bytes": 0, "peak_task_memory_bytes": 0,
                                   "python_worker_s": 0.0, "write_stage_skew": 0.0,
                                   "_write_out": -1, "stages": 0})
        row["tasks"] += len(ts)
        row["stages"] += 1
        row["run_s"] += sum(t["run_ms"] for t in ts) / 1e3
        row["shuffle_write_bytes"] += sum(t["shuffle_w"] for t in ts)
        row["spill_bytes"] += sum(t["spill"] for t in ts)
        row["peak_task_memory_bytes"] = max(row["peak_task_memory_bytes"],
                                            max(t["peak_mem"] for t in ts))
        row["python_worker_s"] += sum(t["py_ms"] for t in ts) / 1e3
        out = sum(t["out_bytes"] for t in ts)
        if out > row["_write_out"]:
            run = [t["run_ms"] for t in ts]
            med = statistics.median(run)
            row["_write_out"] = out
            row["write_stage_skew"] = max(run) / med if med > 0 else 1.0
    for row in table.values():
        row.pop("_write_out")
    return table


# ------------------------------------------------------------- processes
def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, so the
    interpreter's own start-up counts)."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int) -> float:
    f = _stat_fields(pid)
    return (int(f[11]) + int(f[12])) / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children[int(_stat_fields(int(d))[1])].append(int(d))
            except (OSError, IndexError):
                continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


# --------------------------------------------------------------- ambient
def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _cpu_probe_s() -> float:
    t0 = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i
    return time.perf_counter() - t0


def ambient() -> dict:
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"steal_ticks": _steal_ticks(), "cpu_probe_s": _cpu_probe_s(), "load1": load1}
