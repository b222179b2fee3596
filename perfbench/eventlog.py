"""Reader for Spark's JSON event log (traced runs only).

Task-end events give task CPU, run time, GC, shuffle, spill and output
records. The Python UDF node's SQL metrics arrive as task accumulables named
"time to run Python workers", "data sent to Python workers", "data returned
from Python workers", "time to start Python workers" and "time to initialize
Python workers"; the query plans in the log name the UDF behind each of those
accumulators, so decode and encode time are told apart. Jobs carry the job
group the benchmark set around each phase, so every number can be attributed
to the phase that caused it.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

PYTHON_ACCUMS = {
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
}


@dataclass
class Totals:
    tasks: int = 0
    failed_tasks: int = 0
    cpu_ns: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    max_task_records_written: int = 0
    # UDF name ("decode_cef", "encode_cef") -> {metric key: total}
    python: dict = field(default_factory=dict)

    def add_python(self, udf: str, key: str, value: int) -> None:
        per = self.python.setdefault(udf, {v: 0 for v in PYTHON_ACCUMS.values()})
        per[key] += value

    def add_task(self, ev: dict, acc_udf: dict) -> None:
        self.tasks += 1
        if ev.get("Task End Reason", {}).get("Reason") != "Success":
            self.failed_tasks += 1
        m = ev.get("Task Metrics") or {}
        self.cpu_ns += m.get("Executor CPU Time", 0)
        self.run_ms += m.get("Executor Run Time", 0)
        self.gc_ms += m.get("JVM GC Time", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        self.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0))
        self.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        self.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        self.max_task_records_written = max(
            self.max_task_records_written,
            (m.get("Output Metrics") or {}).get("Records Written", 0))
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            key = PYTHON_ACCUMS.get(acc.get("Name"))
            if key is not None:
                self.add_python(acc_udf.get(acc.get("ID"), "other"), key,
                                int(acc.get("Update") or 0))


@dataclass
class EventLog:
    by_group: dict          # job group -> Totals
    job_submit_ms: list     # submission time of every job

    def totals(self, *groups: str) -> Totals:
        """Sum over the named groups (all groups when none are named)."""
        out = Totals()
        for g, t in self.by_group.items():
            if groups and g not in groups:
                continue
            for k, v in t.__dict__.items():
                if k == "python":
                    for udf, per in v.items():
                        for pk, pv in per.items():
                            out.add_python(udf, pk, pv)
                elif k == "max_task_records_written":
                    out.max_task_records_written = max(out.max_task_records_written, v)
                else:
                    setattr(out, k, getattr(out, k) + v)
        return out

    def jobs_between(self, start_s: float, end_s: float) -> int:
        """Jobs submitted inside the wall-clock interval [start_s, end_s]."""
        lo, hi = start_s * 1000, end_s * 1000
        return sum(1 for t in self.job_submit_ms if lo <= t <= hi)


UDF_NAMES = ("decode_cef", "encode_cef")


def _map_plan(node: dict, acc_udf: dict) -> None:
    """Record which UDF each Python-node accumulator belongs to."""
    text = node.get("simpleString", "")
    udf = next((u for u in UDF_NAMES if u in text), None)
    if udf is not None and "Python" in node.get("nodeName", ""):
        for m in node.get("metrics", []):
            acc_udf[m.get("accumulatorId")] = udf
    for child in node.get("children", []):
        _map_plan(child, acc_udf)


def read_event_log(log_dir: Path) -> EventLog:
    """Parse every event log file under ``log_dir``."""
    stage_group: dict[int, str] = {}
    job_submit_ms: list[int] = []
    by_group: dict[str, Totals] = {}
    acc_udf: dict[int, str] = {}
    for path in sorted(p for p in log_dir.iterdir() if p.is_file()
                       and not p.name.startswith(".")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    job_submit_ms.append(ev.get("Submission Time", 0))
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "")
                    by_group.setdefault(group, Totals()).add_task(ev, acc_udf)
                elif "sparkPlanInfo" in ev:
                    _map_plan(ev["sparkPlanInfo"], acc_udf)
    return EventLog(by_group=by_group, job_submit_ms=job_submit_ms)
