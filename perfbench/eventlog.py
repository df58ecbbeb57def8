"""Spark event-log parsing: per-call task metrics of the traced run.

The benchmark tags every public call with ``setJobDescription`` and
turns on the event log for its own session; this folds the log's task
and job events into sums per description.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


def read_events(log_dir: str) -> list[dict]:
    """Events of every application log under ``log_dir``: plain files or
    rolling ``eventlog_v2_*`` directories (files ``events_<n>_*``)."""
    files = []
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(entry):
            parts = glob.glob(os.path.join(entry, "events_*"))
            files += sorted(parts, key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))
        else:
            files.append(entry)
    events = []
    for path in files:
        with open(path) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


class CallStats:
    """Task-metric sums for the jobs of one job description."""

    def __init__(self) -> None:
        self.tasks = 0
        self.run_s = 0.0
        self.gc_s = 0.0
        self.shuffle_write_bytes = 0
        self.shuffle_read_bytes = 0
        self.fetch_wait_s = 0.0
        self.input_bytes = 0
        self.output_bytes = 0
        self.py_sent_bytes = 0
        self.py_received_bytes = 0
        self.job_s = 0.0
        # stage id -> task run times (s) of stages that ran Python UDFs
        self.python_stage_runs: dict[int, list[float]] = defaultdict(list)

    def task_skew(self) -> float:
        """Max over median task run time in the Python stage with the
        largest summed run time (0 when no Python stage ran)."""
        if not self.python_stage_runs:
            return 0.0
        runs = max(self.python_stage_runs.values(), key=sum)
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 0.0


def per_call(events: list[dict]) -> dict[str, CallStats]:
    """Job description -> :class:`CallStats` (untagged jobs under "")."""
    stage_desc: dict[int, str] = {}
    job_desc: dict[int, str] = {}
    job_start: dict[int, int] = {}
    out: dict[str, CallStats] = defaultdict(CallStats)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            stage_desc[e["Stage Info"]["Stage ID"]] = props.get("spark.job.description") or ""
        elif kind == "SparkListenerJobStart":
            job_desc[e["Job ID"]] = (e.get("Properties") or {}).get("spark.job.description") or ""
            job_start[e["Job ID"]] = e["Submission Time"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_start:
            out[job_desc[e["Job ID"]]].job_s += (e["Completion Time"] - job_start[e["Job ID"]]) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                continue
            s = out[stage_desc.get(e["Stage ID"], "")]
            s.tasks += 1
            s.run_s += m["Executor Run Time"] / 1000.0
            s.gc_s += m["JVM GC Time"] / 1000.0
            s.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            rd = m["Shuffle Read Metrics"]
            s.shuffle_read_bytes += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
            s.fetch_wait_s += rd["Fetch Wait Time"] / 1000.0
            s.input_bytes += m["Input Metrics"]["Bytes Read"]
            s.output_bytes += m["Output Metrics"]["Bytes Written"]
            py = False
            for acc in e["Task Info"].get("Accumulables", []):
                if acc.get("Name") == PY_SENT:
                    s.py_sent_bytes += int(acc["Update"])
                    py = True
                elif acc.get("Name") == PY_RECEIVED:
                    s.py_received_bytes += int(acc["Update"])
            if py:
                s.python_stage_runs[e["Stage ID"]].append(m["Executor Run Time"] / 1000.0)
    return dict(out)


def total(stats: dict[str, CallStats], prefix: str) -> CallStats:
    """Sum of the calls whose description starts with ``prefix``."""
    acc = CallStats()
    for desc, s in stats.items():
        if not desc.startswith(prefix):
            continue
        for name, value in vars(s).items():
            if name == "python_stage_runs":
                for stage, runs in value.items():
                    acc.python_stage_runs[stage] += runs
            else:
                setattr(acc, name, getattr(acc, name) + value)
    return acc
