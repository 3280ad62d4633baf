"""Read Spark's own event log (zstd, `eventlog_v2_*` dirs) and sum task
metrics per span.

Every job and stage carries the `spark.job.description` the tracer set
(`span:<id>`), so work is attributed to the span that started it without
touching the program."""

from __future__ import annotations

import glob
import json
import os

_PY_RUN = "time to run Python workers"
_PY_START = "time to start Python workers"


def load(directory: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(directory, "eventlog_v2_*", "events_*"))):
        import pyarrow as pa

        comp = "zstd" if path.endswith(".zstd") else None
        with pa.input_stream(path, compression=comp) as s:
            data = s.read().decode("utf-8")
        events.extend(json.loads(line) for line in data.splitlines() if line)
    return events


def _span_of(props: dict | None) -> int | None:
    d = (props or {}).get("spark.job.description") or ""
    return int(d[5:]) if d.startswith("span:") else None


def summarize(events: list[dict], spans: set[int] | None = None) -> dict:
    """Totals over the jobs whose span is in `spans` (all jobs if None)."""
    stage_span: dict[int, int | None] = {}
    jobs: dict[int, dict] = {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            jobs[e["Job ID"]] = {
                "span": _span_of(e.get("Properties")),
                "start": e["Submission Time"] / 1000.0,
                "end": None,
            }
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif ev == "SparkListenerStageSubmitted":
            stage_span[e["Stage Info"]["Stage ID"]] = _span_of(e.get("Properties"))

    def keep(span):
        return spans is None or span in spans

    out = {
        "jobs": 0,
        "tasks": 0,
        "job_busy_s": 0.0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "python_worker_s": 0.0,
        "python_worker_start_s": 0.0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "input_bytes": 0,
        "output_bytes": 0,
        "peak_exec_mem_bytes": 0,
        "write_task_records": [],
    }
    intervals = []
    for j in jobs.values():
        if keep(j["span"]) and j["end"] is not None:
            out["jobs"] += 1
            intervals.append((j["start"], j["end"]))
    out["job_busy_s"] = _union(intervals)
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or not keep(stage_span.get(e["Stage ID"])):
            continue
        m = e.get("Task Metrics") or {}
        if not m:
            continue
        out["tasks"] += 1
        out["executor_run_s"] += m["Executor Run Time"] / 1000.0
        out["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
        out["gc_s"] += m["JVM GC Time"] / 1000.0
        out["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        out["spill_bytes"] += m["Disk Bytes Spilled"]
        out["input_bytes"] += m["Input Metrics"]["Bytes Read"]
        out["output_bytes"] += m["Output Metrics"]["Bytes Written"]
        if m["Output Metrics"]["Records Written"]:
            out["write_task_records"].append(m["Output Metrics"]["Records Written"])
        out["peak_exec_mem_bytes"] = max(out["peak_exec_mem_bytes"], m["Peak Execution Memory"])
        for a in e["Task Info"].get("Accumulables", []):
            if a.get("Name") == _PY_RUN:
                out["python_worker_s"] += int(a.get("Update") or 0) / 1000.0
            elif a.get("Name") == _PY_START:
                out["python_worker_start_s"] += int(a.get("Update") or 0) / 1000.0
    return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def executions(events: list[dict], spans: set[int]) -> list[dict]:
    """The SQL executions (one per DataFrame action) whose jobs ran under
    `spans`, in start order: {"start", "end", "writes"}, where `writes`
    says whether any of its tasks wrote output records. Inside one verb
    call these are the verb's own actions, in the verb's order."""
    start, end, root = {}, {}, {}
    for e in events:
        if e["Event"] == _SQL_START:
            start[e["executionId"]] = e["time"] / 1000.0
            root[e["executionId"]] = e.get("rootExecutionId", e["executionId"])
        elif e["Event"] == _SQL_END:
            end[e["executionId"]] = e["time"] / 1000.0
    job_exec, stage_exec = {}, {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            x = props.get("spark.sql.execution.id")
            if x is not None and _span_of(props) in spans:
                x = root.get(int(x), int(x))
                job_exec[e["Job ID"]] = x
                for s in e.get("Stage IDs", []):
                    stage_exec[s] = x
    writes = set()
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stage_exec:
            m = e.get("Task Metrics") or {}
            if m and m["Output Metrics"]["Records Written"]:
                writes.add(stage_exec[e["Stage ID"]])
    out = [{"start": start[x], "end": end[x], "writes": x in writes}
           for x in set(job_exec.values()) if x in start and x in end]
    return sorted(out, key=lambda r: r["start"])
