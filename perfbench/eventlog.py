"""Spark event log -> per-layer metrics of each benchmark run.

Input: the uncompressed JSON-lines event log of one traced worker and
the runs' wall-clock spans (epoch seconds, recorded by the worker).
Every job, stage, task and SQL execution is given to the run whose
span contains its start time: runs are sequential in one driver, and
the output checks between them start no Spark work.

Sinks: a SQL execution whose physical plan names ``<out>/<name>`` is
that output's write. Executions and jobs that write nothing (the
index's repository collect, the dedup loop's jobs, a read-back count)
are charged to the next sink the run writes, the one they feed;
those after the last write (``.show()`` of a report) to ``stdout``.
So the sink spans plus ``driver.gap_s`` (wall not covered by any
execution or job) add up to the run's wall time.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict

_PYTHON = {
    "time to run Python workers": ("python.run_s", 1e-3),
    "time to start Python workers": ("python.start_s", 1e-3),
    "data sent to Python workers": ("python.bytes_sent", 1.0),
    "data returned from Python workers": ("python.bytes_returned", 1.0),
}

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _walk_metrics(plan: dict, into: dict) -> None:
    for m in plan.get("metrics", []):
        into[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _walk_metrics(child, into)


def read_events(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def extract(events: list[dict], runs: list[dict], out_dir: str, cores: int,
            input_rows: int) -> dict[str, dict]:
    """{run_id: {"metrics": {...}, "spans": [...]}} for each run in
    ``runs`` (dicts with run_id, start, end, and optionally docs and
    bytes as the worker recorded them)."""
    out_re = re.compile(re.escape(out_dir.rstrip("/")) + r"/([A-Za-z0-9_]+)")
    acc_names: dict[int, str] = {}
    execs: dict[int, dict] = {}
    jobs: dict[int, dict] = {}
    stages: list[float] = []
    tasks: list[tuple[float, dict, list]] = []
    for e in events:
        kind = e["Event"]
        if kind == _SQL_START:
            _walk_metrics(e["sparkPlanInfo"], acc_names)
            m = out_re.search(e.get("physicalPlanDescription", ""))
            execs[e["executionId"]] = {
                "start": e["time"] / 1e3,
                "end": e["time"] / 1e3,
                "root": e.get("rootExecutionId", e["executionId"]),
                "sink": m.group(1) if m else None,
            }
        elif kind == _SQL_AQE:
            _walk_metrics(e["sparkPlanInfo"], acc_names)
        elif kind == _SQL_END and e["executionId"] in execs:
            execs[e["executionId"]]["end"] = e["time"] / 1e3
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "start": e["Submission Time"] / 1e3,
                "end": e["Submission Time"] / 1e3,
                "sql": props.get("spark.sql.execution.id"),
            }
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            stages.append(e["Stage Info"].get("Submission Time", 0) / 1e3)
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            tasks.append((info["Launch Time"] / 1e3, e.get("Task Metrics") or {},
                          info.get("Accumulables", [])))

    result = {}
    for run in runs:
        lo, hi = run["start"] - 0.002, run["end"] + 0.002  # event times are whole ms
        inside = lambda t: lo <= t <= hi  # noqa: E731
        wall = run["end"] - run["start"]
        m: dict[str, float] = defaultdict(float)
        m["spark.jobs"] = sum(inside(j["start"]) for j in jobs.values())
        m["spark.stages"] = sum(inside(t) for t in stages)
        peak = 0
        for launch, tm, accs in tasks:
            if not inside(launch):
                continue
            m["spark.tasks"] += 1
            m["exec.task_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["exec.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["spill.bytes"] += tm.get("Disk Bytes Spilled", 0)
            peak = max(peak, tm.get("Peak Execution Memory", 0))
            inp = tm.get("Input Metrics", {})
            m["scan.input_bytes"] += inp.get("Bytes Read", 0)
            m["scan.records"] += inp.get("Records Read", 0)
            sr = tm.get("Shuffle Read Metrics", {})
            m["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            m["shuffle.write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            for a in accs:
                name = acc_names.get(a.get("ID"))
                if name in _PYTHON and "Update" in a:
                    key, scale = _PYTHON[name]
                    m[key] += float(a["Update"]) * scale
        m["exec.peak_memory_bytes"] = peak
        m["exec.core_util"] = m["exec.task_s"] / (wall * cores) if wall > 0 else 0.0
        m["scan.reads_per_input_row"] = m.pop("scan.records") / input_rows

        # the run's driver-side activity intervals: root SQL executions
        # plus jobs outside any execution, in start order
        intervals = [
            (x["start"], x["end"], x["sink"])
            for xid, x in execs.items()
            if x["root"] == xid and inside(x["start"])
        ] + [(j["start"], j["end"], None) for j in jobs.values()
             if j["sql"] is None and inside(j["start"])]
        intervals.sort()
        spans, pending, busy = [], [], 0.0
        for start, end, sink in intervals + [(None, None, "stdout")]:
            if sink is None:
                pending.append((start, end))
                continue
            group = pending + ([(start, end)] if start is not None else [])
            pending = []
            if not group:
                continue
            secs = sum(e - s for s, e in group)
            m[f"sink.{sink}_s"] += secs
            busy += secs
            spans.append({"name": f"sink.{sink}", "start": group[0][0],
                          "end": group[-1][1], "run_id": run["run_id"]})
        m["driver.gap_s"] = wall - busy
        for name, size in (run.get("bytes") or {}).items():
            m[f"sink.{name}_bytes"] = float(size)
        docs = run.get("docs") or 0
        m["render.docs"] = docs
        m["render.ms_per_doc"] = m["python.run_s"] * 1e3 / docs if docs else 0.0
        result[run["run_id"]] = {"metrics": dict(m), "spans": spans}
    return result
