"""Re-record tests/data/tiny_eventlog.jsonl and tiny_runs.json.

    python3 perfbench/tests/record_eventlog.py

Runs one tiny `cli bdc` (Python render workers, three file sinks and a
.show()) and one tiny `cli index` (a repository collect that writes
nothing, then one CSV sink) in a single session with the event log on,
keeps the events and fields perfbench/eventlog.py reads, and replaces the
scratch directory in every path with ``/work`` and the repository
root with ``/repo``.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))
from eventlog import _PYTHON  # noqa: E402
KEEP = ("SQLExecutionStart", "SQLExecutionEnd", "SQLAdaptiveExecutionUpdate",
        "JobStart", "JobEnd", "StageSubmitted", "TaskEnd")


def _plan_metrics(plan: dict, ids: set) -> dict:
    """The plan tree reduced to its Python-worker SQL metrics."""
    keep = [{k: m[k] for k in ("name", "accumulatorId", "metricType")}
            for m in plan.get("metrics", []) if m["name"] in _PYTHON]
    ids.update(m["accumulatorId"] for m in keep)
    return {"metrics": keep, "children": [_plan_metrics(c, ids) for c in plan.get("children", [])]}


def _trim(e: dict, ids: set) -> dict:
    """The event with only the fields perfbench/eventlog.py reads."""
    if "sparkPlanInfo" in e:
        e["sparkPlanInfo"] = _plan_metrics(e["sparkPlanInfo"], ids)
    if "physicalPlanDescription" in e:
        e["physicalPlanDescription"] = "\n".join(
            line for line in e["physicalPlanDescription"].splitlines() if "/out/" in line)
    for k in ("description", "details", "modifiedConfigs", "jobTags", "Stage Infos"):
        e.pop(k, None)
    if "Properties" in e:
        e["Properties"] = {k: v for k, v in e["Properties"].items() if k == "spark.sql.execution.id"}
    if "Stage Info" in e:
        e["Stage Info"] = {k: e["Stage Info"].get(k) for k in ("Stage ID", "Submission Time")}
    if "Task Info" in e:
        info = e["Task Info"]
        e["Task Info"] = {"Launch Time": info["Launch Time"],
                          "Accumulables": [{k: a.get(k) for k in ("ID", "Update")}
                                           for a in info.get("Accumulables", []) if a.get("ID") in ids]}
        e["Task Metrics"].pop("Updated Blocks", None)
        e["Task Metrics"]["Shuffle Read Metrics"].pop("Push Based Shuffle", None)
    return e


def main() -> None:
    work = tempfile.mkdtemp(prefix="perfbench-rec-")
    os.makedirs(f"{work}/events")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{work}/events "
        "--conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false "
        "pyspark-shell"
    )
    os.environ["PYTHONPATH"] = ROOT
    sys.path.insert(0, ROOT)
    from dug_data_ingest_spark import cli
    from dug_data_ingest_spark.plans import fixtures as FX
    from dug_data_ingest_spark.session import get_spark

    spark = get_spark("perfbench-record")
    FX.gen3_studies(spark, 20).write.parquet(f"{work}/gen3")
    FX.picsure_variables(spark, 20).write.parquet(f"{work}/pic")
    spark.createDataFrame(
        [(f"phs{i % 7:06d}", ["bdc", "heal"][i % 2], f"pht{i % 3}", f"S{i % 4}") for i in range(100)],
        "study_id string, repository string, dd_id string, section string",
    ).write.parquet(f"{work}/vars")
    runs = []
    for run_id, run, args in (
        ("bdc", cli.run_bdc, SimpleNamespace(gen3=f"{work}/gen3", picsure=f"{work}/pic", csv=False)),
        ("index", cli.run_index, SimpleNamespace(variables=f"{work}/vars", csv=False, repos=None)),
    ):
        time.sleep(0.2)
        start = time.time()
        run(spark, SimpleNamespace(**vars(args), out=f"{work}/out"))
        runs.append({"run_id": run_id, "start": start, "end": time.time()})
    spark.stop()
    log = sorted(glob.glob(f"{work}/events/*"))[0]  # the session's own log
    ids: set = set()
    with open(log) as fh, open(f"{HERE}/data/tiny_eventlog.jsonl", "w") as out:
        for line in fh:
            e = json.loads(line.replace(work, "/work").replace(ROOT, "/repo"))
            if e["Event"].endswith(KEEP):
                out.write(json.dumps(_trim(e, ids)) + "\n")
    with open(f"{HERE}/data/tiny_runs.json", "w") as fh:
        json.dump({"out": "/work/out", "runs": runs}, fh, indent=1)


if __name__ == "__main__":
    main()
