"""The event-log extractor on a tiny recorded log (record_eventlog.py):
one `cli bdc` run and one `cli index` run in the same session."""

import json
import os

import pytest

import eventlog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="module")
def split():
    with open(f"{DATA}/tiny_runs.json") as fh:
        rec = json.load(fh)
    events = eventlog.read_events(f"{DATA}/tiny_eventlog.jsonl")
    out = eventlog.extract(events, rec["runs"], rec["out"], cores=4, input_rows=100)
    return rec, events, out


def test_counts_are_split_by_run(split):
    rec, events, out = split
    starts = [e["Submission Time"] / 1e3 for e in events if e["Event"] == "SparkListenerJobStart"]
    for run in rec["runs"]:
        n = sum(run["start"] - 0.002 <= t <= run["end"] + 0.002 for t in starts)
        assert out[run["run_id"]]["metrics"]["spark.jobs"] == n > 0
    tasks = sum(e["Event"] == "SparkListenerTaskEnd" for e in events)
    assert sum(o["metrics"]["spark.tasks"] for o in out.values()) < tasks  # set-up writes excluded


def test_sinks_and_gap_add_up_to_the_wall(split):
    rec, _, out = split
    for run in rec["runs"]:
        m = out[run["run_id"]]["metrics"]
        sinks = sum(v for k, v in m.items() if k.startswith("sink.") and k.endswith("_s"))
        assert sinks + m["driver.gap_s"] == pytest.approx(run["end"] - run["start"])
        assert 0 <= m["driver.gap_s"] < run["end"] - run["start"]


def test_sinks_are_named_by_output_path(split):
    _, _, out = split
    bdc = {s["name"] for s in out["bdc"]["spans"]}
    assert bdc == {"sink.dbgap_xml", "sink.processing_summary", "sink.quarantine", "sink.stdout"}
    # the repository collect writes nothing: it is charged to the sink it feeds
    assert [s["name"] for s in out["index"]["spans"]] == ["sink.dbgap_xml_index"]


def test_python_worker_layer(split):
    _, _, out = split
    bdc, index = out["bdc"]["metrics"], out["index"]["metrics"]
    assert bdc["python.run_s"] > 0 and bdc["python.bytes_sent"] > 0
    assert index.get("python.run_s", 0) == 0 and index.get("python.bytes_sent", 0) == 0


def test_exec_layer(split):
    _, _, out = split
    m = out["index"]["metrics"]
    assert m["scan.input_bytes"] > 0 and m["scan.reads_per_input_row"] >= 1
    assert m["exec.task_s"] >= m["exec.gc_s"] >= 0
    assert 0 < m["exec.core_util"] <= 1
    assert m["shuffle.write_bytes"] > 0 and m["spill.bytes"] == 0
