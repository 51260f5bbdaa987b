"""Every metric the benchmark prints is listed in BENCHMARK.json, with
the unit printed beside it, and BENCHMARK.json keeps to its format."""

import json
import os
import re
import shutil

import pytest

import run
import workloads as W

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
with open(f"{HERE}/data/tiny_runs.json") as fh:
    TINY = json.load(fh)


class FakeDriver:
    """Stands in for run.Driver: canned worker results, and for the
    traced worker the tiny recorded event log."""

    def __init__(self, work: str) -> None:
        self.work = work

    def worker(self, name, *flags, traced=False):
        runs = [{"run_id": r, "start": 10.0 * i, "end": 10.0 * i + 2.0, "wall": 2.0,
                 "error": None, "problems": [], "docs": 0, "bytes": {},
                 "steal": 0.0, "cpu": 1.0}
                for i, r in enumerate(["cold", "warm1", "warm2"])]
        res = {"setup_s": 4.0, "cores": 4, "runs": runs, "spans": [], "out": TINY["out"]}
        if traced:
            os.makedirs(f"{self.work}/events")
            shutil.copy(f"{HERE}/data/tiny_eventlog.jsonl", f"{self.work}/events/log")
            # the recorded bdc run stands for the cold run, index for a warm one
            ids = ["cold", "warm1"]
            res.update(runs=[{**r, "run_id": i, "wall": r["end"] - r["start"], "error": None,
                              "problems": [], "docs": 5, "bytes": {"dbgap_xml": 10}}
                             for i, r in zip(ids, TINY["runs"])],
                       spans=[{"id": n, "name": "run", "run_id": i} for n, i in enumerate(ids)],
                       construct_s=0.2, plan_s=0.1, jvm_peak_rss_mb=900.0)
        return res


def test_end_to_end_names_match(tmp_path):
    metrics, runs = run.end_to_end(FakeDriver(str(tmp_path)), W.Inputs({}, 1000), 1, 8)
    printed = run.report(metrics, BENCH["end_to_end"])
    assert set(printed) == {m["name"] for m in BENCH["end_to_end"]}
    assert printed["setup_s"]["unit"] == "s" and len(runs) == 3


def test_per_layer_names_match(tmp_path):
    metrics, _, trace = run.per_layer(FakeDriver(str(tmp_path)), W.Inputs({}, 100), BENCH["per_layer"], 1)
    printed = run.report(metrics, BENCH["per_layer"])
    assert set(printed) == {m["name"] for m in BENCH["per_layer"]}
    assert {s["name"] for s in trace["spans"]} >= {"run", "sink.dbgap_xml_index"}


def test_an_unlisted_metric_is_refused():
    with pytest.raises(RuntimeError):
        run.report({"wall_s": 1.0, "extra": 2.0}, BENCH["end_to_end"])


def test_benchmark_json_format():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in BENCH[k]]
    assert all(name.match(n) for n in names) and len(names) == len(set(names))
    assert {w["name"] for w in BENCH["workloads"]} <= set(W.WORKLOADS)
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert unit.match(m["unit"]) and m["better"] in ("higher", "lower")
    assert all(0 < m["bound"] <= 0.25 for m in BENCH["end_to_end"])
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])
