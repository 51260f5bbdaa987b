"""Each workload's output check passes on the CLI's real outputs (tiny
inputs) and fails when one row of any output is dropped or duplicated."""

import csv
import glob
import os
import shutil

import pytest

import workloads as W

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TINY = {"BDC_STUDIES": 40, "HEAL_STUDIES": 40, "HEAL_FANOUT": 3, "INDEX_STUDIES": 50,
        "INDEX_ROWS": 3000, "DEDUP_DOCS": 300, "DEDUP_COPIES": 10}
OUTPUTS = {
    "bdc": ["dbgap_xml", "processing_summary", "quarantine"],
    "heal-wide": ["dbgap_xml", "variable_index", "stray_dds", "kgx/nodes", "kgx/edges"],
    "index": ["dbgap_xml_index"],
    "dedup": ["survivors", "dedup_report"],
}


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from dug_data_ingest_spark.session import get_spark

    s = get_spark("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module", params=sorted(OUTPUTS))
def outputs(request, spark, tmp_path_factory):
    from dug_data_ingest_spark import cli

    mp = pytest.MonkeyPatch()
    for k, v in TINY.items():
        mp.setattr(W, k, v)
    try:
        wl = W.WORKLOADS[request.param]
        d = tmp_path_factory.mktemp(request.param)
        os.makedirs(d / "inputs")
        inp = W.WORKLOADS[request.param].generate(5, str(d / "inputs"))
        getattr(cli, f"run_{wl.command}")(spark, wl.args(inp, str(d / "out")))
    finally:
        mp.undo()
    return wl, inp, str(d / "out")


def _mutate(path: str, how: str) -> None:
    """Drop (how='drop') or duplicate ('dup') the first row of the first
    non-empty data file under ``path``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for f in sorted(glob.glob(f"{path}/part-*")):
        if f.endswith(".parquet"):
            t = pq.read_table(f)
            if t.num_rows:
                t = t.slice(1) if how == "drop" else pa.concat_tables([t, t.slice(0, 1)])
                pq.write_table(t, f)
                return
        else:
            with open(f, newline="") as fh:
                rows = list(csv.reader(fh)) if f.endswith(".csv") else fh.read().splitlines()
            head, body = (rows[:1], rows[1:]) if f.endswith(".csv") else ([], rows)
            if body:
                body = body[1:] if how == "drop" else body + body[:1]
                with open(f, "w", newline="") as fh:
                    if f.endswith(".csv"):
                        csv.writer(fh).writerows(head + body)
                    else:
                        fh.write("\n".join(body) + "\n")
                return
    raise AssertionError(f"no data row under {path}")


def test_check_passes_on_cli_outputs(outputs):
    wl, inp, out = outputs
    problems, digests, _ = wl.check(out, inp)
    assert problems == []
    assert set(digests) == {o.split("/")[0] for o in OUTPUTS[wl.name]}


@pytest.mark.parametrize("how", ["drop", "dup"])
def test_check_fails_on_one_row_dropped_or_duplicated(outputs, how, tmp_path):
    wl, inp, out = outputs
    for name in OUTPUTS[wl.name]:
        copy = str(tmp_path / f"{how}-{name.replace('/', '-')}")
        shutil.copytree(out, copy)
        _mutate(f"{copy}/{name}", how)
        problems, _, _ = wl.check(copy, inp)
        assert problems, f"{wl.name}: {how} of one {name} row went unnoticed"


def test_digest_ignores_order_but_not_multiplicity():
    rows = [{"a": 1}, {"a": 2}]
    assert W.digest(rows) == W.digest(rows[::-1])
    assert W.digest(rows) != W.digest(rows + rows[:1])
