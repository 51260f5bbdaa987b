"""One Spark driver process of the benchmark.

    python3 perfbench/worker.py --workload W --work DIR --result FILE
        [--warmup K] [--wait-quiet] [--seconds S] [--warm N] [--traced]

The worker times ``session.get_spark()`` in this fresh process, runs
the workload's ``cli.run_<command>`` once cold, K times to warm up (JIT
compilation goes on for several runs) and, with ``--wait-quiet``, on
until a run finds the host quiet (QUIET_STEAL, at most QUIET_WAIT_S),
then warm in a closed loop (one client: run, wait, run again) for S
seconds and at least N runs, and checks the outputs of every run.
``--traced`` adds the Python-side construction and Catalyst planning
probes and the driver JVM's peak RSS; the event log itself is switched
on by the caller through PYSPARK_SUBMIT_ARGS.

Spans (name, start, end, parent, run id) are kept in memory and
written with the result when the worker ends. Run it from the root of
the repository with the repository on PYTHONPATH.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import workloads as W


QUIET_STEAL = 0.03  # the host is quiet while the hypervisor takes at most 3% of the CPU time
QUIET_WAIT_S = 25.0  # how much longer warm-up may go on for a quiet host


def cpu_times() -> tuple[int, int, int]:
    """(all, stolen, busy) CPU ticks of this machine so far, from
    /proc/stat; zeros where there is none. Steal is time the hypervisor
    gave another guest while this one had work to run: the host, not the
    program. Busy is user + system time of every process here."""
    try:
        with open("/proc/stat") as fh:
            t = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0, 0
    return sum(t), t[7], t[0] + t[1] + t[2] + t[5] + t[6]


def steal_share(t0: tuple, t1: tuple) -> float:
    return (t1[1] - t0[1]) / max(1, t1[0] - t0[0])


def busy_s(t0: tuple, t1: tuple) -> float:
    return (t1[2] - t0[2]) / os.sysconf("SC_CLK_TCK")


class Spans:
    """In-memory span recorder; ``add`` returns the span id."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, parent=None, run_id=None) -> int:
        self.items.append(
            {"id": len(self.items), "name": name, "start": start, "end": end,
             "parent": parent, "run_id": run_id}
        )
        return len(self.items) - 1


def _start_session(spans: Spans):
    from dug_data_ingest_spark.session import get_spark

    t0, w0 = time.perf_counter(), time.time()
    spark = get_spark("perfbench")
    spans.add("session.start", w0, w0 + time.perf_counter() - t0)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _one_run(spark, wl: W.Workload, inp: W.Inputs, out: str, run_id: str, spans: Spans) -> dict:
    from dug_data_ingest_spark import cli

    run = getattr(cli, f"run_{wl.command}")
    rec = {"run_id": run_id, "problems": [], "digests": {}, "docs": 0, "error": None}
    w0, t0, c0 = time.time(), time.perf_counter(), cpu_times()
    try:
        run(spark, wl.args(inp, out))
    except Exception:  # a failed run is counted, not fatal to the benchmark
        rec["error"] = traceback.format_exc()
        print(rec["error"], file=sys.stderr)
    rec["wall"] = time.perf_counter() - t0
    c1 = cpu_times()
    rec["steal"], rec["cpu"] = steal_share(c0, c1), busy_s(c0, c1)
    rec["start"], rec["end"] = w0, w0 + rec["wall"]
    root = spans.add("run", rec["start"], rec["end"], run_id=run_id)
    spans.add(f"cli.run_{wl.command}", rec["start"], rec["end"], parent=root, run_id=run_id)
    if rec["error"] is None:
        c0 = time.time()
        try:
            rec["problems"], rec["digests"], rec["docs"] = wl.check(out, inp)
            rec["bytes"] = W.output_bytes(out)
        except (OSError, ValueError, KeyError) as exc:  # unreadable output
            rec["problems"] = [f"output unreadable: {exc!r}"]
        spans.add("check", c0, time.time(), parent=root, run_id=run_id)
        for p in rec["problems"]:
            print(f"[perfbench] {run_id}: CHECK FAILED: {p}", file=sys.stderr)
    return rec


def _phase_ms(df) -> float:
    """Analysis + optimizer + planning time of one output frame, from
    its QueryExecution tracker (planning is forced here)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


def _construct(spark, wl: W.Workload, inp: W.Inputs) -> tuple[float, float]:
    """(construction seconds, planning seconds) of the workload's plan
    function: plans.bdc.bdc_pipeline, plans.heal.heal_pipeline,
    plans.lakefs_index.variable_index_report or, for dedup,
    ext.dedup.ngram_jaccard_pairs_prefix."""
    from dug_data_ingest_spark import cli
    from dug_data_ingest_spark.plans import fixtures as FX

    p = inp.paths
    if wl.command == "bdc":
        from dug_data_ingest_spark.plans.bdc import bdc_pipeline

        a = (cli._read(spark, p["gen3"], True, FX.GEN3_SCHEMA),
             cli._read(spark, p["picsure"], True, FX.PICSURE_SCHEMA))
        build = lambda: list(bdc_pipeline(*a).values())  # noqa: E731
    elif wl.command == "heal":
        from dug_data_ingest_spark.plans.heal import heal_pipeline

        a = [spark.read.parquet(p[k]) for k in ("studies", "fields", "mapping")]
        build = lambda: list(heal_pipeline(*a).values())  # noqa: E731
    elif wl.command == "index":
        from dug_data_ingest_spark.plans.lakefs_index import variable_index_report

        v = spark.read.parquet(p["variables"])
        repos = [r[0] for r in v.select("repository").distinct().orderBy("repository").collect()]
        build = lambda: [variable_index_report(v, repos)]  # noqa: E731
    else:
        from dug_data_ingest_spark.ext.dedup import ngram_jaccard_pairs_prefix

        d = spark.read.parquet(p["documents"])
        build = lambda: [ngram_jaccard_pairs_prefix(d, threshold=wl.flags["threshold"])]  # noqa: E731
    cons, plan = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        frames = build()
        cons.append(time.perf_counter() - t0)
        plan.append(sum(_phase_ms(f) for f in frames) / 1000.0)
    return statistics.median(cons), statistics.median(plan)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop(spark) -> None:
    """spark.stop(), then end the driver JVM this process launched and
    reap it, instead of leaving it to wind down after we exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        jvm.kill()
        jvm.wait()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--seconds", type=float, default=0.0)
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument("--warm", type=int, default=3)
    ap.add_argument("--wait-quiet", action="store_true")
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()

    spans = Spans()
    spark, setup_s = _start_session(spans)
    res: dict = {"setup_s": setup_s, "cores": spark.sparkContext.defaultParallelism}
    try:
        wl = W.WORKLOADS[a.workload]
        inp = W.load_inputs(f"{a.work}/inputs.json")
        out = os.path.abspath(f"{a.work}/out")
        runs = [_one_run(spark, wl, inp, out, "cold", spans)]
        runs += [_one_run(spark, wl, inp, out, f"warmup{i + 1}", spans) for i in range(a.warmup)]
        # a hypervisor busy with other guests slows every run for a minute or more
        # (walls up to 1.7x): warm up on until a run finds the host quiet
        t0 = time.perf_counter()
        while (a.wait_quiet and runs[-1]["steal"] > QUIET_STEAL
               and time.perf_counter() - t0 < QUIET_WAIT_S):
            runs.append(_one_run(spark, wl, inp, out, f"warmup{len(runs)}", spans))
        deadline, warm = time.perf_counter() + a.seconds, 0
        while warm < a.warm or time.perf_counter() < deadline:
            warm += 1
            runs.append(_one_run(spark, wl, inp, out, f"warm{warm}", spans))
        res["runs"] = runs
        res["out"] = out
        if a.traced:
            w0 = time.time()
            res["construct_s"], res["plan_s"] = _construct(spark, wl, inp)
            spans.add("plans.construct+catalyst.plan", w0, time.time())
            res["jvm_peak_rss_mb"] = _jvm_peak_rss_mb(spark)
    finally:
        _stop(spark)
    res["spans"] = spans.items
    with open(a.result, "w") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    main()
