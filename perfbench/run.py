"""End-to-end benchmark of the CLI pipelines.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of the repository. The workload's inputs are
generated from the seed into ``.perfbench/`` (before any timing), then
Spark driver processes (perfbench/worker.py) call the public
``cli.run_*`` entry point against them, as one closed-loop client.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json:
setup_s is the ``session.get_spark()`` time of the fresh driver, wall_s
its median warm run over S seconds (at least MIN_WARM runs), after the
workload's discarded warm-up runs and, while the hypervisor is busy
with other guests, more of them (worker.QUIET_STEAL).
``--trace 1`` prints the per-layer metrics: one untraced and one
traced driver (Spark event log on, set from outside the program) run
the workload, and perfbench/eventlog.py splits the traced runs;
cold_wall_s is the untraced driver's first run.

Every run's outputs are checked; the last stdout line is the JSON
result. Spans, per-run layer metrics, output digests and host facts
are kept in ``.perfbench/<workload>-s<seed>-t<trace>/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

import eventlog
import workloads as W

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_WARM = 3
TRACE_WARM = 3  # after the workload's warm-up runs
BUDGET_S = 170.0


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_facts() -> dict:
    """nproc, SPARK_GRAFT_CPUS, the pyspark version and bench.py's
    numpy calibration probe (one rep), recorded with every run."""
    import numpy as np
    import pyspark

    a = np.random.default_rng(42).random((1024, 1024))
    t0 = time.perf_counter()
    for _ in range(4):
        a = a @ a % 1.0
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "calib_numpy_sec": time.perf_counter() - t0,
    }


class Driver:
    """Starts worker processes for one benchmark run and stops them."""

    def __init__(self, workload: str, work: str, deadline: float) -> None:
        self.workload, self.work, self.deadline = workload, work, deadline

    def env(self, traced: bool) -> dict:
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
        env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        env.setdefault("SPARK_DRIVER_MEMORY", "4g")
        tmp = f"{self.work}/tmp"
        os.makedirs(tmp, exist_ok=True)
        env["TMPDIR"] = tmp
        env["SPARK_LOCAL_DIRS"] = f"{self.work}/spark-local"
        args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
        if traced:
            os.makedirs(f"{self.work}/events", exist_ok=True)
            for conf in (
                "spark.eventLog.enabled=true",
                f"spark.eventLog.dir=file://{self.work}/events",
                "spark.eventLog.compress=false",
                "spark.eventLog.rolling.enabled=false",
            ):
                args += ["--conf", conf]
        env["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
        return env

    def worker(self, name: str, *flags: str, traced: bool = False) -> dict:
        result = f"{self.work}/{name}.json"
        cmd = [sys.executable, f"{HERE}/worker.py", "--workload", self.workload,
               "--work", self.work, "--result", result, *flags]
        if traced:
            cmd.append("--traced")
        with open(f"{self.work}/{name}.log", "w") as logf:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=self.env(traced), stdout=logf,
                                    stderr=subprocess.STDOUT, start_new_session=True)
            try:
                rc = proc.wait(timeout=max(1.0, self.deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                _stop_group(proc)
        if rc != 0 or not os.path.exists(result):
            with open(f"{self.work}/{name}.log") as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise RuntimeError(f"worker {name} failed (exit {rc})")
        with open(result) as fh:
            return json.load(fh)


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group (the worker and
    its driver JVM, when a timeout or a signal cut the run short) and
    wait until the group is gone."""
    while True:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            break
        proc.poll()  # reap the worker itself
        time.sleep(0.02)
    proc.wait()


def _measured(runs: list[dict]) -> list[dict]:
    """The measured warm runs: not the cold run, not the warm-ups."""
    return [r for r in runs if re.fullmatch(r"warm\d+", r["run_id"])]


def _warm(runs: list[dict]) -> list[float]:
    return [r["wall"] for r in _measured(runs)]


def _failed(runs: list[dict]) -> int:
    return sum(bool(r["error"] or r["problems"]) for r in runs)


def end_to_end(drv: Driver, inp: W.Inputs, warmup: int, seconds: int) -> tuple[dict, list[dict]]:
    res = drv.worker("timed", "--warmup", str(warmup), "--wait-quiet", "--seconds", str(seconds),
                     "--warm", str(MIN_WARM))
    runs = res["runs"]
    wall = statistics.median(_warm(runs))
    log(f"setup {res['setup_s']:.3f} s, cold {runs[0]['wall']:.3f} s, (wall, steal) of "
        f"{[(r['run_id'], round(r['wall'], 3), round(r['steal'], 3)) for r in runs[1:]]}")
    return {"wall_s": wall, "rows_per_s": inp.rows / wall, "setup_s": res["setup_s"]}, runs


def per_layer(drv: Driver, inp: W.Inputs, listed: list[dict], warmup: int) -> tuple[dict, list[dict], dict]:
    flags = ("--warmup", str(warmup), "--warm", str(TRACE_WARM))
    plain = drv.worker("plain", *flags)
    traced = drv.worker("traced", *flags, traced=True)
    (log_path,) = glob.glob(f"{drv.work}/events/*")
    split = eventlog.extract(eventlog.read_events(log_path), traced["runs"], traced["out"],
                             traced["cores"], inp.rows)
    warm = [split[r["run_id"]]["metrics"] for r in _measured(traced["runs"])]
    layers = {k: statistics.median(m.get(k, 0.0) for m in warm) for k in set().union(*warm)}
    for m in listed:  # a workload's absent sinks and Python layer read 0
        if m["name"].startswith(("sink.", "python.")):
            layers.setdefault(m["name"], 0.0)
    runs = plain["runs"] + traced["runs"]
    layers.update({
        "cold_wall_s": plain["runs"][0]["wall"],
        "session.start_s": traced["setup_s"],
        "plans.construct_s": traced["construct_s"],
        "catalyst.plan_s": traced["plan_s"],
        "driver.jvm_peak_rss_mb": traced["jvm_peak_rss_mb"],
        "trace.overhead_s": statistics.median(_warm(traced["runs"]))
        - statistics.median(_warm(plain["runs"])),
        "failed_ratio": _failed(runs) / len(runs),
    })
    spans = traced["spans"]
    by_run = {s["run_id"]: s["id"] for s in spans if s["name"] == "run"}
    for run_id, part in split.items():
        for s in part["spans"]:
            spans.append({**s, "id": len(spans), "parent": by_run[run_id]})
    return layers, runs, {"spans": spans, "runs": split}


def report(metrics: dict, listed: list[dict]) -> dict:
    """Metrics with their BENCHMARK.json units; the computed names and
    the listed ones must match exactly."""
    units = {m["name"]: m["unit"] for m in listed}
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))} not matched in BENCHMARK.json")
    return {k: {"value": metrics[k], "unit": units[k]} for k in sorted(units)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a TERM (e.g. a timeout) unwinds through Driver.worker, which stops the worker group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(f"{ROOT}/dug_data_ingest_spark/cli.py"):
        log(f"no dug_data_ingest_spark package under {ROOT}: nothing to benchmark")
        return 2
    sys.path.insert(0, ROOT)
    with open(f"{ROOT}/BENCHMARK.json") as fh:
        bench = json.load(fh)
    deadline = time.monotonic() + BUDGET_S

    work = f"{ROOT}/.perfbench/{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/inputs")
    facts = host_facts()
    log(f"host {facts}")
    t0 = time.perf_counter()
    wl = W.WORKLOADS[a.workload]
    inp = wl.generate(a.seed, f"{work}/inputs")
    W.save_inputs(inp, f"{work}/inputs.json")
    log(f"generated {a.workload} seed {a.seed}: {inp.rows} input rows in {time.perf_counter() - t0:.2f} s")

    drv = Driver(a.workload, work, deadline)
    try:
        if a.trace:
            listed = bench["per_layer"]
            metrics, runs, trace = per_layer(drv, inp, listed, wl.warmup)
        else:
            metrics, runs = end_to_end(drv, inp, wl.warmup, a.seconds)
            trace, listed = {}, bench["end_to_end"]
    finally:
        for d in ("inputs", "out", "events", "spark-local", "tmp"):
            shutil.rmtree(f"{work}/{d}", ignore_errors=True)
    failed = _failed(runs)
    with open(f"{work}/record.json", "w") as fh:
        json.dump({"host": facts, "metrics": metrics, "trace": trace,
                   "runs": [{k: r.get(k) for k in ("run_id", "wall", "steal", "cpu", "problems", "error", "digests", "bytes")}
                            for r in runs]}, fh, indent=1)
    for r in runs:
        log(f"{r['run_id']}: {r['wall']:.3f} s, digests {r['digests']}")
    print(json.dumps({"correct": failed == 0, "attempted": len(runs), "failed": failed,
                      "metrics": report(metrics, listed)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
