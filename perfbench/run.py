"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload harvest_batch --seed 1 --seconds 10 --trace 0

Workloads: ``harvest_batch`` and ``corpus_index`` (see workloads.py and
METRICS.md). The run generates its inputs from
``--seed``, starts a local Spark session on every core, sets up (inputs,
warm-up pass), measures for ``--seconds`` seconds, checks every output,
and prints one JSON object as the last line of stdout:

    {"correct": true, "attempted": 2, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace
1`` its per-layer metrics. A traced run starts Spark with its event log on
(launch configuration only, no program change), tags Spark jobs by span
and, where a stream runs, registers a query listener. It then stops the
Spark context, loads the inputs again and measures untraced in a new
context of the same JVM; the difference of the two passes' latencies is
the tracing overhead (each pass of a traced run measures one operation;
the untraced pass runs in a warmer JVM, so the figure is approximate).
It also prints its spans and metrics to stderr as one ``[perfbench]
trace: {...}`` line; metrics of layers the workload does not reach read 0
and are listed there as not measured.

Everything the run writes goes under ``.perfbench/run-<pid>/`` in the
checkout, which the run removes at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "harvesting_extract_to_ttl_service_spark"
# the input load is the only part of set-up that can repeat inside one
# process (the JVM starts once); its median enters setup_s
LOAD_REPEATS = 3
# a run must end within RUN_LIMIT_S; a traced run's live-service pass stops
# waiting for its tasks UNTRACED_RESERVE_S before that, leaving the time
# for the untraced pass
RUN_LIMIT_S = 180
UNTRACED_RESERVE_S = 45
# driver heap of the benchmark's deployment (the program's default is 8g):
# ample for these inputs, and it bounds the JVM's heap growth, and with it
# the run-to-run spread of peak memory (over ten corpus_index seeds it was
# 0.20 of the median with a 2g heap; latencies did not change at 1g)
DRIVER_MEM = "1g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_launch_env(work: Path, traced: bool) -> dict[str, str]:
    """Environment that keeps Spark's files inside ``work``, sets the
    driver heap and, for a traced run, turns the event log on at launch."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # -XX:-UsePerfData: no JVM monitoring file in the system /tmp
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    if traced:
        (work / "events").mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": (work / "events").as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    return {"PYSPARK_SUBMIT_ARGS": f"{args} pyspark-shell",
            "TMPDIR": str(tmp),
            "SPARK_LOCAL_DIRS": str(work / "local"),
            "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData"}


def stop_spark(spark, end_jvm: bool = True) -> None:
    """Stop the session; with ``end_jvm`` also end the JVM (it exits when
    its stdin closes) and wait for every process this run started."""
    from pyspark import SparkContext

    from rss import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if not end_jvm:
            return
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for _ in range(50):
        left = descendants(os.getpid())
        if not left:
            return
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def start_spark():
    from harvesting_extract_to_ttl_service_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    return spark, time.perf_counter() - t0


def run_pass(spark, name: str, seed: int, seconds: int, work: Path, tracer,
             traced_run: bool, jvm_warm: bool = False):
    """Set up (inputs, warm-up pass) and measure one workload. With
    ``jvm_warm`` (the JVM has already run the workload) the inputs are
    loaded once and the workload may shorten its warm-up. Both passes of
    a traced run (``traced_run``) measure a single operation of each
    kind."""
    from workloads import WORKLOADS

    wl = WORKLOADS[name](spark, seed, str(work), tracer, traced_run)
    loads = []
    for _ in range(1 if jvm_warm else LOAD_REPEATS):
        t = time.perf_counter()
        wl.load()
        loads.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.warm_up(jvm_warm)
    warm_s = time.perf_counter() - t
    log(f"{name} seed {seed}: load {statistics.median(loads):.2f} s, "
        f"warm-up {warm_s:.1f} s")
    wl.measure(time.monotonic() + seconds)
    return wl, statistics.median(loads) + warm_s


def run_workload(name: str, seed: int, seconds: int, traced: bool,
                 work: Path, deadline: float) -> dict:
    """One pass. A traced run makes the traced pass first (the event log
    was switched on at launch), derives the per-layer metrics, then stops
    the Spark context and makes an untraced pass in a new context of the
    same JVM for the tracing overhead. ``deadline`` (monotonic) is when
    the run must end."""
    from tracing import Tracer, parse_event_log

    spark, session_s = start_spark()
    try:
        tracer = Tracer(spark, tag_jobs=traced)
        wl, setup_s = run_pass(spark, name, seed, seconds, work / "pass1", tracer,
                               traced)
        layers = {}
        if traced:
            events = work / "events"
            layers = wl.layers(
                lambda: parse_event_log(str(next(events.iterdir()))),
                deadline - UNTRACED_RESERVE_S)
            layers["session.start_s"] = session_s
    finally:
        # a traced run keeps the JVM for its second pass, unless it failed
        stop_spark(spark, end_jvm=not traced or sys.exc_info()[0] is not None)
    res = {"outcome": wl.outcome, "setup_s": session_s + setup_s,
           "samples": wl.samples, "layers": layers, "spans": tracer.spans}
    if traced:
        from pyspark import SparkContext

        SparkContext._jvm.java.lang.System.setProperty(
            "spark.eventLog.enabled", "false")
        spark, _ = start_spark()
        try:
            res["untraced"], _ = run_pass(spark, name, seed, 0,
                                          work / "pass2", Tracer(), True,
                                          jvm_warm=True)
        finally:
            stop_spark(spark)
    return res


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + RUN_LIMIT_S

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        log(f"unknown workload {args.workload!r}")
        return 2
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        log(f"the program ({PACKAGE}/) is not in {ROOT}; run from a checkout")
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))

    base = ROOT / ".perfbench"
    work = base / f"run-{os.getpid()}"
    work.mkdir(parents=True)
    os.environ.update(spark_launch_env(work, bool(args.trace)))
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    from rss import PeakRss

    rss = PeakRss().start()
    try:
        res = run_workload(args.workload, args.seed, args.seconds,
                           bool(args.trace), work, deadline)
    finally:
        peak = rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            base.rmdir()  # only when no other run is using it
        except OSError:
            pass

    out, s = res["outcome"], res["samples"]
    for p in out.problems[:10]:
        log(f"check failed: {p}")
    attempted, failed = out.attempted, out.failed
    if args.trace:
        layers = dict(res["layers"])
        untraced = res["untraced"]
        layers["trace.traced_s"] = statistics.median(s.latencies)
        layers["trace.untraced_s"] = statistics.median(untraced.samples.latencies)
        layers["trace.overhead_s"] = layers["trace.traced_s"] - layers["trace.untraced_s"]
        attempted += untraced.outcome.attempted
        failed += untraced.outcome.failed
        for p in untraced.outcome.problems[:10]:
            log(f"check failed (untraced pass): {p}")
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
        missing = [m["name"] for m in spec["per_layer"] if m["name"] not in layers]
        log("trace: " + json.dumps({"metrics": metrics, "spans": res["spans"],
                                    "not_measured": missing}))
    else:
        values = {
            "setup_s": res["setup_s"],
            "peak_rss_mb": peak / (1024 * 1024),
            "success_ratio": (attempted - failed) / attempted if attempted else 0.0,
            "throughput_per_s": s.throughput(),
            "latency_p50_s": statistics.median(s.latencies) if s.latencies else 0.0,
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        log(f"{args.workload}: latencies "
            + " ".join(f"{v:.2f}" for v in s.latencies) + ", "
            + ", ".join(f"{k}={v:.4g}" for k, v in values.items()))
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
