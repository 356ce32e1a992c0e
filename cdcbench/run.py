"""Layered benchmark of the transcript CDC engine.

Usage (from the repository root)::

    python3 cdcbench/run.py --workload backfill --seed 1 --seconds 6 --trace 0

Builds the workload's inputs from ``--seed``, sets the engine up until its
timed phases are steady, measures for ``--seconds`` and checks every result
against the oracle. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``; with ``--trace 1`` the per-layer metrics, folded from
Spark's event log onto the spans the benchmark opens around each engine
call, plus the tracing overhead against untraced windows of the same run.

Everything a run writes lives under ``.cdcbench_work/`` in the working
directory and is removed on exit, on SIGTERM too.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from cdcbench import host  # noqa: E402


#: The driver JVM keeps its default tiered JIT (C1, then C2) and starts at
#: its full heap, so that a growing heap adds no GC-sizing noise. Reaching
#: C2's steady state is what the set-up rounds are for. Without
#: ``-XX:-UsePerfData`` the driver JVM, and the launcher JVM that
#: spark-submit starts first, would write their counters under /tmp, outside
#: the run's work directory.
JVM_OPTS = "-Xms2g -XX:-UsePerfData"


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T0:6.1f} s] {msg}", flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: str, trace: bool):
    from mas_scada_bulkingest_spark.streaming.driver import build_session

    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    cores = os.cpu_count() or 4
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"{JVM_OPTS} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    spark = build_session(app_name="cdcbench", cores=cores, shuffle_partitions=cores,
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and any Python workers) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    if os.environ.get("PYTHONHASHSEED") != "0":
        # one hash seed for every run, so set and dict orders in the engine's
        # driver code do not differ from process to process
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]])
    args = parse_args(argv)
    spec = load_spec()
    from cdcbench.workloads import WINDOW_METRICS, WORKLOADS, end_to_end

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work_root = os.path.join(os.getcwd(), ".cdcbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None

    def on_term(signum, _frame):
        # No Spark call here: the signal may have cut a Py4J exchange short.
        # Stop every descendant (the JVM and its Python workers), then
        # remove what this run wrote.
        host.reap_children(grace_s=30)
        shutil.rmtree(work, ignore_errors=True)
        _remove_if_empty(work_root)
        os._exit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    spark = None
    result = None
    try:
        from cdcbench import selftest

        selftest.run_all(os.path.join(work, "selftest"))
        ctx0 = host.snapshot()
        import mas_scada_bulkingest_spark  # noqa: F401  (fail fast when the engine is missing)

        from cdcbench.trace import Tracer

        wl = WORKLOADS[args.workload](os.path.join(work, "wl"), args.seed, log)
        os.makedirs(wl.work)
        with ThreadPoolExecutor(max_workers=1) as pool:
            # the inputs are built while the JVM starts; neither needs the other
            inputs_ready = pool.submit(wl.prepare)
            t0 = time.perf_counter()
            spark = start_session(work, bool(args.trace))
            session_s = time.perf_counter() - t0
            inputs_ready.result()
        for line in host.describe(spark, ROOT):
            log(line)
        log(f"session start: {session_s:.3f} s")
        wl.attach(spark, Tracer(spark.sparkContext))
        tracer = wl.tracer
        wl.set_up()
        baseline = None
        if args.trace:
            # Untraced windows before and after the traced one, in the same
            # process: the mean of the two is the trace.overhead baseline, so
            # a linear warm-up drift cancels. The event log is written in all
            # three windows, so its own cost is not in that figure. The
            # three share the measured seconds, each one round or more.
            wl.min_rounds = 1
            wl.measure(args.seconds / 3, traced=False)
            before = end_to_end(wl)
            wl.measure(args.seconds / 3, traced=True)
            traced = wl.series, wl.window_ms
            wl.measure(args.seconds / 3, traced=False)
            after = end_to_end(wl)
            wl.series, wl.window_ms = traced
            baseline = {k: (before[k] + after[k]) / 2 for k in WINDOW_METRICS}
            log(f"untraced windows: {before} / {after}")
        else:
            wl.measure(args.seconds, traced=False)
        wl.finish()
        log("results gated")
        rss_mb = host.peak_rss_mb()
        log(f"peak RSS of driver + JVM: {rss_mb:.1f} MB")
        e2e = end_to_end(wl)
        for k, v in e2e.items():
            if not math.isfinite(v):
                wl.fail(f"no samples for {k}")
                e2e[k] = 0.0
        ctx1 = host.snapshot()
        log(f"steal fraction over the run: {host.steal_frac(ctx0, ctx1):.4f}")
        report(wl, e2e)
        stop_session(spark)
        spark = None
        if args.trace:
            from cdcbench import layers

            higher = {m["name"] for m in spec["end_to_end"] if m["better"] == "higher"}
            metrics = layers.per_layer(wl, tracer, os.path.join(work, "events"), e2e, baseline,
                                       host.steal_frac(ctx0, ctx1), higher)
        else:
            metrics = e2e
        want = spec["per_layer" if args.trace else "end_to_end"]
        units = {m["name"]: m["unit"] for m in want}
        if set(metrics) != set(units):
            raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))} do not match BENCHMARK.json")
        result = {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        if spark is not None:
            try:
                stop_session(spark)
            except Exception as e:  # keep cleaning up; the run already failed
                log(f"stopping Spark raised {e!r}")
        host.reap_children()
        shutil.rmtree(work, ignore_errors=True)
        _remove_if_empty(work_root)
    print(json.dumps(result), flush=True)
    return 0


def _remove_if_empty(path: str) -> None:
    try:
        os.rmdir(path)
    except OSError:
        pass


def report(wl, e2e: dict) -> None:
    """Every timed phase's per-pass series, set-up and measured, so that a
    warm-up trend cannot hide inside a median."""
    log(f"setup rounds (s): {[round(x, 3) for x in wl.setup_series]}")
    for label, series in (("setup", wl.setup_samples), ("series", wl.series)):
        for phase, xs in sorted(series.items()):
            log(f"{label} {phase} (n={len(xs)}): {[round(x, 4) for x in xs]}")
    for k, v in e2e.items():
        log(f"{k} = {v:.6g}")
    for f in wl.failures:
        log(f"failure: {f}")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
