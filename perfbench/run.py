"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload curation --seed 1 --seconds 1 --trace 0

Prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones from an event-logged, span-traced session. See
``perfbench/README.md`` for every metric's meaning.

Everything the run writes goes under ``.bench_work/`` in the working
directory: the generated fixture, the oracle cache, Spark's scratch and
event-log directories and the ingest state stores.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")

SCALE = 0.01  # fixture scale factor: 10k events, 500 documents and embeddings
FIXTURE_SEED = 42
CPUS = len(os.sched_getaffinity(0))
SETUPS = 2  # fresh sessions per untraced run; setup_s is their median
DEADLINE_S = 170
WORKLOAD_NAMES = ("curation", "ingest")


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def _env() -> None:
    """Keep Spark, the JVM and Python workers inside the working tree."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(WORK, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(WORK, "warehouse"),
        "SPARK_DRIVER_MEMORY": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM, the launcher included: no hsperfdata file in /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })


def _confs(event_log_dir: str | None) -> dict[str, str]:
    c = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    }
    if event_log_dir:
        c.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return c


def start_session(event_log_dir: str | None = None):
    """Launch a JVM and a session on it. Returns (spark, the
    ``perf_counter`` reading taken just before the launch)."""
    from pystreams_spark.session import get_spark

    os.environ["SPARK_GRAFT_EXTRA_CONFS"] = ";".join(
        f"{k}={v}" for k, v in _confs(event_log_dir).items()
    )
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t0


def stop_session(spark) -> None:
    """Stop the context and the JVM behind it, and wait for the JVM to
    exit, so the next session starts from a fresh process."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup(workload, event_log_dir: str | None = None):
    """A fresh session up to the workload's first complete result.
    Returns (spark, seconds from launch to that result)."""
    spark, t0 = start_session(event_log_dir)
    try:
        workload.first_op(spark)
    except BaseException:
        stop_session(spark)
        raise
    return spark, time.perf_counter() - t0


def make_workload(name: str, seed: int, trace: bool):
    """``curation`` queries the seed-42 fixture; ``ingest`` feeds the
    stream generated from ``seed``. The driver-side modules are imported
    here, so every set-up starts from the same warm interpreter."""
    import workloads as wl

    if name == "ingest":
        import pystreams_spark.streaming.neardup_ingest  # noqa: F401
        import pystreams_spark.streaming.novelty_ingest  # noqa: F401
        from docstream import make_stream

        stream = make_stream(seed, wl.N_BATCHES, wl.BATCH_DOCS, wl.COPIES_PER_BATCH)
        return wl.IngestWorkload(stream, os.path.join(WORK, "state"), measure_state=trace)
    import pystreams_spark.queries  # noqa: F401
    from fixtures import TABLES, ensure_fixture
    from oracle import Oracle

    fixture_dir = ensure_fixture(
        os.path.join(WORK, f"fixture-sf{SCALE}-seed{FIXTURE_SEED}"), SCALE, FIXTURE_SEED
    )
    oracle = Oracle(fixture_dir, os.path.join(WORK, "oracle"), TABLES)
    return wl.QueryWorkload(wl.CURATION, fixture_dir, oracle)


def measure(workload, spark, seconds: float, seed: int, tag: str):
    """Closed loop, one operation at a time: whole passes until
    ``seconds`` have elapsed, each in an order drawn from ``seed``.
    Returns the samples and each pass's wall time."""
    import numpy as np

    samples, walls = [], []
    orders = workload.orders(np.random.default_rng(seed))
    start = time.perf_counter()
    while not walls or time.perf_counter() - start < seconds:
        order = next(orders)
        gc.collect()  # release checkpointed intermediates of the last pass
        t0 = time.perf_counter()
        samples += workload.run_pass(spark, len(walls) + 1, order, tag)
        walls.append(time.perf_counter() - t0)
    return samples, walls


def run_plain(args):
    """``SETUPS`` fresh sessions; the last one runs the window, whose
    results are checked after it ends."""
    from statistics import median

    from measure import PeakRss

    workload = make_workload(args.workload, args.seed, trace=False)
    setups = []
    for _ in range(SETUPS - 1):
        spark, s = setup(workload)
        stop_session(spark)
        setups.append(s)
    spark, s = setup(workload)
    setups.append(s)
    try:
        with PeakRss() as rss:
            samples, walls = measure(workload, spark, args.seconds, args.seed, "m")
        checks = workload.check(spark)
    finally:
        stop_session(spark)
    metrics = {
        "setup_s": (median(setups), "s"),
        "wall_s": (median(walls), "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    detail = {"setups_s": setups, "pass_walls_s": walls,
              "ops": [(s.op, round(s.build_s, 3), round(s.run_s, 3)) for s in samples]}
    return metrics, detail, checks, samples


def run_traced(args):
    """The untraced window (the reference, then checked), then the same
    window in a fresh event-logged session with the spans installed."""
    from statistics import median

    import layers
    from spans import Tracer

    workload = make_workload(args.workload, args.seed, trace=True)
    spark, _ = setup(workload)
    try:
        _, plain_walls = measure(workload, spark, args.seconds, args.seed, "m")
        checks = workload.check(spark)
    finally:
        stop_session(spark)
    workload.state_mb.clear()
    log_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    spark, start_s = setup(workload, event_log_dir=log_dir)
    tracer = Tracer(spark.sparkContext)
    try:
        tracer.install()
        try:
            samples, walls = measure(workload, spark, args.seconds, args.seed, "m")
        finally:
            tracer.uninstall()
    finally:
        stop_session(spark)
    tracer.dump(os.path.join(WORK, "spans.json"))
    (log_path,) = glob.glob(os.path.join(log_dir, "*"))
    metrics = layers.per_layer(samples, walls, tracer, log_path,
                               CPUS, workload.state_mb, start_s)
    metrics["trace.wall_s"] = (median(walls), "s")
    metrics["trace.untraced_wall_s"] = (median(plain_walls), "s")
    metrics["trace.overhead_s"] = (median(walls) - median(plain_walls), "s")
    detail = {"spans": len(tracer.spans),
              "ops": [(s.op, round(s.build_s, 3), round(s.run_s, 3)) for s in samples]}
    return metrics, detail, checks, samples


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pystreams_spark", "queries.py")):
        print("perfbench: no pystreams_spark package in the working directory; "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    _env()

    run = run_traced if args.trace else run_plain
    metrics, detail, checks, samples = run(args)
    signal.alarm(0)

    attempted = checks.attempted + len(samples)
    failed = checks.failed + sum(not s.ok for s in samples)
    detail.update({"workload": args.workload, "seed": args.seed,
                   "checks": checks.attempted, "check_failures": checks.failed,
                   "error_rate": failed / attempted})
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
