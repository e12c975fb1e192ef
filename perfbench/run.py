"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload survey_report --seed 1 \\
        --seconds 1 --trace 0

Run from the root of a checkout: the package is imported from there and
every file the run writes goes under ``.bench_work/`` in it.  One Spark
session on ``local[4]`` serves the whole run.  Set-up generates the
inputs from ``--seed``; then whole passes over the workload's ops run
until ``--seconds`` have passed (at least one pass), and the outputs are
checked after the timed region.

stdout carries one ``name value unit`` line per metric and, last, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones, measured with tracing
off; with ``--trace 1`` they are the per-layer ones (including the
traced run's own end-to-end numbers, ``traced.*``), and the spans are
written to ``.bench_work/trace-<workload>-<seed>.json``.  The exit code
is 0 only when every op ran and every output check passed.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("survey_report", "store_maintenance")
PREPARE_REPEATS = 3


def _isolate(work: str) -> dict[str, str]:
    """Keep every temporary file of the run (Python, JVM and Spark's
    local dirs) under *work*, and let Python workers import the package
    and the benchmark from the checkout.  Returns the session settings:
    besides the JVM temp dir, no console progress bar on stdout and no
    web UI (the status store that tracing reads works without it)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    tempfile.tempdir = None
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {"spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}


def _emit(correct: bool, attempted: int, failed: int,
          metrics: dict[str, tuple[float, str]]) -> None:
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}), flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    confs = _isolate(work)
    try:
        return _run(args, work, confs)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, confs: dict[str, str]) -> int:
    try:
        from automated_review_analysis_pipeline_spark.session import get_spark
        from perfbench import metrics as bm
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS as CLASSES, CheckFailures
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import_s = time.perf_counter() - PROCESS_START

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", master="local[4]",
                      extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    try:
        workload = CLASSES[args.workload](spark, work, args.seed)
        prepare = []
        for _ in range(PREPARE_REPEATS):
            t = time.perf_counter()
            workload.prepare()
            prepare.append(time.perf_counter() - t)
        setup = {"session.import_s": import_s, "session.start_s": session_s,
                 "session.prepare_s": statistics.median(prepare)}

        tracer = Tracer(spark, enabled=bool(args.trace))
        checks = CheckFailures()
        passes = []
        start = time.perf_counter()
        try:
            while not passes or time.perf_counter() - start < args.seconds:
                passes.append(workload.run_pass(tracer, len(passes)))
        except Exception:
            traceback.print_exc()
            checks.expect(False, "an op raised")
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        if args.trace:
            tracer.finish()
        counts = []
        for p in passes:
            try:
                counts.append(workload.check(p, checks))
            except Exception:
                traceback.print_exc()
                checks.expect(False, "an output check raised")
        for what in checks.failed:
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        if not counts:
            return 1
        failed = len(checks.failed)
        attempted = checks.attempted + bm.ops_in(passes)
        e2e = bm.end_to_end(passes, setup, rss_mb)
        if args.trace:
            metrics = bm.per_layer(workload, passes, counts, setup, e2e,
                                   failed / attempted)
            tracer.write(os.path.join(
                ROOT, ".bench_work", f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = e2e
            for name, (value, unit) in bm.workload_lines(
                    workload, passes, counts).items():
                print(f"{name} {value:.6g} {unit}")
        _emit(not failed, attempted, failed, metrics)
        return 1 if failed else 0
    finally:
        _stop(spark)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    started) to exit: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)

if __name__ == "__main__":
    sys.exit(main())
