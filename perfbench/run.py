"""Benchmark of the PySpark full-text engine: one command, one workload.

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 15 --trace 0

Runs from the root of a source checkout on ``local[<nproc>]``, driven by
this Python process; set-up writes the inputs in a second thread while
the JVM starts, and the timed window of an untraced run is
single-threaded.  Everything it writes (generated
corpus, indexes, Spark scratch, JVM temp files, traces) goes under
``.bench_work/`` and ``.bench_out/`` in the checkout; ``.bench_work/`` is
removed at the end.  The last line of standard output is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` runs the same
workload with spans around every layer call and reports the per-layer
metrics instead (see README.md).  The line before it is a report with the
environment record, sample counts and first- vs second-half medians.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "elasticsearch_nlp_classifier_spark"
WORKLOADS = ("bulk", "ingest_search")


def _prepare_env(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    checkout, before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_SANDBOX"] = "1"
    # the sandbox default would put shuffle and spill on /dev/shm; the
    # benchmark keeps every file it writes inside the checkout
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_GRAFT_EXTRA_JAVA_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    # Python workers forked by the JVM import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [HERE, ROOT]


def _stop_spark(spark) -> None:
    """Stop Spark, if it started, and wait until the JVM (and the Python
    workers it forked) have exited."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    try:
        if spark is not None:
            spark.stop()
    except Exception:  # an interrupted run: the JVM is stopped below anyway
        traceback.print_exc()
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: the engine package {PACKAGE}/ is not in {ROOT}",
              file=sys.stderr)
        return 2

    # a termination signal unwinds like an error: Spark is stopped and the
    # scratch directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    spark = writer = None
    try:
        t0 = time.perf_counter()
        import workloads
        from elasticsearch_nlp_classifier_spark.session import get_spark

        nproc = len(os.sched_getaffinity(0))
        # the inputs are generated while the JVM starts
        inputs: dict = {}

        def write_inputs():
            t = time.perf_counter()
            inputs.update(workloads.INPUTS[args.workload](work, args.seed, nproc))
            inputs["write_s"] = time.perf_counter() - t

        writer = threading.Thread(target=write_inputs)
        writer.start()
        master = f"local[{nproc}]"
        spark = get_spark(master=master, app_name="perfbench", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        })
        # no separate Python worker warm-up: the warm-up build or micro-batch
        # forks and imports the workers, in the same set-up time
        session_start_s = time.perf_counter() - t0
        writer.join()
        if "write_s" not in inputs:
            raise RuntimeError("writing the workload's inputs failed")

        bench = workloads.Bench(
            spark, work, args.seed, args.seconds, bool(args.trace),
            started=t0, session_start_s=session_start_s,
            corpus_write_s=inputs.pop("write_s"))
        getattr(workloads, args.workload)(bench, inputs)

        from pyspark import __version__ as spark_version

        report = {
            "workload": args.workload,
            "env": {
                "nproc": nproc, "master": master,
                "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
                "spark_local_dir": os.path.relpath(
                    os.environ["SPARK_GRAFT_LOCAL_DIR"], ROOT),
                "spark": spark_version,
                "python": sys.version.split()[0],
                "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace,
            },
            **bench.report,
        }
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
        if args.trace:
            # the traced run's own end-to-end figures: minus those of an
            # untraced run with the same seed, they are the tracing overhead
            report["traced_end_to_end"] = {
                k: v for k, (v, _) in bench.end_to_end().items()}
            out = os.path.join(ROOT, ".bench_out",
                               f"trace-{args.workload}-seed{args.seed}.jsonl")
            bench.tracer.write(out)
            report["trace_file"] = os.path.relpath(out, ROOT)
    except Exception:  # any failure: report it, print no result
        traceback.print_exc()
        return 1
    finally:
        try:
            _stop_spark(spark)
        finally:
            if writer is not None:
                writer.join()
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(work))  # only if no other run uses it

    print(json.dumps({"report": report}), flush=True)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
