"""Index benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload point_zipf --seed 1 --seconds 10 --trace 0

Run from the repository root. It starts the program's ``local[4]`` Spark
session with its scratch directories, index files and trace output all
under ``.bench_work/`` in the current directory, sets up the index (see
``workloads.py``), runs the workload's closed loop for ``--seconds``,
checks every recorded result against the numpy oracle, and prints the
metrics named in ``BENCHMARK.json``: the end-to-end ones with
``--trace 0``, the per-layer ones with ``--trace 1``. Only the traced run
installs timing wrappers; it also writes its spans to
``.bench_work/trace-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4

WORKLOADS = {
    "point_zipf": "run_point",
    "batch_replay": "run_batch",
    "ingest_mixed": "run_ingest",
}


def start_session(work: str):
    """The program's own SparkSession (``rdf_indexer_spark.session.get_spark``)
    on ``CORES`` cores, with only what the benchmark needs on top: Spark's
    scratch and warehouse directories inside ``work`` (the benchmark reads
    and writes only inside its checkout), and every job's status kept for
    the traced run's task counts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the JVM launcher and the driver JVM: temp files inside the checkout
    # and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # the program's own driver-heap knob: 2 GB instead of its 8 GB default
    # keeps a run small on a shared host, and its query latency steadier
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    from rdf_indexer_spark.session import get_spark

    spark = get_spark(cpus=CORES, app_name="perfbench", extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine must come from this checkout; fail before any set-up
    sys.path.insert(0, ROOT)
    import rdf_indexer_spark.index.bm25  # noqa: F401

    import report
    import workloads

    work_root = os.path.join(os.getcwd(), ".bench_work")
    work = os.path.join(work_root, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    try:
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
        run = workloads.Run(spark, args.seed, work, tracer)
        run.s.session_s = session_s
        run.setup()
        if tracer is not None:
            run.profile_layers()
        getattr(run, WORKLOADS[args.workload])(args.seconds)
        run.finish()
        t0 = time.perf_counter()
        run.check()
        check_s = time.perf_counter() - t0
        if tracer is not None:
            values, note = run.layers()
            units = report.PER_LAYER
            path = os.path.join(
                work_root, f"trace-{args.workload}-{args.seed}.jsonl")
            tracer.write(path)
            print(f"spans: {path}")
        else:
            values, note = report.end_to_end(run.s, report.TAIL_P[args.workload])
            units = report.END_TO_END
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"set-up: session {run.s.session_s:.2f} s, reps "
          f"{[round(x, 2) for x in run.s.setup_rep_s]} s, builds "
          f"{[round(x, 2) for x in run.s.build_s]} s, appends "
          f"{[round(x, 2) for x in run.s.append_s]} s, fresh "
          f"{[round(x, 3) for x in run.s.fresh_s]} s, warm-up {run.s.warm_s:.2f} s; "
          f"timed {run.s.timed_s:.2f} s over {run.s.steps} steps; "
          f"oracle check {check_s:.2f} s")
    print(note)
    print(json.dumps(report.result(run.failed == 0, run.attempted, run.failed,
                                   values, units)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
