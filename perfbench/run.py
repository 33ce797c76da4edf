"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Sets up once from a cold start
(JVM launch and session start, then the inputs built from ``--seed``; its
time is ``setup_s``), runs the timed workflow calls, checks every output,
and prints one JSON object as the last line of stdout. With
``--trace 0`` the metrics are the end-to-end set; with ``--trace 1`` they
are the per-layer set (see README.md). A detail line before the result
carries every raw figure, and ``--spans <file>`` writes the span log.

All scratch data (archives, Spark local dirs, temp files) lives under
``.perfbench_work/`` in the checkout and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("archive_follow", "query_mix")


def _isolate(work_dir: str) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark into
    ``work_dir``; must run before pyspark starts a JVM."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    tmp = os.path.join(work_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import tempfile

    tempfile.tempdir = tmp


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="dshackle-archive-spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write the span log (JSON lines) here")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "dshackle_archive_spark")):
        print(f"no dshackle_archive_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _isolate(work_dir)

    from harness import Tracer, peak_rss_mb, start_session, stop_session
    import metrics
    import workloads as W

    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", traced=bool(args.trace))
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = start_session(tracer)
        with tracer.span("setup.inputs"):
            inputs = _inputs(W, args.workload, args.seed)
        setup_s = time.perf_counter() - t0
        if args.workload == "query_mix":
            with tracer.span("setup.warmup"):
                W.query_warmup(spark, inputs)
        ctx = W.Ctx(spark, tracer, work_dir, args.seed, args.seconds)
        _run(W, ctx, args.workload, inputs)
        rss = peak_rss_mb(spark)
        detail, result = metrics.build(args.workload, ctx, setup_s, rss)
        if args.spans:
            tracer.dump(args.spans)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))  # only if no other run uses it
        except OSError:
            pass
    for p in ctx.problems:
        print(f"problem: {p}", file=sys.stderr)
    print("detail: " + json.dumps(detail, sort_keys=True))
    print(json.dumps(result if not args.trace else metrics.traced(result, detail, ctx)))
    return 0


def _inputs(W, workload: str, seed: int):
    if workload == "archive_follow":
        return W.etl_inputs(seed)
    return W.query_inputs()


def _run(W, ctx, workload: str, inputs) -> None:
    if workload == "archive_follow":
        W.archive_follow(ctx, *inputs)
    else:
        W.query_mix(ctx, inputs)


if __name__ == "__main__":
    sys.exit(main())
