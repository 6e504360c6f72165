"""CDC engine benchmark: one workload, one fresh process, one JSON line.

    python3 perfbench/run.py --workload tail_microbatch --seed 1 --seconds 10 --trace 0

Run from the repository root. The engine package is imported from the
current directory; everything the run writes (inputs, tables, Spark's
scratch space, the JVM's temp files) goes under ``.perfbench_work/`` there
and is deleted at the end. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics of ``BENCHMARK.json`` for ``--trace 0`` and its per-layer metrics
for ``--trace 1``. The line before it holds the run's evidence (set-up
rounds, bare-scan timings at start and end, check details).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    if not os.path.isdir(os.path.join(ROOT, "file_standardization_etl_spark")):
        print("run from the repository root: engine package not found", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep every file the run writes inside the checkout: Spark's block and
    # shuffle files, Python temp files, and the JVM's temp dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    sys.path.insert(0, ROOT)
    spark = run = None
    try:
        import workloads
        from tracing import Tracer

        from file_standardization_etl_spark.session import get_spark

        if args.workload not in workloads.WORKLOADS:
            print(f"unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        cores = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        # a modest driver heap: with the engine's 8g default the driver's
        # resident set reached 6 GB on these small corpora, 3 GB with this
        spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores,
                          extra_conf={"spark.driver.memory": "3g",
                                      "spark.ui.showConsoleProgress": "false"})
        session_start = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            tracer.install()
        run = workloads.Run(spark, work, args.seed, args.seconds, tracer)
        run.notes["session_start_s"] = session_start
        values = workloads.WORKLOADS[args.workload](run)
        if tracer is not None:
            tracer.uninstall()
        values["setup_s"] = session_start + run.notes["warmup_s"] + run.notes["seed_s"]
        units = {m["name"]: m["unit"] for m in wanted}
        missing = set(units) - set(values)
        if missing:
            raise RuntimeError(f"metrics not measured: {sorted(missing)}")
        print(json.dumps({"evidence": run.notes}, default=str))
        print(json.dumps({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }))
        return 0
    except BaseException:
        if run is not None:
            print(json.dumps({"evidence": run.notes}, default=str), file=sys.stderr)
        raise
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit: closing its stdin is the gateway's shutdown signal."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
