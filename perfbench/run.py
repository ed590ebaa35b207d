"""Rollup + retention benchmark for diive_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0

Workloads are defined in ``workloads.py``.  The last line of standard
output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a traced run (spans written to
``.perfbench_work/<workload>-<seed>-trace.jsonl``).  Lines above it
repeat every metric with its unit, plus ``ops_attempted`` and
``ops_failed``.  The command exits non-zero when an op fails or an
output check disagrees with the oracle.

Everything it writes stays under ``.perfbench_work/`` in the checkout,
including Spark's local and temporary directories.
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


def parse_args() -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def prepare_env(work: str) -> None:
    """Keep Spark's scratch space inside the checkout."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
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
            proc.wait()


def main() -> int:
    sys.path.insert(0, ROOT)
    try:
        import diive_spark
    except ImportError as e:
        print(f"perfbench: diive_spark is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(diive_spark.__file__))) != ROOT:
        print(f"perfbench: diive_spark resolved outside the checkout "
              f"({diive_spark.__file__})", file=sys.stderr)
        return 2

    args = parse_args()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}")
    prepare_env(work)

    from diive_spark.session import get_spark
    from tracing import NO_TRACE, Tracer
    from workloads import Bench

    tmp = os.environ["TMPDIR"]
    t0 = time.perf_counter()
    spark = get_spark(parallelism=len(os.sched_getaffinity(0)), app_name="perfbench", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    })
    get_spark_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer() if args.trace else NO_TRACE
        bench = Bench(spark, work, args.workload, args.seed, args.seconds, tracer)
        setup_s = get_spark_s + bench.setup()
        bench.run()
        e2e = bench.end_to_end(setup_s)
        layer = bench.per_layer(get_spark_s) if args.trace else {}
    finally:
        stop_spark(spark)

    if args.trace:
        trace_path = os.path.join(ROOT, ".perfbench_work",
                                  f"{args.workload}-{args.seed}-trace.jsonl")
        tracer.dump(trace_path)
        print(f"# spans: {trace_path}")
    shutil.rmtree(work, ignore_errors=True)

    failed = sum(not o.ok for o in bench.ops)
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace}")
    for kind in sorted({o.kind for o in bench.ops}):
        ops = [o for o in bench.ops if o.kind == kind]
        print(f"# op {kind}: n={len(ops)} walls_s={[round(o.wall, 3) for o in ops]}"
              f" spark_jobs={[o.jobs for o in ops]} spark_tasks={[o.tasks for o in ops]}"
              f" bytes_written={[o.bytes_written for o in ops]}")
    for name, (value, unit) in {**e2e, **layer}.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"ops_attempted {len(bench.ops)}")
    print(f"ops_failed {failed}")
    metrics = layer if args.trace else e2e
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(bench.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
