"""Benchmark entry point.

    python3 perfbench/run.py --workload <stream-agg|batch-llm> \
        --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the repository root. Makes the workload's inputs from the
seed, runs the engine on them in one local Spark session with one core
per CPU, checks the outputs against a reference computation, and prints
as its last stdout line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``. The line
before it carries the run's evidence (environment, machine load before
and after, the outcome of each check). Everything the run writes goes
under ``.perfbench_work/`` in the current directory and is removed at
exit. ``--smoke`` shrinks every workload to a few seconds for the schema
test. See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.getcwd()
WORKLOADS = ("stream-agg", "batch-llm")


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    return ap.parse_args(argv)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _environ(work: str) -> None:
    """Point every directory Spark, the JVM, Python workers and DuckDB
    write to inside the work directory; must run before pyspark starts."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    ncpu = len(os.sched_getaffinity(0))
    java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(ncpu),
        SPARK_GRAFT_DRIVER_MEM="3g",
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LAUNCHER_OPTS=java_opts,
        # keep every batch's progress, so the checks see the whole stream
        SPARK_GRAFT_EXTRA_CONF=(f"spark.driver.extraJavaOptions={java_opts};"
                                "spark.sql.streaming.numRecentProgressUpdates=1000"),
    )


def _start_spark():
    from streams_prototyping_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _shutdown() -> None:
    """Stop the session and the JVM, and wait for every child to end."""
    from pyspark import SparkContext

    from perfbench import measure

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while len(measure.tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in measure.tree_pids()[1:]:
        os.kill(pid, 9)


def _result(args, spec: dict, res) -> dict:
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = res.layers if args.trace else res.metrics
    extra = set(got) - {m["name"] for m in wanted}
    if extra:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(extra)}")
    return {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {
            m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        },
    }


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "streams_prototyping_spark", "__init__.py")):
        print("perfbench: run from a checkout of the engine "
              "(streams_prototyping_spark/ not found)", file=sys.stderr)
        return 2
    spec = _spec()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _environ(work)
    sys.path.insert(0, ROOT)
    try:
        from perfbench import measure

        env = measure.environment()
        steal0 = measure.cpu_times()
        if args.workload == "batch-llm":
            from perfbench import batch

            res = batch.run(_start_spark, args.seed, args.seconds, work, bool(args.trace),
                            smoke=args.smoke)
        else:
            from perfbench import streams

            spark, session_s = _start_spark()
            res = streams.run(spark, args.seed, args.seconds, work, bool(args.trace),
                              session_s, smoke=args.smoke)
        out = _result(args, spec, res)
        steal1 = measure.cpu_times()
        print(json.dumps({"perfbench": {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "environment": env,
            "load_after": measure.read_load_evidence(0.5), "checks": res.checks,
            "cpu_steal_share": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        }}), flush=True)
        print(json.dumps(out), flush=True)
        return 0
    except Exception:  # noqa: BLE001 — report and fail the run without a result line
        traceback.print_exc()
        return 1
    finally:
        try:
            _shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:  # another run is still using it
                pass


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
