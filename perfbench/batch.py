"""The batch-llm workload: a fixed mix of registered queries over the
repository's sf0.01 test tables, each written to the noop sink.

Run order: start the session, then a warm pass that builds every shared
stage (``stage_cache.TIME_BUILDS``) and collects each query's rows for
the oracle check, ``WARM_PASSES`` untimed passes, then whole timed
passes until the window closes. The seed sets the query order within a pass.

A traced run alternates traced and untraced passes inside one window,
so both kinds see the same JVM warmth; the per-query difference between
them is the tracing overhead.
"""

from __future__ import annotations

import os
import random
import sys
import time

import duckdb

from perfbench import measure
from streams_prototyping_spark import registry, stage_cache
from streams_prototyping_spark.data import TABLES
from tests.oracle_check import _canon_rows

# Byte-identical copies of the repository's sf0.01 test tables, so the
# benchmark reads nothing outside its checkout.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
# The mix, with the half of the engine each query stresses at this scale
# (measured split in perfbench/README.md).
MIX = {
    # task CPU about twice the query's wall time: the cosine HOF fold
    "embedding_near_dup_pairs_banded": "executor",
    # construction runs about 20 eager jobs before a trivial final write
    "pagerank_parts": "driver",
    # batch twin of the reference App 1
    "windowed_avg": "twin",
}
# Untimed passes after the first (oracle) pass: per-query times fall by
# about a fifth over a fresh JVM's second to fourth pass over the mix,
# then level off.
WARM_PASSES = 2
# Timed passes a run makes at least, however long they take: the median
# of three or more ignores one pass slowed by the host.
MIN_PASSES = 3
# Shared stages the mix builds, reported one by one in the traced run.
STAGE_TAGS = ("similarity/banded_index", "graph/copurchase_und")


def _oracle_rows(sql: str, spill_dir: str) -> tuple[list[str], list[tuple]]:
    """``tests.oracle_check.run_oracle`` with DuckDB's spill directory
    inside the work directory (that helper spills to a fixed /tmp path)."""
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{spill_dir}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


def _matches_oracle(name: str, cols: list[str], rows: list[tuple], spill_dir: str) -> bool:
    o_cols, o_rows = _oracle_rows(registry.ORACLES[name], spill_dir)
    return sorted(cols) == sorted(o_cols) and _canon_rows(cols, rows) == _canon_rows(
        o_cols, o_rows
    )


def _pass(spark, order: list[str], index: int, trace: bool) -> tuple[list[dict], int]:
    """Run every query of ``order`` once, each written to the noop sink.

    Returns (ops, failures); each op records its query, phase times,
    wall ms and process-tree CPU ms. A traced pass puts each query phase
    in its own job group and plans the final query before writing it."""
    sc = spark.sparkContext
    ops: list[dict] = []
    failed = 0
    for name in order:
        op = {"query": name, "traced": trace, "group": f"perfbench-{index}-{name}"}
        cpu0 = measure.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            if trace:
                sc.setJobGroup(op["group"] + "-construct", name)
            df = registry.QUERIES[name](spark, DATA_DIR)
            t1 = time.perf_counter()
            if trace:
                sc.setJobGroup(op["group"] + "-write", name)
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 — a failed query is counted, the mix goes on
            print(f"batch-llm: {name} raised {type(exc).__name__}: {exc}", file=sys.stderr)
            failed += 1
            continue
        finally:
            if trace:
                sc.setLocalProperty("spark.jobGroup.id", None)
        op.update(construct_s=t1 - t0, plan_s=t2 - t1, write_s=t3 - t2,
                  ms=(t3 - t0) * 1000, cpu_ms=(measure.tree_cpu_s() - cpu0) * 1000)
        ops.append(op)
    return ops, failed


def _per_query(ops: list[dict], key: str) -> dict[str, float]:
    """Median of ``key`` over each query's runs."""
    out: dict[str, list[float]] = {}
    for o in ops:
        out.setdefault(o["query"], []).append(o[key])
    return {q: measure.percentile(v, 50) for q, v in out.items()}


def _mean_per_query(ops: list[dict], key: str) -> float:
    """Each query's median, averaged over the queries: every query
    weighs the same however often it ran."""
    per = _per_query(ops, key)
    return sum(per.values()) / len(per)


def _layers(spark, ops: list[dict], wall: float, session_s: float, mix_size: int) -> dict:
    """Per-layer metrics of the traced passes, per pass over the mix."""
    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]]
    measure.wait_for_listeners(spark)
    tracker = spark.sparkContext.statusTracker()
    passes = len(traced) / mix_size
    construct_jobs = []
    write_jobs = []
    for o in traced:
        construct_jobs += tracker.getJobIdsForGroup(o["group"] + "-construct")
        write_jobs += tracker.getJobIdsForGroup(o["group"] + "-write")
    layers = {
        "session.get_spark_s": session_s,
        "proc.peak_rss_mb": measure.tree_peak_rss_mb(),
        "registry.construct_s": sum(o["construct_s"] for o in traced) / passes,
        "registry.construct_jobs": len(construct_jobs) / passes,
        "exec.plan_s": sum(o["plan_s"] for o in traced) / passes,
        "exec.write_s": sum(o["write_s"] for o in traced) / passes,
    }
    layers.update(measure.exec_metrics(
        measure.job_totals(spark, write_jobs), wall, measure.cpu_count(), per=passes))
    stage_s = dict(stage_cache.BUILD_SEC)
    layers["stage_cache.build_s"] = sum(stage_s.values())
    for tag in STAGE_TAGS:
        layers[f"stage_cache.build_s.{tag.replace('/', '.')}"] = stage_s.get(tag, 0.0)
    for o in traced:
        o["exec_s"] = o["plan_s"] + o["write_s"]
    construct = _per_query(traced, "construct_s")
    execute = _per_query(traced, "exec_s")
    for name in construct:
        layers[f"q.{name}.construct_s"] = construct[name]
        layers[f"q.{name}.exec_s"] = execute[name]
    traced_ms = sum(_per_query(traced, "ms").values())
    plain_ms = sum(_per_query(plain, "ms").values())
    layers["trace.overhead_pct"] = (traced_ms / plain_ms - 1.0) * 100.0
    return layers


def run(spark_factory, seed: int, seconds: float, work_dir: str, trace: bool,
        smoke: bool = False) -> measure.RunResult:
    """Run batch-llm; ``spark_factory()`` starts the session and returns
    (spark, seconds it took). ``smoke`` runs two of the queries and one warm pass."""
    spill_dir = os.path.join(work_dir, "duckdb")
    os.makedirs(spill_dir, exist_ok=True)
    order = list(MIX)[-2:] if smoke else list(MIX)
    random.Random(seed).shuffle(order)

    spark, session_s = spark_factory()
    t0 = time.perf_counter()
    registry.load_all()
    warm_s = time.perf_counter() - t0
    stage_cache.TIME_BUILDS = True
    attempted = failed = 0
    mismatched = []
    warm_query_s = {}
    oracle_s = 0.0
    try:
        for name in order:
            attempted += 1
            t0 = time.perf_counter()
            try:
                df = registry.QUERIES[name](spark, DATA_DIR)
                cols, got = list(df.columns), [tuple(r) for r in df.collect()]
            except Exception as exc:  # noqa: BLE001 — counted as a failed operation
                print(f"batch-llm: {name} raised {type(exc).__name__}: {exc}", file=sys.stderr)
                failed += 1
                continue
            finally:
                warm_query_s[name] = time.perf_counter() - t0
                warm_s += warm_query_s[name]
            t0 = time.perf_counter()
            ok = _matches_oracle(name, cols, got, spill_dir)
            oracle_s += time.perf_counter() - t0
            if not ok:
                mismatched.append(name)
                failed += 1
    finally:
        stage_cache.TIME_BUILDS = False
    # Untimed passes until per-query times level off.
    for index in range(0 if smoke else -WARM_PASSES, 0):
        t0 = time.perf_counter()
        warm_ops, n_failed = _pass(spark, order, index, False)
        warm_s += time.perf_counter() - t0
        attempted += len(warm_ops) + n_failed
        failed += n_failed
    setup_s = session_s + warm_s

    # Whole passes until the window closes and at least MIN_PASSES have
    # run; a traced run alternates traced and untraced passes (the seed
    # picks which comes first), at least two of each, and runs as many
    # of one kind as of the other.
    ops: list[dict] = []
    passes = 0
    min_passes = 4 if trace else MIN_PASSES
    t_win = time.perf_counter()
    while (passes < min_passes or time.perf_counter() - t_win < seconds
           or (trace and passes % 2)):
        traced = trace and (passes + seed) % 2 == 0
        pass_ops, n_failed = _pass(spark, order, passes, traced)
        ops += pass_ops
        attempted += len(pass_ops) + n_failed
        failed += n_failed
        passes += 1
    wall = time.perf_counter() - t_win
    if not ops:
        raise RuntimeError("batch-llm: no query completed in the timed window")
    metrics = {
        "setup_s": setup_s,
        "latency_ms": _mean_per_query(ops, "ms"),
        "cpu_ms_per_op": _mean_per_query(ops, "cpu_ms"),
        "live_mb": measure.live_mb(spark),
    }
    layers = {}
    if trace:
        traced_wall = sum(o["ms"] for o in ops if o["traced"]) / 1000.0
        layers = _layers(spark, ops, traced_wall, session_s, len(order))
    checks = {"order": order, "oracle_mismatches": mismatched,
              "session_s": session_s, "warm_query_s": warm_query_s, "oracle_s": oracle_s,
              "stage_build_s": dict(stage_cache.BUILD_SEC),
              "timed_passes": passes, "timed_window_s": wall, "timed_ops": len(ops),
              "timed_ms": {q: [round(o["ms"]) for o in ops if o["query"] == q] for q in order}}
    return measure.RunResult(metrics, layers, attempted, failed, checks)
