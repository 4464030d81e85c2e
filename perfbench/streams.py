"""The stream-agg workload: reference App 1 as a closed-loop stream.

``pipelines.windowed_avg_stream`` (30 s windows, 60 s watermark) reads a
``rate-micro-batch`` source: every micro-batch takes a fixed number of
rows and advances event time by a fixed step, so input, watermark and
state size are the same on every run of a seed. (An open loop on the
``rate`` source was tried first; on 4 cores a batch takes 45-90 % of
that source's 1 s release interval, and the queueing this causes spread
the latency median over 2x between runs.) State is a handful of rows, so
each batch's fixed costs dominate.

The query starts through ``state_sizing.start_stateful`` with the memory
sink, whose rows the correctness check compares against a reference
computation over the same generated input. Timing starts only once the
fill guard has seen watermark eviction and flat state, and the JVM has
warmed up.
"""

from __future__ import annotations

import json
import random
import shutil
import time
from datetime import datetime, timezone
from math import gcd

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from perfbench import measure
from streams_prototyping_spark.streaming import pipelines, state_sizing

START_MS = 1_704_067_200_000  # 2024-01-01, a window boundary
WATERMARK_S = 60
# Rows per micro-batch (full run, smoke run) and event-time advance per
# micro-batch.
ROWS_PER_BATCH = 16_000
SMOKE_ROWS_PER_BATCH = 1_000
STEP_MS = 10_000
# Fill guard: state rows may move by at most this share between two
# batches, and must settle within FILL_TIMEOUT_S.
FLAT_SHARE = 0.5
FILL_TIMEOUT_S = 90.0
# Timing starts no earlier than this long after the query starts: batch
# times fall about fourfold over a fresh JVM's first ~15 s of batches
# while the JIT compiles the micro-batch path, then level off.
WARMUP_S = 25.0
TABLE = "stream_agg"


def _ms(iso: str) -> int:
    return int(
        datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
        * 1000
    )


def _affine(rng: random.Random, modulus: int) -> tuple[int, int]:
    """A seeded permutation ``v -> (v * a + b) % modulus`` of the residues."""
    while True:
        a = rng.randrange(1, modulus)
        if gcd(a, modulus) == 1:
            return a, rng.randrange(modulus)


def _progress(query, after: int) -> list[dict]:
    return [
        p for p in (json.loads(x.json) for x in query.recentProgress)
        if p["batchId"] > after
    ]


def _sleep_checked(query, seconds: float) -> None:
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        time.sleep(0.05)


def _wait_steady(query, warmup_s: float) -> tuple[int, int, float]:
    """Block until state eviction is seen, state rows are flat and
    ``warmup_s`` has passed since the query started.

    Returns (id of the last untimed batch, batches until the state was
    steady, seconds until then); raises ``TimeoutError`` if the state
    never gets steady."""
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < FILL_TIMEOUT_S:
        _sleep_checked(query, 0.05)
        ps = [p for p in _progress(query, -1) if p["stateOperators"]]
        steady = next((
            cur for prev, cur in zip(ps, ps[1:])
            if cur["stateOperators"][0]["numRowsRemoved"] > 0
            and abs(cur["stateOperators"][0]["numRowsTotal"]
                    - prev["stateOperators"][0]["numRowsTotal"])
            <= FLAT_SHARE * max(prev["stateOperators"][0]["numRowsTotal"], 1)
        ), None)
        if steady is not None:
            fill_s = time.perf_counter() - t0
            _sleep_checked(query, warmup_s - fill_s)
            return query.lastProgress["batchId"], steady["batchId"] + 1, fill_s
    raise TimeoutError("stream-agg: state never reached steady state")


def _stream(spark: SparkSession, seed: int, rows: int):
    a, b = _affine(random.Random(seed), 1000)
    events = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows)
        .option("numPartitions", min(4, measure.cpu_count()))
        .option("startTimestamp", START_MS)
        .option("advanceMillisPerBatch", STEP_MS)
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            ((F.col("value") * a + b) % 1000).cast("double").alias("value"),
        )
    )
    return pipelines.windowed_avg_stream(events, watermark=f"{WATERMARK_S} seconds"), (a, b)


def _check(spark, last: dict, keys: tuple[int, int], rows: int) -> dict:
    """Closed windows of the stream equal the batch aggregate of the
    same generated rows."""
    n_rows = int(last["sources"][0]["endOffset"]["offset"])
    watermark_ms = _ms(last["eventTime"]["watermark"])
    win_ms = pipelines.WINDOW_S * 1000
    a, b = keys
    v = np.arange(n_rows, dtype=np.int64)
    ts_ms = START_MS + v // rows * STEP_MS
    start = ts_ms // win_ms * win_ms
    value = ((v * a + b) % 1000).astype(np.float64)
    closed = start + win_ms <= watermark_ms
    ref = {}
    for s in np.unique(start[closed]):
        m = start == s
        n = int(m.sum())
        ref[int(s)] = (float((value[m] * 2).sum()) / n, float(value[m].sum()) / n, n)
    got = {}
    for r in spark.sql(
        f"SELECT unix_millis(window_start) s, "
        f"max_by(struct(avg_x2, avg_v, n_events), n_events) f FROM {TABLE} GROUP BY 1"
    ).collect():
        if r.s + win_ms <= watermark_ms:
            got[r.s] = (r.f.avg_x2, r.f.avg_v, r.f.n_events)
    return {"closed_windows": len(ref), "ok": bool(ref) and got == ref}


def run(spark: SparkSession, seed: int, seconds: float, work_dir: str, trace: bool,
        session_s: float, smoke: bool = False) -> measure.RunResult:
    """Run stream-agg; see the module docstring."""
    rows = SMOKE_ROWS_PER_BATCH if smoke else ROWS_PER_BATCH
    ckpt = f"{work_dir}/checkpoint"
    shutil.rmtree(ckpt, ignore_errors=True)
    t_setup = time.perf_counter()
    out, keys = _stream(spark, seed, rows)
    t_start = time.perf_counter()
    query = state_sizing.start_stateful(
        out, format="memory", query_name=TABLE, checkpoint_dir=ckpt,
        rows_per_second=rows * 1000 / STEP_MS, watermark_seconds=WATERMARK_S,
    )
    start_s = time.perf_counter() - t_start
    try:
        fill_id, fill_batches, fill_s = _wait_steady(query, 0.0 if smoke else WARMUP_S)
        setup_s = session_s + time.perf_counter() - t_setup
        tracker = spark.sparkContext.statusTracker()
        jobs_before = set(tracker.getJobIdsForGroup(str(query.runId)))
        cpu0 = measure.tree_cpu_s()
        t0 = time.perf_counter()
        _sleep_checked(query, seconds)
        # a window shorter than one batch still waits for one
        while not _progress(query, fill_id) and time.perf_counter() - t0 < FILL_TIMEOUT_S:
            _sleep_checked(query, 0.05)
        wall = time.perf_counter() - t0
        cpu = measure.tree_cpu_s() - cpu0
        data = _progress(query, fill_id)
        jobs = sorted(set(tracker.getJobIdsForGroup(str(query.runId))) - jobs_before)
    finally:
        query.stop()
        query.awaitTermination(60)
    if not data:
        raise RuntimeError("stream-agg: no batch completed in the timed window")
    final = _progress(query, -1)
    result = _check(spark, final[-1], keys, rows)
    dropped = sum(p["stateOperators"][0]["numRowsDroppedByWatermark"] for p in final)
    failed = (0 if result["ok"] else 1) + (1 if dropped else 0)
    # closed loop: a batch's rows are released when it starts, so the
    # batch duration is their input-to-output latency
    batch_ms = [p["durationMs"]["triggerExecution"] for p in data]
    metrics = {
        "setup_s": setup_s,
        "latency_ms": measure.percentile(batch_ms, 50),
        "cpu_ms_per_op": cpu * 1000.0 / len(data),
        "live_mb": measure.live_mb(spark),
    }
    layers = {}
    if trace:
        measure.wait_for_listeners(spark)
        med = lambda key: measure.percentile(  # noqa: E731
            [p["durationMs"].get(key, 0) for p in data], 50)
        st = lambda key: measure.percentile(  # noqa: E731
            [p["stateOperators"][0][key] for p in data], 50)
        last_state = data[-1]["stateOperators"][0]
        layers = {
            "session.get_spark_s": session_s,
            "proc.peak_rss_mb": measure.tree_peak_rss_mb(),
            "streaming.state_sizing.start_s": start_s,
            "streaming.state_sizing.partitions": float(last_state["numShufflePartitions"]),
            "streaming.fill_s": fill_s,
            "streaming.fill_batches": float(fill_batches),
            "streaming.batches": float(len(data)),
            "streaming.batch_ms_p90": measure.percentile(batch_ms, 90),
            "streaming.rows_per_s": sum(p["numInputRows"] for p in data) / wall,
            "streaming.sources.latest_offset_ms": med("latestOffset"),
            "streaming.sources.get_batch_ms": med("getBatch"),
            "streaming.pipelines.query_planning_ms": med("queryPlanning"),
            "streaming.pipelines.wal_commit_ms": med("walCommit"),
            "streaming.pipelines.commit_offsets_ms": med("commitOffsets"),
            "streaming.pipelines.add_batch_ms": med("addBatch"),
            "streaming.state.commit_ms": st("commitTimeMs"),
            "streaming.state.update_ms": st("allUpdatesTimeMs"),
            "streaming.state.removal_ms": st("allRemovalsTimeMs"),
            "streaming.state.rows_total": float(last_state["numRowsTotal"]),
            "streaming.state.memory_mb": last_state["memoryUsedBytes"] / 2**20,
            "streaming.state.rows_dropped_by_watermark": float(dropped),
        }
        layers.update(measure.exec_metrics(
            measure.job_totals(spark, jobs), wall, measure.cpu_count(), per=len(data)))
    checks = {**result, "fill_batches": fill_batches, "fill_s": fill_s, "batches": len(final),
              "timed_batches": len(data), "rows_dropped_by_watermark": dropped}
    return measure.RunResult(metrics, layers, len(data) + 1, failed, checks)
