"""A/B the stream-stream join's throughput plateau (VERDICT r4 item 6).

The agg pipeline's throughput grew round-over-round (964k rows/s) while
ads_with_clicks_stream sat at ~140k rows/s. This probe isolates the two
knobs that could move a symmetric-hash join bound on a single node:

  - state-store provider: HDFS-backed (default, on-heap map + file
    snapshot) vs RocksDB (native, off-heap);
  - shuffle partitions (= state store partitions at first run): 1 / 2
    / 4 / 8 / 32 / 64, so the low end the state-sizing rule picks is
    measured next to the round-5 32-core grid (8 / 32 / 64).

Each cell runs the identical sparse-match workload from
throughput_probe.py (wide user_id key space: per-row cost is state
insert + probe + watermark eviction, not match fan-out) in a FRESH
query with a fresh (temp) checkpoint, since both knobs are fixed at
first query start.

Usage: python scripts/join_throughput_ab.py [--secs=45] [--rate=500000]
       python scripts/join_throughput_ab.py --secs=60 --rate=150000
         (4 cores: offers ~40k rows/s, 30k impressions + 10k clicks,
         which HDFS state at 1-8 partitions sustains; BASELINE.md)
Prints one JSON line per cell + a markdown table for BASELINE.md.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import os

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")

from pyspark.sql import functions as F

from streams_prototyping_spark.session import get_spark
from streams_prototyping_spark.streaming.pipelines import ads_with_clicks_stream

SECS = int(next((a.split("=", 1)[1] for a in sys.argv if a.startswith("--secs=")), "45"))
RATE = int(
    next((a.split("=", 1)[1] for a in sys.argv if a.startswith("--rate=")), "500000")
)

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
HDFS = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"


def _rate_events(spark, rate):
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .option("numPartitions", spark.sparkContext.defaultParallelism)
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            F.col("value").alias("event_id"),
            (F.col("value") % 10_000_000).alias("user_id"),
        )
    )


def _sustained(progress):
    rates = [
        p["processedRowsPerSecond"]
        for p in progress
        if p.get("processedRowsPerSecond") and p["numInputRows"] > 0
    ]
    rates = rates[2:] or rates
    rates.sort()
    return rates[len(rates) // 2] if rates else 0.0


def run_cell(spark, provider: str, partitions: int, extra_conf: dict | None = None, label: str = "") -> dict:
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    for k, v in (extra_conf or {}).items():
        spark.conf.set(k, str(v))
    imps = _rate_events(spark, RATE // 5).select(
        F.col("ts").alias("imp_ts"),
        F.col("event_id").alias("impression_id"),
        F.col("user_id"),
        (F.col("event_id") % 10).alias("ad_id"),
    )
    clicks = _rate_events(spark, RATE // 15).select(
        F.col("ts").alias("click_ts"),
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
    )
    out = ads_with_clicks_stream(imps, clicks, watermark="60 seconds")
    q = (
        out.writeStream.format("noop")
        .outputMode("append")
        .trigger(processingTime="2 seconds")
        .start()
    )
    deadline = time.time() + SECS
    while time.time() < deadline:
        done = [
            d
            for d in (json.loads(p.json) for p in q.recentProgress)
            if d["numInputRows"] > 0
        ]
        if len(done) >= 8:
            break
        time.sleep(1.0)
    progress = [json.loads(p.json) for p in q.recentProgress]
    # per-batch state metrics from the last full progress, for the
    # "where does the time go" explanation
    state = {}
    for p in reversed(progress):
        ops = p.get("stateOperators") or []
        if ops:
            state = {
                "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
                "commit_ms": sum(
                    o.get("commitTimeMs", 0) for o in ops
                ),
            }
            break
    q.stop()
    rec = {
        "provider": "rocksdb" if provider == ROCKSDB else "hdfs",
        "shuffle_partitions": partitions,
        "sustained_rows_per_sec": round(_sustained(progress)),
        "batches": len(progress),
        **({"label": label} if label else {}),
        **state,
    }
    print(json.dumps(rec), flush=True)
    return rec


def tuned_cells(spark) -> list:
    """--tuned mode (VERDICT r5 items 4+7): validate the state-sizing
    helper's pick against the measured grid, then attack the per-batch
    commit cost itself via snapshot cadence
    (minDeltasForSnapshot: default 10 — every 10 delta commits the
    maintenance thread rebuilds a full snapshot from deltas; raising it
    trades recovery time for less background rebuild I/O)."""
    from streams_prototyping_spark.streaming.state_sizing import (
        estimate_join_state_rows,
        recommended_state_partitions,
    )

    est = estimate_join_state_rows(
        RATE // 5 + RATE // 15, watermark_seconds=60,
        join_window_seconds=60, n_sides=1,
    )
    rec_parts = recommended_state_partitions(est)
    cells = [
        run_cell(spark, HDFS, 32, label="core-count default"),
        run_cell(spark, HDFS, rec_parts, label=f"state_sizing pick ({rec_parts})"),
        run_cell(spark, HDFS, 8, label="8 partitions (32-core r5 grid winner)"),
        run_cell(
            spark, HDFS, 8,
            extra_conf={"spark.sql.streaming.stateStore.minDeltasForSnapshot": 50},
            label="8 parts + minDeltasForSnapshot=50",
        ),
        run_cell(
            spark, HDFS, 8,
            extra_conf={"spark.sql.streaming.stateStore.minDeltasForSnapshot": 100},
            label="8 parts + minDeltasForSnapshot=100",
        ),
        run_cell(
            spark, HDFS, 8,
            extra_conf={
                "spark.sql.streaming.stateStore.maintenanceInterval": "15s",
            },
            label="8 parts + maintenanceInterval=15s",
        ),
    ]
    return cells


def main() -> None:
    spark = get_spark("join-ab")
    spark.sparkContext.setLogLevel("ERROR")
    if "--tuned" in sys.argv:
        cells = tuned_cells(spark)
        print("\n| config | sustained rows/s | state rows | commit ms |")
        print("|---|---|---|---|")
        for c in cells:
            print(
                f"| {c.get('label')} | {c['sustained_rows_per_sec']:,} "
                f"| {c.get('state_rows', '-')} | {c.get('commit_ms', '-')} |"
            )
        best = max(cells, key=lambda c: c["sustained_rows_per_sec"])
        print(json.dumps({"metric": "join_tuning_ab", "best": best, "cells": cells}))
        spark.stop()
        return
    cells = []
    for provider in (HDFS, ROCKSDB):
        for parts in (1, 2, 4, 8, 32, 64):
            cells.append(run_cell(spark, provider, parts))
    print("\n| provider | shuffle.partitions | sustained rows/s | state rows | commit ms |")
    print("|---|---|---|---|---|")
    for c in cells:
        print(
            f"| {c['provider']} | {c['shuffle_partitions']} "
            f"| {c['sustained_rows_per_sec']:,} | {c.get('state_rows', '-')} "
            f"| {c.get('commit_ms', '-')} |"
        )
    best = max(cells, key=lambda c: c["sustained_rows_per_sec"])
    print(
        json.dumps(
            {
                "metric": "join_throughput_ab",
                "best": best,
                "cells": cells,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
