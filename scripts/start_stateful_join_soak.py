"""Soak the PRODUCTION streaming entry (start_stateful) on the
reference join pipeline at crossover state volume (VERDICT r7 item 7).

The provider auto-flip decides ONCE, at start, from an estimate
(rate x horizon x sides x width); the risk the r7 verdict names is an
UNDER-estimate that leaves the HDFS provider in the over-half-heap
JVM-death regime mid-flight. This soak validates the estimate is
conservative where it matters:

- small heap (default 3g) so the crossover is reachable on this box;
- rate-source impressions + clicks driven through
  ads_with_clicks_stream (the reference's StreamStreamJoin topology)
  via start_stateful(provider="auto") with workload facts whose
  ESTIMATE crosses half-heap (so auto must pick rocksdb pre-start);
- the soak runs past the state horizon (watermark + join window), so
  ACTUAL resident state passes the half-heap line mid-soak — exactly
  the trajectory a mis-sized HDFS run dies on;
- records: estimated vs actual peak state rows/bytes, the provider
  picked, and sustained rows/s over the last quarter (the A/B
  comparison figure).

Usage: python scripts/start_stateful_join_soak.py [--secs=240]
         [--rate=100000] [--heap=3g] [--provider=auto|hdfs|rocksdb]
Prints one JSON line + a markdown row for BASELINE.md.

Round 9 (VERDICT r8 item 5): --provider forces a side for the
keeping-up A/B — offer a rate the 3 GiB cell sustains so resident
state actually REACHES the estimate (the r8 soak ran backlogged, so
est-vs-actual was never compared in the keeping-up regime), and run
the same volume under BOTH providers: rocksdb (expected: sustains) and
hdfs (expected: the over-half-heap GC-death regime the flip exists to
avoid — run it in a subprocess you are prepared to lose).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SECS = int(next((a.split("=", 1)[1] for a in sys.argv if a.startswith("--secs=")), "240"))
RATE = int(next((a.split("=", 1)[1] for a in sys.argv if a.startswith("--rate=")), "100000"))
HEAP = next((a.split("=", 1)[1] for a in sys.argv if a.startswith("--heap=")), "3g")
PROVIDER = next(
    (a.split("=", 1)[1] for a in sys.argv if a.startswith("--provider=")), "auto"
)
# validate at parse time (ADVICE r9): a typo like --provider=rocksd
# would otherwise flow downstream and fail late or fall back silently
_ALLOWED_PROVIDERS = {"auto", "hdfs", "rocksdb"}
if PROVIDER not in _ALLOWED_PROVIDERS:
    sys.exit(
        f"usage: --provider must be one of {sorted(_ALLOWED_PROVIDERS)}, "
        f"got {PROVIDER!r}"
    )

os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP

from pyspark.sql import functions as F  # noqa: E402

from streams_prototyping_spark.session import get_spark  # noqa: E402
from streams_prototyping_spark.streaming.pipelines import (  # noqa: E402
    ads_with_clicks_stream,
)
from streams_prototyping_spark.streaming.state_sizing import (  # noqa: E402
    PROVIDER_FLIP_HEAP_FRACTION,
    estimate_join_state_rows,
    executor_heap_bytes,
    start_stateful,
)

WATERMARK_S = 120
JOIN_WINDOW_S = 60
ROW_WIDTH = 64  # start_stateful's default width estimate — under test here


def rate_stream(spark, rate: int, side: str):
    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .option("numPartitions", 8)
        .load()
    )
    if side == "imp":
        return src.select(
            F.col("value").alias("impression_id"),
            (F.col("value") % 50_000).alias("user_id"),
            (F.col("value") % 97).alias("ad_id"),
            F.col("timestamp").alias("imp_ts"),
        )
    # clicks: every 4th user clicks, slight event-time lag
    return src.filter(F.col("value") % 4 == 0).select(
        (F.col("value") % 50_000).alias("c_user_id"),
        (F.col("timestamp") - F.expr("INTERVAL 5 SECONDS")).alias("click_ts"),
        F.col("value").alias("click_id"),
    )


def main() -> None:
    spark = get_spark("start-stateful-soak")
    spark.sparkContext.setLogLevel("ERROR")
    heap = executor_heap_bytes(spark)
    est_rows = estimate_join_state_rows(RATE, WATERMARK_S, JOIN_WINDOW_S, n_sides=2)
    est_bytes = est_rows * ROW_WIDTH
    joined = ads_with_clicks_stream(
        rate_stream(spark, RATE, "imp"),
        rate_stream(spark, RATE, "clk"),
        watermark=f"{WATERMARK_S} seconds",
    )
    ckpt = tempfile.mkdtemp(prefix="soak_ckpt_")
    q = start_stateful(
        joined,
        rows_per_second=RATE,
        watermark_seconds=WATERMARK_S,
        join_window_seconds=JOIN_WINDOW_S,
        n_sides=2,
        row_width_bytes=ROW_WIDTH,
        provider=PROVIDER,
        output_mode="append",  # stream-stream joins support append only
        checkpoint_dir=ckpt,
        query_name="ads_with_clicks_soak",
    )

    t0 = time.time()
    samples = []  # (elapsed, state_rows, state_bytes, in_rows_per_s)
    seen = set()
    while time.time() - t0 < SECS:
        time.sleep(5)
        p = q.lastProgress
        if not p or p["batchId"] in seen:
            continue
        seen.add(p["batchId"])
        ops = p.get("stateOperators") or []
        rows = sum(o.get("numRowsTotal", 0) for o in ops)
        byts = sum(o.get("stateMemory", o.get("memoryUsedBytes", 0)) for o in ops)
        samples.append(
            (
                round(time.time() - t0, 1),
                rows,
                byts,
                p.get("processedRowsPerSecond", 0.0),
            )
        )
    q.stop()
    # what the query pinned, from its own progress: start_stateful
    # restores the session's settings once start() returns
    op = q.lastProgress["stateOperators"][0]
    n_parts = op["numShufflePartitions"]
    rocksdb = any(k.startswith("rocksdb") for k in op.get("customMetrics", {}))
    picked = "rocksdb" if rocksdb else "hdfs"
    peak_rows = max((s[1] for s in samples), default=0)
    peak_bytes = max((s[2] for s in samples), default=0)
    tail = samples[-max(1, len(samples) // 4):]
    sustained = round(sum(s[3] for s in tail) / len(tail)) if tail else 0
    crossed_at = next(
        (s[0] for s in samples if s[2] >= heap * PROVIDER_FLIP_HEAP_FRACTION), None
    )
    out = {
        "heap_bytes": heap,
        "rate_per_side": RATE,
        "watermark_s": WATERMARK_S,
        "join_window_s": JOIN_WINDOW_S,
        "est_state_rows": est_rows,
        "est_state_bytes": est_bytes,
        "est_over_half_heap": est_bytes >= heap * PROVIDER_FLIP_HEAP_FRACTION,
        "provider_requested": PROVIDER,
        "provider_picked": picked,
        "partitions": n_parts,
        "peak_state_rows": peak_rows,
        "peak_state_bytes": peak_bytes,
        "estimate_conservative": est_bytes >= peak_bytes,
        "actual_crossed_half_heap_at_s": crossed_at,
        "sustained_rows_per_s_last_quarter": sustained,
        "soak_secs": SECS,
        "n_batches": len(samples),
    }
    print(json.dumps(out))
    print(
        f"| {RATE:,}/side | {HEAP} | est {est_rows:,} rows / "
        f"{est_bytes / 2**20:.0f} MiB | {picked} ({n_parts} parts) | "
        f"peak {peak_rows:,} rows / {peak_bytes / 2**20:.0f} MiB | "
        f"{'yes @ ' + str(crossed_at) + ' s' if crossed_at else 'no'} | "
        f"{sustained:,} rows/s |"
    )
    spark.stop()


if __name__ == "__main__":
    main()
