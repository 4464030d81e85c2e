"""Checkpoint recovery: a streaming aggregation stopped and restarted
from its checkpoint resumes state and emits each window EXACTLY once
into a file sink — Spark's answer to the reference's changelog-topic
durability (SURVEY §4.2: state store + checkpoint replace RocksDB +
changelog).

Both tests run under BOTH state store providers (VERDICT r3 item 5):
the default HDFS-backed store and RocksDBStateStoreProvider — the
recommended provider for large state at the 100 TB deployment scale
(state spills to local SSD instead of living on the JVM heap). Green
under both proves the streaming twins are provider-agnostic; each
parameterized run uses a fresh checkpoint (a checkpoint's state format
is provider-specific, so providers are never switched mid-checkpoint).
"""

import datetime as dt

import pyspark.sql.functions as F
import pytest

SCHEMA = "event_id long, ts timestamp, value double"
BASE = dt.datetime(2024, 6, 1, 0, 0, 0)

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


@pytest.fixture(params=["hdfs-default", "rocksdb"])
def state_provider(request, spark):
    """Set the state store provider for queries started in the test,
    restoring the session default afterwards."""
    prev = spark.conf.get(_PROVIDER_KEY, None)
    if request.param == "rocksdb":
        spark.conf.set(_PROVIDER_KEY, ROCKSDB)
    try:
        yield request.param
    finally:
        if prev is None:
            spark.conf.unset(_PROVIDER_KEY)
        else:
            spark.conf.set(_PROVIDER_KEY, prev)


def _rows(*specs):
    return [
        (i, BASE + dt.timedelta(seconds=s), float(v)) for i, (s, v) in enumerate(specs)
    ]


def _start(spark, src, sink, ckpt):
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    agg = (
        stream.withWatermark("ts", "30 seconds")
        .groupBy(F.window("ts", "60 seconds").alias("w"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(F.col("w.start").alias("ws"), "total", "n")
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )


def test_restart_resumes_and_emits_exactly_once(spark, tmp_path, state_provider):
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))

    # phase 1: two early windows + a watermark pusher that closes them
    spark.createDataFrame(
        _rows((10, 1.0), (70, 2.0), (600, 0.5)), SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    q = _start(spark, src, sink, ckpt)
    q.processAllAvailable()
    q.stop()

    emitted_phase1 = spark.read.parquet(sink).count()
    assert emitted_phase1 >= 2  # both early windows closed and written

    # phase 2: RESTART from checkpoint; a late-window row + final pusher
    spark.createDataFrame(
        _rows((660, 3.0), (1800, 0.25)), SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    q2 = _start(spark, src, sink, ckpt)
    q2.processAllAvailable()
    q2.stop()

    out = spark.read.parquet(sink).collect()
    by_window = {}
    for r in out:
        assert r.ws not in by_window, f"window {r.ws} emitted twice across restart"
        by_window[r.ws] = (r.total, r.n)

    # every closed window exactly once, with the right totals
    assert by_window[BASE] == (1.0, 1)
    assert by_window[BASE + dt.timedelta(seconds=60)] == (2.0, 1)
    assert by_window[BASE + dt.timedelta(seconds=600)] == (0.5, 1)
    assert by_window[BASE + dt.timedelta(seconds=660)] == (3.0, 1)


def test_changelog_stream_state_survives_restart(spark, tmp_path, state_provider):
    """applyInPandasWithState recovery: ctr_changelog_stream restarted
    from its checkpoint continues each ad's per-record seq exactly
    where it stopped — no replays (offsets committed), no gaps (state
    recovered) — the changelog-topic durability story (SURVEY §4.2)
    for the custom-stateful path."""
    from streams_prototyping_spark.streaming.pipelines import ctr_changelog_stream

    schema = "ad_id long, impression_id long, imp_ts timestamp, was_clicked boolean"
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")

    def rows(*specs):
        return [
            (ad, imp, BASE + dt.timedelta(seconds=s), bool(c))
            for (ad, imp, s, c) in specs
        ]

    # memory sink cannot recover from a checkpoint; foreachBatch to a
    # parquet dir is the durable-update-sink pattern (streaming/sinks.py)
    def start(out_dir):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def write_batch(df, _epoch):
            df.write.mode("append").parquet(out_dir)

        return (
            ctr_changelog_stream(stream)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .start()
        )

    # phase 1: 3 records of ad 5, 1 of ad 6
    spark.createDataFrame(
        rows((5, 1, 0, True), (5, 2, 1, False), (5, 3, 2, False), (6, 4, 3, True)),
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    out1 = str(tmp_path / "out1")
    q = start(out1)
    q.processAllAvailable()
    q.stop()
    p1 = spark.read.parquet(out1).collect()
    assert max(r.seq for r in p1 if r.ad_id == 5) == 3
    assert max(r.seq for r in p1 if r.ad_id == 6) == 1

    # phase 2: restart from checkpoint, 2 more of ad 5, 1 of ad 6
    spark.createDataFrame(
        rows((5, 7, 10, True), (5, 8, 11, False), (6, 9, 12, False)), schema
    ).coalesce(1).write.mode("append").parquet(src)
    out2 = str(tmp_path / "out2")
    q2 = start(out2)
    q2.processAllAvailable()
    q2.stop()
    p2 = sorted(
        spark.read.parquet(out2).collect(), key=lambda r: (r.ad_id, r.seq)
    )

    # only the NEW records emit (no replay), and seq + counters resume
    # from the recovered state, not from zero
    assert [(r.ad_id, r.seq, r.impression_id) for r in p2] == [
        (5, 4, 7), (5, 5, 8), (6, 2, 9)
    ]
    last5 = p2[1]
    assert (last5.n_clicked, last5.n_unclicked) == (2, 3)  # 1+3 old, 1+1 new


def test_stream_stream_join_state_under_both_providers(
    spark, tmp_path, state_provider
):
    """The reference's stream-stream join state (StreamStreamJoin.java's
    windowed left outer) held in the parameterized provider: matched
    and unmatched impressions both emit exactly once, with the
    unmatched null-flag row flushed on watermark close — same result
    under HDFS-backed and RocksDB state stores."""
    from streams_prototyping_spark.streaming.pipelines import (
        ads_with_clicks_stream,
    )
    from streams_prototyping_spark.streaming.sources import create_stream

    imp_schema = "impression_id long, imp_ts timestamp, user_id long, ad_id long"
    clk_schema = "click_id long, click_ts timestamp, c_user_id long"
    isrc, csrc, sink, ckpt = (
        str(tmp_path / d) for d in ("imp", "clk", "sink", "ckpt")
    )
    t = lambda s: BASE + dt.timedelta(seconds=s)  # noqa: E731
    # user 1 clicks within the 60 s window, user 2 never clicks;
    # far-future sentinels push both watermarks so the outer row flushes
    spark.createDataFrame(
        [(1, t(0), 1, 10), (2, t(5), 2, 11), (-1, t(7200), -1, -1)], imp_schema
    ).coalesce(1).write.parquet(isrc)
    spark.createDataFrame(
        [(100, t(30), 1), (-1, t(7200), -1)], clk_schema
    ).coalesce(1).write.parquet(csrc)

    s_imp = spark.readStream.schema(imp_schema).parquet(isrc)
    s_clk = spark.readStream.schema(clk_schema).parquet(csrc)
    q = (
        ads_with_clicks_stream(s_imp, s_clk)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    rows = {
        r.impression_id: r.was_clicked
        for r in spark.read.parquet(sink).collect()
        if r.impression_id != -1
    }
    assert rows == {1: True, 2: False}


def test_checkpoint_from_old_partition_floor_keeps_its_partitions(spark, tmp_path):
    """A windowed_avg_stream checkpoint first started at 8 state
    partitions (what the sizing rule's former floor of 8 gave every
    small state) and restarted through start_stateful, whose rule now
    picks 1 for this state, keeps its 8 partitions: Spark replays the
    count pinned at the first checkpoint. A window that straddles the
    restart proves the state came back, and every closed window equals
    the batch aggregate of the same rows."""
    from streams_prototyping_spark.streaming.pipelines import (
        WINDOW_S,
        windowed_avg_stream,
    )
    from streams_prototyping_spark.streaming.state_sizing import (
        recommended_state_partitions,
        start_stateful,
    )

    schema = "ts timestamp, value double"
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))

    def add(*specs):
        rows = [(BASE + dt.timedelta(seconds=s), float(v)) for s, v in specs]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        return rows

    def stream():
        events = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        return windowed_avg_stream(events.parquet(src))

    # phase 1: started the way the old floor did, at 8 partitions; the
    # 200 s row opens the window [180, 210) and closes [0, 30), [30, 60)
    rows = add((0, 1.0), (20, 3.0), (35, 5.0)) + add((200, 7.0))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            stream().writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.processAllAvailable()
    q.stop()

    # phase 2: restart through start_stateful; 205 s lands in the open
    # window [180, 210), 500 s closes it and [210, 240)
    rows += add((205, 2.0), (210, 4.0)) + add((500, 6.0))
    assert recommended_state_partitions(3) == 1
    q2 = start_stateful(
        stream(),
        est_state_rows=3,
        format="parquet",
        output_mode="append",
        checkpoint_dir=ckpt,
        options={"path": sink},
    )
    q2.processAllAvailable()
    q2.stop()
    assert [op["numShufflePartitions"] for op in q2.lastProgress["stateOperators"]] == [8]
    state0 = tmp_path / "ckpt" / "state" / "0"
    assert sum(1 for p in state0.iterdir() if p.name.isdigit()) == 8

    # batch aggregate of the same rows, over the windows the final
    # watermark (max event time - 60 s) has closed
    watermark = max(ts for ts, _ in rows) - dt.timedelta(seconds=60)
    width = dt.timedelta(seconds=WINDOW_S)
    windows = {}
    for ts, v in rows:
        start = BASE + ((ts - BASE) // width) * width
        windows.setdefault(start, []).append(v)
    expected = {
        start: (sum(2 * v for v in vs) / len(vs), sum(vs) / len(vs), len(vs))
        for start, vs in windows.items()
        if start + width <= watermark
    }
    got = {}
    for r in spark.read.parquet(sink).collect():
        assert r.window_start not in got, f"window {r.window_start} emitted twice"
        got[r.window_start] = (r.avg_x2, r.avg_v, r.n_events)
    assert len(expected) == 4 and expected[BASE + dt.timedelta(seconds=180)][2] == 2
    assert got == expected
