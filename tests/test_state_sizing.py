"""State-partition auto-sizing (VERDICT r5 item 4): the round-5 A/B
proved stateful-query throughput is per-batch state-COMMIT-bound — 8
state partitions ~2x the throughput of 32 on the same workload, and
the 4-core grids (BASELINE.md) found the same below 8. These tests pin
the rule that turns that finding into code: state volume alone sets
the count."""

import json

from streams_prototyping_spark.streaming.state_sizing import (
    MAX_PARTITIONS,
    configure_stateful_shuffle,
    estimate_join_state_rows,
    recommended_state_partitions,
)


def test_estimate_join_state_rows():
    # 100k rows/s per side, 60 s watermark + 60 s join window, 2 sides
    assert estimate_join_state_rows(100_000, 60, 60) == 100_000 * 120 * 2
    # windowed aggregate: single side, no join window
    assert estimate_join_state_rows(1000, 30, 0, n_sides=1) == 30_000


def test_small_state_gets_the_ab_winner_not_the_core_count():
    """The A/B regime: ~2M resident rows x 64 B = 128 MiB of state.
    The rule must pick the low-partition configuration (the measured
    ~268k rows/s cell), NOT the 32-core default (the ~142k cell)."""
    n = recommended_state_partitions(2_000_000, row_width_bytes=64)
    assert n == 1  # 128 MiB fits one 256 MiB partition


def test_partitions_scale_with_state_volume():
    # 1e10 rows x 64 B = 640 GiB -> 2560 partitions, clamped to the cap
    assert recommended_state_partitions(10**10, 64) == MAX_PARTITIONS
    # 8 GiB of state -> 32 partitions of 256 MiB each
    assert recommended_state_partitions((8 << 30) // 64, 64) == 32
    # zero state still gets one partition
    assert recommended_state_partitions(0, 64) == 1
    # one row past a partition's target opens the next partition
    assert recommended_state_partitions((256 << 20) // 64 + 1, 64) == 2


def test_tuned_ab_workload_picks_the_measured_winner():
    """The --tuned A/B workload (offered 133k rows/s, 120 s horizon):
    the conservative offered-rate estimate is ~16M rows = 0.95 GiB, and
    the rule must land on 4 partitions of 256 MiB — under the 32-core
    commit-cost cliff (16 partitions measured 140k rows/s, 8 measured
    221k), where the 4-core grid (BASELINE.md) measured 4 partitions
    ahead of 8."""
    est = estimate_join_state_rows(133_333, 60, 60, n_sides=1)
    assert recommended_state_partitions(est, 64) == 4


def test_monotone_in_state_size():
    prev = 0
    for rows in (0, 10**5, 10**7, 10**8, 10**9, 10**10):
        n = recommended_state_partitions(rows, 64)
        assert n >= prev
        prev = n


def test_configure_sets_shuffle_partitions(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        n = configure_stateful_shuffle(spark, 2_000_000, 64)
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


_SHUFFLE = "spark.sql.shuffle.partitions"
_PROVIDER = "spark.sql.streaming.stateStore.providerClass"


def _pinned(ckpt):
    """(state partitions, offsets/0 conf): what a query's checkpoint
    pinned on disk — one state/0/<partition-id> directory per state
    partition, and the SQL conf recorded with micro-batch 0's offsets,
    which Spark replays on every restart."""
    parts = sum(1 for p in (ckpt / "state" / "0").iterdir() if p.name.isdigit())
    meta = json.loads((ckpt / "offsets" / "0").read_text().splitlines()[1])
    return parts, meta["conf"]


def _session_settings(spark):
    return {k: spark.conf.get(k, None) for k in (_SHUFFLE, _PROVIDER)}


def test_start_stateful_pins_sized_partitions_at_checkpoint(spark, sf_dir, tmp_path):
    """VERDICT r6 item 1: the production pipeline path itself must land
    on the rule's partition count. Start ads_with_clicks_stream through
    start_stateful() on a FRESH checkpoint and verify the count and
    provider that got PINNED INTO THE CHECKPOINT (the on-disk facts
    Spark replays forever after) equal the rules' picks, not the
    session default — and that the session's own settings are left as
    they were."""
    import pyspark.sql.functions as F

    from streams_prototyping_spark.data import load_table
    from streams_prototyping_spark.streaming.pipelines import ads_with_clicks_stream
    from streams_prototyping_spark.streaming.sources import create_stream
    from streams_prototyping_spark.streaming.state_sizing import (
        _HDFS_PROVIDER,
        _ROCKSDB_PROVIDER,
        executor_heap_bytes,
        recommend_state_provider,
        start_stateful,
    )

    before = _session_settings(spark)
    ev = load_table(spark, sf_dir, "events").limit(200)
    imp = ev.select(
        F.col("event_id").alias("impression_id"),
        F.col("ts").alias("imp_ts"),
        "user_id",
        (F.col("user_id") % 10).cast("long").alias("ad_id"),
    )
    clk = ev.select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("user_id").alias("c_user_id"),
    )
    ipath, cpath = str(tmp_path / "imp"), str(tmp_path / "clk")
    imp.write.parquet(ipath)
    clk.write.parquet(cpath)
    s_imp = create_stream(spark, "imp", imp.schema, transport="file", path=ipath)
    s_clk = create_stream(spark, "clk", clk.schema, transport="file", path=cpath)

    # A 300k rows/s-per-side production estimate -> ~4.3 GiB of state ->
    # not the session default: proves the value flowed through the rule
    est = estimate_join_state_rows(300_000, 60, 60, n_sides=2)
    expected = recommended_state_partitions(est)
    assert expected == 18 and str(expected) != before[_SHUFFLE]
    want_provider = recommend_state_provider(est, 64, executor_heap_bytes(spark))
    q = start_stateful(
        ads_with_clicks_stream(s_imp, s_clk, watermark="60 seconds"),
        rows_per_second=300_000,
        watermark_seconds=60,
        join_window_seconds=60,
        n_sides=2,
        format="memory",
        output_mode="append",
        query_name="ssj_sized",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert _session_settings(spark) == before
    q.processAllAvailable()
    q.stop()
    parts, conf = _pinned(tmp_path / "ckpt")
    assert parts == expected
    assert conf[_SHUFFLE] == str(expected)
    assert conf[_PROVIDER] == (
        _ROCKSDB_PROVIDER if want_provider == "rocksdb" else _HDFS_PROVIDER
    )
    assert _session_settings(spark) == before


def test_mem_str_parsing():
    from streams_prototyping_spark.streaming.state_sizing import _mem_str_bytes

    assert _mem_str_bytes("8g") == 8 << 30
    assert _mem_str_bytes("512m") == 512 << 20
    assert _mem_str_bytes("24576k") == 24576 << 10
    assert _mem_str_bytes("1073741824") == 1 << 30
    assert _mem_str_bytes("1.5g") == int(1.5 * (1 << 30))
    # Spark also accepts two-letter suffixes (ADVICE r7: '512mb' read
    # as the 1g fallback would overestimate the heap and hold the HDFS
    # provider in the JVM-death regime the flip exists to avoid)
    assert _mem_str_bytes("512mb") == 512 << 20
    assert _mem_str_bytes("8GB") == 8 << 30
    assert _mem_str_bytes("24576kb") == 24576 << 10


def test_heap_fallback_warns():
    """An unparseable heap string must not SILENTLY become 1 GiB.
    spark.driver.memory is a static conf, so drive the fallback path
    through a stub session rather than mutating the live one."""
    import warnings as _w

    from streams_prototyping_spark.streaming.state_sizing import (
        executor_heap_bytes,
    )

    class _Conf:
        def get(self, key, default=None):
            return "local[4]" if key == "spark.master" else "not-a-size"

    class _Stub:
        conf = _Conf()

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        assert executor_heap_bytes(_Stub()) == 1 << 30
    assert any("state_sizing" in str(c.message) for c in caught)


def test_provider_crossover_rule():
    """BASELINE.md soak rule: HDFS under half-heap RESIDENT state,
    RocksDB at/past it (3.5 GiB state on a 3 GiB heap killed the JVM;
    RocksDB ran healthy at 10x). Round 9: the decision inflates the
    width estimate by the measured HDFS resident factor (~5× — the
    keeping-up A/B's HDFS cell died at 8.6M × 64B-estimated rows on a
    3 GiB heap with actual residency 316 B/row), so the flip fires at
    half-heap of RESIDENT bytes, not serialized bytes."""
    from streams_prototyping_spark.streaming.state_sizing import (
        HDFS_RESIDENT_BYTES_PER_WIDTH_BYTE,
        recommend_state_provider,
    )

    heap = 3 << 30
    f = HDFS_RESIDENT_BYTES_PER_WIDTH_BYTE
    # the r6 soak's fatal HDFS cell: 3.6M rows x 512B ~ 1.8 GiB > half
    assert recommend_state_provider(3_600_000, 512, heap) == "rocksdb"
    # the r5 A/B regime: 2M x 64B = 128 MiB serialized (~640 MiB
    # resident) on an 8 GiB heap -> HDFS wins
    assert recommend_state_provider(2_000_000, 64, 8 << 30) == "hdfs"
    # the r9 keeping-up A/B's fatal cell: est 12.96M x 64B = 791 MiB
    # serialized looked safe under the old rule, actual residency
    # crossed half-heap at 140 s and OOM'd — must now flip
    assert recommend_state_provider(12_960_000, 64, heap) == "rocksdb"
    # boundary in resident bytes: exactly half the heap flips
    rows_at_half = int((heap // 2) / (64 * f))
    assert recommend_state_provider(rows_at_half + 1, 64, heap) == "rocksdb"
    assert recommend_state_provider(rows_at_half - 1, 64, heap) == "hdfs"


def test_start_stateful_auto_flips_provider(spark, sf_dir, tmp_path):
    """A state estimate past half the executor heap must start the
    query on the RocksDB provider (and a small one must start on — or
    return to — HDFS), because the HDFS ceiling is JVM death and the
    provider pins at the first checkpoint like the partition count.
    Both land in the checkpoint; neither stays in the session."""
    import pyspark.sql.functions as F

    from streams_prototyping_spark.data import load_table
    from streams_prototyping_spark.streaming.pipelines import windowed_avg_stream
    from streams_prototyping_spark.streaming.sources import create_stream
    from streams_prototyping_spark.streaming.state_sizing import (
        executor_heap_bytes,
        start_stateful,
    )

    before = _session_settings(spark)
    events = load_table(spark, sf_dir, "events").select("ts", "value").limit(50)
    path = str(tmp_path / "ev")
    events.write.parquet(path)
    heap = executor_heap_bytes(spark)
    big = (heap // 2) // 64 + 1  # rows such that est state > half heap
    for est, want in ((big, "RocksDB"), (1000, "HDFS")):
        stream = create_stream(spark, "ev", events.schema, transport="file", path=path)
        q = start_stateful(
            windowed_avg_stream(stream),
            est_state_rows=est,
            format="memory",
            output_mode="complete",
            query_name=f"wavg_{want}",
            checkpoint_dir=str(tmp_path / f"ckpt_{want}"),
        )
        q.processAllAvailable()
        q.stop()
        parts, conf = _pinned(tmp_path / f"ckpt_{want}")
        assert want in conf[_PROVIDER]
        assert parts == recommended_state_partitions(est)
        assert _session_settings(spark) == before
