"""Stateful streaming operator tests: file-fed microbatches → memory sink,
deterministic batch sequencing (reference uses probe-driven demand; here the
batch boundary is the determinism tool)."""

from __future__ import annotations

import json
import time
from functools import partial

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from akka_stream_contrib_spark.streaming import (
    accumulate_while_unchanged_stream,
    token_throttle_stream,
)


def _feed_json(dirpath, name, rows):
    p = dirpath / name
    p.write_text("\n".join(json.dumps(r) for r in rows))


def _await_rows(spark, view, n, timeout_s=60):
    t0 = time.monotonic()
    while time.monotonic() - t0 < timeout_s:
        if spark.sql(f"select count(*) c from {view}").collect()[0].c >= n:
            return True
        time.sleep(0.4)
    return False


def test_token_throttle_stream_accounting(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    # batch 1: 10 tokens, elements costing 4+4 affordable, 5 must wait
    _feed_json(feed, "b1.json", [
        {"key": 1, "is_token": True, "amount": 10, "seq": None, "cost": None},
        {"key": 1, "is_token": False, "amount": None, "seq": 1, "cost": 4},
        {"key": 1, "is_token": False, "amount": None, "seq": 2, "cost": 4},
        {"key": 1, "is_token": False, "amount": None, "seq": 3, "cost": 5},
    ])
    schema = "key long, is_token boolean, amount long, seq long, cost long"
    src = spark.readStream.schema(schema).json(str(feed))
    out = token_throttle_stream(src, key_col="key")
    q = (out.writeStream.format("memory").queryName("tts")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(processingTime="1 second").start())
    try:
        assert _await_rows(spark, "tts", 2)
        got = {(r.seq, r.cost) for r in spark.sql("select * from tts").collect()}
        assert got == {(1, 4), (2, 4)}  # seq 3 unaffordable: balance 2 < 5
        # batch 2: 3 more tokens → seq 3 becomes affordable (balance 5)
        _feed_json(feed, "b2.json", [
            {"key": 1, "is_token": True, "amount": 3, "seq": None, "cost": None},
        ])
        assert _await_rows(spark, "tts", 3)
        got = {(r.seq, r.cost) for r in spark.sql("select * from tts").collect()}
        assert got == {(1, 4), (2, 4), (3, 5)}
    finally:
        q.stop()


def test_accumulate_while_unchanged_stream_runs(spark, tmp_path):
    feed = tmp_path / "feed2"
    feed.mkdir()
    _feed_json(feed, "b1.json", [
        {"key": 1, "seq": 1, "prop": "a"},
        {"key": 1, "seq": 2, "prop": "a"},
        {"key": 1, "seq": 3, "prop": "b"},   # closes run 'a' (cnt=2)
        {"key": 2, "seq": 1, "prop": "x"},
    ])
    schema = "key long, seq long, prop string"
    src = spark.readStream.schema(schema).json(str(feed))
    out = accumulate_while_unchanged_stream(src)
    q = (out.writeStream.format("memory").queryName("awus")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(processingTime="1 second").start())
    try:
        assert _await_rows(spark, "awus", 1)
        got = {(r.key, r.prop, r.cnt, r.first_seq)
               for r in spark.sql("select * from awus").collect()}
        assert got == {(1, "a", 2, 1)}
        # next batch: 'b' run for key 1 closes when 'c' arrives; key 2 'x'
        # closes on property change too
        _feed_json(feed, "b2.json", [
            {"key": 1, "seq": 4, "prop": "c"},
            {"key": 2, "seq": 2, "prop": "y"},
        ])
        assert _await_rows(spark, "awus", 3)
        got = {(r.key, r.prop, r.cnt, r.first_seq)
               for r in spark.sql("select * from awus").collect()}
        assert got == {(1, "a", 2, 1), (1, "b", 1, 3), (2, "x", 1, 1)}
    finally:
        q.stop()


def test_session_window_streaming_with_watermark(spark, tmp_path):
    # durable form of AccumulateWhileUnchanged maxDuration: event-time
    # session windows + watermark (late data discipline)
    feed = tmp_path / "feed3"
    feed.mkdir()
    _feed_json(feed, "b1.json", [
        {"user_id": 1, "ts": "2024-01-01T00:00:00", "value": 1.0},
        {"user_id": 1, "ts": "2024-01-01T00:05:00", "value": 2.0},
        {"user_id": 1, "ts": "2024-01-01T01:00:00", "value": 3.0},
    ])
    src = (spark.readStream.schema("user_id long, ts timestamp, value double")
           .json(str(feed)))
    agg = (src.withWatermark("ts", "10 minutes")
           .groupBy("user_id", F.session_window("ts", "10 minutes"))
           .agg(F.count(F.lit(1)).alias("cnt")))
    q = (agg.writeStream.format("memory").queryName("sessw")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck3"))
         .trigger(processingTime="1 second").start())
    try:
        # first session (2 events) closes once watermark passes 00:15
        assert _await_rows(spark, "sessw", 1, timeout_s=60)
        rows = spark.sql("select * from sessw").collect()
        assert rows[0].cnt == 2
    finally:
        q.stop()


def test_keep_alive_transformwithstate_timers(spark, tmp_path):
    """transformWithState variant: per-key timers emit repeat-last
    heartbeats while the feed is idle."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas needs the protobuf python package "
               "(pypi 'protobuf' >= 4.25, import name google.protobuf — "
               "absent in this container and no-install policy applies); "
               "tws.py is the forward-path impl, exercised wherever "
               "`import google.protobuf` succeeds")
    import time as _time
    from akka_stream_contrib_spark.streaming.tws import keep_alive_tws

    feed = tmp_path / "twsfeed"
    feed.mkdir()
    (feed / "b1.json").write_text('{"key": 1, "value": 42}')
    src = spark.readStream.schema("key long, value long").json(str(feed))
    q = (keep_alive_tws(src, interval_ms=1500)
         .writeStream.format("memory").queryName("ka_tws")
         .option("checkpointLocation", str(tmp_path / "twsck"))
         .trigger(processingTime="500 milliseconds").start())
    try:
        t0 = _time.monotonic()
        hb = []
        while _time.monotonic() - t0 < 60:
            rows = spark.sql("SELECT * FROM ka_tws").collect()
            hb = [r for r in rows if r.is_heartbeat]
            if len(hb) >= 2:
                break
            _time.sleep(0.5)
        passthrough = [r for r in spark.sql("SELECT * FROM ka_tws").collect()
                       if not r.is_heartbeat]
        assert [(r.key, r.value) for r in passthrough] == [(1, 42)]
        assert len(hb) >= 2 and all(r.value == 42 and r.key == 1 for r in hb)
    finally:
        q.stop()


def test_stream_stream_join_event_time_band(spark, tmp_path):
    """Stream-stream inner join with watermarks on both sides and an
    event-time band constraint — the fan-in shape the reference coordinates
    with 2-ary stages, on Spark's state-store join machinery. Watermarks +
    the band bound both sides' state, which is what makes the join runnable
    on unbounded streams."""
    imp_dir, clk_dir = tmp_path / "imps", tmp_path / "clks"
    imp_dir.mkdir(); clk_dir.mkdir()
    (imp_dir / "i.json").write_text(
        '{"ad_id": 1, "i_ts": "2024-01-01 10:00:00"}\n'
        '{"ad_id": 2, "i_ts": "2024-01-01 10:05:00"}\n')
    (clk_dir / "c.json").write_text(
        '{"c_ad_id": 1, "c_ts": "2024-01-01 10:20:00"}\n'   # within 1h -> match
        '{"c_ad_id": 2, "c_ts": "2024-01-01 12:00:00"}\n'   # outside band -> no match
        '{"c_ad_id": 9, "c_ts": "2024-01-01 10:30:00"}\n')  # no impression
    imps = (spark.readStream.schema("ad_id long, i_ts string").json(str(imp_dir))
            .withColumn("i_ts", F.col("i_ts").cast("timestamp"))
            .withWatermark("i_ts", "2 hours"))
    clks = (spark.readStream.schema("c_ad_id long, c_ts string").json(str(clk_dir))
            .withColumn("c_ts", F.col("c_ts").cast("timestamp"))
            .withWatermark("c_ts", "2 hours"))
    joined = imps.join(
        clks, F.expr("ad_id = c_ad_id AND c_ts >= i_ts "
                     "AND c_ts <= i_ts + INTERVAL 1 HOUR"))
    q = (joined.writeStream.format("memory").queryName("ssj")
         .option("checkpointLocation", str(tmp_path / "ssjck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT ad_id, c_ad_id FROM ssj").collect()
    assert [(r.ad_id, r.c_ad_id) for r in rows] == [(1, 1)]


def test_idempotent_sink_replay_writes_no_duplicates(spark, tmp_path):
    from akka_stream_contrib_spark.streaming import (
        idempotent_parquet_sink,
        read_sink,
    )

    src = tmp_path / "in"
    src.mkdir()
    _feed_json(src, "a.json", [{"k": i, "v": i * 10} for i in range(50)])
    out = str(tmp_path / "out")
    sink = idempotent_parquet_sink(out)
    q = (
        spark.readStream.schema("k long, v long").json(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    first = read_sink(spark, out).collect()
    assert sorted((r.k, r.v) for r in first) == [(i, i * 10) for i in range(50)]
    # simulate the at-least-once window: the sink committed batch 0 but the
    # checkpoint didn't — the engine re-delivers the SAME rows with the SAME
    # batch_id. The write must overwrite, not append.
    replay = spark.createDataFrame([(i, i * 10) for i in range(50)], "k long, v long")
    sink(replay, 0)
    again = read_sink(spark, out).collect()
    assert sorted((r.k, r.v) for r in again) == [(i, i * 10) for i in range(50)]
    # a genuinely new batch id lands in its own partition (append semantics)
    sink(spark.createDataFrame([(99, 990)], "k long, v long"), 1)
    assert read_sink(spark, out).count() == 51


def test_incremental_rollup_matches_batch_recompute(spark, tmp_path):
    from akka_stream_contrib_spark.streaming import incremental_rollup, read_rollup

    src = tmp_path / "in"
    src.mkdir()
    rows1 = [{"ts": f"2024-01-01T{h:02d}:{m:02d}:00", "k": "a", "value": h + m}
             for h in (0, 1) for m in (5, 35)]
    _feed_json(src, "a.json", rows1)
    stream = (spark.readStream.schema("ts timestamp, k string, value double")
              .json(str(src)))
    out = str(tmp_path / "rollup")
    writer = incremental_rollup(stream, out, bucket="1 hour", keys=["k"],
                                watermark="10 hours")
    q = (writer.option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # second increment touches hour 1 only — its bucket partition is upserted
    _feed_json(src, "b.json", [{"ts": "2024-01-01T01:50:00", "k": "a", "value": 100}])
    q = (writer.option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.bucket_id, r.k): (r.n, r.sum_value, r.min_value, r.max_value)
           for r in read_rollup(spark, out).collect()}
    assert got == {
        ("2024-01-01-00-00-00", "a"): (2, 5.0 + 35.0, 5.0, 35.0),
        ("2024-01-01-01-00-00", "a"): (3, 1 + 5 + 1 + 35 + 100.0, 6.0, 100.0),
    }


def test_composite_streaming_pipeline_end_to_end(spark, tmp_path):
    """The streaming analogue of training_prep: file source -> watermarked
    exact dedup -> tumbling per-type aggregation -> idempotent parquet sink,
    across two restarts of the same checkpointed query."""
    from akka_stream_contrib_spark.streaming import incremental_rollup

    src = tmp_path / "in"
    src.mkdir()
    rows = [{"ts": f"2024-03-01T10:{m:02d}:00", "k": t, "value": float(v), "uid": u}
            for u, (m, t, v) in enumerate([
                (1, "click", 10), (2, "click", 10), (10, "view", 5)])]
    # duplicate uid 0 row arrives again (same uid => dropped by dedup)
    rows.append(dict(rows[0]))
    _feed_json(src, "a.json", rows)
    stream = (
        spark.readStream.schema("ts timestamp, k string, value double, uid long")
        .json(str(src))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["uid"])
    )
    out = str(tmp_path / "agg")
    writer = incremental_rollup(stream, out, bucket="30 minutes", keys=["k"],
                                watermark=None)  # watermark already applied
    q = (writer.option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # restart with late-but-in-watermark data + another duplicate
    _feed_json(src, "b.json", [
        {"ts": "2024-03-01T10:20:00", "k": "click", "value": 7.0, "uid": 50},
        {"ts": "2024-03-01T10:02:00", "k": "click", "value": 10.0, "uid": 1},
    ])
    q = (writer.option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.bucket_id, r.k): (r.n, r.sum_value)
           for r in spark.read.parquet(out).collect()}
    # uid-1 duplicate dropped both times; late uid-50 row upserted the bucket
    assert got == {("2024-03-01-10-00-00", "click"): (3, 27.0),
                   ("2024-03-01-10-00-00", "view"): (1, 5.0)}


def test_rollup_retention_expires_old_buckets(spark, tmp_path):
    from akka_stream_contrib_spark.streaming import (
        expire_buckets,
        incremental_rollup,
    )

    src = tmp_path / "in"
    src.mkdir()
    _feed_json(src, "a.json", [
        {"ts": "2024-01-01T00:10:00", "k": "a", "value": 1.0},
        {"ts": "2024-01-02T00:10:00", "k": "a", "value": 2.0},
        {"ts": "2024-01-03T00:10:00", "k": "a", "value": 3.0},
    ])
    out = str(tmp_path / "rollup")
    stream = (spark.readStream.schema("ts timestamp, k string, value double")
              .json(str(src)))
    q = (incremental_rollup(stream, out, bucket="1 day", keys=["k"])
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert expire_buckets(spark, out, "2024-01-02-00-00-00") == 1
    left = {r.bucket_id for r in spark.read.parquet(out).collect()}
    assert left == {"2024-01-02-00-00-00", "2024-01-03-00-00-00"}


def test_stream_stream_left_outer_join_emits_unmatched_on_watermark(spark, tmp_path):
    """Left-outer stream-stream join: matched rows emit immediately;
    unmatched left rows must emit with nulls once the watermark passes the
    join band — the state-eviction semantics that bound outer-join state on
    unbounded streams."""
    imp_dir, clk_dir = tmp_path / "imps2", tmp_path / "clks2"
    imp_dir.mkdir(); clk_dir.mkdir()
    (imp_dir / "i.json").write_text(
        '{"ad_id": 1, "i_ts": "2024-01-01 10:00:00"}\n'
        '{"ad_id": 2, "i_ts": "2024-01-01 10:05:00"}\n')
    (clk_dir / "c.json").write_text(
        '{"c_ad_id": 1, "c_ts": "2024-01-01 10:20:00"}\n'   # match within band
        '{"c_ad_id": 7, "c_ts": "2024-01-01 14:00:00"}\n')  # advances watermark
    imps = (spark.readStream.schema("ad_id long, i_ts string").json(str(imp_dir))
            .withColumn("i_ts", F.col("i_ts").cast("timestamp"))
            .withWatermark("i_ts", "10 minutes"))
    clks = (spark.readStream.schema("c_ad_id long, c_ts string").json(str(clk_dir))
            .withColumn("c_ts", F.col("c_ts").cast("timestamp"))
            .withWatermark("c_ts", "10 minutes"))
    joined = imps.join(
        clks,
        F.expr("ad_id = c_ad_id AND c_ts >= i_ts "
               "AND c_ts <= i_ts + INTERVAL 1 HOUR"),
        "left_outer").select("ad_id", "c_ad_id")
    out_dir, ck = str(tmp_path / "ssjo_out"), str(tmp_path / "ssjock")

    def run_once():
        q = (joined.writeStream.format("parquet")
             .option("path", out_dir).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    rows = {(r.ad_id, r.c_ad_id) for r in spark.read.parquet(out_dir).collect()}
    assert (1, 1) in rows            # matched pair emits on the first run
    # unmatched state evicts when a LATER batch advances the watermark —
    # the incremental-run shape every production stream actually has. The
    # GLOBAL watermark is min(imps wm, clks wm), so BOTH sides need later
    # events before anything evicts.
    (clk_dir / "c2.json").write_text(
        '{"c_ad_id": 8, "c_ts": "2024-01-01 18:00:00"}\n')
    (imp_dir / "i2.json").write_text(
        '{"ad_id": 9, "i_ts": "2024-01-01 18:00:00"}\n')
    run_once()
    rows = {(r.ad_id, r.c_ad_id) for r in spark.read.parquet(out_dir).collect()}
    assert (2, None) in rows         # unmatched left, emitted on eviction


def test_sessionize_stream_continues_sessions_across_batches(spark, tmp_path):
    """A session spanning micro-batches must keep one id, and numbering must
    continue where the previous batch stopped — the cross-batch state the
    batch window form cannot provide."""
    from akka_stream_contrib_spark.streaming import sessionize_stream
    src = tmp_path / "sess_src"
    src.mkdir()
    out_dir, ck = str(tmp_path / "sess_out"), str(tmp_path / "sess_ck")
    # batch 1: two events 10s apart (one session)
    (src / "b1.json").write_text(
        '{"user_id": 1, "event_id": 1, "ts": "2024-01-01 10:00:00"}\n'
        '{"user_id": 1, "event_id": 2, "ts": "2024-01-01 10:00:10"}\n')
    stream = (spark.readStream
              .schema("user_id long, event_id long, ts string").json(str(src))
              .withColumn("ts", F.col("ts").cast("timestamp")))
    sess = sessionize_stream(stream, gap_s=60)

    def run_once():
        q = (sess.writeStream.format("parquet")
             .option("path", out_dir).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    # batch 2: one event 20s after the last (SAME session), then a 2h gap
    (src / "b2.json").write_text(
        '{"user_id": 1, "event_id": 3, "ts": "2024-01-01 10:00:30"}\n'
        '{"user_id": 1, "event_id": 4, "ts": "2024-01-01 12:00:30"}\n')
    run_once()
    got = {r.event_id: (r.session_id, r.session_pos)
           for r in spark.read.parquet(out_dir).collect()}
    assert got == {1: (1, 1), 2: (1, 2),
                   3: (1, 3),   # continued across the batch boundary
                   4: (2, 1)}   # new session after the gap


def test_heavy_hitters_stream_accumulates_across_batches(spark, tmp_path):
    """Counters persist across micro-batches and runs: the second run's
    snapshot reflects batch-1 + batch-2 totals (capacity above the distinct
    count -> MG counts are exact here), and every item stays in exactly one
    bucket."""
    from akka_stream_contrib_spark.streaming import heavy_hitters_stream
    src = tmp_path / "hh_src"
    src.mkdir()
    out_dir, ck = str(tmp_path / "hh_out"), str(tmp_path / "hh_ck")
    (src / "b1.json").write_text(
        "\n".join(['{"item": "a"}'] * 5 + ['{"item": "b"}'] * 3
                  + ['{"item": "c"}']) + "\n")
    stream = spark.readStream.schema("item string").json(str(src))
    hh = heavy_hitters_stream(stream, n_buckets=4, capacity=64)

    def run_once():
        q = (hh.writeStream.format("parquet")
             .option("path", out_dir).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    (src / "b2.json").write_text(
        "\n".join(['{"item": "a"}'] * 4 + ['{"item": "d"}'] * 2) + "\n")
    run_once()
    rows = spark.read.parquet(out_dir).collect()
    # latest snapshot per (bucket, item): max mg_count (counts only grow
    # while capacity is not exceeded)
    latest = {}
    for r in rows:
        latest[r.item] = max(latest.get(r.item, 0), r.mg_count)
    assert latest == {"a": 9, "b": 3, "c": 1, "d": 2}
    buckets = {}
    for r in rows:
        buckets.setdefault(r.item, set()).add(r.bucket)
    assert all(len(bs) == 1 for bs in buckets.values())


def test_incremental_dedup_sink_first_seen_across_batches(spark, tmp_path):
    """Streaming first-seen dedup: the on-disk hash index is the memory, so
    dedup spans micro-batches AND process restarts with no state horizon."""
    from akka_stream_contrib_spark.streaming import incremental_dedup_sink

    out = str(tmp_path / "dedup_out")
    sink = incremental_dedup_sink(out)
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha"), (3, "beta")], "doc_id bigint, text string")
    b2 = spark.createDataFrame(
        [(4, "alpha"), (5, "gamma"), (6, "beta"), (7, "gamma")],
        "doc_id bigint, text string")
    sink(b1, 0)
    sink(b2, 1)
    docs = {r.doc_id for r in spark.read.parquet(f"{out}/docs").collect()}
    # batch 1: first-seen per content -> {1, 3}; batch 2: only "gamma" is new
    assert docs == {1, 3, 5}
    # a "restarted" sink instance sees the same index (disk, not memory)
    sink2 = incremental_dedup_sink(out)
    b3 = spark.createDataFrame(
        [(8, "beta"), (9, "delta")], "doc_id bigint, text string")
    sink2(b3, 2)
    docs = {r.doc_id for r in spark.read.parquet(f"{out}/docs").collect()}
    assert docs == {1, 3, 5, 9}


def test_ohlc_stream_matches_batch_candles(spark, tmp_path):
    # streaming tick->bar twin: closed windows must equal the batch
    # ohlc_resample candles for the same ticks
    from akka_stream_contrib_spark.streaming.rollup import ohlc_stream
    feed = tmp_path / "ticks"
    feed.mkdir()
    _feed_json(feed, "b1.json", [
        {"event_id": 1, "user_id": 1, "ts": "2024-01-01T00:05:00", "value": 10.0},
        {"event_id": 2, "user_id": 1, "ts": "2024-01-01T00:20:00", "value": 30.0},
        {"event_id": 3, "user_id": 1, "ts": "2024-01-01T00:50:00", "value": 20.0},
        # a later-hour tick pushes the watermark past the first window
        {"event_id": 4, "user_id": 1, "ts": "2024-01-01T03:30:00", "value": 5.0},
    ])
    src = (spark.readStream
           .schema("event_id long, user_id long, ts timestamp, value double")
           .json(str(feed)))
    bars = ohlc_stream(src, bucket="1 hour", watermark="1 hour")
    q = (bars.writeStream.format("memory").queryName("ohlc_bars")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_ohlc"))
         .trigger(processingTime="1 second").start())
    try:
        assert _await_rows(spark, "ohlc_bars", 1, timeout_s=60)
        rows = spark.sql("select * from ohlc_bars").collect()
        first = [r for r in rows
                 if r.window_start.isoformat().startswith("2024-01-01T00")][0]
        assert (first.open, first.high, first.low, first.close, first.n) \
            == (10.0, 30.0, 10.0, 20.0, 3)
    finally:
        q.stop()


def test_histogram_stream_probe_matches_batch_quantiles(spark, tmp_path):
    # the streamed (key, bin) sketch probed for quantiles must equal the
    # batch histogram_quantiles over the same rows — mergeability in action
    from akka_stream_contrib_spark.functions.sketches import (
        histogram_probe, histogram_quantiles)
    from akka_stream_contrib_spark.streaming.rollup import histogram_stream
    feed = tmp_path / "vals"
    feed.mkdir()
    rows1 = [{"event_type": "a", "value": float(v)} for v in range(0, 50)]
    rows2 = [{"event_type": "a", "value": float(v)} for v in range(50, 100)] \
        + [{"event_type": "b", "value": 7.0}] * 10
    _feed_json(feed, "b1.json", rows1)
    _feed_json(feed, "b2.json", rows2)
    src = (spark.readStream
           .schema("event_type string, value double")
           .option("maxFilesPerTrigger", 1)
           .json(str(feed)))
    sketch = histogram_stream(src, lo=0.0, hi=100.0, n_bins=10)
    q = (sketch.writeStream.format("memory").queryName("hist_sketch")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck_hist"))
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    streamed = spark.sql("select key, bin, cnt from hist_sketch")
    got = {(r.key, r.q): (r.est, r.n) for r in histogram_probe(
        streamed, qs=(0.5, 0.9), lo=0.0, hi=100.0, n_bins=10).collect()}
    batch_rows = [("a", float(v)) for v in range(100)] + [("b", 7.0)] * 10
    bdf = spark.createDataFrame(batch_rows, "event_type string, value double")
    want = {(r.key, r.q): (r.est, r.n) for r in histogram_quantiles(
        bdf, key="event_type", value="value", lo=0.0, hi=100.0, n_bins=10,
        qs=(0.5, 0.9)).collect()}
    assert got == want and ("a", 0.5) in got


def test_scd2_sink_streaming_end_to_end(spark, tmp_path):
    """scd2_sink driven by a real foreachBatch stream: two file-fed
    microbatches must leave the same dimension as the batch recompute."""
    from akka_stream_contrib_spark.operators.scd2 import scd2_intervals
    from akka_stream_contrib_spark.streaming import read_scd2, scd2_sink

    feed = tmp_path / "feed"
    feed.mkdir()
    rows_b1 = [
        {"user_id": 1, "event_type": "a", "ts": "2026-01-01 10:00:00",
         "event_id": 1},
        {"user_id": 1, "event_type": "b", "ts": "2026-01-01 10:02:00",
         "event_id": 2},
    ]
    rows_b2 = [
        {"user_id": 1, "event_type": "c", "ts": "2026-01-01 10:04:00",
         "event_id": 3},
        {"user_id": 2, "event_type": "x", "ts": "2026-01-01 10:05:00",
         "event_id": 4},
    ]
    _feed_json(feed, "b1.json", rows_b1)
    schema = "user_id long, event_type string, ts timestamp, event_id long"
    src = spark.readStream.schema(schema).json(str(feed))
    dim = str(tmp_path / "dim")
    q = (src.writeStream
         .foreachBatch(scd2_sink(dim))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(processingTime="1 second").start())
    try:
        t0 = time.monotonic()
        while time.monotonic() - t0 < 60:
            try:
                if read_scd2(spark, dim).count() >= 2:
                    break
            except Exception:
                pass
            time.sleep(0.4)
        _feed_json(feed, "b2.json", rows_b2)
        t0 = time.monotonic()
        while time.monotonic() - t0 < 60:
            try:
                if read_scd2(spark, dim).count() >= 4:
                    break
            except Exception:
                pass
            time.sleep(0.4)
    finally:
        q.stop()
    batch_all = (spark.createDataFrame(
        [tuple(r.values()) for r in rows_b1 + rows_b2],
        "user_id long, event_type string, ts string, event_id long")
        .withColumn("ts", F.to_timestamp("ts")))
    expect = sorted(map(tuple, batch_all.transform(
        scd2_intervals()).collect()))
    got = sorted(map(tuple, read_scd2(spark, dim).collect()))
    assert got == expect


def test_sessionize_stream_late_event_does_not_rewind_clock(spark, tmp_path):
    """Out-of-order-past-the-open-session: a cross-batch late event joins
    the open session WITHOUT rewinding the session clock — a rewound
    last_us would make the next on-time event look past-gap and split a
    continuous session (the r6 hardening fix)."""
    from akka_stream_contrib_spark.streaming import sessionize_stream
    src = tmp_path / "late_src"
    src.mkdir()
    out_dir, ck = str(tmp_path / "late_out"), str(tmp_path / "late_ck")
    (src / "b1.json").write_text(
        '{"user_id": 1, "event_id": 1, "ts": "2024-01-01 10:00:00"}\n'
        '{"user_id": 1, "event_id": 2, "ts": "2024-01-01 10:00:50"}\n')
    stream = (spark.readStream
              .schema("user_id long, event_id long, ts string").json(str(src))
              .withColumn("ts", F.col("ts").cast("timestamp")))
    sess = sessionize_stream(stream, gap_s=60)

    def run_once():
        q = (sess.writeStream.format("parquet")
             .option("path", out_dir).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    # batch 2: a LATE event (before the open session's last ts) plus an
    # on-time event 30s after the true session clock
    (src / "b2.json").write_text(
        '{"user_id": 1, "event_id": 3, "ts": "2024-01-01 09:59:30"}\n'
        '{"user_id": 1, "event_id": 4, "ts": "2024-01-01 10:01:20"}\n')
    run_once()
    got = {r.event_id: (r.session_id, r.session_pos)
           for r in spark.read.parquet(out_dir).collect()}
    # all four belong to ONE session: the late event must not have moved
    # last_us back to 09:59:30 (which would put event 4 past the 60s gap)
    assert got == {1: (1, 1), 2: (1, 2), 3: (1, 3), 4: (1, 4)}


def test_sessionize_stream_restart_under_load_and_replay(spark, tmp_path):
    """Restart with MULTIPLE pending files processed as separate
    micro-batches (maxFilesPerTrigger=1), then an idle restart: state
    resumes across every boundary and the idle run appends nothing."""
    from akka_stream_contrib_spark.streaming import sessionize_stream
    src = tmp_path / "rl_src"
    src.mkdir()
    out_dir, ck = str(tmp_path / "rl_out"), str(tmp_path / "rl_ck")
    (src / "b1.json").write_text(
        '{"user_id": 1, "event_id": 1, "ts": "2024-01-01 10:00:00"}\n')
    stream = (spark.readStream
              .schema("user_id long, event_id long, ts string")
              .option("maxFilesPerTrigger", 1).json(str(src))
              .withColumn("ts", F.col("ts").cast("timestamp")))
    sess = sessionize_stream(stream, gap_s=60)

    def run_once():
        q = (sess.writeStream.format("parquet")
             .option("path", out_dir).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    # two files pending at restart -> two micro-batches in one availableNow
    # run; the session must continue across BOTH internal boundaries.
    # Distinct mtimes pin the file-source admission order (same-ms files
    # are otherwise picked in either order).
    import os
    (src / "b2.json").write_text(
        '{"user_id": 1, "event_id": 2, "ts": "2024-01-01 10:00:30"}\n')
    (src / "b3.json").write_text(
        '{"user_id": 1, "event_id": 3, "ts": "2024-01-01 10:01:00"}\n'
        '{"user_id": 1, "event_id": 4, "ts": "2024-01-01 12:00:00"}\n')
    now = time.time()
    os.utime(src / "b2.json", (now - 10, now - 10))
    os.utime(src / "b3.json", (now, now))
    run_once()
    got = {r.event_id: (r.session_id, r.session_pos)
           for r in spark.read.parquet(out_dir).collect()}
    assert got == {1: (1, 1), 2: (1, 2), 3: (1, 3), 4: (2, 1)}
    # idle restart: same checkpoint, no new files -> no new rows
    n_before = spark.read.parquet(out_dir).count()
    run_once()
    assert spark.read.parquet(out_dir).count() == n_before


def test_sessionize_stream_numbering_matches_the_loop():
    """The vectorized per-key body against the per-event loop it replaced,
    over random micro-batches that carry state, tie on ts and bring
    cross-batch late events."""
    import numpy as np

    from akka_stream_contrib_spark.streaming.stateful import _number_sessions

    def loop(ts, eid, state, gap_us):
        last_us, n_sessions, pos = state
        out = []
        for us, e in sorted(zip(ts.tolist(), eid.tolist())):
            if last_us is None or us - last_us > gap_us:
                n_sessions, pos, last_us = n_sessions + 1, 1, us
            else:
                pos, last_us = pos + 1, max(last_us, us)
            out.append((e, n_sessions, pos))
        return out, (last_us, n_sessions, pos)

    rng = np.random.default_rng(7)
    gap_us = 60_000_000
    for _ in range(200):
        got_state = want_state = (None, 0, 0)
        base, next_eid = 0, 0
        for _ in range(int(rng.integers(1, 5))):
            n = int(rng.integers(1, 12))
            # gaps straddle the session gap; a few land before the clock
            ts = base + np.cumsum(rng.choice(
                [0, 1_000_000, 59_000_000, 61_000_000, 600_000_000], n))
            ts = ts - rng.choice([0, 0, 0, 120_000_000], n)
            eid = rng.permutation(np.arange(next_eid, next_eid + n))
            base, next_eid = int(ts.max()), next_eid + n
            want, want_state = loop(ts, eid, want_state, gap_us)
            e, sid, spos, got_state = _number_sessions(
                ts.astype(np.int64), eid.astype(np.int64), got_state, gap_us)
            assert list(zip(e.tolist(), sid.tolist(), spos.tolist())) == want
            assert got_state == want_state


def _plain(x):
    """Kernel output or state as nested lists, NaN as None, so two
    replays compare with ==."""
    if isinstance(x, np.ndarray):
        x = x.tolist()
    if isinstance(x, (list, tuple)):
        return [_plain(v) for v in x]
    return None if x is None or (isinstance(x, float) and np.isnan(x)) else x


def _replay(kernel, batches):
    """Thread the state through ``batches`` (tuples of column arrays);
    return the per-batch outputs and the final state."""
    outs, state = [], None
    for arrays in batches:
        out, state = kernel("k", arrays, state)
        if out is not None:
            outs.append(_plain(out))
    return outs, _plain(state)


def _cut(rng, cols):
    """Cut stream-ordered columns into 1-5 contiguous micro-batches; rows
    inside a batch arrive in any order."""
    n = len(cols[0])
    bounds = [0, *sorted(rng.choice(np.arange(1, n), min(
        n - 1, int(rng.integers(0, 5))), replace=False).tolist()), n]
    batches = []
    for a, b in zip(bounds, bounds[1:]):
        perm = rng.permutation(b - a)
        batches.append(tuple(c[a:b][perm] for c in cols))
    return batches


def _draw_sessionize(rng, n):
    from akka_stream_contrib_spark.streaming.stateful import _session_kernel
    ts = np.cumsum(rng.choice([0, 1, 59, 61, 600], n)) * 1_000_000
    eid = rng.permutation(n).astype(np.int64)
    order = np.lexsort((eid, ts))
    return partial(_session_kernel, 60_000_000), [ts[order], eid[order]]


def _draw_accumulate(rng, n):
    from akka_stream_contrib_spark.streaming.stateful import _accumulate_kernel
    props = np.array(["a", "b", None, "None"], dtype=object)
    return _accumulate_kernel, [np.arange(n), props[rng.integers(0, 4, n)]]


def _draw_merge(rng, n):
    from akka_stream_contrib_spark.streaming.stateful import (
        CLOSE_INDEX, _merge_kernel)
    idx = np.sort(rng.choice(3 * n, n, replace=False))     # gaps = omissions
    branch = rng.integers(0, 3, n)
    # any interleaving that keeps each branch's idx order, then every close
    when = np.empty(n)
    for b in range(3):
        when[branch == b] = np.sort(rng.random(int((branch == b).sum())))
    arrival = np.argsort(when, kind="stable")
    return partial(_merge_kernel, 3), [
        np.concatenate([branch[arrival], [0, 1, 2]]),
        np.concatenate([idx[arrival], [CLOSE_INDEX] * 3]),
        np.array([f"p{i}" for i in idx[arrival]] + [None] * 3, dtype=object)]


def _draw_throttle(rng, n):
    from akka_stream_contrib_spark.streaming.stateful import _throttle_kernel
    tok = rng.random(n) < 0.3
    seq = np.where(tok, np.nan, np.cumsum(~tok))
    return _throttle_kernel, [tok, np.where(tok, rng.integers(0, 9, n), np.nan),
                              seq, np.where(tok, np.nan, rng.integers(0, 5, n))]


def _draw_delay(rng, n):
    from akka_stream_contrib_spark.streaming import (
        linear_increasing_delay_strategy)
    from akka_stream_contrib_spark.streaming.stateful import _delay_kernel
    strat = linear_increasing_delay_strategy(step_s=1.0, initial_s=0.5,
                                             max_s=3.0)
    flags = np.array([True, False, None], dtype=object)[rng.integers(0, 3, n)]
    ts = (np.datetime64("2026-01-01T00:00:00", "ns")
          + rng.integers(0, 10**12, n).astype("timedelta64[ns]"))
    ts[rng.random(n) < 0.2] = np.datetime64("NaT")
    cols = ["seq", "needs_increase", "ts"]
    return (partial(_delay_kernel, strat, "key", "seq", "ts", cols),
            [np.arange(n), flags, ts])


def _draw_funnel(rng, n):
    from akka_stream_contrib_spark.streaming.funnel import _funnel_kernel
    types = np.array(["view", "click", "purchase", "other", None],
                     dtype=object)[rng.integers(0, 5, n)]
    ts = rng.integers(0, 10**9, n).astype(float)
    ts[rng.random(n) < 0.2] = np.nan
    return partial(_funnel_kernel, ["view", "click", "purchase"]), [types, ts]


@pytest.mark.parametrize("draw,snapshot", [
    (_draw_sessionize, False), (_draw_accumulate, False),
    (_draw_merge, False), (_draw_throttle, False), (_draw_delay, False),
    (_draw_funnel, True)],
    ids=["sessionize", "accumulate", "merge_by_index", "throttle",
         "delay_strategy", "funnel"])
def test_stateful_kernel_is_cut_invariant(draw, snapshot):
    """A stream cut anywhere into micro-batches, state threaded through,
    gives what one batch gives: the same emitted rows in the same order
    and the same final state. Snapshot kernels re-emit their cumulative
    row per batch, so only the last emission is compared."""
    rng = np.random.default_rng(12)
    for _ in range(60):
        kernel, cols = draw(rng, int(rng.integers(1, 40)))
        want, want_state = _replay(kernel, [tuple(cols)])
        got, got_state = _replay(kernel, _cut(rng, cols))
        assert got_state == want_state
        if snapshot:
            assert got[-1:] == want[-1:]
        else:
            assert ([sum(c, []) for c in zip(*got)]
                    == [sum(c, []) for c in zip(*want)])


def test_preference_kernel_best_and_worst_do_not_depend_on_cuts():
    """The batch's best and worst merge into state with the batch form's
    tie-breaks, so any cut ends on the one-batch pair; only the ``upd``
    counter (one per changing batch) differs."""
    from akka_stream_contrib_spark.streaming.stateful import _preference_kernel
    rng = np.random.default_rng(5)
    kernel = partial(_preference_kernel, 1.0)
    for _ in range(60):
        n = int(rng.integers(1, 30))
        score = rng.integers(0, 4, n).astype(float)
        score[rng.random(n) < 0.2] = np.nan
        cand = rng.permutation(n)
        cols = [cand, np.array([f"t{c}" for c in cand], dtype=object), score]
        want, want_state = _replay(kernel, [tuple(cols)])
        got, got_state = _replay(kernel, _cut(rng, cols))
        assert (got_state or [None])[:-1] == (want_state or [None])[:-1]
        assert [o[:-1] for o in got[-1:]] == [o[:-1] for o in want[-1:]]


class _FakeGroupState:
    """The GroupState surface ``_keyed_state``'s body uses."""

    def __init__(self, value=None, timed_out=False):
        self.value, self.hasTimedOut, self.timeout_ms = value, timed_out, None

    @property
    def getOption(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value = None

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def _run_group(kernel, cols, names, chunks, state, timeout_ms=None):
    from akka_stream_contrib_spark.streaming.stateful import _group_fn
    fn = _group_fn(kernel, cols, names, timeout_ms)
    return list(fn(("k",), iter(chunks), state)), state


def test_heavy_hitters_counters_do_not_depend_on_arrow_chunking():
    """Misra-Gries runs once per micro-batch: a batch delivered as one
    Arrow chunk or as many leaves the same counters, even with more
    distinct items than ``capacity``."""
    from akka_stream_contrib_spark.streaming.stateful import _mg_kernel
    rng = np.random.default_rng(3)
    kernel = partial(_mg_kernel, 4)
    for _ in range(30):
        items = pd.DataFrame({"item": [f"i{v}" for v in rng.zipf(1.5, 200)]})
        cuts = np.sort(rng.choice(np.arange(1, 200), 5, replace=False))
        chunks = [items.iloc[a:b] for a, b in zip([0, *cuts], [*cuts, 200])]
        one, s1 = _run_group(kernel, ["item"], ["bucket", "item", "mg_count"],
                             [items], _FakeGroupState())
        many, s2 = _run_group(kernel, ["item"], ["bucket", "item", "mg_count"],
                              chunks, _FakeGroupState())
        assert s1.value == s2.value and len(s1.value[0]) <= 4
        pd.testing.assert_frame_equal(one[0], many[0])


def test_keyed_state_timeout_calls_flush_or_heartbeat():
    """A timeout call reaches the kernel with no arrays: accumulate
    flushes its open run and removes the state, keep_alive re-emits the
    last value and stays armed; a row-less call touches nothing."""
    from akka_stream_contrib_spark.streaming.stateful import (
        _accumulate_kernel, _keep_alive_kernel)
    names = ["key", "prop", "cnt", "first_seq"]
    st = _FakeGroupState(("a", 3, 7), timed_out=True)
    out, st = _run_group(_accumulate_kernel, ["seq", "prop"], names, [], st)
    assert out[0].values.tolist() == [["k", "a", 3, 7]] and st.value is None
    st = _FakeGroupState((None,), timed_out=True)
    out, st = _run_group(_keep_alive_kernel, ["value"],
                         ["key", "value", "is_heartbeat"], [], st, 500)
    assert out[0].values.tolist() == [["k", None, True]]
    assert st.value == (None,) and st.timeout_ms == 500
    st = _FakeGroupState(("a", 1, 1))
    assert _run_group(_accumulate_kernel, ["seq", "prop"], names,
                      [pd.DataFrame({"seq": [], "prop": []})], st)[0] == []
    assert st.value == ("a", 1, 1)


def test_keep_alive_kernel_passes_null_values_through():
    """The batch ``keep_alive_concat`` rule: a NULL value passes through,
    and the heartbeat repeats the last row's value, NULL included."""
    from akka_stream_contrib_spark.streaming.stateful import _keep_alive_kernel
    out, st = _keep_alive_kernel("k", (np.array([4.0, np.nan]),), None)
    assert _plain(out) == [[4.0, None], [False, False]] and st == (None,)
    out, st = _keep_alive_kernel("k", (np.array([np.nan, 9.0]),), st)
    assert st == (9,)
    assert _plain(_keep_alive_kernel("k", None, st)[0]) == [[9], [True]]
    assert _keep_alive_kernel("k", None, None) == (None, None)


def test_interleave_kernel_orders_by_md5_and_continues_positions():
    """Within a batch rows go in (md5(seed, id), id) order, the batch
    form's; positions continue from state and slots truncate at 6 dp."""
    import hashlib
    import math

    from akka_stream_contrib_spark.streaming.stateful import _interleave_kernel
    kernel = partial(_interleave_kernel, {"a": 3.0}, 1.0, "s0")
    phase = (int(hashlib.md5(b"s0:phase:a").hexdigest()[:8], 16)
             % 1_000_000) / 1_000_000.0
    state, seen = None, []
    for batch in ([5, 1, 9], [2, 7], [4]):
        (ids, pos, slot), state = kernel("a", (np.array(batch),), state)
        assert ids == sorted(batch, key=lambda i: hashlib.md5(
            f"s0:ord:{i}".encode()).hexdigest())
        assert slot.tolist() == [
            math.floor((p - phase) / 3.0 * 1_000_000.0) / 1_000_000.0
            for p in pos.tolist()]
        seen += pos.tolist()
    assert seen == list(range(1, 7)) and state == (6,)


def test_sessionize_stream_orders_tied_ts_by_event_id(spark, tmp_path):
    """Events tied on ts are numbered in event_id order, as the batch form
    numbers them, whatever order they land in: the rows arrive in
    descending event_id, so an arrival-order tie break would reverse every
    tied pair's session_pos and differ on a replay with another layout."""
    from akka_stream_contrib_spark.operators import sessionize
    from akka_stream_contrib_spark.streaming import sessionize_stream
    src = tmp_path / "tie_src"
    src.mkdir()
    out_dir, ck = str(tmp_path / "tie_out"), str(tmp_path / "tie_ck")
    # ts by event_id 1..6: two tied runs, then a new session
    stamps = ["10:00:00"] * 3 + ["10:00:30"] * 2 + ["12:00:00"]
    rows = [{"user_id": 1, "event_id": eid,
             "ts": f"2024-01-01 {stamps[eid - 1]}"} for eid in range(6, 0, -1)]
    _feed_json(src, "b1.json", rows)
    schema = "user_id long, event_id long, ts string"
    stream = (spark.readStream.schema(schema).json(str(src))
              .withColumn("ts", F.col("ts").cast("timestamp")))
    q = (sessionize_stream(stream, gap_s=60).writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.event_id: (r.session_id, r.session_pos)
           for r in spark.read.parquet(out_dir).collect()}
    want = {r.event_id: (r.session_id, r.session_pos) for r in
            spark.read.schema(schema).json(str(src))
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .transform(sessionize("user_id", "ts", "event_id", gap_s=60))
            .collect()}
    assert got == want
    assert got[1] == (1, 1) and got[6] == (2, 1)


def test_heavy_hitters_stream_restart_under_load(spark, tmp_path):
    """Two files pending at restart (forced into separate micro-batches),
    then an idle restart: counters accumulate across every boundary, the
    idle run emits nothing, and no item migrates buckets."""
    from akka_stream_contrib_spark.streaming import heavy_hitters_stream
    src = tmp_path / "hhrl_src"
    src.mkdir()
    out_dir, ck = str(tmp_path / "hhrl_out"), str(tmp_path / "hhrl_ck")
    (src / "b1.json").write_text(
        "\n".join(['{"item": "a"}'] * 3 + ['{"item": "b"}']) + "\n")
    stream = (spark.readStream.schema("item string")
              .option("maxFilesPerTrigger", 1).json(str(src)))
    hh = heavy_hitters_stream(stream, n_buckets=4, capacity=64)

    def run_once():
        q = (hh.writeStream.format("parquet")
             .option("path", out_dir).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    (src / "b2.json").write_text(
        "\n".join(['{"item": "a"}'] * 2 + ['{"item": "c"}'] * 2) + "\n")
    (src / "b3.json").write_text(
        "\n".join(['{"item": "b"}'] * 4 + ['{"item": "a"}']) + "\n")
    run_once()
    rows = spark.read.parquet(out_dir).collect()
    latest = {}
    for r in rows:
        latest[r.item] = max(latest.get(r.item, 0), r.mg_count)
    assert latest == {"a": 6, "b": 5, "c": 2}
    buckets = {}
    for r in rows:
        buckets.setdefault(r.item, set()).add(r.bucket)
    assert all(len(bs) == 1 for bs in buckets.values())
    n_before = spark.read.parquet(out_dir).count()
    run_once()  # idle restart
    assert spark.read.parquet(out_dir).count() == n_before


def test_incremental_dedup_sink_replay_and_mid_crash_recovery(spark, tmp_path):
    """At-least-once replay: (a) a full replay of an already-committed
    batch appends nothing; (b) a crash BETWEEN the docs write and the index
    write (docs partition exists, hashes absent) recovers on replay with no
    duplicate docs — the batch-id dynamic overwrite rewrites the same
    partition instead of appending."""
    from akka_stream_contrib_spark.streaming import incremental_dedup_sink
    from akka_stream_contrib_spark.streaming.sinks import BATCH_COL

    out = str(tmp_path / "dd_out")
    sink = incremental_dedup_sink(out)
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id bigint, text string")
    sink(b1, 0)
    # (a) full replay of batch 0
    sink(b1, 0)
    docs = spark.read.parquet(f"{out}/docs")
    assert [r.doc_id for r in docs.groupBy("doc_id").count()
            .filter("count > 1").collect()] == []
    assert {r.doc_id for r in docs.collect()} == {1, 2}
    # (b) simulate the crash window for batch 1: the docs partition was
    # written but the process died before the index append
    b2 = spark.createDataFrame(
        [(3, "gamma"), (4, "alpha")], "doc_id bigint, text string")
    (b2.filter("doc_id = 3").withColumn(BATCH_COL, F.lit(1))
     .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy(BATCH_COL).parquet(f"{out}/docs"))
    # checkpoint replays batch 1 against the un-updated index
    sink(b2, 1)
    docs = spark.read.parquet(f"{out}/docs")
    assert [r.doc_id for r in docs.groupBy("doc_id").count()
            .filter("count > 1").collect()] == []
    assert {r.doc_id for r in docs.collect()} == {1, 2, 3}
    # index now covers every emitted content hash exactly
    idx = spark.read.parquet(f"{out}/index")
    assert idx.distinct().count() == 3


def test_incremental_rollup_empty_first_batch_does_not_poison_path(spark,
                                                                   tmp_path):
    """Spark's window() drops NULL-ts rows, so an all-NULL-ts first batch
    produces an EMPTY upsert. That must be a no-op: the un-guarded write
    created a bare output directory that every later batch read as
    UNABLE_TO_INFER_SCHEMA and crashed. Also exercises keys as a bare
    string (normalize_cols — 'k' must not splat into characters)."""
    from akka_stream_contrib_spark.streaming import (incremental_rollup,
                                                     read_rollup)
    src = tmp_path / "nb_in"
    src.mkdir()
    (src / "a.json").write_text('{"ts": null, "k": "a", "value": 1.0}\n')
    stream = (spark.readStream.schema("ts timestamp, k string, value double")
              .json(str(src)))
    out = str(tmp_path / "nb_rollup")
    writer = incremental_rollup(stream, out, bucket="1 hour", keys="k")
    ck = str(tmp_path / "nb_ckpt")

    def run_once():
        q = (writer.option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()  # NULL-ts row -> empty agg -> must not create a bare dir
    (src / "b.json").write_text(
        '{"ts": "2024-01-01T00:10:00", "k": "b", "value": 2.0}\n')
    run_once()  # would raise UNABLE_TO_INFER_SCHEMA before the guard
    got = {(r.bucket_id, r.k): (r.n, r.sum_value)
           for r in read_rollup(spark, out).collect()}
    assert got == {("2024-01-01-00-00-00", "b"): (1, 2.0)}


def test_pulse_stream_null_order_rows_never_fabricate_payloads(spark):
    from akka_stream_contrib_spark.streaming.metrics import pulse_stream
    df = spark.createDataFrame(
        [("k1", None, 10.0), ("k1", 2, 20.0), ("k2", None, 7.0)],
        "k string, seq int, v double")
    got = {(r.k, r.seq, r.v) for r in pulse_stream(df, "k", "seq").collect()}
    # k1 conflates to its ordered row; k2 (all NULL-ordered) emits NOTHING
    # instead of a fabricated (k2, NULL, NULL) row
    assert got == {("k1", 2, 20.0)}


def test_ingest_report_empty_batch_rate_is_zero(spark):
    from akka_stream_contrib_spark.sources.ingest import ingest_report
    empty = spark.createDataFrame([], "x string")
    row = ingest_report(empty, empty.select(F.col("x").alias("raw"))).head()
    assert (row.n_good, row.n_bad, row.bad_rate) == (0, 0, 0.0)


def test_scd2_sink_replay_mid_batch_is_idempotent(spark, tmp_path):
    """Restart mid-batch: a foreachBatch invocation that wrote its snapshot
    partition but crashed before the checkpoint commit is redelivered with
    the SAME batch_id. The sink must derive the replay from the PRIOR
    snapshot (_batch_id < N), never from its own half-committed output, and
    dynamically overwrite partition N to the identical rows — the versioned
    exactly-once contract in its docstring."""
    from akka_stream_contrib_spark.operators.scd2 import scd2_intervals
    from akka_stream_contrib_spark.streaming import read_scd2, scd2_sink

    dim = str(tmp_path / "dim")
    sink = scd2_sink(dim)

    def frame(rows):
        return (spark.createDataFrame(
            rows, "user_id long, event_type string, ts string, event_id long")
            .withColumn("ts", F.to_timestamp("ts")))

    b0 = [(1, "a", "2026-01-01 10:00:00", 1),
          (1, "b", "2026-01-01 10:02:00", 2)]
    b1 = [(1, "c", "2026-01-01 10:04:00", 3),
          (2, "x", "2026-01-01 10:05:00", 4)]
    sink(frame(b0), 0)
    sink(frame(b1), 1)
    after_first = sorted(map(tuple, read_scd2(spark, dim).collect()))
    # the redelivery: same batch frame, same batch_id
    sink(frame(b1), 1)
    after_replay = sorted(map(tuple, read_scd2(spark, dim).collect()))
    assert after_replay == after_first
    # no phantom snapshot versions appeared
    versions = {r.v for r in spark.read.parquet(dim)
                .select(F.col("_batch_id").alias("v")).distinct().collect()}
    assert versions == {0, 1}
    # and the replayed dimension equals the batch recompute over all rows
    expect = sorted(map(tuple,
                        frame(b0 + b1).transform(scd2_intervals()).collect()))
    assert after_replay == expect


def test_histogram_stream_psi_probe_matches_batch_psi(spark, tmp_path):
    """Streaming drift monitor: a histogram_stream sketch probed with
    psi_probe against a frozen reference must yield EXACTLY the PSI that
    the batch psi_drift computes over the same raw values (same bucket
    geometry, same 1e-6 floor, same round-9 decimal term sums)."""
    from akka_stream_contrib_spark.functions.ml import psi_drift
    from akka_stream_contrib_spark.functions.sketches import (
        histogram_build, psi_probe)
    from akka_stream_contrib_spark.streaming.rollup import histogram_stream

    lo, hi, n_bins = 0.0, 100.0, 10
    ref_vals = [float(v) for v in range(0, 100, 2)]       # uniform-ish
    live_vals = [float(v % 60) for v in range(1, 100, 2)]  # shifted low
    ref_df = spark.createDataFrame(
        [("a", v) for v in ref_vals], "event_type string, value double")
    ref_sketch = histogram_build(ref_df, key="event_type", value="value",
                                 lo=lo, hi=hi, n_bins=n_bins)

    feed = tmp_path / "drift_vals"
    feed.mkdir()
    _feed_json(feed, "b1.json",
               [{"event_type": "a", "value": v} for v in live_vals[:25]])
    _feed_json(feed, "b2.json",
               [{"event_type": "a", "value": v} for v in live_vals[25:]])
    src = (spark.readStream
           .schema("event_type string, value double")
           .option("maxFilesPerTrigger", 1)
           .json(str(feed)))
    sketch = histogram_stream(src, lo=lo, hi=hi, n_bins=n_bins)
    q = (sketch.writeStream.format("memory").queryName("drift_sketch")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck_drift"))
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    streamed = spark.sql("select key, bin, cnt from drift_sketch")
    probed = psi_probe(streamed, ref_sketch)
    psi_vals = {r.psi for r in probed.collect()}
    assert len(psi_vals) == 1
    got_psi = psi_vals.pop()

    # batch recompute over the SAME raw values and bucket geometry
    old = spark.createDataFrame([(v,) for v in ref_vals], "value double")
    new = spark.createDataFrame([(v,) for v in live_vals], "value double")
    want = psi_drift(old, new, "value", n_buckets=n_bins, lo=lo, hi=hi)
    want_psi = {r.psi for r in want.collect()}.pop()
    assert got_psi == want_psi and got_psi > 0.1  # the shift IS drift


def test_psi_probe_scores_only_keys_with_a_reference(spark):
    from akka_stream_contrib_spark.functions.sketches import psi_probe
    ref = spark.createDataFrame([("a", 0, 5), ("a", 1, 5)],
                                "key string, bin int, cnt long")
    live = spark.createDataFrame(
        [("a", 0, 7), ("a", 2, 3), ("b", 0, 9)],
        "key string, bin int, cnt long")
    rows = psi_probe(live, ref).collect()
    assert {r.key for r in rows} == {"a"}  # 'b' has no baseline
    # bucket union: ref-only bin 1 and live-only bin 2 both appear
    assert {r.bin for r in rows} == {0, 1, 2}


def test_funnel_stream_matches_batch_milestones(spark, tmp_path):
    """Streaming funnel state folded across three micro-batches (with a
    cross-batch LATE view event) must equal the batch conditional-min
    recompute — the min-monoid merge-soundness argument made executable."""
    from akka_stream_contrib_spark.streaming import (
        funnel_milestones, funnel_stream, funnel_summary)

    feed = tmp_path / "funnel_feed"
    feed.mkdir()
    rows_b1 = [
        {"user_id": 1, "event_type": "view", "ts": "2026-01-01 10:00:00"},
        {"user_id": 2, "event_type": "click", "ts": "2026-01-01 10:01:00"},
    ]
    rows_b2 = [
        {"user_id": 1, "event_type": "click", "ts": "2026-01-01 10:05:00"},
        # LATE view for user 2, EARLIER than the click of batch 1: the
        # min-fold must surface it and make user 2 a converting funnel
        {"user_id": 2, "event_type": "view", "ts": "2026-01-01 10:00:30"},
    ]
    rows_b3 = [
        {"user_id": 1, "event_type": "purchase", "ts": "2026-01-01 10:06:00"},
        {"user_id": 2, "event_type": "purchase", "ts": "2026-01-01 10:00:10"},
        # purchase BEFORE the first view -> must NOT count as converted
        {"user_id": 3, "event_type": "purchase", "ts": "2026-01-01 09:00:00"},
        {"user_id": 3, "event_type": "view", "ts": "2026-01-01 09:30:00"},
    ]
    for name, rows in [("b1.json", rows_b1), ("b2.json", rows_b2),
                       ("b3.json", rows_b3)]:
        _feed_json(feed, name, rows)
    src = (spark.readStream
           .schema("user_id long, event_type string, ts timestamp")
           .option("maxFilesPerTrigger", 1)
           .json(str(feed)))
    q = (funnel_stream(src).writeStream.format("memory")
         .queryName("funnel_emit").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_funnel"))
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    emitted = spark.sql("select * from funnel_emit")
    # every emission is a cumulative min -> min-aggregate = final state
    from pyspark.sql import functions as F
    final = emitted.groupBy("key").agg(
        *[F.min(c).alias(c) for c in ("t_view", "t_click", "t_purchase")])

    allrows = rows_b1 + rows_b2 + rows_b3
    from datetime import datetime
    bdf = spark.createDataFrame(
        [(r["user_id"], r["event_type"], datetime.fromisoformat(r["ts"]))
         for r in allrows],
        "user_id long, event_type string, ts timestamp")
    batch = funnel_milestones(bdf)
    assert (sorted(final.collect(), key=lambda r: r.key)
            == sorted(batch.collect(), key=lambda r: r.key))
    s_stream = funnel_summary(final).head()
    s_batch = funnel_summary(batch).head()
    assert s_stream == s_batch
    # user 2's late view makes the click ordered (n_then_click=2) but the
    # 10:00:10 purchase precedes it; user 3's purchase precedes the view —
    # only user 1 walks the full strictly-ordered funnel
    assert (s_batch.n_view, s_batch.n_then_click,
            s_batch.n_full_funnel) == (3, 2, 1)


def test_funnel_stream_restart_replay_is_idempotent(spark, tmp_path):
    """Kill the query between batches and restart from the checkpoint: the
    min-fold makes redelivery harmless and the final state identical."""
    from akka_stream_contrib_spark.streaming import funnel_stream
    from pyspark.sql import functions as F

    feed = tmp_path / "funnel_feed2"
    feed.mkdir()
    out_dir, ck = str(tmp_path / "funnel_rs_out"), str(tmp_path / "ck_rs")
    _feed_json(feed, "b1.json", [
        {"user_id": 7, "event_type": "view", "ts": "2026-01-01 08:00:00"}])

    def run():
        src = (spark.readStream
               .schema("user_id long, event_type string, ts timestamp")
               .option("maxFilesPerTrigger", 1)
               .json(str(feed)))
        q = (funnel_stream(src).writeStream.format("parquet")
             .option("path", out_dir).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run()
    _feed_json(feed, "b2.json", [
        {"user_id": 7, "event_type": "click", "ts": "2026-01-01 08:05:00"},
        {"user_id": 7, "event_type": "view", "ts": "2026-01-01 08:01:00"}])
    run()  # restart from checkpoint; only b2 replays
    final = (spark.read.parquet(out_dir).groupBy("key")
             .agg(*[F.min(c).alias(c)
                    for c in ("t_view", "t_click", "t_purchase")])
             .head())
    # first view (08:00) survives the restart; the later view does not
    # regress it; click lands; purchase still NULL
    assert final.key == 7
    assert final.t_view < final.t_click and final.t_purchase is None


def test_funnel_stream_restart_under_load_and_idle(spark, tmp_path):
    """The r6 sinks' restart-under-load case for the funnel twin: TWO files
    pending at restart forced into separate micro-batches, a late event in
    the second pending batch, then an idle restart. The min-fold state must
    survive every boundary, equal the batch recompute, and the idle run
    must append nothing. (No watermark leg: funnel state is NoTimeout by
    contract — late data is the point of the min-monoid.)"""
    import os
    from datetime import datetime

    from akka_stream_contrib_spark.streaming import (funnel_milestones,
                                                     funnel_stream)

    feed = tmp_path / "funnel_rl_src"
    feed.mkdir()
    out_dir, ck = str(tmp_path / "funnel_rl_out"), str(tmp_path / "funnel_rl_ck")
    rows_b1 = [
        {"user_id": 1, "event_type": "view", "ts": "2026-01-01 10:00:00"},
        {"user_id": 2, "event_type": "view", "ts": "2026-01-01 10:00:20"},
    ]
    _feed_json(feed, "b1.json", rows_b1)

    def run():
        src = (spark.readStream
               .schema("user_id long, event_type string, ts timestamp")
               .option("maxFilesPerTrigger", 1)
               .json(str(feed)))
        q = (funnel_stream(src).writeStream.format("parquet")
             .option("path", out_dir).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run()
    # restart with TWO pending files -> two micro-batches in one run;
    # pinned mtimes fix the admission order; b3 carries a LATE view that
    # must regress user 2's milestone downward across the batch boundary
    rows_b2 = [
        {"user_id": 1, "event_type": "click", "ts": "2026-01-01 10:02:00"},
        {"user_id": 2, "event_type": "click", "ts": "2026-01-01 10:03:00"},
    ]
    rows_b3 = [
        {"user_id": 1, "event_type": "purchase", "ts": "2026-01-01 10:05:00"},
        {"user_id": 2, "event_type": "view", "ts": "2026-01-01 09:59:00"},
    ]
    _feed_json(feed, "b2.json", rows_b2)
    _feed_json(feed, "b3.json", rows_b3)
    now = time.time()
    os.utime(feed / "b2.json", (now - 10, now - 10))
    os.utime(feed / "b3.json", (now, now))
    run()
    final = (spark.read.parquet(out_dir).groupBy("key")
             .agg(*[F.min(c).alias(c)
                    for c in ("t_view", "t_click", "t_purchase")]))
    allrows = rows_b1 + rows_b2 + rows_b3
    bdf = spark.createDataFrame(
        [(r["user_id"], r["event_type"], datetime.fromisoformat(r["ts"]))
         for r in allrows],
        "user_id long, event_type string, ts timestamp")
    batch = funnel_milestones(bdf)
    assert (sorted(final.collect(), key=lambda r: r.key)
            == sorted(batch.collect(), key=lambda r: r.key))
    # idle restart: no pending files -> nothing appended
    n_before = spark.read.parquet(out_dir).count()
    run()
    assert spark.read.parquet(out_dir).count() == n_before


def test_funnel_stream_matches_batch_in_a_non_utc_session(spark, tmp_path):
    """Stream and batch milestones both come from the JVM's epoch_micros,
    so they agree whatever the session time zone is."""
    from akka_stream_contrib_spark.streaming import (funnel_milestones,
                                                     funnel_stream)
    feed = tmp_path / "funnel_tz_feed"
    feed.mkdir()
    _feed_json(feed, "b1.json", [
        {"user_id": 1, "event_type": "view", "ts": "2026-03-08 01:30:00"},
        {"user_id": 1, "event_type": "click", "ts": "2026-03-08 03:10:00"},
        {"user_id": 2, "event_type": "view", "ts": "2026-01-01 23:30:00"},
        {"user_id": 2, "event_type": "purchase", "ts": "2026-01-02 00:10:00"},
    ])
    schema = "user_id long, event_type string, ts timestamp"
    key = "spark.sql.session.timeZone"
    saved = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        q = (funnel_stream(spark.readStream.schema(schema).json(str(feed)))
             .writeStream.format("memory").queryName("funnel_tz")
             .option("checkpointLocation", str(tmp_path / "funnel_tz_ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in
                     spark.sql("select * from funnel_tz").collect())
        want = sorted(tuple(r) for r in funnel_milestones(
            spark.read.schema(schema).json(str(feed))).collect())
    finally:
        spark.conf.set(key, saved)
    assert got == want and len(got) == 2


def test_histogram_stream_restart_replay_and_under_load(spark, tmp_path):
    """Restart trio for the sketch-PSI twin: (a) restart from checkpoint
    with TWO pending files processed as separate micro-batches — the
    count-monoid state must accumulate across every boundary and equal the
    batch histogram; (b) an idle restart re-emits the IDENTICAL snapshot
    (replay changes nothing); (c) psi_probe over the post-restart snapshot
    still equals the batch psi_drift. (No watermark leg: the sketch is
    bounded at keys x n_bins by construction and takes no watermark.)"""
    import os

    from akka_stream_contrib_spark.functions.ml import psi_drift
    from akka_stream_contrib_spark.functions.sketches import (histogram_build,
                                                              psi_probe)
    from akka_stream_contrib_spark.streaming.rollup import histogram_stream

    lo, hi, n_bins = 0.0, 100.0, 10
    live_vals = [float(v % 60) for v in range(1, 100, 2)]
    feed = tmp_path / "drift_rl_src"
    feed.mkdir()
    ck = str(tmp_path / "drift_rl_ck")

    def run(view):
        src = (spark.readStream
               .schema("event_type string, value double")
               .option("maxFilesPerTrigger", 1)
               .json(str(feed)))
        sketch = histogram_stream(src, lo=lo, hi=hi, n_bins=n_bins)
        q = (sketch.writeStream.format("memory").queryName(view)
             .outputMode("complete")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    _feed_json(feed, "b1.json",
               [{"event_type": "a", "value": v} for v in live_vals[:20]])
    run("drift_rl_1")
    # two pending files at restart -> two micro-batches in one run
    _feed_json(feed, "b2.json",
               [{"event_type": "a", "value": v} for v in live_vals[20:35]])
    _feed_json(feed, "b3.json",
               [{"event_type": "a", "value": v} for v in live_vals[35:]])
    now = time.time()
    os.utime(feed / "b2.json", (now - 10, now - 10))
    os.utime(feed / "b3.json", (now, now))
    run("drift_rl_2")
    streamed = spark.sql("select key, bin, cnt from drift_rl_2")
    live_df = spark.createDataFrame(
        [("a", v) for v in live_vals], "event_type string, value double")
    want_hist = {(r.key, r.bin): r.cnt
                 for r in histogram_build(live_df, key="event_type",
                                          value="value", lo=lo, hi=hi,
                                          n_bins=n_bins).collect()}
    got_hist = {(r.key, r.bin): r.cnt for r in streamed.collect()}
    assert got_hist == want_hist
    # idle restart: availableNow with nothing pending fires NO batch (the
    # complete-mode memory table stays empty) and must not disturb state —
    # proven by the next run with one more file, whose snapshot is the
    # full accumulated histogram including that file
    run("drift_rl_3")
    assert spark.sql("select * from drift_rl_3").count() == 0
    extra = [99.0, 99.0]
    _feed_json(feed, "b4.json",
               [{"event_type": "a", "value": v} for v in extra])
    run("drift_rl_4")
    live_df2 = spark.createDataFrame(
        [("a", v) for v in live_vals + extra],
        "event_type string, value double")
    want2 = {(r.key, r.bin): r.cnt
             for r in histogram_build(live_df2, key="event_type",
                                      value="value", lo=lo, hi=hi,
                                      n_bins=n_bins).collect()}
    got2 = {(r.key, r.bin): r.cnt
            for r in spark.sql(
                "select key, bin, cnt from drift_rl_4").collect()}
    assert got2 == want2
    # the post-restart sketch still scores the exact batch PSI
    ref_vals = [float(v) for v in range(0, 100, 2)]
    ref_df = spark.createDataFrame(
        [("a", v) for v in ref_vals], "event_type string, value double")
    ref_sketch = histogram_build(ref_df, key="event_type", value="value",
                                 lo=lo, hi=hi, n_bins=n_bins)
    got_psi = {r.psi for r in psi_probe(streamed, ref_sketch).collect()}.pop()
    old = spark.createDataFrame([(v,) for v in ref_vals], "value double")
    new = spark.createDataFrame([(v,) for v in live_vals], "value double")
    want_psi = {r.psi for r in psi_drift(old, new, "value", n_buckets=n_bins,
                                         lo=lo, hi=hi).collect()}.pop()
    assert got_psi == want_psi


def test_hll_distinct_stream_matches_batch_sketch(spark, tmp_path):
    """Mergeable-sketch streaming twin: HLL union is a commutative monoid,
    so the streaming state across micro-batches (including a replayed
    restart) must estimate exactly what the batch sketch over all rows
    estimates — and both must be within the published RSE of exact."""
    from akka_stream_contrib_spark.functions import (hll_merge,
                                                     hll_sketch_rollup)
    from akka_stream_contrib_spark.streaming.rollup import hll_distinct_stream

    feed = tmp_path / "hll_src"
    feed.mkdir()
    ck = str(tmp_path / "hll_ck")
    rows = [{"event_type": "a", "user_id": i % 400} for i in range(300)] + \
           [{"event_type": "b", "user_id": i % 37} for i in range(100)]
    _feed_json(feed, "b1.json", rows[:150])

    def run(view):
        src = (spark.readStream
               .schema("event_type string, user_id long")
               .option("maxFilesPerTrigger", 1)
               .json(str(feed)))
        q = (hll_distinct_stream(src).writeStream.format("memory")
             .queryName(view).outputMode("complete")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    run("hll_s1")
    # restart with two pending files -> two micro-batches in one run
    import os
    _feed_json(feed, "b2.json", rows[150:300])
    _feed_json(feed, "b3.json", rows[300:])
    now = time.time()
    os.utime(feed / "b2.json", (now - 10, now - 10))
    os.utime(feed / "b3.json", (now, now))
    run("hll_s2")
    got = {r.key: r.approx_distinct
           for r in spark.sql(
               "select key, approx_distinct from hll_s2").collect()}
    bdf = spark.createDataFrame(
        [(r["event_type"], r["user_id"]) for r in rows],
        "event_type string, user_id long")
    batch = hll_merge(hll_sketch_rollup(
        bdf, keys=["event_type"], item="user_id", lgk=12),
        keys=["event_type"])
    want = {r.event_type: r.approx_distinct for r in batch.collect()}
    assert got == want  # identical sketches -> identical estimates
    exact = {r.event_type: r.n for r in bdf.distinct().groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    for k, est in got.items():
        assert abs(est - exact[k]) <= 5 * 1.04 / (2 ** 12) ** 0.5 * exact[k] + 1


def test_merge_by_index_stream_random_scatter(spark, tmp_path):
    # MergeByIndexSpec.scala:105-128 adapted: indices 0..29 scattered over 3
    # branches (deterministic pseudo-random assignment), fed across two
    # micro-batches; the merged output must carry 0..29 in pos order.
    from akka_stream_contrib_spark.streaming import merge_by_index_stream
    feed = tmp_path / "mbi_feed"
    feed.mkdir()
    scatter = [0, 2, 1, 1, 0, 2, 0, 1, 2, 2, 0, 1, 1, 2, 0,
               2, 1, 0, 0, 2, 1, 2, 0, 1, 0, 1, 2, 1, 2, 0]
    assign = dict(enumerate(scatter))
    rows = [{"key": 1, "branch": assign[i], "idx": i, "payload": f"p{i}"}
            for i in range(30)]
    # per-branch order is monotonic by construction (idx ascending)
    _feed_json(feed, "b1.json", [r for r in rows if r["idx"] < 17])
    schema = "key long, branch long, idx long, payload string"
    src = spark.readStream.schema(schema).json(str(feed))
    out = merge_by_index_stream(src, n_branches=3)
    q = (out.writeStream.format("memory").queryName("mbi")
         .option("checkpointLocation", str(tmp_path / "mbi_ck"))
         .trigger(processingTime="1 second").start())
    try:
        # batch 1: every idx <= min branch hwm is emittable; at least the
        # prefix up to the slowest branch's high-water mark must appear
        hwm = {b: max(r["idx"] for r in rows
                      if r["branch"] == b and r["idx"] < 17) for b in range(3)}
        n1 = sum(1 for i in range(17) if i <= min(hwm.values()))
        assert _await_rows(spark, "mbi", n1)
        _feed_json(feed, "b2.json", [r for r in rows if r["idx"] >= 17])
        # after batch 2 the frontier still sits at the slowest branch's final
        # hwm; everything at or below it must be out, in pos order
        hwm2 = {b: max(r["idx"] for r in rows if r["branch"] == b)
                for b in range(3)}
        n2 = min(hwm2.values()) + 1
        assert _await_rows(spark, "mbi", n2)
        got = spark.sql("select * from mbi order by pos").collect()
        assert [r.idx for r in got] == list(range(len(got)))
        assert [r.pos for r in got] == list(range(len(got)))
        assert all(r.payload == f"p{r.idx}" for r in got)
        assert {r.branch for r in got} == {0, 1, 2}
    finally:
        q.stop()


def test_merge_by_index_stream_gap_inference(spark, tmp_path):
    # MergeByIndex.scala:97-119: index 2 is OMITTED; once every branch's
    # high-water mark passes it, the merge must deduce the omission and
    # keep emitting — without a gap signal it would stall forever.
    from akka_stream_contrib_spark.streaming import merge_by_index_stream
    feed = tmp_path / "mbig_feed"
    feed.mkdir()
    _feed_json(feed, "b1.json", [
        {"key": 1, "branch": 0, "idx": 0, "payload": "a"},
        {"key": 1, "branch": 1, "idx": 1, "payload": "b"},
        # idx 2 omitted; both branches deliver past it
        {"key": 1, "branch": 0, "idx": 3, "payload": "d"},
        {"key": 1, "branch": 1, "idx": 4, "payload": "e"},
    ])
    schema = "key long, branch long, idx long, payload string"
    src = spark.readStream.schema(schema).json(str(feed))
    out = merge_by_index_stream(src, n_branches=2)
    q = (out.writeStream.format("memory").queryName("mbig")
         .option("checkpointLocation", str(tmp_path / "mbig_ck"))
         .trigger(processingTime="1 second").start())
    try:
        assert _await_rows(spark, "mbig", 4)
        got = spark.sql("select * from mbig order by pos").collect()
        assert [r.idx for r in got] == [0, 1, 3, 4]
        assert [r.pos for r in got] == [0, 1, 2, 3]
    finally:
        q.stop()


def test_merge_by_index_stream_duplicate_index_fails(spark, tmp_path):
    # MergeByIndex.scala:139-143: a duplicate/non-monotonic index fails the
    # stream (IllegalArgumentException); here the query terminates with the
    # ValueError surfaced through StreamingQueryException.
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from akka_stream_contrib_spark.streaming import merge_by_index_stream
    feed = tmp_path / "mbid_feed"
    feed.mkdir()
    _feed_json(feed, "b1.json", [
        {"key": 1, "branch": 0, "idx": 0, "payload": "a"},
        {"key": 1, "branch": 1, "idx": 0, "payload": "dup"},
    ])
    schema = "key long, branch long, idx long, payload string"
    src = spark.readStream.schema(schema).json(str(feed))
    out = merge_by_index_stream(src, n_branches=2)
    q = (out.writeStream.format("memory").queryName("mbid")
         .option("checkpointLocation", str(tmp_path / "mbid_ck"))
         .trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException, match="duplicate index"):
        q.awaitTermination(60)


def test_delay_strategy_stream_linear_backoff_reset_cap(spark, tmp_path):
    # DelayFlowSpec "work with linear increasing delay": step=1, initial=1,
    # max=5, needsIncrease for the first six elements -> delays 2,3,4,5,5,5
    # then reset to the initial 1 for the rest (DelayFlow.scala:85-99). The
    # batch boundary lands mid-backoff (after seq 3), so the strategy state
    # (current delay) must survive the micro-batch restart.
    from akka_stream_contrib_spark.streaming import (
        delay_strategy_stream, linear_increasing_delay_strategy)
    feed = tmp_path / "ds_feed"
    feed.mkdir()
    rows = [{"key": 1, "seq": i, "needs_increase": i < 7,
             "ts": f"2026-01-01T00:00:{i:02d}"} for i in range(1, 11)]
    _feed_json(feed, "b1.json", rows[:3])
    schema = "key long, seq long, needs_increase boolean, ts timestamp"
    src = spark.readStream.schema(schema).json(str(feed))
    strat = linear_increasing_delay_strategy(step_s=1.0, initial_s=1.0,
                                             max_s=5.0)
    out = delay_strategy_stream(src, strat)
    q = (out.writeStream.format("memory").queryName("dstrat")
         .option("checkpointLocation", str(tmp_path / "ds_ck"))
         .trigger(processingTime="1 second").start())
    try:
        assert _await_rows(spark, "dstrat", 3)
        _feed_json(feed, "b2.json", rows[3:])
        assert _await_rows(spark, "dstrat", 10)
        got = {r.seq: r.delay_s
               for r in spark.sql("select * from dstrat").collect()}
        assert got == {1: 2.0, 2: 3.0, 3: 4.0, 4: 5.0, 5: 5.0, 6: 5.0,
                       7: 1.0, 8: 1.0, 9: 1.0, 10: 1.0}
        # deliver_ts = ts + delay (event-time shift convention)
        dl = {r.seq: r.deliver_ts
              for r in spark.sql("select * from dstrat").collect()}
        assert dl[1].second == 3 and dl[7].second == 8
    finally:
        q.stop()


def test_delay_strategy_stream_custom_user_strategy(spark, tmp_path):
    # the reference's scaladoc example (DelayFlow.scala:36-46): delay grows
    # by 1s on every failure, never resets — an arbitrary user strategy the
    # built-ins can't express, carried cross-batch through the state store
    from akka_stream_contrib_spark.streaming import delay_strategy_stream
    feed = tmp_path / "cu_feed"
    feed.mkdir()
    rows = [{"key": 1, "seq": i, "failed": i in (2, 3, 6),
             "ts": "2026-01-01T00:00:00"} for i in range(1, 8)]
    _feed_json(feed, "b1.json", rows[:4])

    def _next(state, row):
        (d,) = state
        if bool(row["failed"]):
            d += 1.0
        return d, (d,)

    src = spark.readStream.schema(
        "key long, seq long, failed boolean, ts timestamp").json(str(feed))
    out = delay_strategy_stream(src, ("delay double", (0.0,), _next))
    q = (out.writeStream.format("memory").queryName("dcust")
         .option("checkpointLocation", str(tmp_path / "cu_ck"))
         .trigger(processingTime="1 second").start())
    try:
        assert _await_rows(spark, "dcust", 4)
        _feed_json(feed, "b2.json", rows[4:])
        assert _await_rows(spark, "dcust", 7)
        got = {r.seq: r.delay_s
               for r in spark.sql("select * from dcust").collect()}
        assert got == {1: 0.0, 2: 1.0, 3: 2.0, 4: 2.0,
                       5: 2.0, 6: 3.0, 7: 3.0}
    finally:
        q.stop()


def test_delay_flow_tws_timer_release(spark, tmp_path):
    """transformWithState variant: elements held in state and released by
    per-element timers once the strategy's delay matures."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas needs the protobuf python package "
               "(absent in this container; no-install policy) — "
               "delay_flow_tws is the forward-path impl, exercised wherever "
               "`import google.protobuf` succeeds")
    import time as _time
    from akka_stream_contrib_spark.streaming import (
        linear_increasing_delay_strategy)
    from akka_stream_contrib_spark.streaming.tws import delay_flow_tws
    feed = tmp_path / "dt_feed"
    feed.mkdir()
    _feed_json(feed, "b1.json", [
        {"key": 1, "seq": 1, "needs_increase": True},
        {"key": 1, "seq": 2, "needs_increase": False},
    ])
    src = spark.readStream.schema(
        "key long, seq long, needs_increase boolean").json(str(feed))
    strat = linear_increasing_delay_strategy(step_s=1.0, initial_s=0.5,
                                             max_s=5.0)
    q = (delay_flow_tws(src, strat)
         .writeStream.format("memory").queryName("dtws")
         .option("checkpointLocation", str(tmp_path / "dt_ck"))
         .trigger(processingTime="500 milliseconds").start())
    try:
        t0 = _time.monotonic()
        rows = []
        while _time.monotonic() - t0 < 60 and len(rows) < 2:
            rows = spark.sql("select * from dtws").collect()
            _time.sleep(0.5)
        assert {(r.seq, r.delay_s) for r in rows} == {(1, 1.5), (2, 0.5)}
    finally:
        q.stop()


def test_embedding_drift_sink_flags_encoder_swap(spark, tmp_path):
    # reference profile from clean vectors; batch 1 matches the profile
    # (|smd| small), batch 2 simulates an encoder swap (dim 2 shifted hard)
    from akka_stream_contrib_spark.streaming import embedding_drift_sink

    def vec(i, shift=0.0):
        v = [((i * 13 + d * 7) % 11 - 5) / 10.0 for d in range(4)]
        v[2] += shift
        return v

    ref = spark.createDataFrame([(i, vec(i)) for i in range(200)],
                                "vec_id long, embedding array<float>")
    prof = (ref.select(F.posexplode(F.col("embedding").cast("array<double>"))
                       .alias("dim", "v"))
            .groupBy("dim")
            .agg(F.avg("v").alias("mean_ref"),
                 F.var_pop("v").alias("var_ref")))
    feed = tmp_path / "drift_feed"
    feed.mkdir()
    _feed_json(feed, "b1.json",
               [{"vec_id": i, "embedding": vec(i)} for i in range(60)])
    src = spark.readStream.schema(
        "vec_id long, embedding array<float>").json(str(feed))
    out_dir = str(tmp_path / "drift_out")
    q = (embedding_drift_sink(src, prof, out_dir)
         .option("checkpointLocation", str(tmp_path / "drift_ck"))
         .trigger(processingTime="1 second").start())
    try:
        t0 = time.time()
        while time.time() - t0 < 60:
            try:
                if spark.read.parquet(out_dir).count() >= 4:
                    break
            except Exception:
                pass
            time.sleep(0.5)
        _feed_json(feed, "b2.json",
                   [{"vec_id": 1000 + i, "embedding": vec(i, shift=2.0)}
                    for i in range(60)])
        while time.time() - t0 < 60:
            try:
                if spark.read.parquet(out_dir).count() >= 8:
                    break
            except Exception:
                pass
            time.sleep(0.5)
        rows = spark.read.parquet(out_dir).collect()
        by_batch = {}
        for r in rows:
            by_batch.setdefault(r.batch_id, {})[r.dim] = r.smd
        batches = sorted(by_batch)
        assert len(batches) >= 2
        clean, swapped = by_batch[batches[0]], by_batch[batches[-1]]
        assert all(abs(s) < 1.0 for s in clean.values())
        assert swapped[2] > 3.0          # the planted shift screams
        assert abs(swapped[0]) < 1.0     # untouched dims stay quiet
    finally:
        q.stop()

def test_merge_by_index_stream_restart_resumes_frontier(spark, tmp_path):
    # checkpoint recovery: run 1 emits the releasable prefix, the query
    # STOPS, run 2 (same checkpoint, parquet sink — memory sinks don't
    # recover) must resume the expected-index frontier and the position
    # counter from state — no loss, no re-emission
    from akka_stream_contrib_spark.streaming import merge_by_index_stream
    feed = tmp_path / "mbir_feed"
    feed.mkdir()
    out_dir = str(tmp_path / "mbir_out")
    schema = "key long, branch long, idx long, payload string"
    rows = [{"key": 1, "branch": i % 2, "idx": i, "payload": f"p{i}"}
            for i in range(12)]
    _feed_json(feed, "b1.json", rows[:7])

    def run_once():
        src = spark.readStream.schema(schema).json(str(feed))
        q = (merge_by_index_stream(src, n_branches=2)
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", str(tmp_path / "mbir_ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(60)
        return [(r.idx, r.pos) for r in
                spark.read.parquet(out_dir).orderBy("pos").collect()]

    got1 = run_once()
    # branch hwms after b1: branch0 (even) = 6, branch1 (odd) = 5 →
    # frontier releases 0..5 and idx 6 rides the expected fast-path
    assert got1 == [(i, i) for i in range(7)]
    _feed_json(feed, "b2.json", rows[7:])
    got2 = run_once()
    # run 2 appends the continuation: positions resume at 7 from state
    # (frontier releases through 10, idx 11 rides the expected fast-path)
    assert got2 == [(i, i) for i in range(12)]


def test_delay_strategy_stream_restart_keeps_backoff_state(spark, tmp_path):
    # the DelayFlowSpec sequence split across a query RESTART: the strategy
    # state (current delay) must come back from the checkpoint, not reset
    from akka_stream_contrib_spark.streaming import (
        delay_strategy_stream, linear_increasing_delay_strategy)
    feed = tmp_path / "dsr_feed"
    feed.mkdir()
    out_dir = str(tmp_path / "dsr_out")
    schema = "key long, seq long, needs_increase boolean, ts timestamp"
    rows = [{"key": 1, "seq": i, "needs_increase": i < 7,
             "ts": f"2026-01-01T00:00:{i:02d}"} for i in range(1, 11)]
    _feed_json(feed, "b1.json", rows[:3])
    strat = linear_increasing_delay_strategy(step_s=1.0, initial_s=1.0,
                                             max_s=5.0)

    def run_once():
        src = spark.readStream.schema(schema).json(str(feed))
        q = (delay_strategy_stream(src, strat)
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", str(tmp_path / "dsr_ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(60)
        return {r.seq: r.delay_s for r in spark.read.parquet(out_dir).collect()}

    got1 = run_once()
    assert got1 == {1: 2.0, 2: 3.0, 3: 4.0}
    _feed_json(feed, "b2.json", rows[3:])
    got2 = run_once()
    # a reset-on-restart bug would restart the ladder at 2.0 for seq 4
    assert got2 == {1: 2.0, 2: 3.0, 3: 4.0, 4: 5.0, 5: 5.0, 6: 5.0,
                    7: 1.0, 8: 1.0, 9: 1.0, 10: 1.0}


def test_incremental_dedup_sink_cross_lingual_key(spark, tmp_path):
    """Composition: the translit fold as the dedup key makes the LIFETIME
    streaming dedup cross-lingual — an accented re-post arriving batches
    later is suppressed by the on-disk index."""
    from akka_stream_contrib_spark.functions.text import translit_normalize
    from akka_stream_contrib_spark.streaming import incremental_dedup_sink

    out = str(tmp_path / "clk_out")
    sink = incremental_dedup_sink(out, text_col="norm_key")

    def with_key(df):
        return df.withColumn("norm_key", translit_normalize(F.col("text")))

    b1 = spark.createDataFrame(
        [(1, "Héllo, Wörld!"), (2, "something else entirely")],
        "doc_id bigint, text string")
    b2 = spark.createDataFrame(
        [(3, "hello world"),          # accent-variant of doc 1: suppressed
         (4, "SOMETHING élse — entirely"),  # case/diacritic twin of 2
         (5, "genuinely new content")],
        "doc_id bigint, text string")
    sink(with_key(b1), 0)
    sink(with_key(b2), 1)
    docs = {r.doc_id for r in spark.read.parquet(f"{out}/docs").collect()}
    assert docs == {1, 2, 5}


def test_merge_by_index_stream_tolerates_batch_arrival_order(spark, tmp_path):
    # two files land in ONE availableNow batch; the file holding the LOWER
    # indices sorts after the other, so arrival order within the batch is
    # (2,3,0,1)-ish — the operator must sort by idx before its
    # monotonicity checks instead of failing valid input (r9 review fix)
    from akka_stream_contrib_spark.streaming import merge_by_index_stream
    feed = tmp_path / "mbo_feed"
    feed.mkdir()
    _feed_json(feed, "1_late.json", [
        {"key": 1, "branch": 0, "idx": 2, "payload": "c"},
        {"key": 1, "branch": 1, "idx": 3, "payload": "d"},
    ])
    _feed_json(feed, "2_early.json", [
        {"key": 1, "branch": 0, "idx": 0, "payload": "a"},
        {"key": 1, "branch": 1, "idx": 1, "payload": "b"},
    ])
    src = spark.readStream.schema(
        "key long, branch long, idx long, payload string").json(str(feed))
    q = (merge_by_index_stream(src, n_branches=2)
         .writeStream.format("memory").queryName("mbo")
         .option("checkpointLocation", str(tmp_path / "mbo_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = [(r.idx, r.pos) for r in
           spark.sql("select * from mbo order by pos").collect()]
    assert got == [(0, 0), (1, 1), (2, 2), (3, 3)]


def test_linear_delay_strategy_null_flag_resets():
    # r9 ADVICE: a NULL needs_increase arrives as NaN through pandas, and
    # bool(NaN) is True — the strategy must treat it as False (reset),
    # mirroring the reference's concrete-boolean predicate contract
    import math
    from akka_stream_contrib_spark.streaming import (
        linear_increasing_delay_strategy)
    _, init, nxt = linear_increasing_delay_strategy(
        step_s=1.0, initial_s=1.0, max_s=5.0)
    st = init
    d, st = nxt(st, {"needs_increase": True})
    assert d == 2.0
    d, st = nxt(st, {"needs_increase": float("nan")})   # NULL via pandas
    assert d == 1.0 and not math.isnan(d)
    d, st = nxt(st, {"needs_increase": None})
    assert d == 1.0


def test_stateful_stream_key_type_follows_input(spark, tmp_path):
    # r9 ADVICE: a twin that hard-codes LongType for the key column fails
    # Arrow conversion on a string key; every twin's key keeps its input
    # type (schema check — no query start needed)
    from pyspark.sql.types import StringType
    from akka_stream_contrib_spark.streaming import (
        accumulate_while_unchanged_stream, delay_strategy_stream,
        funnel_stream, heavy_hitters_stream, interleave_stream,
        keep_alive_stream, linear_increasing_delay_strategy,
        merge_by_index_stream, preference_pairs_stream, sessionize_stream,
        token_throttle_stream)
    feed = tmp_path / "kt_feed"
    feed.mkdir()
    strat = linear_increasing_delay_strategy(step_s=1.0, initial_s=1.0,
                                             max_s=5.0)
    twins = [
        ("key string, is_token boolean, amount long, seq long, cost long",
         token_throttle_stream, "key"),
        ("key string, value long",
         lambda s: keep_alive_stream(s, interval_ms=1000), "key"),
        ("key string, seq long, prop string",
         accumulate_while_unchanged_stream, "key"),
        ("user_id string, ts timestamp, event_id long",
         lambda s: sessionize_stream(s, gap_s=60), "key"),
        ("key string, branch long, idx long, payload string",
         lambda s: merge_by_index_stream(s, n_branches=2), "key"),
        ("key string, seq long, needs_increase boolean, ts timestamp",
         lambda s: delay_strategy_stream(s, strat), "key"),
        ("prompt_id string, cand_id long, text string, score double",
         preference_pairs_stream, "prompt_id"),
        ("doc_id long, source string",
         lambda s: interleave_stream(s, {"a": 1.0}), "source"),
        ("user_id string, event_type string, ts timestamp",
         funnel_stream, "key"),
    ]
    for schema, twin, key in twins:
        src = spark.readStream.schema(schema).json(str(feed))
        assert twin(src).schema[key].dataType == StringType(), schema
    # heavy_hitters keys its state by the hash bucket, a bigint
    src = spark.readStream.schema("item string").json(str(feed))
    assert heavy_hitters_stream(src).schema["bucket"].dataType == LongType()


@pytest.mark.parametrize("twin", ["merge_by_index", "accumulate_while_unchanged"])
def test_stateful_stream_string_key_roundtrip(spark, tmp_path, twin):
    # and the string key actually survives Arrow conversion end-to-end
    from akka_stream_contrib_spark.streaming import (
        accumulate_while_unchanged_stream, merge_by_index_stream)
    feed = tmp_path / "sk_feed"
    feed.mkdir()
    if twin == "merge_by_index":
        rows = [{"key": "alpha", "branch": 0, "idx": 0, "payload": "a"},
                {"key": "alpha", "branch": 1, "idx": 1, "payload": "b"}]
        schema = "key string, branch long, idx long, payload string"
        build = partial(merge_by_index_stream, n_branches=2)
        cols, want = "key, idx, pos", [("alpha", 0, 0), ("alpha", 1, 1)]
    else:
        rows = [{"key": "alpha", "seq": 1, "prop": "a"},
                {"key": "alpha", "seq": 2, "prop": "b"}]
        schema = "key string, seq long, prop string"
        build = accumulate_while_unchanged_stream
        cols, want = "key, prop, cnt", [("alpha", "a", 1)]
    _feed_json(feed, "b1.json", rows)
    src = spark.readStream.schema(schema).json(str(feed))
    q = (build(src).writeStream.format("memory").queryName(f"sk_{twin}")
         .option("checkpointLocation", str(tmp_path / "sk_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = [tuple(r) for r in
           spark.sql(f"select {cols} from sk_{twin} order by 2").collect()]
    assert got == want


def test_accumulate_while_unchanged_stream_null_prop_matches_batch(spark,
                                                                   tmp_path):
    """A NULL property is its own value, not the string 'None': the stream
    closes the same runs as the batch twin, which compares null-safely
    (NULL after 'a' is a change, 'None' after NULL is another)."""
    from akka_stream_contrib_spark.operators.accumulate import (
        accumulate_while_unchanged)
    from akka_stream_contrib_spark.streaming import (
        accumulate_while_unchanged_stream)
    feed = tmp_path / "anull_feed"
    feed.mkdir()
    rows = [{"key": 1, "seq": 1, "prop": "a"},
            {"key": 1, "seq": 2, "prop": None},
            {"key": 1, "seq": 3, "prop": None},
            {"key": 1, "seq": 4, "prop": "None"},
            {"key": 1, "seq": 5, "prop": "b"}]
    _feed_json(feed, "b1.json", rows)
    schema = "key long, seq long, prop string"
    q = (accumulate_while_unchanged_stream(
            spark.readStream.schema(schema).json(str(feed)))
         .writeStream.format("memory").queryName("anull")
         .option("checkpointLocation", str(tmp_path / "anull_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = [tuple(r) for r in spark.sql(
        "select key, prop, cnt, first_seq from anull order by first_seq")
        .collect()]
    batch = (spark.read.schema(schema).json(str(feed))
             .transform(accumulate_while_unchanged(
                 "prop", [F.count(F.lit(1)).alias("cnt"),
                          F.min("seq").alias("first_seq")],
                 partition_by=["key"]))
             .orderBy("first_seq").collect())
    # the stream keeps the last run open in state; every closed run matches
    want = [(r.key, r.prop, r.cnt, r.first_seq) for r in batch][:-1]
    assert got == want
    assert want == [(1, "a", 1, 1), (1, None, 2, 2), (1, "None", 1, 4)]


def test_keep_alive_stream_null_value_passes_through(spark, tmp_path):
    """The batch keep_alive_concat rule in the stream: a NULL value
    passes through, and the heartbeat repeats it, instead of the NULL
    failing the query."""
    from akka_stream_contrib_spark.streaming import keep_alive_stream
    feed = tmp_path / "kanull_feed"
    feed.mkdir()
    (feed / "b1.json").write_text('{"key": 1, "value": null}')
    src = spark.readStream.schema("key long, value long").json(str(feed))
    q = (keep_alive_stream(src, interval_ms=1500)
         .writeStream.format("memory").queryName("kanull")
         .option("checkpointLocation", str(tmp_path / "kanull_ck"))
         .trigger(processingTime="500 milliseconds").start())
    try:
        t0 = time.monotonic()
        rows = []
        while time.monotonic() - t0 < 45 and q.isActive:
            rows = spark.sql("select * from kanull").collect()
            if any(r.is_heartbeat for r in rows):
                break
            time.sleep(0.5)
        assert q.exception() is None
        assert (1, None, False) in [tuple(r) for r in rows]
        hb = [r for r in rows if r.is_heartbeat]
        assert hb and all(r.key == 1 and r.value is None for r in hb)
    finally:
        q.stop()


def test_keep_alive_processor_passes_null_values_through():
    # the transformWithState form runs the same kernel: the NULL row is
    # passed through (it used to be dropped) and the heartbeat repeats it.
    # Driven with fake state handles (the runtime needs protobuf).
    from akka_stream_contrib_spark.streaming.tws import KeepAliveProcessor

    class _Val:
        def __init__(self): self._v = None
        def exists(self): return self._v is not None
        def get(self): return self._v
        def update(self, v): self._v = v

    class _Handle:
        def __init__(self): self.timers = []
        def listTimers(self): return list(self.timers)
        def deleteTimer(self, t): self.timers.remove(t)
        def registerTimer(self, t): self.timers.append(t)

    class _TV:
        def getCurrentProcessingTimeInMs(self): return 1_000

    p = KeepAliveProcessor(interval_ms=500)
    p.handle, p.last = _Handle(), _Val()
    out = list(p.handleInputRows(
        (3,), iter([pd.DataFrame({"value": [7.0, np.nan]})]), _TV()))
    assert [_plain(list(r)) for r in pd.concat(out).itertuples(index=False)] \
        == [[3, 7.0, False], [3, None, False]]
    assert p.handle.timers == [1_500]
    hb = list(p.handleExpiredTimer((3,), _TV(), None))
    assert [_plain(list(r)) for r in hb[0].itertuples(index=False)] \
        == [[3, None, True]]


def test_delay_flow_processor_zero_delay_emits_in_batch():
    # r9 ADVICE / DelayFlow.scala:144-145: non-positive delay pushes
    # immediately instead of waiting behind a timer for the next trigger.
    # Unit-level drive of the processor with fake state handles (the
    # transformWithState runtime needs protobuf, absent here).
    import pandas as pd
    from akka_stream_contrib_spark.streaming.tws import DelayFlowProcessor

    class _Val:
        def __init__(self): self._v = None
        def exists(self): return self._v is not None
        def get(self): return self._v
        def update(self, v): self._v = v

    class _Lst:
        def __init__(self): self._l = []
        def appendValue(self, v): self._l.append(v)
        def get(self): return list(self._l)
        def clear(self): self._l = []

    class _Handle:
        def __init__(self):
            self.timers = []
            self._val, self._lst = _Val(), _Lst()
        def getValueState(self, *_): return self._val
        def getListState(self, *_): return self._lst
        def registerTimer(self, due): self.timers.append(due)

    class _TV:
        def getCurrentProcessingTimeInMs(self): return 10_000

    # delay = 0 for even seq, 1.5s for odd — the reference's user strategy
    def _next(state, row):
        d = 0.0 if int(row["seq"]) % 2 == 0 else 1.5
        return d, state

    p = DelayFlowProcessor(("delay double", (0.0,), _next))
    h = _Handle()
    p.handle = h
    p.strategy_state, p.pending = h._val, h._lst
    out = list(p.handleInputRows(
        (7,), iter([pd.DataFrame({"seq": [1, 2, 3, 4]})]), _TV()))
    assert len(out) == 1
    assert sorted(out[0]["seq"]) == [2, 4]          # zero-delay: pushed now
    assert sorted(s for s, _, _ in h._lst.get()) == [1, 3]  # held on timers
    assert h.timers == [11_500, 11_500]


def test_drift_monitor_batch_retry_is_idempotent(spark, tmp_path):
    # r9 ADVICE: foreachBatch is at-least-once — replaying a batch_id must
    # overwrite that batch's partition, not append duplicate monitor rows
    from akka_stream_contrib_spark.streaming.metrics import _drift_monitor
    out = str(tmp_path / "drift_idem")
    prof = {0: (0.0, 1.0), 1: (0.0, 1.0)}
    mon = _drift_monitor(prof, spark, out, "embedding", 2)
    b0 = spark.createDataFrame(
        [(i, [0.1 * i, -0.1 * i]) for i in range(10)],
        "vec_id long, embedding array<float>")
    b1 = spark.createDataFrame(
        [(i, [1.0 + 0.1 * i, -0.1 * i]) for i in range(10)],
        "vec_id long, embedding array<float>")
    mon(b0, 0)
    mon(b1, 1)
    before = sorted((r.batch_id, r.dim, r.mean_cur)
                    for r in spark.read.parquet(out).collect())
    mon(b1, 1)  # the retry
    after = sorted((r.batch_id, r.dim, r.mean_cur)
                   for r in spark.read.parquet(out).collect())
    assert after == before and len(after) == 4


def test_merge_by_index_stream_close_flush_sentinel(spark, tmp_path):
    # r9 verdict #5 / MergeByIndex.scala:116-119 shrink-on-close: a bounded
    # 3-branch scatter where branch 2 closes early (its idx 5 never comes).
    # Without the close the frontier sticks at branch 2's high-water mark;
    # the CLOSE_INDEX sentinel jumps it to +inf so the tail (6, 7) flushes
    # and the gap below becomes a confirmed omission. Stream must equal the
    # batch form on the same bounded input.
    from akka_stream_contrib_spark.operators.merge import merge_by_index
    from akka_stream_contrib_spark.streaming import (
        CLOSE_INDEX, merge_by_index_stream)
    feed = tmp_path / "cf_feed"
    feed.mkdir()
    data = [(0, 0), (1, 1), (2, 2), (0, 3), (1, 4), (0, 6), (1, 7)]
    _feed_json(feed, "b1.json",
               [{"key": 1, "branch": b, "idx": i, "payload": f"p{i}"}
                for b, i in data])
    _feed_json(feed, "b2.json",
               [{"key": 1, "branch": 2, "idx": CLOSE_INDEX, "payload": None},
                # replayed sentinel (at-least-once): idempotent no-op
                {"key": 1, "branch": 2, "idx": CLOSE_INDEX, "payload": None}])
    src = spark.readStream.schema(
        "key long, branch long, idx long, payload string").json(str(feed))
    q = (merge_by_index_stream(src, n_branches=3)
         .writeStream.format("memory").queryName("mbcf")
         .option("checkpointLocation", str(tmp_path / "cf_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = [(r.idx, r.pos) for r in
           spark.sql("select * from mbcf order by pos").collect()]
    assert got == [(0, 0), (1, 1), (2, 2), (3, 3), (4, 4), (6, 5), (7, 6)]

    # batch equivalence: same bounded input through operators/merge.py
    branches = [
        spark.createDataFrame(
            [(1, b, i, f"p{i}") for bb, i in data if bb == b],
            "key long, branch long, idx long, payload string")
        for b in range(3)]
    batch = [(r.idx, r.rnk - 1) for r in
             merge_by_index(branches, index="idx").orderBy("rnk").collect()]
    assert batch == got


def test_merge_by_index_stream_data_after_close_fails(spark, tmp_path):
    from akka_stream_contrib_spark.streaming import (
        CLOSE_INDEX, merge_by_index_stream)
    from pyspark.errors.exceptions.captured import StreamingQueryException
    feed = tmp_path / "dac_feed"
    feed.mkdir()
    ck = str(tmp_path / "dac_ck")
    out_dir = str(tmp_path / "dac_out")
    schema = "key long, branch long, idx long, payload string"

    def run_once():
        src = spark.readStream.schema(schema).json(str(feed))
        return (merge_by_index_stream(src, n_branches=1)
                .writeStream.format("parquet").option("path", out_dir)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True).start())

    # batch 1: only the sentinel — branch 0 closes, state checkpointed
    _feed_json(feed, "b1.json", [
        {"key": 1, "branch": 0, "idx": CLOSE_INDEX, "payload": None}])
    run_once().awaitTermination(60)
    # batch 2 (recovered state): data on the closed branch fails the query
    _feed_json(feed, "b2.json", [
        {"key": 1, "branch": 0, "idx": 0, "payload": "late"}])
    q = run_once()
    with pytest.raises(StreamingQueryException, match="closed branch"):
        q.awaitTermination(60)


def test_preference_pairs_stream_cross_batch_updates(spark, tmp_path):
    # the batch form's twin: candidates ARRIVE over micro-batches; per-
    # prompt best/worst persist in state; each qualifying change emits the
    # current pair with a growing upd counter (take max-upd downstream)
    from akka_stream_contrib_spark.streaming import preference_pairs_stream
    feed = tmp_path / "pp_feed"
    feed.mkdir()
    _feed_json(feed, "b1.json", [
        {"prompt_id": 1, "cand_id": 10, "text": "weak", "score": 1.0},
        {"prompt_id": 1, "cand_id": 11, "text": "good", "score": 5.0},
        {"prompt_id": 2, "cand_id": 20, "text": "only one", "score": 3.0},
        {"prompt_id": 3, "cand_id": 30, "text": "unscored", "score": None},
    ])
    src = spark.readStream.schema(
        "prompt_id long, cand_id long, text string, score double"
    ).json(str(feed))
    q = (preference_pairs_stream(src, margin=0.0)
         .writeStream.format("memory").queryName("ppstream")
         .option("checkpointLocation", str(tmp_path / "pp_ck"))
         .trigger(processingTime="1 second").start())
    try:
        assert _await_rows(spark, "ppstream", 1)
        got = spark.sql("select * from ppstream").collect()
        # prompt 1 qualifies; prompt 2 (single) and 3 (unscored) stay silent
        assert {r.prompt_id for r in got} == {1}
        r = got[0]
        assert (r.chosen_id, r.rejected_id, r.score_margin) == (11, 10, 4.0)
        # batch 2: a better candidate for prompt 1 and prompt 2's second
        _feed_json(feed, "b2.json", [
            {"prompt_id": 1, "cand_id": 12, "text": "best", "score": 7.0},
            {"prompt_id": 2, "cand_id": 21, "text": "second", "score": 1.0},
        ])
        assert _await_rows(spark, "ppstream", 3)
        rows = spark.sql("select * from ppstream").collect()
        latest = {}
        for r in rows:
            if r.prompt_id not in latest or r.upd > latest[r.prompt_id].upd:
                latest[r.prompt_id] = r
        assert (latest[1].chosen_id, latest[1].rejected_id) == (12, 10)
        assert latest[1].score_margin == 6.0 and latest[1].n_candidates == 3
        assert (latest[2].chosen_id, latest[2].rejected_id) == (20, 21)
    finally:
        q.stop()


def test_interleave_stream_single_batch_equals_batch_form(spark, tmp_path):
    # one micro-batch = the batch operator exactly (same md5 order, same
    # stride slots, same HALF_UP rounding)
    from akka_stream_contrib_spark.functions.corpus import interleave_by_weight
    from akka_stream_contrib_spark.streaming import interleave_stream
    rows = [{"doc_id": i, "source": "a" if i % 3 else "b"}
            for i in range(30)]
    feed = tmp_path / "il_feed"
    feed.mkdir()
    _feed_json(feed, "b1.json", rows)
    src = spark.readStream.schema("doc_id long, source string").json(str(feed))
    q = (interleave_stream(src, {"a": 2.0, "b": 1.0})
         .writeStream.format("memory").queryName("ilstream")
         .option("checkpointLocation", str(tmp_path / "il_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.doc_id): (r.src_pos, r.slot)
           for r in spark.sql("select * from ilstream").collect()}
    batch = spark.createDataFrame([(r["doc_id"], r["source"]) for r in rows],
                                  "doc_id long, source string")
    batch_out = batch.transform(interleave_by_weight({"a": 2.0, "b": 1.0}))
    want = {r.doc_id: (r.src_pos, r.slot) for r in batch_out.collect()}
    assert got == want
    # both forms type positions as bigint, whatever their magnitude
    for schema in (spark.table("ilstream").schema, batch_out.schema):
        assert isinstance(schema["src_pos"].dataType, LongType)


def test_interleave_stream_positions_continue_across_batches(spark, tmp_path):
    from akka_stream_contrib_spark.streaming import interleave_stream
    feed = tmp_path / "il2_feed"
    feed.mkdir()
    _feed_json(feed, "b1.json", [{"doc_id": 1, "source": "a"},
                                 {"doc_id": 2, "source": "a"}])
    src = (spark.readStream.schema("doc_id long, source string")
           .option("maxFilesPerTrigger", 1).json(str(feed)))
    q = (interleave_stream(src, {"a": 2.0})
         .writeStream.format("memory").queryName("il2stream")
         .option("checkpointLocation", str(tmp_path / "il2_ck"))
         .trigger(processingTime="1 second").start())
    try:
        assert _await_rows(spark, "il2stream", 2)
        _feed_json(feed, "b2.json", [{"doc_id": 3, "source": "a"}])
        assert _await_rows(spark, "il2stream", 3)
        got = {r.doc_id: r.src_pos
               for r in spark.sql("select * from il2stream").collect()}
        # batch-2 row resumes the counter, not restarts it
        assert got[3] == 3
        assert sorted(got.values()) == [1, 2, 3]
    finally:
        q.stop()


def test_interleave_stream_bad_weights_raise(spark):
    from akka_stream_contrib_spark.streaming import interleave_stream
    import pytest as _pt
    df = spark.readStream.format("rate").load().selectExpr(
        "value as doc_id", "'a' as source")
    with _pt.raises(ValueError):
        interleave_stream(df, {"a": -1.0})
    with _pt.raises(ValueError):
        interleave_stream(df, {}, default_weight=0.0)
