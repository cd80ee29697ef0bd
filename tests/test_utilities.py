"""Skew-safe aggregation, failure-as-data transform, pulse streaming form,
progress listener."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from akka_stream_contrib_spark.functions.errors import try_transform
from akka_stream_contrib_spark.operators.skew import salted_aggregate
from akka_stream_contrib_spark.streaming.metrics import ProgressRecorder, pulse_stream


def test_salted_aggregate_equals_direct(spark):
    # heavy skew: 90% of rows share one key
    rows = [(("hot" if i % 10 else f"k{i}"), float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows, "k string, v double")
    direct = {(r.k): (r.s, r.c, r.mn, r.mx) for r in
              df.groupBy("k").agg(F.sum("v").alias("s"),
                                  F.count("v").alias("c"),
                                  F.min("v").alias("mn"),
                                  F.max("v").alias("mx")).collect()}
    salted = {(r.k): (r.s, r.c, r.mn, r.mx) for r in
              salted_aggregate(df, ["k"], {
                  "s": ("sum", "v"), "c": ("count", "v"),
                  "mn": ("min", "v"), "mx": ("max", "v")}).collect()}
    assert direct == salted


def test_try_transform_captures_per_row_failures(spark):
    df = spark.createDataFrame(
        [(1, "10"), (2, "oops"), (3, "30")], "id long, raw string")
    out = df.transform(try_transform(
        lambda s: int(s) * 2, in_col="raw", value_type="bigint",
        keep_cols=("id",)))
    got = {r.id: (r.ok, r.value, r.error) for r in out.collect()}
    assert got[1] == (True, 20, None)
    assert got[3] == (True, 60, None)
    assert got[2][0] is False and got[2][1] is None and "ValueError" in got[2][2]


def test_pulse_stream_latest_per_key_per_batch(spark, tmp_path):
    feed = tmp_path / "pfeed"
    feed.mkdir()
    (feed / "b1.json").write_text("\n".join(json.dumps(r) for r in [
        {"key": 1, "seq": 1, "v": 10}, {"key": 1, "seq": 3, "v": 30},
        {"key": 2, "seq": 2, "v": 20},
    ]))
    src = spark.readStream.schema("key long, seq long, v long").json(str(feed))
    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        q = (pulse_stream(src, "key", "seq")
             .writeStream.format("memory").queryName("pulse_s")
             .outputMode("complete")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(processingTime="500 milliseconds").start())
        try:
            t0 = time.monotonic()
            while time.monotonic() - t0 < 30:
                rows = spark.sql("select * from pulse_s").collect()
                if len(rows) == 2:
                    break
                time.sleep(0.4)
            got = {r.key: (r.seq, r.v) for r in rows}
            assert got == {1: (3, 30), 2: (2, 20)}  # latest per key only
        finally:
            q.stop()
        # LatencyTimer side channel: listener saw batch progress
        t0 = time.monotonic()
        while time.monotonic() - t0 < 10 and not rec.batches:
            time.sleep(0.3)
        assert rec.started
        assert any(b.num_input_rows > 0 for b in rec.batches)
    finally:
        spark.streams.removeListener(rec)


def test_salted_join_equals_plain_join_under_skew(spark):
    from akka_stream_contrib_spark.operators.skew import salted_join
    # 90% of fact rows share key 7
    fact = spark.range(0, 5000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 7 ELSE id % 50 END AS k", "id AS v")
    dim = spark.range(0, 50).selectExpr("id AS k", "id * 100 AS attr")
    plain = fact.join(dim, ["k"]).groupBy("k").count()
    salted = salted_join(fact, dim, ["k"], salt=8).groupBy("k").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # left join keeps unmatched skewed rows exactly once
    dim_partial = dim.filter("k < 5")
    left_plain = fact.join(dim_partial, ["k"], "left")
    left_salted = salted_join(fact, dim_partial, ["k"], salt=8, how="left")
    assert left_plain.count() == left_salted.count()
    assert left_salted.filter("attr IS NULL").count() == left_plain.filter("attr IS NULL").count()


def test_resample_ffill_golden(spark):
    from akka_stream_contrib_spark.operators.resample import resample_ffill
    ev = spark.createDataFrame(
        [(1, "2024-01-01 12:00:00", 10.0),   # mid-day obs
         (1, "2024-01-03 00:00:00", 30.0),   # exactly on a grid tick
         (2, "2024-01-05 06:00:00", 99.0)],
        "user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {(r.user_id, str(r.grid_ts)): r.value_ffill
           for r in resample_ffill(ev, key="user_id").collect()}
    assert out == {
        (1, "2024-01-01 00:00:00"): None,    # grid starts at truncated day, before first obs
        (1, "2024-01-02 00:00:00"): 10.0,    # carried forward
        (1, "2024-01-03 00:00:00"): 30.0,    # exact-time obs fills its own tick
        (2, "2024-01-05 00:00:00"): None,    # single tick before the day's only obs
    }


def test_observed_materialized_summary(spark):
    """df.observe = the reference's materialized value: total bytes / last
    element style summaries ride along with the main action, no second job."""
    from akka_stream_contrib_spark.operators.timed import observed

    df = spark.range(1, 1001).selectExpr("id", "id * 2 AS v")
    out, obs = observed(df, "mat",
                        F.count(F.lit(1)).alias("n"),
                        F.sum("v").alias("total_v"),
                        F.max("id").alias("last_id"))
    assert out.filter("id % 2 = 0").count() == 500   # the "main" action
    got = obs.get
    assert got == {"n": 1000, "total_v": 1001000, "last_id": 1000}


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup (dropDuplicatesWithinWatermark): the streaming
    twin of dedup_exact — state for a key is dropped once the watermark
    passes, so dedup over an unbounded stream runs in bounded state."""
    feed = tmp_path / "dupfeed"
    feed.mkdir()
    (feed / "a.json").write_text(
        '{"k": 1, "ts": "2024-01-01 10:00:00", "v": 1.0}\n'
        '{"k": 1, "ts": "2024-01-01 10:00:30", "v": 2.0}\n'   # dup within watermark
        '{"k": 2, "ts": "2024-01-01 10:01:00", "v": 3.0}\n')
    src = (spark.readStream.schema("k long, ts string, v double").json(str(feed))
           .withColumn("ts", F.col("ts").cast("timestamp"))
           .withWatermark("ts", "10 minutes"))
    q = (src.dropDuplicatesWithinWatermark(["k"])
         .writeStream.format("memory").queryName("sdedup")
         .option("checkpointLocation", str(tmp_path / "ddck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = sorted((r.k, r.v) for r in spark.sql("SELECT k, v FROM sdedup").collect())
    assert [k for k, _ in rows] == [1, 2]              # one row per key


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    from akka_stream_contrib_spark.operators import (
        compact_parquet,
        parquet_file_stats,
    )

    src = str(tmp_path / "small_files")
    # simulate a micro-batch sink's output: 64 tiny files
    spark.range(20000).repartition(64).write.parquet(src)
    n_before, total = parquet_file_stats(src)
    assert n_before >= 64
    out = str(tmp_path / "compacted")
    back = compact_parquet(spark, src, out, target_file_bytes=total)
    n_after, _ = parquet_file_stats(out)
    assert n_after == 1
    assert back.count() == 20000
    assert back.selectExpr("sum(id)").head()[0] == 20000 * 19999 // 2
    with pytest.raises(ValueError):
        compact_parquet(spark, src, src)


def test_compact_parquet_preserves_hive_partitions(spark, tmp_path):
    from akka_stream_contrib_spark.operators import (
        compact_parquet,
        parquet_file_stats,
    )
    from pyspark.sql import functions as F

    src = str(tmp_path / "parts")
    (spark.range(9000).select((F.col("id") % 3).alias("p"), "id")
     .repartition(30).write.partitionBy("p").parquet(src))
    n_before, total = parquet_file_stats(src)
    out = str(tmp_path / "parts_out")
    back = compact_parquet(spark, src, out, target_file_bytes=total,
                           partition_cols=["p"])
    n_after, _ = parquet_file_stats(out)
    assert n_after < n_before
    # directory layout preserved -> partition pruning still applies
    import os
    assert sorted(d for d in os.listdir(out) if d.startswith("p=")) == [
        "p=0", "p=1", "p=2"]
    assert back.count() == 9000


def test_registry_consistency():
    """Driver-contract invariants: every priority entry resolves, no
    orphan oracles, every oracle key is a registered query, and the
    ~50-row driver window is filled with real names."""
    import __spark_entry__ as entry
    qs = entry.queries()
    osql = entry.oracle_sql()
    assert set(entry._PRIORITY) <= set(qs), \
        sorted(set(entry._PRIORITY) - set(qs))
    assert set(osql) <= set(qs), sorted(set(osql) - set(qs))
    # priority front actually reorders the dict
    assert list(qs)[:len(entry._PRIORITY)] == [
        k for k in entry._PRIORITY if k in qs]
    # every query callable is materially distinct (no aliased duplicates)
    assert len({id(v) for v in qs.values()}) == len(qs)


def test_retain_pipeline_caches_defers_drop(spark):
    """Inside the scope drop_stale_caches() must keep concurrent pipelines'
    caches alive; on exit every accumulated cache is released."""
    from akka_stream_contrib_spark import util

    a = util.pipeline_cache(spark.range(10))
    with util.retain_pipeline_caches():
        b = util.pipeline_cache(spark.range(20))
        util.drop_stale_caches()  # no-op inside the scope
        assert a.storageLevel.useMemory and b.storageLevel.useMemory
    assert not a.storageLevel.useMemory and not b.storageLevel.useMemory
    assert not util._PIPELINE_CACHES


def test_cache_release_swallows_only_a_stopped_context(spark):
    """Releasing a cache whose SparkContext was stopped is a no-op (the
    stop dropped it); any other unpersist failure propagates from both
    release paths instead of leaving the cache pinned in silence."""
    from types import SimpleNamespace

    from py4j.protocol import Py4JError

    from akka_stream_contrib_spark import util

    class Frame:
        def __init__(self, session, error):
            self.sparkSession, self.error = session, error

        def unpersist(self):
            raise self.error

    stopped = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None))
    try:
        util._PIPELINE_CACHES.append(Frame(stopped, Py4JError("stopped")))
        util.drop_stale_caches()
        util.release_pipeline_cache(Frame(stopped, Py4JError("stopped")))
        assert not util._PIPELINE_CACHES

        util._PIPELINE_CACHES.append(Frame(spark, Py4JError("boom")))
        with pytest.raises(Py4JError, match="boom"):
            util.drop_stale_caches()
        with pytest.raises(RuntimeError, match="boom"):
            util.release_pipeline_cache(Frame(spark, RuntimeError("boom")))
    finally:
        util._PIPELINE_CACHES.clear()


def test_no_unregistered_caches_in_package():
    """Grep gate (r11 cache hygiene): raw ``.cache()`` is banned in the
    package and ``.persist()`` may appear only inside util.pipeline_cache
    — an unregistered cache is never dropped by drop_stale_caches and leaks
    executor storage for the session lifetime."""
    import glob
    import os

    pkg = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "akka_stream_contrib_spark")
    offenders = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, pkg)
        src = open(path).read()
        code = "\n".join(ln for ln in src.splitlines()
                         if not ln.lstrip().startswith("#"))
        if ".cache()" in code:
            offenders.append(f"{rel}: .cache()")
        # ".unpersist()" contains ".persist()" as a substring — exclude it
        n_persist = max(
            0, code.count(".persist()") - code.count(".unpersist()"))
        if rel == "util.py":
            # pipeline_cache's own body is the one sanctioned call site
            if n_persist > 1:
                offenders.append(f"{rel}: {n_persist} .persist() calls")
        elif n_persist:
            offenders.append(f"{rel}: {n_persist} .persist() calls")
    assert not offenders, offenders


def test_apply_in_pandas_with_state_only_in_the_keyed_state_shell():
    """Grep gate (one keyed-state shell): ``applyInPandasWithState`` is
    called only inside ``streaming/stateful.py::_keyed_state``; a stateful
    twin is a kernel plus one ``_keyed_state`` call, never a hand-rolled
    shell of its own."""
    import ast
    import glob
    import os

    pkg = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "akka_stream_contrib_spark")
    sites = []

    def walk(node, rel, owner):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(child, rel, child.name)
                continue
            if (isinstance(child, ast.Attribute)
                    and child.attr == "applyInPandasWithState"):
                sites.append((rel, owner))
            walk(child, rel, owner)

    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        walk(ast.parse(open(path).read()), os.path.relpath(path, pkg), None)
    assert sites == [("streaming/stateful.py", "_keyed_state")], sites
