"""Coverage for the remaining reference surface: Retry.concat limits,
DelayFlow linearIncreasingDelay, Valve lifecycle, LatencyTimer columns,
SourceRepeatEval, keep-alive heartbeat timeout."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from akka_stream_contrib_spark.operators import retry_concat
from akka_stream_contrib_spark.operators.delay import linear_increasing_delay
from akka_stream_contrib_spark.operators.timed import (
    latency_columns,
    timed_section,
    with_ingest_ts,
)
from akka_stream_contrib_spark.sources.repeat_eval import repeat_eval_stream
from akka_stream_contrib_spark.streaming import keep_alive_stream
from akka_stream_contrib_spark.streaming.valve import SwitchMode, Valve


def test_retry_concat_splits_heavy_elements(spark):
    # Retry.concat: a failure may re-inject MANY elements (split semantics)
    inp = spark.createDataFrame(
        [(1, 10, 10, False, None)], "seq int, i int, state int, ok boolean, value int")

    def flow(df):
        # even i fails; odd succeeds with i+1
        return df.withColumn("ok", F.col("i") % 2 == 1).withColumn(
            "value", F.when(F.col("i") % 2 == 1, F.col("i") + 1))

    def retry_with(failed):
        # split each failed element into two odd halves (5 -> succeed)
        half = failed.withColumn("i", (F.col("i") / 2).cast("int") + F.lit(0))
        fixed = half.withColumn("i", F.col("i") * 2 + 1)  # force odd
        return fixed.unionByName(fixed).withColumn("give_up", F.lit(False))

    out = retry_concat(inp, flow, retry_with, retries_limit=10, buffer_limit=10)
    rows = out.collect()
    assert len(rows) == 2 and all(r.ok for r in rows)


def test_retry_concat_retries_limit_trips(spark):
    inp = spark.createDataFrame(
        [(1, 2, 2, False, None)], "seq int, i int, state int, ok boolean, value int")

    def flow(df):
        return df.withColumn("ok", F.lit(False)).withColumn(
            "value", F.lit(None).cast("int"))

    def retry_with(failed):
        return failed.withColumn("give_up", F.lit(False))  # retry forever

    with pytest.raises(RuntimeError, match="retries_limit"):
        retry_concat(inp, flow, retry_with, retries_limit=3, max_rounds=50)


def test_linear_increasing_delay_run_lengths(spark):
    # DelayFlow.scala:60-102: step × consecutive needsIncrease, reset, cap
    rows = [(1, True), (2, True), (3, False), (4, True), (5, True), (6, True)]
    df = spark.createDataFrame(rows, "seq int, inc boolean")
    out = df.withColumn("d", linear_increasing_delay(
        F.col("inc"), step_seconds=10, max_delay_seconds=25, seq="seq"))
    got = {r.seq: r.d for r in out.collect()}
    assert got == {1: 10.0, 2: 20.0, 3: 0.0, 4: 10.0, 5: 20.0, 6: 25.0}  # capped


def test_timed_section_and_latency_columns(spark):
    captured = []
    with timed_section(captured.append):
        df = spark.range(10).transform(with_ingest_ts())
        out = df.transform(latency_columns()).collect()
    assert len(captured) == 1 and captured[0] > 0
    assert all(r.latency_us >= 0 for r in out)


def test_repeat_eval_stream_generates(spark, tmp_path):
    gen = lambda seq: (seq * seq).cast("bigint")
    q = (repeat_eval_stream(spark, gen, rows_per_second=200)
         .writeStream.format("memory").queryName("repeat_t")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(processingTime="500 milliseconds").start())
    try:
        t0 = time.monotonic()
        while time.monotonic() - t0 < 30:
            rows = spark.sql("select seq, element from repeat_t").collect()
            if len(rows) >= 5:
                break
            time.sleep(0.3)
        assert len(rows) >= 5
        assert all(r.element == r.seq * r.seq for r in rows)
    finally:
        q.stop()  # the reference's Cancellable.cancel()


def test_valve_flip_lifecycle(spark, tmp_path):
    feed = tmp_path / "vfeed"
    out_dir = tmp_path / "vout"
    feed.mkdir()
    (feed / "a.json").write_text('{"v": 1}')
    starts = []

    def start_query():
        # file sink: the checkpoint is what makes flip(Open) resume losslessly
        q = (spark.readStream.schema("v long").json(str(feed))
             .writeStream.format("parquet")
             .option("path", str(out_dir))
             .option("checkpointLocation", str(tmp_path / "vck"))
             .trigger(processingTime="500 milliseconds").start())
        starts.append(q)
        return q

    def sink_values():
        try:
            return {r.v for r in spark.read.parquet(str(out_dir)).collect()}
        except Exception:
            return set()

    valve = Valve(start_query, mode=SwitchMode.OPEN)
    assert valve.get_mode() == SwitchMode.OPEN
    assert valve.flip(SwitchMode.OPEN) is False       # no-op, like reference
    t0 = time.monotonic()
    while time.monotonic() - t0 < 30 and 1 not in sink_values():
        time.sleep(0.3)
    assert 1 in sink_values()
    assert valve.flip(SwitchMode.CLOSED) is True
    assert valve.query is None and not starts[-1].isActive
    # data arriving while closed is NOT lost (checkpoint): reopen drains it
    (feed / "b.json").write_text('{"v": 2}')
    assert valve.flip(SwitchMode.OPEN) is True
    t0 = time.monotonic()
    while time.monotonic() - t0 < 30 and 2 not in sink_values():
        time.sleep(0.3)
    assert 2 in sink_values()
    valve.flip(SwitchMode.CLOSED)


def test_keep_alive_stream_emits_heartbeat_on_idle(spark, tmp_path):
    feed = tmp_path / "kfeed"
    feed.mkdir()
    (feed / "b1.json").write_text('{"key": 1, "value": 42}')
    src = spark.readStream.schema("key long, value long").json(str(feed))
    q = (keep_alive_stream(src, interval_ms=1500)
         .writeStream.format("memory").queryName("ka_t")
         .option("checkpointLocation", str(tmp_path / "kck"))
         .trigger(processingTime="500 milliseconds").start())
    try:
        t0 = time.monotonic()
        hb = []
        while time.monotonic() - t0 < 45:
            rows = spark.sql("select * from ka_t").collect()
            hb = [r for r in rows if r.is_heartbeat]
            if hb:
                break
            time.sleep(0.5)
        # the element passed through, then idleness produced heartbeats
        assert any(not r.is_heartbeat and r.value == 42 for r in rows)
        assert hb and all(r.value == 42 for r in hb)
    finally:
        q.stop()


def test_windowed_fold_arbitrary_lambda(spark):
    """TimeWindow with a genuinely non-algebraic fold (running max-drawdown):
    the user-lambda contract of the reference, checked against a pure-Python
    model."""
    from akka_stream_contrib_spark.operators.windows import windowed_fold

    rows = [
        (1, "2024-01-01 00:00:05", 10.0),
        (1, "2024-01-01 00:00:20", 4.0),
        (1, "2024-01-01 00:00:40", 7.0),     # window 0: drawdown 6
        (1, "2024-01-01 00:01:10", 5.0),
        (1, "2024-01-01 00:01:30", 9.0),     # window 1: drawdown 0
        (2, "2024-01-01 00:00:30", 3.0),     # key 2, window 0: drawdown 0
    ]
    df = spark.createDataFrame(rows, "k int, ts string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))

    # state = (peak, max_drawdown); result extracts the drawdown
    seed = lambda v: (v, 0.0)
    def fold(acc, v):
        peak, dd = acc
        peak = max(peak, v)
        return (peak, max(dd, peak - v))
    op = windowed_fold("1 minute", seed, lambda a, v: fold(a, v),
                       partition_by=["k"], out_type="struct<peak:double,dd:double>")
    got = {(r.k, str(r.window_start)): r.result.dd
           for r in df.transform(op).collect()}
    assert got == {
        (1, "2024-01-01 00:00:00"): 6.0,
        (1, "2024-01-01 00:01:00"): 0.0,
        (2, "2024-01-01 00:00:00"): 0.0,
    }


def test_accumulate_while_unchanged_null_runs(spark):
    """NULL properties form runs like any value (null-safe comparison): a
    NULL after 'a' starts a new run; consecutive NULLs share one run."""
    from akka_stream_contrib_spark.operators import accumulate_while_unchanged

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "a"), (4, None), (5, "a")],
        "seq int, prop string")
    runs = sorted(
        (r.grp, r.prop, r.cnt) for r in df.transform(accumulate_while_unchanged(
            "prop", [F.count(F.lit(1)).alias("cnt")], seq="seq")).collect())
    assert runs == [(1, None, 2), (2, "a", 1), (3, None, 1), (4, "a", 1)]


def test_partition_with_shared_payload_name(spark):
    """One output column fed by BOTH sides (the Either-with-one-payload
    shape) must carry the left expr for side 0 and the right expr for
    side 1 — not silently null the left side."""
    from akka_stream_contrib_spark.operators import partition_with

    df = spark.createDataFrame([(1, 10), (2, 200)], "id int, v int")
    out = {r.id: (r.side, r.payload) for r in df.transform(partition_with(
        F.col("v") >= 100,
        left={"payload": F.col("v") * 2},
        right={"payload": F.col("v") * 3},
    )).collect()}
    assert out == {2: (0, 400), 1: (1, 30)}


def test_retry_give_up_in_input_schema(spark):
    """retry_with may return give-up rows in the FLOW'S INPUT schema (the
    documented contract); they are emitted as failures with null-filled
    payload columns instead of crashing the union."""
    from akka_stream_contrib_spark.operators import retry

    def flow(df):
        return df.select(
            "x", "attempts",
            (F.col("x") % 2 == 0).alias("ok"),
            F.when(F.col("x") % 2 == 0, F.col("x") * 10).alias("value"),
            F.when(F.col("x") % 2 != 0, F.lit("odd")).alias("error"))

    def retry_with(failed):
        # give up on everything, returning INPUT-schema rows + marker
        return failed.select("x", "attempts").withColumn("give_up", F.lit(True))

    out = retry(spark.createDataFrame([(2,), (3,)], "x int"), flow, retry_with)
    rows = {r.x: (r.ok, r.error) for r in out.collect()}
    assert rows[2] == (True, None)
    assert rows[3] == (False, "gave_up")


def test_token_throttle_existing_cost_column(spark):
    """An input column literally named 'cost' must not produce an ambiguous
    duplicate in the output."""
    from akka_stream_contrib_spark.operators import token_throttle

    df = spark.createDataFrame([(1, 3), (2, 4)], "seq int, cost int")
    out = df.transform(token_throttle(F.col("cost"), total_tokens=100, seq="seq",
                                      overwrite_cost=True))
    assert out.columns.count("cost") == 1
    assert [r.cost for r in out.orderBy("seq").collect()] == [3, 4]


def test_sample_step_rejects_oversized_step(spark):
    from akka_stream_contrib_spark.operators import sample_step

    with pytest.raises(ValueError):
        sample_step(100000)


def test_scd2_intervals_invariants(spark):
    from datetime import datetime, timedelta
    from akka_stream_contrib_spark.operators import scd2_intervals
    t0 = datetime(2024, 1, 1)
    rows, seq = [], 0
    for user in (1, 2):
        for state in ["a", "a", "b", "b", "b", "a", "c", "c"]:
            rows.append((seq, t0 + timedelta(minutes=seq), user, state))
            seq += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string")
    out = df.transform(
        scd2_intervals("user_id", "event_type", "ts", "event_id")).collect()
    by_user = {}
    for r in sorted(out, key=lambda r: (r.user_id, r.valid_from_seq)):
        by_user.setdefault(r.user_id, []).append(r)
    assert set(by_user) == {1, 2}
    for user, ivs in by_user.items():
        # runs collapse: a,b,a,c per user
        assert [r.state for r in ivs] == ["a", "b", "a", "c"]
        # contiguous half-open intervals: valid_to == next valid_from
        for cur, nxt in zip(ivs, ivs[1:]):
            assert cur.valid_to == nxt.valid_from
            assert not cur.is_current
        assert ivs[-1].valid_to is None and ivs[-1].is_current


def test_rolling_zscore_model(spark):
    import statistics
    from akka_stream_contrib_spark.operators import rolling_zscore
    vals = [10.0, 12.0, 11.0, 50.0, 12.5, 11.5, 13.0]
    rows = [(i, 1, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_id bigint, user_id bigint, value double")
    got = {r.event_id: (r.roll_mean, r.zscore) for r in
           df.transform(rolling_zscore("user_id", "value", "event_id", n=3)).collect()}
    for i in range(len(vals)):
        window = vals[max(0, i - 2):i + 1]
        mean = sum(window) / len(window)
        assert got[i][0] == pytest.approx(round(mean, 6), abs=1e-6)
        if len(window) >= 2 and statistics.stdev(window) > 0:
            z = (vals[i] - mean) / statistics.stdev(window)
            assert got[i][1] == pytest.approx(round(z, 6), abs=1e-5)
        else:
            assert got[i][1] is None
    # the planted spike is the extreme score
    assert max(got, key=lambda i: abs(got[i][1] or 0)) == 3


def test_ewma_model_and_truncation(spark):
    from akka_stream_contrib_spark.operators import ewma_smooth, ewma_weights
    vals = [1.0, 2.0, 4.0, 8.0, 16.0, 8.0, 4.0, 2.0, 1.0, 0.5]
    rows = [(i, 1, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_id bigint, user_id bigint, value double")
    ws = ewma_weights(0.3, 4)
    got = {r.event_id: r.ewma for r in
           df.transform(ewma_smooth("user_id", "value", "event_id",
                                    alpha=0.3, depth=4)).collect()}
    for i in range(len(vals)):
        lags = [vals[i - j] for j in range(4) if i - j >= 0]
        num = sum(w * x for w, x in zip(ws, lags))
        den = sum(w for w, _ in zip(ws, lags))
        assert got[i] == pytest.approx(round(num / den, 6), abs=1e-6)


def test_sessionize_golden(spark):
    from datetime import datetime, timedelta
    from akka_stream_contrib_spark.operators import sessionize
    t0 = datetime(2024, 1, 1)
    # gaps: 10s, 2000s (new session), 5s, 1801s (new session)
    offs = [0, 10, 2010, 2015, 2015 + 1801]
    rows = [(i, t0 + timedelta(seconds=o), 1) for i, o in enumerate(offs)]
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp, user_id bigint")
    out = sorted(df.transform(sessionize("user_id", "ts", "event_id", gap_s=1800))
                 .collect(), key=lambda r: r.event_id)
    assert [r.session_id for r in out] == [1, 1, 2, 2, 3]
    assert [r.session_pos for r in out] == [1, 2, 1, 2, 1]
    # exact-1800s gap is NOT a new session (strict >)
    rows2 = [(0, t0, 1), (1, t0 + timedelta(seconds=1800), 1)]
    df2 = spark.createDataFrame(rows2, "event_id bigint, ts timestamp, user_id bigint")
    out2 = df2.transform(sessionize("user_id", "ts", "event_id", gap_s=1800)).collect()
    assert {r.session_id for r in out2} == {1}


def test_interval_overlap_join_equals_naive_predicate_join(spark):
    """Bucketed match-once result == naive overlap join on random intervals
    spanning 0-5 buckets, including touching/contained/identical cases."""
    import random
    from akka_stream_contrib_spark.operators import interval_overlap_join
    from pyspark.sql import functions as F

    rng = random.Random(7)
    base = 1_700_000_000
    def mk(n, tag):
        out = []
        for i in range(n):
            s = base + rng.randrange(0, 40) * 3600
            out.append((f"{tag}{i}", s, s + rng.randrange(0, 30) * 3600))
        return out

    lrows, rrows = mk(60, "L"), mk(60, "R")
    lrows.append(("Ltouch", base, base + 7200))          # [0h, 2h)
    rrows.append(("Rtouch", base + 7200, base + 10800))  # [2h, 3h) — no match
    lrows.append(("Linv", base + 9999, base))            # inverted: never matches
    ldf = spark.createDataFrame(
        lrows,
        "lid string, ls_e long, le_e long").selectExpr(
        "lid", "timestamp_seconds(ls_e) AS ls", "timestamp_seconds(le_e) AS le")
    rdf = spark.createDataFrame(
        rrows, "rid string, rs_e long, re_e long").selectExpr(
        "rid", "timestamp_seconds(rs_e) AS rs", "timestamp_seconds(re_e) AS re")

    got = {(r.lid, r.rid) for r in interval_overlap_join(
        ldf, rdf, "ls", "le", "rs", "re", bucket_width_s=6 * 3600
    ).select("lid", "rid").collect()}
    # naive oracle with the well-formedness filter the operator guarantees
    # (an inverted interval can satisfy the raw predicate but is not a
    # valid half-open interval)
    naive = {(r.lid, r.rid) for r in ldf.filter("ls < le").join(
        rdf.filter("rs < re"),
        (F.col("ls") < F.col("re")) & (F.col("rs") < F.col("le"))
    ).select("lid", "rid").collect()}
    assert got == naive and len(got) > 50
    assert not any(l == "Ltouch" and r == "Rtouch" for l, r in got)
    assert not any(l == "Linv" for l, _ in got)


def test_interval_overlap_join_match_once_and_equi_keys(spark):
    """A pair overlapping across many buckets appears exactly once; equi
    keys restrict matches to the same key."""
    from akka_stream_contrib_spark.operators import interval_overlap_join

    ldf = spark.createDataFrame(
        [("a", "k1", 0, 1000_000), ("b", "k2", 0, 1000_000)],
        "lid string, k string, ls_e long, le_e long").selectExpr(
        "lid", "k", "timestamp_seconds(ls_e) AS ls",
        "timestamp_seconds(le_e) AS le")
    rdf = spark.createDataFrame(
        [("x", "k1", 500, 2000_000)],
        "rid string, k string, rs_e long, re_e long").selectExpr(
        "rid", "k", "timestamp_seconds(rs_e) AS rs",
        "timestamp_seconds(re_e) AS re")
    # tiny buckets: the overlap spans ~1000 buckets of 1000 s each
    rows = interval_overlap_join(
        ldf, rdf, "ls", "le", "rs", "re", bucket_width_s=1000,
        equi_keys=["k"],
    ).select("lid", "rid").collect()
    assert [(r.lid, r.rid) for r in rows] == [("a", "x")]


def test_global_order_primitives_match_single_partition_window(
        spark, shuffle_layout):
    """global_rank / global_running_sum / global_lag must equal the naive
    Window.orderBy() results while never materializing a single partition."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from akka_stream_contrib_spark.operators import (
        global_lag, global_rank, global_running_sum)

    df = spark.range(0, 5000, 1, 16).select(
        F.col("id").alias("seq"),
        (F.pmod(F.col("id") * 7919, F.lit(100)) + 1).alias("v"))
    # NULL values every 7th row: a ghost/boundary value must not stand in
    # for a genuinely NULL predecessor
    vn = F.when(F.col("seq") % 7 == 0, F.lit(None)).otherwise(F.col("v"))
    w = Window.orderBy("seq")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    expect = {r.seq: (r.rnk, r.cum, r.prev, r.prev_n) for r in df.select(
        "seq", F.row_number().over(w).alias("rnk"),
        F.sum("v").over(wc).alias("cum"),
        F.lag("v").over(w).alias("prev"),
        F.lag(vn).over(w).alias("prev_n")).collect()}

    got_rank = {r.seq: r.rnk for r in global_rank(df, "seq", "rnk").collect()}
    got_cum = {r.seq: r.cum for r in
               global_running_sum(df, "seq", "v", "cum").collect()}
    got_lag = {r.seq: r.prev for r in
               global_lag(df, "seq", F.col("v"), "prev").collect()}
    with shuffle_layout(spark, 16):  # 16 ranges: AQE cannot merge them
        got_lag_n = {r.seq: r.prev_n for r in
                     global_lag(df, "seq", vn, "prev_n").collect()}
    for s, (rnk, cum, prev, prev_n) in expect.items():
        assert got_rank[s] == rnk
        assert got_cum[s] == cum
        assert got_lag[s] == prev
        assert got_lag_n[s] == prev_n


def test_unkeyed_token_throttle_plan_has_no_global_window(spark):
    """The unkeyed throttle must not contain a partition-less Window sort."""
    from pyspark.sql import functions as F
    from akka_stream_contrib_spark.operators import token_throttle

    df = spark.range(100).select(F.col("id").alias("seq"),
                                 F.lit(1).alias("one"))
    out = df.transform(token_throttle(F.col("one"), total_tokens=50, seq="seq"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the only Window in the plan partitions on the range partition id
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "_pid" in line, f"global-order window found: {line}"
    assert out.count() == 50


def test_global_running_agg_min_max_count_match_naive_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from akka_stream_contrib_spark.operators import global_running_agg

    df = spark.range(0, 3000, 1, 16).select(
        F.col("id").alias("seq"),
        (F.pmod(F.col("id") * 6007 + 13, F.lit(500)) - 250).alias("v"))
    wc = (Window.orderBy("seq")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    expect = {r.seq: (r.mn, r.mx, r.cnt) for r in df.select(
        "seq", F.min("v").over(wc).alias("mn"),
        F.max("v").over(wc).alias("mx"),
        F.count(F.lit(1)).over(wc).alias("cnt")).collect()}
    got_mn = {r.seq: r.mn for r in
              global_running_agg(df, "seq", "v", "mn", fn="min").collect()}
    got_mx = {r.seq: r.mx for r in
              global_running_agg(df, "seq", "v", "mx", fn="max").collect()}
    got_ct = {r.seq: r.cnt for r in
              global_running_agg(df, "seq", "v", "cnt", fn="count").collect()}
    for s, (mn, mx, cnt) in expect.items():
        assert got_mn[s] == mn and got_mx[s] == mx and got_ct[s] == cnt


def test_global_running_agg_nulls_inherit_prefix(spark):
    """Window aggregates SKIP NULLs, so a row whose in-range local prefix is
    all-NULL must still carry the cross-range offset (the regression was
    NULL + offset = NULL). Force many tiny ranges so some ranges START with
    NULL values, and compare sum/min/max against the naive global window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from akka_stream_contrib_spark.operators import global_running_agg

    # LEADING all-NULL run spanning >1 range (2000/16 = 125 rows per range,
    # first 300 rows NULL: the whole first range and part of the second must
    # return NULL, not the sum identity 0) plus interior NULL runs
    df = spark.range(0, 2000, 1, 16).select(
        F.col("id").alias("seq"),
        F.when((F.col("id") >= 300) & (F.pmod("id", F.lit(7)) < 3),
               F.pmod(F.col("id") * 37, F.lit(50)))
        .alias("v"))
    wc = (Window.orderBy("seq")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    expect = {r.seq: (r.s, r.mn, r.mx) for r in df.select(
        "seq", F.sum("v").over(wc).alias("s"),
        F.min("v").over(wc).alias("mn"),
        F.max("v").over(wc).alias("mx")).collect()}
    got_s = {r.seq: r.s for r in
             global_running_agg(df, "seq", "v", "s", fn="sum").collect()}
    got_mn = {r.seq: r.mn for r in
              global_running_agg(df, "seq", "v", "mn", fn="min").collect()}
    got_mx = {r.seq: r.mx for r in
              global_running_agg(df, "seq", "v", "mx", fn="max").collect()}
    for s, (sm, mn, mx) in expect.items():
        assert got_s[s] == sm and got_mn[s] == mn and got_mx[s] == mx


def test_reservoir_sample_deterministic_and_uniform(spark):
    from akka_stream_contrib_spark.operators import reservoir_sample
    import pytest as _pytest
    df = spark.createDataFrame([(i,) for i in range(2000)], "seq bigint")
    a = sorted(r.seq for r in df.transform(reservoir_sample(100)).collect())
    b = sorted(r.seq for r in
               df.repartition(13).transform(reservoir_sample(100)).collect())
    assert a == b and len(a) == 100  # partition-layout independent
    # hash-rank spreads across the id range (crude uniformity check)
    assert min(a) < 200 and max(a) > 1800
    with _pytest.raises(ValueError):
        reservoir_sample(0)


def test_resample_interpolate_exact_line(spark):
    from akka_stream_contrib_spark.operators import resample_interpolate
    from datetime import datetime
    rows = [(1, datetime(2024, 1, 1), 0.0), (1, datetime(2024, 1, 5), 8.0),
            (2, datetime(2024, 1, 2), 5.0)]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, value double")
    out = {(r.user_id, r.grid_ts.day): r.value_interp
           for r in resample_interpolate(
               df, key="user_id", step="interval 1 day", align="day").collect()}
    # user 1: linear 0→8 over 4 days = 2.0/day
    assert [out[(1, d)] for d in (1, 2, 3, 4, 5)] == [0.0, 2.0, 4.0, 6.0, 8.0]
    # user 2: single observation fills its whole (1-tick) grid
    assert out[(2, 2)] == 5.0


def test_global_rank_survives_cache_eviction(spark):
    """Recompute-determinism of the range-pin (r11, verdict r10 item 8):
    global_rank pins row placement with a pipeline persist; if that cache
    is LOST at cluster scale, a recomputed partition must land on the
    same _pid with the same local order, or the baked-in prefix offsets
    silently corrupt every rank. The range boundaries come from seeded
    reservoir sampling over a deterministic input, so eviction must be
    invisible — assert the full (key -> rank) map is identical after a
    blocking unpersist of every cache the rank pass registered."""
    from pyspark.sql import functions as F
    from akka_stream_contrib_spark import util
    from akka_stream_contrib_spark.operators import global_rank

    df = spark.range(0, 5000, 1, 16).select(
        (F.pmod(F.col("id") * 7919, F.lit(977))).alias("k"),
        F.col("id").alias("seq"))
    ranked = global_rank(df, ["k", "seq"], out="rnk")
    before = {(r.k, r.seq): r.rnk for r in ranked.collect()}
    # every rank is assigned exactly once (total order over the input)
    assert sorted(before.values()) == list(range(1, 5001))
    # evict the pinned range partitioning; the next action recomputes it
    # from scratch (fresh boundary sampling over the same input)
    for c in list(util._PIPELINE_CACHES):
        c.unpersist(blocking=True)
    after = {(r.k, r.seq): r.rnk for r in ranked.collect()}
    assert after == before
