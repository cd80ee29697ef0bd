"""Plan-shape assertions: the properties that make these queries survive a
100× scale-up, checked against the actual physical plans."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from akka_stream_contrib_spark.plans import (
    assert_broadcast_join,
    assert_pushed_filter,
    formatted_plan,
)

SF = "/root/testdata/sf0.001"


def test_q1_filter_pushdown_and_pruning(spark):
    df = entry.q_q1_pricing_summary(spark, SF)
    assert_pushed_filter(df, "l_shipdate")
    plan = formatted_plan(df)
    # column pruning: the scan must not read the unused key columns
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_q3_q5_broadcast_all_dimensions(spark):
    assert_broadcast_join(entry.q_q3_shipping_priority(spark, SF), min_count=2)
    # q5: five dimension joins, all broadcast — lineitem is never shuffled
    # before the final aggregation
    assert_broadcast_join(entry.q_q5_local_supplier_volume(spark, SF), min_count=5)
    plan = formatted_plan(entry.q_q5_local_supplier_volume(spark, SF))
    assert "SortMergeJoin" not in plan


def test_sample_nth_scans_pruned_schema(spark):
    df = entry.q_sample_nth(spark, SF)
    read = formatted_plan(df).split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in read and "ts" not in read  # only 4 needed columns


def test_whole_stage_codegen_covers_q1(spark):
    df = entry.q_q1_pricing_summary(spark, SF)
    qe = df._jdf.queryExecution()
    jvm = spark._jvm
    plan = qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    # the scan→filter→partial-agg pipeline must be fused into JIT'd loops
    assert "WholeStageCodegen" in plan


def test_bucketed_join_has_zero_exchanges(spark):
    """Co-located bucketed tables join without any shuffle or sort: the
    write-time bucket hash replaces the runtime Exchange."""
    from akka_stream_contrib_spark.operators.bucketing import (
        assert_no_shuffle_join, bucketed_join, write_bucketed)

    left = spark.range(0, 10_000).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(0, 10_000).selectExpr("id AS k", "id * 3 AS b")
    write_bucketed(left, "t_bleft", ["k"], num_buckets=8)
    write_bucketed(right, "t_bright", ["k"], num_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = bucketed_join(spark, "t_bleft", "t_bright", on=["k"])
            assert_no_shuffle_join(j)  # would raise on any Exchange
            assert j.count() == 10_000
            # sanity: the same join on the un-bucketed frames DOES shuffle
            plain = left.join(right, "k")
            plan = plain._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        # under the default threshold the small side broadcasts —
        # BroadcastExchange moves no bucket data and must NOT be flagged
        assert_no_shuffle_join(bucketed_join(spark, "t_bleft", "t_bright",
                                             on=["k"]))
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bleft")
        spark.sql("DROP TABLE IF EXISTS t_bright")


def test_subquery_decorrelation_shapes(spark):
    """The adapted TPC-H subquery queries keep their MPP shapes: hash joins
    only (no SortMergeJoin at dimension scale), filters pushed to scans, and
    q22's single-row scalar is the only nested-loop join in the suite."""
    plan = formatted_plan(entry.q_q17_small_qty_revenue(spark, SF))
    assert "SortMergeJoin" not in plan          # per-part avg joins hash-side
    assert "BroadcastHashJoin" in plan
    plan18 = formatted_plan(entry.q_q18_large_orders(spark, SF))
    assert "SortMergeJoin" not in plan18        # HAVING keys broadcast back
    assert_pushed_filter(entry.q_q4_order_priority(spark, SF), "o_orderdate")
    plan22 = formatted_plan(entry.q_q22_idle_balance(spark, SF))
    # formatted explain prints each node in the tree AND the detail section —
    # count tree nodes only: exactly one BNLJ, the 1-row scalar cross join
    tree22 = plan22.split("\n\n(")[0]
    assert tree22.count("BroadcastNestedLoopJoin") == 1


def test_range_join_keeps_equi_conjunct_hashable(spark):
    """range_join_follows must hash-partition on user_id — a plan that
    degrades to a pure nested-loop band join would not survive scale."""
    plan = formatted_plan(entry.q_range_join_follows(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_partitioned_write_prunes_directories(spark, tmp_path):
    from pyspark.sql import functions as F

    from akka_stream_contrib_spark import tables
    from akka_stream_contrib_spark.operators import write_partitioned
    from akka_stream_contrib_spark.plans import assert_partition_pruned

    ev = tables.load(spark, "events", SF)
    path = str(tmp_path / "events_by_type")
    write_partitioned(ev, path, ["event_type"])
    back = spark.read.parquet(path)
    clicks = back.filter(F.col("event_type") == "click")
    # the filter must become a planning-time directory prune, not a row filter
    assert_partition_pruned(clicks, "event_type")
    assert clicks.count() == ev.filter(F.col("event_type") == "click").count()
    # a non-partition filter on the same data must NOT satisfy the assertion
    with pytest.raises(AssertionError):
        assert_partition_pruned(back.filter(F.col("value") > 50), "value")
    with pytest.raises(ValueError):
        write_partitioned(ev, path, [])


def test_corpus_family_plan_shapes(spark):
    from akka_stream_contrib_spark.plans import count_exchanges

    # chunking is a pure generator expression: nothing may shuffle
    assert count_exchanges(entry.q_chunk_documents(spark, SF)) == 0
    # vocabulary top-k must be per-partition top-k + k-row merge, never a
    # global sort of the vocabulary
    plan = formatted_plan(entry.q_vocab_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan
    # decontamination must broadcast the eval shingle set (the corpus side
    # of the semi join is never shuffled on the shingle key)
    assert_broadcast_join(entry.q_decontaminate(spark, SF))
    # stratified sampling: scan-side filter, zero shuffles
    assert count_exchanges(entry.q_stratified_sample(spark, SF)) == 0


def test_aqe_splits_skewed_join_at_runtime(spark, tmp_path):
    """The skew path the engine relies on at 100 TB: a hot join key is split
    across tasks by AQE at runtime (SortMergeJoin(skew=true)). Thresholds
    are shrunk so sf-test data exhibits the behavior; the mechanism is
    byte-based and identical at any scale. (`operators/skew.py` salting
    covers the cases AQE can't: skewed *aggregations* and broadcast-ineligible
    plans.)"""
    from pyspark.sql import functions as F

    keys = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(200000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"))
        right = spark.range(1000).select(
            F.col("id").alias("k"), F.lit("r").alias("tag"))
        j = left.join(right, "k")
        assert len(j.collect()) == 180100
        # the FINAL adaptive plan (only available after execution) must show
        # the skewed-partition split
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan and "AQEShuffleRead skewed" in plan
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)


def test_join_strategy_hints_are_honored(spark):
    """Join strategy control surface: the optimizer's choice can be
    overridden per-join with hints — needed at scale when statistics
    mislead (e.g. force shuffle-hash for a medium dim that would spill in
    sort-merge, or forbid broadcast for a memory-tight executor fleet)."""
    from akka_stream_contrib_spark import tables

    orders = tables.load(spark, "orders", SF)
    cust = tables.load(spark, "customer", SF)
    on = orders.o_custkey == cust.c_custkey
    merged = formatted_plan(orders.join(cust.hint("merge"), on))
    assert "SortMergeJoin" in merged and "BroadcastHashJoin" not in merged
    hashed = formatted_plan(orders.join(cust.hint("shuffle_hash"), on))
    assert "ShuffledHashJoin" in hashed
    bcast = formatted_plan(orders.join(cust.hint("broadcast"), on))
    assert "BroadcastHashJoin" in bcast


def test_zorder_write_clusters_all_dimensions(spark, tmp_path):
    """Z-order layout: per-file min/max stats must be selective on BOTH
    z-ordered columns (a plain sort clusters only its leading column)."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from akka_stream_contrib_spark.operators import zorder_write

    df = spark.range(20000).select(
        "id",
        ((F.col("id") * 48271) % 65536).alias("a"),
        ((F.col("id") * 69621 + 12345) % 65536).alias("b"),
    )

    def file_spreads(path, col):
        spreads = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            mn = min(md.row_group(i).column(idx).statistics.min
                     for i in range(md.num_row_groups))
            mx = max(md.row_group(i).column(idx).statistics.max
                     for i in range(md.num_row_groups))
            spreads.append(mx - mn)
        return spreads

    zorder_write(df, str(tmp_path / "z"), ["a", "b"], bits=16, num_files=16)
    # baseline: plain sort by a — clusters a, leaves b unclustered
    (df.repartitionByRange(16, "a").sortWithinPartitions("a")
     .write.mode("overwrite").parquet(str(tmp_path / "s")))

    za = file_spreads(tmp_path / "z", "a")
    zb = file_spreads(tmp_path / "z", "b")
    sb = file_spreads(tmp_path / "s", "b")
    full = 65536
    assert sum(za) / len(za) < 0.5 * full
    assert sum(zb) / len(zb) < 0.5 * full
    # the property a single-column sort cannot give: the non-leading column
    # is ALSO clustered, far below the sorted-by-a layout's full-range spread
    assert sum(zb) / len(zb) < 0.6 * sum(sb) / len(sb)

    # round-trip integrity
    back = spark.read.parquet(str(tmp_path / "z"))
    assert back.count() == 20000
    assert back.agg(F.sum("a"), F.sum("b")).head() == \
        df.agg(F.sum("a"), F.sum("b")).head()


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime row-level filtering: a selective dimension filter should
    inject a bloom filter on the fact-side scan of a shuffle join — at
    100 TB this is the difference between shuffling the whole fact table
    and shuffling the ~matching rows. (Size thresholds are lowered to make
    the optimization fire at test scale.)"""
    from pyspark.sql import functions as F

    from akka_stream_contrib_spark import tables
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = tables.load(spark, "lineitem", "/root/testdata/sf0.001")
        orders = tables.load(spark, "orders", "/root/testdata/sf0.001") \
            .filter(F.col("o_orderpriority") == "1-URGENT")
        j = li.join(orders, li.l_orderkey == orders.o_orderkey) \
              .groupBy("o_orderpriority").count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan.lower() or "might_contain" in plan.lower(), plan[:2000]
        assert j.head().o_orderpriority == "1-URGENT"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_unkeyed_accumulate_avoids_single_partition_window(spark):
    """The unkeyed running sum must run on the range-partitioned prefix-fold
    path (global_running_agg): the physical plan may not contain a
    partition-less Window (which compiles to Exchange SinglePartition and
    moves the whole stream to one task)."""
    df = entry.q_accumulate(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan[:2000]
    # and the window that remains is per-range (partitioned by _pid)


def test_pareto_cumulative_share_avoids_single_partition_window(spark):
    """Round 6 moved pareto_customers' cumulative share off the unpartitioned
    window (the customer aggregate is corpus-sized — the ONE post-agg window
    in the registry that grows with the data) onto the two-phase range
    prefix sum: every Window in the plan must be partitioned by the range
    pid (the share's denominator is the prefix pass's complete fold, a
    literal — no total aggregate joins back)."""
    import re
    df = entry.q_pareto_customers(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(_pid" in plan, plan[:2000]
    for spec in re.findall(r"windowspecdefinition\((\S+)", plan):
        assert spec.startswith("_pid"), (spec, plan[:2000])


def test_unkeyed_accumulate_generic_fold_warns(spark):
    """A non-prefix-combinable unkeyed fold still works (single-partition
    window fallback) but must say so."""
    import warnings

    from pyspark.sql import functions as F

    from akka_stream_contrib_spark.operators import accumulate

    df = spark.range(10).selectExpr("id AS seq", "id AS value")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = df.transform(accumulate(F.collect_list("value"), out="acc"))
        rows = out.orderBy("seq").collect()
    assert any("single-partition" in str(x.message) for x in w)
    assert [r.acc for r in rows[:3]] == [[0], [0, 1], [0, 1, 2]]


def test_token_budget_fill_derives_total_without_rescanning_source(spark):
    """The corpus-total budget must come from the pinned ranged frame
    (max of the inclusive prefix), NOT a second parquet scan with a full
    re-tokenization. The ranged frame is a pipeline-scoped persist (r10:
    was an eager localCheckpoint, which printed as an opaque ExistingRDD),
    so the ONE cache-build scan of the source is now visible nested under
    the InMemoryRelation — the invariant is that no parquet scan appears
    OUTSIDE that cache-build subtree."""
    from akka_stream_contrib_spark.functions.corpus import token_budget_fill
    from akka_stream_contrib_spark.plans import formatted_plan
    from akka_stream_contrib_spark.plans.explain import plan_nodes

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    nodes = plan_nodes(formatted_plan(token_budget_fill()(df)))
    scans = [n for n in nodes if n[0].startswith("Scan parquet")]
    assert scans
    for _, node_id, owner in scans:
        assert owner is not None, \
            f"parquet scan ({node_id}) outside the cache build"


def test_near_dup_family_has_no_nested_loop_self_join(spark):
    """Round-8 'Done' criterion (verdict r7 #3): the near-dup entries must
    NOT contain the quadratic id_a < id_b theta self-join — the blocked
    kernel's only joins are broadcast candidate-cell joins and the
    cogroup's hash exchanges; the pair work lives in applyInPandas."""
    for q in ("embedding_near_dup", "semantic_dedup", "dup_clusters"):
        plan = formatted_plan(entry.queries()[q](spark, SF))
        assert "BroadcastNestedLoopJoin" not in plan, q
        assert "CartesianProduct" not in plan, q
    # the cogroup GEMM is visible in the pair query's own plan (the two
    # cluster compositions truncate it behind dup_clusters' checkpoint)
    plan = formatted_plan(entry.queries()["embedding_near_dup"](spark, SF))
    assert "FlatMapCoGroupsInPandas" in plan


def test_round8_additions_plan_shapes(spark):
    # theil_sen / frequent_journeys: the quadratic fan-out is in-row —
    # no join, no window over the fanned-out stream
    for q in ("theil_sen", "frequent_journeys"):
        plan = formatted_plan(entry.queries()[q](spark, SF))
        assert "Join" not in plan, q
    # adamic_adar: wedge fan-out is in-row; the only joins are the capped
    # center join and the broadcast anti-join against existing edges
    plan = formatted_plan(entry.queries()["adamic_adar"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # grouped_split stays a pure map-side scan
    plan = formatted_plan(entry.queries()["grouped_split"](spark, SF))
    assert "Exchange" not in plan


def test_round9_additions_plan_shapes(spark):
    from akka_stream_contrib_spark.plans import formatted_plan
    # html_extract: the whole extraction is one codegen chain on the scan —
    # no exchange, no join, and the scan reads only (doc_id, text)
    plan = formatted_plan(entry.queries()["html_extract"](spark, SF))
    assert "Exchange" not in plan and "Join" not in plan
    assert "ReadSchema" in plan and "doc_id" in plan
    assert "lang" not in plan and "source" not in plan  # column pruning
    # margin_mine: the kNN stages are broadcast GEMM — never a cartesian
    # or nested-loop pair join
    plan = formatted_plan(entry.queries()["margin_mine"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # embedding_dim_drift: the dim-keyed moment join must not shuffle the
    # exploded element stream a second time — the join is broadcast or a
    # tiny hash join of two 64-row aggregates, never a sort-merge over data
    plan = formatted_plan(entry.queries()["embedding_dim_drift"](spark, SF))
    assert "CartesianProduct" not in plan
    # cross_lingual_dedup rides the jaccard posting plan: no nested-loop
    plan = formatted_plan(entry.queries()["cross_lingual_dedup"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # chat_training_text: one exchange (the conv groupBy); the span fold
    # adds no window over the rendered stream
    plan = formatted_plan(entry.queries()["chat_training_text"](spark, SF))
    assert "Window" not in plan


def test_count_exchanges_no_argument_collision_in_main_plan(spark):
    # r10 review: two independent global aggregates print identical
    # Exchange arguments (SinglePartition) — they are distinct runtime
    # shuffles and must count as 2, while cached build-plan reprints
    # (same InMemoryRelation, AQE initial copy) still dedupe
    from pyspark.sql import functions as F
    from akka_stream_contrib_spark.plans import count_exchanges
    from akka_stream_contrib_spark.util import pipeline_cache
    a = spark.range(100).agg(F.count(F.lit(1)).alias("a"))
    b = spark.range(200).agg(F.sum("id").alias("b"))
    assert count_exchanges(a.crossJoin(b)) == 2
    # cached subtree: its ONE build shuffle counts once even when the
    # cache is consumed twice
    base = pipeline_cache(spark.range(100).withColumn("k", F.col("id") % 5)
                          .groupBy("k").agg(F.count(F.lit(1)).alias("c")))
    joined = base.join(base.withColumnRenamed("c", "c2"), "k")
    assert count_exchanges(joined) <= 2
    # TWO different caches with identical-argument builds (SinglePartition)
    # are distinct runtime shuffles — dedup is scoped per owning relation
    ca = pipeline_cache(spark.range(100).agg(F.count(F.lit(1)).alias("x")))
    cb = pipeline_cache(spark.range(200).agg(F.count(F.lit(1)).alias("y")))
    assert count_exchanges(ca.crossJoin(cb)) == 2
    # a shuffle inside a subquery section is a real shuffle and counts
    spark.range(100).withColumn("k", F.col("id") % 2) \
        .createOrReplaceTempView("_ce_t")
    sub = spark.sql("select * from _ce_t where id > "
                    "(select avg(id) from _ce_t group by k limit 1)")
    assert count_exchanges(sub) >= 1
