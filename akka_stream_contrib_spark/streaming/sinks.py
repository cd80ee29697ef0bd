"""Exactly-once foreachBatch sinks.

Structured Streaming's checkpoint gives at-least-once delivery to a
foreachBatch callback: a crash between the sink write and the offset commit
replays the batch with the SAME batch_id. Exactly-once therefore reduces to
making the write idempotent per batch_id — the contract the reference leaves
to its sinks (its sources are replayable the same way: FileTailSource
re-reads from ``position``, PagedSource from ``nextKey``).

The pattern here: partition the output directory by ``_batch_id`` and
dynamically overwrite ONLY the replayed batch's partition. A replay rewrites
byte-identical files into the same directory instead of appending
duplicates. Partition-granular overwrite is atomic-enough at any scale (one
directory per micro-batch, bounded by trigger admission), needs no table
format, and keeps the output a plain parquet table that downstream batch
queries read with partition pruning on ``_batch_id``.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BATCH_COL = "_batch_id"


def idempotent_parquet_sink(path: str) -> Callable[[DataFrame, int], None]:
    """Return a ``foreachBatch`` callback writing each micro-batch to
    ``path`` partitioned by batch id, with dynamic partition overwrite so a
    checkpoint replay of batch N rewrites partition N instead of duplicating
    it::

        q = (df.writeStream
               .foreachBatch(idempotent_parquet_sink("/data/out"))
               .option("checkpointLocation", ckpt).start())
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        # writer-level option, NOT a session-conf toggle (concurrent writers
        # toggling the session conf race; a restored "static" would truncate
        # the whole table)
        (batch_df.withColumn(BATCH_COL, F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(BATCH_COL).parquet(path))

    return _write


def read_sink(spark, path: str) -> DataFrame:
    """Read an :func:`idempotent_parquet_sink` output without the batch-id
    bookkeeping column."""
    return spark.read.parquet(path).drop(BATCH_COL)


def incremental_dedup_sink(path: str, id_col: str = "doc_id",
                           text_col: str = "text",
                           hash_col: str = "text_hash",
                           ) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` callback implementing STREAMING first-seen dedup
    against a growing on-disk hash index — the continuous form of
    ``functions.dedup.dedup_incremental``: each micro-batch is reduced to
    content the pipeline has never emitted (across ALL previous batches and
    restarts — the index, not executor state, is the memory), survivors are
    appended to ``path``/docs and their hashes to ``path``/index.

    Unlike ``dropDuplicatesWithinWatermark`` this has no state horizon: the
    index is a plain parquet hash table (16 bytes/doc) read via an anti
    join, so the dedup window is the pipeline's whole lifetime. The
    docs write is batch-id-partitioned with dynamic overwrite (the module
    pattern above), which closes the replay crash window: a crash between
    the docs write and the index write replays the batch, recomputes the
    SAME fresh set (their hashes never reached the index) and overwrites
    the same ``_batch_id`` partition byte-identically instead of appending
    duplicates; a replay after both writes finds nothing fresh and touches
    nothing."""
    from akka_stream_contrib_spark.functions import dedup_incremental

    # batch_id is REQUIRED (foreachBatch always passes it): with the docs
    # write now partition-overwriting on _batch_id, a defaulted id would
    # let ad-hoc single-arg callers silently overwrite partition 0 on
    # every call — destroying prior docs while their hashes stay in the
    # index, permanently suppressing that content
    def _write(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException
        spark = batch_df.sparkSession
        # only a MISSING index means "first batch" — a transient read
        # failure must propagate, or the dedup index silently resets and
        # previously-emitted docs re-append as duplicates (same hardening
        # as scd2_sink below)
        try:
            seen = spark.read.parquet(f"{path}/index")
        except AnalysisException as ex:
            if "PATH_NOT_FOUND" not in (ex.getErrorClass() or "") \
                    and "Path does not exist" not in str(ex):
                raise
            seen = spark.createDataFrame([], f"{hash_col} string")
        fresh = dedup_incremental(batch_df, seen, id_col=id_col,
                                  text_col=text_col, hash_col=hash_col)
        fresh = fresh.localCheckpoint(eager=True)  # read index BEFORE writing it
        idempotent_parquet_sink(f"{path}/docs")(fresh.drop(hash_col),
                                                batch_id)
        fresh.select(hash_col).write.mode("append").parquet(f"{path}/index")

    return _write


def scd2_sink(path: str, key: str = "user_id", attr: str = "event_type",
              ts: str = "ts", seq: str = "event_id",
              ) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` callback maintaining an SCD2 dimension table from a
    change stream — the continuous form of ``operators/scd2.py::
    scd2_intervals``: each micro-batch's per-key state changes open new
    validity intervals, close the previously-current ones, and leave
    untouched keys alone.

    Exactly-once via VERSIONED SNAPSHOTS: batch N derives from the snapshot
    with the highest ``_batch_id`` < N plus batch N's rows, and dynamically
    overwrites ONLY partition ``_batch_id=N`` — a checkpoint replay
    recomputes from the same inputs and rewrites the same partition, so the
    result is byte-stable under at-least-once delivery (same contract as
    :func:`idempotent_parquet_sink`). Read with :func:`read_scd2`.

    Scale note: SCD2 maintenance must REWRITE closed rows, so each snapshot
    is a full dimension write — the dependency-free parquet stand-in for
    what a table format (Delta/Iceberg MERGE) does in place. Dimensions are
    orders of magnitude smaller than facts; compact old ``_batch_id``
    partitions on retention like ``streaming/rollup.py::expire_buckets``.
    """
    from pyspark.sql import Window

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cols = [key, "state", "valid_from_seq", "valid_from", "valid_to",
                "is_current"]
        schema_hint = None
        # ONLY path-not-found means "first batch" — any other read/collect
        # failure (FS hiccup, corrupt footer, executor loss) must propagate
        # so the checkpoint retries the batch instead of silently writing a
        # from-scratch snapshot that loses every prior key
        from pyspark.errors import AnalysisException
        try:
            all_snaps = spark.read.parquet(path)
        except AnalysisException as ex:
            if "PATH_NOT_FOUND" not in (ex.getErrorClass() or "") \
                    and "Path does not exist" not in str(ex):
                raise
            all_snaps = None
        if all_snaps is not None:
            prior = all_snaps.filter(F.col(BATCH_COL) < batch_id)
            last = prior.agg(F.max(BATCH_COL).alias("m")).collect()[0].m
            hist = (prior.filter(F.col(BATCH_COL) == last).drop(BATCH_COL)
                    if last is not None else None)
        else:
            hist = None
        if hist is None:
            ts_t = batch_df.schema[ts].dataType.simpleString()
            seq_t = batch_df.schema[seq].dataType.simpleString()
            key_t = batch_df.schema[key].dataType.simpleString()
            attr_t = batch_df.schema[attr].dataType.simpleString()
            schema_hint = (f"{key} {key_t}, state {attr_t}, "
                           f"valid_from_seq {seq_t}, valid_from {ts_t}, "
                           f"valid_to {ts_t}, is_current boolean")
            hist = spark.createDataFrame([], schema_hint)
        # presence of an open interval is tracked separately from its value:
        # an open interval whose state IS NULL must still suppress a re-open
        # null-safe join keys throughout (the snapshot_diff `_nk_` pattern):
        # a NULL-key entity is one entity — plain equality would never match
        # its open interval, re-opening a duplicate is_current row per batch
        open_rows = hist.filter("is_current").select(
            F.col(key).alias("_nk_open"), F.col("state").alias("_open_state"),
            F.lit(True).alias("_has_open"))
        w = Window.partitionBy(key).orderBy(seq)
        b = (batch_df.select(key, attr, ts, seq)
             .withColumn("_prev", F.lag(attr).over(w))
             .withColumn("_rn", F.row_number().over(w))
             # dimension-sized: let AQE pick the join
             .join(open_rows, F.col(key).eqNullSafe(F.col("_nk_open")), "left")
             .drop("_nk_open"))
        # a batch's first row continues the open interval unless the state
        # differs (null-safe: NULL attr is a state; a key with no open row
        # always starts one)
        carried = F.when(F.col("_rn") == 1, F.col("_open_state")) \
                   .otherwise(F.col("_prev"))
        has_prev = F.when(F.col("_rn") == 1,
                          F.coalesce("_has_open", F.lit(False))) \
                    .otherwise(F.lit(True))
        new_run = (~has_prev) | (~F.col(attr).eqNullSafe(carried))
        starts = b.filter(new_run)
        ws = Window.partitionBy(key).orderBy(seq)
        fresh = starts.select(
            F.col(key), F.col(attr).alias("state"),
            F.col(seq).alias("valid_from_seq"), F.col(ts).alias("valid_from"),
            F.lead(ts).over(ws).alias("valid_to"),
            F.lead(ts).over(ws).isNull().alias("is_current"))
        # close the previously-current interval of every key that opened at
        # least one new interval this batch
        first_new = (fresh.groupBy(key)
                     .agg(F.min(F.struct("valid_from_seq", "valid_from"))
                          .alias("_f"))
                     .select(F.col(key).alias("_nk_close"),
                             F.col("_f.valid_from").alias("_close_at")))
        closed = (hist.join(F.broadcast(first_new),
                            F.col(key).eqNullSafe(F.col("_nk_close")), "left")
                  .drop("_nk_close")
                  .withColumn(
                      "valid_to",
                      F.when(F.col("is_current") & F.col("_close_at").isNotNull(),
                             F.col("_close_at")).otherwise(F.col("valid_to")))
                  .withColumn(
                      "is_current",
                      F.col("is_current") & F.col("_close_at").isNull())
                  .drop("_close_at"))
        idempotent_parquet_sink(path)(
            closed.select(*cols).unionByName(fresh.select(*cols)), batch_id)

    return _write


def read_scd2(spark, path: str) -> DataFrame:
    """Current state of an :func:`scd2_sink` table: the highest-``_batch_id``
    snapshot, without the version column."""
    snaps = spark.read.parquet(path)
    last = snaps.agg(F.max(BATCH_COL).alias("m")).collect()[0].m
    return snaps.filter(F.col(BATCH_COL) == last).drop(BATCH_COL)
