"""The streaming workload: ``dedup_within_watermark`` → ``sessionize_stream``
→ ``idempotent_parquet_sink`` over parquet files landing in a directory.

Phase 1 drains a fixed backlog with a fixed ``maxFilesPerTrigger`` and
prices capacity (events per second). Phase 2 keeps the same query running
while an open-loop generator thread lands one file per tick at a fixed
rate, and prices latency: each event is timed from its file's scheduled
landing time to the commit of the micro-batch that holds it, read from the
query's checkpoint (``sources/0/<batch>`` names the files of a batch,
``commits/<batch>`` is written when it commits).
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from dataclasses import dataclass

import pandas as pd

from datagen import dedup_events, stream_files
from tracing import Tracer, now


GAP_S = 600  # session inactivity gap


@dataclass(frozen=True)
class StreamParams:
    warmup_files: int          # landed before timing; part of set-up
    backlog_files: int         # phase 1
    events_per_file: int       # warm-up and backlog files
    files_per_trigger: int     # maxFilesPerTrigger
    live_events_per_file: int  # phase 2
    tick_s: float              # phase 2: one file per tick

    @property
    def watermark(self) -> str:
        # twice one backlog file's event-time span (mean 2 s between
        # events): a re-delivery copies the previous file, so it lands in
        # the horizon
        return f"{4 * self.events_per_file} seconds"


def _land(df: pd.DataFrame, stage_dir: str, src_dir: str, name: str) -> None:
    """Write a file beside the source and rename it in, so the source never
    lists a half-written file."""
    tmp = os.path.join(stage_dir, name)
    df.to_parquet(tmp, index=False)
    os.rename(tmp, os.path.join(src_dir, name))


def _batch_files(ckpt: str) -> dict[str, int]:
    """file name -> id of the micro-batch that read it. The file source logs
    each file with its own log index (``sources/0/<i>``, compacted now and
    then into ``<i>.compact``); a batch's offset (``offsets/<batch>``) is the
    last index it covers. No-data batches, run to move the watermark, cover
    no new index."""
    def lines(*parts):
        with open(os.path.join(ckpt, *parts)) as f:
            return [ln.strip() for ln in f if ln.strip().startswith("{")]

    ends = sorted((json.loads(lines("offsets", b)[-1])["logOffset"], int(b))
                  for b in os.listdir(os.path.join(ckpt, "offsets")) if b.isdigit())
    out = {}
    src = os.path.join("sources", "0")
    for name in os.listdir(os.path.join(ckpt, src)):
        if name.split(".")[0].isdigit():
            for ln in lines(src, name):
                entry = json.loads(ln)
                out[os.path.basename(entry["path"])] = min(
                    b for end, b in ends if end >= entry["batchId"])
    return out


def _commit_time(ckpt: str, batch_id: int) -> float:
    return os.stat(os.path.join(ckpt, "commits", str(batch_id))).st_mtime


class StreamRunner:
    def __init__(self, spark, work: str, params: StreamParams, seed: int,
                 seconds: float, tracer: Tracer, traced: bool):
        self.spark, self.work, self.p = spark, work, params
        self.tracer, self.traced = tracer, traced
        p = params
        self.n_live = max(int(round(seconds / 2 / p.tick_s)), 1)
        self.files = stream_files(
            seed, [p.events_per_file] * (p.warmup_files + p.backlog_files)
            + [p.live_events_per_file] * self.n_live)
        self.sink_s: dict[int, float] = {}
        self.failed = 0
        self.attempted = 0

    def _query(self, src: str, out: str, ckpt: str):
        from pyspark.sql import functions as F

        from akka_stream_contrib_spark.streaming import (
            dedup_within_watermark, idempotent_parquet_sink, sessionize_stream)

        sink = idempotent_parquet_sink(out)
        if self.traced:
            inner = sink

            def sink(batch_df, batch_id):
                t0 = now()
                inner(batch_df, batch_id)
                t1 = now()
                self.sink_s[batch_id] = t1 - t0
                self.tracer.record("sink", t0, t1, None, batch_id=batch_id)

        events = (self.spark.readStream.schema(self.schema)
                  .option("maxFilesPerTrigger", self.p.files_per_trigger)
                  .parquet(src))
        deduped = dedup_within_watermark(events, "event_id", "ts", self.p.watermark)
        sessions = sessionize_stream(deduped.select("user_id", "ts", "event_id"),
                                     gap_s=GAP_S)
        return (sessions.select(F.col("key").alias("user_id"), "event_id",
                                "session_id", "session_pos")
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt).start())

    def start(self) -> None:
        """Set-up: start the query and drain the warm-up files through it."""
        p = self.p
        self.src, self.stage, self.out, self.ckpt = (
            os.path.join(self.work, d) for d in ("src", "stage", "out", "ckpt"))
        os.makedirs(self.src)
        os.makedirs(self.stage)
        self.schema = self.spark.createDataFrame(self.files[0].head(1)).schema
        for i in range(p.warmup_files):
            _land(self.files[i], self.stage, self.src, f"a{i:04d}.parquet")
        self.query = self._query(self.src, self.out, self.ckpt)
        self.query.processAllAvailable()
        self.first_batch = self.query.lastProgress.batchId + 1

    def run(self) -> dict:
        """Phase 1, then phase 2, on the running query; then stop it."""
        p, q, n_live = self.p, self.query, self.n_live
        live = self.files[p.warmup_files + p.backlog_files:]
        try:
            # phase 1: capacity over a backlog landed at once. The files are
            # written first and only renamed into the source on the clock,
            # so the drain time excludes the benchmark's own writes.
            backlog = [f"b{i:04d}.parquet"
                       for i in range(p.warmup_files, p.warmup_files + p.backlog_files)]
            for name, df in zip(backlog, self.files[p.warmup_files:]):
                df.to_parquet(os.path.join(self.stage, name), index=False)
            t0 = now()
            for name in backlog:
                os.rename(os.path.join(self.stage, name), os.path.join(self.src, name))
            q.processAllAvailable()
            drain_s = now() - t0
            self.tracer.record("phase1", t0, t0 + drain_s, None)
            # phase 2: open loop, one file per tick, timed from when it was due
            due, late = [], []
            start = time.time() + p.tick_s

            def generator():
                for k in range(n_live):
                    when = start + k * p.tick_s
                    time.sleep(max(0.0, when - time.time()))
                    _land(live[k], self.stage, self.src, f"l{k:04d}.parquet")
                    due.append(when)
                    late.append(time.time() - when)

            gen = threading.Thread(target=generator, name="generator")
            t1 = now()
            gen.start()
            gen.join()
            q.processAllAvailable()
            self.tracer.record("phase2", t1, now(), None)
            progress = [pr for pr in q.recentProgress if pr.batchId >= self.first_batch]
            for pr in progress:
                t = pd.Timestamp(pr.timestamp).timestamp()
                self.tracer.record("microbatch", t, t + pr.durationMs.get("triggerExecution", 0) / 1e3,
                                   None, batch_id=pr.batchId, rows=pr.numInputRows)
        finally:
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"streaming query failed: {q.exception()}")
        where = _batch_files(self.ckpt)
        latency = []
        for k in range(n_live):
            committed = _commit_time(self.ckpt, where[f"l{k:04d}.parquet"])
            latency.append(committed - due[k])
            self.tracer.record("file", due[k], committed, None, file=k)
        return {"drain_s": drain_s,
                "backlog_events": p.backlog_files * p.events_per_file,
                "latency": latency, "late": late, "progress": progress}

    def check(self) -> None:
        """The sink must hold exactly ``operators.sessionize`` run in batch
        over the deduplicated events. Counts one operation per event."""
        from akka_stream_contrib_spark.operators import sessionize
        from akka_stream_contrib_spark.streaming import read_sink

        ref = dedup_events(self.files)
        self.attempted += len(ref)
        want = (self.spark.createDataFrame(ref[["event_id", "ts", "user_id"]])
                .transform(sessionize("user_id", "ts", "event_id", gap_s=GAP_S))
                .select("user_id", "event_id", "session_id", "session_pos").toPandas())
        got = read_sink(self.spark, self.out).select(
            "user_id", "event_id", "session_id", "session_pos").toPandas()
        key = ["user_id", "event_id", "session_id", "session_pos"]
        m = want.astype("int64").merge(got.astype("int64"), on=key, how="outer",
                                       indicator=True)
        bad = int((m["_merge"] != "both").sum())
        bad += int(got.duplicated("event_id").sum())
        if bad:
            self.failed += bad
            print(f"# FAILED stream check: {bad} events differ from batch sessionize",
                  file=sys.stderr, flush=True)

    def layer_metrics(self, progress, late: list[float]) -> dict[str, float]:
        """Means per measured micro-batch from ``StreamingQueryProgress``;
        state size as of the last batch."""
        rows = [pr for pr in progress if pr.numInputRows > 0] or list(progress)
        n = max(len(rows), 1)

        def dur(pr, *keys):
            return sum(pr.durationMs.get(k, 0) for k in keys)

        last_state = rows[-1].stateOperators if rows else []
        sink = [t for b, t in self.sink_s.items() if b >= self.first_batch]
        out = {
            "source.offset_ms": sum(dur(pr, "latestOffset", "getBatch") for pr in rows) / n,
            "streaming.planning_ms": sum(dur(pr, "queryPlanning") for pr in rows) / n,
            "streaming.add_batch_ms": sum(dur(pr, "addBatch") for pr in rows) / n,
            "streaming.commit_ms": sum(dur(pr, "walCommit", "commitOffsets") for pr in rows) / n,
            "streaming.trigger_ms": sum(dur(pr, "triggerExecution") for pr in rows) / n,
            "streaming.batch_rows": sum(pr.numInputRows for pr in rows) / n,
            "state.rows": float(sum(s.numRowsTotal for s in last_state)),
            "state.bytes": float(sum(s.memoryUsedBytes for s in last_state)),
            "state.update_ms": sum(s.allUpdatesTimeMs for pr in rows
                                   for s in pr.stateOperators) / n,
            "state.commit_ms": sum(s.commitTimeMs for pr in rows
                                   for s in pr.stateOperators) / n,
            "sinks.write_s": sum(sink) / max(len(sink), 1),
            "generator.late_s": max(late) if late else 0.0,
        }
        return out
