"""Stateful streaming operators via ``applyInPandasWithState``.

These carry the reference semantics that genuinely need cross-batch state:

- ``token_throttle_stream`` — TokenThrottle.scala:42-143 with an *unbounded*
  token stream: per-key token balance persists in the state store; elements
  wait (in state) until affordable.
- ``keep_alive_stream`` — KeepAliveConcat.scala:34-81: processing-time
  timeout re-emits the extrapolated last element when a key goes idle.
- ``accumulate_while_unchanged_stream`` — AccumulateWhileUnchanged.scala with
  the ``maxDuration`` flush (reference :115-126) as a state timeout.

Scale note (SURVEY.md §7 watch list): the reference's state is global per
stream; a single grouping key serializes through one state partition. All
operators here take a key column so production pipelines run keyed (state
scales with #keys); pass a constant-key column for reference-faithful global
behavior on bounded data.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType, BooleanType, ArrayType,
    DoubleType, TimestampType,
)

from akka_stream_contrib_spark.util import epoch_micros


def token_throttle_stream(unioned: DataFrame, key_col: str = "key") -> DataFrame:
    """Input: a union stream of token rows (is_token=true, amount) and element
    rows (is_token=false, seq, cost). Output: (key, seq, cost) for elements
    admitted by the token balance, in seq order per key.

    State per key: current balance + pending (seq, cost) queue. Tokens are
    "pulled lazily" in the reference (TokenThrottle.scala:79-91); here each
    batch banks its tokens then drains the queue in order while affordable —
    the same accounting invariant (consumed == Σ emitted costs).
    """
    out_schema = StructType([
        StructField(key_col, LongType()),
        StructField("seq", LongType()),
        StructField("cost", LongType()),
    ])
    state_schema = StructType([
        StructField("balance", LongType()),
        StructField("pending_seq", ArrayType(LongType())),
        StructField("pending_cost", ArrayType(LongType())),
    ])

    def _fn(key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            balance, pseq, pcost = state.get
            pending = list(zip(pseq, pcost))
        else:
            balance, pending = 0, []
        for pdf in pdfs:
            tokens = pdf[pdf["is_token"]]
            balance += int(tokens["amount"].fillna(0).sum())
            elems = pdf[~pdf["is_token"]][["seq", "cost"]]
            pending.extend(
                (int(s), int(c)) for s, c in zip(elems["seq"], elems["cost"]))
        pending.sort()
        emitted = []
        while pending and pending[0][1] <= balance:
            s, c = pending.pop(0)
            if c < 0:
                raise ValueError("negative cost")  # TokenThrottle.scala:117-121
            balance -= c
            emitted.append((key[0], s, c))
        state.update((balance,
                      [s for s, _ in pending], [c for _, c in pending]))
        if emitted:
            yield pd.DataFrame(emitted, columns=[key_col, "seq", "cost"])

    return (
        unioned.groupBy(key_col)
        .applyInPandasWithState(
            _fn, out_schema, state_schema, "append",
            GroupStateTimeout.NoTimeout)
    )


def keep_alive_stream(elements: DataFrame, interval_ms: int,
                      key_col: str = "key") -> DataFrame:
    """Pass elements through; when a key sees no input for ``interval_ms`` of
    processing time, re-emit its last value flagged ``is_heartbeat=true``
    (extrapolate = repeat-last). Output: (key, value, is_heartbeat)."""
    out_schema = StructType([
        StructField(key_col, LongType()),
        StructField("value", LongType()),
        StructField("is_heartbeat", BooleanType()),
    ])
    state_schema = StructType([StructField("last_value", LongType())])

    def _fn(key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            if state.exists:
                (last,) = state.get
                state.setTimeoutDuration(interval_ms)
                yield pd.DataFrame([(key[0], last, True)],
                                   columns=[key_col, "value", "is_heartbeat"])
            return
        rows = []
        last = state.get[0] if state.exists else None
        for pdf in pdfs:
            for v in pdf["value"]:
                last = int(v)
                rows.append((key[0], last, False))
        if last is not None:
            state.update((last,))
            state.setTimeoutDuration(interval_ms)
        if rows:
            yield pd.DataFrame(rows, columns=[key_col, "value", "is_heartbeat"])

    return (
        elements.groupBy(key_col)
        .applyInPandasWithState(
            _fn, out_schema, state_schema, "append",
            GroupStateTimeout.ProcessingTimeTimeout)
    )


def accumulate_while_unchanged_stream(elements: DataFrame,
                                      max_duration_ms: int | None = None,
                                      key_col: str = "key") -> DataFrame:
    """Streaming property-run accumulation: buffer while ``prop`` is
    unchanged (per key, in seq order within state+batch), emit
    (key, prop, cnt, first_seq) when the property changes; ``max_duration_ms``
    flushes an open run via processing-time timeout
    (AccumulateWhileUnchanged.scala:115-126)."""
    out_schema = StructType([
        StructField(key_col, LongType()),
        StructField("prop", StringType()),
        StructField("cnt", LongType()),
        StructField("first_seq", LongType()),
    ])
    state_schema = StructType([
        StructField("prop", StringType()),
        StructField("cnt", LongType()),
        StructField("first_seq", LongType()),
    ])
    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if max_duration_ms else GroupStateTimeout.NoTimeout)

    def _fn(key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            if state.exists:
                prop, cnt, first = state.get
                state.remove()
                yield pd.DataFrame([(key[0], prop, cnt, first)],
                                   columns=[key_col, "prop", "cnt", "first_seq"])
            return
        cur = state.get if state.exists else None
        finished = []
        chunks = list(pdfs)
        rows = pd.concat(chunks) if chunks else pd.DataFrame()
        if len(rows):
            rows = rows.sort_values("seq")
            for p, s in zip(rows["prop"], rows["seq"]):
                p, s = str(p), int(s)
                if cur is None:
                    cur = (p, 1, s)
                elif cur[0] == p:
                    cur = (p, cur[1] + 1, cur[2])
                else:
                    finished.append((key[0], *cur))
                    cur = (p, 1, s)
        if cur is not None:
            state.update(cur)
            if max_duration_ms:
                state.setTimeoutDuration(max_duration_ms)
        if finished:
            yield pd.DataFrame(finished,
                               columns=[key_col, "prop", "cnt", "first_seq"])

    return (
        elements.groupBy(key_col)
        .applyInPandasWithState(_fn, out_schema, state_schema, "append", timeout)
    )


def _number_sessions(ts: np.ndarray, eid: np.ndarray, state: tuple,
                    gap_us: int):
    """One key's micro-batch of ``sessionize_stream``. ``ts`` (epoch
    micros) and ``eid`` are the batch's events in any order; ``state`` is
    ``(last_us, n_sessions, pos)``, with ``last_us`` None for a new key.
    Events are numbered in (ts, event_id) order — ties go by event_id, the
    batch form's order, not by shuffle arrival — and the function returns
    ``(event_id, session_id, session_pos, new_state)`` in that order."""
    last_us, n_sessions, pos = state
    order = np.lexsort((eid, ts))
    ts, eid = ts[order], eid[order]
    # the gap test runs against the non-rewinding clock max(last_us,
    # previous ts): a CROSS-BATCH late event joins the open session
    # without moving the clock back, or the next on-time event would
    # look past-gap and split a continuous session in two
    clock = np.concatenate(([ts[0] if last_us is None else last_us], ts[:-1]))
    if last_us is not None:
        clock = np.maximum(clock, last_us)
    new = ts - clock > gap_us
    new[0] |= last_us is None
    idx = np.arange(len(ts))
    start = np.maximum.accumulate(np.where(new, idx, -1))
    session_pos = idx + 1 + np.where(start < 0, pos, -start)
    session_id = n_sessions + np.cumsum(new)
    return eid, session_id, session_pos, (
        int(max(ts[-1], clock[-1])), int(session_id[-1]), int(session_pos[-1]))


def sessionize_stream(elements: DataFrame, gap_s: int,
                      key_col: str = "user_id") -> DataFrame:
    """Streaming per-event session assignment: the cross-batch form of
    ``operators/timeseries.py::sessionize``. State per key = (last event
    micros, sessions opened so far, position in the open session); each
    micro-batch continues numbering where the previous batch left off, so a
    session spanning many batches keeps ONE id — the property the batch
    window form cannot give on an unbounded stream. State is three scalars
    per key (RocksDB-friendly); rows within a batch are processed in
    (ts, event_id) order per key, so a replay numbers ties the same way.

    Input needs ``(key_col, ts timestamp, event_id long)``; emits
    ``(key, event_id, session_id, session_pos)`` in append mode.
    """
    out_schema = StructType([
        StructField("key", LongType()), StructField("event_id", LongType()),
        StructField("session_id", LongType()),
        StructField("session_pos", LongType()),
    ])
    state_schema = StructType([
        StructField("last_us", LongType()),
        StructField("n_sessions", LongType()),
        StructField("pos", LongType()),
    ])
    gap_us = gap_s * 1_000_000

    def _fn(key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        # concat ALL Arrow chunks before _number_sessions' one sort: a
        # >maxRecordsPerBatch group arrives as several chunks, and
        # chunk-local sorts would let the clock move backwards across the
        # boundary — wrong gap tests, wrong session ids
        chunks = [c for c in pdfs if len(c)]
        if not chunks:
            return
        eid, session_id, session_pos, after = _number_sessions(
            np.concatenate([c["_ts_us"].to_numpy(np.int64) for c in chunks]),
            np.concatenate([c["event_id"].to_numpy(np.int64) for c in chunks]),
            state.get if state.exists else (None, 0, 0), gap_us)
        state.update(after)
        yield pd.DataFrame({"key": key[0], "event_id": eid,
                            "session_id": session_id,
                            "session_pos": session_pos})

    return (elements
            .select(key_col, epoch_micros("ts").alias("_ts_us"), "event_id")
            .groupBy(key_col)
            .applyInPandasWithState(_fn, out_schema, state_schema, "append",
                                    GroupStateTimeout.NoTimeout))


def heavy_hitters_stream(items: DataFrame, item_col: str = "item",
                         n_buckets: int = 32,
                         capacity: int = 1024) -> DataFrame:
    """Streaming frequent items: the unbounded form of
    ``functions/sketches.py::mg_heavy_hitters``. Items hash into
    ``n_buckets`` state partitions (state parallelism — no global
    single-key bottleneck); each bucket keeps ≤ ``capacity`` Misra-Gries
    counters across micro-batches and re-emits its current candidate
    counters every batch (append-mode emission of per-batch snapshots —
    the latest row per (bucket, item) is the current lower bound, so any
    append-capable sink works; dedupe on read with max(mg_count)).

    Each item maps to exactly one bucket, so bucket outputs never double
    count; a consumer takes top-k by ``mg_count`` over the latest snapshot
    of all buckets. Counts are MG lower bounds (within
    items-seen-in-bucket/(capacity+1) of truth — exact while a bucket's
    distinct count stays ≤ capacity); re-rank heavy candidates exactly
    with a batch recount if the application needs true counts.

    Emits ``(bucket, item, mg_count)``. State per bucket = two parallel
    arrays, bounded by ``capacity`` entries.
    """
    from akka_stream_contrib_spark.functions.sketches import mg_update
    from pyspark.sql import functions as F

    out_schema = StructType([
        StructField("bucket", LongType()),
        StructField("item", StringType()),
        StructField("mg_count", LongType()),
    ])
    state_schema = StructType([
        StructField("items", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
    ])

    def _fn(key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            s_items, s_counts = state.get
            counters = dict(zip(list(s_items), [int(c) for c in s_counts]))
        else:
            counters = {}
        for pdf in pdfs:
            counters = mg_update(counters, pdf[item_col].value_counts(),
                                 capacity)
        state.update((list(counters.keys()),
                      [int(v) for v in counters.values()]))
        yield pd.DataFrame({
            "bucket": [key[0]] * len(counters),
            "item": list(counters.keys()),
            "mg_count": [int(v) for v in counters.values()],
        })

    bucketed = items.withColumn(
        "_bucket", F.pmod(F.xxhash64(F.col(item_col)), F.lit(n_buckets)))
    return bucketed.groupBy("_bucket").applyInPandasWithState(
        _fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)


#: end-of-branch sentinel index for merge_by_index_stream: a row with
#: idx == CLOSE_INDEX (Long.MaxValue — above any real index by convention)
#: declares its branch closed, releasing the frontier for bounded streams.
CLOSE_INDEX = (1 << 63) - 1


def merge_by_index_stream(elements: DataFrame, n_branches: int,
                          key_col: str = "key") -> DataFrame:
    """Streaming k-way ordered merge — the cross-batch twin of
    ``operators/merge.py::merge_by_index`` (reference MergeByIndex.scala:
    41-169, the gap-inference rule at :97-119 and the fail-on-non-monotonic
    check at :139-143).

    Input rows: (key, branch ∈ [0, n_branches), idx, payload) where each
    branch's ``idx`` sequence is strictly increasing. Output rows carry the
    restored global order as DATA: (key, idx, branch, payload, pos) with
    ``pos`` the 0-based emit position per key — the streaming analogue of
    the batch form's ``rnk`` column (memory sinks don't preserve row order,
    so order must survive as a column).

    Emit rule, translated from the reference's inlet buffer:

    - an element is emitted when its index equals the next expected index
      (``buffer.head._2 == expectedIndex``, MergeByIndex.scala:99), or
    - when EVERY branch's high-water mark has passed it — per-branch indices
      are strictly increasing, so once ``min_b hwm[b] >= idx`` no smaller
      index can ever arrive and the gap below ``idx`` is a confirmed
      omission. This is the micro-batch form of "an element from all inlets
      is buffered" (:105-108): the reference infers the omission from one
      buffered element per open inlet; here the per-branch high-water marks
      carry the same guarantee across batches.

    Failure contract (:139-143 / verifyElementIndex): an arriving index
    below the expected frontier, or a duplicate of a buffered index, raises
    ``ValueError`` and fails the query — the reference fails the stream the
    same way.

    Branch close (:116-119 ``updateMaxBufferLength``): an unbounded stream
    has no inlet-close signal, so closing is declared IN-BAND — a row with
    ``idx == CLOSE_INDEX`` (Long.MaxValue) marks its branch done, jumping
    that branch's high-water mark to +inf so it stops constraining the
    frontier and a bounded stream flushes its tail (the gap below becomes a
    confirmed omission, exactly the reference's shrink-on-close
    accounting). The sentinel is idempotent under at-least-once replay;
    data arriving on a closed branch fails the query. A branch that never
    closes and stops sending simply stops advancing the frontier (elements
    past its high-water mark wait in state).

    Scale: state per key is the reorder buffer between the slowest and
    fastest branch's high-water marks plus ``n_branches`` longs — bounded by
    branch skew, not stream length; keys partition the state store.
    """
    if n_branches < 1:
        raise ValueError("merge_by_index_stream needs n_branches >= 1")
    # the key column keeps ITS OWN type (delay_flow_tws convention) — a
    # hard-coded LongType would fail Arrow conversion on string keys with
    # an opaque runtime error (r9 ADVICE)
    out_schema = StructType([
        StructField(key_col, elements.schema[key_col].dataType),
        StructField("idx", LongType()),
        StructField("branch", LongType()),
        StructField("payload", StringType()),
        StructField("pos", LongType()),
    ])
    state_schema = StructType([
        StructField("expected", LongType()),
        StructField("pos", LongType()),
        StructField("hwm", ArrayType(LongType())),
        StructField("buf_idx", ArrayType(LongType())),
        StructField("buf_branch", ArrayType(LongType())),
        StructField("buf_payload", ArrayType(StringType())),
    ])

    def _fn(key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            expected, pos, hwm, bi, bb, bp = state.get
            hwm = list(hwm)
            buf = {int(i): (int(b), p) for i, b, p in zip(bi, bb, bp)}
        else:
            expected, pos, hwm, buf = 0, 0, [None] * n_branches, {}
        # arrival order within a micro-batch is NOT data order (the groupBy
        # shuffle interleaves source partitions/files) — sort the batch by
        # idx before the monotonicity checks, or valid input whose rows
        # arrive as (3, 1) would spuriously fail the stream. Per-branch
        # sequences are strictly increasing, so the global idx sort restores
        # every branch's event order within the batch.
        chunks = list(pdfs)
        rows = (pd.concat(chunks).sort_values("idx")
                if chunks else pd.DataFrame(
                    columns=["branch", "idx", "payload"]))
        if len(rows):
            for b, i, p in zip(rows["branch"], rows["idx"], rows["payload"]):
                b, i = int(b), int(i)
                if not (0 <= b < n_branches):
                    raise ValueError(
                        f"merge_by_index_stream: branch {b} out of range "
                        f"[0, {n_branches})")
                if i == CLOSE_INDEX:
                    # end-of-branch sentinel: the branch's high-water mark
                    # jumps to +inf, so it stops constraining the frontier
                    # and a bounded stream flushes its tail — the
                    # micro-batch rendering of the reference's
                    # updateMaxBufferLength shrink-on-close
                    # (MergeByIndex.scala:116-119). Idempotent: a replayed
                    # sentinel (at-least-once sources) is a no-op. The
                    # global idx sort above guarantees same-batch data on
                    # the branch is processed before its close.
                    hwm[b] = CLOSE_INDEX
                    continue
                if hwm[b] == CLOSE_INDEX:
                    raise ValueError(
                        f"merge_by_index_stream: element idx {i} arrived on "
                        f"closed branch {b} (end-of-branch sentinel already "
                        "seen)")
                if i < expected:
                    raise ValueError(
                        f"merge_by_index_stream: non-monotonic index {i} < "
                        f"expected {expected} (reference "
                        "MergeByIndex.scala:139-143 fails the stream)")
                if i in buf:
                    raise ValueError(
                        f"merge_by_index_stream: duplicate index {i}")
                if hwm[b] is not None and i <= hwm[b]:
                    raise ValueError(
                        f"merge_by_index_stream: branch {b} index {i} not "
                        f"strictly increasing past {hwm[b]}")
                buf[i] = (b, None if p is None else str(p))
                hwm[b] = i
        frontier = None
        if all(h is not None for h in hwm):
            frontier = min(hwm)
        emitted = []
        for i in sorted(buf):
            if i == expected or (frontier is not None and i <= frontier):
                b, p = buf.pop(i)
                emitted.append((key[0], i, b, p, pos))
                pos += 1
                expected = i + 1
            else:
                break
        bi = sorted(buf)
        state.update((expected, pos, hwm, bi,
                      [buf[i][0] for i in bi], [buf[i][1] for i in bi]))
        if emitted:
            yield pd.DataFrame(
                emitted, columns=[key_col, "idx", "branch", "payload", "pos"])

    return (
        elements.groupBy(key_col)
        .applyInPandasWithState(
            _fn, out_schema, state_schema, "append",
            GroupStateTimeout.NoTimeout)
    )


def linear_increasing_delay_strategy(step_s: float, initial_s: float = 0.0,
                                     max_s: float = float("inf"),
                                     flag_col: str = "needs_increase"):
    """The reference's built-in linearIncreasingDelay as a (state_schema,
    init_state, next_delay) strategy triple (DelayFlow.scala:76-99): on a
    needs-increase element delay grows by ``step_s`` up to ``max_s``, on any
    other element it resets to ``initial_s``; the returned delay applies to
    the element that moved the state — DelayFlowSpec's 2,3,4,5,5,5 then
    reset-to-initial sequence."""
    if step_s <= 0:
        raise ValueError("Increase step must be positive")  # DelayFlow.scala:81
    if not max_s > initial_s:
        raise ValueError("Max delay must be bigger than initial delay")

    def _next(state, row):
        (delay,) = state
        # a NULL flag arrives as NaN through pandas, and bool(NaN) is True
        # — the reference's needsIncrease is a user predicate over a
        # concrete element, so NULL must read as False (reset), not as a
        # silent increase (r9 ADVICE)
        flag = row[flag_col]
        if pd.isna(flag):
            flag = False
        if bool(flag):
            nxt = delay + step_s
            delay = nxt if nxt < max_s else max_s
        else:
            delay = initial_s
        return delay, (delay,)

    return "delay double", (float(initial_s),), _next


def delay_strategy_stream(elements: DataFrame, strategy,
                          key_col: str = "key", seq_col: str = "seq",
                          ts_col: str = "ts") -> DataFrame:
    """Arbitrary user-supplied STATEFUL DelayStrategy, cross-batch — the
    streaming form of the reference's ``DelayFlow(strategySupplier)``
    (DelayFlow.scala:52-53; the trait at :107-119 says "can be stateful to
    compute delay for any sequence of elements").

    ``strategy`` is a triple ``(state_schema_ddl, init_state_tuple,
    next_delay)`` where ``next_delay(state_tuple, row_dict) -> (delay_s,
    new_state_tuple)`` — the pure-function rendering of the reference's
    mutable ``nextDelay(elem)``: Spark's state store persists the tuple
    across micro-batches, so the strategy object itself never needs to be
    serialized. A fresh ``init_state`` per key mirrors the reference's
    strategy-per-materialization supplier.

    Elements are processed in ``seq_col`` order per key (within state +
    batch); output carries the decision as DATA — (key, seq, delay_s,
    deliver_ts = ts + delay) — the event-time-shift convention of the batch
    ``operators/delay.py::delay_flow``. Scale: one state-store row per key,
    O(1) state per key regardless of stream length.
    """
    state_ddl, init_state, next_delay = strategy
    # key keeps its input type (see merge_by_index_stream note / r9 ADVICE)
    out_schema = StructType([
        StructField(key_col, elements.schema[key_col].dataType),
        StructField("seq", LongType()),
        StructField("delay_s", DoubleType()),
        StructField("deliver_ts", TimestampType()),
    ])

    def _fn(key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        st = tuple(state.get) if state.exists else tuple(init_state)
        chunks = list(pdfs)
        rows = pd.concat(chunks) if chunks else pd.DataFrame()
        emitted = []
        if len(rows):
            rows = rows.sort_values(seq_col)
            for _, r in rows.iterrows():
                delay, st = next_delay(st, r)
                deliver = (None if pd.isna(r[ts_col])
                           else r[ts_col] + pd.Timedelta(seconds=float(delay)))
                emitted.append((key[0], int(r[seq_col]), float(delay),
                                deliver))
        state.update(st)
        if emitted:
            yield pd.DataFrame(
                emitted, columns=[key_col, "seq", "delay_s", "deliver_ts"])

    return (
        elements.groupBy(key_col)
        .applyInPandasWithState(
            _fn, out_schema,
            StructType.fromDDL(state_ddl), "append",
            GroupStateTimeout.NoTimeout)
    )

def preference_pairs_stream(candidates: DataFrame, margin: float = 0.0,
                            prompt_col: str = "prompt_id",
                            cand_col: str = "cand_id",
                            text_col: str = "text",
                            score_col: str = "score") -> DataFrame:
    """Streaming twin of ``functions/corpus.py::preference_pairs``:
    scored candidate completions ARRIVE over time (a sampling fleet
    filling prompts at its own pace); per-prompt best/worst live in the
    state store with the batch form's exact tie-breaks (chosen = higher
    score then LOWER id, rejected = lower score then HIGHER id), and each
    micro-batch that changes a prompt's state emits the CURRENT pair once
    it qualifies (>= 2 scored candidates, score gap >= ``margin``).

    Qualification is MONOTONE — more candidates only widen the gap and
    grow n — so append-mode emission is sound: each emitted row carries a
    per-prompt ``upd`` counter and downstream takes the max-``upd`` row
    per prompt (decision-as-data, the delay_strategy_stream convention).
    NULL scores are skipped, mirroring the batch form. State is O(1) per
    prompt (two candidate structs + two counters) regardless of stream
    length.
    """
    ptype = candidates.schema[prompt_col].dataType
    ctype = candidates.schema[cand_col].dataType
    out_schema = StructType([
        StructField(prompt_col, ptype),
        StructField("chosen_id", ctype),
        StructField("rejected_id", ctype),
        StructField("chosen_text", StringType()),
        StructField("rejected_text", StringType()),
        StructField("score_margin", DoubleType()),
        StructField("n_candidates", LongType()),
        StructField("upd", LongType()),
    ])
    state_schema = StructType([
        StructField("bs", DoubleType()), StructField("bi", ctype),
        StructField("bt", StringType()),
        StructField("ws", DoubleType()), StructField("wi", ctype),
        StructField("wt", StringType()),
        StructField("n", LongType()), StructField("upd", LongType()),
    ])

    def _fn(key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            bs, bi, bt, ws, wi, wt, n, upd = state.get
        else:
            bs = bi = bt = ws = wi = wt = None
            n, upd = 0, 0
        # vectorized per-batch reduction (a hot prompt can land millions
        # of candidates in one micro-batch — per-row Python iteration
        # would serialize exactly the case the batch form is built for):
        # two C-speed sorts pick the batch's best/worst with the exact
        # tie-break keys, then one merge against state
        chunks = list(pdfs)
        rows = pd.concat(chunks) if chunks else pd.DataFrame()
        changed = False
        if len(rows):
            rows = rows[rows[score_col].notna()]
        if len(rows):
            changed = True
            n += len(rows)
            top = rows.sort_values([score_col, cand_col],
                                   ascending=[False, True]).iloc[0]
            bot = rows.sort_values([score_col, cand_col],
                                   ascending=[True, False]).iloc[0]
            s, c, t = float(top[score_col]), top[cand_col], top[text_col]
            if bs is None or s > bs or (s == bs and c < bi):
                bs, bi, bt = s, c, t
            s, c, t = float(bot[score_col]), bot[cand_col], bot[text_col]
            if ws is None or s < ws or (s == ws and c > wi):
                ws, wi, wt = s, c, t
        if changed:
            upd += 1
            state.update((bs, bi, bt, ws, wi, wt, n, upd))
            if n >= 2 and bs - ws >= margin:
                yield pd.DataFrame([{
                    prompt_col: key[0], "chosen_id": bi, "rejected_id": wi,
                    "chosen_text": bt, "rejected_text": wt,
                    "score_margin": round(bs - ws, 6) + 0.0,
                    "n_candidates": n, "upd": upd}])

    return (candidates.groupBy(prompt_col)
            .applyInPandasWithState(_fn, out_schema, state_schema, "append",
                                    GroupStateTimeout.NoTimeout))


def interleave_stream(rows: DataFrame, weights: "dict[str, float]",
                      default_weight: float = 1.0, seed: str = "mix-0",
                      source_col: str = "source",
                      id_col: str = "doc_id") -> DataFrame:
    """Streaming twin of ``functions/corpus.py::interleave_by_weight``:
    corpus rows ARRIVE over micro-batches (a crawl/ingest feed) and each
    gets its stride-schedule slot as it lands — per-source position
    counters persist in the state store, so the weighted interleave
    extends indefinitely without recomputing history. Slot assignment is
    MONOTONE per source (positions only grow), so append-mode emission is
    sound.

    Within a micro-batch, rows order by the SAME md5(seed, id) key as the
    batch form (hashlib and Spark md5 agree byte-for-byte), so a
    single-batch stream reproduces the batch op exactly; across batches
    the shuffle is per-batch and positions continue — the cross-batch
    order is arrival order, the only order a stream can honor (documented
    divergence from the batch form's global md5 order). State is O(1) per
    source (one counter). Slots truncate at 6 dp exactly as the batch
    form does.
    """
    if default_weight <= 0:
        raise ValueError(f"default_weight must be > 0, got {default_weight}")
    for s, w in weights.items():
        if w <= 0:
            raise ValueError(f"weight for {s!r} must be > 0, got {w}")
    import hashlib
    import math

    stype = rows.schema[source_col].dataType
    itype = rows.schema[id_col].dataType
    out_schema = StructType([
        StructField(source_col, stype), StructField(id_col, itype),
        StructField("src_pos", LongType()),
        StructField("slot", DoubleType()),
    ])
    state_schema = StructType([StructField("cnt", LongType())])

    def _slot(pos: int, phase: float, w: float) -> float:
        # 6-dp TRUNCATION, matching the batch form: floor of identical
        # IEEE doubles is engine/runtime-independent, unlike rounding at
        # the exact .xxxxxx5 halves this arithmetic produces
        x = (pos - phase) / w
        return math.floor(x * 1_000_000.0) / 1_000_000.0

    def _fn(key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        src = key[0]
        cnt = state.get[0] if state.exists else 0
        w = float(weights.get(src, default_weight))
        phase = (int(hashlib.md5(f"{seed}:phase:{src}".encode())
                     .hexdigest()[:8], 16) % 1_000_000) / 1_000_000.0
        chunks = [c for c in pdfs if len(c)]
        if not chunks:
            return
        batch = pd.concat(chunks)
        ids = batch[id_col]
        order = sorted(
            range(len(batch)),
            key=lambda i: (hashlib.md5(
                f"{seed}:ord:{ids.iloc[i]}".encode()).hexdigest(),
                ids.iloc[i]))
        out = pd.DataFrame({
            source_col: [src] * len(order),
            id_col: [ids.iloc[i] for i in order],
            "src_pos": [cnt + p + 1 for p in range(len(order))],
            "slot": [_slot(cnt + p + 1, phase, w)
                     for p in range(len(order))],
        })
        cnt += len(order)
        state.update((cnt,))
        yield out

    return (rows.groupBy(source_col)
            .applyInPandasWithState(_fn, out_schema, state_schema, "append",
                                    GroupStateTimeout.NoTimeout))
