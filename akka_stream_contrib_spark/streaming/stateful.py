"""Stateful streaming operators: one keyed-state shell, one kernel each.

These carry the reference semantics that genuinely need cross-batch state:

- ``token_throttle_stream`` — TokenThrottle.scala:42-143 with an *unbounded*
  token stream: per-key token balance persists in the state store; elements
  wait (in state) until affordable.
- ``keep_alive_stream`` — KeepAliveConcat.scala:34-81: processing-time
  timeout re-emits the extrapolated last element when a key goes idle.
- ``accumulate_while_unchanged_stream`` — AccumulateWhileUnchanged.scala with
  the ``maxDuration`` flush (reference :115-126) as a state timeout.
- the cross-batch twins of batch operators: ``sessionize_stream``,
  ``heavy_hitters_stream``, ``merge_by_index_stream``,
  ``delay_strategy_stream``, ``preference_pairs_stream``,
  ``interleave_stream`` (and ``funnel.funnel_stream``).

Every twin is a kernel plus one ``_keyed_state`` call — the D-Streams
form state(t) = f(state(t-1), batch(t)). The shell owns the
``applyInPandasWithState`` plumbing: it projects the key and the kernel's
``cols`` (those named in ``ts_cols`` as bigint epoch micros, computed in
the JVM by ``util.epoch_micros``), concatenates a key's Arrow chunks once
into numpy arrays and calls ``kernel(key, arrays, state) -> (out,
new_state)``. ``arrays`` is the tuple of column arrays in ``cols`` order,
or None on a processing-time timeout call; ``state`` is the stored tuple
or None. ``out`` is None or a tuple of arrays in ``out_fields`` order,
emitted next to the key, which keeps its input type. A None ``new_state``
removes the state; any other value updates it and re-arms ``timeout_ms``.
Kernels see whole micro-batches and plain arrays, so each one replays
without Spark.

Scale note (SURVEY.md §7 watch list): the reference's state is global per
stream; a single grouping key serializes through one state partition. All
operators here take a key column so production pipelines run keyed (state
scales with #keys); pass a constant-key column for reference-faithful global
behavior on bounded data.
"""

from __future__ import annotations

import hashlib
from functools import partial

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructField, StructType

from akka_stream_contrib_spark.util import epoch_micros


def _group_fn(kernel, cols, names, timeout_ms):
    """The per-key ``applyInPandasWithState`` body of ``_keyed_state``;
    ``names`` are the output columns, key first."""

    def _fn(key, pdfs, state: GroupState):
        arrays = None
        if not state.hasTimedOut:
            # ALL of the key's Arrow chunks, before any kernel sort: a
            # >maxRecordsPerBatch group arrives as several chunks
            chunks = [c for c in pdfs if len(c)]
            if not chunks:
                return
            arrays = tuple(np.concatenate([ch[c].to_numpy() for ch in chunks])
                           for c in cols)
        out, new_state = kernel(key[0], arrays, state.getOption)
        if new_state is None:
            state.remove()
        else:
            state.update(new_state)
            if timeout_ms:
                state.setTimeoutDuration(timeout_ms)
        if out is not None and len(out[0]):
            yield pd.DataFrame(dict(zip(names, (key[0], *out))))

    return _fn


def _keyed_state(df: DataFrame, key_col: str, cols, kernel, out_fields: str,
                 state_schema: str, timeout_ms: int | None = None,
                 out_key: str | None = None, ts_cols=()) -> DataFrame:
    """Run ``kernel`` per ``key_col`` across micro-batches (the contract is
    in the module docstring). ``out_fields`` and ``state_schema`` are DDL
    strings; the output key column is ``out_key`` (default ``key_col``)."""
    out_schema = StructType(
        [StructField(out_key or key_col, df.schema[key_col].dataType)]
        + StructType.fromDDL(out_fields).fields)
    return (df.select(key_col, *[epoch_micros(c).alias(c) if c in ts_cols
                                 else c for c in cols])
            .groupBy(key_col)
            .applyInPandasWithState(
                _group_fn(kernel, cols, out_schema.names, timeout_ms),
                out_schema, state_schema, "append",
                GroupStateTimeout.ProcessingTimeTimeout if timeout_ms
                else GroupStateTimeout.NoTimeout))


def _int64(a: np.ndarray, what: str) -> np.ndarray:
    """``a`` as int64, failing loudly on NULL — ``astype`` alone would turn
    a NULL (NaN) into INT64_MIN."""
    if a.dtype.kind not in "iub" and pd.isna(a).any():
        raise ValueError(f"{what} is NULL")
    return a.astype(np.int64, copy=False)


def _throttle_kernel(key, arrays, state):
    """token_throttle_stream's step: bank the batch's tokens, queue its
    elements, then release the longest (seq, cost)-ordered prefix of the
    queue whose running cost the balance covers."""
    is_token, amount, seq, cost = arrays
    if is_token.dtype != bool:
        raise ValueError("token_throttle_stream: is_token is NULL")
    balance, pseq, pcost = state or (0, [], [])
    balance += int(np.nansum(amount[is_token]))
    seq = np.concatenate([np.asarray(pseq, np.int64), _int64(
        seq[~is_token], "token_throttle_stream: element seq")])
    cost = np.concatenate([np.asarray(pcost, np.int64), _int64(
        cost[~is_token], "token_throttle_stream: element cost")])
    order = np.lexsort((cost, seq))
    seq, cost = seq[order], cost[order]
    cum = np.cumsum(cost)
    over = np.flatnonzero(cum > balance)
    k = int(over[0]) if len(over) else len(cum)
    if (cost[:k] < 0).any():
        raise ValueError("negative cost")  # TokenThrottle.scala:117-121
    if k:
        balance -= int(cum[k - 1])
    return (seq[:k], cost[:k]), (balance, seq[k:].tolist(), cost[k:].tolist())


def token_throttle_stream(unioned: DataFrame, key_col: str = "key") -> DataFrame:
    """Input: a union stream of token rows (is_token=true, amount) and element
    rows (is_token=false, seq, cost). Output: (key, seq, cost) for elements
    admitted by the token balance, in seq order per key.

    State per key: current balance + pending (seq, cost) queue. Tokens are
    "pulled lazily" in the reference (TokenThrottle.scala:79-91); here each
    batch banks its tokens then drains the queue in order while affordable —
    the same accounting invariant (consumed == Σ emitted costs).
    """
    return _keyed_state(
        unioned, key_col, ["is_token", "amount", "seq", "cost"],
        _throttle_kernel, "seq long, cost long",
        "balance long, pending_seq array<long>, pending_cost array<long>")


def _keep_alive_kernel(key, arrays, state):
    """keep_alive_stream's step: pass the batch through and remember its
    last value; on a timeout call, re-emit that value as a heartbeat. A
    NULL value passes through and is what the heartbeat repeats — the
    batch ``keep_alive_concat`` rule."""
    if arrays is None:
        return (([state[0]], [True]), state) if state else (None, None)
    (value,) = arrays
    last = value[-1]
    return ((value, np.zeros(len(value), bool)),
            (None if pd.isna(last) else int(last),))


def keep_alive_stream(elements: DataFrame, interval_ms: int,
                      key_col: str = "key") -> DataFrame:
    """Pass elements through; when a key sees no input for ``interval_ms`` of
    processing time, re-emit its last value flagged ``is_heartbeat=true``
    (extrapolate = repeat-last). Output: (key, value, is_heartbeat)."""
    return _keyed_state(elements, key_col, ["value"], _keep_alive_kernel,
                        "value long, is_heartbeat boolean", "last_value long",
                        timeout_ms=interval_ms)


def _accumulate_kernel(key, arrays, state):
    """accumulate_while_unchanged_stream's step: fold the seq-ordered batch
    onto the open run in state; emit every run the batch closes and keep
    the last one open. Runs compare NULL-safely, as the batch twin does:
    NULL after 'a' is a change, NULL after NULL is the same run. A timeout
    call flushes the open run."""
    if arrays is None:
        return (tuple([v] for v in state), None) if state else (None, None)
    seq, prop = arrays
    seq = _int64(seq, "accumulate_while_unchanged_stream: seq")
    order = np.argsort(seq, kind="stable")
    seq, prop, cnt = seq[order], prop[order], np.ones(len(seq), np.int64)
    if state:
        prop = np.concatenate([np.array([state[0]], dtype=object), prop])
        cnt = np.concatenate([[state[1]], cnt])
        seq = np.concatenate([[state[2]], seq])
    start = np.flatnonzero(np.concatenate([[True], prop[1:] != prop[:-1]]))
    runs = (prop[start], np.add.reduceat(cnt, start), seq[start])
    return (tuple(r[:-1] for r in runs),
            (runs[0][-1], int(runs[1][-1]), int(runs[2][-1])))


def accumulate_while_unchanged_stream(elements: DataFrame,
                                      max_duration_ms: int | None = None,
                                      key_col: str = "key") -> DataFrame:
    """Streaming property-run accumulation: buffer while ``prop`` is
    unchanged (per key, in seq order within state+batch), emit
    (key, prop, cnt, first_seq) when the property changes; ``max_duration_ms``
    flushes an open run via processing-time timeout
    (AccumulateWhileUnchanged.scala:115-126)."""
    return _keyed_state(
        elements.withColumn("prop", F.col("prop").cast("string")), key_col,
        ["seq", "prop"], _accumulate_kernel,
        "prop string, cnt long, first_seq long",
        "prop string, cnt long, first_seq long",
        timeout_ms=max_duration_ms or None)


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


def _session_kernel(gap_us, key, arrays, state):
    """sessionize_stream's step: ``_number_sessions`` on the batch."""
    ts, eid = arrays
    *out, after = _number_sessions(
        _int64(ts, "sessionize_stream: ts"),
        _int64(eid, "sessionize_stream: event_id"),
        state or (None, 0, 0), gap_us)
    return out, after


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
    return _keyed_state(
        elements, key_col, ["ts", "event_id"],
        partial(_session_kernel, gap_s * 1_000_000),
        "event_id long, session_id long, session_pos long",
        "last_us long, n_sessions long, pos long",
        out_key="key", ts_cols=("ts",))


def _mg_kernel(capacity, key, arrays, state):
    """heavy_hitters_stream's step: one Misra-Gries update with the whole
    micro-batch's item counts; emits the bucket's counters."""
    from akka_stream_contrib_spark.functions.sketches import mg_update

    counters = dict(zip(state[0], state[1])) if state else {}
    counters = mg_update(counters, pd.Series(arrays[0]).value_counts(),
                         capacity)
    items, counts = list(counters), [int(v) for v in counters.values()]
    return (items, counts), (items, counts)


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
    with a batch recount if the application needs true counts. The
    decrement runs once per micro-batch, so the counters do not depend on
    how Spark chunks a batch into Arrow record batches.

    Emits ``(bucket, item, mg_count)``. State per bucket = two parallel
    arrays, bounded by ``capacity`` entries.
    """
    bucketed = items.withColumn(
        "_bucket", F.pmod(F.xxhash64(F.col(item_col)), F.lit(n_buckets)))
    return _keyed_state(bucketed, "_bucket", [item_col],
                        partial(_mg_kernel, capacity),
                        "item string, mg_count long",
                        "items array<string>, counts array<long>",
                        out_key="bucket")


#: end-of-branch sentinel index for merge_by_index_stream: a row with
#: idx == CLOSE_INDEX (Long.MaxValue — above any real index by convention)
#: declares its branch closed, releasing the frontier for bounded streams.
CLOSE_INDEX = (1 << 63) - 1


def _merge_kernel(n_branches, key, arrays, state):
    """merge_by_index_stream's step: validate and buffer the batch, then
    release the buffer's prefix that is next-expected or below every
    branch's high-water mark."""
    expected, pos, hwm, bi, bb, bp = state or (
        0, 0, [None] * n_branches, [], [], [])
    hwm = list(hwm)
    buf = {int(i): (int(b), p) for i, b, p in zip(bi, bb, bp)}
    branch, idx, payload = arrays
    branch = _int64(branch, "merge_by_index_stream: branch")
    idx = _int64(idx, "merge_by_index_stream: idx")
    # arrival order within a micro-batch is NOT data order (the groupBy
    # shuffle interleaves source partitions/files) — sort the batch by
    # idx before the monotonicity checks, or valid input whose rows
    # arrive as (3, 1) would spuriously fail the stream. Per-branch
    # sequences are strictly increasing, so the global idx sort restores
    # every branch's event order within the batch.
    order = np.argsort(idx, kind="stable")
    for b, i, p in zip(branch[order].tolist(), idx[order].tolist(),
                       payload[order].tolist()):
        if not (0 <= b < n_branches):
            raise ValueError(
                f"merge_by_index_stream: branch {b} out of range "
                f"[0, {n_branches})")
        if i == CLOSE_INDEX:
            # end-of-branch sentinel: the branch's high-water mark jumps
            # to +inf, so it stops constraining the frontier and a bounded
            # stream flushes its tail — the micro-batch rendering of the
            # reference's updateMaxBufferLength shrink-on-close
            # (MergeByIndex.scala:116-119). Idempotent: a replayed
            # sentinel (at-least-once sources) is a no-op. The idx sort
            # above puts same-batch data on the branch before its close.
            hwm[b] = CLOSE_INDEX
            continue
        if hwm[b] == CLOSE_INDEX:
            raise ValueError(
                f"merge_by_index_stream: element idx {i} arrived on "
                f"closed branch {b} (end-of-branch sentinel already seen)")
        if i < expected:
            raise ValueError(
                f"merge_by_index_stream: non-monotonic index {i} < "
                f"expected {expected} (reference "
                "MergeByIndex.scala:139-143 fails the stream)")
        if i in buf:
            raise ValueError(f"merge_by_index_stream: duplicate index {i}")
        if hwm[b] is not None and i <= hwm[b]:
            raise ValueError(
                f"merge_by_index_stream: branch {b} index {i} not "
                f"strictly increasing past {hwm[b]}")
        buf[i] = (b, None if p is None else str(p))
        hwm[b] = i
    frontier = min(hwm) if all(h is not None for h in hwm) else None
    emitted = []
    for i in sorted(buf):
        if i != expected and (frontier is None or i > frontier):
            break
        b, p = buf.pop(i)
        emitted.append((i, b, p, pos))
        pos, expected = pos + 1, i + 1
    bi = sorted(buf)
    return (tuple(map(list, zip(*emitted))) if emitted else None,
            (expected, pos, hwm, bi, [buf[i][0] for i in bi],
             [buf[i][1] for i in bi]))


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
    return _keyed_state(
        elements, key_col, ["branch", "idx", "payload"],
        partial(_merge_kernel, n_branches),
        "idx long, branch long, payload string, pos long",
        "expected long, pos long, hwm array<long>, buf_idx array<long>, "
        "buf_branch array<long>, buf_payload array<string>")


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


def _delay_decisions(next_delay, st, rows: pd.DataFrame, seq_col: str):
    """The strategy loop of ``delay_strategy_stream`` and
    ``tws.DelayFlowProcessor``: feed ``rows`` to ``next_delay`` in
    ``seq_col`` order, one row mapping per call. Returns the sorted rows,
    their delays in seconds and the final strategy state."""
    rows = rows.sort_values(seq_col, kind="stable")
    delays = []
    for _, r in rows.iterrows():
        delay, st = next_delay(st, r)
        delays.append(float(delay))
    return rows, np.asarray(delays, dtype=float), st


def _delay_kernel(strategy, key_col, seq_col, ts_col, cols, key, arrays,
                  state):
    """delay_strategy_stream's step: the strategy loop over the batch's
    rows (every input column, the key included), decisions as data."""
    rows = pd.DataFrame(dict(zip(cols, arrays))).assign(**{key_col: key})
    rows, delays, st = _delay_decisions(
        strategy[2], tuple(state or strategy[1]), rows, seq_col)
    deliver = (rows[ts_col].to_numpy()
               + pd.to_timedelta(delays, unit="s").to_numpy())
    return (_int64(rows[seq_col].to_numpy(), "delay_strategy_stream: seq"),
            delays, deliver), st


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
    cols = [c for c in elements.columns if c != key_col]
    return _keyed_state(
        elements, key_col, cols,
        partial(_delay_kernel, strategy, key_col, seq_col, ts_col, cols),
        "seq long, delay_s double, deliver_ts timestamp", strategy[0])


def _preference_kernel(margin, key, arrays, state):
    """preference_pairs_stream's step: merge the batch's best and worst
    scored candidates into state; emit the pair once it qualifies."""
    cand, text, score = arrays
    ok = ~pd.isna(score)
    if not ok.any():
        return None, state
    bs, bi, bt, ws, wi, wt, n, upd = state or (None,) * 6 + (0, 0)
    cand, text, score = cand[ok], text[ok], score[ok].astype(float)
    # the batch's best (higher score, then LOWER id) and worst (lower
    # score, then HIGHER id): the batch form's exact tie-breaks
    top = np.flatnonzero(score == score.max())
    top = top[np.argmin(cand[top])]
    bot = np.flatnonzero(score == score.min())
    bot = bot[np.argmax(cand[bot])]
    s, c = float(score[top]), cand[top]
    if bs is None or s > bs or (s == bs and c < bi):
        bs, bi, bt = s, c, text[top]
    s, c = float(score[bot]), cand[bot]
    if ws is None or s < ws or (s == ws and c > wi):
        ws, wi, wt = s, c, text[bot]
    n, upd = n + int(ok.sum()), upd + 1
    out = None
    if n >= 2 and bs - ws >= margin:
        out = ([bi], [wi], [bt], [wt], [round(bs - ws, 6) + 0.0], [n], [upd])
    return out, (bs, bi, bt, ws, wi, wt, n, upd)


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
    ctype = candidates.schema[cand_col].dataType.simpleString()
    return _keyed_state(
        candidates, prompt_col, [cand_col, text_col, score_col],
        partial(_preference_kernel, margin),
        f"chosen_id {ctype}, rejected_id {ctype}, chosen_text string, "
        "rejected_text string, score_margin double, n_candidates long, "
        "upd long",
        f"bs double, bi {ctype}, bt string, ws double, wi {ctype}, "
        "wt string, n long, upd long")


def _interleave_kernel(weights, default_weight, seed, key, arrays, state):
    """interleave_stream's step: order the batch by md5(seed, id), then
    give each row the next stride-schedule slot of its source."""
    cnt = state[0] if state else 0
    w = float(weights.get(key, default_weight))
    phase = (int(hashlib.md5(f"{seed}:phase:{key}".encode())
                 .hexdigest()[:8], 16) % 1_000_000) / 1_000_000.0
    ids = [i for _, i in sorted(
        (hashlib.md5(f"{seed}:ord:{i}".encode()).hexdigest(), i)
        for i in arrays[0].tolist())]
    pos = np.arange(cnt + 1, cnt + len(ids) + 1)
    # 6-dp TRUNCATION, matching the batch form: floor of identical IEEE
    # doubles is engine/runtime-independent, unlike rounding at the exact
    # .xxxxxx5 halves this arithmetic produces
    slot = np.floor((pos - phase) / w * 1_000_000.0) / 1_000_000.0
    return (ids, pos, slot), (cnt + len(ids),)


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
    itype = rows.schema[id_col].dataType.simpleString()
    return _keyed_state(
        rows, source_col, [id_col],
        partial(_interleave_kernel, weights, default_weight, seed),
        f"`{id_col}` {itype}, src_pos long, slot double", "cnt long")
