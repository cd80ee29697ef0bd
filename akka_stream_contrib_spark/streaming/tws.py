"""transformWithState operators: the timer-carrying state API.

The reference's timer-based stages (`KeepAliveConcat.scala:50` idle timer,
`Pulse.scala:38-44` periodic pull, `AccumulateWhileUnchanged.scala:115-126`
maxDuration flush) map onto `StatefulProcessor` timers one-to-one: state
lives in the per-key store, `handle.registerTimer` is
`scheduleOnce`, and `handleExpiredTimer` is `onTimer`. This module carries
the keep-alive operator on that API; `stateful.py` keeps the
applyInPandasWithState forms (broader version reach, same semantics).

Requires spark >= 4.0 AND the python ``protobuf`` package (the
transformWithState driver worker speaks protobuf to the state server) —
absent in minimal containers, in which case `stateful.py`'s
applyInPandasWithState twins are the runnable path; the accompanying test
import-skips accordingly.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

from akka_stream_contrib_spark.streaming.stateful import (
    _delay_decisions, _keep_alive_kernel)


class KeepAliveProcessor(StatefulProcessor):
    """Per-key keep-alive (reference `KeepAliveConcat.scala:34-81`):
    pass elements through; whenever a key is idle for ``interval_ms`` of
    processing time, emit its last value flagged ``is_heartbeat=true`` and
    re-arm — the repeat-last extrapolation. Its steps are
    ``stateful._keep_alive_kernel``, the one ``keep_alive_stream`` runs.

    One timer per key is live at any moment (last write wins): input rows
    delete the pending timer and arm a fresh one, expiry re-arms itself, so
    heartbeats tick every interval until new data or query stop."""

    def __init__(self, interval_ms: int, key_col: str = "key") -> None:
        self.interval_ms = interval_ms
        self.key_col = key_col

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self.last = handle.getValueState("last", "value long")

    def _rearm(self, timer_values: TimerValues) -> None:
        for t in list(self.handle.listTimers()):
            self.handle.deleteTimer(t)
        self.handle.registerTimer(
            timer_values.getCurrentProcessingTimeInMs() + self.interval_ms)

    def handleInputRows(self, key: Any, rows: Iterator[pd.DataFrame],
                        timer_values: TimerValues) -> Iterator[pd.DataFrame]:
        chunks = [c for c in rows if len(c)]
        if chunks:
            # keep_alive_stream's kernel: a NULL value passes through and
            # is what the heartbeat repeats
            out, last = _keep_alive_kernel(
                key[0], (pd.concat(chunks)["value"].to_numpy(),), None)
            yield self._frame(key, out)
            self.last.update(last)
            self._rearm(timer_values)

    def handleExpiredTimer(self, key: Any, timer_values: TimerValues,
                           expired: ExpiredTimerInfo) -> Iterator[pd.DataFrame]:
        if self.last.exists():
            out, _ = _keep_alive_kernel(key[0], None, tuple(self.last.get()))
            yield self._frame(key, out)
        self._rearm(timer_values)

    def _frame(self, key: Any, out) -> pd.DataFrame:
        return pd.DataFrame({self.key_col: key[0], "value": out[0],
                             "is_heartbeat": out[1]})

    def close(self) -> None:
        pass


def keep_alive_tws(elements: DataFrame, interval_ms: int,
                   key_col: str = "key") -> DataFrame:
    """`keep_alive_stream` on the transformWithState API (real per-key
    timers instead of a single GroupStateTimeout)."""
    key_t = elements.schema[key_col].dataType.simpleString()
    return (
        elements.groupBy(key_col)
        .transformWithStateInPandas(
            KeepAliveProcessor(interval_ms, key_col),
            outputStructType=f"{key_col} {key_t}, value long, is_heartbeat boolean",
            outputMode="append",
            timeMode="ProcessingTime",
        )
    )


class DelayFlowProcessor(StatefulProcessor):
    """Timer-based delayed EMISSION for an arbitrary stateful DelayStrategy —
    the transformWithState rendering of ``DelayFlow(strategySupplier)``
    (DelayFlow.scala:52-53 and the stateful trait at :107-119). Where
    ``stateful.py::delay_strategy_stream`` records the delay decision as an
    event-time shift column, this processor actually HOLDS each element in
    the state store and releases it when its per-element timer fires — the
    reference's timerScheduled→push behavior (DelayFlow.scala:135-152).

    ``strategy`` is the same (state_schema_ddl, init_state, next_delay)
    triple, run by ``stateful._delay_decisions``, the loop
    ``delay_strategy_stream`` runs: the strategy state persists in a
    per-key value state, buffered elements in a list state keyed by their
    due processing time, and one timer per due instant releases everything
    that has matured.
    """

    def __init__(self, strategy, key_col: str = "key") -> None:
        self.state_ddl, self.init_state, self.next_delay = strategy
        self.key_col = key_col

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self.strategy_state = handle.getValueState("strategy", self.state_ddl)
        self.pending = handle.getListState(
            "pending", "seq long, delay_s double, due_ms long")

    def handleInputRows(self, key: Any, rows: Iterator[pd.DataFrame],
                        timer_values: TimerValues) -> Iterator[pd.DataFrame]:
        st = (tuple(self.strategy_state.get())
              if self.strategy_state.exists() else tuple(self.init_state))
        now = timer_values.getCurrentProcessingTimeInMs()
        # concat ALL Arrow chunks before the one sort: a key with more rows
        # than the Arrow batch size arrives as several pdfs, and per-chunk
        # sorting would feed seq 10050 to the strategy before seq 9990
        chunks = list(rows)
        immediate = []
        if chunks:
            batch, delays, st = _delay_decisions(
                self.next_delay, st, pd.concat(chunks), "seq")
            for seq, delay in zip(batch["seq"].tolist(), delays.tolist()):
                if delay <= 0:
                    # non-positive delay pushes IMMEDIATELY (DelayFlow.
                    # scala:144-145 "if (delay <= Duration.Zero) push")
                    # instead of holding the element behind a timer until
                    # the next trigger (r9 ADVICE)
                    immediate.append((int(seq), delay))
                    continue
                due = now + int(delay * 1000)
                self.pending.appendValue((int(seq), delay, due))
                self.handle.registerTimer(due)
        self.strategy_state.update(st)
        if immediate:
            return iter((pd.DataFrame(
                {self.key_col: [key[0]] * len(immediate),
                 "seq": [s for s, _ in immediate],
                 "delay_s": [d for _, d in immediate]}),))
        return iter(())

    def handleExpiredTimer(self, key: Any, timer_values: TimerValues,
                           expired: ExpiredTimerInfo) -> Iterator[pd.DataFrame]:
        fire = expired.getExpiryTimeInMs()
        keep, release = [], []
        for seq, delay_s, due in self.pending.get():
            (release if due <= fire else keep).append(
                (int(seq), float(delay_s), int(due)))
        self.pending.clear()
        for row in keep:
            self.pending.appendValue(row)
        if release:
            release.sort()
            yield pd.DataFrame(
                {self.key_col: [key[0]] * len(release),
                 "seq": [s for s, _, _ in release],
                 "delay_s": [d for _, d, _ in release]})

    def close(self) -> None:
        pass


def delay_flow_tws(elements: DataFrame, strategy,
                   key_col: str = "key") -> DataFrame:
    """``DelayFlow`` with a user-supplied stateful strategy on real
    transformWithState timers: elements are held per key and pushed when
    their delay matures. Output: (key, seq, delay_s) in release order."""
    key_t = elements.schema[key_col].dataType.simpleString()
    return (
        elements.groupBy(key_col)
        .transformWithStateInPandas(
            DelayFlowProcessor(strategy, key_col),
            outputStructType=f"{key_col} {key_t}, seq long, delay_s double",
            outputMode="append",
            timeMode="ProcessingTime",
        )
    )
