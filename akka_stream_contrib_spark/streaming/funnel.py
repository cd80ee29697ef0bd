"""Streaming funnel tracking: cross-batch per-user milestone state whose
final answer PROVABLY equals the batch funnel recompute.

The batch funnel (`__spark_entry__.py::q_funnel_conversion`) is built from
per-user FIRST-occurrence timestamps of each step — a min over the user's
events per step. min is a commutative, idempotent monoid, so a streaming
twin that folds each micro-batch's per-step mins into per-user state
reaches the identical milestone vector for ANY batch split, arrival order,
late data, or replay — the same merge-soundness argument as the
histogram_stream → psi_probe pair (`streaming/rollup.py`), here for
product-analytics conversion instead of drift.

State per user = one epoch-micros scalar per funnel step (RocksDB-friendly,
bounded by #steps). Each micro-batch emits the user's UPDATED cumulative
milestone row; because every emitted value is itself a cumulative min, a
min-aggregate over all emitted rows (or just the last row per user) equals
the final state — `funnel_summary` accepts either.

Reference anchor: none (streaming-analytics extension; the cross-batch
state wiring is the `sessionize_stream` pattern, stateful.py).
"""

from __future__ import annotations

from functools import partial
from typing import Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from akka_stream_contrib_spark.streaming.stateful import _keyed_state
from akka_stream_contrib_spark.util import epoch_micros


def _funnel_kernel(steps, key, arrays, state):
    """funnel_stream's step: fold the batch's per-step minimum micros into
    the user's milestones (min-monoid: batch and row order are
    irrelevant); emits the updated milestone row."""
    types, ts = arrays
    mins = list(state or [None] * len(steps))
    for i, s in enumerate(steps):
        sel = ts[(types == s) & ~pd.isna(ts)]
        if len(sel):
            m = int(sel.min())
            mins[i] = m if mins[i] is None else min(mins[i], m)
    return tuple([m] for m in mins), tuple(mins)


def funnel_stream(events: DataFrame,
                  steps: Sequence[str] = ("view", "click", "purchase"),
                  key_col: str = "user_id", type_col: str = "event_type",
                  ts_col: str = "ts") -> DataFrame:
    """Per-user cumulative first-occurrence milestones of each funnel step,
    maintained across micro-batches. Emits one row per user per batch that
    contains any of that user's events: ``(key, t_<step>...)`` with each
    ``t_<step>`` the epoch-micros of the user's earliest such event seen so
    far (NULL until seen). Append mode; state never times out (a funnel
    window, if wanted, is a filter on the milestone spans downstream —
    state stays #steps scalars per user either way).

    Timestamps become micros in the JVM through the same ``epoch_micros``
    as ``funnel_milestones``, so stream == batch holds in any session
    time zone."""
    steps = list(steps)
    fields = ", ".join(f"`t_{s}` long" for s in steps)
    return _keyed_state(events, key_col, [type_col, ts_col],
                        partial(_funnel_kernel, steps), fields, fields,
                        out_key="key", ts_cols=(ts_col,))


def funnel_milestones(events: DataFrame,
                      steps: Sequence[str] = ("view", "click", "purchase"),
                      key_col: str = "user_id", type_col: str = "event_type",
                      ts_col: str = "ts") -> DataFrame:
    """Batch twin of `funnel_stream`'s final state: per-user epoch-micros of
    the first occurrence of each step — ONE map-combined conditional-min
    groupBy (the q_funnel_conversion shape, micros-typed so the streaming
    equality is exact integers, no timestamp-rendering term)."""
    return events.groupBy(F.col(key_col).alias("key")).agg(*[
        F.min(F.when(F.col(type_col) == s, epoch_micros(F.col(ts_col))))
        .alias(f"t_{s}") for s in steps])


def funnel_summary(milestones: DataFrame,
                   steps: Sequence[str] = ("view", "click", "purchase"),
                   ) -> DataFrame:
    """Strictly-ordered conversion counts from a per-user milestone frame:
    stage i counts users whose first step-i event came AFTER their first
    step-(i-1) event (the q_funnel_conversion predicate chain, generalized
    to any step list). Works identically on `funnel_milestones` output and
    on `funnel_stream` emissions (min-aggregate them per key first — every
    emission is a cumulative min, so min-of-emissions = final state).

    Returns one row: (n_<step0>, n_then_<step1>, ..., n_full_funnel)."""
    steps = list(steps)
    cond = F.col(f"t_{steps[0]}").isNotNull()
    aggs = [F.count(f"t_{steps[0]}").alias(f"n_{steps[0]}")]
    for prev, cur in zip(steps, steps[1:]):
        cond = cond & (F.col(f"t_{cur}") > F.col(f"t_{prev}"))
        name = (f"n_then_{cur}" if cur != steps[-1] else "n_full_funnel")
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(name))
    return milestones.agg(*aggs)
