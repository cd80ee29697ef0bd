"""Distributed global-order primitives: rank, running fold and lag over a
TOTAL order without ever sorting into a single partition, plus the salted
two-phase top-n for per-key selection.

The reference's operators are single-stream by construction (one GraphStage,
one actor — e.g. ``Accumulate.scala:60-69``, ``TokenThrottle.scala:42-143``),
so "global order" is free there. On Spark a naive
``Window.partitionBy().orderBy(seq)`` moves ALL rows to one partition — the
classic scale-killer. Every primitive here uses the two-phase range form
instead:

1. ``repartitionByRange(order)`` — parallel range shuffle, ranges are
   disjoint and ordered by construction;
2. ONE tiny per-partition summary (count / fold / tail rows) collected to
   the driver — K rows for K partitions, independent of data size;
3. the global result = local window inside each range + the broadcast
   exclusive prefix of the summaries, read through ONE map-lookup
   expression indexed by the row's range id.

Every per-row value is independent of WHERE the range boundaries land, so the
result is deterministic even though ``repartitionByRange`` samples boundaries.
Running doubles are summed per-range then offset — exact for integer/decimal
costs; for raw doubles the grouping differs from strict sequential order (use
decimal inputs where cross-engine bit-equality matters, per the repo's money
conventions).

Keyed forms. ``partition_by`` restarts the rank / lag at every key.
The keys must be a prefix of the order columns, so each key owns a
contiguous run of ranges: the range shuffle still splits a hot key across
many tasks (the per-key ``Window.partitionBy(key)`` alternative sorts a
key's whole slice in one task). The local window runs within (range, key).
The rank summary groups by (range, key) — K + |keys| rows — giving every
(range, key) its exclusive prefix and every key its total; a row reads its
prefix from its own range's key map, so the lookup costs O(|keys|).

Ghost-carry contract (:func:`global_lag`). The summary holds the last
``max(lags)`` rows of every range — K·max_lag rows, whatever the key
cardinality. The driver carries them forward in range order, so range p
receives, as GHOST rows, the ``max(lags)`` rows that immediately precede it
in the total order, drawn from as many earlier ranges as it takes (a range
shorter than ``max(lags)``, or an empty one, passes its predecessors' rows
on). A row among the first ``max(lags)`` of its (range, key) reads the
predecessors its local window lacks from its range's ghosts of that key,
through the same range lookup as the offsets. Ghosts carry the real values,
so NULL values lag like any other value.

Salted top-n (:func:`salted_top_n`): per-key selection of the best n rows
in two bounded window passes, for keys too hot for one window task.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from akka_stream_contrib_spark.util import normalize_cols

#: phase-1 salt count of :func:`salted_top_n`: each key's first rank pass
#: splits into this many independently sorted sub-slices
_SALTS = 32


def _ranged(df: DataFrame, order_cols: Sequence[str]) -> DataFrame:
    """Range-partition on the order columns, tag the partition id, and pin
    the placement (pipeline-scoped persist) so the summary pass and the
    main pass see the SAME partitioning.

    persist, not ``localCheckpoint(eager=True)``: the caller's summary
    ``collect()`` doubles as the cache materialization, so the separate
    checkpoint job (which under AQE runs every intermediate stage eagerly
    at BUILD time, plus a full row copy into the checkpoint store) and its
    write barrier disappear — measured 6.6 s → 1.3 s build / 25 → 11 jobs
    on perplexity_buckets at sf0.1, same discipline as the r10 graph-loop
    migration. The placement pin survives cache loss: the range boundaries
    come from seeded reservoir sampling (XORShiftRandom(byteswap32(idx)))
    over a deterministic input, so a recomputed partition lands on the
    same ``_pid``; every caller additionally orders by a TOTAL order, so
    the per-row result is reproducible either way."""
    from akka_stream_contrib_spark.util import pipeline_cache
    ranged = (df.repartitionByRange(*[F.col(c) for c in order_cols])
              .withColumn("_pid", F.spark_partition_id()))
    return pipeline_cache(ranged)


def _keys(order_cols: list[str], partition_by) -> list[str]:
    """The ``partition_by`` keys, checked to be a prefix of the order."""
    keys = normalize_cols(partition_by)
    if order_cols[:len(keys)] != keys:
        raise ValueError(f"partition_by {keys} must be a prefix of the "
                         f"order columns {order_cols}")
    return keys


def _struct_map(table: dict, cols: Sequence[str], df: DataFrame) -> Column:
    """``table`` (tuples of ``cols`` values, typed from ``df``'s schema ->
    literals) as one literal map keyed by structs, so a NULL key value
    matches like any other value."""
    types = dict(df.dtypes)

    def key(vals) -> Column:
        return F.struct(*[F.lit(v).cast(types[c]).alias(c)
                          for c, v in zip(cols, vals)])

    return F.create_map(*[x for k, v in table.items()
                          for x in (key(k), F.lit(v))])


def summary_lookup(table: dict, cols: Sequence[str], df: DataFrame,
                   default=None) -> Column:
    """``table[(row's cols)]`` as ONE map-lookup expression (``default``
    where the row's key is absent) — how a per-key driver summary reaches
    the rows; a NULL key value matches like any other value."""
    if not table:
        return F.lit(default)
    hit = _struct_map(table, cols, df)[F.struct(*[F.col(c) for c in cols])]
    return hit if default is None else F.coalesce(hit, F.lit(default))


def _range_lookup(table: dict, keys: list[str], df: DataFrame,
                  default=None) -> Column:
    """``table[(row's _pid, *keys)]`` — how every per-range summary here
    reaches the rows. A dense literal array over the range ids is indexed
    by ``_pid`` first, so a row only scans its own range's key map:
    O(|keys|) per row, not O(K·|keys|) (unkeyed, the array slot IS the
    value). Absent ranges and keys give ``default``."""
    if not table:
        return F.lit(default)
    per_pid: dict = {}
    for (pid, *k), v in table.items():
        per_pid.setdefault(pid, {})[tuple(k)] = v
    slots = [F.lit(None) if p not in per_pid
             else F.lit(per_pid[p][()]) if not keys
             else _struct_map(per_pid[p], keys, df)
             for p in range(max(per_pid) + 1)]
    hit = F.get(F.array(*slots), F.col("_pid"))
    if keys:
        hit = hit[F.struct(*[F.col(c) for c in keys])]
    return hit if default is None else F.coalesce(hit, F.lit(default))


def _prefix(rows, keys: list[str], field: str, combine):
    """Walk the (range, key) summaries in range order. Returns the
    exclusive prefix of every (range, *key) that has a non-NULL
    predecessor, and each key's complete fold. The carry starts as None —
    NOT the monoid identity — so ranges before a key's first non-NULL
    summary get no offset and an all-NULL local prefix stays NULL (window
    semantics); seeding sum's identity 0 would turn a leading all-NULL run
    into 0."""
    offsets, carry = {}, {}
    for r in sorted(rows, key=lambda r: r["_pid"]):
        k = tuple(r[c] for c in keys)
        if carry.get(k) is not None:
            offsets[(r["_pid"], *k)] = carry[k]
        s = r[field]
        if s is not None:
            carry[k] = s if carry.get(k) is None else combine(carry[k], s)
    return offsets, carry


def global_rank(df: DataFrame, order_cols: str | Sequence[str],
                out: str = "rnk",
                partition_by: str | Sequence[str] | None = None) -> DataFrame:
    """1-based global position of each row under ``order_cols`` order
    (restarting at each ``partition_by`` key, a prefix of the order)."""
    return global_rank_total(df, order_cols, out, partition_by)[0]


def global_rank_total(df: DataFrame, order_cols: str | Sequence[str],
                      out: str = "rnk",
                      partition_by: str | Sequence[str] | None = None,
                      ) -> tuple[DataFrame, int | dict]:
    """:func:`global_rank` plus the EXACT total row count — per key tuple
    (a dict) when ``partition_by`` is given — read from the same per-range
    summary the rank offsets already collect. A caller that needs N
    (equal-count bucket cuts, stage boundaries, percent-rank denominators)
    bakes it in as a literal instead of running a second count aggregate
    over the ranked frame and broadcast-crossJoining its 1-row result (one
    aggregate job + one BroadcastExchange less per consumer; same number
    by construction: both are the row count of the ranged frame)."""
    order_cols = normalize_cols(order_cols)
    keys = _keys(order_cols, partition_by)
    ranged = _ranged(df, order_cols)
    rows = (ranged.groupBy("_pid", *keys)
            .agg(F.count(F.lit(1)).alias("_c")).collect())
    offsets, totals = _prefix(rows, keys, "_c", lambda a, b: a + b)
    w = Window.partitionBy("_pid", *keys).orderBy(*order_cols)
    off = _range_lookup(offsets, keys, ranged, 0)
    # bigint whatever the offsets' magnitude: an int row_number plus an
    # int literal would make the column type data-dependent and overflow
    # (an ANSI error) once a range's offset + local rank passes 2^31
    ranked = (ranged.withColumn(out, F.row_number().over(w).cast("bigint")
                                + off.cast("bigint"))
              .drop("_pid"))
    return ranked, (totals if keys else totals.get((), 0))


#: prefix-combinable running folds: (window agg, per-partition summary agg,
#: python combine for the driver-side prefix, combine Column expr)
_MONOIDS = {
    "sum": (F.sum, F.sum, lambda a, b: a + b, lambda loc, off: loc + off),
    "count": (lambda c: F.count(F.lit(1)), lambda c: F.count(F.lit(1)),
              lambda a, b: a + b, lambda loc, off: loc + off),
    "min": (F.min, F.min, min, F.least),
    "max": (F.max, F.max, max, F.greatest),
}


def global_running_agg(df: DataFrame, order_cols: str | Sequence[str],
                       value_col: str | Sequence[str],
                       out: str | Sequence[str],
                       fn: str = "sum") -> DataFrame:
    """Inclusive global running fold of one or several value columns under
    the total order, for any prefix-combinable monoid
    (``sum``/``count``/``min``/``max``): local running fold inside each
    range, combined with the exclusive prefix of the per-range summaries.

    Passing sequences for ``value_col``/``out`` folds every column in ONE
    shared range shuffle + checkpoint + driver summary round-trip (chaining
    the single-column form would re-range and re-checkpoint the same frame
    per column — measured as one extra plan exchange per column in
    `ks_statistic` before the shared pass existed)."""
    return global_running_agg_total(df, order_cols, value_col, out, fn)[0]


def global_running_agg_total(df: DataFrame, order_cols: str | Sequence[str],
                             value_col: str | Sequence[str],
                             out: str | Sequence[str],
                             fn: str = "sum",
                             ) -> tuple[DataFrame, list]:
    """:func:`global_running_agg` plus each column's COMPLETE fold (the
    final carry of the per-range summaries — e.g. the corpus total for
    ``sum``), read from the same driver summary the prefix offsets
    already collect. A caller that needs the total (budget thresholds,
    normalizing denominators) bakes it in as a literal instead of running
    a second aggregate over the running-fold output and
    broadcast-crossJoining its 1-row result. ``None`` when every range's
    summary is NULL/empty (matches what that aggregate would return)."""
    try:
        local_agg, summary_agg, py_comb, col_comb = _MONOIDS[fn]
    except KeyError:
        raise ValueError(f"fn must be one of {sorted(_MONOIDS)}, got {fn!r}")
    value_cols = normalize_cols(value_col)
    outs = normalize_cols(out)
    if len(value_cols) != len(outs):
        raise ValueError("global_running_agg: value_col and out must pair up")
    order_cols = normalize_cols(order_cols)
    ranged = _ranged(df, order_cols)
    # ONE summary aggregation collects every column's per-range folds
    rows = (ranged.groupBy("_pid")
            .agg(*[summary_agg(c).alias(f"_s{i}")
                   for i, c in enumerate(value_cols)])
            .collect())
    w = (Window.partitionBy("_pid").orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out_cols = []
    totals = []
    for i, (c, o) in enumerate(zip(value_cols, outs)):
        offsets, carry = _prefix(rows, [], f"_s{i}", py_comb)
        totals.append(carry.get(()))
        local = local_agg(c).over(w)
        if offsets:
            off = _range_lookup(offsets, [], ranged)
            # window aggregates skip NULLs, so a row whose in-range prefix
            # is all-NULL must inherit the carried offset (NULL+off would
            # be NULL); with no offset the all-NULL local result (NULL) is
            # already right
            combined = (F.when(off.isNull(), local)
                        .when(local.isNull(), off)
                        .otherwise(col_comb(local, off)))
        else:
            combined = local
        out_cols.append(combined.alias(o))
    # REPLACE semantics for an `out` that names an existing column (the
    # single-column withColumn behavior this function consolidated): a
    # plain select("*", ...) would append a duplicate-named column and
    # every downstream reference would raise AMBIGUOUS_REFERENCE
    keep = [c for c in ranged.columns
            if c != "_pid" and c not in set(outs)]
    return ranged.select(*keep, *out_cols), totals


def global_running_sum(df: DataFrame, order_cols: str | Sequence[str],
                       value_col: str, out: str) -> DataFrame:
    """Inclusive global prefix sum of ``value_col`` under the total order."""
    return global_running_agg(df, order_cols, value_col, out, fn="sum")


def global_lag(df: DataFrame, order_cols: str | Sequence[str],
               value: Column, out: str | Sequence[str],
               lags: int | Sequence[int] = 1,
               partition_by: str | Sequence[str] | None = None) -> DataFrame:
    """``lag(value, l)`` under the total order for every ``l`` in ``lags``
    (paired with ``out``), restarting at each ``partition_by`` key — all
    served by ONE range pass. Each range reads the ghost rows the module
    docstring's carry contract gives it, so every lag is the
    contiguous-window value: NULL exactly where ``F.lag`` over one
    unbounded window would be (before a key's head, or the global head)."""
    order_cols = normalize_cols(order_cols)
    keys = _keys(order_cols, partition_by)
    lags = [lags] if isinstance(lags, int) else list(lags)
    outs = normalize_cols(out)
    if len(lags) != len(outs) or min(lags, default=0) < 1:
        raise ValueError("global_lag: lags must be >= 1 and pair up with out")
    depth = max(lags)
    ranged = _ranged(df, order_cols).withColumn("_v", value)
    per_range: dict = {}  # pid -> its last `depth` (*order_cols, _v)
    if depth == 1:
        # each range's last row: a hash aggregate, no sort of the range
        for r in (ranged.groupBy("_pid")
                  .agg(F.max_by(F.struct(*order_cols, "_v"),
                                F.struct(*order_cols))).collect()):
            per_range[r[0]] = [tuple(r[1])]
    else:
        # the last `depth` rows of each range: the rank filter compiles to
        # a map-side WindowGroupLimit, so only K·depth rows cross the
        # shuffle (at the price of a local sort of every row)
        wd = Window.partitionBy("_pid").orderBy(
            *[F.col(c).desc() for c in order_cols])
        tails = (ranged.withColumn("_rd", F.row_number().over(wd))
                 .filter(F.col("_rd") <= depth)
                 .select("_pid", *order_cols, "_v", "_rd").collect())
        for r in sorted(tails, key=lambda r: -r["_rd"]):  # ascending
            per_range.setdefault(r["_pid"], []).append(tuple(r)[1:-1])
    # ghosts[(pid, *key)]: the values of range pid's ghost rows of that
    # key, nearest first (a tail row is (*order_cols, _v), keys its prefix)
    ghosts: dict = {}
    carry: list = []
    for pid in sorted(per_range):
        for g in reversed(carry):
            ghosts.setdefault((pid, *g[:len(keys)]), []).append(g[-1])
        carry = (carry + per_range[pid])[-depth:]
    vtype = dict(ranged.dtypes)["_v"]
    ghost = (_range_lookup({k: F.array(*[F.lit(v).cast(vtype) for v in vs])
                            for k, vs in ghosts.items()}, keys, ranged)
             if ghosts else F.lit(None).cast(f"array<{vtype}>"))
    w = Window.partitionBy("_pid", *keys).orderBy(*order_cols)
    rn = F.row_number().over(w)
    # the first `lag` rows of a (range, key) reach back past its head: the
    # predecessor `lag` rows back is its ghost `lag - rn` (NULL past the
    # carried ghosts, i.e. before the key's head)
    return (ranged.withColumns({
        o: F.when(rn > lag, F.lag("_v", lag).over(w))
        .otherwise(F.get(ghost, F.lit(lag) - rn))
        for lag, o in zip(lags, outs)})
        .drop("_pid", "_v"))


def salted_top_n(df: DataFrame, partition_by: str | Sequence[str],
                 order_cols: Sequence[str | Column], n: int, id_col: str,
                 out: str) -> DataFrame:
    """The best ``n`` rows of each ``partition_by`` key under
    ``order_cols`` (a TOTAL order), with their 1-based rank in ``out`` —
    without a window that sorts a hot key's whole slice in one task.

    Phase 1 ranks within (key, ``pmod(hash(id_col), 32)``) — 32 parallel,
    bounded sorts per key — and keeps local rank ≤ n. Phase 2 re-ranks the
    ≤ 32·n survivors of each key and keeps rank ≤ n.

    The two phases select the same rows, with the same ranks, as one
    phase. A row's rank within any subset of its key that contains it is
    at most its rank in the whole key, so a row of global rank r ≤ n has
    phase-1 rank ≤ n and survives. All r−1 rows ahead of it also have
    global rank ≤ n, so they survive too, and its phase-2 rank is exactly
    r. A surviving row of global rank r > n has all n rows of global rank
    ≤ n ahead of it among the survivors, so its phase-2 rank exceeds n and
    the final filter drops it."""
    keys = normalize_cols(partition_by)
    salted = Window.partitionBy(
        *keys, F.pmod(F.hash(F.col(id_col)), F.lit(_SALTS))
    ).orderBy(*order_cols)
    pre = (df.withColumn("_lrk", F.row_number().over(salted))
           .filter(F.col("_lrk") <= n).drop("_lrk"))
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (pre.withColumn(out, F.row_number().over(w))
            .filter(F.col(out) <= n))
