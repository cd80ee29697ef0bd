"""Keyed time-series analytics: rolling anomaly scores, truncated EWMA
smoothing, and gap-based sessionization.

These extend the reference's windowed-fold family (`TimeWindow.scala:33-34`,
`AccumulateWhileUnchanged.scala:26-126` — both are per-stream running
aggregations over an order) with the three per-key series shapes an event
pipeline actually monitors: "is this value anomalous vs its recent history",
"smooth the series", and "cut the stream into sessions at inactivity gaps".

Scale shape: every operator here is ONE hash shuffle on the key followed by
window passes that share the partitioning. Rolling moments use exact decimal
frame sums (sum and sum-of-squares are associative in decimal, so the window
result is order-independent and engine-portable) cast to double only at the
final mean/variance combination.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from akka_stream_contrib_spark.util import epoch_micros

#: holt_linear's padded-matrix cap (keys × max-history cells per fold
#: bucket): bounds task memory to ~3 × budget × 8 bytes regardless of key
#: skew. Module-level so tests can shrink it to exercise multi-bucket runs.
_HOLT_CELL_BUDGET = 4_000_000


def rolling_zscore(key: str = "user_id", value: str = "value",
                   seq: str = "event_id", n: int = 10,
                   ) -> Callable[[DataFrame], DataFrame]:
    """Rolling z-score of ``value`` against the trailing ``n``-row window
    (including the current row) per ``key``: ``(x - mean) / stddev``; NULL
    while the window holds < 2 rows or has zero variance.

    The moments come from exact integer frame sums (the 2-dp input scaled
    to a cents long BEFORE summing — order-independent like the decimal
    form, but ~1.6× faster through WindowExec's non-codegen frame
    evaluator; bit-identical output, verified value-for-value against the
    decimal plan at sf0.1), then one IEEE combination identical on any
    engine: ``var = (ss - s*s/cnt) / (cnt - 1)``. Domain bound: |value| <
    ~9e6 keeps the squared-cents frame sum inside int64 for n ≤ 100.
    """

    def _apply(df: DataFrame) -> DataFrame:
        w = (Window.partitionBy(key).orderBy(seq)
             .rowsBetween(-(n - 1), Window.currentRow))
        vlong = (F.col(value).cast("decimal(12,2)") * 100).cast("bigint")
        s = (F.sum(vlong).over(w) / F.lit(100.0))
        ss = (F.sum(vlong * vlong).over(w) / F.lit(10000.0))
        # count the VALUE (not rows): frame sums skip NULL values, so a
        # row count would divide present-value sums by a larger n and skew
        # every mean/variance in any window containing a NULL
        cnt = F.count(vlong).over(w).cast("double")
        mean = s / cnt
        var = (ss - (s * s) / cnt) / (cnt - F.lit(1.0))
        std = F.sqrt(F.greatest(var, F.lit(0.0)))
        # cnt >= 2 keeps the 1-row window out of 0/0 (NaN) territory
        z = F.when((cnt >= F.lit(2.0)) & (std > 0),
                   (F.col(value) - mean) / std)
        # single select (not chained withColumns): both outputs plan into ONE
        # WindowExec pass — sequential withColumns left two Window nodes
        return df.select(
            "*",
            (F.round(mean, 6) + F.lit(0.0)).alias("roll_mean"),
            (F.round(z, 6) + F.lit(0.0)).alias("zscore"))

    return _apply


def ewma_weights(alpha: float, depth: int) -> list[float]:
    """The truncated-EWMA coefficients ``alpha * (1-alpha)^j``, j=0..depth-1.
    Exposed so oracles/tests inject the SAME double literals."""
    return [alpha * (1.0 - alpha) ** j for j in range(depth)]


def ewma_smooth(key: str = "user_id", value: str = "value",
                seq: str = "event_id", alpha: float = 0.3, depth: int = 8,
                ) -> Callable[[DataFrame], DataFrame]:
    """Truncated exponentially-weighted moving average per ``key``:
    ``ewma_i = sum_j w_j * x_(i-j) / sum_j w_j`` over the ``depth`` most
    recent observations present, with ``w_j = alpha*(1-alpha)^j``.

    Truncation makes the recursion a FINITE sum of literal-weighted lags —
    a pure window expression (no recursive state), embarrassingly parallel,
    and bit-reproducible: the weights are injected as double literals and
    both numerator and denominator are fixed-order sums. (The infinite-tail
    recursion differs from this by < (1-alpha)^depth ≈ 5.8% weight at the
    defaults; deepen ``depth`` to taste — cost is one lag column each.)
    """
    ws = ewma_weights(alpha, depth)

    def _apply(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(key).orderBy(seq)
        lags = [F.col(value) if j == 0 else F.lag(value, j).over(w)
                for j in range(depth)]
        num: Column | None = None
        den: Column | None = None
        for wj, xj in zip(ws, lags):
            t = F.when(xj.isNotNull(), F.lit(wj) * xj).otherwise(F.lit(0.0))
            d = F.when(xj.isNotNull(), F.lit(wj)).otherwise(F.lit(0.0))
            num = t if num is None else num + t
            den = d if den is None else den + d
        return df.withColumn("ewma", F.round(num / den, 6) + F.lit(0.0))

    return _apply


def sessionize(key: str = "user_id", ts: str = "ts", seq: str = "event_id",
               gap_s: int = 1800) -> Callable[[DataFrame], DataFrame]:
    """Assign a per-key ``session_id`` (1-based) that increments whenever the
    gap since the key's previous event exceeds ``gap_s`` seconds, plus the
    1-based position within the session. The per-event dual of
    ``session_window_agg`` (which emits one aggregate row per session):
    downstream joins often need the id ON each event.
    """

    def _apply(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(key).orderBy(seq)
        wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        prev_ts = F.lag(ts).over(w)
        # microsecond integer epochs: second-truncating unix_timestamp would
        # misclassify sub-second gaps and diverge from any exact engine
        gap_us = epoch_micros(F.col(ts)) - epoch_micros(prev_ts)
        new_sess = (prev_ts.isNull() |
                    (gap_us > gap_s * 1_000_000)).cast("bigint")
        rn = F.row_number().over(w)
        # two window passes minimum (the cumsum consumes the lag output);
        # each pass computes ALL its expressions in one select so same-spec
        # windows plan into a single WindowExec per pass
        df2 = df.select("*", new_sess.alias("_new_sess"), rn.alias("_rn"))
        # session_pos via rank-of-session-start on the SAME key partitioning
        # (a partitionBy(key, session_id) window would cost a second shuffle)
        start_rn = F.max(F.when(F.col("_new_sess") == 1, F.col("_rn"))).over(wc)
        return (df2
                .select("*",
                        F.sum("_new_sess").over(wc).alias("session_id"),
                        (F.col("_rn") - start_rn + 1).alias("session_pos"))
                .drop("_new_sess", "_rn"))

    return _apply


def holt_linear(key: str = "user_id", value: str = "value",
                seq: str = "event_id", alpha: float = 0.5,
                beta: float = 0.5) -> Callable[[DataFrame], DataFrame]:
    """Holt's linear-trend double exponential smoothing per ``key``:
    ``level_i = α·x_i + (1−α)·(level_{i−1} + trend_{i−1})``,
    ``trend_i = β·(level_i − level_{i−1}) + (1−β)·trend_{i−1}``, seeded
    level₀ = x₀, trend₀ = 0 — the trend-aware sibling of ``ewma_smooth``
    for metric streams that drift.

    Unlike the truncated EWMA this recursion is NOT a finite lag sum (the
    trend couples every step), so it runs as ONE Arrow pass over
    key-partitioned, (key, seq)-sorted data (``mapInPandas``): all keys in
    a batch fold SIMULTANEOUSLY, one vectorized numpy step per time index
    instead of one Python call per group — the per-group Arrow dispatch
    that made the ``applyInPandas`` form O(n_keys) in overhead is gone
    (measured 3.5 s → sub-second at sf0.1, 1 500 keys). Each key's update
    sequence is the SAME fixed-order IEEE expression as a sequential fold
    — batching across keys is element-wise, so the result is bit-for-bit
    identical and any engine replaying the order reproduces it (the DuckDB
    oracle recurses over the same per-key order). Batches stream through
    with the last key's (level, trend) carried across batch boundaries, so
    task memory is O(Arrow batch), not O(partition) — even a single
    unbounded key streams in O(1) state. NULL keys form ONE series, same
    as ``groupBy``'s null grouping. Keys are length-bucketed inside each
    batch so one long series doesn't inflate the padded matrix for
    thousands of short ones.
    """

    # snapshot the budget at construction: closure variables ship to the
    # python workers by VALUE (a module global would re-resolve to the
    # default on re-import worker-side)
    cell_budget = _HOLT_CELL_BUDGET

    def _fold_partition(batches):
        import numpy as np
        import pandas as pd
        # (is_null, key value, level, trend) of the last row seen, carried
        # across Arrow batch boundaries within the partition
        carry = None
        for pdf in batches:
            if pdf.empty:
                continue
            keys = pdf[key].to_numpy()
            kn = pd.isna(keys)
            x = pdf[value].to_numpy(dtype=np.float64)
            n = len(x)
            # null-safe run boundaries: all NULL keys are one group (NaN !=
            # NaN would otherwise fragment them into singleton series)
            if n > 1:
                neq = (keys[1:] != keys[:-1]) & ~(kn[1:] & kn[:-1])
                starts = np.flatnonzero(np.r_[True, neq])
            else:
                starts = np.array([0])
            ends = np.r_[starts[1:], n]
            lens = ends - starts
            # segment 0 continues the previous batch's series iff the key
            # matches the carried one (null-safely)
            cont_init = None
            if carry is not None:
                c_nan, c_key, c_lv, c_tr = carry
                if (kn[0] and c_nan) or (not kn[0] and not c_nan
                                         and keys[0] == c_key):
                    cont_init = (c_lv, c_tr)
            out_lv = np.empty(n)
            out_tr = np.empty(n)
            # length-bucketed padded fold: segments sorted by length, greedy
            # buckets capped at ~cell_budget padded cells so skewed keys
            # don't blow up the short keys' padding
            order = np.argsort(lens, kind="stable")
            i = 0
            while i < len(order):
                j = i
                lmax = 0
                while j < len(order):
                    lmax = max(lmax, lens[order[j]])
                    if (j - i + 1) * lmax > cell_budget and j > i:
                        break
                    j += 1
                seg = order[i:j]
                i = j
                K, L = len(seg), int(lens[seg].max())
                idx = starts[seg][:, None] + np.arange(L)[None, :]
                valid = np.arange(L)[None, :] < lens[seg][:, None]
                xm = np.zeros((K, L))
                xm[valid] = x[idx[valid]]
                lv = np.empty((K, L))
                tr = np.empty((K, L))
                # seed step: fresh series start at (x0, 0); the one segment
                # continuing from the previous batch applies a normal update
                # against the carried state instead
                lv[:, 0] = xm[:, 0]
                tr[:, 0] = 0.0
                if cont_init is not None:
                    m = np.flatnonzero(starts[seg] == 0)
                    if len(m):
                        r = m[0]
                        c_lv, c_tr = cont_init
                        prev = c_lv + c_tr
                        lv[r, 0] = alpha * xm[r, 0] + (1.0 - alpha) * prev
                        tr[r, 0] = (beta * (lv[r, 0] - c_lv)
                                    + (1.0 - beta) * c_tr)
                for t in range(1, L):
                    prev = lv[:, t - 1] + tr[:, t - 1]
                    lv[:, t] = alpha * xm[:, t] + (1.0 - alpha) * prev
                    tr[:, t] = (beta * (lv[:, t] - lv[:, t - 1])
                                + (1.0 - beta) * tr[:, t - 1])
                out_lv[idx[valid]] = lv[valid]
                out_tr[idx[valid]] = tr[valid]
            carry = (bool(kn[-1]), keys[-1], float(out_lv[-1]),
                     float(out_tr[-1]))
            out = pdf.copy()
            out["level"] = out_lv
            out["trend"] = out_tr
            yield out

    def _apply(df: DataFrame) -> DataFrame:
        schema = ", ".join(
            [f"{f.name} {f.dataType.simpleString()}" for f in df.schema]
            + ["level double", "trend double"])
        folded = (df.repartition(key)
                  .sortWithinPartitions(key, seq)
                  .mapInPandas(_fold_partition, schema=schema))
        # quantize with PURE IEEE arithmetic — floor(x·1e6 + 0.5)/1e6 —
        # instead of SQL round(): smoothing recurrences over short-decimal
        # inputs land mathematically ON 6-dp ties, where every engine's
        # round-on-double disagrees with every other's (Spark half-ups the
        # double's SHORTEST decimal repr, DuckDB scales in floating point,
        # numpy is half-even). mult/add/floor/divide are IEEE-defined, so
        # any engine computing this expression yields the identical double.
        def _q6(c: str) -> Column:
            return (F.floor(F.col(c) * F.lit(1000000.0) + F.lit(0.5))
                    .cast("double") / F.lit(1000000.0) + F.lit(0.0))
        return folded.withColumn("level", _q6("level")) \
                     .withColumn("trend", _q6("trend"))

    return _apply


def znorm_query(pattern: list[float]) -> list[float]:
    """Z-normalize a query pattern with plain double arithmetic — shared by
    :func:`znorm_motif_topk` and its SQL oracle so both engines embed the
    SAME literal doubles (repr round-trips exactly)."""
    L = len(pattern)
    qm = 0.0
    for x in pattern:
        qm += float(x)
    qm /= L
    qs = 0.0
    for x in pattern:
        qs += (float(x) - qm) * (float(x) - qm)
    qsd = (qs / L) ** 0.5
    if qsd == 0.0:
        raise ValueError("pattern is constant — z-normalization undefined")
    return [(float(x) - qm) / qsd for x in pattern]


def znorm_motif_topk(pattern: list[float], k: int = 50,
                     key: str = "user_id", seq: str = "event_id",
                     value: str = "value"
                     ) -> Callable[[DataFrame], DataFrame]:
    """Subsequence similarity search (the distributed core of streaming
    time-series similarity search, EDBT 2019 / UCR-suite style): slide a
    length-``L = len(pattern)`` window along every key's series, z-normalize
    each window, and return the top-``k`` windows by squared Euclidean
    distance to the z-normalized query ``pattern`` — matching SHAPE, not
    level or amplitude (that is what the z-normalization buys).

    Emits (key, seq, dist) for the window STARTING at ``seq``; constant
    (zero-variance) windows cannot be shape-matched and are skipped.

    Scale shape: the window materializes as ``L`` ``lead`` columns over ONE
    key-hash shuffle (no explode — row count is unchanged); the distance is
    a fixed left-associated arithmetic chain inside codegen (engine-exact,
    6-dp rounded), and the top-k is TakeOrderedAndProject — per-partition
    heaps, no global sort. L is a model constant (8-32); the plan width
    grows with L, not the data.
    """
    L = len(pattern)
    if L < 2:
        raise ValueError("pattern needs at least 2 points")
    if k <= 0:
        raise ValueError("k must be positive")
    q = znorm_query(pattern)

    def _apply(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(key).orderBy(seq)
        vs = [F.col(value).cast("double") if j == 0
              else F.lead(F.col(value).cast("double"), j).over(w)
              for j in range(L)]
        d = df.select(F.col(key), F.col(seq),
                      *[v.alias(f"_v{j}") for j, v in enumerate(vs)])
        d = d.filter(F.col(f"_v{L-1}").isNotNull())
        # fixed left-assoc chains — identical IEEE order in the SQL oracle
        mean = F.col("_v0")
        for j in range(1, L):
            mean = mean + F.col(f"_v{j}")
        mean = mean / F.lit(float(L))
        d = d.withColumn("_m", mean)
        var = (F.col("_v0") - F.col("_m")) * (F.col("_v0") - F.col("_m"))
        for j in range(1, L):
            var = var + (F.col(f"_v{j}") - F.col("_m")) \
                * (F.col(f"_v{j}") - F.col("_m"))
        d = d.withColumn("_sd", F.sqrt(var / F.lit(float(L))))
        d = d.filter(F.col("_sd") > 0)
        dist = None
        for j in range(L):
            z = (F.col(f"_v{j}") - F.col("_m")) / F.col("_sd")
            term = (z - F.lit(q[j])) * (z - F.lit(q[j]))
            dist = term if dist is None else dist + term
        return (d.select(F.col(key), F.col(seq),
                         (F.round(dist, 6) + F.lit(0.0)).alias("dist"))
                .orderBy("dist", key, seq)
                .limit(k))

    return _apply


def mean_shift_detect(key: str = "user_id", value: str = "value",
                      seq: str = "event_id", w: int = 10,
                      threshold: float = 50.0,
                      ) -> Callable[[DataFrame], DataFrame]:
    """Changepoint (level-shift) detection per ``key``: flag positions where
    the mean of the NEXT ``w`` observations differs from the mean of the
    PREVIOUS ``w`` observations by more than ``threshold`` — the windowed
    two-sample form of CUSUM that needs no recursive state, so it stays a
    pure window expression (the recursive CUSUM fold is not
    prefix-combinable; this detector catches the same step changes one
    window-width later at worst).

    Exactness: both side sums use the cents-long device (see
    ``rolling_zscore``) so they are order-independent integers; the
    threshold comparison happens on the exact integer difference
    (``|post_sum − pre_sum| > threshold·w`` in cents), and doubles appear
    only in the emitted rounded means. Positions whose flanks hold fewer
    than ``w`` non-NULL values each are never flagged (edge windows carry
    no two-sample evidence).

    Scale shape: ONE hash shuffle on ``key``; both frames share the single
    WindowExec pass. Same family as `rolling_zscore`/`ewma_smooth`.

    Reference anchor: none (time-series extension of the windowed-fold
    family, `TimeWindow.scala:33-34`).
    """

    def _apply(df: DataFrame) -> DataFrame:
        win_pre = (Window.partitionBy(key).orderBy(seq)
                   .rowsBetween(-w, -1))
        win_post = (Window.partitionBy(key).orderBy(seq)
                    .rowsBetween(Window.currentRow, w - 1))
        vlong = (F.col(value).cast("decimal(12,2)") * 100).cast("bigint")
        pre_s = F.sum(vlong).over(win_pre)
        pre_n = F.count(vlong).over(win_pre)
        post_s = F.sum(vlong).over(win_post)
        post_n = F.count(vlong).over(win_post)
        # exact integer test: |post−pre| in cents vs threshold·w in cents
        lim = int(round(threshold * 100)) * w
        shift_c = post_s - pre_s
        full = (pre_n == w) & (post_n == w)
        out = df.select(
            "*",
            (F.round(pre_s / F.lit(100.0 * w), 6) + F.lit(0.0))
            .alias("pre_mean"),
            (F.round(post_s / F.lit(100.0 * w), 6) + F.lit(0.0))
            .alias("post_mean"),
            F.when(full & (F.abs(shift_c) > F.lit(lim)),
                   F.round(shift_c / F.lit(100.0 * w), 6) + F.lit(0.0))
            .alias("shift"))
        return out.filter(F.col("shift").isNotNull())

    return _apply


def autocorrelation(key: str = "event_type", value: str = "value",
                    seq: str = "event_id", lags: tuple[int, ...] = (1, 2, 3),
                    ) -> Callable[[DataFrame], DataFrame]:
    """Sample autocorrelation (Pearson r of the series against its
    ``lag``-shifted self) per ``key`` at each requested lag — the seasonality
    probe for event streams (a strong ACF at lag k = a k-period cycle).

    Exactness: each (x=lagged, y=current) pair's five moment sums accumulate
    as cents-long integers (sum, and int128-safe decimal for the products),
    so the per-key reduction is order-independent; the Pearson combination
    ``(n·Σxy − Σx·Σy) / √((n·Σxx − Σx²)(n·Σyy − Σy²))`` runs once per
    (key, lag) on exact operands cast to double — bit-identical on any
    engine. Pairs with a NULL on either side are excluded (both moments and
    n), matching SQL corr semantics.

    Scale shape (r11): the key is low-cardinality (event types), so a
    plain Window.partitionBy(key) lag sorts the WHOLE corpus in ≤|keys|
    reducer tasks — the hot-key straggler shape at 100 TB. ``seq`` gives
    (key, seq) a total order, so every lag comes from the keyed multi-lag
    range primitive (``global_order.global_lag``). One map-combined
    (key, lag) aggregation of the unpivoted pairs follows — per-key output
    is ``len(lags)`` rows regardless of series length.

    Reference anchor: none (time-series extension; same family as
    `rolling_zscore`).
    """

    def _apply(df: DataFrame) -> DataFrame:
        from akka_stream_contrib_spark.operators.global_order import global_lag

        y = (F.col(value).cast("decimal(12,2)") * 100).cast("bigint")
        staged = df.select(F.col(key), F.col(seq).alias("_s"), y.alias("_y"))
        lagged = global_lag(staged, [key, "_s"], F.col("_y"),
                            [f"_x{lag}" for lag in lags], lags=lags,
                            partition_by=key)
        pairs = [F.struct(F.lit(lag).alias("lag"),
                          F.col(f"_x{lag}").alias("x"),
                          F.col("_y").alias("y")) for lag in lags]
        d = (lagged.select(F.col(key), F.explode(F.array(*pairs)).alias("p"))
             .select(F.col(key), F.col("p.lag").alias("lag"),
                     F.col("p.x").alias("x"), F.col("p.y").alias("y"))
             .filter(F.col("x").isNotNull() & F.col("y").isNotNull()))
        # ALL sums as exact decimal: the products overflow an int64 SUM at
        # ~1e10 rows, and the raw cents sums themselves (≤ 9e8 each) do
        # too at the same scale — under Spark 4's ANSI default either is
        # a query-killing ARITHMETIC_OVERFLOW, silent wraparound otherwise
        dec = "decimal(38,0)"
        dec19 = "decimal(19,0)"
        agg = d.groupBy(key, "lag").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast(dec19)).alias("sx"),
            F.sum(F.col("y").cast(dec19)).alias("sy"),
            F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
            F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
            F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"))
        n = F.col("n").cast("double")
        sx = F.col("sx").cast("double")
        sy = F.col("sy").cast("double")
        sxy = F.col("sxy").cast("double")
        sxx = F.col("sxx").cast("double")
        syy = F.col("syy").cast("double")
        num = n * sxy - sx * sy
        den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        return agg.select(
            F.col(key), "lag", "n",
            (F.round(F.when(den > 0, num / den), 6) + F.lit(0.0))
            .alias("acf"))

    return _apply


def ewma_forecast_eval(key: str = "user_id", value: str = "value",
                       seq: str = "event_id", alpha: float = 0.3,
                       depth: int = 8) -> Callable[[DataFrame], DataFrame]:
    """Forecast backtest of the truncated EWMA as a one-step-ahead
    predictor: each observation is forecast by the PREVIOUS row's EWMA,
    scored against the naive lag-1 forecast — MAE, MASE (Hyndman &
    Koehler 2006, "Another look at measures of forecast accuracy": scale-
    free, defined where the naive error is not all-zero) and sMAPE. The
    evaluation closes the smoothing family the way auc_roc closes the
    classifiers: `ewma_smooth`/`holt_linear` produce forecasts, this says
    whether they beat naive.

    Determinism: forecasts are the 6-dp-rounded `ewma_smooth` values;
    every per-row error term is rounded to 9 dp and summed as decimal
    (order-independent), with three final guarded double divisions.
    First-row-per-key observations have no forecast and are excluded
    (forecast and naive are NULL on exactly the same rows).

    Scale shape: one key shuffle for the EWMA window pass (the lag
    columns ride the same partitioning), then a single-row reduction.

    Returns one row: (n, mae, naive_mae, mase, smape).

    Reference anchor: none (evaluation extension over the Timed/
    instrumentation family's smoothing ops).
    """
    def _apply(df: DataFrame) -> DataFrame:
        ew = df.transform(ewma_smooth(key=key, value=value, seq=seq,
                                      alpha=alpha, depth=depth))
        w = Window.partitionBy(key).orderBy(seq)
        f = F.lag("ewma").over(w)
        nv = F.lag(value).over(w)
        x = F.col(value)
        dec = "decimal(15,9)"
        e = F.round(F.abs(x - f), 9).cast(dec)
        ne = F.round(F.abs(x - nv), 9).cast(dec)
        sm_den = F.abs(f) + F.abs(x)
        sm = F.when(sm_den > 0,
                    F.round(F.lit(2.0) * F.abs(x - f) / sm_den, 9)
                    ).otherwise(F.lit(0.0)).cast(dec)
        rows = (ew.select(f.alias("_f"), e.alias("_e"), ne.alias("_ne"),
                          sm.alias("_sm"))
                .filter(F.col("_f").isNotNull()))
        agg = rows.agg(F.count(F.lit(1)).alias("n"),
                       F.sum("_e").alias("_se"),
                       F.sum("_ne").alias("_sne"),
                       F.sum("_sm").alias("_ssm"))
        nd = F.col("n").cast("double")
        mae = F.try_divide(F.col("_se").cast("double"), nd)
        nmae = F.try_divide(F.col("_sne").cast("double"), nd)
        return agg.select(
            "n",
            (F.round(mae, 6) + F.lit(0.0)).alias("mae"),
            (F.round(nmae, 6) + F.lit(0.0)).alias("naive_mae"),
            (F.round(F.when(nmae > 0, mae / nmae), 6) + F.lit(0.0))
            .alias("mase"),
            (F.round(F.try_divide(F.col("_ssm").cast("double"), nd), 6)
             + F.lit(0.0)).alias("smape"))

    return _apply


def frequent_journeys(key: str = "user_id", seq: str = "event_id",
                      step: str = "event_type", k: int = 3,
                      top_k: int = 20, max_events: int = 1000,
                      ) -> Callable[[DataFrame], DataFrame]:
    """Frequent user journeys: the globally most common length-``k``
    CONSECUTIVE step sequences (default trigrams of event types in
    per-user event order) — the product-analytics "what paths do users
    actually take" primitive one level above `event_transitions`'
    bigram matrix.

    Distributed shape: keys with more than ``max_events`` observations
    are EXCLUDED (loud in the signature — their grams never reach the
    count shuffle) by a count over the SAME window pass that orders the
    rows, so an oversized key pays the shared per-key window sort (the
    native UnsafeRow sorter spills, per-key state stays bounded) and is
    then filtered before anything downstream; each surviving row emits
    its own k-gram from ``lead(step, 1..k-1)`` over the (key, seq)
    ordering — the grams stream out of the ONE key-hash window pass row
    by row.
    (The first form collected each key's ordered step array and exploded
    an in-row HOF k-gram transform; r10 measured the lead form ~2×
    faster at sf0.1 — `sort_array` over (seq, step) structs pays an
    interpreted comparator per element and the HOF `slice`/`concat_ws`
    lambda evaluates interpreted per gram, where the window sort runs in
    the native UnsafeRow sorter and the lead projection is compiled —
    the same struct-comparator pathology the theil_sen and char-n-gram
    posting rewrites hit.) The only shuffles are the key hash and the
    k-gram count; top-k is TakeOrdered, never a global sort.

    Returns (journey, n) — journey as 'a>b>c', ordered by count desc,
    journey asc.
    """
    def _apply(df: DataFrame) -> DataFrame:
        kk = int(k)
        pts = (df.select(F.col(key).alias("u"),
                         F.col(seq).alias("x"),
                         F.col(step).alias("s"))
               .filter(F.col("x").isNotNull() & F.col("s").isNotNull()))
        # order by (x, s) — the exact tie-break the former
        # sort_array(collect_list(struct(x, s))) applied to duplicate seq
        # values, so the gram stream is identical even then
        wo = Window.partitionBy("u").orderBy("x", "s")
        steps = [F.col("s")] + [F.lead("s", j).over(wo)
                                for j in range(1, kk)]
        # the count window shares the key partitioning with the ordered
        # lead window (one exchange, one sort); lead(s, k-1) is non-NULL
        # exactly when the gram's k rows all exist within the key (s is
        # pre-filtered non-NULL, leads never cross partitions)
        grams = (pts.select(
            F.count(F.lit(1)).over(Window.partitionBy("u")).alias("_n"),
            steps[-1].isNotNull().alias("_ok"),
            F.concat_ws(">", *steps).alias("journey"))
            .filter((F.col("_n") <= max_events) & F.col("_ok")))
        return (grams.groupBy("journey")
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.desc("n"), "journey")
                .limit(top_k))

    return _apply


def theil_sen_trend(key: str = "user_id", seq: str = "event_id",
                    value: str = "value", max_points: int = 500,
                    ) -> Callable[[DataFrame], DataFrame]:
    """Theil–Sen robust trend per key: the MEDIAN of all pairwise slopes
    ``(v_j − v_i)/(x_j − x_i)`` over the key's series (Sen 1968, JASA) —
    up to ~29% contamination cannot move it, where the least-squares
    slope (`q_regr_trend`'s recipe) chases every outlier. The robust
    companion for trend audits over noisy per-entity series.

    Distributed shape (round 8 rewrite): pair fan-out is quadratic in the
    series length, so keys with more than ``max_points`` observations are
    EXCLUDED up front by a window count — documented truncation, loud in
    the signature. The survivors are collapsed to ONE row per key
    (``sort_array(collect_list(struct(x, v)))``, bounded ≤ max_points
    structs), and every pairwise slope is generated JVM-side by nested
    higher-order functions (``transform`` over ``slice``) inside that
    single row — the quadratic pair set NEVER hits a shuffle, a sort
    window, or a join-back. The window's hash partitioning on the key is
    reused by the aggregation, so the whole operator is one data shuffle
    plus the presentation-order range exchange (the old shape paid a pair
    self-join, TWO window passes over the fanned-out pairs, and a count
    join-back: 4.2 s data-bound at sf0.1; this one is pure per-row
    compute after a single exchange).

    Determinism: x and v are exact inputs; each slope is ONE double
    division; ``array_sort`` over the plain slope doubles gives the same
    k-th smallest VALUE as any tie-broken (slope, i, j) order — equal
    doubles are interchangeable once only the value is read — so every
    engine picks the identical median. Equal-x pairs (0-width span) are
    excluded inside the fan-out lambda before the division, exactly as
    the old strict ``xi < xj`` join condition excluded them.

    Returns one row per key: (key, n_points, n_pairs, theil_slope).
    """
    def _apply(df: DataFrame) -> DataFrame:
        # Explicit-count repartition on the key: the pair stage is
        # CPU-heavy but byte-tiny (≤500 structs/key), so AQE's byte-based
        # partition coalescing would collapse it to one task and
        # single-thread the quadratic slope generation (measured 5.7 s vs
        # 1.8 s on 32 cores at sf0.1). A user-specified partition count is
        # exempt from coalescing; the window and the aggregation both
        # reuse this hash partitioning, so it is still the only data
        # shuffle in the plan.
        n_part = int(df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "200"))
        pts = (df.select(F.col(key).alias("k"),
                         F.col(seq).alias("x"),
                         F.col(value).alias("v"))
               .filter(F.col("x").isNotNull() & F.col("v").isNotNull())
               .repartition(n_part, "k")
               .withColumn("_n", F.count(F.lit(1)).over(
                   Window.partitionBy("k")))
               .filter((F.col("_n") <= max_points) & (F.col("_n") >= 2))
               .drop("_n"))
        grp = pts.groupBy("k").agg(
            F.sort_array(F.collect_list(F.struct("x", "v"))).alias("_pts"),
            F.count(F.lit(1)).alias("n_points"))
        # all ordered pairs (i < j) as slope structs, built in-row:
        # transform index i is 0-based, slice position is 1-based, so the
        # tail strictly after element i starts at i + 2. Equal-x pairs are
        # excluded BEFORE the division (q.x != p.x filter inside the inner
        # lambda), so every generated slope is a finite double. The array
        # holds PLAIN doubles, not (slope, xi, xj) structs: the output
        # only ever reads the median slope VALUE, and the k-th smallest
        # double of a multiset is the same under any tie order, so the
        # struct tie-break was semantically inert — while array_sort over
        # structs pays an interpreted 3-field comparator per comparison
        # against a primitive double compare here (~2x the whole query's
        # data-bound cost at sf0.1, measured round 10).
        pair_expr = (
            "flatten(transform(_pts, (p, i) -> "
            "transform(filter(slice(_pts, i + 2, size(_pts) - i - 1), "
            "q -> q.x != p.x), "
            "q -> (q.v - p.v) / cast(q.x - p.x as double))))")
        slopes = grp.select(
            "k", "n_points",
            F.array_sort(F.expr(pair_expr)).alias("_sl"))
        # exact lower median: the (n_pairs + 1) div 2 -th smallest slope.
        # The n_pairs >= 1 filter comes AFTER this projection so predicate
        # pushdown rewrites it to size(_sl) over the materialized column —
        # filtering before would inline (and re-evaluate) the whole
        # quadratic HOF expression inside the Filter node. element_at is
        # `when`-guarded so the empty-slopes row (all-equal x) never feeds
        # ANSI element_at an index of 0 before the filter drops it.
        return (slopes
                .select(F.col("k").alias(key), "n_points",
                        F.size("_sl").cast("long").alias("n_pairs"),
                        (F.round(F.when(F.size("_sl") >= 1, F.expr(
                            "element_at(_sl, cast((size(_sl) + 1) div 2"
                            " as int))")), 6) + F.lit(0.0))
                        .alias("theil_slope"))
                .filter(F.col("n_pairs") >= 1)
                .orderBy(key))

    return _apply
