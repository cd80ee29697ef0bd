"""Round-6 analytics additions, each checked against an independent python
model (not the oracle SQL — that mirror is exercised by the driver gate and
tests/test_oracle_gate.py): ROC AUC, windowed level-shift changepoints,
lagged autocorrelation, the Zipf rank-frequency fit, and Naive Bayes
language ID."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# auc_roc
# ---------------------------------------------------------------------------

def _auc_model(pairs):
    """Rank-based AUC with average-rank tie handling (Mann–Whitney)."""
    pos = [s for y, s in pairs if y == 1]
    neg = [s for y, s in pairs if y == 0]
    if not pos or not neg:
        return None
    total = 0.0
    for p in pos:
        for n in neg:
            total += 1.0 if p > n else (0.5 if p == n else 0.0)
    return total / (len(pos) * len(neg))


def test_auc_matches_pairwise_model(spark):
    from akka_stream_contrib_spark.functions.ml import auc_roc
    pairs = [(1, 10), (1, 8), (1, 8), (0, 8), (0, 5), (1, 5), (0, 3),
             (0, 10), (1, 2), (0, 2)]
    df = spark.createDataFrame(pairs, "label int, score int")
    row = df.transform(auc_roc()).collect()[0]
    assert row.n_pos == 5 and row.n_neg == 5
    assert row.auc == pytest.approx(_auc_model(pairs), abs=1e-6)


def test_auc_perfect_separation_and_reversal(spark):
    from akka_stream_contrib_spark.functions.ml import auc_roc
    df = spark.createDataFrame(
        [(1, 100), (1, 90), (0, 10), (0, 5)], "label int, score int")
    assert df.transform(auc_roc()).collect()[0].auc == 1.0
    rev = df.withColumn("score", -F.col("score"))
    assert rev.transform(auc_roc()).collect()[0].auc == 0.0


def test_auc_single_class_is_null_and_nulls_excluded(spark):
    from akka_stream_contrib_spark.functions.ml import auc_roc
    one = spark.createDataFrame([(1, 3), (1, 4)], "label int, score int")
    assert one.transform(auc_roc()).collect()[0].auc is None
    withnull = spark.createDataFrame(
        [(1, 10), (0, 5), (None, 99), (1, None)], "label int, score int")
    row = withnull.transform(auc_roc()).collect()[0]
    assert (row.n_pos, row.n_neg, row.auc) == (1, 1, 1.0)


# ---------------------------------------------------------------------------
# mean_shift_detect
# ---------------------------------------------------------------------------

def test_mean_shift_flags_the_step(spark):
    from akka_stream_contrib_spark.operators.timeseries import (
        mean_shift_detect,
    )
    # user 1: 10 at level 100 then 10 at level 500. Positions 9 and 11
    # see 4/5 new-level rows in one flank (|shift| = 320), the boundary
    # row 10 sees clean flanks (400) — threshold 350 isolates it
    rows = [(i, 1, 100.0 if i < 10 else 500.0) for i in range(20)]
    # user 2: flat — never flagged
    rows += [(i, 2, 250.0) for i in range(20)]
    df = spark.createDataFrame(rows, "event_id int, user_id int, value double")
    out = (df.transform(mean_shift_detect(w=5, threshold=350.0))
           .select("user_id", "event_id", "pre_mean", "post_mean", "shift")
           .collect())
    assert [(r.user_id, r.event_id) for r in out] == [(1, 10)]
    r = out[0]
    assert (r.pre_mean, r.post_mean, r.shift) == (100.0, 500.0, 400.0)


def test_mean_shift_partial_flanks_never_flag(spark):
    from akka_stream_contrib_spark.operators.timeseries import (
        mean_shift_detect,
    )
    # series shorter than 2w: no position has two full flanks
    rows = [(i, 1, 0.0 if i < 4 else 900.0) for i in range(8)]
    df = spark.createDataFrame(rows, "event_id int, user_id int, value double")
    assert df.transform(mean_shift_detect(w=5, threshold=10.0)).count() == 0


def test_mean_shift_null_values_break_full_windows(spark):
    from akka_stream_contrib_spark.operators.timeseries import (
        mean_shift_detect,
    )
    rows = [(i, 1, None if i == 7 else (100.0 if i < 10 else 500.0))
            for i in range(20)]
    df = spark.createDataFrame(rows, "event_id int, user_id int, value double")
    out = df.transform(mean_shift_detect(w=5, threshold=300.0)).collect()
    # the NULL at position 7 voids full-pre-flank status for positions
    # 8..12, killing the boundary row at 10; nothing else shifts
    assert out == []


# ---------------------------------------------------------------------------
# autocorrelation
# ---------------------------------------------------------------------------

def _pearson(xs, ys):
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    den = math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return (n * sxy - sx * sy) / den if den > 0 else None


def test_acf_matches_python_model(spark):
    from akka_stream_contrib_spark.operators.timeseries import (
        autocorrelation,
    )
    series = [5.0, 7.0, 6.0, 9.0, 8.0, 11.0, 10.0, 13.0, 12.0, 15.0]
    rows = [(i, "a", v) for i, v in enumerate(series)]
    df = spark.createDataFrame(rows, "event_id int, event_type string, value double")
    got = {r.lag: (r.n, r.acf) for r in
           df.transform(autocorrelation(lags=(1, 2))).collect()}
    for lag in (1, 2):
        xs = series[:-lag]
        ys = series[lag:]
        assert got[lag][0] == len(xs)
        assert got[lag][1] == pytest.approx(_pearson(xs, ys), abs=1e-6)


def test_acf_tiny_ranges_match_one_partition(spark, shuffle_layout):
    """64 range partitions over an 80-row, 2-key series leave most ranges
    shorter than max(lags), and some empty: every lag must still see the
    rows that precede it, so the ACF equals the 1-partition result (the
    ghost rows come from as many earlier ranges as the lag needs)."""
    from akka_stream_contrib_spark.operators.timeseries import (
        autocorrelation,
    )
    rows = [(i, "ab"[i % 2], float((i * 37) % 11)) for i in range(80)]
    df = spark.createDataFrame(rows, "event_id int, event_type string, value double")

    def acf(partitions):
        with shuffle_layout(spark, partitions):
            return sorted(tuple(r) for r in df.transform(
                autocorrelation(lags=(1, 2, 3))).collect())

    one = acf(1)
    assert [(k, lag, n) for k, lag, n, _ in one] == [
        (k, lag, 40 - lag) for k in "ab" for lag in (1, 2, 3)]
    assert acf(64) == one


def test_acf_alternating_series_is_negative_at_lag1(spark):
    from akka_stream_contrib_spark.operators.timeseries import (
        autocorrelation,
    )
    rows = [(i, "a", 1.0 if i % 2 == 0 else -1.0) for i in range(40)]
    df = spark.createDataFrame(rows, "event_id int, event_type string, value double")
    got = {r.lag: r.acf for r in
           df.transform(autocorrelation(lags=(1, 2))).collect()}
    assert got[1] == -1.0 and got[2] == 1.0


def test_acf_constant_series_is_null(spark):
    from akka_stream_contrib_spark.operators.timeseries import (
        autocorrelation,
    )
    rows = [(i, "a", 5.0) for i in range(10)]
    df = spark.createDataFrame(rows, "event_id int, event_type string, value double")
    assert [r.acf for r in
            df.transform(autocorrelation(lags=(1,))).collect()] == [None]


def test_acf_null_pairs_excluded(spark):
    from akka_stream_contrib_spark.operators.timeseries import (
        autocorrelation,
    )
    series = [5.0, 7.0, None, 9.0, 8.0, 11.0, 10.0]
    rows = [(i, "a", v) for i, v in enumerate(series)]
    df = spark.createDataFrame(rows, "event_id int, event_type string, value double")
    got = df.transform(autocorrelation(lags=(1,))).collect()[0]
    pairs = [(x, y) for x, y in zip(series[:-1], series[1:])
             if x is not None and y is not None]
    assert got.n == len(pairs)
    assert got.acf == pytest.approx(
        _pearson([p[0] for p in pairs], [p[1] for p in pairs]), abs=1e-6)


# ---------------------------------------------------------------------------
# zipf_fit
# ---------------------------------------------------------------------------

def test_zipf_fit_recovers_the_power_law(spark):
    from akka_stream_contrib_spark.functions.corpus import zipf_fit
    # construct a corpus whose token frequencies are exactly 600/rank:
    # slope of ln(freq) on ln(rank) is then -1 up to integer truncation
    rows = []
    doc = 0
    for rank in range(1, 21):
        freq = 600 // rank
        # alphabetic-only tokens (the vocabulary filter drops digits)
        word = chr(97 + (rank - 1) // 26) + chr(97 + (rank - 1) % 26)
        for _ in range(freq):
            rows.append((doc, word))
            doc += 1
    df = (spark.createDataFrame(rows, "doc_id int, text string"))
    out = df.transform(zipf_fit(top_k=20)).collect()[0]
    assert out.n_terms == 20
    assert out.zipf_slope == pytest.approx(-1.0, abs=0.02)
    # python least-squares on the identical 9-dp-rounded logs
    pts = [(round(math.log(r), 9), round(math.log(600 // r), 9))
           for r in range(1, 21)]
    n = len(pts)
    sx = sum(p[0] for p in pts); sy = sum(p[1] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts); sxx = sum(p[0] ** 2 for p in pts)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert out.zipf_slope == pytest.approx(slope, abs=1e-5)
    assert out.zipf_intercept == pytest.approx((sy - slope * sx) / n, abs=1e-5)


def test_zipf_fit_ignores_non_alpha_and_case(spark):
    from akka_stream_contrib_spark.functions.corpus import zipf_fit
    df = spark.createDataFrame(
        [(0, "Apple apple APPLE 123 b2b"), (1, "apple banana !")],
        "doc_id int, text string")
    out = df.transform(zipf_fit(top_k=10)).collect()[0]
    # vocabulary is {apple: 4, banana: 1} — 2 terms survive the filter
    assert out.n_terms == 2


# ---------------------------------------------------------------------------
# naive bayes
# ---------------------------------------------------------------------------

def _nb_model(docs, vocab_size=100):
    """Plain-python multinomial NB mirroring nb_train/nb_predict."""
    import re
    tok = lambda t: [w for w in t.lower().split(" ")
                     if re.fullmatch("[a-z]+", w)]
    counts: dict[tuple[str, str], int] = {}
    total: dict[str, int] = {}
    for _id, text, lab in docs:
        for w in tok(text):
            counts[(w, lab)] = counts.get((w, lab), 0) + 1
            total[w] = total.get(w, 0) + 1
    vocab = sorted(total, key=lambda w: (-total[w], w))[:vocab_size]
    vset = set(vocab)
    labels = sorted({lab for _, _, lab in docs})
    n_docs = {lab: sum(1 for d in docs if d[2] == lab) for lab in labels}
    tot_l = {lab: sum(c for (w, l), c in counts.items()
                      if l == lab and w in vset) for lab in labels}
    v = len(vocab)
    logp = {(w, lab): round(math.log((counts.get((w, lab), 0) + 1)
                                     / (tot_l[lab] + v)), 9)
            for w in vocab for lab in labels}
    logprior = {lab: round(math.log(n_docs[lab] / len(docs)), 9)
                for lab in labels}
    preds = {}
    for _id, text, _lab in docs:
        ws = [w for w in tok(text) if w in vset]
        if not ws:
            continue
        scores = {lab: sum(logp[(w, lab)] for w in ws) + logprior[lab]
                  for lab in labels}
        preds[_id] = min(labels, key=lambda l: (-scores[l], l))
    return preds


def test_nb_matches_python_model_and_separates_langs(spark):
    from akka_stream_contrib_spark.functions.ml import nb_predict, nb_train
    docs = [
        (0, "the cat sat on the mat", "en"),
        (1, "the dog ate the food", "en"),
        (2, "a cat and a dog", "en"),
        (3, "le chat et le chien", "fr"),
        (4, "le chien mange le pain", "fr"),
        (5, "un chat sur le tapis", "fr"),
        (6, "the cat and le chat", "en"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string, lang string")
    matrix, priors = nb_train(df, vocab_size=100)
    got = {r.doc_id: r.predicted
           for r in nb_predict(df, matrix, priors).collect()}
    assert got == _nb_model(docs)
    # sanity: monolingual docs classify correctly by resubstitution
    for i in range(6):
        assert got[i] == docs[i][2]


def test_nb_model_is_complete_and_docs_without_vocab_drop(spark):
    from akka_stream_contrib_spark.functions.ml import nb_predict, nb_train
    df = spark.createDataFrame(
        [(0, "aaa bbb", "x"), (1, "ccc ddd", "y")],
        "doc_id int, text string, lang string")
    matrix, priors = nb_train(df, vocab_size=10)
    # complete matrix: every (token, label) pair incl. unseen combinations
    assert matrix.count() == 4 * 2
    assert priors.count() == 2
    # a doc with only out-of-vocabulary tokens yields no prediction
    score_df = spark.createDataFrame(
        [(9, "zzz 123")], "doc_id int, text string")
    assert nb_predict(score_df, matrix, priors).count() == 0


def test_nb_vocab_truncation_is_deterministic(spark):
    from akka_stream_contrib_spark.functions.ml import nb_train
    df = spark.createDataFrame(
        [(0, "aa bb cc dd", "x"), (1, "aa bb cc dd", "y")],
        "doc_id int, text string, lang string")
    matrix, _ = nb_train(df, vocab_size=2)
    # all four tokens tie on frequency — token-asc tie-break keeps aa, bb
    assert sorted({r.token for r in matrix.collect()}) == ["aa", "bb"]


# ---------------------------------------------------------------------------
# ndcg_at_k
# ---------------------------------------------------------------------------

def _ndcg_model(rels, k):
    ws = [1.0 / math.log2(i + 1) for i in range(1, k + 1)]
    ws = [round(w, 9) for w in ws]
    top = rels[:k]
    dcg = sum(r * w for r, w in zip(top, ws))
    idcg = sum(r * w for r, w in zip(sorted(top, reverse=True), ws))
    return dcg / idcg if idcg else None


def test_ndcg_matches_model_and_detects_perfect_ranking(spark):
    from akka_stream_contrib_spark.functions.retrieval import ndcg_at_k
    # scores descending, relevance NOT aligned with rank
    rows = [(i, float(100 - i), rel) for i, rel in
            enumerate([3, 1, 0, 2, 0, 1, 3, 0, 0, 2])]
    df = spark.createDataFrame(rows, "doc_id int, score double, rel int")
    out = df.transform(ndcg_at_k(rel_col="rel", k=10,
                                 order_by=["score"])).collect()[0]
    assert out.k == 10
    assert out.ndcg == pytest.approx(
        _ndcg_model([3, 1, 0, 2, 0, 1, 3, 0, 0, 2], 10), abs=1e-6)
    # relevance aligned with rank -> ndcg exactly 1
    aligned = spark.createDataFrame(
        [(i, float(100 - i), 10 - i) for i in range(10)],
        "doc_id int, score double, rel int")
    assert aligned.transform(
        ndcg_at_k(rel_col="rel", k=10, order_by=["score"])
    ).collect()[0].ndcg == 1.0


def test_ndcg_all_zero_relevance_is_null(spark):
    from akka_stream_contrib_spark.functions.retrieval import ndcg_at_k
    df = spark.createDataFrame(
        [(1, 5.0, 0), (2, 4.0, 0)], "doc_id int, score double, rel int")
    assert df.transform(
        ndcg_at_k(rel_col="rel", k=5, order_by=["score"])
    ).collect()[0].ndcg is None


def test_ndcg_cuts_at_k(spark):
    from akka_stream_contrib_spark.functions.retrieval import ndcg_at_k
    # rel 5 sits at rank 4 — invisible to ndcg@3
    df = spark.createDataFrame(
        [(1, 9.0, 1), (2, 8.0, 1), (3, 7.0, 1), (4, 6.0, 5)],
        "doc_id int, score double, rel int")
    out = df.transform(
        ndcg_at_k(rel_col="rel", k=3, order_by=["score"])).collect()[0]
    assert out.ndcg == 1.0 and out.dcg == out.idcg


# ---------------------------------------------------------------------------
# welch_ttest
# ---------------------------------------------------------------------------

def _welch_model(a, b):
    na, nb = len(a), len(b)
    ma, mb = sum(a) / na, sum(b) / nb
    va = sum((x - ma) ** 2 for x in a) / (na - 1)
    vb = sum((x - mb) ** 2 for x in b) / (nb - 1)
    se2 = va / na + vb / nb
    t = (ma - mb) / math.sqrt(se2)
    dfw = se2 ** 2 / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
    return ma, mb, va, vb, t, dfw


def test_welch_matches_python_model(spark):
    from akka_stream_contrib_spark.functions.ml import welch_ttest
    a = [10.5, 12.0, 11.25, 13.75, 10.0, 12.5]
    b = [8.0, 9.5, 7.25, 9.0, 8.75]
    rows = [("a", v) for v in a] + [("b", v) for v in b] + [("c", 99.0)]
    df = spark.createDataFrame(rows, "grp string, value double")
    out = df.transform(welch_ttest("grp", "value", "a", "b")).collect()[0]
    ma, mb, va, vb, t, dfw = _welch_model(a, b)
    assert (out.n1, out.n2) == (len(a), len(b))
    assert out.mean1 == pytest.approx(ma, abs=1e-6)
    assert out.mean2 == pytest.approx(mb, abs=1e-6)
    assert out.var1 == pytest.approx(va, abs=1e-6)
    assert out.var2 == pytest.approx(vb, abs=1e-6)
    assert out.t_stat == pytest.approx(t, abs=1e-5)
    assert out.df_welch == pytest.approx(dfw, abs=1e-4)


def test_welch_identical_groups_t_is_zero(spark):
    from akka_stream_contrib_spark.functions.ml import welch_ttest
    rows = [("a", float(v)) for v in (1, 2, 3)] + \
           [("b", float(v)) for v in (1, 2, 3)]
    df = spark.createDataFrame(rows, "grp string, value double")
    assert df.transform(
        welch_ttest("grp", "value", "a", "b")).collect()[0].t_stat == 0.0


def test_welch_null_values_excluded(spark):
    from akka_stream_contrib_spark.functions.ml import welch_ttest
    rows = [("a", 1.0), ("a", 3.0), ("a", None), ("b", 2.0), ("b", 4.0)]
    df = spark.createDataFrame(rows, "grp string, value double")
    out = df.transform(welch_ttest("grp", "value", "a", "b")).collect()[0]
    assert (out.n1, out.n2, out.mean1, out.mean2) == (2, 2, 2.0, 3.0)


# ---------------------------------------------------------------------------
# benford_check
# ---------------------------------------------------------------------------

def test_benford_uniform_digits_fail_the_law(spark):
    from akka_stream_contrib_spark.functions.quality import (
        benford_check, benford_expected)
    # 90 values with uniform leading digits 1..9 (10 each) — far from
    # Benford; chi2 must exceed the df=8 critical value
    rows = [(float(d * 100 + i),) for d in range(1, 10) for i in range(10)]
    df = spark.createDataFrame(rows, "value double")
    out = df.transform(benford_check("value")).collect()
    assert len(out) == 9
    assert all(r.n == 10 for r in out)
    assert out[0].chi2 > 15.5
    exp = dict(zip(range(1, 10), benford_expected()))
    for r in out:
        assert r.expected == exp[r.digit]
        en = exp[r.digit] * 90
        assert r.chi_term == pytest.approx((10 - en) ** 2 / en, abs=1e-6)


def test_benford_exact_distribution_has_tiny_chi2(spark):
    from akka_stream_contrib_spark.functions.quality import (
        benford_check, benford_expected)
    # build counts proportional to the law itself (x1000, rounded)
    rows = []
    for d, e in zip(range(1, 10), benford_expected()):
        rows += [(float(d),)] * round(e * 1000)
    df = spark.createDataFrame(rows, "value double")
    out = df.transform(benford_check("value")).collect()
    assert out[0].chi2 < 1.0


def test_benford_ignores_nonpositive_and_null(spark):
    from akka_stream_contrib_spark.functions.quality import benford_check
    rows = [(1.0,), (-5.0,), (0.0,), (None,), (19.0,), (120.0,)]
    df = spark.createDataFrame(rows, "value double")
    out = df.transform(benford_check("value")).collect()
    # the digit spine is COMPLETE: unseen digits appear with n=0
    assert {(r.digit, r.n) for r in out} \
        == {(1, 3)} | {(d, 0) for d in range(2, 10)}


def test_benford_missing_digit_contributes_full_chi2(spark):
    from akka_stream_contrib_spark.functions.quality import (
        benford_check, benford_expected)
    # Benford-perfect counts for digits 1..8 but ZERO nines (the
    # truncated/capped-data signature): the absent digit must contribute
    # its full (0 - e9*N)^2 / (e9*N) = e9*N term, not silently vanish
    exp = benford_expected()
    rows = []
    for d, e in zip(range(1, 9), exp[:8]):
        rows += [(float(d),)] * round(e * 1000)
    df = spark.createDataFrame(rows, "value double")
    out = {r.digit: r for r in df.transform(benford_check("value")).collect()}
    assert set(out) == set(range(1, 10))
    n_tot = sum(r.n for r in out.values())
    e9n = exp[8] * n_tot
    assert out[9].n == 0
    assert out[9].chi_term == pytest.approx(e9n, abs=1e-4)
    assert out[9].chi2 >= e9n  # the total includes the missing digit


def test_chi2_absent_class_yields_no_rows(spark):
    from akka_stream_contrib_spark.functions.ml import chi2_tokens
    df = spark.createDataFrame(
        [(0, "aaa bbb", "en"), (1, "aaa ccc", "fr")],
        "doc_id int, text string, lang string")
    # predicate matches no documents -> every a+c marginal is 0, and the
    # guard must drop all rows instead of emitting NULL/NaN chi2
    out = df.transform(chi2_tokens(F.col("lang") == "xx",
                                   top_k=5, min_docs=1)).collect()
    assert out == []


# ---------------------------------------------------------------------------
# sliced classification_report
# ---------------------------------------------------------------------------

def test_classification_report_sliced_matches_per_group(spark):
    from akka_stream_contrib_spark.functions.ml import classification_report
    rows = [
        ("g1", 1, 1), ("g1", 1, 0), ("g1", 0, 1), ("g1", 0, 0),
        ("g2", 1, 1), ("g2", 1, 1), ("g2", 0, 0),
    ]
    df = spark.createDataFrame(rows, "slice string, label int, predicted int")
    out = {r.slice: r for r in
           df.transform(classification_report(group_by=["slice"])).collect()}
    assert (out["g1"].tp, out["g1"].fp, out["g1"].fn, out["g1"].tn) \
        == (1, 1, 1, 1)
    assert out["g1"].accuracy == 0.5
    assert (out["g2"].tp, out["g2"].fp, out["g2"].fn, out["g2"].tn) \
        == (2, 0, 0, 1)
    assert out["g2"].precision == 1.0 and out["g2"].recall == 1.0
    # ungrouped form unchanged: one row, no slice column
    flat = df.transform(classification_report()).collect()
    assert len(flat) == 1 and "slice" not in flat[0].asDict()


# ---------------------------------------------------------------------------
# ks_statistic
# ---------------------------------------------------------------------------

def _ks_model(pairs):
    """Max CDF gap over distinct scores, tie -> smallest score."""
    pos = sorted(s for y, s in pairs if y == 1)
    neg = sorted(s for y, s in pairs if y == 0)
    best, at = -1, None
    for s in sorted({s for _, s in pairs}):
        cp = sum(1 for x in pos if x <= s)
        cn = sum(1 for x in neg if x <= s)
        gap = abs(cp * len(neg) - cn * len(pos))
        if gap > best:
            best, at = gap, s
    return best / (len(pos) * len(neg)), at


def test_ks_matches_python_model(spark):
    from akka_stream_contrib_spark.functions.ml import ks_statistic
    pairs = [(1, 10), (1, 8), (1, 8), (0, 8), (0, 5), (1, 5), (0, 3),
             (0, 10), (1, 2), (0, 2), (0, 1)]
    df = spark.createDataFrame(pairs, "label int, score int")
    out = df.transform(ks_statistic()).collect()[0]
    ks, at = _ks_model(pairs)
    assert (out.n_pos, out.n_neg) == (5, 6)
    assert out.ks == pytest.approx(ks, abs=1e-6)
    assert out.at_score == at


def test_ks_perfect_separation_is_one(spark):
    from akka_stream_contrib_spark.functions.ml import ks_statistic
    df = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 10), (1, 20)], "label int, score int")
    out = df.transform(ks_statistic()).collect()[0]
    assert out.ks == 1.0 and out.at_score == 2


def test_ks_identical_distributions_is_zero_somewhere(spark):
    from akka_stream_contrib_spark.functions.ml import ks_statistic
    # same score multiset for both classes -> every CDF gap is 0
    df = spark.createDataFrame(
        [(1, 5), (1, 7), (0, 5), (0, 7)], "label int, score int")
    out = df.transform(ks_statistic()).collect()[0]
    assert out.ks == 0.0 and out.at_score == 5  # tie -> smallest score


# ---------------------------------------------------------------------------
# chi2_tokens
# ---------------------------------------------------------------------------

def _chi2_model(docs, label_fn, min_docs, top_k):
    import re
    pres = {}
    n1 = sum(1 for d in docs if label_fn(d))
    n0 = len(docs) - n1
    for d in docs:
        y = 1 if label_fn(d) else 0
        for w in {w for w in d[1].lower().split(" ")
                  if re.fullmatch("[a-z]+", w)}:
            a, b = pres.get(w, (0, 0))
            pres[w] = (a + y, b + (1 - y))
    out = []
    for w, (a, b) in pres.items():
        c, d = n1 - a, n0 - b
        if a + b < min_docs or c + d <= 0 or b + d <= 0:
            continue
        n = n1 + n0
        num = n * float((a * d - b * c)) ** 2
        den = float((a + b) * (c + d)) * float((a + c) * (b + d))
        out.append((w, round(num / den, 6)))
    out.sort(key=lambda t: (-t[1], t[0]))
    return out[:top_k]


def test_chi2_matches_python_model(spark):
    from akka_stream_contrib_spark.functions.ml import chi2_tokens
    docs = [
        (i, "the cat sat here today", "en") for i in range(6)
    ] + [
        (10 + i, "le chat dort ici maintenant", "fr") for i in range(6)
    ] + [
        (20, "the chat mixed le cat", "en"),
        (21, "cat le the dort", "fr"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string, lang string")
    got = [(r.token, r.chi2) for r in df.transform(
        chi2_tokens(F.col("lang") == "en", top_k=5, min_docs=3)).collect()]
    want = _chi2_model(
        [(d[0], d[1]) for d in docs],
        lambda d: next(x[2] for x in docs if x[0] == d[0]) == "en",
        min_docs=3, top_k=5)
    assert [t for t, _ in got] == [t for t, _ in want]
    for (_, gc), (_, wc) in zip(got, want):
        assert gc == pytest.approx(wc, abs=1e-6)


def test_chi2_presence_not_frequency(spark):
    from akka_stream_contrib_spark.functions.ml import chi2_tokens
    # "spam spam spam" counts ONCE per doc: a=3 (not 9)
    docs = [(i, "spam spam spam", "en") for i in range(3)] + \
           [(10 + i, "ham", "fr") for i in range(3)]
    df = spark.createDataFrame(docs, "doc_id int, text string, lang string")
    out = {r.token: r for r in df.transform(
        chi2_tokens(F.col("lang") == "en", top_k=5, min_docs=1)).collect()}
    assert out["spam"].a == 3 and out["spam"].b == 0
    assert out["ham"].a == 0 and out["ham"].b == 3


# ---------------------------------------------------------------------------
# local_clustering
# ---------------------------------------------------------------------------

def test_local_clustering_known_graph(spark):
    from akka_stream_contrib_spark.functions.graph import local_clustering
    # triangle 1-2-3 plus a pendant 3-4: c(1)=c(2)=1, c(3)=1/3, 4 excluded
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src int, dst int")
    out = {r.node: r for r in local_clustering(edges).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].coefficient == 1.0 and out[1].degree == 2
    assert out[2].coefficient == 1.0
    assert out[3].degree == 3 and out[3].triangles == 1
    assert out[3].coefficient == pytest.approx(1 / 3, abs=1e-6)


def test_local_clustering_matches_brute_force(spark):
    import itertools
    import random
    from akka_stream_contrib_spark.functions.graph import local_clustering
    rng = random.Random(7)
    edges = {(a, b) for a, b in
             (sorted(rng.sample(range(12), 2)) for _ in range(40))}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    df = spark.createDataFrame(sorted(edges), "src int, dst int")
    got = {r.node: (r.degree, r.triangles, r.coefficient)
           for r in local_clustering(df).collect()}
    for v, nbrs in adj.items():
        if len(nbrs) < 2:
            assert v not in got
            continue
        t = sum(1 for x, y in itertools.combinations(sorted(nbrs), 2)
                if (x, y) in edges)
        c = round(2 * t / (len(nbrs) * (len(nbrs) - 1)), 6)
        assert got[v] == (len(nbrs), t, pytest.approx(c, abs=1e-9)), v


def test_local_clustering_ignores_direction_and_self_loops(spark):
    from akka_stream_contrib_spark.functions.graph import local_clustering
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1)], "src int, dst int")
    out = {r.node: r.coefficient for r in local_clustering(edges).collect()}
    assert out == {1: 1.0, 2: 1.0, 3: 1.0}


# ---------------------------------------------------------------------------
# association_rules
# ---------------------------------------------------------------------------

def test_association_rules_known_baskets(spark):
    from akka_stream_contrib_spark.functions.basket import association_rules
    rows = [
        (1, "beer"), (1, "chips"),
        (2, "beer"), (2, "chips"),
        (3, "beer"), (3, "chips"), (3, "milk"),
        (4, "milk"), (4, "bread"),
        (5, "beer"), (5, "bread"),
        (6, "beer"), (6, "chips"),
    ]
    df = spark.createDataFrame(rows, "basket int, item string")
    out = {(r.x, r.y): r for r in df.transform(
        association_rules("basket", "item", min_pair_count=2, top_k=10)
    ).collect()}
    r = out[("beer", "chips")]
    assert (r.n_xy, r.n_x, r.n_y) == (4, 5, 4)
    # 6 baskets: support 4/6, confidence 4/5, lift 4*6/(5*4)
    assert r.support == pytest.approx(4 / 6, abs=1e-6)
    assert r.confidence == pytest.approx(4 / 5, abs=1e-6)
    assert r.lift == pytest.approx(24 / 20, abs=1e-6)
    # pairs below min_pair_count never appear
    assert ("bread", "milk") not in out


def test_association_rules_dedups_within_basket(spark):
    from akka_stream_contrib_spark.functions.basket import association_rules
    # item repeated in one basket counts once
    rows = [(1, "a"), (1, "a"), (1, "b"), (2, "a"), (2, "b")]
    df = spark.createDataFrame(rows, "basket int, item string")
    r = df.transform(association_rules(
        "basket", "item", min_pair_count=1, top_k=5)).collect()[0]
    assert (r.x, r.y, r.n_xy, r.n_x, r.n_y) == ("a", "b", 2, 2, 2)
    assert r.lift == 1.0


def test_association_rules_excludes_oversized_baskets(spark):
    from akka_stream_contrib_spark.functions.basket import association_rules
    rows = [(1, f"i{k}") for k in range(5)] + [(2, "i0"), (2, "i1")]
    df = spark.createDataFrame(rows, "basket int, item string")
    out = df.transform(association_rules(
        "basket", "item", min_pair_count=1, top_k=50,
        max_basket_size=3)).collect()
    # basket 1 (5 items) is dropped entirely; only basket 2's pair remains
    assert len(out) == 1
    r = out[0]
    assert (r.x, r.y, r.n_xy) == ("i0", "i1", 1)
    # N counts only surviving baskets
    assert r.support == 1.0


# ---------------------------------------------------------------------------
# kaplan_meier
# ---------------------------------------------------------------------------

def _km_model(subjects):
    """Plain-python KM over (duration, event) pairs."""
    times = sorted({t for t, e in subjects if e == 1})
    out = {}
    s = 1.0
    for t in times:
        n = sum(1 for d, _ in subjects if d >= t)
        d = sum(1 for dur, e in subjects if dur == t and e == 1)
        s *= 1.0 - d / n
        out[t] = (n, d, s)
    return out


def test_kaplan_meier_matches_textbook_leukemia_data(spark):
    from akka_stream_contrib_spark.functions.ml import kaplan_meier
    # the classic 6-MP arm (Freireich 1963): 9 relapses, 12 censored
    events = [6, 6, 6, 7, 10, 13, 16, 22, 23]
    censored = [6, 9, 10, 11, 17, 19, 20, 25, 32, 32, 34, 35]
    subjects = [(t, 1) for t in events] + [(t, 0) for t in censored]
    df = spark.createDataFrame(subjects, "duration int, event int")
    got = {r.duration: r for r in df.transform(kaplan_meier()).collect()}
    want = _km_model(subjects)
    assert set(got) == set(want)
    for t, (n, d, s) in want.items():
        assert got[t].n_risk == n and got[t].n_events == d
        assert got[t].survival == pytest.approx(s, abs=1e-4), t
    # the canonical published values
    assert got[6].survival == pytest.approx(0.8571, abs=1e-3)
    assert got[23].survival == pytest.approx(0.4482, abs=1e-3)


def test_kaplan_meier_no_censoring_equals_empirical_survival(spark):
    from akka_stream_contrib_spark.functions.ml import kaplan_meier
    subjects = [(t, 1) for t in [1, 2, 2, 3, 5]]
    df = spark.createDataFrame(subjects, "duration int, event int")
    got = {r.duration: r.survival
           for r in df.transform(kaplan_meier()).collect()}
    # with everyone observed, S(t) = fraction with duration > t
    assert got[1] == pytest.approx(4 / 5, abs=1e-6)
    assert got[2] == pytest.approx(2 / 5, abs=1e-6)
    assert got[3] == pytest.approx(1 / 5, abs=1e-6)
    assert got[5] == 0.0  # d == n_risk at the last time -> exactly 0


def test_kaplan_meier_censored_only_times_not_emitted(spark):
    from akka_stream_contrib_spark.functions.ml import kaplan_meier
    subjects = [(1, 1), (2, 0), (3, 1)]
    df = spark.createDataFrame(subjects, "duration int, event int")
    out = df.transform(kaplan_meier()).collect()
    assert sorted(r.duration for r in out) == [1, 3]
    got = {r.duration: r for r in out}
    # censoring at 2 still shrinks the risk set at 3
    assert got[3].n_risk == 1 and got[3].survival == 0.0


# ---------------------------------------------------------------------------
# k_anonymity
# ---------------------------------------------------------------------------

def test_k_anonymity_flags_small_groups_only(spark):
    from akka_stream_contrib_spark.functions.quality import k_anonymity
    rows = [("US", "a")] * 5 + [("US", "b")] * 2 + [("DE", "a")] * 1 \
        + [(None, "a")] * 3
    df = spark.createDataFrame(rows, "country string, seg string")
    out = {(r.country, r.seg): r.group_size for r in
           df.transform(k_anonymity(["country", "seg"], k=5)).collect()}
    # the 5-member group is anonymous; the rest (incl. the NULL group)
    # are re-identifiable
    assert out == {("US", "b"): 2, ("DE", "a"): 1, (None, "a"): 3}


def test_k_anonymity_anonymous_table_is_empty_and_k1_rejected(spark):
    from akka_stream_contrib_spark.functions.quality import k_anonymity
    df = spark.createDataFrame([("US",)] * 4 + [("DE",)] * 4, "c string")
    assert df.transform(k_anonymity(["c"], k=4)).count() == 0
    with pytest.raises(ValueError, match="k must be >= 2"):
        k_anonymity(["c"], k=1)


# ---------------------------------------------------------------------------
# ANSI-mode degenerate inputs (review-pass regressions): every metric must
# yield NULL rather than raise DIVIDE_BY_ZERO under Spark 4's ANSI default
# ---------------------------------------------------------------------------

def test_welch_degenerate_cohorts_yield_null_not_crash(spark):
    from akka_stream_contrib_spark.functions.ml import welch_ttest
    # absent group: n2 = 0
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0)], "grp string, value double")
    r = df.transform(welch_ttest("grp", "value", "a", "zz")).collect()[0]
    assert r.n2 == 0 and r.mean2 is None and r.t_stat is None
    # single-observation group: n-1 = 0 in the variance
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 5.0)], "grp string, value double")
    r = df.transform(welch_ttest("grp", "value", "a", "b")).collect()[0]
    assert r.mean2 == 5.0 and r.var2 is None and r.df_welch is None
    # two zero-variance cohorts: se2 = 0 in the t denominator
    df = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("b", 7.0), ("b", 7.0)],
        "grp string, value double")
    r = df.transform(welch_ttest("grp", "value", "a", "b")).collect()[0]
    assert (r.var1, r.var2) == (0.0, 0.0)
    assert r.t_stat is None and r.df_welch is None


def test_zipf_single_token_vocabulary_yields_null(spark):
    from akka_stream_contrib_spark.functions.corpus import zipf_fit
    # fully templated corpus: one distinct token -> rank 1 -> x == 0 for
    # every row -> exactly-zero regression denominator
    df = spark.createDataFrame(
        [(0, "hello hello hello"), (1, "hello")], "doc_id int, text string")
    out = df.transform(zipf_fit(top_k=10)).collect()[0]
    assert out.n_terms == 1
    assert out.zipf_slope is None and out.zipf_intercept is None
