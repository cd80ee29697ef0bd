"""Round-2 session additions: Gopher rule filters, JL random projection,
product-quantization ANN, contamination scoring, mixture weights."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from akka_stream_contrib_spark import tables


def test_gopher_rules_flags_and_bigram_share(spark):
    from akka_stream_contrib_spark.functions import gopher_rules
    rows = [
        # healthy doc: stopwords, varied bigrams
        (1, "the quick brown fox jumps over the lazy dog again and again ok"),
        # repeated bigram dominates -> top_bigram_share high
        (2, "spam spam spam spam spam spam spam spam spam spam"),
        # too short
        (3, "tiny doc"),
        # symbol heavy
        (4, "the x # # # # # # words more words that fill this doc out"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in df.transform(
        gopher_rules(min_words=5, min_stopword_hits=1)).collect()}
    assert out[1].keep
    # doc 2: single repeated bigram => share = 1.0, no stopwords
    assert out[2].top_bigram_share == 1.0 and not out[2].keep
    assert out[3].n_words == 2 and not out[3].keep
    assert out[4].symbol_ratio > 0.1 and not out[4].keep
    # bigram share of doc 1: "again and" etc. distinct except "the"-pairs;
    # 13 words -> 12 bigrams, all distinct -> share = 1/12
    assert abs(out[1].top_bigram_share - round(1 / 12, 6)) < 1e-9


def test_gopher_rules_single_word_doc_no_bigrams(spark):
    from akka_stream_contrib_spark.functions import gopher_rules
    df = spark.createDataFrame([(1, "word")], "doc_id long, text string")
    r = df.transform(gopher_rules()).collect()[0]
    assert r.top_bigram_share is None and not r.keep


def test_rp_project_matches_numpy_and_preserves_distances(spark):
    from akka_stream_contrib_spark.functions import jl_signs, rp_project
    emb = tables.load(spark, "embeddings", "/root/testdata/sf0.001")
    sub = emb.filter(F.col("vec_id") < 40)
    out = rp_project(sub, out_dim=16, in_dim=64).collect()
    proj = {}
    for r in out:
        proj.setdefault(r.vec_id, [0.0] * 16)[r.dim] = r.comp
    signs = np.array(jl_signs(64, 16))
    raw = {r.vec_id: np.array(r.embedding, dtype=np.float64)
           for r in sub.collect()}
    # exact micro-unit replication of the numpy reference
    for vid, v in raw.items():
        q = np.floor(v * 1e6 + 0.5)
        expect = np.round((signs @ q) / 1e6, 6)
        got = np.array(proj[vid])
        assert np.allclose(got, expect, atol=1e-9)
    # JL property: for a ±1 sign matrix, E[|Sx|²] = out_dim·|x|², so the
    # normalized projected distance d_proj²/out_dim estimates d_orig².
    # out_dim=16 is aggressive compression — assert a generous band.
    ids = sorted(raw)[:10]
    for a, b in zip(ids, ids[1:]):
        d_orig = float(np.sum((raw[a] - raw[b]) ** 2))
        d_proj = float(np.sum((np.array(proj[a]) - np.array(proj[b])) ** 2)) / 16
        assert 0.15 * d_orig <= d_proj <= 6.0 * d_orig


def test_pq_ann_recall_and_rerank_exactness(spark):
    """ADC-only top-10 must overlap the exact cosine top-10 (m=16, ksub=64
    on d=64: measured 8/10 on the fixtures), and the two-stage
    shortlist-200 + exact-rerank pipeline must return EXACTLY the exact
    top-10 — the property that lets q_pq_ann carry a full hash oracle."""
    from akka_stream_contrib_spark.functions import (
        cosine_topk, pq_encode, pq_topk_adc, pq_train)
    from akka_stream_contrib_spark.functions.similarity import pq_topk_rerank
    emb = tables.load(spark, "embeddings", "/root/testdata/sf0.001")
    books = pq_train(emb, m=16, ksub=64)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    rest = emb.filter(F.col("vec_id") != 0)
    exact = [(r.vec_id, r.cos_sim) for r in cosine_topk(rest, qvec, k=10).collect()]
    codes = pq_encode(rest, books)
    approx = {r.vec_id for r in pq_topk_adc(codes, qvec, books, k=10).collect()}
    assert len({v for v, _ in exact} & approx) >= 6
    # shortlist must cover the exact top-10 with margin, making rerank exact
    short = {r.vec_id for r in
             pq_topk_adc(codes, qvec, books, k=200).collect()}
    assert {v for v, _ in exact} <= short
    rer = [(r.vec_id, r.cos_sim) for r in
           pq_topk_rerank(rest, codes, qvec, books, k=10, shortlist=200).collect()]
    assert rer == exact


def test_pq_encode_shapes_and_determinism(spark):
    from akka_stream_contrib_spark.functions import pq_encode, pq_train
    emb = tables.load(spark, "embeddings", "/root/testdata/sf0.001").limit(50)
    books = pq_train(emb, m=8, ksub=16)
    assert books.shape == (8, 16, 8)
    out1 = sorted((r.vec_id, tuple(r.codes)) for r in pq_encode(emb, books).collect())
    out2 = sorted((r.vec_id, tuple(r.codes)) for r in pq_encode(emb, books).collect())
    assert out1 == out2
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for _, c in out1)


def test_contamination_score_includes_zero_hit_docs(spark):
    from akka_stream_contrib_spark.functions import contamination_score
    train = spark.createDataFrame(
        [(10, "alpha beta gamma delta"),          # full overlap with eval
         (11, "zz yy xx ww vv uu")],              # zero overlap
        "doc_id long, text string")
    ev = spark.createDataFrame([(1, "alpha beta gamma delta epsilon")],
                               "doc_id long, text string")
    out = {r.doc_id: r for r in contamination_score(train, ev, k=3).collect()}
    assert out[10].containment == 1.0 and out[10].contaminated
    assert out[11].n_hits == 0 and out[11].containment == 0.0
    assert not out[11].contaminated


def test_mixture_weights_normalized_and_rebalancing(spark):
    from akka_stream_contrib_spark.functions import mixture_weights
    rows = [(i, "w " * 99 + "w", "big") for i in range(90)] \
        + [(100 + i, "w " * 99 + "w", "small") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.source: r for r in df.transform(mixture_weights(alpha=0.5)).collect()}
    assert abs(out["big"].natural_share - 0.9) < 1e-6
    # alpha<1 upsamples the small domain relative to natural share
    assert out["small"].weight > out["small"].natural_share
    assert out["big"].weight < out["big"].natural_share
    assert abs(out["big"].weight + out["small"].weight - 1.0) < 2e-6


def test_edit1_pairs_exact_neighborhood(spark):
    from akka_stream_contrib_spark.functions import edit1_pairs
    rows = [(1, "spark"), (2, "spork"),      # substitution, d=1
            (3, "sparks"),                   # insertion vs 1, d=1
            (4, "park"),                     # deletion vs 1, d=1
            (5, "scala"),                    # far from everything
            (6, "spark")]                    # duplicate string, d=0
    df = spark.createDataFrame(rows, "id long, s string")
    got = {(r.id_a, r.id_b): r.edit_distance
           for r in edit1_pairs(df, "id", "s").collect()}
    # pair ids follow string order (a < b); equal strings tie-break by id
    assert got[(1, 2)] == 1 or got[(2, 1)] == 1
    assert any(k in got for k in [(1, 3), (3, 1)])
    assert any(k in got for k in [(4, 1), (1, 4)])
    assert all(5 not in k for k in got)
    assert any(got[k] == 0 for k in got if {1, 6} == set(k))
    # no false positives at distance 2: spork vs sparks (d=2) absent
    assert not any({2, 3} == set(k) for k in got)


def test_simhash_pairs_radius_and_no_all_pairs(spark):
    from akka_stream_contrib_spark.functions import simhash, simhash_pairs
    rows = [(1, "the quick brown fox jumps over the lazy dog today ok fine"),
            (2, "the quick brown fox jumps over the lazy dog today ok sure"),
            (3, "completely different words about spark shuffle joins here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r.doc_id: r.simhash for r in df.transform(simhash()).collect()}
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in simhash_pairs(df, max_hamming=3).collect()}
    # every reported pair's hamming matches the signature xor popcount
    for (a, b), h in pairs.items():
        assert bin(sigs[a] ^ sigs[b]).count("1") == h and h <= 3
    # near-identical docs land within the radius
    if bin(sigs[1] ^ sigs[2]).count("1") <= 3:
        assert (1, 2) in pairs or (2, 1) in pairs


def test_normalize_text_canonicalizes(spark):
    from akka_stream_contrib_spark.functions import normalize_text
    rows = [(1, "Hello   World\t\nfoo"), (2, "already clean"),
            (3, "ctrl\x07chars\x1fgone")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in df.transform(normalize_text()).collect()}
    assert out[1].norm_text == "hello world foo" and out[1].changed
    assert out[2].norm_text == "already clean" and not out[2].changed
    assert out[3].norm_text == "ctrlcharsgone" and out[3].changed


def test_doc_keywords_tfidf_ranking(spark):
    from akka_stream_contrib_spark.functions import doc_keywords
    rows = [(1, "rare common common filler filler filler"),
            (2, "common filler filler other other other"),
            (3, "common filler unique unique unique unique")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = df.transform(doc_keywords(top_n=2)).collect()
    per = {}
    for r in out:
        per.setdefault(r.doc_id, []).append((r.rank, r.token))
    # doc-exclusive terms (df=1) outrank corpus-wide ones (df=3 -> idf=0)
    assert sorted(per[1])[0][1] == "rare"
    assert sorted(per[2])[0][1] == "other"
    assert sorted(per[3])[0][1] == "unique"
    assert all(len(v) == 2 for v in per.values())


def test_bloom_no_false_negatives_and_fp_rate(spark):
    from akka_stream_contrib_spark.functions import bloom_build, bloom_probe
    inserted = spark.createDataFrame([(i,) for i in range(500)], "k long")
    others = spark.createDataFrame([(i,) for i in range(10000, 12000)], "k long")
    bloom = bloom_build(inserted, "k", m_bits=65536, k_hashes=4)
    mem_in = {r.key: r.member for r in bloom_probe(bloom, inserted, "k").collect()}
    assert all(mem_in.values())                     # no false negatives, ever
    mem_out = [r.member for r in bloom_probe(bloom, others, "k").collect()]
    fp = sum(mem_out) / len(mem_out)
    # theoretical fp at n=500, m=65536, k=4 is ~2e-5; allow a generous band
    assert fp < 0.01


def test_bloom_merge_is_bit_or(spark):
    from pyspark.sql import functions as F
    from akka_stream_contrib_spark.functions import bloom_build, bloom_probe
    a = spark.createDataFrame([(i,) for i in range(100)], "k long")
    b = spark.createDataFrame([(i,) for i in range(100, 200)], "k long")
    both = a.union(b)
    merged = (bloom_build(a, "k").union(bloom_build(b, "k"))
              .groupBy("word").agg(F.bit_or("bits").alias("bits")))
    direct = bloom_build(both, "k")
    assert (sorted((r.word, r.bits) for r in merged.collect())
            == sorted((r.word, r.bits) for r in direct.collect()))
    assert all(r.member for r in bloom_probe(merged, both, "k").collect())


def test_ohlc_resample_candles(spark):
    from datetime import datetime
    from akka_stream_contrib_spark.operators.resample import ohlc_resample
    rows = [(1, datetime(2024, 1, 1, 0, 5), 1, 10.0),
            (2, datetime(2024, 1, 1, 0, 20), 1, 30.0),
            (3, datetime(2024, 1, 1, 0, 50), 1, 20.0),
            (4, datetime(2024, 1, 1, 1, 10), 1, 5.0)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, value double")
    out = {r.bucket_start_s: r for r in
           df.transform(ohlc_resample(bucket_s=3600)).collect()}
    h0 = out[1704067200]
    assert (h0.open, h0.high, h0.low, h0.close, h0.n) == (10.0, 30.0, 10.0, 20.0, 3)
    h1 = out[1704070800]
    assert (h1.open, h1.close, h1.n) == (5.0, 5.0, 1)


def test_skew_report_detects_hot_key(spark):
    from akka_stream_contrib_spark.functions import skew_report
    rows = [("hot",)] * 900 + [(f"k{i}",) for i in range(100)]
    df = spark.createDataFrame(rows, "k string")
    out = df.transform(skew_report("k", top_n=3)).collect()
    top = out[0]
    assert top.key == "hot" and top.rank == 1 and top.cnt == 900
    assert top.share == 0.9 and top.n_keys == 101
    # skew factor = max/mean = 900 / (1000/101) ≈ 90.9
    assert 85 < top.skew_factor < 95


def test_logreg_converges_on_separable_data(spark):
    import numpy as np
    from akka_stream_contrib_spark.functions.ml import (
        logreg_predict, logreg_train)
    rows = []
    for i in range(200):
        x0 = (i % 7 - 3) / 3.0          # deterministic spread in [-1, 1]
        x1 = ((i * 13) % 11 - 5) / 5.0
        rows.append((i, [x0 + 2.0, x1], 1) if i % 2 == 0
                    else (i, [x0 - 2.0, x1], 0))
    df = spark.createDataFrame(rows, "id long, features array<double>, label int")
    w, b = logreg_train(df, iters=30, lr=1.0)
    assert w[0] > 1.0 and abs(w[1]) < abs(w[0])   # learns the separating dim
    scored = df.select("id", "label",
                       logreg_predict(w, b).alias("p")).collect()
    acc = sum((r.p >= 0.5) == (r.label == 1) for r in scored) / len(scored)
    assert acc >= 0.98
    # the codegen scoring expression replays the numpy model exactly
    import numpy as np
    for r in scored[:10]:
        feats = rows[r.id][1]
        expect = 1.0 / (1.0 + np.exp(-(np.dot(w, feats) + b)))
        assert abs(r.p - expect) < 1e-12


def test_kfold_split_uniform_and_stable(spark):
    from akka_stream_contrib_spark.functions.corpus import kfold_split
    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    a = {r.doc_id: r.fold for r in df.transform(kfold_split(k=5)).collect()}
    b = {r.doc_id: r.fold for r in df.transform(kfold_split(k=5)).collect()}
    assert a == b and set(a.values()) == {0, 1, 2, 3, 4}
    from collections import Counter
    counts = Counter(a.values())
    assert max(counts.values()) < 1.5 * min(counts.values())


def test_quantile_normalize_rank_semantics(spark):
    from akka_stream_contrib_spark.functions.corpus import quantile_normalize
    rows = [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 30.0),
            (4, "b", 5.0), (5, "b", 5.0)]
    df = spark.createDataFrame(rows, "event_id long, k string, value double")
    out = {r.event_id: r.pct for r in
           df.transform(quantile_normalize("k", "value", seq="event_id")).collect()}
    assert (out[1], out[2], out[3]) == (0.0, 0.5, 1.0)
    assert (out[4], out[5]) == (0.0, 1.0)   # seq breaks the tie


def test_snapshot_diff_change_types(spark):
    from akka_stream_contrib_spark.operators.cdc import snapshot_diff
    old = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")],
        "id long, v double, t string")
    new = spark.createDataFrame(
        [(2, 21.0, "b"), (3, 30.0, "c"), (4, 40.0, "d")],
        "id long, v double, t string")
    out = {r.id: r.change_type
           for r in snapshot_diff(old, new, ["id"], ["v", "t"]).collect()}
    assert out == {1: "removed", 2: "changed", 4: "added"}  # 3 unchanged: absent


def test_dedup_within_debounce_not_lag(spark):
    from datetime import datetime
    from akka_stream_contrib_spark.operators.resample import dedup_within
    # burst at t=0,40,80,130s with 60s window: keep 0, drop 40, drop 80
    # (within 60 of anchor 0? 80-0=80 >= 60 -> KEPT, re-anchor), 130-80=50
    # -> dropped. A naive lag filter would drop 80 (40s after 40).
    rows = [(1, datetime(2024, 1, 1, 0, 0, 0), 1, "c"),
            (2, datetime(2024, 1, 1, 0, 0, 40), 1, "c"),
            (3, datetime(2024, 1, 1, 0, 1, 20), 1, "c"),
            (4, datetime(2024, 1, 1, 0, 2, 10), 1, "c")]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string")
    out = {r.event_id: r.kept for r in
           df.transform(dedup_within(["user_id", "event_type"],
                                     within_s=60)).collect()}
    assert out == {1: True, 2: False, 3: True, 4: False}


def test_vwap_weights_by_quantity(spark):
    from datetime import datetime
    from akka_stream_contrib_spark.operators.resample import vwap_resample
    rows = [(1, datetime(2024, 1, 1, 0, 10), "A", 10.0, 1.0),
            (2, datetime(2024, 1, 1, 0, 50), "A", 20.0, 3.0)]
    df = spark.createDataFrame(
        rows, "event_id long, _ts timestamp_ntz, k string, p double, q double")
    out = df.transform(vwap_resample(key="k", ts="_ts", price="p", qty="q",
                                     bucket_s=3600)).collect()[0]
    assert out.vwap == 17.5 and out.total_qty == 4.0 and out.n == 2


def test_classification_report_counts(spark):
    from akka_stream_contrib_spark.functions import classification_report
    rows = [(1, 1)] * 6 + [(0, 1)] * 2 + [(1, 0)] * 3 + [(0, 0)] * 9
    df = spark.createDataFrame(rows, "label int, predicted int")
    r = df.transform(classification_report()).collect()[0]
    assert (r.tp, r.fp, r.fn, r.tn) == (6, 2, 3, 9)
    assert r.precision == 0.75 and r.recall == round(6 / 9, 6)
    assert r.accuracy == 0.75


def test_psi_drift_detects_shift(spark):
    from akka_stream_contrib_spark.functions import psi_drift
    same = spark.createDataFrame([(float(i % 1000),) for i in range(2000)],
                                 "value double")
    shifted = spark.createDataFrame(
        [(float((i % 500) + 500),) for i in range(2000)], "value double")
    psi_same = psi_drift(same, same).collect()[0].psi
    psi_shift = psi_drift(same, shifted).collect()[0].psi
    assert psi_same == 0.0
    assert psi_shift > 0.25   # half the mass moved: clearly 'shifted'


# -------------------------------------------------- leakage-safe splits ---

def test_grouped_split_keeps_groups_together(spark):
    from akka_stream_contrib_spark.functions import grouped_split
    rows = [(i, i % 7) for i in range(200)]
    df = spark.createDataFrame(rows, "event_id int, user_id int")
    out = df.transform(grouped_split("user_id"))
    per_group = (out.groupBy("user_id")
                 .agg(F.countDistinct("split").alias("n")).collect())
    assert all(r.n == 1 for r in per_group)
    assert {r.split for r in out.select("split").distinct().collect()} <= {
        "train", "val", "test"}


def test_purged_time_split_embargo_separates_train_test(spark):
    from akka_stream_contrib_spark.functions import purged_time_split
    import datetime
    base = datetime.datetime(2026, 1, 1)
    rows = [(i, base + datetime.timedelta(minutes=i)) for i in range(100)]
    df = spark.createDataFrame(rows, "event_id int, ts timestamp") \
        .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = df.transform(purged_time_split("ts", train_frac=0.7,
                                         embargo_frac=0.1))
    got = {r.event_id: r.split for r in out.collect()}
    # span = 99 min: train <= floor(99*0.7) = 69, embargo <= 79, test after
    assert got[0] == "train" and got[69] == "train"
    assert got[70] == "embargo" and got[79] == "embargo"
    assert got[80] == "test" and got[99] == "test"
    # every train row strictly precedes every test row with a full gap
    import pyspark.sql.functions as SF
    mx_train = out.filter("split = 'train'").agg(SF.max("ts")).head()[0]
    mn_test = out.filter("split = 'test'").agg(SF.min("ts")).head()[0]
    assert (mn_test - mx_train).total_seconds() >= 11 * 60


def test_purged_time_split_null_ts_gets_null_split(spark):
    # ADVICE r8: undated rows used to fall through to 'test' — the worst
    # default for a leakage-safety primitive. They now get split = NULL.
    from akka_stream_contrib_spark.functions import purged_time_split
    import datetime
    base = datetime.datetime(2026, 1, 1)
    rows = [(i, base + datetime.timedelta(minutes=i)) for i in range(50)]
    rows.append((999, None))
    df = spark.createDataFrame(rows, "event_id int, ts timestamp") \
        .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = {r.event_id: r.split
           for r in df.transform(purged_time_split("ts")).collect()}
    assert got[999] is None
    assert got[0] == "train" and got[49] == "test"


def test_purged_time_split_validates_fractions(spark):
    from akka_stream_contrib_spark.functions import purged_time_split
    import pytest as _pt
    with _pt.raises(ValueError):
        purged_time_split("ts", train_frac=0.9, embargo_frac=0.2)


def test_robust_scale_outlier_immunity(spark):
    from akka_stream_contrib_spark.functions import robust_scale
    # 9 values at 10+/-2 plus one gross outlier: median/MAD barely move,
    # so inliers keep |robust_z| small while the outlier is far out
    vals = [8.0, 9.0, 9.5, 10.0, 10.0, 10.5, 11.0, 12.0, 10.0, 1000.0]
    df = spark.createDataFrame([(i, "a", v) for i, v in enumerate(vals)],
                               "event_id int, event_type string, value double")
    out = {r.event_id: r for r in df.transform(
        robust_scale("event_type")).collect()}
    assert out[0].median == 10.0
    inlier_z = [abs(out[i].robust_z) for i in range(9)]
    assert max(inlier_z) < 3 and abs(out[9].robust_z) > 100
    # constant group: no meaningful scale -> NULL
    cst = spark.createDataFrame([(i, "c", 5.0) for i in range(4)],
                                "event_id int, event_type string, value double")
    rows = cst.transform(robust_scale("event_type")).collect()
    assert all(r.robust_z is None and r.mad == 0.0 for r in rows)


def test_cross_lingual_dedup_catches_accented_mirror(spark):
    # the accented re-post: raw 4-gram jaccard between 1 and 2 is ~0, the
    # translit fold recovers jaccard 1.0; doc 3 is unrelated
    from akka_stream_contrib_spark.functions import (cross_lingual_dedup,
                                                     ngram_jaccard_dedup)
    base = "the quick brown fox jumps over seventeen lazy dogs tonight"
    accented = ("Thé qüîck BRÖWN fôx, júmps över sévéntéén lâzy dögs — "
                "tönîght!")
    rows = [(1, base), (2, accented),
            (3, "completely different content about spark shuffles")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = cross_lingual_dedup(df, n=4, threshold=0.9, max_doc_freq=10).collect()
    assert [(r.doc_a, r.doc_b) for r in got] == [(1, 2)]
    assert got[0].jaccard == 1.0
    # the plain detector misses it at any usable bar
    assert ngram_jaccard_dedup(df, n=4, threshold=0.3,
                               max_doc_freq=10).count() == 0


def test_translit_normalize_fold_properties(spark):
    from akka_stream_contrib_spark.functions.text import (translit_map,
                                                          translit_normalize)
    src, dst = translit_map()
    assert len(src) == len(dst) and len(set(src)) == len(src)
    rows = [(1, "Ça va? Élève #1 — naïve façade…"),
            (2, "ca va eleve 1 naive facade"),
            (3, None)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r.n for r in df.select(
        "doc_id", translit_normalize(F.col("text")).alias("n")).collect()}
    assert got[1] == got[2] == "ca va eleve 1 naive facade"
    assert got[3] is None


def test_embedding_dim_drift_detects_planted_shift(spark):
    # ref: deterministic pseudo-noise; cur: same noise with dims 3 and 7
    # shifted by +1.0 and -0.5 — they must rank 1st and 2nd by |smd|
    def vec(i, shift=None):
        v = [((i * 31 + d * 17) % 13 - 6) / 12.0 for d in range(8)]
        if shift:
            for d, s in shift.items():
                v[d] += s
        return v
    from akka_stream_contrib_spark.functions import embedding_dim_drift
    ref = spark.createDataFrame(
        [(i, vec(i)) for i in range(60)], "vec_id int, embedding array<float>")
    cur = spark.createDataFrame(
        [(i, vec(i, {3: 1.0, 7: -0.5})) for i in range(60)],
        "vec_id int, embedding array<float>")
    got = embedding_dim_drift(ref, cur, top_k=3).collect()
    assert got[0].dim == 3 and got[0].smd > 2.0
    assert got[1].dim == 7 and got[1].smd < -0.9
    # unshifted dims have smd == 0 exactly (identical samples)
    assert abs(got[2].smd) < 1e-9


def test_url_recrawl_dedup_collapses_surface_variants(spark):
    from akka_stream_contrib_spark.functions.web import normalize_url
    rows = [(1, "HTTPS://WWW.Example.COM/a/b#frag"),
            (2, "https://www.example.com/a/b"),
            (3, "https://other.com/"),
            (4, "https://other.com")]
    df = spark.createDataFrame(rows, "doc_id int, url string")
    got = {r.norm_url: (r.n, r.keep) for r in
           df.withColumn("norm_url", normalize_url(F.col("url")))
           .groupBy("norm_url")
           .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keep"))
           .collect()}
    assert got["https://www.example.com/a/b"] == (2, 1)
    assert got["https://other.com"] == (2, 3)


def test_html_text_extract_strips_boilerplate_and_scores_links(spark):
    from akka_stream_contrib_spark.functions.web import html_text_extract
    rows = [
        (1, '<html><head><script>var hidden = "SECRET";</script>'
            '<style>.x{color:red}</style></head><body><!-- note -->'
            '<h1>Title</h1><p>Real body &amp; content here</p>'
            '<div><a href="/a">Nav One</a><a href="/b">Nav Two</a></div>'
            '</body></html>'),
        # nav-only page: link density ~1
        (2, '<body><a href="/x">Only Links</a></body>'),
        (3, '<p>No tags beyond this</p>'),
    ]
    df = spark.createDataFrame(rows, "doc_id int, html string")
    got = {r.doc_id: r for r in df.transform(html_text_extract()).collect()}
    t1 = got[1].text
    assert "SECRET" not in t1 and "color:red" not in t1 and "note" not in t1
    assert "Title" in t1 and "Real body & content here" in t1
    assert 0.0 < got[1].link_density < 0.6
    assert got[2].text == "Only Links" and got[2].link_density == 1.0
    assert got[3].text == "No tags beyond this"
    assert got[3].link_density == 0.0
    assert got[3].n_chars == len("No tags beyond this")


def test_html_text_extract_block_closers_become_newlines(spark):
    from akka_stream_contrib_spark.functions.web import html_text_extract
    df = spark.createDataFrame(
        [(1, "<p>para one</p><p>para two</p><br>line three")],
        "doc_id int, html string")
    t = df.transform(html_text_extract()).collect()[0].text
    assert t.split("\n") == ["para one", "para two", "line three"]


def test_common_line_filter_strips_shared_lines_keeps_bodies(spark):
    from akka_stream_contrib_spark.functions.corpus import common_line_filter
    banner = "We use cookies on this site"
    footer = "Copyright Example Corp 2026"
    rows = [(i, f"{banner}\nunique body line number {i}\n{footer}")
            for i in range(10)]
    rows.append((99, None))  # NULL text: dropped
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r for r in
           df.transform(common_line_filter(max_doc_freq=5)).collect()}
    assert 99 not in got and len(got) == 10
    for i in range(10):
        assert got[i].text == f"unique body line number {i}"
        assert got[i].n_lines_kept == 1 and got[i].n_lines_dropped == 2


def test_common_line_filter_short_lines_immune(spark):
    # a short line shared by everyone (e.g. "---") stays: too little
    # signal to condemn below min_line_chars
    from akka_stream_contrib_spark.functions.corpus import common_line_filter
    rows = [(i, f"---\nbody {i} with enough length here") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = df.transform(common_line_filter(max_doc_freq=3,
                                          min_line_chars=10)).collect()
    assert all(r.text.startswith("---\n") for r in got)
    assert all(r.n_lines_dropped == 0 for r in got)


def test_condemned_set_broadcast_is_budget_guarded(spark):
    # r9 verdict weak mark: the condemned set's cardinality is
    # data-dependent, so the broadcast must be budget-guarded with a plain
    # shuffle-hash fallback — same join key either way, identical results.
    from akka_stream_contrib_spark.functions.corpus import (
        common_line_filter, remove_boilerplate)
    banner = "We use cookies on this site"
    rows = [(i, f"{banner}\nunique body line number {i}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    under = df.transform(common_line_filter(max_doc_freq=5))
    over = df.transform(common_line_filter(max_doc_freq=5,
                                           broadcast_budget_rows=0))
    assert "BroadcastHashJoin" in under._jdf.queryExecution().executedPlan().toString()
    over_plan = over._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in over_plan
    assert "BroadcastHashJoin LeftOuter" not in over_plan
    key = lambda r: (r.doc_id, r.text, r.n_lines_kept, r.n_lines_dropped)
    assert sorted(map(key, under.collect())) == sorted(map(key, over.collect()))

    seg_rows = [(i, f"the common prefix token{i}") for i in range(10)]
    sdf = spark.createDataFrame(seg_rows, "doc_id int, text string")
    s_under = sdf.transform(remove_boilerplate(max_doc_frac=0.5))
    s_over = sdf.transform(remove_boilerplate(max_doc_frac=0.5,
                                              broadcast_budget_rows=0))
    assert ("ShuffledHashJoin" in
            s_over._jdf.queryExecution().executedPlan().toString())
    skey = lambda r: (r.doc_id, r.clean_text, r.n_kept, r.n_removed)
    assert (sorted(map(skey, s_under.collect()))
            == sorted(map(skey, s_over.collect())))


def test_chat_training_text_spans_slice_exactly(spark):
    from akka_stream_contrib_spark.functions.corpus import chat_to_training_text
    rows = [
        (1, [("user", "hi there"), ("assistant", "hello!"),
             ("user", "bye"), ("assistant", "see ya")]),
        (2, [("user", "no reply here")]),      # no assistant spans
        (3, None), (4, []),                    # dropped: nothing to train on
    ]
    df = spark.createDataFrame(
        rows, "conv_id int, turns array<struct<role string, content string>>")
    got = {r.conv_id: r for r in
           df.transform(chat_to_training_text(system_prompt="be nice"))
           .collect()}
    assert set(got) == {1, 2}
    r1 = got[1]
    assert r1.text == ("[SYS]\nbe nice\n[USER]\nhi there\n[ASSISTANT]\n"
                       "hello!\n[USER]\nbye\n[ASSISTANT]\nsee ya\n")
    # every span slices back to exactly the assistant content
    assert [r1.text[s.s:s.e] for s in r1.assistant_spans] == ["hello!", "see ya"]
    assert r1.n_turns == 4
    assert abs(r1.assistant_frac - round(12 / len(r1.text), 6)) < 1e-9
    assert got[2].assistant_spans == [] and got[2].assistant_frac == 0.0


def test_chat_training_text_no_system_header(spark):
    from akka_stream_contrib_spark.functions.corpus import chat_to_training_text
    df = spark.createDataFrame(
        [(1, [("assistant", "first")])],
        "conv_id int, turns array<struct<role string, content string>>")
    r = df.transform(chat_to_training_text()).collect()[0]
    assert r.text == "[ASSISTANT]\nfirst\n"
    assert [(s.s, s.e) for s in r.assistant_spans] == [(12, 17)]


def test_chat_training_text_null_content_renders_empty(spark):
    # a NULL content turn renders as tag + blank line instead of
    # NULL-poisoning the span fold (spans stayed (None, None) before)
    from akka_stream_contrib_spark.functions.corpus import chat_to_training_text
    df = spark.createDataFrame(
        [(1, [("user", None), ("assistant", "hello")])],
        "conv_id int, turns array<struct<role string, content string>>")
    r = df.transform(chat_to_training_text()).collect()[0]
    assert r.text == "[USER]\n\n[ASSISTANT]\nhello\n"
    assert [(s.s, s.e) for s in r.assistant_spans] == [(20, 25)]
    assert r.text[20:25] == "hello"


def test_html_link_density_bounded_with_entities_and_style_anchors(spark):
    # r9 review: entity-bearing anchors ('&amp;') and anchors inside
    # <style> blocks used to push the numerator past the denominator
    from akka_stream_contrib_spark.functions.web import html_text_extract
    rows = [
        (1, '<body><a href="/x">Terms &amp; Conditions</a></body>'),
        (2, '<body><style>q::before{content:"<a>fake</a>"}</style>'
            '<p>real content text here</p></body>'),
    ]
    df = spark.createDataFrame(rows, "doc_id int, html string")
    got = {r.doc_id: r for r in df.transform(html_text_extract()).collect()}
    assert got[1].text == "Terms & Conditions"
    assert got[1].link_density == 1.0          # == , not > 1.222
    assert got[2].link_density == 0.0          # style anchors don't count
    assert "fake" not in got[2].text


def test_embedding_dim_drift_constant_dim_yields_null_not_nan(spark):
    # r9 review: a dim constant in both slices gave smd = 0/0 = NaN, and
    # Spark ranks NaN above every real value — the dead dim hijacked rank 1
    from akka_stream_contrib_spark.functions import embedding_dim_drift
    def vec(i, shift=0.0):
        # dim 0 constant everywhere; dim 1 genuinely drifts
        return [0.5, ((i * 7) % 9 - 4) / 8.0 + shift, ((i * 3) % 5) / 5.0]
    ref = spark.createDataFrame([(i, vec(i)) for i in range(40)],
                                "vec_id int, embedding array<float>")
    cur = spark.createDataFrame([(i, vec(i, shift=1.0)) for i in range(40)],
                                "vec_id int, embedding array<float>")
    got = embedding_dim_drift(ref, cur, top_k=3).collect()
    assert got[0].dim == 1 and got[0].smd > 2.0   # the real drift leads
    by_dim = {r.dim: r.smd for r in got}
    assert by_dim[0] is None                       # constant dim: NULL


def test_generation_loops_detects_tail_periods(spark):
    from akka_stream_contrib_spark.functions.text import generation_loops
    rows = [
        (1, "a clean sentence with no repetition at the end"),
        (2, "the model says of the best of the best of the best"),  # p=3 x3
        (3, "loop loop loop loop loop"),                            # p=1 x5
        (4, "ab cd ab cd ab cd ab cd"),                             # p=2 x4
        # repetition in the MIDDLE, clean tail: not a decoding loop
        (5, "x y x y x y then the text recovers and ends cleanly"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: (r.loop_period, r.n_repeats)
           for r in df.transform(generation_loops()).collect()}
    assert 6 not in got
    assert got[1] == (None, None)
    assert got[2] == (3, 3)
    assert got[3] == (1, 5)
    assert got[4] == (2, 4)
    assert got[5] == (None, None)


def test_generation_loops_repeat_cap_and_smallest_period(spark):
    from akka_stream_contrib_spark.functions.text import generation_loops
    # 20 identical tokens: smallest period 1 wins (a p=2 reading also
    # matches — the detector must report 1), repeats cap at max_repeats
    df = spark.createDataFrame([(1, " ".join(["z"] * 20))],
                               "doc_id int, text string")
    r = df.transform(generation_loops(max_repeats=12)).collect()[0]
    assert (r.loop_period, r.n_repeats) == (1, 12)


def test_pack_training_rows_remaps_spans_and_respects_budget(spark):
    from akka_stream_contrib_spark.functions.corpus import pack_training_rows
    rows = [
        (1, "a b c d", [(0, 3)]),     # 4 tokens, span "a b"
        (2, "e f g h", []),           # 4 tokens
        (3, "i j", [(2, 3)]),         # 2 tokens, span "j"
        (4, "k l", None),             # 2 tokens, NULL spans
        (5, " ".join(f"t{i}" for i in range(20)), [(0, 2)]),  # oversize
        (6, None, None),              # NULL text: dropped
    ]
    df = spark.createDataFrame(
        rows, "conv_id long, text string, "
              "assistant_spans array<struct<s: bigint, e: bigint>>")
    got = {r.pack_id: r for r in
           df.transform(pack_training_rows(budget=8)).collect()}
    # class 2 (4-token docs) packs both; class 4 packs the two 2-token docs
    assert set(got) == {"2_0", "4_0", "0_0"}
    p2 = got["2_0"]
    assert p2.text == "a b c d\ne f g h" and p2.n_docs == 2
    assert [p2.text[s.s:s.e] for s in p2.assistant_spans] == ["a b"]
    p4 = got["4_0"]
    assert [p4.text[s.s:s.e] for s in p4.assistant_spans] == ["j"]
    # oversize doc: its own row, overflow flagged, span kept verbatim
    p0 = got["0_0"]
    assert p0.overflow and p0.n_docs == 1 and p0.n_tokens == 20
    assert [p0.text[s.s:s.e] for s in p0.assistant_spans] == ["t0"]
    assert not p2.overflow and not p4.overflow
    # capacity invariant: no non-overflow pack exceeds the budget
    assert all(r.n_tokens <= 8 for r in got.values() if not r.overflow)


def test_pack_training_rows_chains_from_chat(spark):
    # the pipeline the op exists for: chat render -> pack; every remapped
    # span must still slice to exactly the assistant content
    from akka_stream_contrib_spark.functions.corpus import (
        chat_to_training_text, pack_training_rows)
    convs = [
        (i, [("user", f"question number {i}"),
             ("assistant", f"answer number {i}")])
        for i in range(1, 13)
    ]
    df = spark.createDataFrame(
        convs, "conv_id int, turns array<struct<role string, content string>>")
    rendered = df.transform(chat_to_training_text())
    packed = rendered.select("conv_id", "text", "assistant_spans") \
        .transform(pack_training_rows(budget=24, id_col="conv_id"))
    rows = packed.collect()
    assert sum(r.n_docs for r in rows) == 12
    span_texts = [r.text[s.s:s.e] for r in rows for s in r.assistant_spans]
    assert len(span_texts) == 12
    assert all(t.startswith("answer number ") for t in span_texts)
    # multi-doc packs exist (the op actually packed something)
    assert any(r.n_docs > 1 for r in rows)
    assert all(r.n_tokens <= 24 for r in rows if not r.overflow)


def test_pack_training_rows_fill_guarantee(spark):
    # harmonic classes: every non-overflow pack with a successor row in
    # its class is > k/(k+1) full, i.e. fill > budget - budget/(k+1);
    # weaker blanket check: mean fill of full rows > 50%
    from akka_stream_contrib_spark.functions.corpus import pack_training_rows
    import random
    rng = random.Random(7)
    rows = [(i, " ".join("w" for _ in range(rng.randint(1, 40))), None)
            for i in range(1, 201)]
    df = spark.createDataFrame(
        rows, "conv_id long, text string, "
              "assistant_spans array<struct<s: bigint, e: bigint>>")
    got = df.transform(pack_training_rows(budget=64)).collect()
    assert sum(r.n_docs for r in got) == 200
    assert all(r.n_tokens <= 64 for r in got)
    # per class, all rows but the last must hold exactly k members
    by_class = {}
    for r in got:
        k, row = map(int, r.pack_id.split("_"))
        by_class.setdefault(k, []).append((row, r.n_docs))
    for k, packs in by_class.items():
        if k == 0:
            continue
        for row, n in sorted(packs)[:-1]:
            assert n == k, (k, row, n)


def test_preference_pairs_selection_ties_and_gates(spark):
    from akka_stream_contrib_spark.functions.corpus import preference_pairs
    rows = [
        (1, 10, "weak", 1.0), (1, 11, "best", 5.0), (1, 12, "mid", 3.0),
        (2, 20, "tie a", 2.0), (2, 21, "tie b", 2.0),   # full tie
        (3, 30, "lonely", 4.0),                          # 1 candidate: drop
        (4, 40, "unscored", None), (4, 41, "scored", 1.0),  # 1 scored: drop
        (5, 50, "best dup", 7.0), (5, 51, "best dup", 7.0),
        (5, 52, "low", 1.0),                             # tied best: min id
    ]
    df = spark.createDataFrame(
        rows, "prompt_id long, cand_id long, text string, score double")
    got = {r.prompt_id: r for r in
           df.transform(preference_pairs(margin=0.0)).collect()}
    assert set(got) == {1, 2, 5}
    assert (got[1].chosen_id, got[1].rejected_id) == (11, 10)
    assert got[1].score_margin == 4.0 and got[1].n_candidates == 3
    # full tie: chosen = min id, rejected = max id — distinct candidates
    assert (got[2].chosen_id, got[2].rejected_id) == (20, 21)
    assert got[2].score_margin == 0.0
    # tied best: min id wins chosen; rejected is the genuine worst
    assert (got[5].chosen_id, got[5].rejected_id) == (50, 52)
    # margin gate drops weak pairs
    kept = {r.prompt_id for r in
            df.transform(preference_pairs(margin=1.0)).collect()}
    assert kept == {1, 5}


def test_preference_pairs_plan_is_single_partial_agg(spark):
    # scale contract: no window sort, no join — a hot prompt with millions
    # of candidates must never sort inside one task
    from akka_stream_contrib_spark.functions.corpus import preference_pairs
    df = spark.createDataFrame(
        [(1, 1, "t", 1.0)], "prompt_id long, cand_id long, text string, score double")
    plan = df.transform(preference_pairs())._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan and "Join" not in plan
    assert "partial_min" in plan or "partial" in plan.lower()


def test_fim_transform_psm_reconstructs_and_is_deterministic(spark):
    from akka_stream_contrib_spark.functions.corpus import fim_transform
    import re
    rows = [(i, " ".join(f"tok{j}" for j in range(12))) for i in range(40)] \
        + [(100, "a b"), (101, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = df.transform(fim_transform(rate=50)).collect()
    applied = [r for r in got if r.fim_applied]
    raw = {r.doc_id: r for r in got if not r.fim_applied}
    # ~50% gate (md5-deterministic; exact count is a property of the ids)
    assert 10 <= len(applied) <= 30
    for r in applied:
        m = re.fullmatch(r"<PRE>(.*)<SUF>(.*)<MID>(.*)", r.text, re.S)
        pre, suf, mid = m.groups()
        # prefix + middle + suffix reassemble the original token stream
        toks = ([t for t in pre.split(" ") if t]
                + [t for t in mid.split(" ") if t]
                + [t for t in suf.split(" ") if t])
        assert toks == [f"tok{j}" for j in range(12)]
        assert (r.n_prefix, r.n_middle, r.n_suffix) == (
            len([t for t in pre.split(" ") if t]),
            len([t for t in mid.split(" ") if t]),
            len([t for t in suf.split(" ") if t]))
        assert r.n_prefix >= 1 and r.n_middle >= 1 and r.n_suffix >= 0
    # short and NULL docs pass through
    assert raw[100].text == "a b" and raw[100].n_prefix == 2
    assert raw[101].text is None and raw[101].n_prefix == 0
    # determinism: a rerun reproduces the exact same transformation
    again = df.transform(fim_transform(rate=50)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    # rate bounds
    assert all(not r.fim_applied
               for r in df.transform(fim_transform(rate=0)).collect())


def test_pack_training_rows_doc_spans_tile_the_packed_text(spark):
    # doc_spans: consecutive member boundaries separated by exactly the
    # separator; re-slicing reproduces member texts; spans tile the row
    from akka_stream_contrib_spark.functions.corpus import pack_training_rows
    rows = [(i, f"doc number {i} body", None) for i in range(1, 9)]
    df = spark.createDataFrame(
        rows, "conv_id long, text string, "
              "assistant_spans array<struct<s: bigint, e: bigint>>")
    for r in df.transform(pack_training_rows(budget=12)).collect():
        slices = [r.text[d.s:d.e] for d in r.doc_spans]
        assert len(slices) == r.n_docs
        assert all(s.startswith("doc number ") for s in slices)
        assert r.doc_spans[0].s == 0
        for a, b in zip(r.doc_spans, r.doc_spans[1:]):
            assert b.s == a.e + 1 and r.text[a.e:b.s] == "\n"
        assert r.doc_spans[-1].e == len(r.text)


def test_near_dup_decontaminate_cross_split_only(spark):
    from akka_stream_contrib_spark.functions.dedup import near_dup_decontaminate
    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog near the river bank"),
         (2, "an entirely different training text about spark shuffle planning"),
         # near-dup of doc 1 WITHIN train: must NOT appear (cross-split only)
         (3, "the quick brown fox jumps over the lazy dog near the river bank")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(101, "the quick brown fox jumps over the lazy dog near the river edge"),
         (102, "benchmark item sharing no shingles with anything in the corpus")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in
           near_dup_decontaminate(train, ev, threshold=0.3).collect()}
    # both copies of the leaked text flag against the SAME benchmark item
    assert set(got) == {1, 3}
    assert got[1].eval_id == 101 and got[3].eval_id == 101
    assert got[1].jaccard > 0.7
    # clean training doc and clean benchmark item stay silent
    assert 2 not in got and all(r.eval_id != 102 for r in got.values())


def test_near_dup_decontaminate_band_divisibility_guard(spark):
    from akka_stream_contrib_spark.functions.dedup import near_dup_decontaminate
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="must divide"):
        near_dup_decontaminate(df, df, num_hashes=8, bands=3)


def test_chat_tree_paths_flattens_every_leaf(spark):
    from akka_stream_contrib_spark.functions.corpus import chat_tree_paths
    #      1(user q)
    #     /        \
    #    2(a1)      3(a2)
    #    |          |
    #    4(f1)      5(f2)
    #               |
    #               6(a3)
    rows = [(9, 1, None, "user", "q"), (9, 2, 1, "assistant", "a1"),
            (9, 3, 1, "assistant", "a2"), (9, 4, 2, "user", "f1"),
            (9, 5, 3, "user", "f2"), (9, 6, 5, "assistant", "a3")]
    df = spark.createDataFrame(
        rows, "conv_id long, node_id long, parent_id long, "
              "role string, content string")
    got = {r.leaf_id: r for r in df.transform(chat_tree_paths()).collect()}
    assert set(got) == {4, 6}
    assert [(t.role, t.content) for t in got[4].turns] == [
        ("user", "q"), ("assistant", "a1"), ("user", "f1")]
    assert [(t.role, t.content) for t in got[6].turns] == [
        ("user", "q"), ("assistant", "a2"), ("user", "f2"),
        ("assistant", "a3")]
    assert got[4].depth == 3 and got[6].depth == 4
    assert not got[4].truncated and not got[6].truncated


def test_chat_tree_paths_depth_cap_flags_truncated(spark):
    from akka_stream_contrib_spark.functions.corpus import chat_tree_paths
    chain = [(1, i, None if i == 1 else i - 1, "user", f"m{i}")
             for i in range(1, 6)]
    df = spark.createDataFrame(
        chain, "conv_id long, node_id long, parent_id long, "
               "role string, content string")
    r = df.transform(chat_tree_paths(max_depth=3)).collect()[0]
    # keeps the max_depth turns NEAREST the leaf and flags the cut
    assert r.truncated and r.depth == 3
    assert [t.content for t in r.turns] == ["m3", "m4", "m5"]
    full = df.transform(chat_tree_paths(max_depth=16)).collect()[0]
    assert not full.truncated and full.depth == 5
    with pytest.raises(ValueError, match="max_depth"):
        chat_tree_paths(max_depth=0)


def test_preference_pairs_nan_scores_dropped(spark):
    # Spark orders NaN above every double: a kept NaN would win "rejected"
    # with a vacuously-true margin gate — both forms drop NULL and NaN
    from akka_stream_contrib_spark.functions.corpus import preference_pairs
    rows = [(1, 10, "good", 5.0), (1, 11, "nan", float("nan")),
            (1, 12, "weak", 1.0)]
    df = spark.createDataFrame(
        rows, "prompt_id long, cand_id long, text string, score double")
    got = df.transform(preference_pairs(margin=0.0)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.chosen_id, r.rejected_id, r.n_candidates) == (10, 12, 2)
    assert r.score_margin == 4.0


def test_chat_tree_paths_dangling_parent_acts_as_root(spark):
    # a parent referencing a deleted node must terminate the walk, not
    # render a phantom (NULL, NULL) turn
    from akka_stream_contrib_spark.functions.corpus import chat_tree_paths
    rows = [(1, 5, 99, "user", "orphan top"),
            (1, 6, 5, "assistant", "reply")]
    df = spark.createDataFrame(
        rows, "conv_id long, node_id long, parent_id long, "
              "role string, content string")
    got = df.transform(chat_tree_paths()).collect()
    assert len(got) == 1
    r = got[0]
    assert r.leaf_id == 6 and r.depth == 2 and not r.truncated
    assert [(t.role, t.content) for t in r.turns] == [
        ("user", "orphan top"), ("assistant", "reply")]


def test_rejection_sample_argmax_median_gate(spark):
    from akka_stream_contrib_spark.functions.corpus import rejection_sample
    rows = [
        # prompt 1: scores 1,5,9 -> best 9, median 5, gain 4
        (1, 10, "a", 1.0), (1, 11, "b", 5.0), (1, 12, "c", 9.0),
        # prompt 2: flat scores -> gain 0, dropped at delta=2
        (2, 20, "d", 3.0), (2, 21, "e", 3.0),
        # prompt 3: single candidate -> dropped (min_candidates)
        (3, 30, "f", 99.0),
        # prompt 4: NULL + NaN candidates unusable -> one scored left,
        # dropped by min_candidates
        (4, 40, "g", 7.0), (4, 41, "h", None), (4, 42, "i", float("nan")),
    ]
    df = spark.createDataFrame(
        rows, "prompt_id long, cand_id long, text string, score double")
    got = {r.prompt_id: r for r in
           df.transform(rejection_sample(delta=2.0)).collect()}
    assert set(got) == {1}
    assert got[1].cand_id == 12 and got[1].score == 9.0
    assert got[1].median_score == 5.0 and got[1].reward_gain == 4.0
    assert got[1].n_candidates == 3
    # delta=0 admits the flat prompt; argmax tie -> lowest cand_id
    got0 = {r.prompt_id: r for r in
            df.transform(rejection_sample(delta=0.0)).collect()}
    assert got0[2].cand_id == 20 and got0[2].reward_gain == 0.0
    with pytest.raises(ValueError):
        rejection_sample(min_candidates=0)


def test_rejection_sample_plan_is_single_agg(spark):
    from akka_stream_contrib_spark.functions.corpus import rejection_sample
    from akka_stream_contrib_spark.plans import count_exchanges
    df = spark.createDataFrame(
        [(1, 1, "t", 1.0)],
        "prompt_id long, cand_id long, text string, score double")
    out = df.transform(rejection_sample())
    assert count_exchanges(out) <= 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Join" not in plan


def test_epoch_shuffle_is_a_deterministic_permutation(spark):
    from akka_stream_contrib_spark.functions.corpus import epoch_shuffle
    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    a = df.transform(epoch_shuffle(n_shards=4, seed="e0")).collect()
    b = df.transform(epoch_shuffle(n_shards=4, seed="e0")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    # it IS a permutation: every row present once, positions contiguous
    assert sorted(r.doc_id for r in a) == list(range(200))
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= set(range(4))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # a different seed reorders (new epoch, new permutation)
    c = df.transform(epoch_shuffle(n_shards=4, seed="e1")).collect()
    assert {(r.doc_id, r.shard, r.pos) for r in c} != \
           {(r.doc_id, r.shard, r.pos) for r in a}
    with pytest.raises(ValueError):
        epoch_shuffle(n_shards=0)


def test_epoch_shuffle_no_global_sort(spark):
    from akka_stream_contrib_spark.functions.corpus import epoch_shuffle
    from akka_stream_contrib_spark.plans import count_exchanges
    df = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    out = df.transform(epoch_shuffle(n_shards=8))
    # one hash exchange on the shard key; a global row_number would show a
    # rangepartitioning / single-partition exchange instead
    assert count_exchanges(out) <= 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()
    assert "hashpartitioning(shard" in plan.lower()


def test_context_fit_report_accounting(spark):
    from akka_stream_contrib_spark.functions.corpus import context_fit_report
    rows = [
        (1, "s1", "one two three four"),          # 4 tokens
        (2, "s1", "a b c d e f g h"),             # 8 tokens
        (3, "s2", "x y"),                         # 2 tokens
        (4, "s2", None),                          # ignored
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {(r.group, r.context_limit): r
           for r in df.transform(context_fit_report(limits=(4, 6))).collect()}
    r14 = out[("s1", 4)]
    assert r14.n_docs == 2 and r14.n_truncated == 1
    assert r14.tokens_total == 12 and r14.tokens_lost == 4
    assert r14.pct_docs_truncated == 0.5
    assert r14.pct_tokens_lost == round(4 / 12, 6)
    r16 = out[("s1", 6)]
    assert r16.n_truncated == 1 and r16.tokens_lost == 2
    r24 = out[("s2", 4)]
    assert r24.n_truncated == 0 and r24.tokens_lost == 0 \
        and r24.pct_tokens_lost == 0.0
    assert set(out) == {("s1", 4), ("s1", 6), ("s2", 4), ("s2", 6)}
    with pytest.raises(ValueError):
        context_fit_report(limits=())


def test_bradley_terry_recovers_strength_order(spark):
    from akka_stream_contrib_spark.functions.ml import bradley_terry_ratings
    # A dominates B dominates C; strength order must come out A > B > C
    rows = [
        ("A", "B", 9.0, 1.0), ("B", "C", 9.0, 1.0), ("A", "C", 9.0, 1.0),
        # reversed orientation rows fold into the same canonical pairs
        ("B", "A", 1.0, 9.0), ("C", "A", 0.0, 2.0),
        # self-games are dropped
        ("A", "A", 5.0, 5.0),
    ]
    games = spark.createDataFrame(
        rows, "model_a string, model_b string, wins_a double, wins_b double")
    out = {r.model: r for r in
           bradley_terry_ratings(games, iterations=5).collect()}
    assert out["A"].rating > out["B"].rating > out["C"].rating
    # mean-1 normalization
    assert abs(sum(r.rating for r in out.values()) / 3 - 1.0) < 1e-4
    # raw (unsmoothed) totals: A won 9+9+9+2=29 of (9+1)*2+9+1+2=32 games
    assert out["A"].wins == 29.0 and out["A"].games == 32.0
    with pytest.raises(ValueError):
        bradley_terry_ratings(games, iterations=0)
    with pytest.raises(ValueError):
        bradley_terry_ratings(games, smoothing=-1.0)


def test_bradley_terry_zero_win_model_survives_smoothing(spark):
    from akka_stream_contrib_spark.functions.ml import bradley_terry_ratings
    games = spark.createDataFrame(
        [("A", "B", 4.0, 0.0)],
        "model_a string, model_b string, wins_a double, wins_b double")
    out = {r.model: r for r in bradley_terry_ratings(games).collect()}
    # without smoothing B's MM rating is exactly 0; add-half keeps it
    # positive and finite
    assert 0.0 < out["B"].rating < out["A"].rating
    assert out["B"].wins == 0.0 and out["B"].games == 4.0


def test_filter_funnel_first_fail_attribution(spark):
    from akka_stream_contrib_spark.functions.quality import filter_funnel
    rows = [
        (1, "a", 10),   # passes all
        (2, None, 5),   # killed at stage 1 (null text)
        (3, "b", 2),    # killed at stage 2 (len < 4)
        (4, "c", 1),    # killed at stage 2 as well (never reaches 3)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, n long")
    stages = [("has_text", F.col("text").isNotNull()),
              ("big_n", F.col("n") >= 4),
              ("even", F.col("doc_id") % 2 == 0)]
    out = {r.stage: r for r in df.transform(filter_funnel(stages)).collect()}
    assert out["has_text"].n_in == 4 and out["has_text"].n_killed == 1
    assert out["big_n"].n_in == 3 and out["big_n"].n_killed == 2
    # doc 1 (odd) dies at stage 3; only survivors of 1-2 enter
    assert out["even"].n_in == 1 and out["even"].n_killed == 1 \
        and out["even"].n_out == 0
    assert out["big_n"].survival_rate == round(1 / 3, 6)
    assert out["even"].cumulative_survival == 0.0
    assert out["has_text"].group == "all"


def test_filter_funnel_all_survive_stage_counts_zero(spark):
    from akka_stream_contrib_spark.functions.quality import filter_funnel
    df = spark.createDataFrame([(1, "x"), (2, "y")], "doc_id long, text string")
    stages = [("has_text", F.col("text").isNotNull()),
              ("always", F.lit(True))]
    out = {r.stage: r for r in df.transform(filter_funnel(stages)).collect()}
    # every row survives both stages: kills must be 0, not NULL
    assert out["has_text"].n_killed == 0 and out["always"].n_killed == 0
    assert out["always"].n_out == 2 and out["always"].survival_rate == 1.0
    import pytest as _pt
    with _pt.raises(ValueError):
        filter_funnel([])
    with _pt.raises(ValueError):
        filter_funnel([("a", F.lit(True)), ("a", F.lit(False))])


def test_filter_funnel_null_predicate_is_false(spark):
    from akka_stream_contrib_spark.functions.quality import filter_funnel
    # n is NULL for doc 2: the comparison is NULL -> treated as a kill
    df = spark.createDataFrame([(1, 5), (2, None)], "doc_id long, n long")
    out = {r.stage: r for r in df.transform(
        filter_funnel([("n_big", F.col("n") >= 3)])).collect()}
    assert out["n_big"].n_killed == 1 and out["n_big"].n_out == 1


def test_span_corrupt_roundtrip_reconstructs_document(spark):
    from akka_stream_contrib_spark.functions.corpus import span_corrupt
    import re as _re
    text = " ".join(f"t{i}" for i in range(100))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = df.transform(span_corrupt(corruption_rate=0.15, mean_span=3)).first()
    # splice the target spans back into the input holes -> original text
    spans = {}
    parts = _re.split(r"<extra_id_(\d+)>", r.target_text)
    for i in range(1, len(parts) - 2, 2):
        spans[int(parts[i])] = parts[i + 1].strip()
    rebuilt = _re.sub(r"<extra_id_(\d+)>",
                      lambda m: spans[int(m.group(1))], r.input_text)
    assert " ".join(rebuilt.split()) == text
    # blocked placement: 100 tokens / B=20 -> exactly 5 spans, and the
    # final sentinel closes the target
    assert r.n_spans == 5 and r.target_text.endswith("<extra_id_5>")
    assert 5 <= r.n_corrupted_tokens <= 25
    # deterministic
    r2 = df.transform(span_corrupt(corruption_rate=0.15, mean_span=3)).first()
    assert r2.input_text == r.input_text and r2.target_text == r.target_text


def test_span_corrupt_short_and_null_pass_through(spark):
    from akka_stream_contrib_spark.functions.corpus import span_corrupt
    df = spark.createDataFrame([(1, "solo"), (2, None)],
                               "doc_id long, text string")
    out = {r.doc_id: r for r in df.transform(span_corrupt()).collect()}
    assert out[1].input_text == "solo" and out[1].n_spans == 0
    assert out[2].input_text is None and out[2].target_text == ""
    with pytest.raises(ValueError):
        span_corrupt(corruption_rate=0.0)
    with pytest.raises(ValueError):
        span_corrupt(mean_span=0)


def test_span_corrupt_zero_shuffles(spark):
    from akka_stream_contrib_spark.functions.corpus import span_corrupt
    from akka_stream_contrib_spark.plans import count_exchanges
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    assert count_exchanges(df.transform(span_corrupt())) == 0


def test_interleave_by_weight_frequency_and_determinism(spark):
    from akka_stream_contrib_spark.functions.corpus import interleave_by_weight
    rows = [(i, "heavy" if i % 2 == 0 else "light") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = df.transform(interleave_by_weight({"heavy": 3.0, "light": 1.0}))
    ordered = sorted(out.collect(), key=lambda r: (r.slot, r.doc_id))
    # long-run frequency: in the first 120 slots, heavy ~ 3x light
    head = ordered[:120]
    n_heavy = sum(1 for r in head if r.source == "heavy")
    assert 80 <= n_heavy <= 100  # 3:1 ratio = 90 expected
    # stride exactness: heavy rows are 1/3 apart, light rows 1 apart
    heavy = [r.slot for r in ordered if r.source == "heavy"]
    assert all(abs((b - a) - 1 / 3) < 2e-6
               for a, b in zip(heavy, heavy[1:]))
    # deterministic replay
    again = sorted(
        df.transform(interleave_by_weight({"heavy": 3.0, "light": 1.0}))
        .collect(), key=lambda r: (r.slot, r.doc_id))
    assert [r.doc_id for r in again] == [r.doc_id for r in ordered]
    # unknown source rides default_weight; bad weights raise
    with pytest.raises(ValueError):
        interleave_by_weight({"a": 0.0})
    with pytest.raises(ValueError):
        interleave_by_weight({}, default_weight=-1.0)


def test_interleave_by_weight_range_partitioned_no_source_sort(spark):
    # r11 skew rewrite: positions come from a range exchange on
    # (source, order-key) — each source split across many ranges — plus
    # the driver summary offsets; a hash exchange on the source key alone
    # (one reducer sorting a source's whole slice) must NOT appear. The
    # second counted exchange is the K-row summary aggregate.
    from akka_stream_contrib_spark.functions.corpus import interleave_by_weight
    from akka_stream_contrib_spark.plans import count_exchanges
    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    out = df.transform(interleave_by_weight({"a": 2.0}))
    assert count_exchanges(out) <= 2
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" in plan
    assert "hashpartitioning(source" not in plan


def test_bradley_terry_empty_and_uninformative_inputs(spark):
    from akka_stream_contrib_spark.functions.ml import bradley_terry_ratings
    schema = "model_a string, model_b string, wins_a double, wins_b double"
    # empty game log -> empty ratings with the contract schema, no crash
    empty = bradley_terry_ratings(spark.createDataFrame([], schema))
    assert empty.collect() == []
    assert [f.name for f in empty.schema.fields] == \
        ["model", "rating", "wins", "games"]
    # smoothing=0 with a both-sides-zero pair: 0/0 MM update keeps the
    # current estimate instead of ZeroDivisionError
    z = bradley_terry_ratings(
        spark.createDataFrame([("A", "B", 0.0, 0.0)], schema),
        smoothing=0.0).collect()
    assert {r.model: r.rating for r in z} == {"A": 1.0, "B": 1.0}


def test_span_corrupt_sentinel_needs_placeholder(spark):
    from akka_stream_contrib_spark.functions.corpus import span_corrupt
    with pytest.raises(ValueError, match="placeholder"):
        span_corrupt(sentinel="<mask>")


def test_template_mine_slots_and_min_count(spark):
    from akka_stream_contrib_spark.functions.corpus import template_mine
    rows = [
        (1, 'Review "TV set" in 20 words', "s1"),
        (2, 'Review "a phone" in 5 words', "s2"),
        (3, "Review 'the car' in 7 words", "s1"),   # single-quoted slot
        (4, "totally unique document", "s1"),        # singleton -> dropped
        (5, None, "s1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = df.transform(template_mine(min_count=2, source_col="source")).collect()
    assert len(out) == 1
    r = out[0]
    assert r.template == "Review <q> in <num> words"
    assert r.n_docs == 3 and r.n_sources == 2 and r.example_id == 1
    with pytest.raises(ValueError):
        template_mine(min_count=0)


def test_bitext_filter_rules(spark):
    from akka_stream_contrib_spark.functions.corpus import bitext_filter
    rows = [
        (1, "good pair here", "bon couple ici"),        # clean
        (2, "one two three four five six", "uno"),      # ratio kill
        (3, "same text", "same text"),                  # identity kill
        (4, "pay 100 dollars", "paie euros"),           # digit-parity kill
        (5, "x", "y"),                                  # below token floor
        (6, None, "orphan"),                            # null side
    ]
    df = spark.createDataFrame(rows, "pair_id long, src_text string, tgt_text string")
    out = {r.pair_id: r for r in
           df.transform(bitext_filter(max_len_ratio=2.0, min_tokens=2)).collect()}
    assert out[1].keep and out[1].len_ratio == 1.0
    assert not out[2].keep and not out[2].ok_ratio and out[2].len_ratio == 6.0
    assert not out[3].keep and not out[3].ok_not_identical
    assert not out[4].keep and not out[4].ok_digits and out[4].ok_ratio
    assert not out[5].keep and not out[5].ok_len_floor
    assert not out[6].keep and out[6].n_src_tokens is None
    with pytest.raises(ValueError):
        bitext_filter(max_len_ratio=0.5)
    with pytest.raises(ValueError):
        bitext_filter(min_tokens=0)


def test_shard_manifest_detects_gaps(spark):
    from akka_stream_contrib_spark.functions.corpus import shard_manifest
    rows = [(0, 1, "a b"), (0, 2, "c"), (0, 3, None),
            (1, 2, "d e f")]  # shard 1 starts at pos 2 -> gap
    df = spark.createDataFrame(rows, "shard int, pos long, text string")
    out = {r.shard: r for r in df.transform(shard_manifest()).collect()}
    assert out[0].n_rows == 3 and out[0].n_tokens == 3 and out[0].contiguous
    assert out[1].n_rows == 1 and not out[1].contiguous


def test_prefix_cache_report_accounting(spark):
    from akka_stream_contrib_spark.functions.corpus import prefix_cache_report
    rows = [(1, "sys a b c q1 x"), (2, "sys a b c q2 y"), (3, "sys a b c q3"),
            (4, "other prompt here now"), (5, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.prefix_len: r
           for r in df.transform(prefix_cache_report(depths=(2, 4))).collect()}
    # 'tiny' (1 token) is excluded at every depth; docs 1-3 share both
    # depth-2 and depth-4 prefixes
    for k in (2, 4):
        r = out[k]
        assert r.n_prompts == 4 and r.n_shared_prompts == 3
        assert r.n_shared_groups == 1
        assert r.tokens_saved == 2 * k
        assert r.hit_rate == round(2 * k / (4 * k), 6)
    with pytest.raises(ValueError):
        prefix_cache_report(depths=())


def test_fleiss_kappa_known_value(spark):
    from akka_stream_contrib_spark.functions.ml import fleiss_kappa
    rt = [(1, "a"), (1, "a"), (1, "b"),
          (2, "b"), (2, "b"), (2, "b"),
          (3, "a"), (3, "c"), (3, "b"),
          (4, "x")]  # single rating: counted, excluded from agreement
    df = spark.createDataFrame(rt, "item_id long, category string")
    r = fleiss_kappa(df).first()
    assert (r.n_items, r.n_rated_items, r.n_ratings) == (4, 3, 10)
    # hand-computed: P_bar = (1/3 + 1 + 0)/3, P_e = (9+25+1+1)/100
    assert r.p_bar == round((1 / 3 + 1 + 0) / 3, 6)
    assert r.p_e == 0.36
    assert r.kappa == round((r.p_bar - 0.36) / (1 - 0.36), 6)


def test_fleiss_kappa_unanimous_single_category_is_null(spark):
    from akka_stream_contrib_spark.functions.ml import fleiss_kappa
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "a"), (2, "a")],
                               "item_id long, category string")
    r = fleiss_kappa(df).first()
    assert r.p_e == 1.0 and r.kappa is None  # undefined, not perfect


def test_pass_at_k_unbiased_estimator(spark):
    from akka_stream_contrib_spark.functions.ml import pass_at_k
    # task 1: n=4, c=2; task 2: n=4, c=0; task 3: n=2 (excluded at k=4)
    rows = ([(1, i < 2) for i in range(4)] + [(2, False)] * 4
            + [(3, True), (3, False)])
    df = spark.createDataFrame(rows, "task_id long, correct boolean")
    out = {r.k: r for r in pass_at_k(df, ks=(1, 2, 4)).collect()}
    # k=1: (1 - C(2,1)/C(4,1), 0, 1 - C(1,1)/C(2,1)) -> (0.5, 0, 0.5)
    assert out[1].n_tasks == 3 and out[1].mean_pass_at_k == round(1 / 3, 6)
    # k=2: task1 = 1 - C(2,2)/C(4,2) = 5/6; task3: c > n-k -> 1.0
    assert out[2].mean_pass_at_k == round((5 / 6 + 0.0 + 1.0) / 3, 6)
    # k=4: only tasks with n >= 4; task1 c > n-k -> 1.0
    assert out[4].n_tasks == 2 and out[4].mean_pass_at_k == 0.5
    with pytest.raises(ValueError):
        pass_at_k(df, ks=(0,))


def test_lsh_design_report_scurve_math(spark):
    from akka_stream_contrib_spark.functions.dedup import lsh_design_report
    # all mass in one bucket -> closed-form check at the midpoint
    df = spark.createDataFrame([(i, 0.52) for i in range(10)],
                               "pair_id long, sim double")
    out = {(r.bands, r.rows_per_band): r
           for r in df.transform(
               lsh_design_report(configs=((16, 4),), bucket_width=0.05,
                                 target_threshold=0.5)).collect()}
    r = out[(16, 4)]
    s = 0.525  # bucket 10 midpoint
    p = 1 - (1 - s ** 4) ** 16
    assert r.n_pairs == 10
    assert abs(r.expected_candidates - round(10 * p, 6)) < 1e-6
    assert r.false_positive_mass == 0.0  # midpoint >= threshold
    assert abs(r.false_negative_mass - round(10 * (1 - p), 6)) < 1e-6
    assert r.s_star == round((1 / 16) ** 0.25, 6)
    with pytest.raises(ValueError):
        lsh_design_report(configs=())
    with pytest.raises(ValueError):
        lsh_design_report(target_threshold=1.5)
    with pytest.raises(ValueError):
        lsh_design_report(bucket_width=0.0)


def test_epoch_shuffle_grouped_invariants(spark):
    from akka_stream_contrib_spark.functions.corpus import epoch_shuffle
    rows = [(i, i // 3) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, conv_id long")
    out = df.transform(epoch_shuffle(n_shards=4, group_col="conv_id")).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r.conv_id, []).append((r.shard, r.pos))
    # every group lands whole in ONE shard…
    assert all(len({s for s, _ in v}) == 1 for v in by_g.values())
    # …and occupies CONTIGUOUS positions (groups shuffled, rows adjacent)
    for v in by_g.values():
        ps = sorted(p for _, p in v)
        assert ps == list(range(ps[0], ps[0] + len(ps)))
    # still a permutation overall
    assert sorted(r.doc_id for r in out) == list(range(60))


def test_distinct_ngrams_counts(spark):
    from akka_stream_contrib_spark.functions.text import distinct_ngrams
    rows = [(1, "a", "the cat sat"), (2, "a", "the cat sat"), (3, "a", "dog"),
            (4, "b", "x y x y"), (5, "b", None)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {(r.group, r.n): r
           for r in df.transform(distinct_ngrams(ns=(1, 2))).collect()}
    assert out[("a", 1)].n_grams_total == 7
    assert out[("a", 1)].n_grams_distinct == 4
    assert out[("a", 2)].n_grams_total == 4       # "the cat","cat sat" x2
    assert out[("a", 2)].n_grams_distinct == 2
    assert out[("b", 2)].n_grams_total == 3       # xy, yx, xy
    assert out[("b", 2)].n_grams_distinct == 2
    assert out[("b", 2)].distinct_ratio == round(2 / 3, 6)
    # docs shorter than n contribute nothing at that n
    assert ("a", 2) in out and out[("a", 2)].n_grams_total == 4
    with pytest.raises(ValueError):
        distinct_ngrams(ns=())


def test_lsh_design_report_exact_duplicates_clamped(spark):
    from akka_stream_contrib_spark.functions.dedup import lsh_design_report
    # sim = 1.0 floors into bucket 20 whose raw midpoint (1.025) is out of
    # the S-curve's domain; with odd bands that produced p > 1 and
    # NEGATIVE miss mass before the clamp
    df = spark.createDataFrame([(i, 1.0) for i in range(8)],
                               "pair_id long, sim double")
    r = df.transform(lsh_design_report(configs=((3, 2),))).first()
    assert r.false_negative_mass >= 0.0
    assert r.expected_candidates <= r.n_pairs
    # exact duplicates collide with certainty: p(1.0) = 1
    assert r.expected_candidates == 8.0


def test_spearman_corr_ties_and_degenerate_slices(spark):
    from akka_stream_contrib_spark.functions.ml import spearman_corr
    rows = [(1, 1.0, 10.0), (1, 2.0, 20.0), (1, 3.0, 30.0),   # rho = 1
            (2, 1.0, 3.0), (2, 2.0, 2.0), (2, 3.0, 1.0),      # rho = -1
            (3, 1.0, 1.0), (3, 1.0, 2.0), (3, 2.0, 3.0), (3, 3.0, 3.0),
            (4, 5.0, 1.0), (4, 5.0, 2.0),                     # constant x
            (5, 1.0, None), (5, None, 2.0), (5, 3.0, 4.0)]    # NULLs drop
    df = spark.createDataFrame(rows, "g int, x double, y double")
    out = {r.group: r for r in
           df.transform(spearman_corr("x", "y", group_col="g")).collect()}
    assert out[1].rho == 1.0 and out[2].rho == -1.0
    # fractional-rank tie correction, hand-computed
    assert out[3].rho == 0.888889
    # zero rank variance -> undefined, NULL not 0
    assert out[4].rho is None
    # NULL-score rows dropped; a 1-row slice has no correlation
    assert out[5].n == 1 and out[5].rho is None
    with pytest.raises(ValueError):
        spearman_corr("x", "x")


def test_spearman_corr_no_corpus_slice_sort(spark):
    # r11 skew rewrite: the plan must contain NO window over the raw row
    # stream partitioned by the slice key alone (the whole-corpus
    # one-reducer-per-slice sort); ranks ride the distinct-value count
    # tables. The bounded exchange count is pinned in test_plan_budget.
    from akka_stream_contrib_spark.functions.ml import spearman_corr
    from akka_stream_contrib_spark.plans import count_exchanges
    df = spark.createDataFrame([(1, 1.0, 2.0)], "g int, x double, y double")
    out = df.transform(spearman_corr("x", "y", group_col="g"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert count_exchanges(out) <= 9
    # the old form computed rank() windows over the raw row stream; the
    # rewrite derives fractional ranks arithmetically from the count
    # aggregate, so no rank() window function may appear at all
    assert "rank(" not in plan
    # and every Window node's direct child is an Aggregate (the
    # distinct-value count table), never the raw projection
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if ln.lstrip("+- :").startswith("Window"):
            nxt = lines[i + 1].lstrip("+- :")
            assert nxt.startswith("Aggregate"), nxt


def test_position_bias_probe_flags_and_nulls(spark):
    from akka_stream_contrib_spark.functions.ml import position_bias_probe
    rows = ([(i, "j1", i % 10 < 7) for i in range(100)]      # 70% first
            + [(i, "j2", i % 2 == 0) for i in range(100)]    # fair
            + [(0, "j2", None)])                             # abstention
    df = spark.createDataFrame(rows, "cid long, judge string, first_won boolean")
    out = {r.group: r for r in
           df.transform(position_bias_probe(group_col="judge")).collect()}
    assert out["j1"].biased and out["j1"].z == 4.0 \
        and out["j1"].first_win_rate == 0.7
    assert not out["j2"].biased and out["j2"].n == 100  # NULL dropped
    with pytest.raises(ValueError):
        position_bias_probe(z_crit=0)


def test_win_rate_matrix_wilson_and_orientation_fold(spark):
    from akka_stream_contrib_spark.functions.ml import win_rate_matrix
    g = spark.createDataFrame(
        [("A", "B", 9.0, 1.0), ("B", "A", 1.0, 5.0),   # folds to A:14 B:2
         ("A", "C", 0.0, 0.0),                          # zero games: dropped
         ("D", "D", 3.0, 1.0)],                         # self-game: dropped
        "model_a string, model_b string, wins_a double, wins_b double")
    out = {(r.model_lo, r.model_hi): r for r in win_rate_matrix(g).collect()}
    assert set(out) == {("A", "B")}
    r = out[("A", "B")]
    assert r.games == 16.0 and r.wins_lo == 14.0 and r.win_rate_lo == 0.875
    # Wilson lower bound, hand-computed (p=0.875, n=16, z=1.96)
    import math
    p, n, z = 0.875, 16.0, 1.96
    lb = ((p + z * z / (2 * n)
           - z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)))
          / (1 + z * z / n))
    assert abs(r.wilson_lb_lo - round(lb, 6)) < 1e-6


def test_quantile_normalize_range_partitioned_no_key_sort(spark):
    # r11 skew rewrite (with seq): per-key ranks ride a range exchange on
    # (key, value, seq) — each key split across many ranges — plus the
    # local (range, key) window and driver-summary prefixes; a hash
    # exchange on the group key alone (one reducer sorting a key's whole
    # slice) must NOT appear. Without seq the single-window form remains.
    from akka_stream_contrib_spark.functions.corpus import quantile_normalize
    from akka_stream_contrib_spark.plans import count_exchanges
    df = spark.createDataFrame([(1, "a", 2.0)], "event_id long, k string, value double")
    out = df.transform(quantile_normalize("k", "value", seq="event_id"))
    assert count_exchanges(out) <= 2
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" in plan
    assert "hashpartitioning(k#" not in plan


def test_domain_cap_salted_no_whole_domain_sort(spark):
    # r11 skew rewrite: the first (corpus-sized) rank pass partitions on
    # (domain, 32-way salt) — parallel bounded sorts; the only window
    # partitioned by the domain alone rides the <= 32*cap survivors.
    from akka_stream_contrib_spark.functions import domain_cap
    from akka_stream_contrib_spark.plans import count_exchanges
    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    out = df.transform(domain_cap(5, domain_col="source"))
    assert count_exchanges(out) <= 2
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    # the salted partitioning lists (source, pmod(hash(doc_id), 32))
    assert "pmod(hash(doc_id" in plan


def test_autocorrelation_range_partitioned_no_key_sort(spark):
    # r11 skew rewrite: the lag window runs within (range, key), and a
    # row near a range start reads its ghost predecessors through
    # global_order._range_lookup — a hash exchange on the key alone (one
    # reducer sorting a key's whole series) must NOT appear; values are
    # pinned by the test_round6 ACF value checks and the sf0.1 oracle
    # (multi-range).
    from akka_stream_contrib_spark.operators.timeseries import autocorrelation
    from akka_stream_contrib_spark.plans import count_exchanges
    df = spark.createDataFrame([(1, "a", 1.0)],
                               "event_id long, event_type string, value double")
    out = df.transform(autocorrelation(key="event_type", lags=(1, 2)))
    assert count_exchanges(out) <= 4
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" in plan
    # a hash exchange on the BARE key = the hot-key sort shape; the
    # (event_type, lag) moment-agg exchange is the benign map-combined one
    import re
    assert not re.search(r"hashpartitioning\(event_type#\d+, \d+\)", plan)
