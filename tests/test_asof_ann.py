"""As-of join edge semantics + LSH ANN recall sanity."""

from __future__ import annotations

from pyspark.sql import functions as F

from akka_stream_contrib_spark.functions.similarity import ann_lsh_topk
from akka_stream_contrib_spark.operators import as_of_join


def test_as_of_join_matches_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, 1, "2024-01-01 00:10:00"), (2, 1, "2024-01-01 00:30:00"),
         (3, 2, "2024-01-01 00:05:00")],
        "event_id int, user_id int, ts string").withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00", 100.0),   # exact tie → matched (>= rule)
         (1, "2024-01-01 00:20:00", 200.0),
         (2, "2024-01-01 00:06:00", 999.0)],  # after left row → no match
        "user_id int, ts string, value double").withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.event_id: r.value_asof
           for r in as_of_join(left, right, on=["user_id"], ts="ts",
                               right_cols=["value"]).collect()}
    assert out == {1: 100.0, 2: 200.0, 3: None}


def test_ann_lsh_neighbors_are_real_neighbors(spark):
    import numpy as np
    rng = np.random.RandomState(5)
    # planted clusters: pairs (2i, 2i+1) are tiny perturbations of each other
    rows = []
    for i in range(30):
        v = rng.uniform(-1, 1, 64)
        rows.append((2 * i, v.astype("float32").tolist()))
        rows.append((2 * i + 1, (v + rng.uniform(-0.01, 0.01, 64)).astype("float32").tolist()))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = ann_lsh_topk(df, k=1)
    top1 = {r.vec_id: r.neighbor_id for r in got.collect()}
    # near-identical twins hash to the same bucket and rank first
    hits = sum(1 for a, b in top1.items() if b == (a ^ 1))
    assert hits >= 50  # ≥ ~83% of the 60 vectors find their twin


def test_ivf_topk_high_recall_vs_bruteforce(spark):
    import numpy as np
    from akka_stream_contrib_spark.functions.similarity import cosine_topk, ivf_topk
    rng = np.random.RandomState(11)
    rows = [(i, rng.uniform(-1, 1, 32).astype("float32").tolist()) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = rows[0][1]
    corpus = df.filter(F.col("vec_id") != 0)
    exact = {r.vec_id for r in cosine_topk(corpus, q, k=10).collect()}
    approx = {r.vec_id for r in ivf_topk(corpus, q, k=10, nlist=8, nprobe=4).collect()}
    # probing half the cells on uniform vectors: most exact neighbors found
    assert len(exact & approx) >= 6
    # determinism: same call, same result set
    again = {r.vec_id for r in ivf_topk(corpus, q, k=10, nlist=8, nprobe=4).collect()}
    assert approx == again


def test_ngram_jaccard_planted_duplicates(spark):
    from akka_stream_contrib_spark.functions.dedup import ngram_jaccard_dedup
    base = "the quick brown fox jumps over the lazy dog near the riverbank today"
    rows = [
        (1, base),
        (2, base + " extra"),            # near-dup of 1
        (3, "completely different words entirely unrelated content zone"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in ngram_jaccard_dedup(df, n=4, threshold=0.2,
                                          max_doc_freq=10).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.8
    assert all(3 not in p for p in pairs)


def test_ann_topk_all_ivf_matches_kernel_on_planted_twins(spark):
    import numpy as np
    rng = np.random.RandomState(7)
    rows = []
    for i in range(40):
        v = rng.uniform(-1, 1, 32)
        rows.append((2 * i, v.astype("float32").tolist()))
        rows.append((2 * i + 1, (v + rng.uniform(-0.01, 0.01, 32)).astype("float32").tolist()))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    from akka_stream_contrib_spark.functions.similarity import ann_topk_all_ivf
    got = ann_topk_all_ivf(df, k=1, nlist=8, nprobe=3)
    top1 = {r.vec_id: r.neighbor_id for r in got.collect()}
    # a vector and its twin land in the same cell (they are ~identical),
    # so the cell-join always offers the twin as a candidate
    hits = sum(1 for a, b in top1.items() if b == (a ^ 1))
    assert hits >= 70  # >= ~87% of 80 vectors
    # determinism: fixed sample/init/iters → identical rerun
    again = {r.vec_id: r.neighbor_id for r in got.collect()}
    assert top1 == again


def test_broadcast_budget_raises_instead_of_collecting(spark):
    import pytest
    from akka_stream_contrib_spark.functions.similarity import knn_join
    rows = [(i, [float(i), 1.0]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    with pytest.raises(ValueError, match="broadcast_budget_rows"):
        knn_join(df, df, k=2, broadcast_budget_rows=10).collect()
    # within budget: works unchanged
    out = knn_join(df, df, k=2, broadcast_budget_rows=1000)
    assert out.count() == 100


def test_ivf_index_persist_query_prunes_partitions(spark, tmp_path):
    import numpy as np
    from akka_stream_contrib_spark.functions.similarity import (
        ivf_query_index, ivf_topk, ivf_write_index)
    from akka_stream_contrib_spark.plans.explain import assert_partition_pruned

    rng = np.random.RandomState(3)
    rows = [(i, rng.uniform(-1, 1, 32).astype("float32").tolist())
            for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "ivf")
    ivf_write_index(df, path, nlist=8)
    q = rows[7][1]

    hits = ivf_query_index(spark, path, q, k=10, nprobe=4)
    # the probed-cell filter must prune at the STORAGE level
    assert_partition_pruned(hits, "cell")
    got = [(r.vec_id, r.cos_sim) for r in hits.collect()]
    # same training determinism -> same results as the in-memory IVF scan
    live = [(r.vec_id, round(r.cos_sim, 6)) for r in
            ivf_topk(df, q, k=10, nlist=8, nprobe=4).collect()]
    assert got == live
    # rerun of the persisted query is identical
    assert got == [(r.vec_id, r.cos_sim) for r in
                   ivf_query_index(spark, path, q, k=10, nprobe=4).collect()]


def test_as_of_join_forward_and_tolerance(spark):
    left = spark.createDataFrame(
        [(1, 1, "2024-01-01 00:10:00"), (2, 1, "2024-01-01 03:00:00")],
        "event_id int, user_id int, ts string").withColumn(
            "ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:05:00", 50.0),   # 5 min before row 1
         (1, "2024-01-01 00:30:00", 75.0)],  # 20 min after row 1
        "user_id int, ts string, value double").withColumn(
            "ts", F.col("ts").cast("timestamp"))
    fwd = {r.event_id: r.value_asof
           for r in as_of_join(left, right, on=["user_id"], ts="ts",
                               right_cols=["value"],
                               direction="forward").collect()}
    assert fwd == {1: 75.0, 2: None}   # next-at-or-after; none after 03:00
    tol = {r.event_id: r.value_asof
           for r in as_of_join(left, right, on=["user_id"], ts="ts",
                               right_cols=["value"],
                               tolerance_s=600).collect()}
    # row 1: latest-before is 5 min old (within 600 s); row 2: latest-before
    # is 2.5 h old -> nulled by tolerance
    assert tol == {1: 50.0, 2: None}


def test_near_dup_blocked_equals_quadratic_kernel(spark):
    # fixture slice with zero threshold margin — the case that rules out
    # probabilistic prefilters; the blocked plan must be EXACTLY equal
    from akka_stream_contrib_spark.functions import (near_dup_pairs,
                                                     near_dup_pairs_blocked)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = sorted(map(tuple, near_dup_pairs_blocked(emb, 0.4).collect()))
    want = sorted(map(tuple, near_dup_pairs(emb, 0.4).collect()))
    assert got == want and len(got) > 0


def test_near_dup_blocked_prunes_separated_clusters(spark):
    # two tight antipodal clusters: the cell-pair angular bound must prove
    # no cross-cluster pair can reach the threshold, so every qualifying
    # pair is within-cluster — and the output equals brute force
    import numpy as np
    from akka_stream_contrib_spark.functions import (near_dup_pairs,
                                                     near_dup_pairs_blocked)
    rows = []
    for i in range(40):
        base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [-1.0, 0.0, 0.0, 0.0]
        jit = [((i * 37 + d) % 7 - 3) / 100.0 for d in range(4)]
        rows.append((i, [float(b + j) for b, j in zip(base, jit)]))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    got = sorted(map(tuple, near_dup_pairs_blocked(
        df, 0.9, nlist=4).collect()))
    want = sorted(map(tuple, near_dup_pairs(df, 0.9).collect()))
    assert got == want and len(got) > 0
    # no qualifying pair crosses the cluster parity boundary
    assert all(a % 2 == b % 2 for a, b, _ in got)


def test_near_dup_blocked_empty_input(spark):
    from akka_stream_contrib_spark.functions import near_dup_pairs_blocked
    df = spark.createDataFrame([], "vec_id int, embedding array<float>")
    assert near_dup_pairs_blocked(df, 0.4).count() == 0


def test_ngram_containment_detects_embedded_doc(spark):
    # doc 2 is a verbatim substring of doc 1: containment(2 in 1) = 1.0
    # while Jaccard is small — the asymmetric detector's reason to exist
    from akka_stream_contrib_spark.functions import (ngram_containment,
                                                     ngram_jaccard_dedup)
    big = "the quick brown fox jumps over the lazy dog " * 8
    small = "quick brown fox jumps"
    other = "completely unrelated text about spark plans and shuffles"
    df = spark.createDataFrame(
        [(1, big), (2, small), (3, other)], "doc_id int, text string")
    rows = ngram_containment(df, n=4, threshold=0.9,
                             max_doc_freq=100).collect()
    assert [(r.doc_a, r.doc_b, r.direction) for r in rows] == [(1, 2, "b_in_a")]
    assert rows[0].cont_b_in_a == 1.0 and rows[0].cont_a_in_b < 0.5
    # the symmetric detector misses it at the same bar
    jac = ngram_jaccard_dedup(df, n=4, threshold=0.9, max_doc_freq=100)
    assert jac.count() == 0


def test_near_dup_blocked_keeps_rounding_boundary_pairs(spark):
    # ADVICE r8: the naive contract round(cos, 6) >= thr admits raw cosines
    # down to thr - 5e-7; a pair planted at raw cos ≈ thr - 2.5e-7 (rounds
    # up to exactly thr) must survive the blocked kernel's prunes too
    import math
    import numpy as np
    from akka_stream_contrib_spark.functions import (near_dup_pairs,
                                                     near_dup_pairs_blocked)
    thr = 0.4
    theta = math.acos(thr - 2.5e-7)
    rows = [(1, [1.0, 0.0, 0.0, 0.0]),
            (2, [float(math.cos(theta)), float(math.sin(theta)), 0.0, 0.0]),
            # filler so k-means has something to chew on
            *[(10 + i, [((i * 31 + d) % 11 - 5) / 5.0 for d in range(4)])
              for i in range(20)]]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    # float32 storage perturbs the cosine; assert against the naive kernel,
    # and independently that the planted pair is in BOTH outputs
    want = sorted(map(tuple, near_dup_pairs(df, thr).collect()))
    got = sorted(map(tuple, near_dup_pairs_blocked(df, thr, nlist=4).collect()))
    assert got == want
    planted = [(a, b) for a, b, _ in want if (a, b) == (1, 2)]
    assert planted == [(1, 2)]


def test_near_dup_zero_norm_dropped_by_both_kernels(spark):
    # ADVICE r8: zero-norm vectors previously diverged (NaN >= thr is TRUE
    # JVM-side, False in numpy). Both kernels now drop them.
    from akka_stream_contrib_spark.functions import (near_dup_pairs,
                                                     near_dup_pairs_blocked)
    rows = [(1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0, 0.0]),
            (3, [0.0, 0.0, 0.0, 0.0]),   # zero-norm: must pair with nothing
            *[(10 + i, [((i * 17 + d) % 9 - 4) / 4.0 for d in range(4)])
              for i in range(12)]]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    want = sorted(map(tuple, near_dup_pairs(df, 0.9).collect()))
    got = sorted(map(tuple, near_dup_pairs_blocked(df, 0.9, nlist=2).collect()))
    assert got == want
    assert all(3 not in (a, b) for a, b, _ in want)
    assert (1, 2) in [(a, b) for a, b, _ in want]


def test_margin_mine_prefers_local_density_normalization(spark):
    # x0 sits in a DENSE src hub whose absolute cosines to tgt are all
    # high; x1 is isolated with one genuinely aligned tgt partner. Raw
    # cosine ranks the hub pair higher; the margin criterion must surface
    # the isolated aligned pair with the LARGER margin.
    import math
    from akka_stream_contrib_spark.functions.similarity import margin_mine

    def unit(theta, phi=0.0):
        return [math.cos(theta), math.sin(theta) * math.cos(phi),
                math.sin(theta) * math.sin(phi), 0.0]

    # src: x1 isolated near angle 1.2; a hub of sources near angle 0
    src = [(1, unit(1.2))] + [(10 + i, unit(0.02 * i)) for i in range(6)]
    # tgt: y1 aligned with x1; a spread of hub-adjacent targets near 0
    tgt = [(101, unit(1.21))] + [(110 + i, unit(0.03 + 0.05 * i))
                                 for i in range(6)]
    sdf = spark.createDataFrame(src, "vec_id int, embedding array<float>")
    tdf = spark.createDataFrame(tgt, "vec_id int, embedding array<float>")
    got = {r.src_id: r for r in
           margin_mine(sdf, tdf, k=3, threshold=0.0).collect()}
    # the isolated pair is mined and its margin beats every hub source's
    assert got[1].tgt_id == 101 and got[1].cos_sim > 0.99
    assert all(got[1].margin > got[s].margin for s in got if s != 1)
    # every mined pair is that source's margin-argmax: one row per src
    assert len(got) == len(src)


def test_margin_mine_threshold_and_empty_sides(spark):
    from akka_stream_contrib_spark.functions.similarity import margin_mine
    sdf = spark.createDataFrame([(1, [1.0, 0.0])],
                                "vec_id int, embedding array<float>")
    tdf = spark.createDataFrame([(2, [0.0, 1.0])],
                                "vec_id int, embedding array<float>")
    # orthogonal pair: cos 0, denominator 0 -> dropped, nothing mined
    assert margin_mine(sdf, tdf, k=1, threshold=0.0).count() == 0


def test_margin_mine_small_slice_uses_actual_neighbor_counts(spark):
    # r9 ADVICE: knn_join clips to min(k, |corpus|); with k=4 over a
    # 2-vector tgt and 1-vector src the means must divide by the ACTUAL
    # counts (2 and 1), not k — a constant 2k would inflate the margin.
    import math
    from akka_stream_contrib_spark.functions.similarity import margin_mine
    sdf = spark.createDataFrame([(1, [1.0, 0.0])],
                                "vec_id int, embedding array<float>")
    r = math.sqrt(0.5)
    tdf = spark.createDataFrame([(101, [1.0, 0.0]), (102, [r, r])],
                                "vec_id int, embedding array<float>")
    got = {r_.src_id: r_ for r_ in
           margin_mine(sdf, tdf, k=4, threshold=0.0).collect()}
    # fwd: cos {1.0, 0.707107}, nx=2; bwd for tgt 101: cos {1.0}, ny=1
    # margin = cos * 2*nx*ny / (dxs*ny + dys*nx) = 1.0 * 4 / (1.707107 + 2.0)
    assert got[1].tgt_id == 101
    assert abs(got[1].margin - round(4 / 3.707107, 6)) < 1e-9


def test_topk_idx_rounded_equals_stable_argsort():
    # r10 opt: the packed-key argpartition selection must be output-
    # identical to the stable argsort it replaced, including exact-tie
    # runs straddling the k boundary (few distinct rounded values).
    import numpy as np
    from akka_stream_contrib_spark.functions.similarity import (
        _topk_idx_rounded)
    rng = np.random.default_rng(7)
    for _ in range(3):
        sims = (rng.integers(-4, 5, size=(60, 237)) / 4.0).round(6)
        for kk in (1, 2, 5, 236, 237):
            ref = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
            assert np.array_equal(_topk_idx_rounded(sims, kk), ref)
    # negative / extreme rounded sims (cos in [-1, 1]) pack correctly
    sims = np.array([[-1.0, 1.0, 0.0, 1.0, -1.0]]).round(6)
    ref = np.argsort(-sims, axis=1, kind="stable")
    assert np.array_equal(_topk_idx_rounded(sims, 5), ref)
    assert np.array_equal(_topk_idx_rounded(sims, 2), ref[:, :2])
