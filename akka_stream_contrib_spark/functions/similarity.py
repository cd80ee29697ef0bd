"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force top-k against one query vector — a single
  map-side zip_with/aggregate expression + TakeOrderedAndProject. O(N·d),
  no shuffle of the vectors, the right baseline at any scale.
- ``near_dup_pairs``: exact all-pairs cosine above a threshold (verification
  tool; quadratic — use on candidate sets, not raw corpora).
- ``knn_join`` / ``hard_negatives``: the scale path — blocked numpy matmul
  inside mapInPandas against a broadcast corpus matrix: top-k neighbors for
  *every* query vector without a quadratic shuffle. Arrow-batched,
  vectorized, embarrassingly parallel over partitions.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def as_double(col: str = "embedding") -> Column:
    return F.col(col).cast("array<double>")


def cosine_topk(df: DataFrame, query_vec: Sequence[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Top-k rows by cosine similarity to ``query_vec``; deterministic
    tie-break on id. Emits (id, cos round 6)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    qn = float(np.sqrt(np.dot(np.asarray(query_vec, dtype=np.float64),
                              np.asarray(query_vec, dtype=np.float64))))
    e = as_double(vec_col)
    cos = _dot(e, q) / (_norm(e) * F.lit(qn))
    return (
        df.select(F.col(id_col), cos.alias("_cos"))
        .orderBy(F.desc("_cos"), id_col)
        .limit(k)
        .select(id_col, F.round("_cos", 6).alias("cos_sim"))
    )


def near_dup_pairs(df: DataFrame, threshold: float,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact pairs with cosine ≥ threshold via normalized self-join.
    Quadratic — intended for candidate verification / small-N; the scale path
    is ``near_dup_pairs_blocked`` or LSH bucketing first.

    Zero-norm vectors are DROPPED (cosine is undefined for them); without the
    filter Spark's NaN ordering (NaN > any double) would silently emit every
    pair touching a zero vector while the blocked kernel dropped them —
    the explicit filter makes both kernels agree on degenerate inputs."""
    normed = (
        df.select(F.col(id_col), as_double(vec_col).alias("_e"))
        .withColumn("_nrm", _norm(F.col("_e")))
        .filter(F.col("_nrm") > 0)
        .select(id_col, F.transform("_e", lambda x: x / F.col("_nrm")).alias("_nv"))
    )
    a, b = normed.alias("a"), normed.alias("b")
    cos = _dot(F.col("a._nv"), F.col("b._nv"))
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def near_dup_pairs_blocked(df: DataFrame, threshold: float, nlist: int = 16,
                           iters: int = 5, id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """EXACT cosine-threshold pair join (same output as
    :func:`near_dup_pairs`) with a sound cell-level prune and blocked-GEMM
    verification — the scale-shaped default for the near-dup family.

    Why not LSH here: a probabilistic prefilter is only exact when the data
    has a margin around the threshold, and the fixtures deliberately have
    NONE (pairs at cos 0.40001 vs rejects at 0.39989, measured round 8) —
    any banding scheme either misses qualifying pairs or degenerates to
    all-pairs. This plan keeps exactness unconditionally and prunes with a
    bound that is sound by the spherical triangle inequality:

    1. deterministic IVF cell assignment (``_train_centroids`` sample
       k-means, one Arrow map pass — no shuffle);
    2. per-cell angular radius ``r_c = max angle(v, centroid_c)`` (one tiny
       nlist-row aggregation);
    3. a cell-pair (i, j) can contain a qualifying pair only if
       ``angle(c_i, c_j) − r_i − r_j ≤ arccos(threshold)`` — every other
       cell pair is skipped without touching its vectors. Clustered
       corpora (the 100 TB case) prune most of the nlist² grid; on
       uniform noise nothing prunes and the plan honestly degrades to
       a BLOCKED exact join;
    4. surviving cell pairs verify with one float64 GEMM per pair
       (cogrouped ``applyInPandas``) — vectorized Arrow batches instead of
       the interpreted per-pair HOF dot of the naive theta-join, and
       embarrassingly parallel over the (c_a, c_b) key.

    The O(N²/nlist²)-per-block worst case is inherent to EXACT zero-margin
    threshold joins, not to this plan; with cluster structure the bound
    turns it into O(sum of surviving block products).

    Boundary exactness: the naive kernel's contract is ``round(cos, 6) >=
    threshold``, which admits raw cosines down to ``threshold - 5e-7``
    (they round UP to the threshold). Both prunes here therefore cut at
    ``thr_eff = threshold - 5.1e-7`` — strictly wider than the 6-dp
    rounding granularity — and the final JVM-side ``round(cos, 6) >=
    threshold`` filter restores the exact contract. Zero-norm vectors are
    dropped (matching :func:`near_dup_pairs`).
    """
    spark = df.sparkSession
    cents = _train_centroids(df, nlist, iters, id_col, vec_col)
    if cents is None:  # empty corpus: empty result in the output schema
        return (df.select(F.col(id_col).alias("id_a"),
                          F.col(id_col).alias("id_b"))
                .withColumn("cos_sim", F.lit(0.0)).limit(0))
    b_cents = spark.sparkContext.broadcast(cents)

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cs = b_cents.value
        for pdfb in batches:
            if len(pdfb) == 0:
                continue
            v = np.stack(pdfb[vec_col].to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(v, axis=1, keepdims=True)
            ok = nrm[:, 0] > 0.0
            if not ok.all():  # drop zero-norm rows — cosine is undefined;
                v, nrm = v[ok], nrm[ok]  # parity with near_dup_pairs' filter
                pdfb = pdfb.loc[ok]
                if len(pdfb) == 0:
                    continue
            v /= nrm
            d2 = _sq_dists(v, cs)
            cell = np.argmin(d2, axis=1)
            # both sides unit-norm, so cos(v, home) = 1 - d²/2
            ccos = 1.0 - d2[np.arange(len(v)), cell] / 2.0
            yield pd.DataFrame({id_col: pdfb[id_col], "nvec": list(v),
                                "cell": cell.astype("int32"),
                                "_ccos": ccos})

    id_type = df.schema[id_col].dataType.simpleString()
    from akka_stream_contrib_spark.util import (drop_stale_caches,
                                                pipeline_cache)
    drop_stale_caches()
    assigned = pipeline_cache(df.select(id_col, vec_col).mapInPandas(
        _assign,
        schema=f"{id_col} {id_type}, nvec array<double>, cell int, "
               "_ccos double"))

    # nlist-row driver summary: per-cell worst-case angular radius
    import math
    rad_rows = (assigned.groupBy("cell")
                .agg(F.min("_ccos").alias("_mc")).collect())
    radius = {int(r["cell"]): math.acos(max(-1.0, min(1.0, float(r["_mc"]))))
              for r in rad_rows}
    # effective raw threshold: the contract is round(cos, 6) >= threshold,
    # which keeps raw cosines as low as threshold - 5e-7 (they round up) —
    # so every prune below must cut at thr_eff, not threshold
    thr_eff = float(threshold) - 5.1e-7
    theta_t = math.acos(max(-1.0, min(1.0, thr_eff)))
    cand = []
    cells = sorted(radius)
    for pos, ci in enumerate(cells):
        for cj in cells[pos:]:
            th = math.acos(max(-1.0, min(
                1.0, float(np.dot(cents[ci], cents[cj])))))
            if th - radius[ci] - radius[cj] <= theta_t:
                cand.append((ci, cj))
    cand_df = spark.createDataFrame(cand, "c_a int, c_b int")
    # the right side gets renamed key columns: reusing cand_df verbatim on
    # both cogroup sides trips Spark's ambiguous-self-join analyzer check
    cand_r = cand_df.select(F.col("c_a").alias("_ca"),
                            F.col("c_b").alias("_cb"))
    left = (assigned.join(F.broadcast(cand_df),
                          F.col("cell") == F.col("c_a"))
            .select("c_a", "c_b", id_col, "nvec"))
    right = (assigned.join(F.broadcast(cand_r),
                           F.col("cell") == F.col("_cb"))
             .select("_ca", "_cb", F.col(id_col).alias("_idb"),
                     F.col("nvec").alias("_nvb")))

    def _pairs(key, apdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
        if len(apdf) == 0 or len(bpdf) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "_cos": []})
        va = np.stack(apdf["nvec"].to_numpy())
        vb = np.stack(bpdf["_nvb"].to_numpy())
        ia = apdf[id_col].to_numpy()
        ib = bpdf["_idb"].to_numpy()
        sims = va @ vb.T
        # prefilter at thr_eff (wider than the 6-dp rounding granularity);
        # the exact >= on the ROUNDED value happens JVM-side below
        ii, jj = np.nonzero(sims >= thr_eff)
        id1, id2, s = ia[ii], ib[jj], sims[ii, jj]
        if key[0] == key[1]:  # same cell: strict upper triangle
            keep = id1 < id2
            id1, id2, s = id1[keep], id2[keep], s[keep]
        else:  # disjoint cells: every pair once, canonical id order
            id1, id2 = np.minimum(id1, id2), np.maximum(id1, id2)
        return pd.DataFrame({"id_a": id1, "id_b": id2, "_cos": s})

    verified = (left.groupBy("c_a", "c_b")
                .cogroup(right.groupBy("_ca", "_cb"))
                .applyInPandas(_pairs,
                               schema=f"id_a {id_type}, id_b {id_type}, "
                                      "_cos double"))
    return (verified
            .select("id_a", "id_b", F.round("_cos", 6).alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold))


def _sq_dists(v: np.ndarray, cs: np.ndarray) -> np.ndarray:
    """(n, d) × (m, d) → (n, m) squared Euclidean distances via the GEMM
    identity |x|² − 2x·c + |c|² — no (n, m, d) broadcast temporary and ~4×
    fewer FLOPs than the subtract-square-sum form (measured in pq_train);
    shared by every IVF cell-assignment site."""
    return ((v * v).sum(axis=1, keepdims=True)
            - 2.0 * (v @ cs.T)
            + (cs * cs).sum(axis=1))


def _unit_rows(vecs) -> np.ndarray:
    """A column of equal-length vectors as an L2-row-normalized float64
    (n, d) matrix."""
    m = np.stack(vecs).astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return m


def _lloyd_sums(X: np.ndarray, cents: np.ndarray):
    """The assignment half of one Lloyd round: each row of ``X`` joins its
    nearest centroid (ties → the lowest index, argmin's first minimum).
    Returns per-centroid member counts ``n`` and member vector sums
    ``sums``; rows are added in row order, so the sum bits equal a
    per-centroid ``members.sum(axis=0)``. Partial results over row blocks
    add up to the whole-``X`` result."""
    a = np.argmin(_sq_dists(X, cents), axis=1)
    n = np.bincount(a, minlength=len(cents))
    sums = np.zeros_like(cents)
    np.add.at(sums, a, X)
    return n, sums


def _recenter(cents: np.ndarray, n: np.ndarray, sums: np.ndarray) -> None:
    """The update half of one Lloyd round, in place: every centroid with
    members moves to their mean; a centroid that lost all its members keeps
    its position."""
    nz = n > 0
    cents[nz] = sums[nz] / n[nz, None]


def _plane(p: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane p: exact integer formula then
    one double division — reproducible in any engine (no RNG)."""
    return [((p * dim + d) * 2654435761 % 1000) / 1000.0 - 0.5
            for d in range(dim)]


def ann_lsh_topk(df: DataFrame, k: int = 3, n_planes: int = 8, dim: int = 64,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """LSH-bucketed ANN: random-hyperplane sign bucketing, then exact cosine
    top-k *within* each bucket.

    The scale path for all-pairs similarity: bucketing is a map-side
    expression (n_planes dot products per vector); the candidate join is an
    equi-join on the bucket id — expected bucket size N/2^n_planes, so the
    quadratic blow-up of a full self-join never happens. Recall is traded via
    n_planes (fewer planes = bigger buckets = higher recall, more compute).

    Output: (id, neighbor_id, cos_sim) — up to k bucket-mates per vector,
    deterministic tie-break on neighbor id.
    """
    e = as_double(vec_col)
    bucket = sum(
        F.when(
            _dot(e, F.array(*[F.lit(x) for x in _plane(p, dim)])) >= 0,
            F.lit(1 << p),
        ).otherwise(F.lit(0))
        for p in range(n_planes)
    )
    base = df.select(
        F.col(id_col), e.alias("_e"), _norm(e).alias("_nrm"),
        bucket.cast("int").alias("_bucket"),
    )
    a, b = base.alias("a"), base.alias("b")
    cos = _dot(F.col("a._e"), F.col("b._e")) / (F.col("a._nrm") * F.col("b._nrm"))
    pairs = (
        a.join(b, (F.col("a._bucket") == F.col("b._bucket"))
               & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias(id_col),
                F.col(f"b.{id_col}").alias("neighbor_id"),
                cos.alias("_cos"))
    )
    from pyspark.sql import Window
    w = Window.partitionBy(id_col).orderBy(F.desc("_cos"), "neighbor_id")
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(id_col, "neighbor_id", F.round("_cos", 6).alias("cos_sim"))
    )


def ivf_topk(df: DataFrame, query_vec: Sequence[float], k: int = 10,
             nlist: int = 16, nprobe: int = 4, iters: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             portable_round: int | None = None) -> DataFrame:
    """IVF (inverted-file) ANN: partition the corpus into ``nlist`` k-means
    cells, search only the ``nprobe`` cells whose centroids are nearest the
    query. The 100 TB shape: centroids train on a driver-side sample (tiny),
    cell assignment is one broadcast-centroid pass over the corpus
    (mapInPandas, no shuffle), and the probed filter prunes (nlist-nprobe)/
    nlist of the data before the exact-distance scan.

    Deterministic: centroid init = the ``nlist`` vectors with smallest ids,
    fixed ``iters`` Lloyd rounds, ties in assignment and probe selection
    broken by lowest cell index (stable argsort/argmin). With
    ``portable_round`` set (the gate query passes 6) the centroids are
    engine-identical each round and the WHOLE pipeline is value-checked by
    a DuckDB oracle (``_ivf_topk_oracle``); the exact-recall twin is
    ``cosine_topk``.
    """
    spark = df.sparkSession
    # np.array (not asarray): asarray returns the caller's own ndarray for a
    # float64 input and the in-place normalize below would mutate it
    q = np.array(query_vec, dtype=np.float64)
    q /= np.linalg.norm(q)

    cents = _train_centroids(df, nlist, iters, id_col, vec_col,
                             portable_round=portable_round)
    if cents is None:  # empty corpus: no cells, no hits
        return (df.select(F.col(id_col))
                .withColumn("cos_sim", F.lit(0.0)).limit(0))
    # stable sort: exact dot ties (realistic once portable_round quantizes
    # two converged centroids identically) must pick the LOWER cell ids,
    # matching the oracle's ORDER BY dot DESC, cid
    probed = set(np.argsort(-(cents @ q), kind="stable")[:nprobe].tolist())
    b_cents = spark.sparkContext.broadcast(cents)
    b_q = spark.sparkContext.broadcast(q)

    def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cs = b_cents.value
        qv = b_q.value
        for pdfb in batches:
            if len(pdfb) == 0:
                continue
            v = _unit_rows(pdfb[vec_col].to_numpy())
            cell = np.argmin(_sq_dists(v, cs), axis=1)
            mask = np.isin(cell, list(probed))
            if not mask.any():
                continue
            yield pd.DataFrame({
                id_col: pdfb[id_col].to_numpy()[mask],
                # +0.0 normalizes np.round's -0.0 (repo float convention;
                # the oracle emits round(...)+0.0)
                "cos_sim": (v[mask] @ qv).round(6) + 0.0,
            })

    id_type = df.schema[id_col].dataType.simpleString()
    hits = df.select(id_col, vec_col).mapInPandas(
        _scan, schema=f"{id_col} {id_type}, cos_sim double")
    return hits.orderBy(F.desc("cos_sim"), id_col).limit(k)


#: default cap on rows collected to the driver for a broadcast index side.
#: 1M × (64 dims × 8 bytes + id) ≈ 600 MB — comfortably inside a standard
#: driver/executor heap; beyond it the caller must go through the IVF/LSH
#: compositions, which never materialize the corpus in one place.
BROADCAST_BUDGET_ROWS = 1_000_000


def _topk_idx_rounded(sims: np.ndarray, kk: int) -> np.ndarray:
    """Per-row top-``kk`` column indices of ``sims`` ordered by
    (sim DESC, column ASC), for sims ALREADY ROUNDED to 6 dp.

    Output-identical to ``np.argsort(-sims, axis=1, kind="stable")[:, :kk]``
    but O(C) per row instead of O(C log C): the 1e6-scaled sim and the
    column index pack into ONE int64 key (higher sim → smaller key, ties →
    smaller column first — keys are unique per row, so even plain
    argpartition is deterministic), the kk smallest keys come from
    ``argpartition``, and only those kk are fully sorted. The plain
    argpartition-on-floats shortcut is NOT equivalent (an exact tie
    straddling the boundary drops an arbitrary member); the packed key is
    what makes the selection total-order-exact.
    """
    n_cols = sims.shape[1]
    # scaled sim |s|<=~1e6 fits 21 bits; column index fits 32. Shift/or
    # operands are plain ints (a 0-d np scalar operand hits a ~300x slower
    # ufunc dispatch path on this numpy build — see multimodal.py).
    keys = ((1_000_000 - np.rint(sims * 1e6).astype(np.int64)) << 32) \
        | np.arange(n_cols, dtype=np.int64)
    if kk >= n_cols:
        return np.argsort(keys, axis=1)
    part = np.argpartition(keys, kk - 1, axis=1)[:, :kk]
    order = np.argsort(np.take_along_axis(keys, part, axis=1), axis=1)
    return np.take_along_axis(part, order, axis=1)


def _unit_corpus(pdf: pd.DataFrame, id_col: str, vec_col: str, *extra):
    """A collected broadcast corpus as arrays sorted by id ONCE: the ids,
    each ``extra`` column, then the L2-normalized float64 vector matrix,
    all in that order. Id order is what makes ``_gemm_topk``'s selection
    the (sim DESC, id ASC) total order. An empty corpus gives empty arrays
    (and a (0, 1) matrix) instead of raising in ``np.stack``, so
    compositions (margin_mine) run over empty slices."""
    order = np.argsort(pdf[id_col].to_numpy())
    cols = [pdf[c].to_numpy()[order] for c in (id_col, *extra)]
    mat = (_unit_rows(pdf[vec_col].to_numpy()[order]) if len(pdf)
           else np.empty((0, 1)))
    return (*cols, mat)


def _gemm_topk(q: np.ndarray, qids: np.ndarray, corpus_m: np.ndarray,
               corpus_ids: np.ndarray, kk: int) -> pd.DataFrame:
    """Top-``kk`` corpus rows per unit query row, ranked by the 6-dp
    rounded cosine with corpus-position (= id, see ``_unit_corpus``)
    tie-break: one ``(query_id, neighbor_id, rank, cos_sim)`` frame.

    Query rows stream through the GEMM in ~2 MB sims chunks: a whole-batch
    (rows × corpus) sims matrix is a fresh hundreds-of-MB allocation whose
    first-touch page faults dominate the arithmetic (the multimodal.py
    finding); small chunks keep every temporary on reused heap pages.
    Chunking the M dimension never changes an output element — each
    cos_sim is the same k-length dot product either way."""
    chunk = max(1, (2 << 20) // (8 * len(corpus_ids)))
    outs = []
    for s in range(0, len(q), chunk):
        sims = (q[s:s + chunk] @ corpus_m.T).round(6)
        idx = _topk_idx_rounded(sims, kk)
        outs.append(pd.DataFrame({
            "query_id": np.repeat(qids[s:s + chunk], kk),
            "neighbor_id": corpus_ids[idx].ravel(),
            "rank": np.tile(np.arange(1, kk + 1), sims.shape[0]),
            "cos_sim": np.take_along_axis(sims, idx, axis=1).ravel(),
        }))
    return pd.concat(outs, ignore_index=True)


def _bounded_index_pdf(df: DataFrame, cols: list, budget_rows: int,
                       what: str) -> pd.DataFrame:
    """Collect an index side to the driver ONLY if it fits the budget.

    ``limit(budget+1)`` bounds the transferred data even when the check fails
    (no full-corpus collect ever happens); seeing budget+1 rows proves the
    corpus is over budget and raises with the scale-path pointer instead of
    silently OOMing the driver at 100 TB.
    """
    pdf = df.select(*cols).limit(budget_rows + 1).toPandas()
    if len(pdf) > budget_rows:
        raise ValueError(
            f"{what}: corpus exceeds broadcast_budget_rows={budget_rows}; "
            "use the IVF composition (ann_topk_all_ivf / ivf_topk) or LSH "
            "bucketing (ann_lsh_topk) — the corpus must not be collected "
            "to the driver at this size")
    return pdf


def _train_centroids(df: DataFrame, nlist: int, iters: int,
                     id_col: str, vec_col: str,
                     portable_round: int | None = None) -> np.ndarray:
    """Deterministic driver-side k-means on a bounded sample (lowest ids
    first, fixed Lloyd rounds, argmin tie-break) — the only driver-side step
    in the IVF family, and its size is capped independent of corpus size.

    ``portable_round`` rounds the (re-normalized) centroids to that many dp
    after every round — the kmeans_assign convention that makes both engines
    carry identical centroid literals, so the IVF compositions built on top
    become SQL-oracle-expressible. None keeps the unrounded textbook loop."""
    sample = (df.select(id_col, vec_col).orderBy(id_col)
              .limit(max(nlist * 64, 1024)).toPandas())
    if len(sample) == 0:
        return None
    X = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
    nrm = np.linalg.norm(X, axis=1, keepdims=True)
    ok = nrm[:, 0] > 0.0  # zero-norm rows would NaN-poison every centroid
    if not ok.any():
        return None
    X, nrm = X[ok], nrm[ok]
    X /= nrm
    cents = X[:nlist].copy()
    for _ in range(iters):
        _recenter(cents, *_lloyd_sums(X, cents))
        cents /= np.linalg.norm(cents, axis=1, keepdims=True)
        if portable_round is not None:
            cents = np.round(cents, portable_round) + 0.0
    return cents


def ann_topk_all_ivf(df: DataFrame, k: int = 3, nlist: int = 16,
                     nprobe: int = 4, iters: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     portable_round: int | None = None,
                     ) -> DataFrame:
    """All-vectors ANN with NO full-corpus driver collect — the default
    composition at index sizes past the broadcast budget (100 TB shape).

    Plan: centroids train on a bounded driver sample; ONE Arrow pass assigns
    every vector its home cell + its ``nprobe`` nearest probe cells
    (broadcast centroids, map-side argmin — no shuffle); the candidate set
    is the equi-join ``probe_cell == home_cell`` — a single hash shuffle on
    the cell id, cell population ≈ N/nlist so the self-join never goes
    quadratic; exact cosine on candidates is codegen-side array arithmetic;
    per-query top-k is one window on the join's own partitioning. Recall is
    traded via nprobe/nlist exactly as in the single-query :func:`ivf_topk`.
    """
    spark = df.sparkSession
    cents = _train_centroids(df, nlist, iters, id_col, vec_col,
                             portable_round=portable_round)
    if cents is None:  # empty corpus: empty result in the output schema
        return (df.select(F.col(id_col),
                          F.col(id_col).alias("neighbor_id"))
                .withColumn("cos_sim", F.lit(0.0)).limit(0))
    b_cents = spark.sparkContext.broadcast(cents)

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cs = b_cents.value
        for pdfb in batches:
            if len(pdfb) == 0:
                continue
            v = _unit_rows(pdfb[vec_col].to_numpy())
            d2 = _sq_dists(v, cs)
            order = np.argsort(d2, axis=1, kind="stable")
            yield pd.DataFrame({
                id_col: pdfb[id_col],
                "nvec": list(v),
                "cell": order[:, 0].astype("int32"),
                "probes": list(order[:, :nprobe].astype("int32")),
            })

    id_type = df.schema[id_col].dataType.simpleString()
    # cache: the frame feeds both cogroup sides — materialize the Arrow
    # assignment pass once, not once per side (persist over
    # localCheckpoint: same reuse without the checkpoint write barrier);
    # registered for release by the next pipeline's entry
    from akka_stream_contrib_spark.util import (drop_stale_caches,
                                                pipeline_cache)
    drop_stale_caches()
    assigned = pipeline_cache(df.select(id_col, vec_col).mapInPandas(
        _assign,
        schema=(f"{id_col} {id_type}, nvec array<double>, "
                "cell int, probes array<int>")))

    queries_side = assigned.select(
        F.col(id_col), "nvec", F.explode("probes").alias("cell"))
    corpus_side = assigned.select(F.col(id_col).alias("neighbor_id"),
                                  F.col("nvec").alias("cvec"), "cell")

    def _per_cell(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        # one GEMM per cell: queries probing the cell × the cell's residents.
        # Emitting only the per-cell top-k keeps the shuffle output at
        # k rows per (query, probed cell) instead of the full candidate set.
        if len(qpdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame({id_col: [], "neighbor_id": [], "_cos": []})
        qm = np.stack(qpdf["nvec"].to_numpy())
        cm = np.stack(cpdf["cvec"].to_numpy())
        qids = qpdf[id_col].to_numpy()
        cids = cpdf["neighbor_id"].to_numpy()
        # pre-sort residents by neighbor id, then ONE vectorized stable
        # argsort over (Q, C): stable on an id-ascending array = total
        # order (sim DESC, neighbor_id ASC) — the final window's order. A
        # plain argpartition on sims alone drops an arbitrary member of an
        # exact-tie straddling the kk boundary (duplicate vectors make
        # that real), which could drop the smaller neighbor_id the
        # window's tie-break selects.
        ord0 = np.argsort(cids, kind="stable")
        cids = cids[ord0]
        sims = qm @ cm[ord0].T                             # (Q, C)
        out_q, out_n, out_s = [], [], []
        kk = min(k + 1, sims.shape[1])                     # +1 absorbs self
        idx = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
        for i in range(sims.shape[0]):
            for j in idx[i]:
                if cids[j] != qids[i]:
                    out_q.append(qids[i]); out_n.append(cids[j])
                    out_s.append(sims[i, j])
        return pd.DataFrame({id_col: out_q, "neighbor_id": out_n, "_cos": out_s})

    candidates = (
        queries_side.groupBy("cell")
        .cogroup(corpus_side.groupBy("cell"))
        .applyInPandas(_per_cell,
                       schema=(f"{id_col} {id_type}, neighbor_id {id_type}, "
                               "_cos double"))
    )
    from pyspark.sql import Window
    w = Window.partitionBy(id_col).orderBy(F.desc("_cos"), "neighbor_id")
    return (
        candidates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(id_col, "neighbor_id", F.round("_cos", 6).alias("cos_sim"))
    )


def ivf_write_index(df: DataFrame, path: str, nlist: int = 16,
                    iters: int = 5, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Persist an IVF index: normalized vectors written as parquet
    PARTITIONED BY cell id, plus the trained centroids as a tiny side table.
    The index layout IS the acceleration structure — a query's
    ``cell IN (probed)`` filter becomes storage-level partition pruning, so
    Spark lists and reads ONLY the probed cells' files: at 100 TB the scan
    cost is nprobe/nlist of the corpus before a single row is read.
    Training/assignment are the same deterministic passes as
    :func:`ann_topk_all_ivf`.
    """
    spark = df.sparkSession
    cents = _train_centroids(df, nlist, iters, id_col, vec_col)
    if cents is None:
        raise ValueError("ivf_write_index: empty corpus")
    b_cents = spark.sparkContext.broadcast(cents)

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cs = b_cents.value
        for pdfb in batches:
            if len(pdfb) == 0:
                continue
            v = _unit_rows(pdfb[vec_col].to_numpy())
            cell = np.argmin(_sq_dists(v, cs), axis=1)
            yield pd.DataFrame({id_col: pdfb[id_col], "nvec": list(v),
                                "cell": cell.astype("int32")})

    id_type = df.schema[id_col].dataType.simpleString()
    assigned = df.select(id_col, vec_col).mapInPandas(
        _assign, schema=f"{id_col} {id_type}, nvec array<double>, cell int")
    (assigned.write.mode("overwrite").partitionBy("cell")
     .parquet(f"{path}/cells"))
    cent_rows = [(int(c), [float(x) for x in cents[c]])
                 for c in range(len(cents))]
    (spark.createDataFrame(cent_rows, "cell int, centroid array<double>")
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids"))


def ivf_query_index(spark, path: str, query_vec: Sequence[float],
                    k: int = 10, nprobe: int = 4,
                    id_col: str = "vec_id") -> DataFrame:
    """Query a persisted IVF index: rank the stored centroids against the
    query (driver-side — nlist rows), then scan ONLY the probed cell
    partitions (storage-level pruning, see :func:`ivf_write_index`) and
    compute exact cosine + top-k on the pruned slice."""
    cents_rows = spark.read.parquet(f"{path}/centroids").collect()
    cents = {r.cell: np.asarray(r.centroid, dtype=np.float64)
             for r in cents_rows}
    q = np.asarray(query_vec, dtype=np.float64)
    q /= np.linalg.norm(q)
    order = sorted(cents, key=lambda c: (-(float(cents[c] @ q)), c))
    probed = [int(c) for c in order[:nprobe]]
    qlit = F.array(*[F.lit(float(x)) for x in q]).cast("array<double>")
    cells = spark.read.parquet(f"{path}/cells").filter(F.col("cell").isin(probed))
    cos = _dot(F.col("nvec"), qlit)  # nvec is pre-normalized, |q| = 1
    return (cells.select(F.col(id_col), cos.alias("_cos"))
            .orderBy(F.desc("_cos"), id_col).limit(k)
            .select(id_col, F.round("_cos", 6).alias("cos_sim")))


def knn_join(queries: DataFrame, corpus: DataFrame, k: int = 10,
             query_id: str = "vec_id", corpus_id: str = "vec_id",
             vec_col: str = "embedding",
             broadcast_budget_rows: int = BROADCAST_BUDGET_ROWS) -> DataFrame:
    """Batch kNN join: for every query vector the k nearest corpus vectors by
    cosine, with a deterministic dense rank. The (index) corpus side is
    broadcast as one normalized numpy matrix, the query side streams
    through GEMM blocks (``_gemm_topk``).

    Each query row lives in exactly one partition and sees the whole corpus,
    so per-row top-k is already global: ZERO shuffles, output partitioning
    follows the queries. Ranking uses the ROUNDED similarity with
    neighbor-id tie-break — a total order identical in any engine, which is
    what lets the DuckDB oracle replay it exactly. At 100 TB the corpus side
    must be sharded or centroided first (``ivf_topk``); this is the exact
    kernel those variants reuse."""
    spark = queries.sparkSession
    pdf = _bounded_index_pdf(corpus, [corpus_id, vec_col],
                             broadcast_budget_rows, "knn_join")
    c_ids, c_mat = _unit_corpus(pdf, corpus_id, vec_col)
    b_ids = spark.sparkContext.broadcast(c_ids)
    b_mat = spark.sparkContext.broadcast(c_mat)
    kk = min(k, len(c_ids))

    def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        corpus_m = b_mat.value
        corpus_ids = b_ids.value
        for pdfb in batches:
            if len(pdfb) == 0 or kk == 0:
                continue
            yield _gemm_topk(_unit_rows(pdfb[vec_col].to_numpy()),
                             pdfb[query_id].to_numpy(), corpus_m,
                             corpus_ids, kk)

    id_type = queries.schema[query_id].dataType.simpleString()
    nbr_type = corpus.schema[corpus_id].dataType.simpleString()
    return queries.select(query_id, vec_col).mapInPandas(
        _scan, schema=(f"query_id {id_type}, neighbor_id {nbr_type}, "
                       "rank int, cos_sim double"))


def quantize_embeddings(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Int8 scalar quantization of an embedding column: per-vector scale
    ``127 / max|v|`` and ``q_i = floor(v_i * scale + 0.5)`` (⇒ q ∈ [-127,
    127]). Emits ``(id, qvec array<int>, scale double)``.

    This is the storage/scan scale path for 100 TB vector workloads: int8
    cuts the column 4× vs float32 (and 8× vs the double working form), and
    quantized dot products are exact integer arithmetic — no FP summation
    order concerns at all. Dequantize with ``q / scale``.

    ``floor(x + 0.5)`` rather than ``round(x)``: round() half-way policy on
    binary doubles is engine-specific, while the product, the +0.5 and
    floor are bit-identical IEEE in Spark and DuckDB — the quantized values
    replay exactly in both engines. Zero vectors get scale 0 and all-zero
    codes. The whole map is codegen-side array arithmetic: no UDF, no
    shuffle, pipelineable into any downstream join or top-k.
    """
    d = df.select(F.col(id_col), as_double(vec_col).alias("_e"))
    d = d.withColumn(
        "_amax", F.array_max(F.transform("_e", lambda x: F.abs(x))))
    d = d.withColumn(
        "scale",
        F.when(F.col("_amax") > 0, F.lit(127.0) / F.col("_amax"))
        .otherwise(F.lit(0.0)))
    return d.select(
        id_col,
        F.transform(
            "_e",
            lambda x: F.floor(x * F.col("scale") + F.lit(0.5)).cast("int"),
        ).alias("qvec"),
        "scale",
    )


def quantized_cosine_topk(df: DataFrame, query_vec: Sequence[float],
                          k: int = 10, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Top-k by cosine over int8-quantized vectors (quantizing the query
    with the same formula). The dot product and both norms are exact
    integer sums (|q| ≤ 127, d = 64 ⇒ well inside int64); only the final
    ``dot / (|a|·|b|)`` is FP — a single identical-IEEE expression, so the
    scores hash-match across engines bit-for-bit. Accuracy vs exact cosine
    is asserted in tests (recall@k), the classic quantization trade."""
    qa = np.asarray(query_vec, dtype=np.float64)
    amax = float(np.max(np.abs(qa)))
    qscale = 127.0 / amax if amax > 0 else 0.0
    qq = [int(np.floor(v * qscale + 0.5)) for v in qa]
    qn = float(np.sqrt(sum(v * v for v in qq)))
    qlit = F.array(*[F.lit(v) for v in qq])
    qv = quantize_embeddings(df, id_col=id_col, vec_col=vec_col)
    dot = F.aggregate(
        F.zip_with("qvec", qlit, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    nrm2 = F.aggregate(
        F.transform("qvec", lambda x: (x * x).cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    # try_divide: a zero vector has |a| = 0 → NULL score (== DuckDB x/0),
    # not an ANSI error
    cos = F.try_divide(dot.cast("double"),
                       F.sqrt(nrm2.cast("double")) * F.lit(qn))
    return (
        qv.select(F.col(id_col), cos.alias("_cos"))
        .orderBy(F.desc("_cos"), id_col)
        .limit(k)
        .select(id_col,
                (F.round("_cos", 6) + F.lit(0.0)).alias("qcos_sim"))
    )


def pq_train(df: DataFrame, m: int = 8, ksub: int = 16, iters: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding") -> np.ndarray:
    """Train product-quantization codebooks (Jégou et al. 2011): split each
    L2-normalized vector into ``m`` subvectors and run k-means with ``ksub``
    centroids independently per subspace. Returns codebooks of shape
    (m, ksub, d/m).

    Same driver-side discipline as :func:`_train_centroids`: a bounded,
    deterministic sample (lowest ids, fixed Lloyd rounds, argmin stable
    tie-break) whose size is independent of corpus size — training cost does
    not grow with 100 TB; only encode (map-side) does.
    """
    sample = (df.select(id_col, vec_col).orderBy(id_col)
              .limit(pq_sample_size(ksub)).toPandas())
    return pq_train_pdf(sample, m=m, ksub=ksub, iters=iters,
                        vec_col=vec_col)


def pq_sample_size(ksub: int) -> int:
    """Training-sample bound for :func:`pq_train` — ~64 points per centroid,
    floor 1024; independent of corpus size."""
    return max(ksub * 64, 1024)


def pq_train_pdf(sample: pd.DataFrame, m: int = 8, ksub: int = 16,
                 iters: int = 5, vec_col: str = "embedding"
                 ) -> np.ndarray:
    """Driver-side core of :func:`pq_train` over an already-collected
    id-sorted sample — callers that need the sample for other bounded
    driver work too (e.g. extracting a query row) collect it ONCE and
    share it instead of paying a second Spark job."""
    if len(sample) == 0:
        return None
    X = _unit_rows(sample[vec_col].to_numpy())
    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    books = np.empty((m, ksub, dsub))
    # deterministic spread init (evenly strided over the id-sorted sample):
    # head init packs all seeds into near-duplicate leading vectors and
    # costs ~2× recall on the fixtures; strided seeds cover the subspace
    init_idx = np.linspace(0, len(X) - 1, ksub).astype(int)
    for s in range(m):
        Xs = X[:, s * dsub:(s + 1) * dsub]
        cents = Xs[init_idx].copy()
        for _ in range(iters):
            _recenter(cents, *_lloyd_sums(Xs, cents))
        books[s] = cents
    return books


def pq_encode(df: DataFrame, codebooks: np.ndarray, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode every vector as ``m`` one-byte codes — (id, codes array<int>).
    16–32× smaller than float32 storage: THE index format that makes a
    100 TB vector corpus scannable.

    One Arrow map pass with the (tiny: m·ksub·d/m floats) codebooks
    broadcast; per-subspace argmin is a batched numpy distance — no shuffle,
    no driver collect, pipelineable straight into a parquet index write.
    """
    spark = df.sparkSession
    b_books = spark.sparkContext.broadcast(codebooks)
    id_type = df.schema[id_col].dataType.simpleString()

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = b_books.value
        m, ksub, dsub = books.shape
        for pdfb in batches:
            if len(pdfb) == 0:
                continue
            v = _unit_rows(pdfb[vec_col].to_numpy())
            codes = np.empty((len(v), m), dtype=np.int32)
            for s in range(m):
                codes[:, s] = np.argmin(
                    _sq_dists(v[:, s * dsub:(s + 1) * dsub], books[s]), axis=1)
            yield pd.DataFrame({id_col: pdfb[id_col], "codes": list(codes)})

    return df.select(id_col, vec_col).mapInPandas(
        _enc, schema=f"{id_col} {id_type}, codes array<int>")


def pq_topk_adc(codes_df: DataFrame, query_vec: Sequence[float],
                codebooks: np.ndarray, k: int = 10,
                id_col: str = "vec_id") -> DataFrame:
    """Top-k by approximate cosine over PQ codes via Asymmetric Distance
    Computation: the query stays full-precision; a per-subspace lookup table
    ``LUT[s][c] = <query_s, codebook[s][c]>`` is computed once on the driver
    (m·ksub floats) and injected as a LITERAL array, so scoring each stored
    vector is ``sum_s LUT[s][codes[s]]`` — pure codegen-side array indexing
    over the one-byte codes. No UDF, no shuffle; the only reduction is the
    global TakeOrdered top-k. Recall vs exact cosine is asserted in tests
    (the PQ accuracy trade; raise m/ksub for tighter recall).
    """
    m, ksub, dsub = codebooks.shape
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / np.linalg.norm(q)
    lut = [float(np.dot(q[s * dsub:(s + 1) * dsub], codebooks[s][c]))
           for s in range(m) for c in range(ksub)]
    if not np.isfinite(lut).all():
        # a zero-norm / NaN-bearing query yields NaN LUT entries whose
        # repr ('nanD') is not a parseable SQL literal — fail with the
        # cause instead of a bare ParseException
        raise ValueError(
            "pq_topk_adc: non-finite lookup table — query_vec must be a "
            "finite, non-zero vector")
    # The whole ADC score as ONE parsed SQL expression: a per-subspace
    # 64-double array literal indexed by that subspace's code, summed
    # left-to-right (the same IEEE order as a left fold over s). Building
    # this via F.lit/F.array + zip_with/aggregate lambdas paid ~0.9 s of
    # py4j plan-build PER QUERY plus heavier codegen (measured r6: 1.56 s
    # vs 1.01 s end-to-end at sf0.1); one expr() string is one py4j call
    # and parses in ~10 ms. repr(double)+'D' round-trips exactly.
    terms = []
    for s in range(m):
        arr = ",".join(repr(v) + "D" for v in lut[s * ksub:(s + 1) * ksub])
        terms.append(
            f"element_at(array({arr}), element_at(codes, {s + 1}) + 1)")
    score = F.expr("(" + " + ".join(terms) + ")")
    return (
        codes_df.select(F.col(id_col), score.alias("_s"))
        .orderBy(F.desc("_s"), id_col)
        .limit(k)
        .select(id_col, (F.round("_s", 6) + F.lit(0.0)).alias("pq_score"))
    )


def pq_topk_rerank(df: DataFrame, codes_df: DataFrame,
                   query_vec: Sequence[float], codebooks: np.ndarray,
                   k: int = 10, shortlist: int = 50,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   ) -> DataFrame:
    """The production PQ serving shape (IVF-PQ two-stage): scan the tiny PQ
    code column with ADC to build a ``shortlist``-sized candidate set, then
    re-rank ONLY those candidates with exact cosine over their full-precision
    vectors. The expensive float column is touched for `shortlist` rows
    instead of the whole corpus — at 100 TB the exact-rerank side is a
    broadcast semi-join against a k-row id list, so recall is governed by
    `shortlist` (monotone → 1.0) while scan cost stays on the 16× smaller
    code column."""
    short = pq_topk_adc(codes_df, query_vec, codebooks, k=shortlist,
                        id_col=id_col).select(id_col)
    cand = df.join(F.broadcast(short), id_col, "left_semi")
    return cosine_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def hard_negatives(queries: DataFrame, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label",
                   broadcast_budget_rows: int = BROADCAST_BUDGET_ROWS
                   ) -> DataFrame:
    """Hard-negative mining for contrastive training: for every vector, the
    ``k`` most-similar vectors carrying a DIFFERENT label — the negatives a
    contrastive loss learns most from (easy negatives are already far away;
    same-label neighbors are positives, not negatives). Self-matches are
    excluded by the label mask for free.

    Same kernel and determinism contract as :func:`knn_join`: the corpus
    side broadcasts as one normalized matrix (hard-bounded collect), query
    partitions stream through GEMM, ranking is on the ROUNDED similarity
    with neighbor-id tie-break — a total order any engine replays. ZERO
    shuffles; output partitioning follows the queries. At 100 TB shard or
    centroid the corpus side first (`ivf_topk`), keeping the label mask in
    the scoring kernel.
    """
    spark = queries.sparkSession
    # NULL-labeled vectors are excluded from BOTH sides, matching SQL
    # `q.label <> c.label` semantics (NULL compares to nothing): they can
    # neither anchor a query nor serve as a negative
    queries = queries.filter(F.col(label_col).isNotNull())
    pdf = _bounded_index_pdf(queries, [id_col, vec_col, label_col],
                             broadcast_budget_rows, "hard_negatives")
    id_type = queries.schema[id_col].dataType.simpleString()
    out_schema = (f"query_id {id_type}, neighbor_id {id_type}, "
                  "rank int, cos_sim double")
    if len(pdf) == 0:
        # empty corpus → zero negatives (the reference's empty-upstream
        # contract: complete cleanly, emit nothing)
        return spark.createDataFrame([], out_schema)
    b = spark.sparkContext.broadcast(
        _unit_corpus(pdf, id_col, vec_col, label_col))

    def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        corpus_ids, corpus_labels, corpus_m = b.value
        for pdfb in batches:
            if len(pdfb) == 0:
                continue
            q = _unit_rows(pdfb[vec_col].to_numpy())
            qids = pdfb[id_col].to_numpy()
            qlabels = pdfb[label_col].to_numpy()
            # one vectorized top-k per LABEL GROUP (few labels, not per
            # row): the label mask is shared by every query of that label,
            # and masking the corpus BEFORE the GEMM never changes an
            # output element (the same dot product of the same two vectors)
            outs = []
            for lab in np.unique(qlabels):
                qsel = qlabels == lab
                mask = corpus_labels != lab
                kk = min(k, int(mask.sum()))
                if kk == 0:
                    continue
                outs.append(_gemm_topk(q[qsel], qids[qsel], corpus_m[mask],
                                       corpus_ids[mask], kk))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return queries.select(id_col, vec_col, label_col).mapInPandas(
        _scan, schema=out_schema)


def mmr_select(df: DataFrame, query_vec: Sequence[float], k: int = 5,
               shortlist: int = 20, lam_num: int = 7, lam_den: int = 10,
               id_col: str = "vec_id", vec_col: str = "embedding",
               ) -> DataFrame:
    """Maximal Marginal Relevance diverse top-``k`` (Carbonell & Goldstein
    1998): greedily pick the candidate maximizing ``λ·rel(c) −
    (1−λ)·max_{s∈S} sim(c, s)`` — relevance to the query balanced against
    redundancy with what is already selected. The RAG-context /
    eval-panel picker: top-k by raw similarity returns near-duplicates;
    MMR returns coverage.

    Engine-exact by construction: relevance and pairwise similarity are
    INTEGER inner products of the int8-quantized vectors
    (`quantize_embeddings` — floor(x·scale + 0.5) replays bit-for-bit in
    DuckDB), and λ is the rational ``lam_num/lam_den``, so every greedy
    round maximizes the exact integer ``lam_den·MMR = lam_num·rel −
    (lam_den−lam_num)·max_sim`` — no FP anywhere, ties break to the
    smaller id. Round 1 has an empty selected set: its score is
    ``lam_num·rel`` (the standard convention).

    Scale shape: the DISTRIBUTED part is the shortlist preselect — exact
    integer query dots, TakeOrdered top-``shortlist`` (never a global
    sort). The greedy loop is inherently sequential (each pick conditions
    the next), so it runs on the collected shortlist — ``shortlist × dim``
    ints, bounded and independent of corpus size, the same driver-side
    budget discipline as `pq_train`. Returns (rank, id, rel_dot,
    mmr_score) with mmr_score = the lam_den-scaled integer objective.

    Reference anchor: none (similarity-search extension; family of
    quantized_cosine_topk / hard_negatives).
    """
    if not 0 < k <= shortlist:
        raise ValueError(f"mmr_select: need 0 < k <= shortlist, "
                         f"got k={k}, shortlist={shortlist}")
    if not 0 <= lam_num <= lam_den:
        raise ValueError("mmr_select: need 0 <= lam_num <= lam_den")
    qa = np.asarray(query_vec, dtype=np.float64)
    amax = float(np.max(np.abs(qa)))
    qscale = 127.0 / amax if amax > 0 else 0.0
    qq = [int(np.floor(v * qscale + 0.5)) for v in qa]
    qlit = F.array(*[F.lit(v) for v in qq])
    qv = quantize_embeddings(df, id_col=id_col, vec_col=vec_col)
    dot = F.aggregate(
        F.zip_with("qvec", qlit, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    pre = (qv.select(F.col(id_col), F.col("qvec"), dot.alias("_rel"))
           .orderBy(F.desc("_rel"), id_col)
           .limit(shortlist))
    rows = pre.collect()
    for r in rows:
        if r["_rel"] is None:
            # zip_with pads the shorter array with NULLs, so a dimension
            # mismatch (or a NULL embedding entry) nulls the whole dot —
            # fail loudly instead of TypeError-ing on int(None) below
            raise ValueError(
                f"mmr_select: NULL relevance dot for {id_col}="
                f"{r[id_col]} — query_vec length ({len(qq)}) must match "
                "the embedding dimension and embeddings must be NULL-free")
    cand = [(r[id_col], list(r["qvec"]), int(r["_rel"])) for r in rows]
    mu = lam_den - lam_num
    selected: list[tuple] = []  # (rank, id, rel, score)
    sel_vecs: list[list[int]] = []
    remaining = list(cand)
    for rank in range(1, min(k, len(cand)) + 1):
        best = None
        for cid, cvec, crel in remaining:
            msim = max((sum(a * b for a, b in zip(cvec, s))
                        for s in sel_vecs), default=0)
            score = lam_num * crel - mu * msim
            key = (-score, cid)
            if best is None or key < best[0]:
                best = (key, cid, cvec, crel, score)
        _, cid, cvec, crel, score = best
        selected.append((rank, cid, crel, score))
        sel_vecs.append(cvec)
        remaining = [c for c in remaining if c[0] != cid]
    spark = df.sparkSession
    return spark.createDataFrame(
        selected, f"rank int, {id_col} long, rel_dot long, mmr_score long")


def margin_mine(src: DataFrame, tgt: DataFrame, k: int = 4,
                threshold: float = 1.05,
                src_id: str = "vec_id", tgt_id: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Margin-criterion pair mining between two embedding sets (Artetxe &
    Schwenk 2019, "Margin-based parallel corpus mining" — the
    LASER/CCMatrix recipe): a candidate pair (x, y) scores
    ``cos(x, y) / (mean cos of x's k-NN in tgt / 2 + mean cos of y's k-NN
    in src / 2)`` — absolute cosine is miscalibrated across hubs, the
    margin normalizes by each side's local density. Keep x's argmax-margin
    neighbor when its score clears ``threshold`` (> 1 = closer than the
    neighborhood average).

    Plan: two :func:`knn_join` passes (broadcast GEMM, zero shuffle, the
    ANN kernel this engine already prices) provide both the candidates and
    the denominators; the denominators reduce to one tiny agg per side
    keyed by vector id; the final argmax is a per-query window on the
    join's own partitioning. 6-dp cosines are EXACT decimals, so the
    k-sum denominators are order-independent and the oracle replays the
    score bit-for-bit; each side's mean divides by its ACTUAL returned
    neighbor count (< k when a side has fewer than k vectors), keeping the
    score faithful to the mean-based formula on degenerate small slices.
    Pairs with a non-positive denominator (pathological
    all-negative neighborhoods) are dropped — the margin is undefined
    there (documented, mirrored in the oracle).

    Emits (src_id, tgt_id, cos_sim, margin) for the mined pairs.
    """
    from pyspark.sql import Window

    fwd = knn_join(src, tgt, k=k, query_id=src_id, corpus_id=tgt_id,
                   vec_col=vec_col)
    bwd = knn_join(tgt, src, k=k, query_id=tgt_id, corpus_id=src_id,
                   vec_col=vec_col)
    # k-NN sums stay EXACT decimals (no decimal division — engines differ
    # on division scale/rounding); the single double division happens once.
    # The denominators carry their ACTUAL neighbor counts (knn_join clips
    # to min(k, |corpus|), so a small slice returns < k neighbors — a
    # constant 2k would inflate the margin there; r9 ADVICE): margin =
    # cos · 2·nx·ny / (Σfwd·ny + Σbwd·nx), algebraically the mean-based
    # Artetxe-Schwenk form cos / (Σfwd/nx/2 + Σbwd/ny/2) for any nx, ny,
    # and numerator/denominator remain exact decimal×integer products.
    dec = F.col("cos_sim").cast("decimal(9,6)")
    dx = (fwd.groupBy("query_id")
          .agg(F.sum(dec).alias("_dx"), F.count(F.lit(1)).alias("_nx"))
          .select(F.col("query_id").alias("_qx"), "_dx", "_nx"))
    dy = (bwd.groupBy("query_id")
          .agg(F.sum(dec).alias("_dy"), F.count(F.lit(1)).alias("_ny"))
          .select(F.col("query_id").alias("_qy"), "_dy", "_ny"))
    den = F.col("_dx") * F.col("_ny") + F.col("_dy") * F.col("_nx")
    scored = (fwd
              .join(dx, F.col("query_id") == F.col("_qx"))
              .join(dy, F.col("neighbor_id") == F.col("_qy"))
              .filter(den > 0)
              .withColumn("margin",
                          F.round(F.col("cos_sim")
                                  * (F.lit(2) * F.col("_nx") * F.col("_ny"))
                                  / den.cast("double"), 6) + F.lit(0.0)))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("margin"), "neighbor_id")
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("margin") >= threshold))
            .select(F.col("query_id").alias("src_id"),
                    F.col("neighbor_id").alias("tgt_id"),
                    "cos_sim", "margin"))
