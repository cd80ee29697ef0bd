"""Distributed k-means clustering over embedding columns.

Third member of the iterative-algorithm family (with
`functions/graph.py::pagerank` and `functions/dedup.py::dup_clusters`):
cyclic dataflow as a bounded driver loop — the Spark re-expression of the
reference's feedback wiring (`FeedbackLoop.scala:18-38`), where only the
k-row centroid table crosses the loop boundary.

Unlike `similarity.py::_train_centroids` (driver-side numpy on a bounded
sample, used to seed IVF cells), this is FULL-corpus Lloyd's: every
iteration assigns all N vectors (map-side broadcast-centroid argmin, no
shuffle) and recomputes centroids with one shuffle of k*dim partial sums
(posexplode → groupBy(cluster, dim) with map-side combine). Per-iteration
cost at 100 TB: one scan + one k*dim-row aggregate — the same shape any
MPP k-means runs; no step ever materializes more than k*dim rows off the
scan path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dist2(vec_col: str, centroid: list[float]):
    """Squared L2 distance vector→literal centroid as a codegen expression."""
    carr = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(F.col(vec_col).cast("array<double>"), carr,
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)


def kmeans_assign(df: DataFrame, k: int = 8, iterations: int = 5,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  portable_round: int | None = None,
                  ) -> DataFrame:
    """Lloyd's k-means: returns (id, cluster, dist) for every input row,
    with ``dist`` the final distance to the assigned centroid (6 dp).

    Deterministic structure: centroids seed from the k lowest ids; each
    round every vector joins the broadcast centroid literals in a pure
    argmin expression; re-centering averages member vectors per dimension.
    Unordered double averaging makes last-digit centroid bits engine-
    dependent; ``portable_round`` rounds the centroids to that many dp
    after every re-centering (the cluster_silhouette convention), so both
    engines carry IDENTICAL centroid literals into the next round and the
    whole loop becomes SQL-oracle-expressible — argmin itself stays
    full-precision (a flip needs two centroid distances equal to ~1e-13,
    the same measure-zero risk the logreg CTE oracle accepts). Left at
    None, semantics are the unrounded textbook loop.
    """
    if k <= 0 or iterations < 0:
        raise ValueError(f"kmeans_assign needs k>=1, iterations>=0")
    from akka_stream_contrib_spark.util import (drop_stale_caches,
                                                pipeline_cache)
    drop_stale_caches()
    # the (id, vector) projection is scanned once per Lloyd round plus the
    # seed TakeOrdered and the final assignment pass — iterations+2 parquet
    # scans (each re-decoding the array<double> column) without a cache.
    # Cache it once (MEMORY_AND_DISK, the MLlib training-loop discipline,
    # guide §5); the seed collect below doubles as the materialization.
    base = pipeline_cache(df.select(id_col, vec_col))
    seed_rows = base.orderBy(id_col).limit(k).collect()
    if not seed_rows:
        return df.select(F.col(id_col), F.lit(0).alias("cluster"),
                         F.lit(0.0).alias("dist")).limit(0)
    import numpy as np

    from akka_stream_contrib_spark.functions.similarity import (_lloyd_sums,
                                                                _recenter)
    cents_np = np.array([[float(x) for x in r[vec_col]] for r in seed_rows])
    spark = df.sparkSession
    # Iteration assignments run as ONE Arrow pass with broadcast centroids
    # and per-batch partial (cluster, n, vector-sum) rows — no shuffle at
    # all inside an iteration, and no per-iteration literal plan: the
    # previous codegen-expression form re-javac'd an 8×64-literal argmin
    # every round because the centroid literals changed (measured ~2× the
    # iteration cost). The tiny partials (≤ partitions·k rows) combine on
    # the driver — the same K-rows-cross-the-loop-boundary shape as the
    # reference's FeedbackLoop.
    for _ in range(iterations):
        b_cents = spark.sparkContext.broadcast(cents_np)

        def _partials(batches, _b=b_cents):
            import pandas as pd
            c = _b.value
            for pdfb in batches:
                if len(pdfb) == 0:
                    continue
                X = np.stack(pdfb[vec_col].to_numpy()).astype(np.float64)
                n, sums = _lloyd_sums(X, c)
                nz = np.nonzero(n)[0]
                yield pd.DataFrame({"cluster": nz.astype("int32"),
                                    "n": n[nz],
                                    "sums": list(sums[nz])})

        parts = base.mapInPandas(
            _partials, schema="cluster int, n long, sums array<double>"
        ).collect()
        tot_n = np.zeros(len(cents_np), dtype=np.int64)
        tot_s = np.zeros_like(cents_np)
        for r in parts:
            tot_n[r["cluster"]] += r["n"]
            tot_s[r["cluster"]] += np.asarray(r["sums"])
        _recenter(cents_np, tot_n, tot_s)
        if portable_round is not None:
            # +0.0 normalizes any -0.0 so the literal matches SQL round()
            cents_np = np.round(cents_np, portable_round) + 0.0
        # the partials are collected — release this round's centroid
        # broadcast instead of accumulating one per iteration per call
        b_cents.unpersist()
    cents = cents_np.tolist()
    dists = F.array(*[_dist2(vec_col, c) for c in cents])
    out = (base.withColumn("_d", dists)
           .withColumn("cluster",
                       (F.array_position(F.col("_d"), F.array_min("_d")) - 1
                        ).cast("int")))
    return out.select(
        F.col(id_col), "cluster",
        F.round(F.sqrt(F.element_at(F.col("_d"), F.col("cluster") + 1)), 6)
        .alias("dist"))


def cluster_silhouette(df: DataFrame, vec_col: str = "embedding",
                       label_col: str = "label", id_col: str = "vec_id"
                       ) -> DataFrame:
    """Simplified (centroid-form) silhouette score per cluster — Rousseeuw
    1987 with centroid distances standing in for mean pairwise distances,
    the standard O(n·k) clustering-quality metric at corpus scale (the
    exact form is O(n²) and never runs on a big corpus). Per vector:
    a = distance to its own cluster's centroid, b = the nearest OTHER
    centroid, s = (b − a)/max(a, b). Output: (label, n, silhouette).

    Scale shape: centroids reduce to k×dim rows (sorted-fold means per the
    repo float convention, rounded 6 dp so both engines see identical
    centroid literals) and BROADCAST; the corpus is scanned once with a
    fixed-order per-row distance fold — no shuffle of the vectors; the
    rollup is a k-row aggregate. Engine-stable: per-vector s rounds to
    9 dp and accumulates as exact decimal.
    """
    e = df.select(
        F.col(label_col).alias("_lb"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"))
    cent_long = (e.groupBy("_lb", "pos")
                 .agg(F.count(F.lit(1)).alias("_n"),
                      F.sort_array(F.collect_list("v")).alias("_vs"))
                 .select("_lb", "pos",
                         (F.round(
                             F.expr("aggregate(_vs, cast(0.0 as double),"
                                    " (a, x) -> a + x)") / F.col("_n"), 6)
                          + F.lit(0.0)).alias("_cv")))
    cent = cent_long.groupBy("_lb").agg(
        F.transform(F.sort_array(F.collect_list(F.struct("pos", "_cv"))),
                    lambda s: s["_cv"]).alias("_c"))
    vx = df.select(F.col(id_col).alias("_id"),
                   F.col(label_col).alias("_vlb"),
                   F.col(vec_col).cast("array<double>").alias("_x"))
    j = vx.crossJoin(F.broadcast(
        cent.select(F.col("_lb").alias("_clb"), "_c")))
    d = F.sqrt(F.expr(
        "aggregate(zip_with(_x, _c, (a, b) -> (a - b) * (a - b)),"
        " cast(0.0 as double), (acc, t) -> acc + t)"))
    ab = (j.select("_id", "_vlb", "_clb", d.alias("_d"))
          .groupBy("_id", "_vlb")
          .agg(F.min(F.when(F.col("_clb") == F.col("_vlb"), F.col("_d")))
               .alias("_a"),
               F.min(F.when(F.col("_clb") != F.col("_vlb"), F.col("_d")))
               .alias("_b")))
    # k=1 degenerate case: with a single distinct label there is no "other"
    # centroid, _b is NULL, and s would propagate NULL — emit the
    # conventional 0.0 instead (no separation information either way)
    s = F.when(F.col("_b").isNull() | (F.greatest("_a", "_b") == 0),
               F.lit(0.0)) \
         .otherwise((F.col("_b") - F.col("_a")) / F.greatest("_a", "_b"))
    sv = F.round(s, 9).cast("decimal(12,9)")
    return (ab.select(F.col("_vlb").alias(label_col), sv.alias("_s"))
            .groupBy(label_col)
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.round(F.sum("_s").cast("double") / F.count(F.lit(1)), 6)
                  + F.lit(0.0)).alias("silhouette")))
