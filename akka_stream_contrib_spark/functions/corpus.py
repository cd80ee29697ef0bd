"""Corpus-construction operators: the steps between a deduped document set
and a training run — chunking long documents into model-sized windows,
packing short ones into fixed token budgets, building the vocabulary, and
decontaminating the training set against an evaluation set.

Reference anchor: the reference has no text operators (its elements are
opaque, `/root/reference/src/main/scala/akka/stream/contrib/Sample.scala:22`
processes any T); these extend the engine along the BASELINE.json mandate the
same way `functions/dedup.py` does. Everything here is pure Column
expressions — generation/explosion happens inside codegen, no Python row
path.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: default row budget for broadcasting a data-dependent condemned set
#: (boilerplate segments/lines). 1M rows × ~100-byte strings ≈ 100 MB —
#: inside a standard executor heap with headroom; matches the discipline of
#: similarity.BROADCAST_BUDGET_ROWS for driver-collected index sides.
CONDEMNED_BROADCAST_BUDGET_ROWS = 1_000_000


def _guarded_broadcast(cond: DataFrame, budget_rows: int,
                       what: str) -> DataFrame:
    """Broadcast a data-dependent condemned set ONLY under an explicit row
    budget; over budget, fall back to a shuffle-hash join hint.

    A condemned set's cardinality is data-dependent: on a real web corpus
    the number of distinct boilerplate lines grows with the number of
    sites/templates (every nav/footer line of every site qualifies), so a
    forced broadcast is a driver/executor OOM or an 8 GB broadcast-limit
    failure at 100× scale. The ``limit(budget+1).count()`` probe bounds the
    decision work the same way ``similarity._bounded_index_pdf`` bounds its
    driver collect: seeing budget+1 rows proves over-budget without counting
    the full set. Either branch runs the SAME key-equi join — correctness is
    unaffected; callers cache ``cond`` so the probe's aggregation is reused
    by the join itself.

    The probe runs at plan-CONSTRUCTION time — one bounded job (the
    count-cap requires counting; the cache it materializes is the one the
    main query consumes, so the work is paid once, not twice). Batch-only,
    like every corpus-wide aggregate in this module. The over-budget
    fallback is logged with the operator name so a production job that
    degrades from broadcast to shuffle-hash leaves a trace.
    """
    n = cond.limit(budget_rows + 1).count()
    if n <= budget_rows:
        return F.broadcast(cond)
    import logging
    logging.getLogger(__name__).warning(
        "%s: condemned set exceeds broadcast_budget_rows=%d — falling back "
        "to a shuffle-hash join (same key, same result)", what, budget_rows)
    return cond.hint("shuffle_hash")


def chunk_documents(chunk_size: int = 64, overlap: int = 8,
                    id_col: str = "doc_id", text_col: str = "text"
                    ) -> Callable[[DataFrame], DataFrame]:
    """Split each document into whitespace-token windows of ``chunk_size``
    tokens overlapping by ``overlap`` (stride = chunk_size - overlap), the
    standard context-window prep for training/embedding. Emits
    (doc_id, chunk_id, chunk_text, n_chunk_tokens).

    Scale shape: a generator expression per row (posexplode over an index
    sequence) — no shuffle at all; output partitioning follows the input.
    """
    if overlap >= chunk_size:
        raise ValueError(f"overlap ({overlap}) must be < chunk_size ({chunk_size})")
    stride = chunk_size - overlap

    def _apply(df: DataFrame) -> DataFrame:
        toks = (df.select(F.col(id_col).alias("doc_id"),
                          F.split(text_col, " ").alias("_toks"))
                # a NULL-text doc has no tokens to window: emitting the
                # greatest(ceil(NULL),1)=1 phantom chunk (chunk_text NULL)
                # would feed a junk row into the training-window table
                .filter(F.col("_toks").isNotNull()))
        n_chunks = F.greatest(
            F.ceil((F.size("_toks") - F.lit(overlap)) / F.lit(stride)),
            F.lit(1)).cast("int")
        piece = F.slice("_toks", F.col("chunk_id") * stride + 1, chunk_size)
        return (
            toks.select("doc_id", "_toks",
                        F.posexplode(F.sequence(F.lit(0), n_chunks - 1))
                        .alias("chunk_id", "_i"))
            .select("doc_id", F.col("chunk_id").cast("bigint").alias("chunk_id"),
                    F.array_join(piece, " ").alias("chunk_text"),
                    F.size(piece).cast("bigint").alias("n_chunk_tokens"))
        )

    return _apply


def pack_sequences(budget: int = 256, group_col: str = "source",
                   order_col: str = "doc_id", text_col: str = "text"
                   ) -> Callable[[DataFrame], DataFrame]:
    """Concatenate-then-cut sequence packing: within each ``group_col``,
    documents are taken in ``order_col`` order and assigned to consecutive
    bins of ``budget`` tokens — bin = floor(exclusive-prefix-token-sum /
    budget), so a document straddling a boundary belongs to the bin where it
    starts (each bin overflows by at most one document). Deterministic, one
    shuffle on the group key, and exactly the streaming packing a tokenizer
    worker applies to a partitioned corpus. Emits per-bin summaries
    (source, bin_id, n_docs, total_tokens).
    """
    from pyspark.sql import Window

    def _apply(df: DataFrame) -> DataFrame:
        # NULL text = a 0-token doc: counted in n_docs, adds no tokens
        # (raw size(NULL) is NULL, which silently under-counted the bin's
        # total_tokens while still counting the doc)
        n_tok = F.coalesce(F.size(F.split(text_col, " ")),
                           F.lit(0)).cast("bigint")
        w = (Window.partitionBy(group_col).orderBy(order_col)
             .rowsBetween(Window.unboundedPreceding, -1))
        with_bin = df.select(
            F.col(group_col), F.col(order_col), n_tok.alias("_n"),
            F.floor(F.coalesce(F.sum(n_tok).over(w), F.lit(0)) / budget)
             .alias("bin_id"))
        return (with_bin.groupBy(group_col, "bin_id")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("_n").alias("total_tokens")))

    return _apply


def vocab_topk(k: int = 50, text_col: str = "text"
               ) -> Callable[[DataFrame], DataFrame]:
    """Corpus vocabulary: top-k alphabetic tokens by frequency
    (count desc, token asc tie-break — fully deterministic). The plan is
    explode -> partial-aggregated count -> TakeOrderedAndProject: per-partition
    top-k then a single k-row merge at the driver, never a global sort of the
    vocabulary."""

    def _apply(df: DataFrame) -> DataFrame:
        return (
            df.select(F.explode(F.split(F.lower(F.col(text_col)), " "))
                      .alias("token"))
            .filter(F.col("token").rlike("^[a-z]+$"))
            .groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
            .orderBy(F.desc("freq"), "token").limit(k)
        )

    return _apply


def decontaminate(train: DataFrame, eval_df: DataFrame, k: int = 3,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Train/eval overlap detection: for each training document, the fraction
    of its k-word shingles that appear anywhere in the evaluation set
    (containment). Emits (doc_id, n_shingles, n_hits, containment) for every
    training doc with at least one hit.

    Scale shape: the eval side (benchmarks — MBs even when the corpus is
    100 TB) reduces to a distinct-shingle set that is BROADCAST; the training
    corpus is scanned once, its shingles joined map-side, one shuffle on
    doc_id for the per-doc count. This is how decontamination actually runs
    on a large corpus — never a shuffle of the corpus shingles against the
    eval shingles."""
    from akka_stream_contrib_spark.functions.dedup import shingles

    tr = shingles(train, k=k, id_col=id_col, text_col=text_col)
    ev = (shingles(eval_df, k=k, id_col=id_col, text_col=text_col)
          .select("shingle").distinct())
    # ONE aggregation pass (the contamination_score conditional-sum shape):
    # the sizes + semi-join formulation consumed the shingled corpus twice,
    # i.e. two full scans + two shingle explosions of the train side
    marked = ev.withColumn("_hit", F.lit(1))
    agg = (tr.join(F.broadcast(marked), "shingle", "left")
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_shingles"),
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint")
                .alias("n_hits")))
    return (agg.filter(F.col("n_hits") > 0)
            .select("doc_id", "n_shingles", "n_hits",
                    F.round(F.col("n_hits") / F.col("n_shingles"), 6)
                    .alias("containment")))


def domain_cap(n_per_domain: int, domain_col: str = "source",
               id_col: str = "doc_id") -> Callable[[DataFrame], DataFrame]:
    """Cap each domain at ``n_per_domain`` documents — the standard guard
    against a single crawled site dominating a training mixture. Selection is
    by portable hash of the id (then id) so the kept subset is a stable,
    deterministic pseudo-random sample per domain, unchanged across reruns
    and engines. Adds a 1-based ``dom_rank`` to the survivors.

    Scale shape (r11): the domain key is low-cardinality (20 sources in
    the fixtures), so a plain Window.partitionBy(domain) would sort the
    WHOLE corpus in ≤|domains| reducer tasks; the cap is the salted
    two-phase top-n (``global_order.salted_top_n``).
    """

    def _apply(df: DataFrame) -> DataFrame:
        from akka_stream_contrib_spark.functions.text import token_id
        from akka_stream_contrib_spark.operators.global_order import (
            salted_top_n)
        pri = token_id(F.col(id_col).cast("string"))
        return salted_top_n(df, domain_col, [pri, F.col(id_col)],
                            n_per_domain, id_col, "dom_rank")

    return _apply


def remove_boilerplate(max_doc_frac: float = 0.3, delim: str = " ",
                       id_col: str = "doc_id", text_col: str = "text",
                       broadcast_budget_rows: int =
                       CONDEMNED_BROADCAST_BUDGET_ROWS,
                       ) -> Callable[[DataFrame], DataFrame]:
    """Frequent-segment (boilerplate) removal, the CCNet-style cleanup: split
    every document into segments on ``delim`` (lines for real web text; the
    fixtures' space-delimited tokens degenerate to high-DF token removal),
    drop the segments whose document frequency exceeds ``max_doc_frac`` of
    the corpus, and re-assemble each document preserving segment order.
    Emits (doc_id, clean_text, n_kept, n_removed) for documents with at
    least one surviving segment.

    Scale shape: DF counting is a partial-aggregated count over distinct
    (doc, segment); the boilerplate set broadcasts back over the corpus
    ONLY under ``broadcast_budget_rows`` (its cardinality is data-dependent
    — per-segment evidence is bounded by the frac·N threshold, the NUMBER
    of qualifying segments is not), else the anti-join runs as a plain
    shuffle-hash join on the same exact-string key; the corpus itself
    shuffles once, on doc_id, for re-assembly.
    """

    def _apply(df: DataFrame) -> DataFrame:
        from akka_stream_contrib_spark.util import pipeline_cache

        # three consumers (DF counting, the anti-join, per-doc totals) —
        # cache the exploded segment frame so the corpus explode runs once
        segs = pipeline_cache(df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), delim)).alias("pos", "seg")))
        n_docs = df.select(
            F.count(F.lit(1)).alias("_n_docs"))
        boiler = pipeline_cache(
            segs.select("doc_id", "seg").distinct()
            .groupBy("seg").agg(F.count(F.lit(1)).alias("_df"))
            .crossJoin(F.broadcast(n_docs))
            .filter(F.col("_df") > F.col("_n_docs") * F.lit(max_doc_frac))
            .select("seg")
        )
        kept = segs.join(
            _guarded_broadcast(boiler, broadcast_budget_rows,
                               "remove_boilerplate"),
            "seg", "left_anti")
        ordered = F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "seg"))),
            lambda s: s["seg"])
        totals = segs.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("_n_total"))
        return (
            kept.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_kept"), ordered.alias("_segs"))
            .join(totals, "doc_id")
            .select("doc_id",
                    F.array_join("_segs", delim).alias("clean_text"),
                    "n_kept",
                    (F.col("_n_total") - F.col("n_kept")).alias("n_removed"))
        )

    return _apply


def train_test_split(buckets: tuple[int, int] = (80, 90),
                     id_col: str = "doc_id",
                     ) -> Callable[[DataFrame], DataFrame]:
    """Deterministic train/val/test assignment by a portable content hash of
    the id: bucket = md5-prefix(id) % 100; < buckets[0] -> train,
    < buckets[1] -> val, else test.

    Hash-based (not `randomSplit`): assignment is a pure map-side expression,
    stable across reruns, backfills, partitioning changes and engines — the
    property a 100 TB pipeline needs so incremental runs never migrate a
    document between splits. Zero shuffles.
    """
    lo, hi = buckets

    def _apply(df: DataFrame) -> DataFrame:
        from akka_stream_contrib_spark.functions.text import token_id
        bucket = F.pmod(token_id(F.col(id_col).cast("string")), F.lit(100))
        return df.withColumn("split",
                             F.when(bucket < lo, "train")
                             .when(bucket < hi, "val")
                             .otherwise("test"))

    return _apply


def grouped_split(group_col: str, buckets: tuple[int, int] = (80, 90),
                  ) -> Callable[[DataFrame], DataFrame]:
    """Leakage-safe GROUP-aware train/val/test assignment: every row of a
    group (user, author, domain, session) lands in the SAME split, because
    the bucket is a portable hash of the GROUP key, not the row id. The
    standard defense against near-duplicate leakage across splits — two
    documents by one author (or two events of one user) straddling
    train/test lets a model memorize its way to inflated eval scores;
    :func:`train_test_split` (row-hash) cannot prevent that.

    Same properties as the row-level splitter: pure map-side expression,
    zero shuffles, stable across reruns/backfills/engines.
    """
    lo, hi = buckets

    def _apply(df: DataFrame) -> DataFrame:
        from akka_stream_contrib_spark.functions.text import token_id
        bucket = F.pmod(token_id(F.col(group_col).cast("string")),
                        F.lit(100))
        return df.withColumn("split",
                             F.when(bucket < lo, "train")
                             .when(bucket < hi, "val")
                             .otherwise("test"))

    return _apply


def purged_time_split(ts_col: str, train_frac: float = 0.7,
                      embargo_frac: float = 0.1,
                      ) -> Callable[[DataFrame], DataFrame]:
    """Temporal split with an EMBARGO gap for backtesting time-ordered
    data (the "purged" split of de Prado 2018, *Advances in Financial
    Machine Learning* ch. 7): train = the first ``train_frac`` of the
    observed time span, test = everything after ``train_frac +
    embargo_frac``, and the embargo slice between them is DROPPED from
    both sides — rows whose labels/feature windows straddle the boundary
    would otherwise leak future information into training.

    Cut points are fractions of the observed [min(ts), max(ts)] span —
    one single-row min/max aggregate broadcast back over the scan (the
    1-row-stats crossJoin convention), so the split is deterministic,
    data-derived, and adds no data shuffle.

    Emits the input rows plus ``split`` ∈ ('train', 'embargo', 'test');
    rows with a NULL timestamp get ``split = NULL`` — an undated row can't
    be placed on the timeline, and for a leakage-safety primitive silently
    routing it into the evaluation split (the old fall-through) is the
    worst possible default. Callers decide what NULL means for them.
    """
    if not (0 < train_frac and train_frac + embargo_frac < 1):
        raise ValueError("need 0 < train_frac and "
                         "train_frac + embargo_frac < 1")

    def _apply(df: DataFrame) -> DataFrame:
        from akka_stream_contrib_spark.util import epoch_micros
        us = epoch_micros(F.col(ts_col))
        bounds = df.agg(F.min(us).alias("_lo"), F.max(us).alias("_hi"))
        t = df.crossJoin(F.broadcast(bounds))
        span = (F.col("_hi") - F.col("_lo")).cast("double")
        cut1 = F.col("_lo") + (span * F.lit(float(train_frac))).cast("long")
        cut2 = F.col("_lo") + (span * F.lit(float(train_frac)
                                            + float(embargo_frac))
                               ).cast("long")
        return (t.withColumn("split",
                             F.when(us.isNull(), F.lit(None).cast("string"))
                             .when(us <= cut1, "train")
                             .when(us <= cut2, "embargo")
                             .otherwise("test"))
                .drop("_lo", "_hi"))

    return _apply


def mixture_sample(weights: dict[str, float], default: float = 0.0,
                   domain_col: str = "source", id_col: str = "doc_id",
                   ) -> Callable[[DataFrame], DataFrame]:
    """Domain-weighted mixture sampling with fractional repeat: a document in
    a domain with weight ``w`` is emitted ``floor(w)`` times plus one more
    with probability ``frac(w)`` — decided by a portable hash of its id, so
    the sample is deterministic. ``w < 1`` downsamples, ``w > 1`` upsamples
    (the standard way to hit per-domain token budgets when building a
    training mixture). Emits each copy with a 1-based ``copy_id``.

    Scale shape: pure map-side (hash + generator explode inside codegen) —
    zero shuffles; upsampling multiplies rows without ever materializing the
    corpus twice.
    """

    def _copies(hash_mod: Column) -> Column:
        # per-domain (floor, fractional-threshold-of-10000) as exact ints
        chain = None
        for dom, w in weights.items():
            base = int(w)
            thresh = int(round((w - base) * 10000))
            c = F.lit(base) + (hash_mod < thresh).cast("int")
            chain = F.when(F.col(domain_col) == dom, c) if chain is None \
                else chain.when(F.col(domain_col) == dom, c)
        dbase = int(default)
        dthresh = int(round((default - dbase) * 10000))
        dflt = F.lit(dbase) + (hash_mod < dthresh).cast("int")
        return chain.otherwise(dflt) if chain is not None else dflt

    def _apply(df: DataFrame) -> DataFrame:
        from akka_stream_contrib_spark.functions.text import token_id
        h = F.pmod(token_id(F.col(id_col).cast("string")), F.lit(10000))
        n = _copies(h)
        return (df.withColumn("_n_copies", n)
                .filter(F.col("_n_copies") >= 1)
                .withColumn("copy_id",
                            F.explode(F.sequence(F.lit(1), F.col("_n_copies"))))
                .drop("_n_copies"))

    return _apply


def length_sorted_batches(batch_size: int = 32, id_col: str = "doc_id",
                          text_col: str = "text"
                          ) -> Callable[[DataFrame], DataFrame]:
    """Length-sorted batch packing — the padding-waste minimizer a training
    loader runs: rank documents by token count over a TOTAL order (two-phase
    distributed rank, never a single-partition sort), assign consecutive
    ranks to the same fixed-size batch, and report per-batch padding stats:
    (batch_id, n_docs, max_tokens, sum_tokens, padding_waste) where
    ``padding_waste = n_docs * max_tokens - sum_tokens`` is the token count a
    pad-to-longest collator burns. Because neighbours in rank order have
    near-equal lengths, waste is near the achievable minimum for fixed-size
    batches.

    Scale shape: token counting is map-side; the rank is
    ``operators.global_order.global_rank`` (range shuffle + K-row driver
    summary); the batch aggregation shuffles (batch_id) — uniform by
    construction. No global sort anywhere."""

    def _apply(df: DataFrame) -> DataFrame:
        from akka_stream_contrib_spark.operators.global_order import global_rank
        d = df.select(
            F.col(id_col).alias("doc_id"),
            F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("n_tokens"))
        ranked = global_rank(d, ["n_tokens", "doc_id"], out="_rnk")
        batched = ranked.withColumn(
            "batch_id", F.expr(f"CAST((_rnk - 1) DIV {batch_size} AS BIGINT)"))
        return (
            batched.groupBy("batch_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.max("n_tokens").alias("max_tokens"),
                 F.sum("n_tokens").cast("bigint").alias("sum_tokens"))
            .withColumn("padding_waste",
                        (F.col("n_docs") * F.col("max_tokens")
                         - F.col("sum_tokens")).cast("bigint"))
        )

    return _apply


def negative_sampling(k: int = 4, id_col: str = "doc_id"
                      ) -> Callable[[DataFrame], DataFrame]:
    """Deterministic negative sampling for contrastive training: ``k``
    pseudo-random partner documents per document, reproducible on any engine
    (md5-prefix hash of (doc_id, slot) — no RNG state). Self-pairs are
    skipped by wrapping to the next ordinal. Emits
    (doc_id, slot, neg_doc_id).

    Scale shape: the (ordinal → id) table comes from the two-phase
    distributed rank; candidates join it by ordinal — a uniform-key hash
    join (the hash IS uniform), corpus-sized but never skewed, and the only
    shuffles are that join's. No driver-side id list, so non-dense /
    arbitrary id spaces work unchanged."""

    def _apply(df: DataFrame) -> DataFrame:
        from akka_stream_contrib_spark.functions.text import token_id
        from akka_stream_contrib_spark.operators.global_order import global_rank
        ids = df.select(F.col(id_col).alias("doc_id"))
        ords = global_rank(ids, ["doc_id"], out="ord")  # 1-based
        n = ords.count()
        if n == 1:
            # with one document the wrap pmod(c, 1) + 1 always lands back on
            # the anchor itself — every "negative" would BE the anchor,
            # silently poisoning a contrastive loss. An EMPTY corpus is not
            # poisoned — no anchors means no pairs, and the no-row plan
            # below emits exactly that (pmod's 0 divisor never evaluates).
            raise ValueError(
                "negative_sampling needs at least 2 documents "
                "(got 1) — a 1-doc corpus has no negatives")
        slots = ords.withColumn("slot", F.explode(
            F.sequence(F.lit(1), F.lit(k)))).select("doc_id", "ord", "slot")
        cand = F.pmod(
            token_id(F.concat_ws("#", F.col("doc_id"), F.col("slot"))),
            F.lit(n)) + F.lit(1)
        picked = slots.withColumn("_cand", cand).withColumn(
            "_neg_ord",
            F.when(F.col("_cand") == F.col("ord"),
                   F.pmod(F.col("_cand"), F.lit(n)) + F.lit(1))
            .otherwise(F.col("_cand")))
        lookup = ords.select(F.col("ord").alias("_neg_ord"),
                             F.col("doc_id").alias("neg_doc_id"))
        return (picked.join(lookup, "_neg_ord")
                .select("doc_id", F.col("slot").cast("bigint").alias("slot"),
                        "neg_doc_id"))

    return _apply


def contamination_score(train: DataFrame, eval_df: DataFrame, k: int = 3,
                        id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document contamination score for EVERY training document — the
    audit-table companion to `decontaminate` (which only emits docs with at
    least one hit): (doc_id, n_shingles, n_hits, containment, contaminated)
    where ``containment`` is the fraction of the doc's distinct k-word
    shingles that appear anywhere in the eval set and ``contaminated``
    applies the conventional ≥ 0.8 containment threshold (Brown et al. 2020
    §C-style n-gram decontamination, re-expressed as a broadcast semi-join).

    Same scale shape as `decontaminate`: the eval shingle set is tiny and
    broadcast; the corpus shingles stream map-side through the hash lookup
    and aggregate once on doc_id — the hit count and the shingle count come
    out of ONE aggregation pass (conditional sum), not two joined ones.
    """
    from akka_stream_contrib_spark.functions.dedup import shingles

    tr = shingles(train, k=k, id_col=id_col, text_col=text_col)
    ev = (shingles(eval_df, k=k, id_col=id_col, text_col=text_col)
          .select("shingle").distinct().withColumn("_hit", F.lit(1)))
    scored = (
        tr.join(F.broadcast(ev), "shingle", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"),
             F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint")
             .alias("n_hits"))
    )
    # EVERY training document appears — docs too short to shingle (< k
    # tokens, or NULL text) audit as zero shingles / zero containment
    # rather than silently vanishing from the table
    all_docs = train.select(F.col(id_col).alias("doc_id")).distinct()
    return (all_docs.join(scored, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_shingles", F.lit(0)).cast("bigint")
                .alias("n_shingles"),
                F.coalesce("n_hits", F.lit(0)).cast("bigint")
                .alias("n_hits"))
            .withColumn(
                "containment",
                F.when(F.col("n_shingles") > 0,
                       F.round(F.col("n_hits") / F.col("n_shingles"), 6)
                       + F.lit(0.0)).otherwise(F.lit(0.0)))
            .withColumn("contaminated", F.col("containment") >= 0.8))


def mixture_weights(alpha: float = 0.5, domain_col: str = "source",
                    text_col: str = "text") -> Callable[[DataFrame], DataFrame]:
    """Temperature-scaled domain mixture weights: sampling probability
    p_d ∝ n_d^alpha over per-domain token counts (alpha=1 → natural
    distribution, alpha→0 → uniform; the multilingual/multi-domain
    rebalancing rule of Conneau & Lample 2019 / XLM-R). Emits one row per
    domain: (source, n_docs, n_tokens, natural_share, weight) where
    ``weight`` is the normalized p_d and ``natural_share`` = n_d / Σ n_d,
    so the upsampling factor is weight / natural_share.

    Scale shape: one partial-aggregated groupBy on the domain key (domain
    cardinality is tiny), then the normalization constant via a 1-row
    broadcast cross join — the corpus is scanned exactly once; exponentiation
    happens on the DOMAIN aggregate rows, never per document.
    """

    def _apply(df: DataFrame) -> DataFrame:
        from akka_stream_contrib_spark.util import pipeline_cache
        # two consumers (normalizer + final projection): cache the
        # ≤ |domains|-row aggregate so the corpus scan+tokenize runs ONCE,
        # matching the docstring's single-scan claim
        per = pipeline_cache(
            df.groupBy(F.col(domain_col).alias("source"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.size(F.split(F.col(text_col), " "))).cast("bigint")
                 .alias("n_tokens")))
        tot = per.agg(
            F.sum("n_tokens").alias("_tot"),
            F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(float(alpha))))
            .alias("_z"))
        return (per.crossJoin(F.broadcast(tot))
                .select("source", "n_docs", "n_tokens",
                        (F.round(F.col("n_tokens") / F.col("_tot"), 6)
                         + F.lit(0.0)).alias("natural_share"),
                        (F.round(F.pow(F.col("n_tokens").cast("double"),
                                       F.lit(float(alpha))) / F.col("_z"), 6)
                         + F.lit(0.0)).alias("weight")))

    return _apply


def robust_scale(key: str, value: str = "value",
                 ) -> Callable[[DataFrame], DataFrame]:
    """Per-group robust standardization: ``(x − median) / (1.4826·MAD)``
    — the outlier-immune sibling of the z-score (median and MAD have a
    50% breakdown point where mean/stddev have 0%; 1.4826 makes MAD a
    consistent σ estimator under normality). The feature transform to
    reach for when heavy tails would let a single outlier deflate every
    other row's z-score (`rolling_zscore`'s failure mode on corrupt
    feeds).

    Plan: two group aggregates over the scan (exact interpolated median,
    then MAD of deviations — the `mad_by_type` recipe) broadcast back
    over the rows; the scale itself is one map-side expression. Both
    statistics are rounded to 6 dp BEFORE the division so the output is
    engine-exact. Zero-MAD groups (constant value) yield NULL — no
    meaningful scale exists.

    Emits the input rows plus ``median``, ``mad``, ``robust_z``.
    """
    def _apply(df: DataFrame) -> DataFrame:
        med = df.groupBy(key).agg(
            F.round(F.expr(f"percentile({value}, 0.5)"), 6).alias("median"))
        mad = (df.join(F.broadcast(med), key)
               .groupBy(key, "median")
               .agg(F.round(F.expr(
                   f"percentile(abs({value} - median), 0.5)"), 6)
                   .alias("mad")))
        z = F.when(F.col("mad") > 0,
                   (F.col(value) - F.col("median"))
                   / (F.lit(1.4826) * F.col("mad")))
        return (df.join(F.broadcast(mad), key)
                .withColumn("robust_z", F.round(z, 6) + F.lit(0.0)))

    return _apply


def kfold_split(k: int = 5, id_col: str = "doc_id"
                ) -> Callable[[DataFrame], DataFrame]:
    """Deterministic k-fold assignment for cross-validation: fold =
    md5-hash(id) mod k — a pure map-side expression (zero shuffles), stable
    across runs/engines/partitionings, and uniform across folds. Emits the
    input rows with a ``fold`` column; filter ``fold != i`` / ``fold == i``
    for the train/validation split of round i."""
    if k < 2:
        raise ValueError("kfold_split needs k >= 2")

    def _apply(df: DataFrame) -> DataFrame:
        from akka_stream_contrib_spark.functions.text import token_id
        return df.withColumn(
            "fold", F.pmod(token_id(F.col(id_col).cast("string")),
                           F.lit(k)).cast("int"))

    return _apply


def quantile_normalize(key: str, value: str = "value",
                       seq: str | None = None
                       ) -> Callable[[DataFrame], DataFrame]:
    """Per-group quantile (rank) normalization — map every value to its
    percent rank within its group, the outlier-robust feature transform
    (rank-gauss without the gaussianization step). ``seq`` breaks ties for
    a total order so the output is engine-deterministic.

    Scale shape (r11, requires ``seq``): the group key is typically
    low-cardinality (event types), so a plain Window.partitionBy(key)
    sorts the WHOLE corpus in ≤|keys| reducer tasks — the hot-key
    straggler shape at 100 TB. With ``seq`` the order (key, value, seq)
    is TOTAL, so ranks come from the keyed range rank
    (``global_order.global_rank_total``), whose per-key totals also supply
    percent_rank's n−1 denominator. percent_rank over a total order IS
    (row_number−1)/(n−1) — the identical double division (0.0 for a 1-row
    group, Spark's convention). Without ``seq`` ties make range boundaries
    unsafe and the single-window form is kept."""

    def _apply(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window
        if seq is None:
            w = Window.partitionBy(key).orderBy(F.col(value))
            return df.withColumn(
                "pct", (F.round(F.percent_rank().over(w), 6) + F.lit(0.0)))

        from akka_stream_contrib_spark.operators.global_order import (
            global_rank_total, summary_lookup)
        ranked, n_key = global_rank_total(df, [key, value, seq], "_rk",
                                          partition_by=key)
        n_tot = summary_lookup(n_key, [key], ranked)
        pct = F.when(
            n_tot > 1,
            F.round((F.col("_rk") - F.lit(1)).cast("double")
                    / (n_tot - F.lit(1)).cast("double"), 6) + F.lit(0.0)
        ).otherwise(F.lit(0.0))
        return ranked.withColumn("pct", pct).drop("_rk")

    return _apply


def weighted_sample(n: int, weight, id_col: str = "doc_id",
                    ) -> Callable[[DataFrame], DataFrame]:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    draw ``n`` rows with inclusion probability proportional to ``weight``
    by ranking on ``u^(1/w)`` — equivalently ``-ln(u)/w`` ascending — with
    ``u`` a DETERMINISTIC per-row uniform derived from the md5 hash of the
    id (no RNG state, identical on any engine and any partitioning; the
    same device as `mixture_sample`/`train_test_split`). The quality- or
    length-weighted subsampling step of corpus curation.

    Scale shape: the key is a map-side expression; selection is a
    TakeOrdered top-n (no global sort). Emits the sampled rows with their
    ``sample_key``.
    """

    def _apply(df: DataFrame) -> DataFrame:
        from akka_stream_contrib_spark.functions.text import token_id
        # u in (0,1): (h + 0.5) / 2^32 over the 32-bit hash — never 0 or 1
        u = (token_id(F.col(id_col).cast("string")).cast("double")
             + F.lit(0.5)) / F.lit(float(1 << 32))
        w = weight if isinstance(weight, Column) else F.col(weight)
        key = -F.log(u) / w.cast("double")
        # weight <= 0 means "never sampled" — unfiltered, -log(u)/0 is NULL
        # (non-ANSI), which sorts FIRST ascending and would fill the sample
        # with exactly the excluded rows (or throw under ANSI division)
        return (df.filter(w.cast("double") > 0)
                .withColumn("sample_key", F.round(key, 9))
                .orderBy("sample_key", id_col)
                .limit(n))

    return _apply


def dsir_weights(is_target, n_buckets: int = 128, k: float = 0.5,
                 id_col: str = "doc_id", text_col: str = "text"
                 ) -> Callable[[DataFrame], DataFrame]:
    """Data Selection with Importance Resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169): score every document by the log importance weight
    ``log p_target(x) - log p_raw(x)`` under two hashed bag-of-n-gram
    models — the standard device for tilting a raw crawl toward a target
    domain before pretraining. ``is_target`` is a boolean Column marking
    the in-domain rows of the SAME corpus (e.g. ``F.col("lang") == "en"``);
    both models are add-k-smoothed over ``n_buckets`` hashed buckets of
    the documents' unigrams + bigrams.

    Output: (doc_id, n_grams, logweight) — resample with
    ``weighted_sample`` or rank on ``logweight`` directly.

    Scale shape: grams explode map-side; one shuffle to the per-(doc,
    bucket) count table; the two bucket LMs reduce that table (≤ n_buckets
    rows each) and broadcast back as a log-ratio lookup, so the raw gram
    stream is never joined against anything big; one final shuffle per doc.
    Engine-stable: the per-bucket log ratio rounds to 9 dp and becomes an
    EXACT decimal; per-doc totals are integer-count × decimal sums (no
    unordered double accumulation anywhere).

    NULL-text documents are dropped (they contribute no grams and have no
    defined weight — same row semantics as the explode-based formulation).
    Note: building the plan runs ONE bounded Spark job eagerly (the
    ≤ n_buckets-row log-ratio LUT is collected to the driver so scoring
    stays a pure map-side projection).
    """

    def _apply(df: DataFrame) -> DataFrame:
        from decimal import Decimal

        from akka_stream_contrib_spark.functions.text import token_id

        b = F.lit(n_buckets)
        df = df.filter(F.col(text_col).isNotNull())
        toks = df.select(
            F.col(id_col).alias("doc_id"),
            is_target.cast("int").alias("_is_t"),
            F.split(F.lower(F.col(text_col)), " ").alias("_t"))
        n1 = F.greatest(F.size("_t") - 1, F.lit(0))
        bi_arr = F.zip_with(F.slice("_t", 1, n1), F.slice("_t", 2, n1),
                            lambda a, x: F.concat_ws(" ", a, x))
        toks = toks.withColumn("_g", F.concat("_t", bi_arr))
        # PASS 1 — the bucket LMs: single explode of unigrams ++ bigrams,
        # groupBy(bucket) collapses map-side to <= n_buckets rows per task,
        # so the only shuffle moves ~tasks x n_buckets tiny rows. The ratio
        # is computed in Spark SQL on the <= n_buckets-row frame with the
        # SAME expression as before (bit-identical to the oracle), then the
        # ROUNDED decimals are collected — a bounded n_buckets-row driver
        # summary, same budget class as global_order's prefix offsets.
        grams = toks.select(
            "_is_t", F.explode("_g").alias("gram"))
        buckets = (grams
                   .select(F.pmod(token_id(F.col("gram")), b).alias("bucket"),
                           "_is_t")
                   .groupBy("bucket")
                   .agg(F.sum(F.when(F.col("_is_t") == 1, F.lit(1))
                              .otherwise(F.lit(0))).alias("ct"),
                        F.count(F.lit(1)).alias("cr")))
        totals = buckets.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
        kk = F.lit(float(k))
        ratio = F.round(
            F.log((F.col("ct") + kk) / (F.col("nt") + kk * b))
            - F.log((F.col("cr") + kk) / (F.col("nr") + kk * b)),
            9).cast("decimal(15,9)")
        lut_rows = (buckets.crossJoin(F.broadcast(totals))
                    .select("bucket", ratio.alias("_ratio")).collect())
        # PASS 2 — scoring is a pure map-side projection: the 9-dp ratios
        # become a literal nano-unit bigint array (exact — decimal(15,9)
        # x 1e9 is an integer) and each doc folds its own gram array
        # through it. logweight = Σ_gram ratio[bucket(gram)] — identical
        # to the old Σ cnt·ratio since integer/decimal addition is exact
        # and associative. NO per-doc shuffle, NO cache, NO join: the
        # 100 TB cost is two corpus scans and one n_buckets-row shuffle.
        nanos = [0] * n_buckets
        for r in lut_rows:
            nanos[int(r["bucket"])] = int(
                (r["_ratio"] * Decimal(10) ** 9).to_integral_value())
        lut_arr = F.array(*[F.lit(v).cast("bigint") for v in nanos])
        bucket_of = lambda g: F.pmod(token_id(g), b).cast("int")  # noqa: E731
        lw_nanos = F.aggregate(
            F.col("_g"), F.lit(0).cast("bigint"),
            lambda acc, g: acc + F.element_at(lut_arr, bucket_of(g) + 1))
        logweight = (F.round(
            (lw_nanos.cast("decimal(28,0)")
             * F.lit(Decimal("0.000000001"))).cast("double"), 6)
            + F.lit(0.0))
        return toks.select(
            "doc_id",
            F.size("_g").cast("bigint").alias("n_grams"),
            logweight.alias("logweight"))

    return _apply


def curriculum_order(stages: int, score, id_col: str = "doc_id"
                     ) -> Callable[[DataFrame], DataFrame]:
    """Curriculum-learning data order: split the corpus into ``stages``
    equal-size difficulty stages by descending ``score`` (stage 0 = the
    easiest/highest-scoring quarter, the usual easy-to-hard schedule),
    then give every row a deterministic position WITHIN its stage by a
    hash shuffle of its id (so each stage streams in a fixed but
    uncorrelated order). Output: (doc_id, stage, within_pos).

    Scale shape: both total orders come from the distributed global-rank
    primitive (operators/global_order.py — range-partition + per-partition
    window + broadcast prefix offsets; no single-partition sort anywhere).
    Stage boundaries derive from the global rank arithmetically and the
    within-stage position subtracts a broadcast per-stage offset — the
    plan has no ``stages``-way skewed window.
    """

    def _apply(df: DataFrame) -> DataFrame:
        from akka_stream_contrib_spark.functions.text import token_id
        from akka_stream_contrib_spark.operators.global_order import (
            global_rank, global_rank_total)
        s = score if isinstance(score, Column) else F.col(score)
        base = df.select(F.col(id_col).alias("doc_id"),
                         (-s.cast("double")).alias("_neg"),
                         token_id(F.col(id_col).cast("string")).alias("_shuf"))
        # total from the rank pass's own driver summary (literal) — no
        # second count aggregate, no broadcast crossJoin
        r1, n = global_rank_total(base, ["_neg", "doc_id"], out="_grk")
        staged = r1.withColumn(
            "stage",
            F.floor((F.col("_grk") - 1) * F.lit(stages)
                    / F.lit(max(int(n), 1))).cast("int"))
        r2 = global_rank(staged.select("doc_id", "stage", "_shuf"),
                         ["stage", "_shuf", "doc_id"], out="_grk2")
        offs = r2.groupBy("stage").agg((F.min("_grk2") - 1).alias("_off"))
        return (r2.join(F.broadcast(offs), "stage")
                .select("doc_id", "stage",
                        (F.col("_grk2") - F.col("_off")).alias("within_pos")))

    return _apply


def segment_dedup(seg_tokens: int = 8, id_col: str = "doc_id",
                  text_col: str = "text") -> Callable[[DataFrame], DataFrame]:
    """C4-style exact segment dedup ACROSS the corpus: split every document
    into non-overlapping ``seg_tokens``-token segments, keep only the
    FIRST occurrence of each distinct segment corpus-wide (ordered by
    (doc_id, position) — the C4 paper deduplicates exact three-sentence
    spans the same keep-first way), and reassemble each document from its
    surviving segments. Complements `remove_boilerplate` (which drops
    high-DF segments everywhere) and `span_dedup` (token-level overlap):
    this one removes *later copies* while always preserving one.

    Output: (doc_id, dedup_text, n_kept, n_dropped) — documents whose
    every segment was seen earlier disappear (fully duplicated).

    Scale shape: two shuffles — segment-content window (keep-first needs
    the global order within each identical-segment group only) and the
    doc_id reassembly groupBy. Segment groups are as skewed as the
    duplication itself; a pathological corpus (one segment duplicated
    everywhere) concentrates one group — pre-aggregate with a count if
    that regime is expected.
    """

    def _apply(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window
        st = seg_tokens
        toks = df.select(F.col(id_col).alias("doc_id"),
                         F.split(F.col(text_col), " ").alias("_t"))
        n_seg = F.ceil(F.size("_t") / F.lit(float(st))).cast("int")
        idx = F.when(n_seg >= 1, F.sequence(F.lit(0), n_seg - 1)) \
               .otherwise(F.array().cast("array<int>"))
        segs = toks.select(
            "doc_id",
            F.posexplode(F.transform(
                idx,
                lambda i: F.concat_ws(" ", F.slice("_t", i * st + 1, st))))
            .alias("pos", "seg"))
        w = Window.partitionBy("seg").orderBy("doc_id", "pos")
        kept = (segs.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1))
        totals = segs.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("_n_total"))
        ordered = F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "seg"))),
            lambda s: s["seg"])
        return (kept.groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_kept"), ordered.alias("_segs"))
                .join(totals, "doc_id")
                .select("doc_id",
                        F.array_join("_segs", " ").alias("dedup_text"),
                        "n_kept",
                        (F.col("_n_total") - F.col("n_kept"))
                        .alias("n_dropped")))

    return _apply


def neyman_allocation(n_total: int, stratum_col: str = "event_type",
                      value_col: str = "value", id_col: str = "event_id"
                      ) -> Callable[[DataFrame], DataFrame]:
    """Neyman-optimal stratified sample allocation: stratum h receives
    ``n_h = floor(n_total · N_h·S_h / Σ N·S)`` — the variance-minimizing
    split of a fixed survey budget (Neyman 1934). Selection within each
    stratum is by portable hash of the id, so the sample is deterministic
    on any engine/partitioning. Emits one summary row per stratum:
    (stratum, n_stratum, sigma, alloc, n_kept, kept_id_sum) — kept_id_sum
    is an exact integer checksum of the selected ids, verifiable without
    materializing the sample.

    Scale shape: stratum moments reduce from ONE pass of decimal-exact
    sums (Σx, Σx² — variance from exact integers, no unordered float
    accumulation); the ≤|strata|-row allocation table broadcasts back and
    per-stratum rank is the salted two-phase top-n
    (``global_order.salted_top_n``).
    """

    def _apply(df: DataFrame) -> DataFrame:
        from akka_stream_contrib_spark.functions.text import token_id
        from akka_stream_contrib_spark.operators.global_order import (
            salted_top_n)
        from akka_stream_contrib_spark.util import drop_stale_caches
        drop_stale_caches()
        x = F.col(value_col).cast("decimal(18,4)")
        mom = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
            F.count(F.lit(1)).alias("n_stratum"),
            F.sum(x).alias("_sx"),
            F.sum(x * x).alias("_sxx"))
        var = ((F.col("_sxx").cast("double")
                - F.col("_sx").cast("double") * F.col("_sx").cast("double")
                / F.col("n_stratum")) / F.col("n_stratum"))
        # cancellation on huge constant-ish values can push the exact-sum
        # variance epsilon-negative: clamp, or sqrt -> NaN silently
        # unsamples the stratum
        mom = mom.withColumn(
            "sigma", F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6))
        # weight totals accumulate as EXACT decimal (the 6dp sigma is
        # decimal-representable) so the allocation is engine-stable
        mom = mom.withColumn(
            "_w", F.col("n_stratum") * F.col("sigma").cast("decimal(18,6)"))
        # the <=|strata|-row moments table feeds the total AND the
        # allocation join — cache it so the events scan runs once;
        # registered for release by the next pipeline's entry
        from akka_stream_contrib_spark.util import pipeline_cache
        mom = pipeline_cache(mom)
        tot = mom.agg(F.sum("_w").alias("_tw"),
                      F.sum("n_stratum").alias("_tn"))
        # degenerate corpus (every stratum constant-valued / singleton):
        # all sigma = 0 so total weight = 0, and 0/0 -> NaN -> floor(NaN)=0
        # silently vanished the whole budget; fall back to PROPORTIONAL
        # allocation (the standard Neyman degenerate case)
        neyman = (F.lit(n_total) * F.col("_w").cast("double")
                  / F.col("_tw").cast("double"))
        proportional = (F.lit(n_total) * F.col("n_stratum").cast("double")
                        / F.col("_tn").cast("double"))
        alloc = (mom.crossJoin(F.broadcast(tot))
                 .withColumn("alloc",
                             F.floor(F.when(F.col("_tw") > 0, neyman)
                                     .otherwise(proportional))
                             .cast("bigint"))
                 .select("stratum", "n_stratum", "sigma", "alloc"))
        # Per-stratum hash-rank selection: stratum cardinality is tiny
        # (event types), so it runs as the salted two-phase top-n
        # (global_order.salted_top_n). Every stratum's allocation is
        # <= n_total (a floor of a <=1 share of n_total), so the top
        # n_total rows per stratum hold every kept row.
        sel = df.select(F.col(stratum_col).alias("stratum"),
                        F.col(id_col).alias("_id"),
                        token_id(F.col(id_col).cast("string")).alias("_h"))
        ranked = salted_top_n(sel, "stratum", ["_h", "_id"], n_total, "_id",
                              "_rk")
        kept = (ranked.join(F.broadcast(alloc), "stratum")
                .filter(F.col("_rk") <= F.col("alloc"))
                .groupBy("stratum")
                .agg(F.count(F.lit(1)).alias("n_kept"),
                     F.sum("_id").alias("kept_id_sum")))
        return (alloc.join(kept, "stratum", "left")
                .select("stratum", "n_stratum", "sigma", "alloc",
                        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                        F.coalesce("kept_id_sum", F.lit(0))
                        .alias("kept_id_sum")))

    return _apply


def token_budget_fill(budget_num: int = 3, budget_den: int = 10,
                      id_col: str = "doc_id", text_col: str = "text"
                      ) -> Callable[[DataFrame], DataFrame]:
    """Quality-greedy token-budget selection: rank every document by a
    lexical-diversity quality proxy (distinct-token ratio, the ``f5``
    feature of `functions/ml.py`'s quality model) and keep the best
    documents until their cumulative token count fills the budget —
    ``budget_num/budget_den`` of the corpus's total tokens (integer
    arithmetic, engine-exact). This is the standard curation step "fill an
    N-token training budget with the highest-quality documents first".

    Emits (id, n_tok, quality, cum_tok) for the selected documents;
    ``cum_tok`` is the inclusive running token total under the
    (quality DESC, id) order, so ``max(cum_tok) <= floor(total·frac)``.

    Scale shape (100 TB): the quality score and token count are one
    map-side projection; the global greedy prefix is
    `operators/global_order.py`'s two-phase range form (range shuffle on
    the sort key + a K-row driver summary — never a single-partition
    window); the corpus-total budget is a single-row aggregate broadcast
    back over the ranked frame. NULL-text documents are excluded (they
    carry no tokens to spend).
    """

    def _apply(df: DataFrame) -> DataFrame:
        from akka_stream_contrib_spark.operators.global_order import (
            global_running_agg_total)

        toks = (df.filter(F.col(text_col).isNotNull())
                .select(F.col(id_col),
                        F.split(F.col(text_col), " ").alias("_t")))
        q = toks.select(
            F.col(id_col),
            F.size("_t").cast("long").alias("n_tok"),
            (F.round(F.size(F.array_distinct("_t")).cast("double")
                     / F.size("_t").cast("double"), 6) + F.lit(0.0))
            .alias("quality"))
        # descending quality via a negated sort key (repartitionByRange in
        # the two-phase prefix sorts ascending)
        keyed = q.withColumn("_negq", -F.col("quality"))
        # corpus total = the running sum's OWN complete fold, read from the
        # two-phase pass's K-row driver summary (global_running_agg_total)
        # — no second aggregate over the cached frame, no broadcast
        # crossJoin of its 1-row result; the budget threshold bakes in as
        # a literal (integer arithmetic, identical to the old SQL DIV on
        # non-negative totals)
        cum, (total,) = global_running_agg_total(
            keyed, ["_negq", id_col], "n_tok", "cum_tok", fn="sum")
        cum = cum.drop("_negq")
        thresh = (budget_num * int(total)) // budget_den if total else 0
        return (cum.filter(F.col("cum_tok") <= F.lit(thresh).cast("long"))
                .select(id_col, "n_tok", "quality",
                        F.col("cum_tok").cast("long").alias("cum_tok")))

    return _apply


def balanced_shards(n_shards: int = 32, id_col: str = "doc_id",
                    text_col: str = "text"
                    ) -> Callable[[DataFrame], DataFrame]:
    """Token-balanced output sharding: assign every document to one of
    ``n_shards`` shards so shard token totals come out near-equal —
    round-robin over the documents in DESCENDING token order (the greedy
    longest-processing-time heuristic's fixed-order cousin: the large
    documents spread first, the small ones fill the tails). This is the
    standard "write N training shards of ~equal token count" step; a
    size-oblivious hash split leaves shards unbalanced by the token-count
    variance, which serializes the tail of any shard-parallel consumer.

    Emits (id, n_tok, shard). NULL-text documents are excluded.

    Scale shape (100 TB): the global size-descending rank is
    `operators/global_order.py::global_rank` — range shuffle on the sort
    key + a K-row broadcast prefix, never a single-partition window; the
    shard id is then a map-side modulo. One exchange total.
    """

    def _apply(df: DataFrame) -> DataFrame:
        from akka_stream_contrib_spark.operators.global_order import (
            global_rank)

        toks = (df.filter(F.col(text_col).isNotNull())
                .select(F.col(id_col),
                        F.size(F.split(F.col(text_col), " "))
                        .cast("long").alias("n_tok")))
        ranked = global_rank(toks.withColumn("_negn", -F.col("n_tok")),
                             ["_negn", id_col], out="_grk")
        return ranked.select(
            id_col, "n_tok",
            ((F.col("_grk") - 1) % n_shards).cast("int").alias("shard"))

    return _apply


def zipf_fit(top_k: int = 500, text_col: str = "text"
             ) -> Callable[[DataFrame], DataFrame]:
    """Corpus-health check: least-squares fit of ``ln(freq) = intercept +
    slope·ln(rank)`` over the ``top_k`` most frequent alphabetic tokens —
    natural language sits near the Zipf slope of −1; heavily templated or
    machine-generated corpora drift toward 0 (flat) or below −1.5 (spammy
    repetition), so the slope is a cheap one-number drift monitor for a
    training corpus.

    Plan shape: the ``vocab_topk`` reduction (explode → partial-aggregated
    count → TakeOrdered, never a global vocabulary sort) picks the top_k
    (freq desc, token asc) tokens; ranks come from a plain row_number over
    the ≤ top_k-row result (the benign post-limit WindowExec, same as
    `rrf_fusion`/`ndcg_at_k` — bounded work no matter the corpus size).
    Regression moments sum as exact decimals of 9-dp-rounded logs (the
    `psi_drift` device); the slope division is guarded, so a degenerate
    single-token vocabulary yields NULL instead of an ANSI
    divide-by-zero.

    Reference anchor: none (corpus-curation extension; same family as
    vocab_topk / corpus_report).
    """

    def _apply(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        top = df.transform(vocab_topk(k=top_k, text_col=text_col))
        ranked = top.withColumn(
            "rank", F.row_number().over(
                Window.orderBy(F.desc("freq"), "token")))
        x = F.round(F.log(F.col("rank").cast("double")), 9) \
            .cast("decimal(18,9)")
        y = F.round(F.log(F.col("freq").cast("double")), 9) \
            .cast("decimal(18,9)")
        m = ranked.select(x.alias("x"), y.alias("y")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"), F.sum("y").alias("sy"),
            F.sum((F.col("x") * F.col("y")).cast("decimal(38,18)"))
            .alias("sxy"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,18)"))
            .alias("sxx"))
        n = F.col("n").cast("double")
        sx = F.col("sx").cast("double")
        sy = F.col("sy").cast("double")
        sxy = F.col("sxy").cast("double")
        sxx = F.col("sxx").cast("double")
        # a single-distinct-token vocabulary gives rank=1 → x=0 for every
        # row and an exactly-zero denominator: NULL, not ANSI
        # divide-by-zero (the degenerate templated corpus this monitor
        # exists to flag)
        den = n * sxx - sx * sx
        slope = F.when(den != 0, (n * sxy - sx * sy) / den)
        intercept = F.when(F.col("n") > 0, (sy - slope * sx) / n)
        return m.select(
            (F.round(slope, 6) + F.lit(0.0)).alias("zipf_slope"),
            (F.round(intercept, 6) + F.lit(0.0)).alias("zipf_intercept"),
            F.col("n").alias("n_terms"))

    return _apply


def perplexity_split(lp_col: str = "logprob", id_col: str = "doc_id",
                     n_buckets: int = 3):
    """CCNet-style perplexity split (Wenzek et al. 2020): rank documents by
    LM score and cut the ranking into ``n_buckets`` equal-count buckets —
    head/middle/tail when 3 — so downstream mixing can oversample the
    head and drop the tail. Composes with `text.bigram_logprob_score`
    (or any external-LM score column).

    Engine-exact: the score column is already a 6-dp-rounded double
    (identical in both engines), ranks come from the two-phase range rank
    (`global_rank` — key cardinality is corpus-sized, so NEVER a
    single-partition window), and the bucket is pure integer arithmetic
    ``(n_buckets·(rank−1)) div n`` — no float thresholds, no quantile
    estimation. Ties rank by (score, id). Returns one row per scored doc
    (id, score, ppl_bucket) with bucket 0 = lowest scores (the tail to
    drop when the score is a log-probability).

    Reference anchor: none (corpus-curation extension; family of
    curriculum_order / mixture_sample; algorithm from the public CCNet
    paper).
    """
    from akka_stream_contrib_spark.operators.global_order import (
        global_rank_total)

    def _apply(df: DataFrame) -> DataFrame:
        if n_buckets < 1:
            raise ValueError(f"perplexity_split: n_buckets >= 1, "
                             f"got {n_buckets}")
        # the total comes from the rank pass's own K-row driver summary
        # (global_rank_total) and bakes in as a literal — no second count
        # aggregate over the ranked frame, no broadcast crossJoin
        ranked, n = global_rank_total(df.select(id_col, lp_col),
                                      [lp_col, id_col], out="_r")
        # integer DIV, not a double divide + int cast: Spark's
        # double->int cast truncates while DuckDB's ROUNDS — the integer
        # form is identical in both engines by construction
        bucket = F.expr(
            f"CAST(({n_buckets} * (_r - 1)) DIV {max(int(n), 1)} AS INT)")
        return ranked.select(id_col, lp_col, bucket.alias("ppl_bucket"))

    return _apply


def common_line_filter(max_doc_freq: int = 5, min_line_chars: int = 10,
                       id_col: str = "doc_id", text_col: str = "text",
                       broadcast_budget_rows: int =
                       CONDEMNED_BROADCAST_BUDGET_ROWS,
                       ) -> Callable[[DataFrame], DataFrame]:
    """CCNet-style boilerplate LINE removal: a line (newline-delimited)
    that appears verbatim in more than ``max_doc_freq`` distinct documents
    is boilerplate (nav menus, cookie banners, footers — the web-corpus
    noise that survives per-document dedup because every page carries it
    once) and is stripped from every document. Lines shorter than
    ``min_line_chars`` are kept unconditionally (too little signal to
    condemn; also keeps headers/bullets).

    Plan: one explode of (doc, pos, line) (cached — the frequency agg and
    the join probe both consume it, the ngram_jaccard discipline); the
    line-frequency table is ONE partial-aggregated groupBy on the LINE
    ITSELF (boilerplate lines collapse map-side exactly because they
    repeat; keying by the raw string, not a 32-bit hash, is what makes the
    condemnation collision-free at corpus scale — a hash key would strip
    innocent colliding lines); the condemned set broadcasts back over the
    line stream ONLY under ``broadcast_budget_rows`` — its cardinality is
    data-dependent (per-line evidence is bounded by the max_doc_freq
    threshold, the NUMBER of qualifying nav/footer lines grows with the
    number of crawled sites/templates), so over budget the probe join falls
    back to a plain shuffle-hash join on the same exact-string key — see
    :func:`_guarded_broadcast`; per-doc reassembly is a groupBy collecting (pos, line)
    structs — ``array_sort`` on the struct restores original order without
    a window. Two key shuffles on the broadcast path (three when the
    over-budget fallback re-keys the probe side), no all-pairs, no driver
    state: the 100 TB shape for this operator.

    Relationship to :func:`remove_boilerplate` (same file): that operator
    is the FRACTIONAL-df CCNet cleanup (drop segments in > frac·N docs,
    drop emptied docs); this one is its absolute-threshold sibling for
    streaming-corpus hygiene — fixed df cap independent of corpus size,
    short-line immunity, and emptied docs kept (empty text IS the
    quarantine signal). Both key the condemnation by the raw segment.

    Emits (doc_id, text, n_lines_kept, n_lines_dropped); documents whose
    every line was boilerplate come back with empty text, NULL-text docs
    are dropped (no lines — same row semantics as the other explode-based
    text operators).
    """

    def _apply(df: DataFrame) -> DataFrame:
        from akka_stream_contrib_spark.util import pipeline_cache

        lines = pipeline_cache(
            df.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("doc_id"),
                    F.posexplode(F.split(text_col, "\n"))
                    .alias("pos", "line")))
        cond = pipeline_cache(
            lines
            .filter(F.length("line") >= min_line_chars)
            .groupBy("line")
            .agg(F.countDistinct("doc_id").alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("line", F.lit(True).alias("_boiler")))
        marked = (lines.join(
            _guarded_broadcast(cond, broadcast_budget_rows,
                               "common_line_filter"),
            "line", "left")
                  .withColumn("_drop",
                              F.col("_boiler").isNotNull()
                              & (F.length("line") >= min_line_chars)))
        return (marked.groupBy("doc_id")
                .agg(F.array_sort(F.collect_list(
                         F.when(~F.col("_drop"),
                                F.struct("pos", "line")))).alias("_kept"),
                     F.sum(F.when(F.col("_drop"), 1).otherwise(0))
                     .cast("bigint").alias("n_lines_dropped"))
                .select("doc_id",
                        F.array_join(F.transform("_kept", lambda s: s.line),
                                     "\n").alias(text_col),
                        F.size("_kept").cast("bigint").alias("n_lines_kept"),
                        "n_lines_dropped"))

    return _apply


def chat_to_training_text(system_prompt: str = "",
                          id_col: str = "conv_id",
                          turns_col: str = "turns",
                          ) -> Callable[[DataFrame], DataFrame]:
    """Chat-transcript → SFT training-text flattening: render an array of
    (role, content) turns into one templated string and emit the LOSS-MASK
    SPANS — the [start, end) character ranges of assistant content inside
    the rendered text (everything else is masked out of the loss). The
    step between a curated conversation corpus and a tokenizer.

    Template (fixed, versioned by this function):
    ``[SYS]\\n{system}\\n`` (when non-empty), then per turn
    ``[USER]\\n{content}\\n`` or ``[ASSISTANT]\\n{content}\\n``.

    Everything is array-fold codegen: one ``aggregate`` over the turns
    array accumulates (rendered-so-far-length, spans, text) — zero
    shuffles, zero Python; scales with scan bandwidth. Emits (conv_id,
    text, n_turns, assistant_spans array<struct<s:bigint,e:bigint>>,
    assistant_frac = assistant chars / total chars rounded 6dp).

    Rows whose turns array is NULL/empty are dropped (nothing to train
    on — the quarantine signal is their absence, as in the other
    explode-based text operators). A NULL ``content`` inside a turn
    renders as the empty string (tag + blank line) — without the coalesce
    it would NULL-poison the whole span fold while silently vanishing
    from the rendered text.
    """
    header = f"[SYS]\n{system_prompt}\n" if system_prompt else ""

    def _apply(df: DataFrame) -> DataFrame:
        t = F.col(turns_col)
        rendered = F.concat(
            F.lit(header),
            F.array_join(
                F.transform(
                    t, lambda s: F.concat(
                        F.when(s.role == "assistant", F.lit("[ASSISTANT]\n"))
                        .otherwise(F.lit("[USER]\n")),
                        F.coalesce(s.content, F.lit("")), F.lit("\n"))),
                ""))
        # span fold: running offset starts after the header; each turn
        # advances it by tag + content + newline, assistant turns record
        # [offset + tag, offset + tag + len(content)) before advancing
        fold = F.expr(f"""
            aggregate(
              {turns_col},
              struct(CAST({len(header)} AS BIGINT) AS off,
                     CAST(array() AS array<struct<s: bigint, e: bigint>>)
                         AS spans),
              (acc, x) -> struct(
                acc.off + (CASE WHEN x.role = 'assistant'
                                THEN {len("[ASSISTANT]")}
                                ELSE {len("[USER]")} END) + 1
                        + length(coalesce(x.content, '')) + 1 AS off,
                CASE WHEN x.role = 'assistant'
                     THEN array_append(acc.spans, struct(
                          acc.off + {len("[ASSISTANT]")} + 1 AS s,
                          acc.off + {len("[ASSISTANT]")} + 1
                              + length(coalesce(x.content, '')) AS e))
                     ELSE acc.spans END AS spans),
              acc -> acc.spans)
        """)
        n = F.length(rendered)
        a_chars = F.aggregate(
            fold, F.lit(0).cast("bigint"), lambda acc, s: acc + (s.e - s.s))
        return (df
                .filter(t.isNotNull() & (F.size(t) > 0))
                .select(F.col(id_col).alias("conv_id"),
                        rendered.alias("text"),
                        F.size(t).cast("bigint").alias("n_turns"),
                        fold.alias("assistant_spans"),
                        (F.round(a_chars / n, 6) + F.lit(0.0))
                        .alias("assistant_frac")))

    return _apply

def pack_training_rows(budget: int = 256, id_col: str = "conv_id",
                       text_col: str = "text",
                       spans_col: str = "assistant_spans",
                       sep: str = "\n") -> Callable[[DataFrame], DataFrame]:
    """Sequence packing WITH LOSS-MASK CARRY — the stage between
    :func:`chat_to_training_text` and the trainer: short rendered texts are
    packed into fixed-token-budget training rows and every document's
    ``assistant_spans`` offsets are REMAPPED into the packed row's
    coordinates, so the loss mask survives packing.

    Packing is size-class (harmonic) packing — the deterministic,
    shuffle-friendly rendering of first-fit-decreasing inside length
    buckets (Lee & Lee 1985's harmonic algorithm; the classic
    distributed-friendly FFD surrogate):

    - capacity class ``k = floor(budget / n_tok)`` — every document in
      class k fits k-per-row (``n_tok <= budget/k``), so a packed row of k
      class-k members NEVER exceeds the budget, and because class-k docs
      have ``n_tok > budget/(k+1)`` each row is > k/(k+1) full;
    - inside a class, documents are taken longest-first (id tie-break) and
      chopped into consecutive rows of k — the decreasing order keeps row
      fill monotone and the assignment a pure closed-form
      ``floor(rank / k)``, no sequential bin state;
    - documents longer than the budget get class 0: one row each,
      ``overflow = true`` (splitting would cut spans — the caller decides
      whether to truncate or drop).

    Scale shape: the longest-first rank is the package's two-phase
    :func:`~akka_stream_contrib_spark.operators.global_order.global_rank`
    (range shuffle + K-row driver summary — never a single-partition
    window); the class-minimum table is at most ``budget + 1`` rows
    (bounded BY CONSTRUCTION, safely broadcast); assembly is ONE hash
    shuffle on (class, row) with every group at most k members. Three
    exchanges total, each skew-free (heavy classes spread uniformly over
    row ids).

    Emits (pack_id, <text_col>, <spans_col> remapped, doc_spans, n_docs,
    n_tokens, overflow). ``doc_spans`` carries each member document's
    [start, end) boundary in packed coordinates — the metadata a trainer
    needs to reset position ids and block cross-document attention inside
    a packed row. ``n_tokens`` is the sum of member whitespace-token
    counts (separators excluded). NULL-text rows are dropped (nothing to
    train on); NULL spans read as empty. Span structs must carry fields
    ``s``/``e`` (the chat_to_training_text contract).
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    sep_len = len(sep)
    empty_spans = "CAST(array() AS array<struct<s: bigint, e: bigint>>)"

    def _apply(df: DataFrame) -> DataFrame:
        from akka_stream_contrib_spark.operators.global_order import global_rank

        n_tok = F.size(F.split(F.col(text_col), " ")).cast("bigint")
        base = (df.filter(F.col(text_col).isNotNull())
                .select(F.col(id_col).alias("_id"),
                        F.col(text_col).alias("_txt"),
                        F.coalesce(F.col(spans_col), F.expr(empty_spans))
                        .alias("_sp"),
                        n_tok.alias("_n"))
                .withColumn("_k",
                            F.when(F.col("_n") > budget, F.lit(0))
                            .otherwise(F.floor(budget / F.col("_n")))
                            .cast("bigint"))
                .withColumn("_negn", -F.col("_n")))
        ranked = global_rank(base, ["_k", "_negn", "_id"], out="_r")
        kmin = ranked.groupBy("_k").agg(F.min("_r").alias("_rmin"))
        rank0 = F.col("_r") - F.col("_rmin")
        rows = (ranked.join(F.broadcast(kmin), "_k")
                .withColumn("_row",
                            F.when(F.col("_k") == 0, rank0)
                            .otherwise(F.floor(rank0 / F.col("_k")))))
        members = (rows.groupBy("_k", "_row")
                   .agg(F.array_sort(F.collect_list(F.struct(
                       F.col("_r").alias("r"), F.col("_txt").alias("t"),
                       F.col("_sp").alias("sp"), F.col("_n").alias("n")
                   ))).alias("_m")))

        init = F.struct(F.lit(0).cast("bigint").alias("cnt"),
                        F.lit(0).cast("bigint").alias("len"),
                        F.lit("").alias("txt"),
                        F.expr(empty_spans).alias("spans"),
                        F.expr(empty_spans).alias("dspans"))

        def _merge(acc, m):
            off = F.when(acc.cnt == F.lit(0), F.lit(0).cast("bigint")) \
                   .otherwise(acc.len + F.lit(sep_len).cast("bigint"))
            return F.struct(
                (acc.cnt + F.lit(1)).alias("cnt"),
                (off + F.length(m.t)).alias("len"),
                F.when(acc.cnt == F.lit(0), m.t)
                 .otherwise(F.concat(acc.txt, F.lit(sep), m.t)).alias("txt"),
                F.concat(acc.spans, F.transform(
                    m.sp, lambda x: F.struct((x.s + off).alias("s"),
                                             (x.e + off).alias("e"))))
                 .alias("spans"),
                # member-document boundaries in PACKED coordinates — what
                # the trainer needs to reset position ids / block
                # cross-document attention inside a packed row
                F.array_append(
                    acc.dspans,
                    F.struct(off.alias("s"),
                             (off + F.length(m.t)).alias("e")))
                 .alias("dspans"))

        folded = F.aggregate(F.col("_m"), init, _merge)
        n_tokens = F.aggregate(F.col("_m"), F.lit(0).cast("bigint"),
                               lambda a, m: a + m.n)
        return members.select(
            F.concat_ws("_", F.col("_k").cast("string"),
                        F.col("_row").cast("string")).alias("pack_id"),
            folded.getField("txt").alias(text_col),
            folded.getField("spans").alias(spans_col),
            folded.getField("dspans").alias("doc_spans"),
            F.size("_m").cast("bigint").alias("n_docs"),
            n_tokens.alias("n_tokens"),
            (F.col("_k") == 0).alias("overflow"))

    return _apply

def preference_pairs(margin: float = 0.0, prompt_col: str = "prompt_id",
                     cand_col: str = "cand_id", text_col: str = "text",
                     score_col: str = "score"
                     ) -> Callable[[DataFrame], DataFrame]:
    """Preference-pair construction for DPO/RLHF reward modeling: per
    prompt, from N scored candidate completions emit ONE (chosen,
    rejected) pair — chosen = highest score (lowest candidate id on ties),
    rejected = lowest score (HIGHEST candidate id on ties, so a fully tied
    candidate set still yields two distinct completions) — and keep the
    pair only when ``chosen.score - rejected.score >= margin`` (weak pairs
    teach nothing; the margin gate is the standard Bradley-Terry data
    hygiene step) and the prompt has >= 2 candidates.

    Scale shape: ONE partial-aggregated groupBy on the prompt key — the
    argmax/argmin ride lexicographic struct MIN/MAX ((-score, cand_id,
    text)), which combines map-side, so a hot prompt with millions of
    candidates never sorts inside one task (the window-rank formulation
    would). No joins, no windows, one exchange.

    Emits (prompt_id, chosen_id, rejected_id, chosen_text, rejected_text,
    score_margin, n_candidates). NULL and NaN scores are dropped up front
    (an unscored/brokenly-scored candidate can be neither chosen nor
    rejected — and Spark orders NaN above every double, so a kept NaN
    would win "rejected" with a vacuously-true margin gate).
    """

    def _apply(df: DataFrame) -> DataFrame:
        p, c, t, s = prompt_col, cand_col, text_col, score_col
        # lexicographic struct ordering: (-score) puts the best candidate
        # FIRST under min() and the worst first under max(); cand_id
        # breaks exact-score ties deterministically (min id for chosen,
        # max id for rejected via max()); text is never reached (ids are
        # unique per prompt)
        ordered = F.struct((-F.col(s)).alias("ns"),
                           F.col(c).alias("c"), F.col(t).alias("t"),
                           F.col(s).alias("s"))
        # NULL *and* NaN scores are unusable (Spark orders NaN above every
        # double, so a NaN candidate would win "rejected" and make the
        # margin gate vacuously true); dropping both keeps the streaming
        # twin's contract identical
        agg = (df.filter(F.col(s).isNotNull()
                         & ~F.isnan(F.col(s).cast("double")))
               .groupBy(p)
               .agg(F.min(ordered).alias("_ch"),
                    F.max(ordered).alias("_rj"),
                    F.count(F.lit(1)).alias("n_candidates")))
        gap = F.col("_ch.s") - F.col("_rj.s")
        return (agg.filter((F.col("n_candidates") >= 2)
                           & (gap >= F.lit(margin)))
                .select(F.col(p),
                        F.col("_ch.c").alias("chosen_id"),
                        F.col("_rj.c").alias("rejected_id"),
                        F.col("_ch.t").alias("chosen_text"),
                        F.col("_rj.t").alias("rejected_text"),
                        (F.round(gap, 6) + F.lit(0.0)).alias("score_margin"),
                        "n_candidates"))

    return _apply

def fim_transform(rate: int = 50, id_col: str = "doc_id",
                  text_col: str = "text",
                  pre_tok: str = "<PRE>", suf_tok: str = "<SUF>",
                  mid_tok: str = "<MID>") -> Callable[[DataFrame], DataFrame]:
    """Fill-in-the-middle transformation (Bavarian et al. 2022, "Efficient
    training of language models to fill in the middle" — the FIM recipe
    code models train on): for ``rate`` percent of documents, split the
    token stream at two deterministic points and re-render in PSM order
    ``<PRE> prefix <SUF> suffix <MID> middle``, teaching the model to
    infill; the rest pass through verbatim (the paper's joint objective).

    Everything is deterministic and portable: document selection and both
    split points derive from md5 of the id (the ``token_id`` convention),
    so reruns, backfills, and the DuckDB oracle reproduce the exact same
    transformation — the property a 100 TB preprocessing job needs for
    idempotent re-runs. Prefix gets >= 1 token, middle >= 1, suffix >= 0;
    documents under 3 tokens always pass through.

    Scale shape: pure Column codegen on the scan (hash, slice, array_join)
    — ZERO shuffles; output partitioning follows the input.

    Emits (doc_id, fim_applied, text, n_prefix, n_middle, n_suffix).
    """
    if not 0 <= rate <= 100:
        raise ValueError(f"rate must be in [0, 100], got {rate}")
    from akka_stream_contrib_spark.functions.text import token_id

    def _apply(df: DataFrame) -> DataFrame:
        sid = F.col(id_col).cast("string")
        toks = F.split(F.col(text_col), " ")
        n = F.size(toks).cast("bigint")
        gate = token_id(F.concat(sid, F.lit(":fimr"))) % 100 < rate
        # i in [1, n-1]: prefix = tokens[1..i] (non-empty, leaves >= 1)
        i = F.lit(1) + F.pmod(token_id(F.concat(sid, F.lit(":fim1"))),
                              n - 1)
        # j in [i+1, n]: middle = tokens[i+1..j] (>= 1), suffix may be empty
        j = i + F.lit(1) + F.pmod(token_id(F.concat(sid, F.lit(":fim2"))),
                                  n - i)
        apply_fim = F.col(text_col).isNotNull() & (n >= 3) & gate
        prefix = F.slice(toks, F.lit(1), i)
        middle = F.slice(toks, i + 1, j - i)
        suffix = F.slice(toks, j + 1, n - j)
        psm = F.concat(
            F.lit(pre_tok), F.array_join(prefix, " "),
            F.lit(suf_tok), F.array_join(suffix, " "),
            F.lit(mid_tok), F.array_join(middle, " "))
        z = F.lit(0).cast("bigint")
        return df.select(
            F.col(id_col),
            apply_fim.alias("fim_applied"),
            F.when(apply_fim, psm).otherwise(F.col(text_col)).alias(text_col),
            F.when(apply_fim, i).otherwise(F.coalesce(n, z))
             .cast("bigint").alias("n_prefix"),
            F.when(apply_fim, j - i).otherwise(z).alias("n_middle"),
            F.when(apply_fim, n - j).otherwise(z).alias("n_suffix"))

    return _apply

def chat_tree_paths(max_depth: int = 16, conv_col: str = "conv_id",
                    node_col: str = "node_id", parent_col: str = "parent_id",
                    role_col: str = "role", content_col: str = "content"
                    ) -> Callable[[DataFrame], DataFrame]:
    """Conversation-TREE flattening: crowd/assistant chat data often arrives
    as reply trees (multiple candidate replies per message — the
    OpenAssistant shape); SFT needs LINEAR paths. For every leaf, walk the
    parent links to the root and emit the root→leaf turn sequence — one
    training conversation per leaf, sharing prefixes with its siblings
    (the dedup/packing stages downstream handle the shared prefixes).

    Scale shape: ONE shuffle on the conversation key collects each tree
    into a row; the walk itself is an UNROLLED in-row map lookup
    (``map_from_arrays`` + ``element_at`` chained ``max_depth`` times, all
    codegen) — no iterative joins, no graph library, no driver loop; all
    leaf paths are computed inside the tree row and only the FINISHED
    paths explode (exploding leaves first would duplicate the tree map
    once per leaf). A path deeper than ``max_depth`` is flagged
    ``truncated`` rather than silently clipped.

    Size contract: trees must be CONVERSATION-sized (tens to hundreds of
    nodes — the OpenAssistant shape; the conv key carries the
    parallelism). Spark's array-backed map lookup is linear in tree size,
    so per-conversation cost is O(leaves × depth × nodes) — microseconds
    at the contract size, quadratic if a single "conversation" grows with
    the corpus (measured: 2.06× wall at 10× data with fixed 50-node
    trees; 30× when one tree absorbs the whole 10× corpus — SCALE.md
    round-10 probe).

    Emits (conv_id, leaf_id, depth, turns array<struct<role, content>>
    root→leaf order, truncated). Roots have NULL ``parent_col``; a leaf is
    any node no other node names as parent; a DANGLING parent reference
    (deleted/moderated node — routine in crowd reply trees) terminates the
    walk there, so the orphaned subtree's top acts as a root and never
    renders a phantom NULL turn.
    """
    if max_depth < 1:
        raise ValueError(f"max_depth must be >= 1, got {max_depth}")

    def _apply(df: DataFrame) -> DataFrame:
        nodes = F.array_sort(F.collect_list(F.struct(
            F.col(node_col).alias("n"),
            F.col(parent_col).alias("p"),
            F.col(role_col).alias("r"),
            F.col(content_col).alias("c"))))
        tree = (df.groupBy(F.col(conv_col).alias("conv_id"))
                .agg(nodes.alias("_nodes"))
                .withColumn("_m", F.map_from_arrays(
                    F.transform("_nodes", lambda x: x.n),
                    F.col("_nodes")))
                # NULL parents (roots) are dropped from the parents list:
                # array_contains over an array holding NULL returns NULL
                # for non-members, which would silently drop every leaf
                .withColumn("_parents", F.filter(
                    F.transform("_nodes", lambda x: x.p),
                    lambda p: p.isNotNull())))
        # every leaf's path is computed INSIDE the one tree row and only
        # the finished paths explode — exploding leaves first and carrying
        # the map along would duplicate the whole tree once per leaf
        # (leaves × tree-size, quadratic in conversation size; measured
        # 38× wall at 10× nodes before this shape)
        def _walk(leaf):
            # parent walk as ONE aggregate fold over a step counter:
            # chain[0] = leaf id, chain[i+1] = parent(chain[i]);
            # element_at returns NULL past the root, so the chain is
            # NULL-padded and the filter trims it. r11 (guide §4.2): the
            # former UNROLLED hop list re-embedded each hop's expression
            # in the next (hop i carried i nested lookups, so one walk
            # evaluated O(max_depth²) map probes per leaf and the plan
            # grew quadratically in max_depth); the fold does max_depth−1
            # probes and O(1) plan nodes. Values are step-identical.
            steps = (F.sequence(F.lit(1), F.lit(max_depth - 1))
                     if max_depth > 1 else F.array().cast("array<int>"))
            chain0 = F.aggregate(
                steps, F.array(leaf.n),
                lambda acc, _i: F.array_append(
                    acc, F.element_at(F.col("_m"),
                                      F.element_at(acc, F.lit(-1))).p))

            # let-bindings via single-element transform: the padded chain
            # and the trimmed chain are each EVALUATED ONCE and referenced
            # through the lambda variable (HOF lambda scopes defeat CSE,
            # so naming them as plain exprs would re-run the whole walk
            # per reference — the shingles/span_corrupt discipline)
            def _mk(ch):
                # membership filter, not just isNotNull: a DANGLING parent
                # id (deleted/moderated node — routine in crowd reply
                # trees) is non-NULL but absent from the map; keeping it
                # would render a phantom (NULL, NULL) turn. A node with a
                # missing parent terminates the walk there (treated as a
                # root).
                kept0 = F.reverse(F.filter(
                    ch, lambda x: x.isNotNull()
                    & F.map_contains_key(F.col("_m"), x)))

                def _emit(kept):
                    turns = F.transform(
                        kept,
                        lambda nid: F.struct(
                            F.element_at(F.col("_m"), nid).r.alias("role"),
                            F.element_at(F.col("_m"), nid).c
                            .alias("content")))
                    return F.struct(
                        leaf.n.alias("leaf"),
                        F.size(kept).cast("bigint").alias("depth"),
                        turns.alias("turns"),
                        F.element_at(F.col("_m"),
                                     F.element_at(ch, F.lit(-1))).p
                        .isNotNull().alias("trunc"))

                return F.element_at(F.transform(F.array(kept0), _emit),
                                    F.lit(1))

            return F.element_at(F.transform(F.array(chain0), _mk), F.lit(1))

        paths = F.transform(
            F.filter("_nodes",
                     lambda x: ~F.array_contains(F.col("_parents"), x.n)),
            _walk)
        return (tree.select("conv_id", F.explode(paths).alias("_p"))
                .select("conv_id",
                        F.col("_p.leaf").alias("leaf_id"),
                        F.col("_p.depth").alias("depth"),
                        F.col("_p.turns").alias("turns"),
                        F.col("_p.trunc").alias("truncated")))

    return _apply


def rejection_sample(delta: float = 0.0, min_candidates: int = 2,
                     prompt_col: str = "prompt_id", cand_col: str = "cand_id",
                     text_col: str = "text", score_col: str = "score"
                     ) -> Callable[[DataFrame], DataFrame]:
    """Best-of-n rejection sampling (the Llama-2 / InstructGPT SFT recipe:
    sample n completions per prompt, keep the reward-model argmax): per
    prompt emit the single highest-scored completion (lowest candidate id
    on exact ties), kept only when it clears the prompt's OWN median score
    by ``delta`` — a prompt whose best candidate barely beats its median is
    one the reward model cannot discriminate on, and training on its
    "winner" teaches noise. Prompts with fewer than ``min_candidates``
    scored candidates are dropped (argmax of one sample is not selection).

    Scale shape: ONE partial-aggregated groupBy on the prompt key — the
    argmax rides the lexicographic struct MIN ((-score, cand_id, text),
    map-side combinable) next to an exact ``percentile(score, 0.5)``
    (interpolated median, the one agg here that buffers its group — the
    per-prompt candidate count is bounded by the sampling fan-out n, not by
    corpus size, so the buffer is O(n) per group). No joins, no windows,
    one exchange.

    NULL and NaN scores are dropped up front (Spark orders NaN above every
    double — a kept NaN would win the argmax and poison the median).

    Emits (prompt_id, cand_id, text, score, median_score, reward_gain,
    n_candidates).
    """
    if min_candidates < 1:
        raise ValueError(
            f"min_candidates must be >= 1, got {min_candidates}")

    def _apply(df: DataFrame) -> DataFrame:
        p, c, t, s = prompt_col, cand_col, text_col, score_col
        ordered = F.struct((-F.col(s)).alias("ns"),
                           F.col(c).alias("c"), F.col(t).alias("t"),
                           F.col(s).alias("s"))
        agg = (df.filter(F.col(s).isNotNull()
                         & ~F.isnan(F.col(s).cast("double")))
               .groupBy(p)
               .agg(F.min(ordered).alias("_best"),
                    F.percentile(F.col(s).cast("double"),
                                 F.lit(0.5)).alias("_med"),
                    F.count(F.lit(1)).alias("n_candidates")))
        gain = F.col("_best.s") - F.col("_med")
        return (agg.filter((F.col("n_candidates") >= min_candidates)
                           & (gain >= F.lit(delta)))
                .select(F.col(p),
                        F.col("_best.c").alias(c),
                        F.col("_best.t").alias(t),
                        F.col("_best.s").alias(s),
                        (F.round("_med", 6) + F.lit(0.0))
                        .alias("median_score"),
                        (F.round(gain, 6) + F.lit(0.0))
                        .alias("reward_gain"),
                        "n_candidates"))

    return _apply


def epoch_shuffle(n_shards: int, seed: str = "epoch-0",
                  id_col: str = "doc_id", group_col: str | None = None
                  ) -> Callable[[DataFrame], DataFrame]:
    """Deterministic epoch shuffle: assign every row a shard and an
    intra-shard position so a training run streams the corpus in a
    reproducible pseudo-random order (new ``seed`` per epoch = new
    permutation; same seed = bit-identical order for reruns, resumption,
    and the data-ablation replays a 100 TB pipeline needs).

    Scale shape: the naive formulation — ``row_number() OVER (ORDER BY
    hash)`` — is a GLOBAL sort whose final window collapses to one task.
    Here the shard assignment is a pure map-side hash (``pmod(md5-hash,
    n_shards)``) and the position window partitions BY shard: one exchange,
    n_shards-way parallel sort of 1/n_shards of the corpus each, no global
    ordering anywhere. Readers stream shards independently (the tf.data /
    WebDataset contract: shuffle = sharded files + per-shard order + a
    small in-memory buffer).

    Both the shard hash and the order key derive from md5 of (seed, id)
    (the ``token_id`` convention), so any engine with md5 reproduces the
    permutation — the DuckDB oracle property.

    With ``group_col`` set, the permutation is GROUP-PRESERVING: all rows
    of a group land in the same shard (shard hash keyed by the group) and
    stay adjacent in the stream (order key = (group md5, id)), shuffling
    the ORDER OF GROUPS rather than rows — the multi-turn-conversation /
    multi-chunk-document contract, where splitting a unit across shards
    breaks downstream packing. Shard balance then holds at group
    granularity (the usual caveat: one giant group is a planning problem,
    not a shuffle problem).

    Emits the input columns plus (shard, pos); pos is 1-based within its
    shard.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    from pyspark.sql import Window
    from akka_stream_contrib_spark.functions.text import token_id

    def _apply(df: DataFrame) -> DataFrame:
        key = (F.col(group_col) if group_col
               else F.col(id_col)).cast("string")
        shard = F.pmod(token_id(F.concat(F.lit(seed + ":shard:"), key)),
                       F.lit(n_shards)).cast("int")
        order_key = F.md5(F.concat(F.lit(seed + ":ord:"), key))
        w = (Window.partitionBy("shard")
             .orderBy(F.col("_ord"), F.col(id_col)))
        return (df.withColumn("shard", shard)
                .withColumn("_ord", order_key)
                .withColumn("pos", F.row_number().over(w).cast("bigint"))
                .drop("_ord"))

    return _apply


def context_fit_report(limits=(256, 512, 1024, 2048),
                       group_col: str = "source", text_col: str = "text"
                       ) -> Callable[[DataFrame], DataFrame]:
    """Truncation-loss accounting: before committing to a context length,
    measure what each candidate limit would DISCARD, per corpus slice —
    the standard context-window sizing study (how many documents get cut,
    and what fraction of the corpus' tokens falls past the limit). A limit
    that loses 1% of tokens overall but 40% of one source's is how a code
    or book subcorpus silently vanishes from the training mix.

    Scale shape: token counts are scan-side codegen (split + size); each
    row then explodes into |limits| accounting rows (a constant ~4x map-side
    multiplier, NOT data growth) feeding ONE partial-aggregated groupBy on
    the (slice, limit) key. One exchange; output cardinality = slices x
    limits.

    Emits (group, context_limit, n_docs, n_truncated, pct_docs_truncated,
    tokens_total, tokens_lost, pct_tokens_lost).
    """
    lims = sorted(set(int(x) for x in limits))
    if not lims or lims[0] < 1:
        raise ValueError(f"limits must be positive ints, got {limits!r}")

    def _apply(df: DataFrame) -> DataFrame:
        toks = F.size(F.split(F.col(text_col), " ")).cast("bigint")
        base = (df.filter(F.col(text_col).isNotNull())
                .select(F.col(group_col).alias("group"),
                        toks.alias("_n"),
                        F.explode(F.array(
                            *[F.lit(x) for x in lims])).alias(
                            "context_limit")))
        lost = F.greatest(F.col("_n") - F.col("context_limit"),
                          F.lit(0).cast("bigint"))
        return (base.groupBy("group", "context_limit")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum((F.col("_n") > F.col("context_limit"))
                           .cast("bigint")).alias("n_truncated"),
                     F.sum("_n").alias("tokens_total"),
                     F.sum(lost).alias("tokens_lost"))
                .select("group", "context_limit", "n_docs", "n_truncated",
                        (F.round(F.col("n_truncated")
                                 / F.col("n_docs"), 6) + F.lit(0.0))
                        .alias("pct_docs_truncated"),
                        "tokens_total", "tokens_lost",
                        (F.round(F.col("tokens_lost")
                                 / F.col("tokens_total"), 6) + F.lit(0.0))
                        .alias("pct_tokens_lost")))

    return _apply


def span_corrupt(corruption_rate: float = 0.15, mean_span: int = 3,
                 id_col: str = "doc_id", text_col: str = "text",
                 sentinel: str = "<extra_id_{}>"
                 ) -> Callable[[DataFrame], DataFrame]:
    """Span-corruption objective prep (Raffel et al. 2020, T5 — the
    denoising recipe seq2seq models pretrain on): mask contiguous token
    spans and re-render the document as an (input, target) pair — input
    keeps the unmasked text with one numbered sentinel per hole, target
    lists each sentinel followed by the tokens it hides, closed by a final
    sentinel.

    Span placement is BLOCKED: tokens partition into fixed blocks of
    ``B = round(mean_span / corruption_rate)`` and each block contributes
    exactly one corrupted span (length 1 + hash % (2*mean_span - 1), mean
    ``mean_span``, clipped to the block; offset hash-placed within the
    block). That yields the target corruption rate exactly in expectation,
    guarantees spans never overlap or touch across blocks without any
    merge pass, and — like ``fim_transform`` — makes every choice a pure
    function of md5(doc_id, block), so reruns, backfills, and the DuckDB
    oracle reproduce the identical corruption (the idempotent-preprocessing
    property; sampled-noise formulations can't replay).

    Scale shape: ZERO shuffles — block spans, both renderings, and the
    token accounting all happen inside ONE ``transform`` over
    ``sequence(0, n_blocks-1)`` per row (array codegen on the scan);
    output partitioning follows the input. Documents shorter than 2 tokens
    (nothing maskable next to something kept) pass through with
    ``n_spans = 0`` and target '' .

    Emits (doc_id, input_text, target_text, n_spans, n_corrupted_tokens).
    """
    if not 0.0 < corruption_rate <= 1.0:
        raise ValueError(
            f"corruption_rate must be in (0, 1], got {corruption_rate}")
    if mean_span < 1:
        raise ValueError(f"mean_span must be >= 1, got {mean_span}")
    if "{}" not in sentinel:
        raise ValueError(
            f"sentinel needs a {{}} placeholder for the span number, "
            f"got {sentinel!r}")
    B = max(int(round(mean_span / corruption_rate)), mean_span, 2)
    from akka_stream_contrib_spark.functions.text import token_id

    def _apply(df: DataFrame) -> DataFrame:
        sid = F.col(id_col).cast("string")
        # STAGE the token array as a real projected column before any
        # higher-order function touches it: HOF lambdas evaluate
        # interpreted (no codegen, no common-subexpression elimination),
        # so a closure-captured `F.split(text)` re-splits the whole
        # document once PER ARRAY ELEMENT — O(n_tokens x n_blocks)
        # quadratic work per row (measured 4.7x on the 3-gram probe,
        # tools/ hof A/B). A bound column reference is O(1) per element.
        staged = df.select(
            F.col(id_col), F.col(text_col),
            F.split(F.col(text_col), " ").alias("_sc_toks"))
        toks = F.col("_sc_toks")
        n = F.size(toks).cast("bigint")
        nb = F.ceil(n / F.lit(B)).cast("bigint")

        def _block(k):
            base = k * B  # tokens before this block (0-based)
            blen = F.least(F.lit(B).cast("bigint"), n - base)
            hL = token_id(F.concat(sid, F.lit(":scL:"), k.cast("string")))
            hO = token_id(F.concat(sid, F.lit(":scO:"), k.cast("string")))
            L = F.least(F.lit(1) + hL % (2 * mean_span - 1), blen)
            off = hO % (blen - L + F.lit(1))
            a = base + off + 1  # 1-based absolute span start
            pre = F.array_join(F.slice(toks, base + 1, off), " ")
            post = F.array_join(
                F.slice(toks, a + L, blen - off - L), " ")
            sent = F.concat(F.lit(sentinel.split("{}")[0]),
                            k.cast("string"),
                            F.lit(sentinel.split("{}")[1]))
            ip = F.concat_ws(" ", F.when(off > 0, pre), sent,
                             F.when(blen - off - L > 0, post))
            tp = F.concat_ws(" ", sent,
                             F.array_join(F.slice(toks, a, L), " "))
            return F.struct(ip.alias("ip"), tp.alias("tp"), L.alias("l"))

        # stage the per-block struct array too: the final projection reads
        # it three times (input render, target render, length fold) — as a
        # column those reads are bound references; inlined, the whole
        # block computation would run 3x per row
        staged = staged.select(
            F.col(id_col), F.col(text_col), "_sc_toks",
            F.when(F.col(text_col).isNotNull() & (n >= 2),
                   F.transform(F.sequence(F.lit(0).cast("bigint"), nb - 1),
                               _block)).alias("_sc_pieces"))
        pieces = F.col("_sc_pieces")
        close = F.concat(F.lit(sentinel.split("{}")[0]), nb.cast("string"),
                         F.lit(sentinel.split("{}")[1]))
        corruptible = F.col(text_col).isNotNull() & (n >= 2)
        z = F.lit(0).cast("bigint")
        return staged.select(
            F.col(id_col),
            F.when(corruptible,
                   F.array_join(F.transform(pieces, lambda x: x.ip), " "))
            .otherwise(F.col(text_col)).alias("input_text"),
            F.when(corruptible,
                   F.concat(F.array_join(
                       F.transform(pieces, lambda x: x.tp), " "),
                       F.lit(" "), close))
            .otherwise(F.lit("")).alias("target_text"),
            F.when(corruptible, nb).otherwise(z).alias("n_spans"),
            F.when(corruptible,
                   F.aggregate(pieces, z, lambda acc, x: acc + x.l))
            .otherwise(z).alias("n_corrupted_tokens"))

    return _apply


def interleave_by_weight(weights: "dict[str, float]",
                         default_weight: float = 1.0, seed: str = "mix-0",
                         source_col: str = "source", id_col: str = "doc_id"
                         ) -> Callable[[DataFrame], DataFrame]:
    """Deterministic weighted corpus interleaving — the tf.data
    ``sample_from_datasets`` / Pile mixing step made reproducible: every
    row gets a global ``slot`` such that streaming the corpus in slot
    order visits source s with long-run frequency proportional to
    ``weights[s]``. The schedule is stride scheduling (Waldspurger 1995):
    the p-th row of source s lands at slot ``(p - phase_s) / w_s`` — rows
    of a weight-2 source arrive twice as densely as a weight-1 source,
    exactly, not in expectation — with a per-source md5 phase in [0, 1)
    de-synchronizing the streams' ticks.

    Within each source, order is the ``epoch_shuffle`` permutation
    (md5 of (seed, id)), so the interleave is also a shuffle; a new
    ``seed`` reshuffles AND re-phases. Every slot is a pure function of
    (seed, source, id) — replayable anywhere, including the oracle.

    Scale shape (r11, guide §2 skew): a plain source-partitioned position
    window puts each source's ENTIRE slice in one reducer task — sources
    are few, so at 100 TB that is a multi-TB single-task sort. Positions
    therefore come from the keyed range rank
    (``global_order.global_rank``) on (source, order-key); the slot
    arithmetic is map-side. The output is NOT globally sorted: a training
    reader range-partitions / sorts by slot at write time (TeraSort
    shape), or streams shards of the slot space independently; emitting
    positions instead of forcing a global order keeps the operator
    one-shuffle.

    Emits the input columns plus (src_pos, slot); slot rounded to 6.
    """
    for s, w in weights.items():
        if w <= 0:
            raise ValueError(f"weight for {s!r} must be > 0, got {w}")
    if default_weight <= 0:
        raise ValueError(
            f"default_weight must be > 0, got {default_weight}")
    from akka_stream_contrib_spark.functions.text import token_id

    def _apply(df: DataFrame) -> DataFrame:
        sid = F.col(id_col).cast("string")
        w_expr = F.lit(float(default_weight))
        for s, w in sorted(weights.items()):
            w_expr = F.when(F.col(source_col) == s,
                            F.lit(float(w))).otherwise(w_expr)
        phase = (token_id(F.concat(F.lit(seed + ":phase:"),
                                   F.col(source_col))) % 1_000_000
                 / F.lit(1_000_000.0))
        # (_ord, id) is a total order, so ties cannot straddle a range
        from akka_stream_contrib_spark.operators.global_order import (
            global_rank)
        from akka_stream_contrib_spark.util import drop_stale_caches
        drop_stale_caches()
        staged = df.withColumn("_ord", F.md5(
            F.concat(F.lit(seed + ":ord:"), sid)))
        ranked = global_rank(staged, [source_col, "_ord", id_col], "src_pos",
                             partition_by=source_col)
        return (ranked
                # slot is TRUNCATED to 6 dp, not rounded: (pos - phase)
                # has exactly 6 decimal digits, so /w lands on exact
                # .xxxxxx5 halves where Spark's BigDecimal HALF_UP and a
                # binary-double round() disagree by 1e-6 (found by the
                # sf0.1 oracle sweep). floor of identical IEEE doubles is
                # engine-independent
                .withColumn("slot",
                            F.floor((F.col("src_pos") - phase) / w_expr
                                    * F.lit(1_000_000.0))
                            / F.lit(1_000_000.0))
                .drop("_ord"))

    return _apply


def template_mine(min_count: int = 2, id_col: str = "doc_id",
                  text_col: str = "text", source_col: str | None = None
                  ) -> Callable[[DataFrame], DataFrame]:
    """Instruction-template mining: synthetic / crowd instruction sets are
    full of near-identical prompts that differ only in the slotted values
    ("Write a review of {product} in {n} words") -- surface-level dedup
    misses them, yet over-represented templates skew an SFT mix as badly
    as literal duplicates. Each text reduces to its template SKELETON
    (single-quoted and double-quoted spans -> <q>, digit runs -> <num>,
    whitespace folded) and skeletons seen >= ``min_count`` times report
    with their multiplicity, slice spread, and one deterministic example
    (the min-id document).

    Scale shape: skeleton extraction is a pure regexp chain in codegen on
    the scan; ONE partial-aggregated groupBy on the (16-byte md5 of the)
    skeleton -- the dedup_exact key discipline: the multi-KB skeleton
    string rides as payload via lexicographic struct MIN, never as the
    shuffle key. distinct-source spread uses the count_distinct expansion
    (the url_domain_stats accounting).

    Emits (template, n_docs, n_sources, example_id) unsorted -- order at
    presentation time.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")

    def _apply(df: DataFrame) -> DataFrame:
        skel = F.col(text_col)
        skel = F.regexp_replace(skel, '"[^"]*"', "<q>")
        skel = F.regexp_replace(skel, "'[^']*'", "<q>")
        skel = F.regexp_replace(skel, "[0-9]+", "<num>")
        skel = F.trim(F.regexp_replace(skel, "\\s+", " "))
        src = (F.col(source_col) if source_col
               else F.lit("all")).alias("_src")
        base = (df.filter(F.col(text_col).isNotNull())
                .select(F.col(id_col).alias("_id"), skel.alias("_skel"),
                        src))
        agg = (base.groupBy(F.md5("_skel").alias("_k"))
               .agg(F.min(F.struct(F.col("_id").alias("i"),
                                   F.col("_skel").alias("s"))).alias("_ex"),
                    F.count(F.lit(1)).alias("n_docs"),
                    F.countDistinct("_src").alias("n_sources")))
        return (agg.filter(F.col("n_docs") >= min_count)
                .select(F.col("_ex.s").alias("template"), "n_docs",
                        "n_sources", F.col("_ex.i").alias("example_id")))

    return _apply


def bitext_filter(max_len_ratio: float = 2.0, min_tokens: int = 1,
                  pair_col: str = "pair_id", src_col: str = "src_text",
                  tgt_col: str = "tgt_text"
                  ) -> Callable[[DataFrame], DataFrame]:
    """Parallel-corpus (bitext) hygiene -- the standard WMT/OPUS cleaning
    pass applied after mining aligns candidate pairs (`margin_mine`
    produces them; this filters them): a translation pair is kept when
    both sides meet a token floor, the token-length ratio stays under
    ``max_len_ratio`` (wildly unbalanced pairs are misalignments), the
    two sides are not literally identical (copy-through rows teach the
    model to parrot), and both sides carry the same count of digit runs
    (numbers must survive translation -- a mismatch flags truncation or
    hallucination; the Koehn / ParaCrawl recipe).

    Scale shape: every check is a pure Column expression on the scan --
    ZERO shuffles, output partitioning follows the input; the flags are
    emitted alongside ``keep`` so downstream can report per-rule kill
    rates with `filter_funnel` instead of re-deriving them.

    Emits (pair_id, src_text, tgt_text, n_src_tokens, n_tgt_tokens,
    len_ratio, ok_len_floor, ok_ratio, ok_not_identical, ok_digits,
    keep).
    """
    if max_len_ratio < 1.0:
        raise ValueError(
            f"max_len_ratio must be >= 1.0, got {max_len_ratio}")
    if min_tokens < 1:
        raise ValueError(f"min_tokens must be >= 1, got {min_tokens}")

    def _apply(df: DataFrame) -> DataFrame:
        ns = F.size(F.split(F.col(src_col), " ")).cast("bigint")
        nt = F.size(F.split(F.col(tgt_col), " ")).cast("bigint")
        both = F.col(src_col).isNotNull() & F.col(tgt_col).isNotNull()

        def n_digit_runs(c):
            # count of maximal digit runs: strip non-digits to single
            # spaces, trim, then count tokens (0 for a digit-free string)
            squashed = F.trim(F.regexp_replace(F.col(c), "[^0-9]+", " "))
            return F.when(squashed == "", F.lit(0)).otherwise(
                F.size(F.split(squashed, " ")))

        ratio = (F.greatest(ns, nt).cast("double")
                 / F.least(ns, nt).cast("double"))
        ok_floor = both & (ns >= min_tokens) & (nt >= min_tokens)
        ok_ratio = both & (ratio <= F.lit(float(max_len_ratio)))
        ok_ident = both & (F.col(src_col) != F.col(tgt_col))
        ok_digits = both & (n_digit_runs(src_col) == n_digit_runs(tgt_col))
        keep = ok_floor & ok_ratio & ok_ident & ok_digits
        return df.select(
            F.col(pair_col), F.col(src_col), F.col(tgt_col),
            F.when(both, ns).alias("n_src_tokens"),
            F.when(both, nt).alias("n_tgt_tokens"),
            F.when(both, F.round(ratio, 6) + F.lit(0.0)).alias("len_ratio"),
            ok_floor.alias("ok_len_floor"), ok_ratio.alias("ok_ratio"),
            ok_ident.alias("ok_not_identical"),
            ok_digits.alias("ok_digits"), keep.alias("keep"))

    return _apply


def shard_manifest(text_col: str | None = "text"
                   ) -> Callable[[DataFrame], DataFrame]:
    """Shard manifest over `epoch_shuffle` output -- the WebDataset /
    tf.data contract's other half: a training reader wants, per shard,
    how many rows and tokens it will stream and proof the position space
    is contiguous (a gap means a lost row; an overlap, a duplicated one).

    Scale shape: ONE groupBy on the shard key -- and because the input is
    `epoch_shuffle` output, it is ALREADY hash-partitioned by shard (the
    position window's exchange), so the aggregation reuses that
    partitioning and the composed plan pays a single exchange total
    (asserted in the plan-budget test). Token counting is scan-side.

    Emits (shard, n_rows, n_tokens, min_pos, max_pos, contiguous).
    """

    def _apply(df: DataFrame) -> DataFrame:
        toks = (F.size(F.split(F.col(text_col), " ")).cast("bigint")
                if text_col else F.lit(0).cast("bigint"))
        return (df.groupBy("shard")
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.sum(F.coalesce(toks, F.lit(0).cast("bigint")))
                     .alias("n_tokens"),
                     F.min("pos").alias("min_pos"),
                     F.max("pos").alias("max_pos"))
                .withColumn("contiguous",
                            (F.col("min_pos") == 1)
                            & (F.col("max_pos") == F.col("n_rows"))))

    return _apply


def prefix_cache_report(depths=(4, 8, 16), text_col: str = "text"
                        ) -> Callable[[DataFrame], DataFrame]:
    """Prefix-cache planning report — the sizing study behind vLLM-style
    automatic prefix caching and batched-inference prompt ordering: at
    each candidate prefix depth k (in whitespace tokens), how many
    prompts share their first k tokens with at least one other prompt,
    and how many prefill tokens a shared-prefix cache would save
    (``(n-1) * k`` per group of n). Shared system prompts and few-shot
    headers make this number large in real serving mixes; the report says
    at which depth the sharing falls off.

    Only prompts with >= k tokens count at depth k (a shorter prompt has
    no depth-k prefix to share; documented contract).

    Scale shape: the prefix key is scan-side (slice + join) and rides as
    a 16-byte md5 (the dedup_exact key discipline); one constant
    |depths|x explode feeds the (depth, prefix) groupBy, whose output
    re-aggregates per depth — two exchanges, the second over
    group-cardinality rows. Output cardinality = |depths|.

    Emits (prefix_len, n_prompts, n_shared_prompts, n_shared_groups,
    tokens_saved, hit_rate) where hit_rate = tokens_saved /
    (n_prompts * k), the fraction of depth-k prefill tokens a perfect
    prefix cache skips.
    """
    ds = sorted(set(int(k) for k in depths))
    if not ds or ds[0] < 1:
        raise ValueError(f"depths must be positive ints, got {depths!r}")

    def _apply(df: DataFrame) -> DataFrame:
        toks = F.split(F.col(text_col), " ")
        n = F.size(toks)
        rows = (df.filter(F.col(text_col).isNotNull())
                .select(toks.alias("_t"), n.alias("_n"),
                        F.explode(F.array(
                            *[F.lit(k) for k in ds])).alias("prefix_len"))
                .filter(F.col("_n") >= F.col("prefix_len"))
                .select("prefix_len",
                        F.md5(F.array_join(
                            F.slice(F.col("_t"), 1, F.col("prefix_len")),
                            " ")).alias("_pk")))
        groups = (rows.groupBy("prefix_len", "_pk")
                  .agg(F.count(F.lit(1)).alias("_g")))
        shared = F.col("_g") >= 2
        return (groups.groupBy("prefix_len")
                .agg(F.sum("_g").alias("n_prompts"),
                     F.sum(F.when(shared, F.col("_g")).otherwise(0))
                     .alias("n_shared_prompts"),
                     F.sum(shared.cast("bigint")).alias("n_shared_groups"),
                     F.sum(F.when(shared, (F.col("_g") - 1)
                                  * F.col("prefix_len")).otherwise(0))
                     .alias("tokens_saved"))
                .select("prefix_len", "n_prompts", "n_shared_prompts",
                        "n_shared_groups", "tokens_saved",
                        (F.round(F.col("tokens_saved")
                                 / (F.col("n_prompts")
                                    * F.col("prefix_len")), 6)
                         + F.lit(0.0)).alias("hit_rate")))

    return _apply
