"""Deduplication operators for the documents pipeline.

- ``dedup_exact``: hash-groupBy exact dedup (one shuffle on the content hash).
- ``minhash_lsh_dedup``: MinHash + banded LSH near-dup detection — the
  standard scale algorithm: shingle → minhash signature (map-side) → band
  buckets (shuffle on band key) → candidate pairs (bucket join) → exact
  Jaccard verification on candidates only. All-pairs comparison never happens;
  cost is O(N·S) + O(candidate pairs), which is what survives 100 TB.
- ``simhash``: 16-bit SimHash signatures from shingle hashes (map-side only).

Token/shingle hashing uses the portable md5-prefix hash
(functions.text.token_id) so every step is reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from akka_stream_contrib_spark.functions.text import token_id

MINHASH_P = 8191  # 2^13-1, prime modulus for the affine hash family

# pipeline-scoped persists are registered in the PACKAGE-level registry
# (util.pipeline_cache): the next pipeline's entry point unpersists them,
# bounding executor storage across a long sequential gate/bench session
from akka_stream_contrib_spark.util import (  # noqa: E402
    drop_stale_caches, pipeline_cache)


def dedup_exact(id_col: str = "doc_id", text_col: str = "text") -> Callable[[DataFrame], DataFrame]:
    """Exact dedup via content hash: one row per distinct content with the
    canonical (minimum) id and the duplicate count. Partial aggregation makes
    this a single shuffle on the 128-bit hash — no text comparison, no skew
    (hash keys are uniform)."""

    def _apply(df: DataFrame) -> DataFrame:
        # NULL text is NOT comparable content: md5(NULL) = NULL would fold
        # every failed-extraction doc into ONE cluster (reporting N docs as
        # one with dup_count=N — a canonical-pruning caller then deletes
        # N-1 real documents). The secondary key makes each NULL-text doc
        # its own singleton cluster; same single shuffle.
        null_own = F.when(F.col(text_col).isNull(), F.col(id_col))
        return (
            df.groupBy(F.md5(F.col(text_col)).alias("text_hash"),
                       null_own.alias("_null_own"))
            .agg(
                F.min(id_col).alias("canonical_doc_id"),
                F.count(F.lit(1)).alias("dup_count"),
            )
            .drop("_null_own")
        )

    return _apply


def dedup_keep_best(score, id_col: str = "doc_id", text_col: str = "text",
                    ) -> Callable[[DataFrame], DataFrame]:
    """Exact dedup that keeps the BEST copy per content cluster, not just the
    minimum id: rank the members of each md5(text) cluster by ``score``
    (a Column — e.g. a quality score) descending with id ascending tie-break,
    and keep rank 1 with its ``dup_count``. This is the canonical-selection
    step a training pipeline runs right after duplicate detection: among N
    crawls of the same page, keep the highest-quality capture.

    Scale shape: identical to :func:`dedup_exact` — one hash shuffle on the
    uniform 128-bit content hash; the per-cluster window sorts only cluster
    members (duplicates), never the corpus.
    """

    def _apply(df: DataFrame) -> DataFrame:
        # materialize the hash as ONE attribute: both window specs then share
        # partitioning + sort and collapse into a single WindowExec over a
        # single exchange (hashing inline in each spec planned two)
        d = (df.withColumn("_score", score)
             .withColumn("_h", F.md5(F.col(text_col)))
             # NULL text never merges: each such doc is its own cluster
             # (see dedup_exact) — _g is a constant for hashable rows
             .withColumn("_g", F.when(F.col(text_col).isNull(),
                                      F.col(id_col))))
        w = Window.partitionBy("_h", "_g").orderBy(F.desc("_score"), id_col)
        wc = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        return (
            d.withColumn("_rn", F.row_number().over(w))
            .withColumn("dup_count", F.count(F.lit(1)).over(wc))
            .filter(F.col("_rn") == 1)
            .drop("_score", "_rn", "_h", "_g")
        )

    return _apply


def dedup_incremental(new_df: DataFrame, seen_hashes: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      hash_col: str = "text_hash") -> DataFrame:
    """Incremental exact dedup — the daily-crawl shape: reduce a NEW batch to
    first-seen content, i.e. drop anything whose content hash is already in
    the historical index ``seen_hashes`` (a 1-column hash table), and keep
    one representative (lowest id) per hash within the batch itself. Emits
    the surviving rows with their ``hash_col`` so the caller can append them
    to the index.

    Scale shape: within-batch dedup is one window over the batch's uniform
    content hash; the history check is a LEFT ANTI equi-join on the hash —
    broadcastable while the index fits (hashes only: 16 bytes/doc), an
    ordinary uniform-key shuffle join beyond that. The 100 TB history never
    needs its text scanned — only its hash column.
    """

    def _first_per_hash(df: DataFrame) -> DataFrame:
        # NULL-text rows (hash NULL) are each their own group: content that
        # cannot be hashed is never deduplicated — neither against the
        # batch nor the index (a NULL hash also never equi-joins the index,
        # so the two rules agree)
        w = Window.partitionBy(
            hash_col,
            F.when(F.col(hash_col).isNull(), F.col(id_col))).orderBy(id_col)
        return (df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn"))

    hashed = new_df.withColumn(hash_col, F.md5(F.col(text_col)))
    return _first_per_hash(hashed).join(
        seen_hashes.select(hash_col), hash_col, "left_anti")


def shingles(df: DataFrame, k: int = 3, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """Distinct k-word shingles per document: (doc_id, shingle).

    Built with an array expression (`transform` over an index sequence) and a
    single `explode` — the shingling itself never leaves the JVM. Documents
    with fewer than k tokens produce no shingles (matching generate_series
    semantics in the oracle).

    The token array is materialized as a projected column BEFORE the lambda:
    `split()` referenced inside a higher-order function is re-evaluated per
    shingle (no CSE across lambda scopes), which makes shingling O(tokens²)
    per document — measured 3× slower at sf0.1."""
    shingle_arr = (
        f"transform(sequence(0, size(_toks) - {k}),"
        f" i -> concat_ws(' ', slice(_toks, i + 1, {k})))"
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), F.split(text_col, " ").alias("_toks"))
        .filter(F.size("_toks") >= k)
        .select("doc_id",
                F.explode(F.array_distinct(F.expr(shingle_arr))).alias("shingle"))
    )


def minhash_signatures(sh: DataFrame, num_hashes: int = 8) -> DataFrame:
    """Wide MinHash signatures (doc_id, mh0..mh{n-1}): for hash function h,
    mh_h = min over shingles of ((a_h * token_id(shingle) + b_h) mod P).

    The hash family is affine with fixed odd coefficients a=6h+7, b=3h+1 —
    deterministic, no RNG, reproducible in SQL. Computed as ``num_hashes``
    min-aggregates over ONE pass of the shingle rows (map-side partial
    aggregation, single shuffle on doc_id) — no row multiplication by the
    number of hash functions."""
    tids = sh.select("doc_id", token_id(F.col("shingle")).alias("tid"))
    return tids.groupBy("doc_id").agg(*minhash_aggs(num_hashes))



def pair_fanout_expr(a: str = "a", b: str = "b") -> str:
    """SQL expression emitting every ordered pair (l[i], l[j]), i < j, from
    a sorted id array ``_l`` — the map-side posting-list fan-out shared by
    the n-gram/edit-distance/SimHash candidate generators (one definition so
    a fix to the fan-out cannot silently diverge between them)."""
    return (
        "flatten(transform(sequence(1, size(_l) - 1),"
        " i -> transform(slice(_l, i + 1, size(_l) - i),"
        f" y -> struct(element_at(_l, i) AS {a}, y AS {b}))))"
    )



def minhash_aggs(num_hashes: int) -> list:
    """The affine minhash min-aggregates ((6h+7)*tid + (3h+1)) % P over a
    ``tid`` column — ONE definition shared by :func:`minhash_signatures`
    (which feeds the persistent band index) and the batch LSH path, so the
    hash family can never silently diverge between index and query."""
    return [
        F.min((F.lit(6 * h + 7) * F.col("tid") + F.lit(3 * h + 1))
              % MINHASH_P).alias(f"mh{h}")
        for h in range(num_hashes)
    ]


def band_keys(sig: DataFrame, bands: int = 4, rows_per_band: int = 2) -> DataFrame:
    """Fold a wide signature table into LSH band rows (doc_id, band,
    band_key): positional base-(P+1) encoding of each band's ``rows_per_band``
    signature columns. These rows ARE the persistable LSH index — tiny
    (bands rows per doc, integers only) and joinable by equality."""
    if bands < 1 or rows_per_band < 1:
        # bands > num_hashes upstream gives rows_per_band = 0: _key would
        # return the Python int 0 (empty sum) and crash on .alias — raise
        # the actual contract violation instead (simhash_pairs convention)
        raise ValueError(
            f"band_keys needs bands >= 1 and rows_per_band >= 1 "
            f"(got bands={bands}, rows_per_band={rows_per_band})")
    n_have = len([c for c in sig.columns if c.startswith("mh")])
    if bands * rows_per_band > n_have:
        raise ValueError(
            f"band_keys: bands*rows_per_band = {bands * rows_per_band} "
            f"exceeds the {n_have} signature columns")

    def _key(band: int):
        cols = [F.col(f"mh{band * rows_per_band + r}")
                for r in range(rows_per_band)]
        if rows_per_band * 13 <= 62:
            # positional base-8192 (= 2^13) packing fits int64 only up to
            # 4 rows/band; beyond that the sum silently wraps (spurious
            # band collisions) or the literal 8192**r overflows LongType
            return sum(c * F.lit((MINHASH_P + 1) ** r)
                       for r, c in enumerate(cols))
        # wide bands: portable injective string key instead
        return F.md5(F.concat_ws(":", *cols))

    entries = [
        F.struct(F.lit(band).alias("band"), _key(band).alias("band_key"))
        for band in range(bands)
    ]
    return (
        sig.select("doc_id", F.explode(F.array(*entries)).alias("bk"))
        .select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))
    )


def lsh_candidate_pairs(sig: DataFrame, bands: int = 4, rows_per_band: int = 2) -> DataFrame:
    """Banded LSH: fold each band's signature columns into one integer key
    (see :func:`band_keys`), bucket the band rows, emit distinct candidate
    pairs (doc_a < doc_b).

    The explode is only bands-per-doc (tiny); pairs come from per-bucket
    POSTING LISTS (r10 opt, guide §2.3 — same rewrite as ngram_jaccard's,
    measured 2.6× there): ONE shuffle collects each (band, band_key)
    bucket's doc ids and the pair fan-out happens inside a map-side array
    expression — instead of hashing the band table TWICE for an a/b
    self-join that materializes (band, key, doc_a, doc_b) rows. Bucket
    sizes are small by construction (that is the LSH property), so both
    per-key state and the quadratic fan-out stay bounded. collect_set (not
    _list) so a duplicated upstream doc row can never fan out a
    destructive (X, X) self-pair; the sorted set fans out exactly the
    a < b pairs the self-join produced, and the cross-band ``distinct``
    is unchanged."""
    bandsig = band_keys(sig, bands=bands, rows_per_band=rows_per_band)
    pair_expr = pair_fanout_expr("doc_a", "doc_b")
    return (
        bandsig.groupBy("band", "band_key")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("_l"))
        .filter(F.size("_l") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("_p"))
        .select(F.col("_p.doc_a").alias("doc_a"),
                F.col("_p.doc_b").alias("doc_b"))
        .distinct()
    )


def minhash_band_table(df: DataFrame, k: int = 3, num_hashes: int = 8,
                       bands: int = 4, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """The persistent near-dup index rows for ``df``: shingle → minhash →
    :func:`band_keys`. Store/append these (doc_id, band, band_key) rows;
    they are all an incremental near-dup screen ever needs."""
    sig = minhash_signatures(
        shingles(df, k=k, id_col=id_col, text_col=text_col),
        num_hashes=num_hashes)
    if bands < 1 or num_hashes % bands != 0:
        # a silent floor-division would compute and then IGNORE the trailing
        # signature columns (lower recall than documented), or pass
        # rows_per_band=0; same divisibility contract as simhash_pairs
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})")
    return band_keys(sig, bands=bands, rows_per_band=num_hashes // bands)


def minhash_incremental_dedup(new_df: DataFrame, index: DataFrame,
                              k: int = 3, num_hashes: int = 8, bands: int = 4,
                              id_col: str = "doc_id", text_col: str = "text",
                              ) -> DataFrame:
    """Incremental NEAR-dup screen — the daily-crawl analogue of
    :func:`dedup_incremental` for fuzzy duplicates: flag each new document
    whose minhash bands collide with the historical ``index`` (a
    (band, band_key) table built by :func:`minhash_band_table`). Emits every
    new doc id with ``candidate_dup`` — callers drop flagged docs (the
    recall-oriented screen) or route them to exact Jaccard verification.

    Scale shape: the history participates ONLY through its integer band
    rows (bands per doc, no text, no signatures) — an equi-join on uniform
    band keys; new-batch banding is the same single doc_id shuffle as the
    batch pipeline. Append the survivors' band rows to the index afterwards.
    """
    new_bands = minhash_band_table(new_df, k=k, num_hashes=num_hashes,
                                   bands=bands, id_col=id_col,
                                   text_col=text_col)
    hits = (new_bands.join(index.select("band", "band_key").distinct(),
                           ["band", "band_key"], "left_semi")
            .select("doc_id").distinct().withColumn("_hit", F.lit(True)))
    return (new_df.select(F.col(id_col).alias("doc_id"))
            .join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("_hit"), F.lit(False)).alias("candidate_dup")))


def minhash_doc_aggregate(df: DataFrame, k: int, num_hashes: int,
                          id_col: str, text_col: str) -> DataFrame:
    """Per-doc minhash aggregate (signatures + shingle-set size + shingle
    array in ONE pass, single doc_id shuffle) — ONE definition shared by
    :func:`minhash_lsh_dedup` and :func:`near_dup_decontaminate`, the
    :func:`minhash_aggs` discipline: the aggregate shape can never
    silently diverge between the within-corpus and cross-split paths."""
    sh = shingles(df, k=k, id_col=id_col, text_col=text_col)
    return pipeline_cache(
        sh.withColumn("tid", token_id(F.col("shingle")))
        .groupBy("doc_id")
        .agg(*minhash_aggs(num_hashes),
             F.count(F.lit(1)).alias("n"),
             # shingles are distinct per doc (see shingles())
             F.collect_list("shingle").alias("shs")))


def minhash_lsh_dedup(
    df: DataFrame,
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH candidates → exact
    Jaccard verification on candidates only. Returns (doc_a, doc_b, jaccard)
    for pairs with Jaccard ≥ threshold.

    One pass over the shingle rows computes signatures + set size + the
    shingle set array per doc (single shuffle on doc_id); candidate pairs
    then join against that compact per-doc table and verification is an
    ``array_intersect`` — the exploded shingle rows are never revisited.

    The per-doc aggregate is pipeline-cached: three consumers share it
    (band entries, a-side, b-side of the candidate join). The cache is
    dropped lazily on the NEXT call (package-level registry) so repeated
    pipeline invocations don't accumulate executor storage."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})")
    drop_stale_caches()
    per_doc = minhash_doc_aggregate(df, k, num_hashes, id_col, text_col)
    cand = lsh_candidate_pairs(per_doc, bands=bands, rows_per_band=num_hashes // bands)
    docs_a = per_doc.select(F.col("doc_id").alias("_ida"), F.col("n").alias("na"),
                            F.col("shs").alias("sha"))
    docs_b = per_doc.select(F.col("doc_id").alias("_idb"), F.col("n").alias("nb"),
                            F.col("shs").alias("shb"))
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    return (
        cand.join(docs_a, F.col("doc_a") == F.col("_ida"))
        .join(docs_b, F.col("doc_b") == F.col("_idb"))
        .withColumn("_inter", inter)
        .select(
            "doc_a", "doc_b",
            F.round(F.col("_inter") / (F.col("na") + F.col("nb") - F.col("_inter")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def char_ngrams(df: DataFrame, n: int = 4, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Distinct character n-grams per document: (doc_id, ngram).

    Generated with a single regex pass — a capturing lookahead yields every
    overlapping window in O(len·n). The obvious
    ``transform(sequence(...), i -> substring(_lc, i, n))`` is O(len²):
    UTF8String.substring must re-walk bytes to codepoint i on every call
    (measured 4.4x slower at sf0.1). ``(?s)`` makes ``.`` match newlines so
    grams spanning line breaks are kept, matching the substring semantics."""
    grams = f"regexp_extract_all(_lc, '(?s)(?=(.{{{n}}}))', 1)"
    return (
        df.select(F.col(id_col).alias("doc_id"), F.lower(F.col(text_col)).alias("_lc"))
        .filter(F.length("_lc") >= n)
        .select("doc_id", F.explode(F.array_distinct(F.expr(grams))).alias("ngram"))
    )


def ngram_jaccard_dedup(
    df: DataFrame,
    n: int = 4,
    threshold: float = 0.35,
    max_doc_freq: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Character-n-gram Jaccard near-dup detection via an inverted-index
    join: explode distinct n-grams, drop ubiquitous ones (document frequency
    > ``max_doc_freq`` — they generate quadratic candidate pairs and carry no
    signal), self-join on the n-gram, count shared rare grams per pair, and
    divide by the union size of the FULL gram sets. Shared ubiquitous grams
    are excluded from the numerator — a conservative (under-)estimate, the
    standard df-pruned inverted-index trade-off.

    Scale shape: the only shuffle keys are (ngram) and (doc pair); the
    df-filter bounds each posting list, so candidate generation is
    O(sum df²) with df ≤ max_doc_freq — never all-pairs. Returns
    (doc_a, doc_b, jaccard ≥ threshold).
    """
    drop_stale_caches()
    grams = pipeline_cache(
        char_ngrams(df, n=n, id_col=id_col, text_col=text_col))
    # per-doc set sizes from the PERSISTED gram table (grams are distinct
    # per doc, so count == set size) — one tiny cache-fed aggregation
    # instead of re-running the O(len·n) regexp extraction over the
    # documents scan once per join side (plan showed 3 scans before)
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    # document frequency via partial-aggregated groupBy (map-side combine),
    # NOT a window over every gram row (full shuffle of every gram row on the
    # gram key). Only the grams that FAIL the cap survive — the Zipf head, a
    # tiny set — so pruning is a broadcast anti-join: the gram rows shuffle
    # only once (pair join). `grams` is persisted because three consumers
    # (sizes, df counts, join probe) would otherwise re-run the explode scan.
    common = (
        grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_doc_freq).select("ngram")
    )
    rare = grams.join(F.broadcast(common), "ngram", "left_anti")
    # candidate pairs via per-gram POSTING LISTS, not a gram-key self-join:
    # one shuffle collects each pruned gram's doc ids (bounded by the df cap,
    # so per-key state ≤ max_doc_freq), and the quadratic pair fan-out
    # happens inside a map-side array expression — the 1.5M-row gram table
    # is hashed ONCE instead of twice, and no join ever materializes
    # (gram, doc_a, doc_b) wider than the pairs themselves. Measured 2.6×
    # at sf0.1 vs the a/b self-join formulation.
    pair_expr = pair_fanout_expr("doc_a", "doc_b")
    shared = (
        # collect_SET: a duplicated doc_id row (re-crawl glitch) would put
        # the same id twice in a posting list and fan out a destructive
        # (X, X) self-pair; sizes/df are still per-row counts — exact for
        # well-formed input, documented approximation under key duplication
        rare.groupBy("ngram").agg(F.array_sort(F.collect_set("doc_id")).alias("_l"))
        .filter(F.size("_l") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("_p"))
        .groupBy(F.col("_p.doc_a").alias("doc_a"), F.col("_p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("_ida"), F.col("n_grams").alias("_na"))
    sb = sizes.select(F.col("doc_id").alias("_idb"), F.col("n_grams").alias("_nb"))
    return (
        shared.join(sa, F.col("doc_a") == F.col("_ida"))
        .join(sb, F.col("doc_b") == F.col("_idb"))
        .select(
            "doc_a", "doc_b",
            F.round(F.col("_shared")
                    / (F.col("_na") + F.col("_nb") - F.col("_shared")), 6)
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment(
    df: DataFrame,
    n: int = 4,
    threshold: float = 0.6,
    max_doc_freq: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Directed character-n-gram containment: C(A→B) = |A∩B| / |A| — the
    asymmetric companion to :func:`ngram_jaccard_dedup`. Containment is
    what catches a SMALL document embedded in a BIG one (quote inclusion,
    boilerplate wrapping, partial copies): a 100-gram doc fully inside a
    10,000-gram doc has Jaccard ≈ 0.01 (invisible to the symmetric
    detector) but containment ≈ 1.0 (Broder 1997's resemblance vs
    containment distinction, "On the resemblance and containment of
    documents").

    Same scale machinery as the Jaccard detector — distinct-gram explode,
    document-frequency pruning (a broadcast anti-join of the Zipf head),
    posting-list pair fan-out bounded by the df cap, one aggregation per
    pair — and the same conservative convention: the shared count excludes
    df-pruned grams while the denominators are FULL set sizes, so the
    score is an under-estimate.

    Returns one row per unordered candidate pair (doc_a < doc_b):
    (doc_a, doc_b, cont_a_in_b, cont_b_in_a, containment, direction) with
    ``containment`` the max of the two directions (filtered ≥ threshold)
    and ``direction`` naming the contained side ('a_in_b' on ties — the
    deterministic pick).
    """
    drop_stale_caches()
    grams = pipeline_cache(
        char_ngrams(df, n=n, id_col=id_col, text_col=text_col))
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    common = (
        grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_doc_freq).select("ngram")
    )
    rare = grams.join(F.broadcast(common), "ngram", "left_anti")
    pair_expr = pair_fanout_expr("doc_a", "doc_b")
    shared = (
        rare.groupBy("ngram").agg(F.array_sort(F.collect_set("doc_id")).alias("_l"))
        .filter(F.size("_l") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("_p"))
        .groupBy(F.col("_p.doc_a").alias("doc_a"), F.col("_p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("_ida"), F.col("n_grams").alias("_na"))
    sb = sizes.select(F.col("doc_id").alias("_idb"), F.col("n_grams").alias("_nb"))
    c_ab = F.round(F.col("_shared") / F.col("_na"), 6)
    c_ba = F.round(F.col("_shared") / F.col("_nb"), 6)
    return (
        shared.join(sa, F.col("doc_a") == F.col("_ida"))
        .join(sb, F.col("doc_b") == F.col("_idb"))
        .select(
            "doc_a", "doc_b",
            c_ab.alias("cont_a_in_b"),
            c_ba.alias("cont_b_in_a"),
            F.greatest(c_ab, c_ba).alias("containment"),
            F.when(c_ab >= c_ba, F.lit("a_in_b")).otherwise(F.lit("b_in_a"))
            .alias("direction"),
        )
        .filter(F.col("containment") >= threshold)
    )


def simhash(id_col: str = "doc_id", text_col: str = "text", k: int = 3,
            bits: int = 16) -> Callable[[DataFrame], DataFrame]:
    """Per-document SimHash: for each bit b, sum ±1 votes of bit b of each
    shingle hash; bit set iff the vote sum is non-negative.

    Computed as ``bits`` sum-aggregates over one pass of the shingle rows
    (no per-bit row explosion): map-side partial aggregation, one shuffle on
    doc_id, then a single-row expression folds the vote signs into the hash.

    ``bits`` is capped at 32: the source hash is a 32-bit md5 slice, so any
    higher bit would be a constant-zero vote for every document — and a
    downstream pigeonhole band over constant bits collapses to ONE bucket
    (an all-pairs join), the exact blowup banding exists to prevent."""
    if not 1 <= bits <= 32:
        raise ValueError(f"bits must be in [1, 32] (32-bit source hash), got {bits}")

    def _apply(df: DataFrame) -> DataFrame:
        sh = shingles(df, k=k, id_col=id_col, text_col=text_col)
        # second md5 slice (chars 9-16) = an independent, well-mixed 32-bit
        # hash — avoids multiplicative mixing that overflows bigint
        hashed = sh.select(
            "doc_id",
            F.conv(F.substring(F.md5(F.col("shingle")), 9, 8), 16, 10)
            .cast("bigint").alias("hx"))
        vote_aggs = [
            F.sum(F.when(F.expr(f"shiftright(hx, {b}) % 2 = 1"), 1).otherwise(-1)).alias(f"v{b}")
            for b in range(bits)
        ]
        votes = hashed.groupBy("doc_id").agg(*vote_aggs)
        hash_expr = sum(
            F.when(F.col(f"v{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
            for b in range(bits)
        )
        return votes.select("doc_id", hash_expr.cast("bigint").alias("simhash"))

    return _apply


def dup_clusters(pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b",
                 max_iter: int = 30) -> DataFrame:
    """Resolve near-dup *pairs* into connected components — the final step of
    a dedup pipeline (pairs → clusters → one canonical doc per cluster).
    Returns (id, cluster_id) for every id appearing in ``pairs``, where
    cluster_id = min id of the component.

    Iterative min-label propagation: each round every node takes the min of
    its own label and its neighbors' labels; converges within the graph
    diameter. Dedup graphs are forests of shallow cliques, so rounds ≈ 2-4 in
    practice; each round is one shuffle of the (small) edge set, never of the
    corpus, and per-round EAGER ``localCheckpoint`` truncates lineage so
    plans stay flat. The r10 pipeline_cache migration was tried here and
    REVERTED: labels are back-referenced twice per round (the propagation
    join + the convergence compare), so the analyzed logical tree doubles
    per round between checkpoints — fine on shallow graphs (sf0.01
    passed), but composed pipelines whose pair frame is itself a large
    plan (semantic_dedup's near-dup front end) drove the driver to a heap
    OOM at sf0.1 before an every-8th-round checkpoint could cut the tree.
    Per-round eager checkpoints keep the analyzed tree O(1) in rounds —
    the graph.py module docstring documents when each discipline applies.
    Driver-side iteration mirrors the reference's cyclic-graph pattern
    (`/root/reference/src/main/scala/akka/stream/contrib/FeedbackLoop.scala:18-38`) —
    Spark plans are DAGs, so the cycle lives in the driver loop.
    """
    edges = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    und = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    und = und.localCheckpoint(eager=True)
    # SELF-LOOP fold (r11, guide §2.4): appending one (u, u) row per node
    # lets every round read a node's own label out of the same
    # neighbor-join stream — min(lbl over neighbors ∪ self) IS
    # least(old, neighbor_min), and min(lbl where v = u) IS the old label —
    # so the labels ⋈ neighbor_min join (one label-table shuffle join per
    # round) disappears. Built from the already-checkpointed `und` (one
    # cheap distinct + checkpoint job up front, NOT a third scan of the
    # caller's pair plan) so per-round lineage stays flat.
    und = und.union(
        und.select("u").distinct()
        .select("u", F.col("u").alias("v"))).localCheckpoint(eager=True)
    # min(v) over neighbors ∪ self == least(u, min-neighbor) of the old form
    labels = (und.groupBy("u").agg(F.min("v").alias("lbl"))
              .localCheckpoint(eager=True))
    for rnd in range(max_iter):
        # one join + one groupBy per round: the self-loop row carries u's
        # own label through the same aggregation, yielding the PRE-step
        # label (_old, for the row-local convergence count) and the
        # combined min in one pass
        step = (und.join(labels.withColumnRenamed("u", "v"), "v")
                .groupBy("u")
                .agg(F.min("lbl").alias("_nlbl"),
                     F.min(F.when(F.col("v") == F.col("u"),
                                  F.col("lbl"))).alias("_old")))
        new_lbl = F.col("_nlbl")
        if rnd >= 2:
            # pointer-jumping hop from round 3 on: also take lbl(lbl(x)).
            # Neighbor-min alone converges in O(diameter) rounds; adding the
            # hop makes path graphs converge in O(log diameter) (each round
            # at least doubles how far the min has traveled). The combined
            # update is pointwise <= the pure one and every label is still a
            # component node id, so the fixpoint (= component min) and the
            # no-decrease termination test are unchanged — only the round
            # count drops. Gated to round >= 3 because dedup forests of
            # shallow cliques converge in 2-3 rounds and would pay the extra
            # label self-join for nothing; long chains (record-linkage name
            # graphs) are exactly the inputs that reach round 3.
            hop = labels.select(F.col("u").alias("_lk"),
                                F.col("lbl").alias("_l2"))
            step = step.join(hop, F.col("_old") == F.col("_lk"), "left")
            new_lbl = F.least("_nlbl", "_l2")
        step = (step
                .select("u", "_old", new_lbl.alias("lbl"))
                .localCheckpoint(eager=True))
        changed = step.filter(F.col("lbl") < F.col("_old")).count()
        labels = step.select("u", "lbl")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iter} rounds — "
            "component diameter exceeds the bound; raise max_iter")
    return labels.select(F.col("u").alias("id"), F.col("lbl").alias("cluster_id"))


def positional_ngrams(df: DataFrame, k: int = 8, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Every k-token window with its position: (doc_id, pos, gram) — one row
    per OCCURRENCE (unlike :func:`shingles`, which is distinct-per-doc).
    ``pos`` is the 0-based index of the window's first token.

    Same single-pass array construction as :func:`shingles` (token array
    projected once, ``transform`` over an index sequence, one ``posexplode``)
    so the whole gram table is produced map-side with no window functions."""
    gram_arr = (
        f"transform(sequence(0, size(_toks) - {k}),"
        f" i -> concat_ws(' ', slice(_toks, i + 1, {k})))"
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), F.split(text_col, " ").alias("_toks"))
        .filter(F.size("_toks") >= k)
        .select("doc_id", F.posexplode(F.expr(gram_arr)).alias("pos", "gram"))
    )


# canonical-occurrence key: doc_id * 2^32 + pos, totally ordered and portable


def duplicate_spans(df: DataFrame, k: int = 8, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Exact duplicated-substring detection, the corpus-level dedup from
    "Deduplicating Training Data Makes Language Models Better" (Lee et al.,
    2022), re-expressed Spark-first: instead of a suffix array (a global
    sorted structure that does not shard), find every k-token window whose
    text occurs more than once ANYWHERE in the corpus, drop the single
    canonical occurrence (lowest (doc_id, pos)), and merge the surviving
    marks into maximal per-document spans. Returns
    (doc_id, span_start, span_end) — inclusive 0-based token ranges that a
    cleaner may cut (see :func:`span_dedup`).

    Scale shape: one map-side gram pass (:func:`positional_ngrams`), one
    shuffle grouping on unhex(md5(gram)) — a uniform 128-bit key, so no skew
    and 16 key bytes instead of the k-word string on the wire; the duplicated-gram
    table (count > 1) is typically a small fraction of the corpus and joins
    back to the occurrence rows on the same hash. Span merging is a
    gaps-and-islands window partitioned per document — bounded work per doc.
    At 100 TB every stage is an ordinary hash shuffle; nothing global, no
    suffix array, no driver state.
    """
    occ = (positional_ngrams(df, k=k, id_col=id_col, text_col=text_col)
           # unhex: the 16-byte digest itself, not its 32-char hex
           # rendering — same 128-bit grouping key (unhex is bijective on
           # md5 output), half the shuffle-key bytes (r10 opt, guide §2.3)
           .select(F.unhex(F.md5("gram")).alias("g"),
                   # occurrence key as an ORDERABLE STRUCT, not an integer
                   # pack: works for string/huge ids (a doc_id*2^32 pack
                   # NULLs non-numeric ids and wraps past 2^31), and struct
                   # lexicographic order == the (doc_id, pos) canonical order
                   F.struct(F.col("doc_id"), F.col("pos")).alias("_key")))
    # posting-list form: ONE shuffle on the gram hash collects each gram's
    # occurrence keys; dropping the canonical occurrence is a map-side array
    # filter (x != array_min). The previous groupBy + join-back shape both
    # recomputed the gram explode and shuffled the occurrence rows twice.
    # Per-gram state is O(occurrences of that gram) — even a corpus-wide
    # boilerplate gram at 100k occurrences is sub-MB of bigints.
    marked = (
        occ.groupBy("g").agg(F.collect_list("_key").alias("_ks"))
        .filter(F.size("_ks") >= 2)
        # drop exactly ONE canonical occurrence — the array head after a
        # sort. filter(x != array_min) dropped EVERY occurrence tied with
        # the minimum, so two identical rows of one doc kept both full
        # copies uncut (copy-vs-copy duplication produced no marks)
        .select(F.explode(F.expr(
            "slice(array_sort(_ks), 2, size(_ks) - 1)")).alias("_key"))
        .select(F.col("_key.doc_id").alias("doc_id"),
                F.col("_key.pos").alias("s"))
        .withColumn("e", F.col("s") + F.lit(k - 1))
    )
    w = Window.partitionBy("doc_id").orderBy("s")
    prev_max = (Window.partitionBy("doc_id").orderBy("s")
                .rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        marked
        .withColumn("_pmax", F.max("e").over(prev_max))
        .withColumn("_new", F.when(
            F.col("_pmax").isNull() | (F.col("s") > F.col("_pmax") + 1),
            F.lit(1)).otherwise(F.lit(0)))
        .withColumn("_isl", F.sum("_new").over(w))
    )
    return (islands.groupBy("doc_id", "_isl")
            .agg(F.min("s").alias("span_start"), F.max("e").alias("span_end"))
            .select("doc_id", "span_start", "span_end"))


def span_dedup(df: DataFrame, k: int = 8, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Apply :func:`duplicate_spans`: cut every duplicated span (keeping the
    corpus-wide canonical occurrence) and re-join the remaining tokens.
    Returns (doc_id, clean_text, removed_tokens) for EVERY input document —
    untouched docs pass through with removed_tokens = 0.

    The span list joins back per document (spans per doc are few — they were
    merged to maximal islands), and the cut is a higher-order-function filter
    over the token index sequence, entirely JVM-side: no token-row explode,
    no range join. A fully-duplicated document yields clean_text = ''."""
    spans = duplicate_spans(df, k=k, id_col=id_col, text_col=text_col)
    sp_arr = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans"))
    keep_expr = (
        "transform(filter(sequence(0, size(_toks) - 1),"
        " i -> _spans IS NULL OR NOT exists(_spans,"
        " sp -> i >= sp.span_start AND i <= sp.span_end)),"
        " i -> element_at(_toks, i + 1))"
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), F.split(text_col, " ").alias("_toks"))
        .join(sp_arr, "doc_id", "left")
        .withColumn("_kept", F.expr(keep_expr))
        # NULL text carries no tokens: it passes through with clean_text ''
        # and removed_tokens 0 per the every-input-doc contract — the raw
        # size() arithmetic yielded NULL/NULL, which downstream sums of
        # removed_tokens silently skipped and non-null writers rejected
        .select("doc_id",
                F.coalesce(F.array_join(F.col("_kept"), " "), F.lit(""))
                .alias("clean_text"),
                F.coalesce(F.size("_toks") - F.size("_kept"), F.lit(0))
                .cast("bigint").alias("removed_tokens"))
    )


def edit1_pairs(df: DataFrame, id_col: str, str_col: str) -> DataFrame:
    """Exact edit-distance-≤1 self-join via the deletion neighborhood
    (the spell-checker / SymSpell indexing trick): two strings are at
    Levenshtein distance ≤ 1 iff they share a key in
    ``{s} ∪ {s with one char deleted}`` — substitutions meet at the common
    deletion position, insert/delete pairs meet at the shorter string
    itself. Candidates sharing a key can still be at distance 2
    (different-position deletions), so survivors are verified with the
    threshold-bounded ``levenshtein(a, b, 1)``.

    Replaces prefix blocking, which is quadratic inside each block AND
    misses pairs that differ inside the prefix. Scale shape: O(Σ len) key
    rows, ONE shuffle grouping them, pair fan-out inside a map-side array
    expression (posting lists are tiny — a variant is shared only by
    near-identical strings), a pair-distinct reduction, and codegen-side
    verification on candidates only. No block-size skew parameter to tune.

    The shuffle key is ``xxhash64(variant)`` (8 bytes), not the variant
    string (r10 opt, guide §2.3 — shuffle keys instead of payloads): a
    hash collision can only MERGE two posting lists, never split one, so
    no true pair is lost and any spurious candidate a merge fans out is
    rejected by the threshold-bounded levenshtein verification — output
    identical by construction even under collisions.

    Emits (id_a, id_b, edit_distance) with the pair ordered by the string
    (a < b), distance ∈ {0, 1} (0 only for duplicate strings under distinct
    ids).
    """
    variants = (
        "array_append(transform(sequence(1, length(_s)),"
        " i -> concat(substring(_s, 1, i - 1),"
        " substring(_s, i + 1, length(_s)))), _s)"
    )
    v = (df.select(F.col(id_col).alias("_id"), F.col(str_col).alias("_s"))
         .select("_id", "_s", F.explode(F.expr(variants)).alias("variant"))
         .select("_id", "_s", F.xxhash64("variant").alias("_vk")))
    pair_expr = pair_fanout_expr()
    cand = (
        v.groupBy("_vk")
        .agg(F.array_sort(F.collect_list(F.struct("_s", "_id"))).alias("_l"))
        .filter(F.size("_l") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("_p"))
        # the list is sorted by (string, id): keep strictly-ordered pairs —
        # equal strings (distance 0) pair by id; drop only the same-entry
        # self-pairs a repeated deletion of one string can produce
        .filter(((F.col("_p.a._s") < F.col("_p.b._s"))
                 | ((F.col("_p.a._s") == F.col("_p.b._s"))
                    & (F.col("_p.a._id") < F.col("_p.b._id"))))
                # a duplicated id carrying two DIFFERENT strings meets at a
                # shared deletion key: never emit it as its own neighbor
                & (F.col("_p.a._id") != F.col("_p.b._id")))
        .select(F.col("_p.a._id").alias("id_a"), F.col("_p.b._id").alias("id_b"),
                F.col("_p.a._s").alias("_sa"), F.col("_p.b._s").alias("_sb"))
        .groupBy("id_a", "id_b")
        .agg(F.first("_sa").alias("_sa"), F.first("_sb").alias("_sb"))
    )
    return (cand
            .withColumn("edit_distance", F.levenshtein("_sa", "_sb", 1))
            .filter(F.col("edit_distance") >= 0)
            .select("id_a", "id_b", "edit_distance"))


def simhash_pairs(df: DataFrame, max_hamming: int = 3, k: int = 3,
                  bits: int = 16, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """SimHash near-dup PAIRS — completes the signature into a detector the
    way banded LSH completes MinHash: split the ``bits``-bit fingerprint
    into ``max_hamming + 1`` bands; by pigeonhole, any pair within the
    hamming radius agrees exactly on at least one band, so candidates are
    an equi-join on (band, band_bits) and verification is
    ``bit_count(a XOR b) ≤ max_hamming`` — pure integer codegen.

    Scale shape: signatures are one doc_id shuffle (see :func:`simhash`);
    band rows are ``bands`` integers per doc; candidates come from the same
    posting-list fan-out as :func:`edit1_pairs` (one shuffle on the band
    key, map-side pair expression, pair-level dedup). Hot bands (a common
    16-bit pattern in a clustered corpus) bound the fan-out at
    O(band population²) — widen ``bits`` to re-spread before that bites.

    Emits (doc_a, doc_b, hamming).
    """
    bands = max_hamming + 1
    if bits % bands != 0:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    sig = df.transform(simhash(id_col=id_col, text_col=text_col, k=k, bits=bits))
    entries = F.array(*[
        F.struct(F.lit(j).alias("band"),
                 (F.shiftright("simhash", j * band_bits).bitwiseAND(F.lit(mask))
                  ).alias("bkey"))
        for j in range(bands)
    ])
    band_rows = (sig.select("doc_id", "simhash", F.explode(entries).alias("_b"))
                 .select("doc_id", "simhash",
                         F.col("_b.band").alias("band"),
                         F.col("_b.bkey").alias("bkey")))
    pair_expr = pair_fanout_expr()
    return (
        band_rows.groupBy("band", "bkey")
        .agg(F.array_sort(F.collect_set(F.struct("doc_id", "simhash"))).alias("_l"))
        .filter(F.size("_l") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("_p"))
        # a duplicated doc_id row (same or different signature) must never
        # pair with itself — hamming(X, X) = 0 would flag X for deletion
        .filter(F.col("_p.a.doc_id") != F.col("_p.b.doc_id"))
        # verify BEFORE the cross-band pair dedup (r11, guide §2.3): the
        # hamming check needs only the candidate row itself, so applying
        # it map-side means the dedup shuffle carries (doc_a, doc_b,
        # hamming) for VERIFIED pairs only — not two signatures for every
        # band collision. Every copy of a pair computes the same hamming
        # (signatures are per-doc), so min() == the old first() over a
        # verified-only stream, and the map-combined aggregate shrinks
        # further. Output-identical: the old plan filtered the same
        # predicate after its groupBy.
        .select(F.col("_p.a.doc_id").alias("doc_a"),
                F.col("_p.b.doc_id").alias("doc_b"),
                F.bit_count(F.col("_p.a.simhash")
                            .bitwiseXOR(F.col("_p.b.simhash")))
                .alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("doc_a", "doc_b")
        .agg(F.min("hamming").alias("hamming"))
    )


def novelty_score(n: int = 3, id_col: str = "doc_id", text_col: str = "text"
                  ) -> Callable[[DataFrame], DataFrame]:
    """Per-document n-gram novelty: the share of the document's DISTINCT
    word n-grams whose first corpus occurrence (lowest doc id) is this
    document — the how-much-new-content-does-each-doc-add curve used to
    diagnose corpus redundancy before/after dedup (an exact duplicate of
    an earlier doc scores 0.0; the corpus opener scores 1.0).

    Output: (doc_id, n_grams, novel, novelty).

    Scale shape: grams explode map-side; one shuffle to distinct
    (doc, gram), one to the per-gram min-doc table, one per-doc count of
    that frame — and the per-doc NOVEL count is the min-doc table itself
    re-keyed by its owning doc (``novel(d) = |{g : min_doc(g) = d}|``),
    so the corpus-sized gram-keyed ownership join the first version paid
    (doc_grams ⋈ first on gram, then a per-doc reduce of the joined
    stream) is gone: what remains keyed by doc are two doc-cardinality
    aggregates and their doc-keyed join. The distinct (doc, gram) frame
    feeds both aggregations, so it is pipeline-cached — without it the
    explode+distinct lineage recomputes per consumer. (A window-min over
    the gram partition was also tried and measured SLOWER than the
    groupBy — 1.14 → 1.28 s warm at sf0.1 — per-partition sort vs hash.)
    Integer counts only — no float accumulation.
    """

    def _apply(df: DataFrame) -> DataFrame:
        toks = df.select(F.col(id_col).alias("doc_id"),
                         F.split(F.lower(F.col(text_col)), " ").alias("_t"))
        cnt = F.size("_t") - (n - 1)
        # sequence(1, 0) DESCENDS in Spark — emit no grams for short docs
        idx = F.when(cnt >= 1, F.sequence(F.lit(1), cnt)) \
               .otherwise(F.array().cast("array<int>"))
        grams = toks.select(
            "doc_id",
            F.explode(F.transform(
                idx,
                lambda i: F.concat_ws(" ", F.slice("_t", i, n)))).alias("gram"))
        doc_grams = pipeline_cache(grams.distinct())
        first = doc_grams.groupBy("gram").agg(F.min("doc_id").alias("_first"))
        novel = (first.groupBy(F.col("_first").alias("doc_id"))
                 .agg(F.count(F.lit(1)).alias("novel")))
        per_doc = (doc_grams.groupBy("doc_id")
                   .agg(F.count(F.lit(1)).alias("n_grams")))
        return (per_doc.join(novel, "doc_id", "left")
                .select("doc_id", "n_grams",
                        F.coalesce(F.col("novel"), F.lit(0).cast("long"))
                        .alias("novel"))
                .withColumn("novelty",
                            F.round(F.col("novel") / F.col("n_grams"), 6)
                            + F.lit(0.0)))

    return _apply


def lsh_tune(threshold: float, n_perm: int = 64) -> tuple[int, int]:
    """Choose (bands, rows) for MinHash LSH banding: among factorizations
    ``bands × rows = n_perm``, pick the one whose S-curve threshold
    ``(1/bands)^(1/rows)`` lands closest to the target Jaccard
    ``threshold`` — the standard tuning rule (Mining of Massive Datasets
    §3.4.3). Pure planning helper: feed the result to minhash_lsh_dedup.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    best = None
    for bands in range(1, n_perm + 1):
        if n_perm % bands:
            continue
        rows = n_perm // bands
        t = (1.0 / bands) ** (1.0 / rows)
        err = abs(t - threshold)
        if best is None or err < best[0]:
            best = (err, bands, rows)
    return best[1], best[2]


def cross_lingual_dedup(
    df: DataFrame,
    n: int = 4,
    threshold: float = 0.35,
    max_doc_freq: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-lingual / transliteration-robust near-dup detection: fold each
    document through :func:`akka_stream_contrib_spark.functions.text.
    translit_normalize` (lowercase, 1:1 diacritic fold, punctuation strip,
    whitespace collapse) and run the character-n-gram Jaccard inverted-index
    plan on the FOLDED text. Catches the re-post written without accents,
    the OCR pass that dropped diacritics, and punctuation-variant mirrors —
    pairs whose raw n-gram Jaccard sits below any usable threshold.

    Same scale shape as :func:`ngram_jaccard_dedup` (the fold is extra
    map-side codegen on the scan, zero added shuffles): df-pruned posting
    lists, no all-pairs anywhere. Documents that fold to fewer than ``n``
    characters (non-Latin scripts strip away) produce no grams and exit the
    candidate stream — quarantine them upstream via the empty-fold signal.

    Output: (doc_a, doc_b, jaccard) on the folded gram sets.
    """
    from akka_stream_contrib_spark.functions.text import translit_normalize

    folded = df.select(
        F.col(id_col),
        translit_normalize(F.col(text_col)).alias(text_col))
    return ngram_jaccard_dedup(folded, n=n, threshold=threshold,
                               max_doc_freq=max_doc_freq,
                               id_col=id_col, text_col=text_col)

def near_dup_decontaminate(train: DataFrame, eval_df: DataFrame, k: int = 3,
                           num_hashes: int = 8, bands: int = 4,
                           threshold: float = 0.5, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """CROSS-SPLIT fuzzy decontamination: MinHash-LSH between the training
    corpus and an evaluation set, flagging each training document whose
    near-duplicate lives in the benchmark — the step modern corpus
    pipelines (Dolma, FineWeb) run beyond :func:`~akka_stream_contrib_spark.
    functions.corpus.decontaminate`'s exact-shingle containment: a
    benchmark item that was lightly paraphrased or truncated into the
    crawl still leaks, and only near-dup detection catches it.

    Same verified kernel as :func:`minhash_lsh_dedup` (one shared
    :func:`minhash_aggs` hash family, :func:`band_keys` bucketing, exact
    Jaccard verification on candidates only) with the pair join taken
    ACROSS the two sides instead of within one: train band rows bucket-join
    eval band rows, so no within-split pairs are ever generated. The eval
    side is benchmark-sized (MBs against a 100 TB corpus) — its band table
    and per-doc aggregate are tiny, and AQE broadcasts them at runtime;
    the training corpus is shingled and aggregated ONCE (single doc_id
    shuffle), exactly the dedup-family discipline.

    Emits one row per CONTAMINATED training doc: (doc_id, eval_id,
    jaccard) with eval_id the argmax-Jaccard benchmark match (min eval_id
    tie-break); training docs without a candidate above ``threshold`` are
    absent (the common case — the output is benchmark-sized too).
    """
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})")
    drop_stale_caches()
    rows_per_band = num_hashes // bands
    tr = minhash_doc_aggregate(train, k, num_hashes, id_col, text_col)
    ev = minhash_doc_aggregate(eval_df, k, num_hashes, id_col, text_col)
    tb = band_keys(tr, bands=bands, rows_per_band=rows_per_band) \
        .select(F.col("doc_id").alias("_t"), "band", "band_key")
    eb = band_keys(ev, bands=bands, rows_per_band=rows_per_band) \
        .select(F.col("doc_id").alias("_e"), "band", "band_key")
    # no pre-join distinct (r11, guide §2.4): a pair colliding in several
    # bands is verified at most ``bands`` times (bounded duplication over a
    # benchmark-sized candidate stream), and the final per-train-doc MIN
    # aggregate collapses identical copies to the identical winner — so
    # the distinct's dedicated exchange bought nothing the tail aggregate
    # does not already do. Output-identical: min over duplicated rows.
    cand = (tb.join(eb, ["band", "band_key"])
            .select(F.col("_t").alias("doc_id"),
                    F.col("_e").alias("eval_id")))
    ta = tr.select("doc_id", F.col("n").alias("_nt"),
                   F.col("shs").alias("_st"))
    ea = ev.select(F.col("doc_id").alias("eval_id"),
                   F.col("n").alias("_ne"), F.col("shs").alias("_se"))
    inter = F.size(F.array_intersect("_st", "_se"))
    scored = (cand.join(ta, "doc_id").join(ea, "eval_id")
              .withColumn("jaccard",
                          F.round(inter / (F.col("_nt") + F.col("_ne")
                                           - inter), 6))
              .filter(F.col("jaccard") >= threshold))
    # per-train-doc argmax as a MIN aggregate over a (−jaccard, eval_id,
    # jaccard) struct (the nb_predict / lpa r10 discipline): lexicographic
    # struct order IS the (jaccard desc, eval_id asc) order the former
    # row_number window sorted by — jaccard is a 6-dp round of an
    # all-integer ratio (denominator ≥ 1, never NaN), so double negation
    # is order-exact; the trailing payload field never decides a
    # comparison because (jaccard, eval_id) is already unique per doc.
    # The hash aggregate partially combines map-side where the window
    # shipped and sorted every surviving candidate pair.
    return (scored.groupBy("doc_id")
            .agg(F.min(F.struct((-F.col("jaccard")).alias("nj"),
                                F.col("eval_id").alias("ev"),
                                F.col("jaccard").alias("jc"))).alias("_b"))
            .select("doc_id", F.col("_b.ev").alias("eval_id"),
                    F.col("_b.jc").alias("jaccard")))


def lsh_design_report(configs=((8, 8), (16, 4), (32, 2)),
                      target_threshold: float = 0.5,
                      bucket_width: float = 0.05,
                      sim_col: str = "sim"
                      ) -> "Callable[[DataFrame], DataFrame]":
    """Banded-LSH design study — `lsh_tune` inverts the S-curve for ONE
    threshold analytically; this evaluates CANDIDATE (bands, rows)
    configurations against the corpus's MEASURED pair-similarity
    distribution, which is what actually decides recall/cost at 100 TB: a
    config that looks fine on the curve can drown in candidate pairs if
    the corpus has heavy near-threshold mass. For each config, over a
    histogram of observed pair similarities (``bucket_width`` buckets,
    scored at the bucket midpoint): collision probability
    P(s) = 1 - (1 - s^r)^b, the config's effective threshold
    s* = (1/b)^(1/r), expected candidate-pair count, false-positive mass
    (candidates below ``target_threshold``) and false-negative mass
    (misses at/above it).

    Both integer powers evaluate as exact telescoping products inside
    array folds (the `pass_at_k` discipline) — identical float
    association in Spark and DuckDB, so oracle parity needs no tolerance;
    only s* uses ``pow`` (1/r is fractional), rounded to 6.

    Scale shape: ONE corpus-sized groupBy builds the |1/bucket_width|-row
    histogram; the constant |configs|x explode and every aggregate after
    operate on histogram-cardinality rows. No windows, no joins.

    Emits (bands, rows_per_band, s_star, expected_candidates,
    false_positive_mass, false_negative_mass, n_pairs).
    """
    cfgs = sorted(set((int(b), int(r)) for b, r in configs))
    if not cfgs or any(b < 1 or r < 1 for b, r in cfgs):
        raise ValueError(f"configs must be positive (bands, rows), "
                         f"got {configs!r}")
    if not 0.0 < target_threshold < 1.0:
        raise ValueError(
            f"target_threshold must be in (0, 1), got {target_threshold}")
    if not 0.0 < bucket_width <= 0.5:
        raise ValueError(
            f"bucket_width must be in (0, 0.5], got {bucket_width}")

    def _ipow(base, k):
        # exact integer power: fold over sequence(1, k); k >= 1 always
        return F.aggregate(F.sequence(F.lit(1), k), F.lit(1.0),
                           lambda acc, _: acc * base)

    def _apply(df: DataFrame) -> DataFrame:
        bucket = F.floor(F.col(sim_col) / F.lit(float(bucket_width)))
        hist = (df.filter(F.col(sim_col).isNotNull())
                .groupBy(bucket.alias("_bk"))
                .agg(F.count(F.lit(1)).alias("_n")))
        ex = hist.select(
            "_bk", "_n",
            F.explode(F.array(*[
                F.struct(F.lit(b).alias("b"), F.lit(r).alias("r"))
                for b, r in cfgs])).alias("_cfg"))
        b, r = F.col("_cfg.b"), F.col("_cfg.r")
        # clamp: sim = 1.0 (exact duplicates — routine in a dedup sample)
        # floors into a bucket whose raw midpoint exceeds 1, where the
        # S-curve is out of domain (p > 1, negative miss mass)
        s_mid = F.least((F.col("_bk") + F.lit(0.5))
                        * F.lit(float(bucket_width)), F.lit(1.0))
        p = F.lit(1.0) - _ipow(F.lit(1.0) - _ipow(s_mid, r), b)
        below = s_mid < F.lit(float(target_threshold))
        # per-row projection first: s_star is constant within a config
        # group, so it rides as max() — referencing grouping expressions
        # inside agg is version-fragile
        rows = ex.select(
            b.alias("bands"), r.alias("rows_per_band"), F.col("_n"),
            (F.round(F.pow(F.lit(1.0) / b, F.lit(1.0) / r), 6)
             + F.lit(0.0)).alias("_sstar"),
            (F.col("_n") * p).alias("_cand"),
            F.when(below, F.col("_n") * p).otherwise(F.lit(0.0))
            .alias("_fp"),
            F.when(~below, F.col("_n") * (F.lit(1.0) - p))
            .otherwise(F.lit(0.0)).alias("_fn"))
        return (rows.groupBy("bands", "rows_per_band")
                .agg(F.max("_sstar").alias("s_star"),
                     (F.round(F.sum("_cand"), 6) + F.lit(0.0))
                     .alias("expected_candidates"),
                     (F.round(F.sum("_fp"), 6) + F.lit(0.0))
                     .alias("false_positive_mass"),
                     (F.round(F.sum("_fn"), 6) + F.lit(0.0))
                     .alias("false_negative_mass"),
                     F.sum("_n").alias("n_pairs"))
                .orderBy("bands"))

    return _apply
