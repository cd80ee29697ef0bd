"""Shuffle-budget regression harness: every gate query's physical plan is
pinned to its audited shuffle-Exchange count (SCALE.md's accounting, made
executable). A refactor that silently adds a shuffle — the scale-limiting
resource at 100 TB — fails here loudly, the same way a golden-value test
catches a semantics regression.

Budgets are ceilings (==audited count at authoring time); improving a plan
means lowering the budget, never raising it without a SCALE.md argument.
The same plan walk's other lenses (parquet scans per table, Python eval
nodes, SinglePartition exchanges, cartesian / nested-loop joins,
low-cardinality hash keys) are ceilings too, pinned in plan_census.json
and rewritten by ``python tools/plan_census.py``.
"""

from __future__ import annotations

import json
import os

import pytest

import __spark_entry__ as entry
from akka_stream_contrib_spark.plans import formatted_plan, plan_census

SF = "/root/testdata/sf0.001"

with open(os.path.join(os.path.dirname(__file__), "plan_census.json")) as f:
    CENSUS = json.load(f)

# query -> max shuffle exchanges (audited 2026-08-13, spark 4.1, AQE on,
# 64 MB broadcast threshold; sf0.001 statistics)
# r10: global_order's range cache moved from eager localCheckpoint to a
# pipeline-scoped persist, so every global_rank/running-agg consumer's
# range shuffle (and its upstream lineage) is now VISIBLE in the explained
# plan instead of hidden behind a checkpoint stub — the executed shuffles
# are unchanged (same honest-count situation as the r10 graph-loop
# migration); budgets for those queries were re-audited 2026-08-17.
BUDGET = {
    "sample_nth": 0, "sample_step": 0, "partition_with": 0, "pass_through": 0,
    "delay_flow": 0, "accumulate": 2, "accumulate_keyed": 1,
    "accumulate_while_unchanged": 1, "last_element": 1,
    "timed_interval_between": 2, "time_window": 1, "sliding_window": 1,
    "session_window": 1, "rate_limiter": 1, "pulse": 1, "keep_alive": 1,
    "merge_by_index": 2, "token_throttle": 2, "retry": 0, "unfold_collatz": 0,
    "feedback_fibonacci": 0, "q1_pricing_summary": 1,
    "q3_shipping_priority": 1, "q5_local_supplier_volume": 1,
    "q6_forecast_revenue": 1, "q4_order_priority": 1, "q10_returned_items": 1,
    "q12_priority_shipping": 1, "q14_promo_revenue": 1,
    "q17_small_qty_revenue": 2, "q18_large_orders": 1,
    "q19_disjunctive_revenue": 1, "q22_idle_balance": 2, "q7_nation_volume": 1,
    "q8_market_share": 1, "q15_top_supplier": 3, "q21_waiting_supplier": 4,
    # stream_interval_join batch backtest: both sides hash on user_id
    # (the streaming form pays the same two per-micro-batch)
    "attribution_window_join": 2,
    # URL parse/normalize are map-side; one (host, reg_domain) groupBy
    # whose count-distinct expands to a second phase
    "url_domain_stats": 2,
    "q13_order_distribution": 2, "customers_retained": 1,
    "customers_churned": 1, "cube_revenue": 1, "range_join_follows": 1,
    "string_funcs": 0, "date_parts": 0, "window_breadth": 1, "quantiles": 1,
    "array_agg_events": 1, "pivot_revenue": 2, "posexplode_tokens": 0,
    "resample_ffill": 2, "training_prep": 1, "lang_confusion": 1,
    "knn_label_vote": 0, "user_correlation": 3, "as_of_join": 1,
    "rollup_revenue": 1, "distinct_users": 2,
    # contract-audit form: the exact-countDistinct twin (expand + final
    # phase) exists only to hash-check the estimate's error bound;
    # production reads the 1-exchange sketch estimate alone
    "approx_distinct_users": 2,
        # leakage-safe splits: group hash is map-side; the purged split pays
    # only the 1-row min/max stats broadcast
    "grouped_split": 0, "purged_time_split": 1,
    "semi_join_customers": 0, "anti_join_customers": 0,
    "top_orders_per_customer": 1, "props_json_extract": 1,
    "monthly_revenue": 1, "text_stats": 0, "lang_id": 0, "token_count_bpe": 0,
    # r10 posting form: per-doc minhash agg (cached) + (band, band_key)
    # posting groupBy + pair distinct — was 5 with the band self-join
    "doc_fingerprint": 0, "dedup_exact": 1, "minhash_lsh_dedup": 3,
    "simhash": 1, "ann_cosine_topk": 0, "ann_lsh_topk": 1, "ivf_ann_topk": 0,
    # jaccard: posting-list agg + pair agg + cache-fed size agg + 2 size
    # joins of tiny aggregates (sub-broadcast at runtime; counted in-plan)
    "ngram_jaccard_dedup": 5,
    # containment: identical posting-list machinery as the jaccard plan
    "doc_containment": 5,
    # round-9: translit fold is map-side codegen on the scan — the budget
    # IS the jaccard plan's
    "cross_lingual_dedup": 5,
    # two width-keyed (64-row) moment aggs + their tiny-key join
    "embedding_dim_drift": 4,
    # canonical-URL exact dedup: one hash shuffle on the normalized key
    "url_recrawl_dedup": 1,
    # pure regexp codegen chain on the scan
    "html_extract": 0,
    # line explode -> hash-keyed df table + join + per-doc regroup
    "common_line_filter": 3,
    # one conv-key groupBy; render + span fold are array codegen
    "chat_training_text": 1,
    # two id-keyed k-NN-sum aggs + the per-query argmax window; both kNN
    # passes are broadcast GEMM (zero exchange), agg joins broadcast
    "margin_mine": 3,
    # composite front end: the line filter's cond agg (countDistinct
    # expand = 2) + doc regroup + the final md5-fold-key group; extract
    # adds zero. Was 8 before r10: the md5 fold key and the
    # cache-reprint-aware count_exchanges brought the audited count to 4
    "web_corpus_prep": 4,
    # unrolled in-row slice equality — pure scan-side project
    "generation_loops": 0,
    # r10 packing: global_rank's range shuffle + its pid-local window
    # re-hash, the <=budget+1-row class-min agg (broadcast back), and the
    # (class, row) assembly group — every group at most k members
    "pack_training_rows": 5,
    # r10 DPO pairs: ONE partial-aggregated prompt-key groupBy (argmax/
    # argmin are lexicographic struct MIN/MAX — map-side combinable, no
    # window sort, no join)
    "preference_pairs": 1,
    # r10 FIM: md5 gate + split points + slices, all scan-side codegen
    "fim_transform": 0,
    # r10 cross-split fuzzy decontamination: per-side doc aggs (2) + the
    # band bucket join (train side re-keys; eval side tiny, AQE-broadcast
    # class) + candidate distinct; verify joins ride the cached aggs
    "near_dup_decontaminate": 4,
    # r10 tree flattening: ONE conv-key shuffle (the fixture's rank window
    # and the op's tree groupBy share it); the parent walk is in-row
    # unrolled map lookup, zero further exchanges
    "chat_tree_paths": 1,
    # r10 best-of-n: ONE partial-aggregated prompt-key groupBy (struct-MIN
    # argmax + exact median side by side; no window, no join)
    "rejection_sample": 1,
    # r10 deterministic shuffle: ONE hash exchange on the shard key feeding
    # the shard-partitioned position window — no global sort anywhere
    "epoch_shuffle": 1,
    # r10 context sizing: constant 4x limit explode into ONE (source,
    # limit) groupBy + the 80-row presentation sort
    "context_fit_report": 2,
    # r10 Bradley-Terry: returned plan is the |models|-row literal + its
    # presentation sort; the ONE corpus-sized shuffle (canonical-pair agg)
    # runs eagerly inside the bounded-driver-loop fit (kmeans convention)
    "elo_ratings": 1,
    # r10 funnel: ONE wide slice-key groupBy (stage kills as conditional
    # sums), inline stage explode + the 80-row presentation sort
    "filter_funnel": 2,
    # r10 T5 denoising: block spans + both renderings are ONE transform
    # over sequence() per row — pure scan-side array codegen
    "span_corrupt": 0,
    # r11 stride-schedule mixing: ONE (source, order-key) range exchange
    # (each source split across many ranges — no one-reducer-per-source
    # sort) + the K-row driver summary aggregate; slot arithmetic map-side
    "interleave_by_weight": 2,
    # r10 template mining: ONE md5-skeleton groupBy whose countDistinct
    # spread expands to a second phase (the url_domain_stats accounting)
    "template_mine": 2,
    # r10 bitext hygiene: every rule is scan-side codegen
    "bitext_filter": 0,
    # r10 manifest: the agg groups on the SAME shard key epoch_shuffle's
    # window hashed on — partitioning reused, so the composed plan pays
    # the window exchange + only the 8-row presentation sort
    "shard_manifest": 2,
    # r10 prefix-cache sizing: (depth, md5-prefix) groupBy + the per-depth
    # re-agg + 3-row presentation sort
    "prefix_cache_report": 3,
    # r10 Fleiss: cached (item,category) count (the one corpus-sized
    # shuffle) + per-item, item-stat, marginal, and 1-row reductions
    "fleiss_kappa": 5,
    # r10 pass@k: per-task groupBy + per-k mean + 3-row presentation sort
    "pass_at_k": 3,
    # r10 LSH design: ONE histogram groupBy; config explode + S-curve
    # folds ride histogram-cardinality rows; + config agg + 3-row sort
    "lsh_design_report": 3,
    # r10 grouped shuffle: same single shard-key exchange as epoch_shuffle
    # (keys derived from the group instead of the row)
    "epoch_shuffle_grouped": 1,
    # r10 distinct-n: in-row gram materialization; ONE (source, n) agg
    # whose count-distinct expands to two phases + presentation sort
    "distinct_ngrams": 3,
    # r11 Spearman skew rewrite: the corpus collapses in two map-combined
    # (slice, value) count aggs (uniform keys) instead of sorting whole
    # slices in one reducer each; two tiny distinct-table rank windows +
    # two broadcast join-backs + corr agg + presentation sort. 9 printed
    # exchanges include the cached base subtree's reprints across its
    # three consumers.
    "spearman_corr": 9,
    # r10 judge QA: ONE slice groupBy + 5-row presentation sort
    "position_bias_probe": 2,
    # r10 arena matrix: the BT canonical-pair groupBy + 28-row sort
    "win_rate_matrix": 2,
    # blocked exact near-dup: the two cogroup sides each hash on the
    # surviving (cell_a, cell_b) pair key (the old 0 was the quadratic
    # broadcast nested-loop join — no shuffle, no scale either)
    "embedding_near_dup": 2, "multimodal_meta": 0,
    "stratified_sample": 0, "array_hof": 0, "regexp_funcs": 0,
    "moving_revenue_7d": 1, "grouping_sets_revenue": 1, "funnel_conversion": 2,
    "user_journey": 1, "chunk_documents": 0, "pack_sequences": 1,
    # decontaminate: one-pass conditional sum (r5 review) — was 3
    "vocab_topk": 1, "decontaminate": 2, "dup_clusters": 0,
    "salted_event_stats": 2, "nation_trade_balance": 2,
    "lateral_top_customers": 2, "priority_shift_except_all": 1,
    "pii_redact": 0, "repetition_stats": 2, "knn_join": 0, "ann_all_topk": 0, "safe_arithmetic": 0,
    "nulls_ordering": 1, "bitwise_agg": 1, "value_histogram": 2,
    "semantic_dedup": 2,
    "bm25_search": 1, "scd2_user_state": 1, "train_test_split": 0,
    "mixture_sample": 0,
    "rolling_zscore": 1, "ewma_smooth": 1, "sessionize": 1,
    # pagerank (r10): per-iteration lineage is cache-truncated instead of
    # checkpoint-truncated, so the explained plan now SHOWS the iteration
    # shuffles the old eager checkpoints executed invisibly (43 -> 5 driver
    # jobs; the executed shuffle count per run is unchanged). 3 iterations
    # x (share join + contribution agg + state build) + edge/node cache
    # builds + the final read = 14
    "pagerank_users": 14,
    # one single-row agg over lineitem + two anti-join counts
    "data_quality_report": 3,
    "winsorize_values": 1,
    # sketch build (hash agg), union-merge, final single-partition sort,
    # plus the exact-countDistinct audit twin (expand + final phase) that
    # hash-checks the estimate's error bound; the production rollup path
    # (sketch table only) stays at 3
    "hll_daily_users": 5,
    # sketch set-algebra contract audit: the production surface is the
    # 1-exchange sketch agg + key-pair broadcast; the other 6 exchanges
    # are the exact-audit twin (cached distinct + per-type counts +
    # user-keyed intersection join), the approx_distinct_users pattern
    "hll_overlap": 7,
    "token_entropy": 2,
    # sweep line: per-order max, order join, date agg, date-spine cumsum
    "shipping_concurrency": 4,
    "mad_by_type": 2,
    # mad_by_type's two stat aggregates; the row-side scale is map-side
    # (both stats broadcast back over the scan)
    "robust_scale": 2,
    # custkey agg + 2-phase distinct count (join side broadcasts under AQE)
    "cohort_retention": 3,
    # user window, transition agg, tiny per-type share window
    "event_transitions": 3,
    "login_streaks": 2,
    # two-phase range prefix over the custkey aggregate: custkey agg +
    # range exchange + pid-window exchange; the total is the prefix
    # pass's complete fold (a literal), so no 1-row total agg (5 -> 3)
    "pareto_customers": 3,
    # deletion-neighborhood posting lists: variant groupBy + pair dedup
    "fuzzy_name_match": 2,
    # daily agg + per-segment stats agg (dims broadcast)
    "regr_trend": 2,
    # single-row corpus stats agg; scoring + top-k map-side
    "tfidf_search": 1,
    # quantize + integer dot + TakeOrdered: all map-side
    "quantized_ann": 0,
    # campaign distinct agg + final per-campaign agg (overlap join broadcasts)
    "campaign_overlap": 2,
    # candidate distinct + exact recount of candidate rows only
    "heavy_hitter_tokens": 2,
    # driver-loop/generator queries: per-round plans, final union shuffle-free
    "retry_concat_split": 0,
    "unfold_flow_with": 0,
    # keyed cumulative window: one hash exchange on user_id
    "token_throttle_keyed": 1,
    # cogroup shuffles each side on cell id + per-query top-k window
    "ann_ivf_all": 3,
    # one content-hash exchange; rank + count share a single window pass
    "dedup_keep_best": 1,
    # r11 salted two-phase cap (the neyman device): (domain, salt)
    # bounded-sort exchange + the survivor re-rank exchange (<=
    # 32*n_per_domain rows/domain) — was ONE whole-corpus-per-domain sort
    "domain_cap": 2,
    # distinct (doc,seg) + seg DF agg + kept reassembly + totals + join
    # (boilerplate set broadcasts)
    "remove_boilerplate": 5,
    # boilerplate stages (5) + one content-hash window; chunking is map-side
    "training_pipeline": 6,
    # batch hash window + history distinct (anti-join side broadcasts)
    "dedup_incremental": 2,
    # pure map-side logistic: zero shuffles
    "quality_score": 0,
    # (doc,bucket) count agg + doc-norm window
    "hashed_features": 2,
    # cell-count agg + top-20 agg (estimate probes broadcast the sketch)
    "cm_frequency": 2,
    # bigram counts + marginals/vocab DERIVED from the count table (tiny
    # aggregate-side exchanges) + doc reduce; raw rows shuffle only twice
    "bigram_logprob": 8,
    # pivot agg (2, as pivot_revenue); Expand itself adds none
    "unpivot_revenue": 2,
    # one (label,pos) hash agg
    "label_centroids": 1,
    # union-trick as-of variants: one key shuffle each, like as_of_join
    "as_of_join_forward": 1,
    "as_of_join_tolerance": 1,
    # two doc_id sig aggs (history + batch) + band distinct; flag join
    # broadcasts
    "minhash_incremental": 3,
    # ONE explicit-count repartition before the frame explode (fan-out
    # must not bind to input splits — the audio_segments reasoning)
    "frame_sample_grid": 1,
    # VARIANT parse + typed extract: pure map-side
    "props_variant": 0,
    # gap-fill: grid window + blend window over one key shuffle (+1 grid agg)
    "interpolate_linear": 2,
    # iterations run at plan-build time; the returned assignment plan is a
    # broadcast-centroid argmin — pure map-side
    "kmeans_clusters": 0,
    # bigram counts + two marginal aggs + top-n; N is a 1-row broadcast
    "pmi_collocations": 4,
    # r10: ASIA semi-join prefilters lineitem BEFORE the pair agg — pair
    # shuffle + per-part agg + threshold rollup (dims broadcast)
    "q11_important_stock": 3,
    "q16_supplier_part_counts": 3,
    # r10: one conditional-sum pair agg (lifetime + 1997-shipped in the
    # same group) + the distinct on qualifying suppliers; the second
    # pair aggregation and the pair-key join are gone
    "q20_promotion_suppliers": 2,
    "q2_min_cost_supplier": 2,
    "q9_product_profit": 2,
    # regexp counts + arithmetic: zero shuffles
    "readability_scores": 0,
    # per-partition reservoirs merge driver-side: map-side only
    "reservoir_sample": 0,
    # r11: und/deg pipeline-cached like local_clustering (the aliased
    # degree-join branches defeated exchange reuse — 0 ReusedExchange in
    # the executed plan); canonicalization + degree shuffle run once,
    # wedge self-join + closing probe read the caches (19 -> 6)
    "triangle_count": 6,
    # corpus→vocab word-freq agg + vocab-sized pair agg
    "bpe_pair_counts": 2,
    # iterative: per-round jobs run at build time; result is a local table
    "bpe_learn_merges": 0,
    # gram-hash agg (occ side reused for the dup join) + doc_id window;
    # the islands groupBy inherits the doc_id partitioning (subset key)
    "duplicate_spans": 2,
    # spans pipeline's 2; the span-array join back to documents broadcasts
    "span_dedup": 2,
    # corpus→vocab distinct + per-doc agg; the vocab-count join broadcasts
    # under AQE while the (word, int) table fits
    "bpe_encode": 2,
    # corpus→vocab word-freq agg + token agg; top-k is TakeOrdered
    "bpe_token_freqs": 2,
    # global_rank range shuffle + batch_id agg (rank summary is K rows)
    "length_batches": 3,
    # global_rank range shuffle + ordinal lookup join (hash keys uniform)
    "negative_samples": 3,
    # bigram word-count shuffle + per-doc share agg; map-side rule columns
    "gopher_rules": 2,
    # eval-shingle distinct (broadcast side) + per-doc conditional-sum agg
    # +1: the every-doc contract joins the audit onto the full doc list
    "contamination_score": 3,
    # domain agg + 1-row normalizer agg + broadcast distribution
    "mixture_weights": 2,
    # literal sign matrix: pure projected expressions, zero shuffles
    "rp_project": 0,
    # ADC shortlist is TakeOrdered, rerank joins broadcast: zero exchanges
    "pq_ann": 0,
    # signature doc agg + band posting lists + pair dedup
    "simhash_pairs": 3,
    # pure regexp canonicalization: zero shuffles
    "normalize_text": 0,
    # (doc,token) tf + token df + df join + per-doc rank window
    "doc_keywords": 5,
    # build word agg + probe key agg (filter words broadcast)
    "bloom_membership": 2,
    # tick->bar: ONE (key,bucket) partial-aggregated groupBy
    "ohlc_resample": 1,
    # key agg + 1-row stats + post-reduction top-N window
    "skew_report": 3,
    # hash-mod fold: pure map-side
    "kfold_split": 0,
    # r11 range-partitioned per-key ranks (the interleave_by_weight /
    # global_order device): range exchange + the (range, key) local
    # window exchange — was ONE whole-corpus-per-key sort
    "quantile_normalize": 2,
    # training iterations run at plan-build; scoring plan is map-side
    "logreg_quality": 0,
    # one co-partitioned full outer join (both sides hash on the key)
    "snapshot_diff": 2,
    # label-propagation rounds run at plan-build (localCheckpoint); the
    # final labels frame is already materialized
    "entity_resolution": 0,
    # bloom word agg + distinct-key probe agg (+probe agg); fact side
    # never shuffles pre-aggregation (semi join broadcasts)
    "bloom_pruned_revenue": 3,
    # one (key,bucket) partial-aggregated groupBy
    "vwap_resample": 1,
    # one key shuffle into the grouped Arrow state machine
    "dedup_within": 1,
    # one source rollup (2-phase distinct inside the same agg)
    "corpus_report": 2,
    # map-side key + TakeOrdered top-n
    "weighted_sample": 0,
    # one conditional-sum aggregate
    "classification_report": 1,
    # per-side bucket agg + its 1-row normalizer + bucket join + total;
    # the cached bucket frames execute once (distinct-id counting), every
    # exchange past the two scans moves ≤ n_buckets+1 rows
    "psi_drift": 11,
    # 2 gram-stream shuffles (doc-bucket count, per-doc score) + 3 aggs
    # over ≤128-row bucket tables
    "dsir_select": 5,
    # as-of union window key shuffle + final day rollup
    "attribution_last_touch": 2,
    # one (key,bin) partial-agg shuffle + ≤n_bins-row window exchange
    "value_quantile_sketch": 2,
    # two distributed global-rank range partitionings + per-stage offsets
    # agg (the rank primitive's summary passes read the pinned placement):
    # 3 distinct shuffles under the rank cache + 3 in the main plan. Was 8
    # while the census counted the AQE reprints of the nested cache's
    # plans as main-plan nodes
    "curriculum_order": 6,
    # r10 posting form: (band, val) posting groupBy + candidate distinct +
    # output sort. The old budget of 2 counted a BROADCAST band self-join
    # at fixture stats — at scale that join becomes two more shuffles of
    # the band table (4 total); the posting form is flat 3 at any size
    # (SCALE.md pHash section)
    "phash_near_dup": 3,
    # distinct (doc,gram) + per-gram min-doc agg + the two doc-keyed
    # count aggregates (n_grams over the cached gram frame, novel over
    # the min-doc table). 4 > the old 3, but the exchange this rewrite
    # REMOVED was the corpus-sized gram-keyed ownership join shuffle —
    # the two added aggregates partially combine map-side to ≤1 row per
    # doc per partition (r10, measured 1.37→1.03 s warm at sf0.1)
    "novelty_score": 4,
    # name distinct + blocked self-join key exchange (similarity UDF runs
    # on candidates only)
    "fuzzy_vocab_jw": 2,
    # sketch build shuffle + exact-percentile agg + key join of two tiny
    # per-key tables
    "quantile_error_report": 3,
    # segment-content window + per-doc totals + reassembly groupBy
    "segment_dedup": 3,
    # vocab count agg (broadcast back) + per-source rollup
    "oov_rate": 2,
    # (label,pos) centroid agg + label array agg + per-vec a/b agg +
    # k-row rollup (centroids broadcast; corpus never shuffles for dist)
    "cluster_silhouette": 4,
    # one partial-agg shuffle to <=10 bins
    "calibration_report": 1,
    # cached moments agg + stratum-rank window + kept agg + tiny joins
    "neyman_sample": 6,
    # cached name distinct + 1-row audit aggregate (all-pairs is the
    # audit sample by design)
    "blocking_report": 2,
    # <=types*24-row baseline agg broadcast back; top-20 is TakeOrdered
    "seasonal_anomalies": 1,
    # posting-list intersection: term filter + per-doc count agg feed one
    # TakeOrdered; AQE broadcasts the tiny term table → zero at runtime
    "boolean_retrieval": 0,
    # change-log dedup window + co-partitioned outer merge on the key
    "cdc_apply_changes": 1,
    # one key shuffle into the grouped Arrow linear-filter fold
    "holt_trend": 1,
    # pure regexp scan + Luhn HOF expressions: zero shuffles
    "pii_luhn": 0,
    # category stats agg + global prior agg + smoothed-encoding join
    "target_encoding": 3,
    # ONE cached tf scan feeds the single-row stats agg + both rankers;
    # the two TakeOrdered top-100s, rank windows and fusion join are
    # ≤depth-row driver-scale (limit exchange + tiny outer join)
    "rrf_fusion": 2,
    # two-phase range prefix + the budget agg over the CHECKPOINTED ranged
    # frame (window exchange + partial-agg exchange, both over the narrow
    # (id, n_tok, quality) frame — the r5 review fix removed the second
    # full-corpus scan+re-tokenize this replaced; see SCALE.md)
    "token_budget_fill": 4,
    # ONE pre-explode doc_id repartition (explicit count — fan-out must
    # not bind to input splits); island window + segment groupBy REUSE it
    "audio_segments": 1,
    # broadcast-corpus GEMM with a label mask: zero shuffles (knn_join kin)
    "hard_negatives": 0,
    # the scd2 interval windows' one user_id shuffle; the as-of filter is
    # map-side over the intervals
    "scd2_as_of": 1,
    # two-phase global rank (range exchange); the target table broadcasts
    "sample_step_replay": 2,
    # one key-window shuffle; distance is codegen, top-k is TakeOrdered
    "motif_search": 1,
    # two-phase global rank (range exchange); shard id is map-side modulo
    "balanced_shards": 2,
    # distinct-score collapse + two-phase range prefix of negatives; the
    # final 1-row reduction rides the checkpointed ranged frame
    "auc_roc": 4,
    # both flank frames share the one key-window shuffle
    "mean_shift": 1,
    # keyed multi-lag global_lag (no whole-corpus-per-key sort): range
    # exchange + the (range, key) lag window + the (key, lag) moment agg;
    # the ghost values come from the driver summary, not an in-plan tail
    # window over the whole corpus (4 -> 3)
    "acf_lags": 3,
    # vocab_topk reduction; rank is the benign post-limit window over
    # <= top_k rows (was a two-phase global rank: 2 -> 1)
    "zipf_fit": 1,
    # train+score+evaluate: (token,label) corpus count, cached-model
    # aggregates (vocab/tot_l/labels/v_size/n_all — all vocabulary- or
    # label-cardinality), (doc,label) posterior agg, per-doc argmax
    # window, truth join + confusion rollup
    "nb_lang_confusion": 9,
    # TakeOrdered top-10 cut; rank windows + DCG agg run on the ≤k rows
    "ndcg_eval": 1,
    # ONE conditional-sum moment pass for both cohorts
    "welch_ttest": 1,
    # 9-group digit count + the three ≤9-row share/total aggregates
    # (psi_drift's long-form shape)
    "benford_check": 4,
    # one map-combined slice-key shuffle
    "sliced_eval": 1,
    # distinct-score collapse + TWO range-prefix CDFs (checkpoint-backed)
    "ks_statistic": 4,
    # one (token) presence aggregation + broadcast label totals +
    # TakeOrdered top-k
    "chi2_tokens": 2,
    # triangle_count's wedge pipeline with und/deg pipeline-cached (the
    # multi-consumer difference), per-node credit explode + count
    "local_clustering": 7,
    # r10 posting form: ONE basket-key shuffle builds the sorted item
    # array (dedup + size guard in the same pass), pairs fan out IN-ROW,
    # then pair count + item counts + final ordering — the old basket
    # self-join's second hash pass is gone (7 -> 5)
    "association_rules": 5,
    # per-user duration agg + distinct-duration collapse + two range
    # prefixes (checkpoint-truncated in the printed plan)
    "kaplan_meier": 5,
    # psi_drift's bucket machinery (same 11 as psi_drift) over the
    # map-side anchor-distance projection
    "embedding_drift": 11,
    # ONE map-combined quasi-identifier groupBy + size filter
    "k_anonymity": 1,
    # round-7 evaluation/curation family. js_divergence: one corpus-side
    # groupBy per slice; the other four exchanges carry vocabulary-sized
    # aggregates only (vocab join + totals + term sum)
    # split form: ONE conditional-count token groupBy (was two filtered
    # scans + a full-outer vocab join) with the vocab-cardinality count
    # frame cached for its two consumers (6 -> 4 -> 3)
    "js_divergence": 3,
    # lead window on user_id, pair groupBy; the entropy windows/sum run
    # over the |types|²-row pair table
    "conditional_entropy": 3,
    # b×n grid joins the BROADCAST panel (no data shuffle); groupBy on the
    # resample id + rank windows over the b-row mean table
    "bootstrap_ci": 3,
    # per-key count groupBy + the two-phase range rank
    "gini_user_activity": 4,
    "tokenizer_fertility": 1,
    # TakeOrdered top-k cut; the AP windows run over the ≤k-row result
    "average_precision": 1,
    # TakeOrdered shortlist preselect + bounded driver-side greedy
    "mmr_diverse_topk": 0,
    # bigram LM scoring reuses the cached bigram frame; the split adds one
    # range rank over the scored docs (budget = the LM's own exchanges are
    # lineage-truncated by its pipeline cache)
    "perplexity_buckets": 10,
    # one user groupBy + the broadcast 1-row anchor reduction
    "rfm_features": 2,
    # cached canonical edges + cached degrees (the local_clustering
    # discipline): distinct, degree groupBy, moment join, 1-row reduction
    "degree_assortativity": 4,
    # near-dup pair join + label-propagation output (lineage truncated) +
    # two tiny cluster aggregations
    "dup_cluster_sizes": 4,
    # two corpus-side histogram builds; the other five exchanges (totals,
    # key gate, bucket union, per-key psi window) shuffle sketch-
    # cardinality rows (<= keys x n_bins) only
    # r11: both sketches from ONE tagged conditional-count scan
    # (histogram_build_split) — the parity predicate prunes nothing, so
    # the old two-build form paid two full corpus scans (7 -> 6)
    "psi_probe_drift": 6,
    # confusion-cell collapse + the two class-marginal aggs, their tiny
    # join/product agg, and the 1-row observed agg (all post-collapse
    # frames are class-cardinality-bounded); r11: the cell frame is
    # pipeline-cached, so the corpus cell-collapse exchange prints once
    # instead of per consumer (7 -> 5)
    "cohen_kappa": 5,
    # ONE conditional-count groupBy on the user key; the bound is
    # map-side arithmetic and the cut TakeOrdered
    "wilson_rank": 1,
    # distinct-score collapse + shared two-phase prefix (checkpoint)
    "f1_threshold_sweep": 3,
    # r10 shared-scan form: ONE tf pass + 1-row stats broadcast feed all
    # three queries' TakeOrdered branches; union + bounded rank + 1-row
    # reduction (6 -> 3, 9 corpus scans -> 1)
    "mrr_eval": 3,
    # r10 posting form (see association_rules) + neighbor mirror +
    # per-item rank window (8 -> 7)
    "item_cf_recs": 7,
    # hits (r10 sparse linear chain): the full 3-iteration plan is now
    # visible (no eager checkpoints, 44 -> 11 driver jobs): 2 half-step
    # aggs x 3 iterations + 4 edge/id shuffles, all under the iteration
    # caches, + output sort + 2 SinglePartition norm reads = 13 (was 17
    # while the census counted the AQE reprints of a nested cache's plans
    # as main-plan nodes); deferred normalization still saves the two
    # broadcast-norm driver jobs every iteration
    "hits_scores": 13,
    # cache-truncated peel rounds (r10): the rounds' degree aggs and
    # keep-join shuffles print under the round caches, 4 distinct, + the
    # main-plan degree shuffle and output sort. Was 13 while the census
    # counted the AQE reprints of a nested cache's plans as main-plan nodes
    "k_core": 6,
    # r10: pair join + ONE tagged-gram (id, lvl, gram) count shuffle for
    # all four gram streams + 1-row clipped/length aggs over the cached
    # paired frame (was 7: two count shuffles + a clipped join per order)
    "bleu_eval": 3,
    # cache-truncated label sweeps (r10): both vote rounds' shuffles and
    # the symmetric-view build are visible in the one explained plan
    # r10 aggregate-argmax rounds: 8 vs the window form's 7 is a
    # dedup-count artifact of how the initial-labels subtree prints
    # under the round caches — the executed counters are IDENTICAL
    # (3 jobs / 22 stages / 25 tasks both forms, measured) and warm
    # exec dropped 0.44-0.58 -> 0.30-0.37 s same-window.
    # TODO(advice r10): re-tighten to 7 if count_exchanges ever learns to
    # dedup cached-subtree reprints — at 8 this ceiling would also mask
    # one genuinely-added exchange
    "lpa_communities": 8,
    # cache-truncated frontier rounds (r10): the per-hop expand/distinct
    # shuffles are visible in the one explained plan
    "bfs_hops": 8,
    # window-edge derivation + canonical distinct + the explicit
    # parallelism-pinning repartition (union sides) + posting groupBy +
    # (x,y) pair agg; anti-join broadcasts, top-k is TakeOrdered
    "adamic_adar": 6,
    # (user, day) collapse + ONE offset-explode min-offset collapse + the
    # final per-day conditional counts (r10 one-explode rewrite: 9 -> 5)
    "active_users": 5,
    # pagerank's cache-truncated loop (r10): iteration shuffles visible
    # in the one explained plan, same executed count as before
    "ppr_related": 15,
    # calib range-rank (two-phase) + 1-row quantile broadcast + test agg
    "conformal_interval": 3,
    # ONE key shuffle shared by the EWMA window and its lag columns,
    # then a single-row reduction
    "forecast_eval": 2,
    # ONE explicit key repartition shared by the size-guard window and the
    # collect_list aggregation (pairs are generated in-row by HOFs, never
    # shuffled) + the presentation-order range exchange
    "theil_sen": 2,
    # same shape: key hash shared by the guard-count window + the ordered
    # lead windows (r10 lead-window k-grams — no collect_list agg), then
    # the k-gram count agg; top-k is TakeOrdered
    "frequent_journeys": 2,
}


def test_budget_covers_every_query():
    missing = sorted(set(entry.queries()) - set(BUDGET))
    assert not missing, f"new queries need a shuffle budget: {missing}"


def test_census_covers_every_query():
    missing = sorted(set(entry.queries()) - set(CENSUS))
    assert not missing, (f"new queries need a pinned plan census "
                         f"(python tools/plan_census.py): {missing}")


def _above_ceiling(got: dict, pinned: dict) -> dict:
    """Census lenses (other than exchanges) above their pinned ceiling, as
    lens -> (got, ceiling); a table or key set absent from the pin is 0."""
    out = {}
    for lens, n in got.items():
        if lens == "exchanges":
            continue
        if isinstance(n, dict):
            cap = pinned.get(lens, {})
            out.update({f"{lens}[{k}]": (v, cap.get(k, 0))
                        for k, v in n.items() if v > cap.get(k, 0)})
        elif n > pinned.get(lens, 0):
            out[lens] = (n, pinned.get(lens, 0))
    return out


def test_no_query_exceeds_its_shuffle_budget(spark):
    from akka_stream_contrib_spark.util import drop_stale_caches

    qs = entry.queries()
    over, census_over = {}, {}
    for name, fn in qs.items():
        if name not in BUDGET:
            continue
        # isolate each query's plan: a PREVIOUS query's still-registered
        # pipeline caches would otherwise substitute into this plan as
        # InMemoryRelations and make the exchange count depend on the
        # registry's iteration order (observed when the r11 driver-window
        # rotation reordered queries(): hits_scores printed 19 exchanges
        # because the graph queries before it left shared edge caches)
        drop_stale_caches()
        got = plan_census(formatted_plan(fn(spark, SF)))
        if got["exchanges"] > BUDGET[name]:
            over[name] = (got["exchanges"], BUDGET[name])
        grown = _above_ceiling(got, CENSUS.get(name, {}))
        if grown:
            census_over[name] = grown
    assert not over and not census_over, (
        f"shuffle budget exceeded (got, budget): {over}; plan census above "
        f"its pinned ceiling (got, ceiling): {census_over}")
