"""Regenerate PLANS.md: formatted physical plans for representative gate
queries, as reviewable evidence of the plan properties SCALE.md argues and
tests/test_plans.py + tests/test_plan_budget.py enforce (pushdown, broadcast
dimensions, whole-stage codegen spans, top-k without global sort, bounded
exchange counts).

Usage: python tools/dump_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os

from plan_census import ROOT, explain_each

SHOWCASE = {
    "q3_shipping_priority": "TPC-H join+agg: both dimensions broadcast, the "
        "fact table is never shuffled before partial aggregation",
    "sample_nth": "pure scan-side operator: filter pushed into the parquet "
        "scan, pruned ReadSchema, zero exchanges",
    "accumulate_keyed": "keyed running fold: one hash exchange, window sort "
        "inside the partition",
    "bm25_search": "single-row stats broadcast back over the scan; top-k via "
        "TakeOrderedAndProject (no global sort)",
    "knn_join": "broadcast-corpus GEMM retrieval: zero exchanges end-to-end",
    "rolling_zscore": "decimal frame moments: one exchange, every derived "
        "column in the same window pass",
    "quantized_ann": "int8 quantization + integer dot products entirely "
        "map-side: zero exchanges, top-k via TakeOrderedAndProject",
    "pareto_customers": "cumulative share via the two-phase range prefix "
        "sum over the customer aggregate (pid-window exchange; the total is "
        "the prefix pass's complete fold): no single-partition window anywhere",
    "ann_ivf_all": "distributed IVF ANN: one Arrow assignment pass "
        "(broadcast centroids), cogrouped per-cell GEMM — the only exchange "
        "is the hash shuffle on cell id; no driver-side corpus collect",
    "token_throttle_keyed": "keyed token budget: hash exchange on user_id, "
        "cumulative window inside the partition — no global sort anywhere",
    "timed_interval_between": "NTZ-safe epoch_micros lag: pushdown filter + "
        "one window exchange",
    "dedup_keep_best": "rank + cluster count share ONE window pass over one "
        "content-hash exchange (hash materialized once)",
    "training_pipeline": "four curation stages fused into one lazy plan — "
        "column pruning crosses operator boundaries; 6 exchanges total",
    "bpe_encode": "tokenizer inference as a replace cascade over the "
        "distinct-word vocabulary; vocab-count join broadcasts under AQE",
    "duplicate_spans": "suffix-array-free substring dedup, posting-list "
        "form: ONE uniform md5(gram) exchange with a map-side canonical "
        "filter; islands groupBy inherits the doc_id window partitioning",
    "fuzzy_name_match": "exact distance-1 join via deletion neighborhoods: "
        "variant posting-list exchange + pair dedup; bounded levenshtein "
        "verify on true candidates only — no prefix blocks, no quadratic",
    "pq_ann": "two-stage PQ serving: ADC over byte codes with a literal "
        "lookup table (TakeOrdered shortlist), broadcast semi-join exact "
        "rerank — zero shuffle exchanges end-to-end",
    "rp_project": "JL projection: literal sign matrix, exact bigint folds "
        "inside codegen — zero exchanges",
    "simhash_pairs": "pigeonhole band buckets over 32-bit signatures: "
        "signature agg + band posting lists + pair dedup, integer "
        "bit_count verify",
    "dsir_select": "DSIR importance weights: the gram stream shuffles "
        "twice; both hashed LMs collapse to <=128-row broadcast lookups "
        "(cached doc-bucket counts feed LMs and scoring once)",
    "value_quantile_sketch": "mergeable histogram quantiles: one partial-"
        "agg shuffle to keys x n_bins rows; the probe windows only the "
        "sketch",
    "phash_near_dup": "DCT perceptual hash (Arrow/BLAS batch) + pigeonhole "
        "band self-join over a cached band frame, exact bit_count verify",
    "novelty_score": "first-occurrence n-gram share: three uniform-key "
        "exchanges (distinct grams, min-doc, per-doc reduce)",
    "holt_trend": "sequential 2-state smoothing, vectorized: ONE hash "
        "exchange on the key, in-partition sort, then a single "
        "mapInPandas pass folding every key simultaneously (no per-group "
        "Arrow dispatch)",
    "logreg_quality": "scoring plan after in-engine GD training: learned "
        "weights inlined as literals, sigmoid inside whole-stage codegen "
        "— zero exchanges over any corpus size",
    "rrf_fusion": "hybrid RRF retrieval: ONE cached tf scan feeds the "
        "single-row stats broadcast and BOTH rankers; two TakeOrdered "
        "top-depth lists; rank windows + fusion join over <=depth rows",
    "token_budget_fill": "greedy token-budget curation: range exchange on "
        "the quality key (two-phase global prefix sum) + single-row "
        "corpus-total broadcast — no single-partition window",
    "audio_segments": "audio framing: ONE explicit-count repartition of "
        "the compact pre-explode rows (fan-out never binds to input "
        "splits); island window + segment groupBy reuse the partitioning",
    "hard_negatives": "contrastive hard-negative mining: broadcast-GEMM "
        "with the label mask inside the kernel — zero exchanges",
    "balanced_shards": "token-balanced shards: two-phase global rank "
        "(range exchange + broadcast prefix) + map-side modulo",
    "auc_roc": "exact Mann-Whitney AUC: distinct-score collapse, two-phase "
        "range prefix of negatives (no global sort), decimal-exact "
        "integer numerator to one final division",
    "nb_lang_confusion": "Naive Bayes train+score+evaluate: one "
        "(token,label) corpus count, cached V*L model broadcast to the "
        "scorer, decimal posterior sums, per-doc argmax window",
    "association_rules": "market-basket lift: ONE basket-key self-join on "
        "the cached deduplicated item frame, window basket-size guard, "
        "TakeOrdered top-k",
    "kaplan_meier": "survival curve: distinct-duration collapse, exclusive "
        "range-prefix at-risk set, log-space product — duration "
        "cardinality bounds everything after the first shuffle",
    "js_divergence": "token drift, split form: ONE conditional-count "
        "groupBy on the exploded token key (no second scan, no "
        "full-outer vocab join), 1-row totals broadcast into the "
        "decimal term sum",
    "cohen_kappa": "inter-rater agreement: corpus collapses to the "
        "(a,b) confusion cells first; marginals, their decimal product "
        "sum and the observed sum are aggregates of that tiny frame",
    "f1_threshold_sweep": "threshold argmax: distinct-score collapse, "
        "ONE shared two-phase range prefix for both classes, broadcast "
        "totals, TakeOrdered over the candidate frame",
    "item_cf_recs": "item-item CF: basket self-join on the cached "
        "deduplicated item frame, pairs counted once and mirrored "
        "after counting, per-item rank window over pruned neighbors",
    "active_users": "rolling engagement: distinct (user, day) collapse "
        "first; each window is a bounded offset explode of that "
        "collapsed frame re-distincted per day — day-cardinality joins",
    "bleu_eval": "corpus BLEU-2: one id equi-join pairs the frames "
        "(pipeline-cached for five consumers); clipped matches are "
        "map-combined (id, gram) counts inner-joined on their shared key",
    "conformal_interval": "split conformal: two-phase global rank of the "
        "calibration scores (range exchange + broadcast prefix), 1-row "
        "quantile broadcast, conditional-count coverage",
    "forecast_eval": "EWMA forecast backtest: the lag forecasts ride the "
        "smoother's ONE key-partitioned window pass; 9-dp decimal error "
        "sums to a single-row reduction",
    "theil_sen": "robust trend, round-8 form: one explicit key "
        "repartition shared by the size-guard window and the collect_list "
        "aggregation; the quadratic pair set is generated IN-ROW by "
        "nested HOFs and median-selected by array_sort — no pair shuffle, "
        "no sort window, no join-back",
    "embedding_near_dup": "exact near-dup pairs, blocked form: Arrow "
        "cell-assignment pass (broadcast centroids), sound cell-pair "
        "angular-bound prune, cogrouped per-cell-pair float64 GEMM verify "
        "— the only data shuffles are the two cogroup sides on the "
        "surviving (cell_a, cell_b) key",
    "doc_containment": "directed containment dedup: the jaccard "
        "machinery's df-pruned posting lists and in-row pair fan-out, "
        "with per-direction division instead of the union denominator",
    "html_extract": "HTML extraction: the whole regexp chain is one "
        "codegen project over the pruned (doc_id, text) scan — zero "
        "exchanges, zero joins",
    "embedding_dim_drift": "drift monitor: two width-keyed partial aggs "
        "(64 dim rows) joined tiny; shuffle bytes constant in corpus size",
    "margin_mine": "bitext mining: both kNN stages are broadcast-GEMM "
        "mapInPandas (no exchange); only the k-sum aggs and the argmax "
        "window shuffle",
    "web_corpus_prep": "composite crawl front end: extract map-side over "
        "the union, line-filter condemnation broadcast back, one fold-key "
        "group finishes",
    "adamic_adar": "link prediction: degree-capped posting-list wedge "
        "fan-out (in-row), per-center 9-dp decimal terms summed exactly, "
        "broadcast anti-join against existing edges, TakeOrdered top-k",
    # round-10 additions
    "pack_training_rows": "loss-mask-carrying sequence packing: two-phase "
        "global rank (range exchange + pid window), <=budget+1-row "
        "class-min broadcast, ONE (class,row) assembly group; span/doc "
        "offset remap is an array fold in codegen",
    "preference_pairs": "DPO pair construction: ONE partial-aggregated "
        "prompt groupBy — argmax/argmin as lexicographic struct MIN/MAX, "
        "no window sort, no join, hot-prompt skew-proof",
    "fim_transform": "fill-in-middle PSM: md5 gate + split points + "
        "slices, one codegen project over the scan — zero exchanges",
    "near_dup_decontaminate": "cross-split fuzzy decontamination: the "
        "minhash kernel's per-side doc aggs, band bucket join taken "
        "ACROSS sides (eval side benchmark-sized), argmax-Jaccard window",
    "chat_tree_paths": "reply-tree flattening: ONE conv-key shuffle; all "
        "leaf paths walked in-row (unrolled map lookups) and only the "
        "finished paths explode",
    # round-10 session-2 additions
    "rejection_sample": "best-of-n selection: ONE prompt groupBy — "
        "struct-MIN argmax and the exact median in the same partial agg; "
        "no window, no join",
    "epoch_shuffle": "deterministic epoch shuffle: map-side md5 shard "
        "hash, position window PARTITIONED BY shard — the global-sort "
        "formulation's single-task collapse designed out",
    "span_corrupt": "T5 span corruption: blocked masking + both "
        "renderings in one transform() over sequence() — zero exchanges, "
        "scan-partitioned",
    "interleave_by_weight": "stride-scheduled corpus mixing: one "
        "source-partitioned position window, slot arithmetic map-side, "
        "no global sort",
    "filter_funnel": "filter-funnel attribution: first-fail CASE chain "
        "on the scan, ONE wide slice groupBy, stage rows inline-exploded "
        "with unrolled prefix arithmetic",
    "shard_manifest": "epoch_shuffle + manifest composed: the manifest "
        "agg groups on the key the position window hashed on -- exchange "
        "REUSED, one data-sized shuffle in the whole plan",
    "lsh_design_report": "LSH config pricing: one histogram groupBy, "
        "then config explode + exact S-curve folds over ~20 rows -- "
        "evaluating 100 configs costs the same as 3",
    "distinct_ngrams": "distinct-n diversity: grams materialize in-row "
        "(transform over sequence, no self-join), shuffle as 16-byte md5 "
        "keys into one count-distinct agg",
}


def main() -> None:
    plans = dict(explain_each(SHOWCASE))
    out = [
        "# PLANS — formatted physical plans (generated by tools/dump_plans.py "
        f"at sf0.001)",
        "",
        "Regenerate after plan-affecting changes: `python tools/dump_plans.py`.",
        "Plan *properties* are enforced by tests (test_plans.py, "
        "test_plan_budget.py); this file is the human-readable evidence.",
    ]
    for name, why in SHOWCASE.items():
        out += ["", f"## {name}", "", f"*{why}*", "", "```",
                plans[name].rstrip(), "```"]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({sum(len(l) for l in out)} chars)")


if __name__ == "__main__":
    main()
