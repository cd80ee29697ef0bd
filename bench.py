"""Benchmark harness: runs headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE COMPACT
JSON line (totals + top-10 slowest queries; kept small so the driver's
stdout capture never truncates it):
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
Full per-query timings are written to BENCH_DETAIL.json next to this file.

Each query executes to a noop sink (full computation, no driver collect
bottleneck) after a warm-up of the parquet file listing. Timings are
wall-clock per query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from akka_stream_contrib_spark import get_spark, tables

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: relational aggregates/joins + heaviest operator queries +
# LLM-pipeline extensions. 124 queries; a bench round (sf0.01 compile
# warm-up + timed sf0.1 pass + DuckDB baseline) completes in ~8 min.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_orders",
    "range_join_follows",
    "attribution_window_join",
    "accumulate_keyed",
    "session_window",
    "sliding_window",
    "rate_limiter",
    "keep_alive",
    "token_throttle",
    "merge_by_index",
    "unfold_collatz",
    # extensions (present from the round they are implemented)
    "dedup_exact",
    "minhash_lsh_dedup",
    "ngram_jaccard_dedup",
    "simhash",
    "ann_cosine_topk",
    "text_stats",
    "training_prep",
    "moving_revenue_7d",
    "grouping_sets_revenue",
    "user_journey",
    "chunk_documents",
    "vocab_topk",
    "decontaminate",
    "knn_join",
    "bm25_search",
    "scd2_user_state",
    "mixture_sample",
    "rolling_zscore",
    "sessionize",
    # session-5 families
    "cohort_retention",
    "login_streaks",
    "pareto_customers",
    "event_transitions",
    "fuzzy_name_match",
    "regr_trend",
    "tfidf_search",
    "quantized_ann",
    "campaign_overlap",
    "heavy_hitter_tokens",
    # round-2 additions: keyed throttle (no global sort), distributed IVF ANN
    # (no driver collect), concat-retry loop, corpus curation trio
    "token_throttle_keyed",
    "ann_ivf_all",
    "retry_concat_split",
    "dedup_keep_best",
    "domain_cap",
    "remove_boilerplate",
    "training_pipeline",
    "minhash_incremental",
    "hashed_features",
    "bigram_logprob",
    # round-3 additions: full TPC-H over the derived partsupp view, graph
    # motifs, collocations, readability, deterministic sampling, gap fill,
    # distributed k-means
    "q2_min_cost_supplier",
    "q9_product_profit",
    "q11_important_stock",
    "q16_supplier_part_counts",
    "q20_promotion_suppliers",
    "triangle_count",
    "pmi_collocations",
    "readability_scores",
    "reservoir_sample",
    "interpolate_linear",
    "kmeans_clusters",
    "bpe_pair_counts",
    # exact duplicated-span dedup (suffix-array-free Lee et al. 2022) + BPE inference
    "duplicate_spans",
    "span_dedup",
    "bpe_encode",
    "length_batches",
    "negative_samples",
    # this session: rules filter, JL projection, PQ two-stage ANN,
    # contamination audit, mixture weights
    "gopher_rules",
    "rp_project",
    "pq_ann",
    "contamination_score",
    "mixture_weights",
    "simhash_pairs",
    "normalize_text",
    "doc_keywords",
    "bloom_membership",
    "ohlc_resample",
    "skew_report",
    "kfold_split",
    "quantile_normalize",
    "logreg_quality",
    "snapshot_diff",
    "entity_resolution",
    "bloom_pruned_revenue",
    "vwap_resample",
    "dedup_within",
    "corpus_report",
    "weighted_sample",
    "classification_report",
    "psi_drift",
    # this session: DSIR selection, histogram quantile sketch, curriculum
    # order, as-of attribution, pHash near-dup, n-gram novelty, Jaro-Winkler
    "dsir_select",
    "value_quantile_sketch",
    "curriculum_order",
    "attribution_last_touch",
    "phash_near_dup",
    "novelty_score",
    "fuzzy_vocab_jw",
    "quantile_error_report",
    "segment_dedup",
    "oov_rate",
    "cluster_silhouette",
    "calibration_report",
    "neyman_sample",
    "blocking_report",
    "seasonal_anomalies",
    # round-4 additions: CDC merge, leakage-safe target encoding,
    # Luhn-validated PII scan, conjunctive retrieval, Holt trend smoothing
    "cdc_apply_changes",
    "target_encoding",
    "pii_luhn",
    "boolean_retrieval",
    "holt_trend",
    # round-5 additions: hybrid RRF retrieval, token-budget curation,
    # audio activity segmentation
    "rrf_fusion",
    "token_budget_fill",
    "audio_segments",
    "hard_negatives",
    "balanced_shards",
    "scd2_as_of",
    "sample_step_replay",
    "motif_search",
    "url_domain_stats",
    # round-6 session-2 additions: ROC AUC, changepoints, autocorrelation,
    # Zipf corpus fit, Naive Bayes language ID
    "auc_roc",
    "mean_shift",
    "acf_lags",
    "zipf_fit",
    "nb_lang_confusion",
    "ndcg_eval",
    "welch_ttest",
    "benford_check",
    "sliced_eval",
    "ks_statistic",
    "chi2_tokens",
    "local_clustering",
    "association_rules",
    "kaplan_meier",
    "embedding_drift",
    "k_anonymity",
    # round-7 additions: categorical drift (JSD), transition information,
    # bootstrap error bars, concentration audit, tokenizer fertility,
    # AP@k ranking eval, MMR diverse retrieval, and the sketch contract
    # audits that flipped from rows-only to hash-checked this round
    "js_divergence",
    "conditional_entropy",
    "bootstrap_ci",
    "gini_user_activity",
    "tokenizer_fertility",
    "average_precision",
    "mmr_diverse_topk",
    "approx_distinct_users",
    "hll_daily_users",
    # round-7 batch 2: CCNet perplexity split, RFM features, degree
    # assortativity. The near-dup CLUSTER compositions (dup_clusters /
    # dup_cluster_sizes / semantic_dedup) stay out — since round 8 they
    # ride the blocked exact kernel (scale-shaped), but their DuckDB
    # oracles are recursive-CTE transitive closures that cost 74-83 s
    # EACH at sf0.1 (measured r8): benching them prices the oracle's
    # recursion, not the engines. The pair-detection stage itself is
    # benched below (embedding_near_dup, round-8 blocked-GEMM plan).
    "perplexity_buckets",
    "rfm_features",
    "degree_assortativity",
    "psi_probe_drift",
    # round-7 session-2: agreement/threshold/ranking eval, recsys
    # neighbors, link analysis, graph cores, generation eval
    "cohen_kappa",
    "wilson_rank",
    "f1_threshold_sweep",
    "mrr_eval",
    "item_cf_recs",
    "hits_scores",
    "k_core",
    "bleu_eval",
    "lpa_communities",
    "bfs_hops",
    "active_users",
    "ppr_related",
    "conformal_interval",
    "forecast_eval",
    "theil_sen",
    # round-8 additions: the blocked exact near-dup pair join and the
    # directed-containment dedup detector
    "embedding_near_dup",
    "doc_containment",
    "adamic_adar",
    "frequent_journeys",
    # round-9 additions: translit-fold dedup, per-dim drift monitor,
    # canonical-URL re-crawl dedup
    "cross_lingual_dedup",
    "embedding_dim_drift",
    "url_recrawl_dedup",
    "html_extract",
    "common_line_filter",
    "chat_training_text",
    "margin_mine",
    "web_corpus_prep",
    "generation_loops",
    # round-10 additions: sequence packing with loss-mask carry;
    # DPO preference-pair construction
    "pack_training_rows",
    "preference_pairs",
    "fim_transform",
    "near_dup_decontaminate",
    "chat_tree_paths",
    # round-10 session-2 additions: best-of-n rejection sampling,
    # deterministic epoch shuffle, context-window sizing, Bradley-Terry
    # arena ratings, filter-funnel attribution, T5 span corruption,
    # stride-scheduled corpus interleave
    "rejection_sample",
    "epoch_shuffle",
    "context_fit_report",
    "elo_ratings",
    "filter_funnel",
    "span_corrupt",
    "interleave_by_weight",
    "template_mine",
    "bitext_filter",
    "shard_manifest",
    "prefix_cache_report",
    "fleiss_kappa",
    "pass_at_k",
    "lsh_design_report",
    "epoch_shuffle_grouped",
    "distinct_ngrams",
    "spearman_corr",
    "position_bias_probe",
    "win_rate_matrix",
]

# Stable cross-round regression set (verdict r7 #5): 25 queries benched in
# EVERY round regardless of how the correctness window rotates — the TPC-H
# canon, the dedup/ANN heavies, and the named weak-set members — so
# round-over-round plan regressions are visible instead of the r6→r7
# 3-common-query blind spot. The stdout line carries the totals + the
# previous round's total; BENCH_DETAIL.json carries per-query numbers.
STABLE_SET = [
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q5_local_supplier_volume", "q6_forecast_revenue", "q9_product_profit",
    "q11_important_stock", "q18_large_orders",
    "dedup_exact", "minhash_lsh_dedup", "ngram_jaccard_dedup",
    "duplicate_spans", "novelty_score", "dsir_select", "phash_near_dup",
    "ann_cosine_topk", "ann_ivf_all", "pq_ann", "quantized_ann", "knn_join",
    "theil_sen", "hard_negatives", "bigram_logprob", "audio_segments",
    "vwap_resample",
    # r11 additions (verdict r10 item 5, additions-only): the five
    # heaviest round-10 build-tail ops, so round 12 has a like-for-like
    # cross-round signal covering them (no STABLE_PREV entries yet — the
    # prev-total sum skips absent keys by construction)
    "pack_training_rows", "chat_tree_paths", "near_dup_decontaminate",
    "win_rate_matrix", "fim_transform",
]
assert set(STABLE_SET) <= set(HEADLINE), "stable set must be benched"

# previous round's sf0.1 cold timings for STABLE_SET — from the round-11
# END-OF-ROUND run of record on the FINAL r11 tree (session-3 close-out;
# same-run DuckDB 78.0 s vs this host's ~78–82.5 s idle plateau, no
# single-query stalls, per-query geomean 1.09x vs the session-1 interim
# record = window-quiet). The stable-30 total 27.13 s carries ~1.5 s of
# DELIBERATE skew-insurance cost the session-2/3 rewrites added at sf0.1
# (range/salted two-phase ranks in interleave/neyman/spearman/
# quantile_normalize/domain_cap/acf_lags — bounded per-reducer sorts at
# 100 TB; the ledger has each keep argument). Update BOTH fields only
# from a run whose same-run DuckDB time sits at the host's idle plateau
# with no single-query stalls.
STABLE_PREV_ROUND = 11
STABLE_PREV = {
    "q1_pricing_summary": 1.232, "q2_min_cost_supplier": 0.405,
    "q3_shipping_priority": 0.688, "q5_local_supplier_volume": 0.369,
    "q6_forecast_revenue": 0.176, "q9_product_profit": 0.754,
    "q11_important_stock": 1.064, "q18_large_orders": 0.87,
    "dedup_exact": 0.143, "minhash_lsh_dedup": 1.73,
    "ngram_jaccard_dedup": 2.016, "duplicate_spans": 1.649,
    "novelty_score": 1.224, "dsir_select": 2.092,
    "phash_near_dup": 0.785, "ann_cosine_topk": 0.209,
    "ann_ivf_all": 0.837, "pq_ann": 0.725, "quantized_ann": 0.304,
    "knn_join": 0.391, "theil_sen": 1.399, "hard_negatives": 0.44,
    "bigram_logprob": 1.71, "audio_segments": 1.085,
    "vwap_resample": 0.95, "pack_training_rows": 0.903,
    "chat_tree_paths": 0.459, "near_dup_decontaminate": 1.802,
    "win_rate_matrix": 0.307, "fim_transform": 0.41,
}


def main() -> None:
    spark = get_spark("bench")
    # warm the session (JVM, codegen, Arrow python workers, FS listing) so
    # per-query timings measure the queries, not cluster startup
    spark.range(1000).selectExpr("sum(id)").write.mode("overwrite").format("noop").save()
    spark.range(100).mapInPandas(lambda it: it, "id long").write.mode("overwrite").format("noop").save()
    qs = entrymod.queries()
    # compile warm-up: run each headline plan once at the tiny SF so the
    # timed runs below measure sf-scale execution, not whole-stage-codegen
    # javac time (a fixed per-plan cost a long-lived cluster pays once)
    # sf0.01 (not 0.001): enough rows that hot loops clear the JIT C2 threshold
    warm_sf = "/root/testdata/sf0.01"
    # every swallowed failure is recorded as "<phase> <name>: <error>", so
    # one bad query neither stops the run nor vanishes from its record
    errors: list[str] = []
    for name in HEADLINE:
        fn = qs.get(name)
        if fn is None:
            continue
        try:
            fn(spark, warm_sf).write.mode("overwrite").format("noop").save()
        except Exception as ex:  # noqa: BLE001
            errors.append(f"warm-up {name}: {ex}")
    # warm the TARGET SF's file listing + footers (session FileStatusCache):
    # otherwise the first timed query pays the directory listing for every
    # table it touches — a per-cluster-lifetime cost, not a per-query one
    for t in tables.TABLE_NAMES:
        try:
            tables.load(spark, t, SF_DIR).limit(1).collect()
        except Exception as ex:  # noqa: BLE001
            errors.append(f"listing {t}: {ex}")
    timings: dict[str, float] = {}
    floors: dict[str, float] = {}
    warms: dict[str, float] = {}
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    for name in HEADLINE:
        fn = qs.get(name)
        if fn is None:
            continue
        # fixed-floor probe: the SAME plan at the (already compile-warmed)
        # tiny SF — job setup, task scheduling, AQE, Arrow worker round-trips
        # at 10x less data. floor ≈ this; data-bound cost ≈ t - floor.
        try:
            t0 = time.monotonic()
            fn(spark, warm_sf).write.mode("overwrite").format("noop").save()
            floors[name] = round(time.monotonic() - t0, 3)
        except Exception as ex:  # noqa: BLE001
            errors.append(f"floor {name}: {ex}")
        t0 = time.monotonic()
        df = fn(spark, SF_DIR)
        df.write.mode("overwrite").format("noop").save()
        timings[name] = round(time.monotonic() - t0, 3)
        # warm repeat: same query rebuilt from scratch (its per-pipeline
        # caches are re-persisted, not reused — see util.drop_stale_caches),
        # isolating run-to-run jitter from plan cost
        t0 = time.monotonic()
        fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
        warms[name] = round(time.monotonic() - t0, 3)
        print(f"# {name}: {timings[name]:.3f}s (floor {floors.get(name, -1):.3f}, "
              f"warm {warms[name]:.3f})", file=sys.stderr, flush=True)
    total = round(sum(timings.values()), 3)
    # supplementary pass over a SPLITTABLE re-encoding of the same data:
    # the shipped fixtures are single-row-group parquet, so Spark cannot
    # split any scan and every pre-shuffle stage runs on ONE core (DuckDB
    # parallelizes inside a row group; Spark's split unit IS the row
    # group). Production files are multi-row-group — this pass shows what
    # the same plans do when the scan splits. Identical rows, identical
    # results; only the parquet chunking differs.
    splits: dict[str, float] = {}
    try:
        split_dir = _split_fixture_copy()
    except Exception as ex:  # noqa: BLE001
        errors.append(f"split fixture: {ex}")
        split_dir = None
    if split_dir:
        # scope a small maxPartitionBytes to this pass: it re-creates the
        # production relation file-size >> partition-bytes, so the 32 row
        # groups actually become 32 input splits (at the default 128 MB the
        # whole sub-MB file is still one split)
        prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
        try:
            for name in HEADLINE:
                fn = qs.get(name)
                if fn is None:
                    continue
                try:
                    t0 = time.monotonic()
                    fn(spark, split_dir).write.mode("overwrite").format("noop").save()
                    splits[name] = round(time.monotonic() - t0, 3)
                except Exception as ex:  # noqa: BLE001
                    errors.append(f"split {name}: {ex}")
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
    base_total, base_queries, base_runs = duckdb_baseline(
        [n for n in HEADLINE if n in timings])
    # pipelined pass: the SAME oracle-subset queries submitted 8 at a time
    # from concurrent driver threads — how a multi-tenant cluster (or any
    # driver with a job queue) actually runs a 120-query workload. The
    # per-query fixed floor (job setup / scheduling / AQE rounds, ~0.37 s
    # each here) overlaps across in-flight queries instead of summing, so
    # wall-clock ~= data-bound cost + floor/8. Sequential per-query numbers
    # above are unaffected; this measures throughput of the same plans.
    # the Spark measurement must not depend on DuckDB being installed:
    # derive the oracle subset directly when the baseline was unavailable
    pipe_names = list(base_queries) if base_queries else [
        n for n in HEADLINE if n in timings and n in entrymod.oracle_sql()]
    pipelined_wall = None
    if pipe_names:
        from concurrent.futures import ThreadPoolExecutor

        from akka_stream_contrib_spark.util import retain_pipeline_caches

        def _run_noop(name: str) -> str | None:
            try:
                qs[name](spark, SF_DIR).write.mode(
                    "overwrite").format("noop").save()
                return None
            except Exception as ex:  # noqa: BLE001
                return f"pipelined {name}: {ex}"

        t0 = time.monotonic()
        n_errors = len(errors)
        # chunked retain scopes: cache storage is bounded by one chunk's
        # pipelines (retain_pipeline_caches' documented contract), not by
        # the whole subset's accumulated persists at a larger SF
        for i in range(0, len(pipe_names), 16):
            with retain_pipeline_caches():
                with ThreadPoolExecutor(max_workers=8) as pool:
                    errors += [e for e in pool.map(
                        _run_noop, pipe_names[i:i + 16]) if e]
        if len(errors) > n_errors:
            print(f"# pipelined pass errors: {errors[n_errors:]}",
                  file=sys.stderr, flush=True)
        else:
            pipelined_wall = round(time.monotonic() - t0, 3)
            print(f"# pipelined wall ({len(pipe_names)} queries, "
                  f"8 threads): {pipelined_wall:.3f}s",
                  file=sys.stderr, flush=True)
    base_pipelined = duckdb_pipelined(pipe_names) if pipe_names else None
    if base_pipelined is not None:
        print(f"# duckdb pipelined wall: {base_pipelined:.3f}s",
              file=sys.stderr, flush=True)
    # apples-to-apples: DuckDB only runs oracle-backed queries, so the
    # ratio must use the Spark total over that SAME subset (iterative /
    # non-SQL-expressible queries would otherwise inflate it)
    comparable = (round(sum(timings[q] for q in base_queries), 3)
                  if base_queries else None)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full per-query detail goes to a FILE; stdout gets ONE COMPACT line.
    # (The driver's stdout capture truncated the r1/r3 runs — 109 per-query
    # entries overflowed its buffer and BENCH_r{N}.json recorded
    # "parsed": null. Keep the line under ~1 KB: totals + top-10 slowest.)
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    # subset totals must cover the SAME queries as the primary total to be
    # comparable — report any probe that failed instead of silently
    # summing over fewer queries
    floor_missing = ([q for q in base_queries if q not in floors]
                     if base_queries else [])
    split_missing = ([q for q in base_queries if q not in splits]
                     if base_queries else [])
    floor_subset = (round(sum(floors[q] for q in base_queries
                              if q in floors), 3)
                    if base_queries and not floor_missing else None)
    warm_subset = (round(sum(warms.get(q, timings[q]) for q in base_queries), 3)
                   if base_queries else None)
    split_subset = (round(sum(splits[q] for q in base_queries
                              if q in splits), 3)
                    if base_queries and splits and not split_missing else None)
    with open(detail_path, "w") as f:
        json.dump({
            "metric": "headline_queries_total_wall_sec",
            "value": total,
            "unit": "sec",
            "sf": sf_val,
            "queries": timings,
            "queries_floor_sf001": floors,
            "queries_warm_repeat": warms,
            "queries_split_input": splits,
            "baseline_duckdb_total_sec": base_total,
            "baseline_duckdb_queries": base_queries,
            "baseline_duckdb_runs": base_runs,
            "spark_total_oracle_subset_sec": comparable,
            "spark_floor_oracle_subset_sec": floor_subset,
            "spark_warm_oracle_subset_sec": warm_subset,
            "spark_split_input_oracle_subset_sec": split_subset,
            "spark_pipelined_oracle_subset_sec": pipelined_wall,
            "baseline_duckdb_pipelined_sec": base_pipelined,
            "floor_probe_failed": floor_missing,
            "split_probe_failed": split_missing,
            "errors": errors,
            "stable_set": {
                "names": STABLE_SET,
                "prev_round": STABLE_PREV_ROUND,
                "prev_queries": STABLE_PREV,
            },
            "decomposition_note": (
                "floor = same plan at the compile-warmed tiny SF (job "
                "setup/scheduling/AQE at 10x less data, a per-query fixed "
                "cost a long-lived cluster amortizes); data-bound cost "
                "~= t - floor. warm = second from-scratch run at the "
                "target SF (per-pipeline caches re-persisted, not reused). "
                "DuckDB runs each oracle twice; the baseline totals use "
                "the per-query MIN (conservative denominator). split_input "
                "= same rows re-encoded as 32 parquet row groups + 64 KB "
                "maxPartitionBytes so the scan can split (the shipped "
                "single-row-group fixtures pin every pre-shuffle Spark "
                "stage to one core). Read it PER QUERY: the data-bound "
                "heavies speed up 1.5-2.5x when the scan parallelizes, "
                "while the ~100 floor-bound sub-second queries pay extra "
                "task scheduling — so the split SUBSET TOTAL can exceed "
                "the primary total even as every heavy query improves; "
                "both effects are the floor decomposition in action. "
                "pipelined = the same oracle-subset queries submitted 8 "
                "at a time from concurrent driver threads (multi-tenant "
                "cluster shape): per-query floors overlap instead of "
                "summing, so wall ~= data-bound cost + floor/8. DuckDB "
                "gets the same treatment (baseline_duckdb_pipelined_sec: "
                "8 threads, one cursor each) so the pipelined comparison "
                "is apples-to-apples."),
        }, f, indent=1)
    stable_now = {q: timings[q] for q in STABLE_SET if q in timings}
    # like-for-like guard (r11): STABLE_SET grew 25 -> 30, so total_sec no
    # longer sums the same queries as prev_total_sec; comparable_total_sec
    # restricts THIS round's total to the queries STABLE_PREV actually
    # priced (additions-only field — existing fields keep their meaning)
    prev_keys = [q for q in stable_now if q in STABLE_PREV]
    stable_block = {
        "n": len(stable_now),
        "total_sec": round(sum(stable_now.values()), 3),
        "warm_total_sec": round(sum(
            warms.get(q, stable_now[q]) for q in stable_now), 3),
        "prev_round": STABLE_PREV_ROUND,
        "prev_total_sec": round(sum(
            STABLE_PREV[q] for q in prev_keys), 3),
        "n_prev_comparable": len(prev_keys),
        "comparable_total_sec": round(sum(
            stable_now[q] for q in prev_keys), 3),
    }
    top10 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    print(json.dumps({
        "metric": "headline_queries_total_wall_sec",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "queries": top10,
        "baseline_duckdb_total_sec": base_total,
        "spark_total_oracle_subset_sec": comparable,
        "spark_floor_oracle_subset_sec": floor_subset,
        "spark_warm_oracle_subset_sec": warm_subset,
        "spark_split_input_oracle_subset_sec": split_subset,
        "spark_pipelined_oracle_subset_sec": pipelined_wall,
        "baseline_duckdb_pipelined_sec": base_pipelined,
        "stable_set": stable_block,
        "n_errors": len(errors),
        "detail": "BENCH_DETAIL.json",
    }, separators=(",", ":")), flush=True)
    spark.stop()


def _split_fixture_copy() -> str:
    """Re-encode SF_DIR's tables as 32-row-group parquet under /tmp (same
    rows, splittable scans). Returns the directory."""
    import hashlib
    import pyarrow.parquet as pq

    # key the cache dir by the FULL source path (two fixture trees with
    # the same basename must not share a copy), and re-encode whenever
    # the source's (mtime, size) identity changes in ANY direction — an
    # mtime-preserving regeneration still flips size or mtime equality
    tag = hashlib.md5(os.path.abspath(SF_DIR).encode()).hexdigest()[:12]
    out = f"/tmp/spark-graft-split-{tag}"
    os.makedirs(out, exist_ok=True)
    for t in tables.TABLE_NAMES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        marker = dst + ".src"
        if not os.path.exists(src):
            continue
        ident = f"{os.path.getmtime(src)}:{os.path.getsize(src)}"
        if os.path.exists(dst) and os.path.exists(marker):
            with open(marker) as mf:
                if mf.read() == ident:
                    continue
        tab = pq.read_table(src)
        pq.write_table(tab, dst,
                       row_group_size=max(1, tab.num_rows // 32))
        with open(marker, "w") as mf:
            mf.write(ident)
    return out


def duckdb_baseline(names: list[str]) -> tuple[
        float | None, dict[str, float] | None, dict[str, list[float]] | None]:
    """Same-machine, same-data, same-semantics single-node baseline: wall
    time (total + per query) of the headline queries' oracle SQL on DuckDB
    (an excellent single-node OLAP engine). The reference publishes no
    numbers (BASELINE.md), so this is the honest comparable; Spark's edge is
    that the SAME plans scale out to a cluster, while paying JVM/task fixed
    costs at sf-test sizes. Each oracle runs TWICE (BASELINE.md documents
    2.6x run-to-run swings in the denominator); the returned per-query
    number is the MIN of the two — the conservative (DuckDB-favoring)
    denominator — with both raw runs reported alongside."""
    try:
        oracles = entrymod.oracle_sql()
        con = _duckdb_connect()
        per: dict[str, float] = {}
        runs: dict[str, list[float]] = {}
        for name in names:
            sql = oracles.get(name)
            if sql is not None:
                pair = []
                for _ in range(2):
                    t0 = time.monotonic()
                    con.execute(sql).fetchall()
                    pair.append(round(time.monotonic() - t0, 3))
                runs[name] = pair
                per[name] = min(pair)
        return round(sum(per.values()), 3), per, runs
    except Exception as ex:  # noqa: BLE001
        print(f"# duckdb baseline unavailable: {type(ex).__name__}: {ex}",
              file=sys.stderr, flush=True)
        return None, None, None


def _duckdb_connect():
    """One in-memory DuckDB with the fixture tables registered as views —
    the SAME setup for the sequential and pipelined baselines, so a future
    registration tweak cannot give them different table semantics."""
    import duckdb

    con = duckdb.connect()
    for t in tables.TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def duckdb_pipelined(names: list[str], workers: int = 8) -> float | None:
    """The baseline's turn at the pipelined comparison: the same oracle
    queries submitted from ``workers`` concurrent threads, each on its own
    cursor of one shared in-memory database (DuckDB releases the GIL during
    execution, so this is real concurrency). Keeps the Spark-vs-DuckDB
    pipelined numbers apples-to-apples — neither side gets concurrency the
    other was denied."""
    try:
        from concurrent.futures import ThreadPoolExecutor

        oracles = entrymod.oracle_sql()
        sqls = [oracles[n] for n in names if n in oracles]
        con = _duckdb_connect()

        def _run(sql: str) -> None:
            cur = con.cursor()
            try:
                cur.execute(sql).fetchall()
            finally:
                cur.close()

        t0 = time.monotonic()
        with ThreadPoolExecutor(max_workers=workers) as pool:
            list(pool.map(_run, sqls))
        return round(time.monotonic() - t0, 3)
    except Exception as ex:  # noqa: BLE001
        print(f"# duckdb pipelined unavailable: {type(ex).__name__}: {ex}",
              file=sys.stderr, flush=True)
        return None


if __name__ == "__main__":
    main()
