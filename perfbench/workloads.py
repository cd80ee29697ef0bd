"""Workload definitions and metric names.

Every workload reports every metric named here. An "operation" is one
query execution in the batch workloads and one event in the streaming one.
"""

from __future__ import annotations

import json
import os
import statistics

from stream import StreamParams

CATALOGUE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "catalogue_sf0.01.json")
FLOOR_SF = 0.01
FLOOR_K = 25

# compute-dominated headline queries (largest sf0.1 over sf0.01 time); the
# floor mix is every other headline query
BATCH_HEAVY = [
    "adamic_adar", "theil_sen", "fuzzy_name_match", "item_cf_recs", "distinct_ngrams",
    "audio_segments", "association_rules", "span_dedup", "web_corpus_prep",
    "q1_pricing_summary", "triangle_count", "vwap_resample", "dsir_select",
    "gopher_rules", "bigram_logprob", "simhash_pairs", "novelty_score",
    "minhash_incremental", "acf_lags", "duplicate_spans", "simhash", "local_clustering",
    "remove_boilerplate", "bleu_eval", "interpolate_linear", "near_dup_decontaminate",
    "q18_large_orders", "q3_shipping_priority", "dedup_within", "bloom_membership",
]


def floor_candidates() -> list[str]:
    """The ``bench.HEADLINE`` queries outside ``BATCH_HEAVY``."""
    import bench

    return [n for n in bench.HEADLINE if n not in BATCH_HEAVY]


def load_catalogue() -> dict:
    """The per-query warm-time table written by ``profile_catalogue.py``."""
    with open(CATALOGUE) as f:
        return json.load(f)


def usable(table: dict) -> list[dict]:
    """Candidates that passed their oracle check and every warm run, by
    warm latency (name breaks ties)."""
    rows = [r for r in table["queries"] if r["oracle_ok"] and r["runs_ok"]]
    return sorted(rows, key=lambda r: (r["warm_s"], r["name"]))


def select_floor(table: dict, k: int = FLOOR_K) -> list[str]:
    """One query per warm-time stratum: the usable candidates, by warm
    latency, cut into ``k`` strata of equal count. From the fastest stratum
    up, take the query that adds the most package modules not yet covered;
    ties go to the query nearest the stratum's median time, then by name."""
    rows = usable(table)
    covered: set[str] = set()
    out = []
    for i in range(k):
        stratum = rows[i * len(rows) // k:(i + 1) * len(rows) // k]
        mid = statistics.median(r["warm_s"] for r in stratum)
        best = min(stratum, key=lambda r: (-len(set(r["modules"]) - covered),
                                           abs(r["warm_s"] - mid), r["name"]))
        covered |= set(best["modules"])
        out.append(best["name"])
    return out


# closed loop, one client, sf0.01: the fixed per-query floor (plan build,
# eager driver actions, job scheduling) dominates these queries
FLOOR_QUERIES = select_floor(load_catalogue())

WORKLOADS = {
    "batch_floor": {"kind": "batch", "sf": FLOOR_SF, "queries": FLOOR_QUERIES},
    "stream_sessionize": {"kind": "stream", "params": StreamParams(
        warmup_files=16, backlog_files=64, events_per_file=250, files_per_trigger=8,
        live_events_per_file=80, tick_s=0.25)},
}

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
}

LAYER_FIXED = {
    "session.start_s": "s",
    "entry.build_s": "s",
    "entry.build_jobs": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.task_s": "s",
    "exec.task_cpu_s": "s",
    "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.gc_s": "s",
    "exec.job_s": "s",
    "exec.sched_s": "s",
    "exec.driver_s": "s",
    "plan.python_nodes": "count",
    "source.offset_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.batch_rows": "count",
    "state.rows": "count",
    "state.bytes": "bytes",
    "state.update_ms": "ms",
    "state.commit_ms": "ms",
    "sinks.write_s": "s",
    "generator.late_s": "s",
}


def batch_modules(entrymod) -> list[str]:
    """Package modules used by the batch workloads' query builders."""
    from tracing import builder_modules

    qs = entrymod.queries()
    mods: set[str] = set()
    for name in FLOOR_QUERIES:
        mods |= builder_modules(entrymod, qs[name])
    return sorted(mods)


def per_layer_names(entrymod) -> dict[str, str]:
    names = dict(LAYER_FIXED)
    for m in batch_modules(entrymod):
        names[f"module.{m}.build_s"] = "s"
        names[f"module.{m}.exec_s"] = "s"
    return names
