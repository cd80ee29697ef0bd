"""Reconcile a traced run with an untraced run of the same workload and seed.

    python3 perfbench/run.py --workload batch_floor --seed 7 --seconds 20 --trace 0
    python3 perfbench/run.py --workload batch_floor --seed 7 --seconds 20 --trace 1
    python3 perfbench/reconcile.py batch_floor 7

For each query it compares the traced ``build + exec`` median with the
untraced latency median. Host load moves every query of a run by about the
same factor, so the check divides each query's traced/untraced ratio by
the median ratio over all queries and flags a query whose normalized ratio
is off by more than ``TOLERANCE``. It also reports the tracing overhead as
traced minus untraced, per measured query and for the streaming phases;
that difference includes any change in host load between the two runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

TOLERANCE = 0.25


def _spans(root: str, workload: str, seed: int, trace: int) -> list[dict]:
    path = os.path.join(root, ".perfbench_out", f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as f:
        return json.load(f)


def _per_query(spans: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for s in spans:
        if s["name"] == "query":
            out.setdefault(s["query"], []).append(s["end"] - s["start"])
    return out


def _children_sum(spans: list[dict]) -> dict[str, list[float]]:
    by_parent: dict[int, float] = {}
    for s in spans:
        if s["name"] in ("build", "exec"):
            by_parent[s["parent"]] = by_parent.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, list[float]] = {}
    for s in spans:
        if s["name"] == "query":
            out.setdefault(s["query"], []).append(by_parent[s["id"]])
    return out


def _phase(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def reconcile(root: str, workload: str, seed: int) -> dict:
    plain, traced = _spans(root, workload, seed, 0), _spans(root, workload, seed, 1)
    report: dict = {"workload": workload, "seed": seed, "tolerance": TOLERANCE}
    lat, parts = _per_query(plain), _children_sum(traced)
    if lat:
        med = {q: (statistics.median(lat[q]), statistics.median(parts[q])) for q in lat}
        scale = statistics.median(t / u for u, t in med.values())
        rows, over = {}, []
        for q in sorted(med):
            u, t = med[q]
            norm = t / u / scale - 1
            rows[q] = {"untraced_s": round(u, 4), "traced_build_exec_s": round(t, 4),
                       "diff": round(t / u - 1, 4), "diff_normalized": round(norm, 4)}
            if abs(norm) > TOLERANCE:
                over.append(q)
        report["host_scale"] = round(scale, 4)
        report["queries"] = rows
        report["outside_tolerance"] = over
        mu = statistics.mean(x for v in lat.values() for x in v)
        mt = statistics.mean(x for v in _per_query(traced).values() for x in v)
        report["overhead_s_per_query"] = round(mt - mu, 4)
        report["overhead_share"] = round((mt - mu) / mu, 4)
    for phase in ("phase1", "phase2"):
        if _phase(plain, phase):
            report[f"overhead_s_{phase}"] = round(_phase(traced, phase) - _phase(plain, phase), 4)
    return report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload")
    ap.add_argument("seed", type=int)
    args = ap.parse_args(argv)
    report = reconcile(os.getcwd(), args.workload, args.seed)
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
