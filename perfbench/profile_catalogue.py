"""Per-query warm-time table of the ``batch_floor`` candidates. Run from the
repository root:

    python3 perfbench/profile_catalogue.py --seed 0 --passes 3

The candidates are the ``bench.HEADLINE`` queries outside
``workloads.BATCH_HEAVY``. The script generates the sf0.01 tables from
``--seed``, checks every candidate once against its DuckDB oracle (the cold
pass), then runs ``--passes`` warm passes in seeded orders, each query to
the ``noop`` sink, and writes ``perfbench/catalogue_sf0.01.json``: per
query its median warm latency (build + execute), build and execute
medians, the package modules its builder uses, and whether its oracle check
and every warm run passed. ``workloads.select_floor`` draws the
``batch_floor`` list from that table; the script prints the full mix and
the drawn list side by side.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from run import p90, pin_env, stop_spark  # noqa: E402


def profile(root: str, seed: int, passes: int) -> dict:
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.join(root, "tests"))
    import __spark_entry__ as entrymod
    import oracle_check
    from akka_stream_contrib_spark import get_spark
    from batch import BatchRunner
    from datagen import write_tables
    from tracing import Tracer, builder_modules

    names = workloads.floor_candidates()
    work = os.path.join(root, ".perfbench_work", f"profile-{os.getpid()}")
    pin_env(root, work, False)
    try:
        sf_dir = write_tables(workloads.FLOOR_SF, seed, os.path.join(work, "data"))
        spark = get_spark("perfbench-profile")
        try:
            runner = BatchRunner(spark, entrymod, names, sf_dir, seed, Tracer(), False)
            runner.warm_and_check(oracle_check)
            for p in range(1, passes + 1):
                runner.run_pass(p)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    qs = entrymod.queries()
    rows = []
    for name in sorted(names):
        recs = [r for r in runner.records if r.name == name and r.pass_no > 0]
        ok = [r for r in recs if r.ok]
        rows.append({
            "name": name,
            "warm_s": round(statistics.median(r.latency_s for r in ok), 4) if ok else None,
            "build_s": round(statistics.median(r.build_s for r in ok), 4) if ok else None,
            "exec_s": round(statistics.median(r.exec_s for r in ok), 4) if ok else None,
            "modules": sorted(builder_modules(entrymod, qs[name])),
            "oracle_ok": runner.checked.get(name, False),
            "runs_ok": len(ok) == passes,
        })
    return {"sf": workloads.FLOOR_SF, "seed": seed, "passes": passes,
            "cpus": len(os.sched_getaffinity(0)), "queries": rows}


def mix_summary(rows: list[dict]) -> dict[str, float]:
    t = [r["warm_s"] for r in rows]
    return {"n": len(t), "mean_s": statistics.mean(t), "p50_s": statistics.median(t),
            "p90_s": p90(t), "pass_s": sum(t)}


def module_shares(rows: list[dict]) -> dict[str, float]:
    """Per package module, the share of ``rows`` whose builder uses it."""
    counts: dict[str, int] = {}
    for r in rows:
        for m in r["modules"]:
            counts[m] = counts.get(m, 0) + 1
    return {m: c / len(rows) for m, c in counts.items()}


def report(table: dict) -> str:
    """The full candidate mix beside the drawn ``batch_floor`` list."""
    usable = workloads.usable(table)
    chosen = workloads.select_floor(table)
    lines = [f"candidates {len(table['queries'])}, usable {len(usable)}, "
             f"drawn {len(chosen)}"]
    for label, rows in (("full", usable), ("drawn", [r for r in usable
                                                     if r["name"] in chosen])):
        s = mix_summary(rows)
        lines.append(f"{label:6s} n={s['n']:3d} mean={s['mean_s']:.3f} "
                     f"p50={s['p50_s']:.3f} p90={s['p90_s']:.3f} "
                     f"pass={s['pass_s']:.1f}s")
    full = module_shares(usable)
    drawn = module_shares([r for r in usable if r["name"] in chosen])
    lines.append("module share of queries: full / drawn")
    for m in sorted(full):
        lines.append(f"  {m:32s} {full[m]:.2f} / {drawn.get(m, 0.0):.2f}")
    lines.append("drawn: " + ", ".join(chosen))
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--report-only", action="store_true",
                    help="print the report for the committed table")
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not args.report_only:
        table = profile(root, args.seed, args.passes)
        with open(workloads.CATALOGUE, "w") as f:
            json.dump(table, f, indent=1)
            f.write("\n")
    print(report(workloads.load_catalogue()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
