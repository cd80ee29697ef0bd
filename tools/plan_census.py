"""Plan census over the query registry (explain-only, sf0.001).

Builds each query's plan at the plan-budget gate's scale factor, one at a
time with the previous query's pipeline caches dropped (the gate's
isolation), and reads it with ``plans.plan_census``: distinct exchanges,
parquet scans per table, Python eval nodes, SinglePartition exchanges,
cartesian products / broadcast nested-loop joins and low-cardinality hash
keys. Nothing executes but the driver-side actions the query builders
themselves perform (seed probes, iteration counts).

Default mode rewrites the pinned ceilings ``tests/plan_census.json`` (the
entries of the queries it ran; exchange counts are pinned with their
reasons in ``tests/test_plan_budget.py::BUDGET`` instead) and prints every
query with a hazard lens above zero or a table scanned three times or
more. ``--dump DIR`` instead writes each query's formatted plan to
``DIR/<query>.txt``.

Usage: python tools/plan_census.py [--queries q1,q2,...|headline] [--dump DIR]
e.g.   python tools/plan_census.py --queries acf_lags --dump plans/r12/before
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from akka_stream_contrib_spark import get_spark  # noqa: E402
from akka_stream_contrib_spark.plans import (  # noqa: E402
    formatted_plan, plan_census)
from akka_stream_contrib_spark.tables import DEFAULT_SF_DIR  # noqa: E402
from akka_stream_contrib_spark.util import drop_stale_caches  # noqa: E402

#: the gate's fixtures: sf0.001 next to the bench scale factor's directory
SF = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
PINNED = os.path.join(ROOT, "tests", "plan_census.json")
HAZARDS = ("python_evals", "single_partition", "cartesian", "bnlj",
           "hot_hash")


def explain_each(names):
    """Yield (query, formatted plan) for ``names``, each built at ``SF``
    in one session with the previous query's pipeline caches dropped."""
    spark = get_spark("plan-census", shuffle_partitions=8)
    qs = entrymod.queries()
    for name in names:
        drop_stale_caches()
        yield name, formatted_plan(qs[name](spark, SF))


def write_pinned(census: dict) -> None:
    """One query per line, so a changed plan is a one-line diff."""
    lines = [f" {json.dumps(q)}: {json.dumps(c, sort_keys=True)}"
             for q, c in sorted(census.items())]
    with open(PINNED, "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--queries", help="comma-separated names, or 'headline' "
                    "for bench.HEADLINE (default: the whole registry)")
    ap.add_argument("--dump", metavar="DIR",
                    help="write DIR/<query>.txt plans instead of the census")
    opts = ap.parse_args()
    registry = entrymod.queries()
    names = list(registry)
    if opts.queries == "headline":
        import bench
        names = [n for n in bench.HEADLINE if n in names]
    elif opts.queries:
        names = opts.queries.split(",")
    if opts.dump:
        os.makedirs(opts.dump, exist_ok=True)
        for name, plan in explain_each(names):
            with open(os.path.join(opts.dump, f"{name}.txt"), "w") as f:
                f.write(plan)
            print(f"wrote {name}.txt", flush=True)
        return
    pinned = {}
    if os.path.exists(PINNED):
        with open(PINNED) as f:
            pinned = {q: c for q, c in json.load(f).items()
                      if q in registry}
    for name, plan in explain_each(names):
        census = plan_census(plan)
        census.pop("exchanges")
        pinned[name] = census
        flags = {k: census[k] for k in HAZARDS if census[k]}
        reread = {t: n for t, n in census["scans"].items() if n >= 3}
        if reread:
            flags["scans"] = reread
        print(f"{name}: scans={census['scans']}"
              + (f"  <-- {flags}" if flags else ""), flush=True)
    write_pinned(pinned)
    print(f"wrote {os.path.relpath(PINNED, ROOT)} ({len(names)} queries "
          f"censused, {len(pinned)} pinned)")


if __name__ == "__main__":
    main()
