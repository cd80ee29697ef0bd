"""Physical-plan introspection helpers.

The 100 TB discipline is enforceable: these helpers let tests assert that a
query's plan has the shape that survives scale — filters pushed into the
parquet scan, small dimensions broadcast (no shuffle of the fact table),
bounded exchange counts — rather than hoping the optimizer did the right
thing.

``plan_census`` is the one reader of a formatted plan's node tree. Its
lenses, each a count of DISTINCT plan nodes:

- ``exchanges``: shuffle exchanges (broadcast exchanges and ReusedExchange
  references are other node names: a reuse re-reads shuffle files);
- ``scans``: parquet scans per table;
- ``python_evals``: ArrowEvalPython / BatchEvalPython nodes;
- ``single_partition``: exchanges onto ONE partition (a one-reducer funnel);
- ``cartesian`` / ``bnlj``: CartesianProduct / BroadcastNestedLoopJoin
  (pair-space blowups);
- ``hot_hash``: hash exchanges keyed only on ``LOW_CARD`` columns, per key
  set (a hot-key funnel into that many reducers at any scale).

Distinct means: a MAIN-plan node counts by node id, so two independent
shuffles count twice even when their printed arguments collide (e.g. two
SinglePartition aggregates). A node under an InMemoryRelation prints once
per consumer of the cache — and under AQE once more as the cache's
initial-plan copy, where an exchange gets a new id — while it executes AT
MOST once (the cache build). It counts once per (outermost owning
relation's arguments, node arguments), plan_id stripped; a node id
printed under any InMemoryRelation is a cache-build node wherever else it
is reprinted (see ``plan_nodes``). The relation's arguments carry its
OUTPUT expr ids, identical across reprints of one cache and distinct
between caches, so the reprints collapse while two caches whose build
shuffles print the same partitioning still count separately. A node that prints no arguments (a scan, a join) keeps one id
in every reprint, so it counts once per id. The walk covers every
section: a shuffle inside a subquery is a real shuffle.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    """Assert some PushedFilters entry mentions ``fragment`` (a column name or
    literal) — i.e. the predicate reaches the parquet reader."""
    plan = formatted_plan(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    if not any(fragment in l for l in pushed):
        raise AssertionError(
            f"filter on {fragment!r} not pushed to scan; PushedFilters lines: {pushed}")


def assert_broadcast_join(df: DataFrame, min_count: int = 1) -> None:
    plan = formatted_plan(df)
    n = plan.count("BroadcastHashJoin")
    if n < min_count:
        raise AssertionError(
            f"expected ≥{min_count} BroadcastHashJoin, found {n}")


#: columns whose domain is bounded by the fixture schema (≤ ~20 values): a
#: hash exchange keyed ONLY on these funnels the corpus into that many
#: reducer tasks at any scale
LOW_CARD = frozenset({
    "event_type", "lang", "source", "l_returnflag", "l_linestatus",
    "o_orderpriority", "o_orderstatus", "side", "slice", "bin", "label",
    "stratum", "branch"})

# a tree line renders as "...+- [* ]NodeName (N)"; children indent deeper
_NODE_LINE = re.compile(r"([A-Za-z][A-Za-z ]*?) \((\d+)\)\s*$")


def plan_nodes(plan: str) -> list:
    """Every node of a formatted plan's tree, once per node id, as
    ``(name, node_id, owner_id)``: ``owner_id`` is the outermost
    InMemoryRelation whose cache build the node belongs to, None for a
    main-plan node. A node printed under any InMemoryRelation is a
    cache-build node wherever else it is reprinted: Spark prints the final
    and initial plans of an AdaptiveSparkPlan nested in a cache at the
    outer plan's indentation, where the walk alone would lose the owner."""
    # tree walk: everything deeper than an InMemoryRelation line (until the
    # indentation returns) is that cache's build-plan rendering; a section
    # boundary ("===== Subqueries =====", "Subquery:N ...") resets the stack
    names, owner, stack = {}, {}, []
    for line in plan.splitlines():
        if line.startswith("=====") or line.lstrip().startswith("Subquery"):
            stack = []
            continue
        m = _NODE_LINE.search(line)
        if not m:
            continue
        name, node_id = m.group(1).strip(), m.group(2)
        indent = re.search(r"[A-Za-z*]", line).start()
        while stack and indent <= stack[-1][0]:
            stack.pop()
        names[node_id] = name
        if stack:
            owner[node_id] = stack[0][1]  # outermost owning relation
        if name == "InMemoryRelation":
            stack.append((indent, node_id))
    return [(name, i, owner.get(i)) for i, name in names.items()]


def plan_census(plan: str) -> dict:
    """The lenses of the module docstring over one formatted plan:
    ``scans`` and ``hot_hash`` map a table / key set to a count, the other
    lenses are counts."""
    # details section: node id -> its block ("(N) Name" up to the next one)
    blocks, args = {}, {}
    for block in re.split(r"\n(?=\(\d+\) )", plan):
        m = re.match(r"\((\d+)\) [A-Za-z]", block)
        if not m:
            continue
        blocks[m.group(1)] = block
        a = re.search(r"Arguments: ([^\n]*)", block)
        if a:
            args[m.group(1)] = re.sub(r"\[plan_id=\d+\]", "", a.group(1))
    # one representative node id per distinct node
    distinct = {}
    for name, i, rel in plan_nodes(plan):
        key = ((name, args.get(rel, rel), args[i]) if rel and i in args
               else (name, i))
        distinct[key] = i
    scans, hot_hash = {}, {}
    census = {"exchanges": 0, "scans": scans, "python_evals": 0,
              "single_partition": 0, "cartesian": 0, "bnlj": 0,
              "hot_hash": hot_hash}
    for (name, *_), i in distinct.items():
        kind = name.split()[0]  # "BroadcastNestedLoopJoin Cross BuildRight"
        if kind == "Exchange":
            census["exchanges"] += 1
            census["single_partition"] += args.get(i, "").startswith(
                "SinglePartition")
            for keys in re.findall(r"hashpartitioning\(([^)]*)\)",
                                   args.get(i, "")):
                cols = {c.strip().split("#")[0] for c in keys.split(",")
                        if "#" in c} - {""}
                if cols and cols <= LOW_CARD:
                    hot = ",".join(sorted(cols))
                    hot_hash[hot] = hot_hash.get(hot, 0) + 1
        elif name.startswith("Scan parquet"):
            loc = re.search(r"Location: \w+ \[([^\]]*)\]", blocks[i]).group(1)
            table = loc.rstrip("/").rsplit("/", 1)[-1].removesuffix(".parquet")
            scans[table] = scans.get(table, 0) + 1
        elif kind in ("ArrowEvalPython", "BatchEvalPython"):
            census["python_evals"] += 1
        elif kind == "CartesianProduct":
            census["cartesian"] += 1
        elif kind == "BroadcastNestedLoopJoin":
            census["bnlj"] += 1
    return census


def count_exchanges(df: DataFrame) -> int:
    """Number of distinct shuffle exchanges — the scale-limiting resource of
    a plan (see the module docstring for what counts once)."""
    return plan_census(formatted_plan(df))["exchanges"]


def assert_partition_pruned(df: DataFrame, column: str) -> None:
    """Assert the scan node carries a PartitionFilters entry on ``column`` —
    i.e. a filter on a directory-partition column prunes partitions at
    planning time instead of reading every file and filtering rows."""
    plan = formatted_plan(df)
    part = [l for l in plan.splitlines() if "PartitionFilters" in l]
    if not any(column in l for l in part):
        raise AssertionError(
            f"no partition pruning on {column!r}; PartitionFilters lines: {part}")
