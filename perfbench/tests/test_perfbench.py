"""Tests of the benchmark itself. Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BENCH = os.path.join(ROOT, "perfbench")
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

from datagen import dedup_events, stream_files, table_frames  # noqa: E402
from workloads import END_TO_END, FLOOR_QUERIES, WORKLOADS  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_stream_generator_is_deterministic():
    sizes = [40, 40, 15, 15]
    a, b = stream_files(5, sizes), stream_files(5, sizes)
    for x, y in zip(a, b):
        pd.testing.assert_frame_equal(x, y)
    assert not stream_files(6, sizes)[1].equals(a[1])


def test_stream_generator_shape():
    files = stream_files(5, [200, 200, 100])
    ev = dedup_events(files)
    assert len(ev) == 500
    assert ev["ts"].is_monotonic_increasing and ev["ts"].is_unique
    assert (ev["event_id"] == range(500)).all()
    # re-deliveries only copy events of the file before
    first_ids = set(files[0]["event_id"])
    dups = files[1][files[1]["event_id"].duplicated(keep=False)
                    | files[1]["event_id"].isin(first_ids)]
    assert set(dups["event_id"]) <= first_ids


def test_tables_are_deterministic():
    a, b = table_frames(0.001, 3), table_frames(0.001, 3)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert not table_frames(0.001, 4)["lineitem"].equals(a["lineitem"])


def test_metric_names_match_benchmark_json():
    import __spark_entry__ as entrymod
    from workloads import per_layer_names

    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_names(entrymod)


def test_query_lists_exist():
    import __spark_entry__ as entrymod

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in FLOOR_QUERIES:
        assert name in qs and name in oracles


def test_floor_list_is_one_query_per_warm_time_stratum():
    import bench
    from workloads import (BATCH_HEAVY, FLOOR_K, floor_candidates, load_catalogue,
                           select_floor, usable)

    assert set(BATCH_HEAVY) <= set(bench.HEADLINE)
    table = load_catalogue()
    # the committed table covers every candidate, and only those
    assert sorted(r["name"] for r in table["queries"]) == sorted(floor_candidates())
    rows = [r["name"] for r in usable(table)]
    assert FLOOR_QUERIES == select_floor(table) and len(FLOOR_QUERIES) == FLOOR_K
    n, k = len(rows), FLOOR_K
    for i, name in enumerate(FLOOR_QUERIES):
        assert i * n // k <= rows.index(name) < (i + 1) * n // k


# tiny configurations of each workload: sf0.001, a few queries, a few files
_SMOKE = """
import sys
sys.path.insert(0, "perfbench")
import workloads
from stream import StreamParams
workloads.WORKLOADS["batch_floor"].update(sf=0.001, queries={floor!r})
workloads.WORKLOADS["stream_sessionize"]["params"] = StreamParams(
    warmup_files=1, backlog_files=2, events_per_file=50, files_per_trigger=2,
    live_events_per_file=20, tick_s=0.25)
import run
sys.exit(run.main({argv!r}))
"""


@pytest.mark.parametrize("workload,trace", [("batch_floor", 0), ("batch_floor", 1),
                                            ("stream_sessionize", 0),
                                            ("stream_sessionize", 1)])
def test_smoke_run(workload, trace):
    argv = ["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", str(trace)]
    code = _SMOKE.format(floor=FLOOR_QUERIES[:3], argv=argv)
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                          text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = _spec()
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == \
        {m["name"]: m["unit"] for m in want}


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "batch_floor",
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0 and proc.stdout == ""
