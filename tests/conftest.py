from __future__ import annotations

import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, "/root/repo")

from akka_stream_contrib_spark import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", shuffle_partitions=8)
    yield s
    s.stop()


@contextmanager
def _shuffle_layout(session, partitions: int):
    """Run the block with ``partitions`` shuffle partitions and AQE off, so
    no range is coalesced away: tiny and empty ranges survive. Pipeline
    caches are dropped on entry and exit — a persisted range partitioning
    is matched on the logical plan, so a cache built under one partition
    count would silently stand in for the next layout. Materialize results
    inside the block."""
    from akka_stream_contrib_spark.util import drop_stale_caches
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = [session.conf.get(k) for k in keys]
    drop_stale_caches()
    session.conf.set(keys[0], str(partitions))
    session.conf.set(keys[1], "false")
    try:
        yield
    finally:
        for k, v in zip(keys, saved):
            session.conf.set(k, v)
        drop_stale_caches()


@pytest.fixture(scope="session")
def shuffle_layout():
    return _shuffle_layout
