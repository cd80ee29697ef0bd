"""Shared small helpers."""

from __future__ import annotations

from collections.abc import Sequence

from py4j.protocol import Py4JError
from pyspark.sql import Column
from pyspark.sql import functions as F

_US_PER_DAY = 86_400_000_000


def epoch_micros(c: Column | str) -> Column:
    """Wall-clock microseconds since epoch, safe for BOTH ``timestamp`` and
    ``timestamp_ntz`` inputs (``F.unix_micros`` rejects NTZ with
    DATATYPE_MISMATCH — the driver's parquet fixtures read as NTZ).

    Decomposes into date + time-of-day fields, so for an NTZ column the result
    is session-timezone-independent; for an LTZ column under the engine's
    pinned UTC session it equals ``unix_micros``. ``date_part('SECOND')``
    carries the microsecond fraction as an exact decimal.
    """
    if isinstance(c, str):
        c = F.col(c)
    return (
        F.unix_date(F.to_date(c)).cast("bigint") * F.lit(_US_PER_DAY)
        + F.hour(c).cast("bigint") * F.lit(3_600_000_000)
        + F.minute(c).cast("bigint") * F.lit(60_000_000)
        + (F.date_part(F.lit("SECOND"), c) * F.lit(1_000_000)).cast("bigint")
    )


def normalize_cols(cols: str | Sequence[str] | None) -> list[str]:
    """Accept a bare column name, a sequence of names, or None. A bare
    string would otherwise iterate character-by-character through
    ``Window.partitionBy(*cols)`` — a silent wrong-plan bug."""
    if cols is None:
        return []
    if isinstance(cols, str):
        return [cols]
    return list(cols)


#: session-level registry of pipeline-scoped persisted DataFrames — see
#: pipeline_cache(). One list for the whole package: a new pipeline's entry
#: point frees every cache the PREVIOUS pipeline left behind, bounding
#: executor storage over a long session (100+ sequential gate/bench queries)
#: instead of pinning every shared subtree until the session dies.
_PIPELINE_CACHES: list = []

#: when True, drop_stale_caches() is a no-op — see retain_pipeline_caches()
_RETAIN_CACHES = False


def _unpersist(df) -> None:
    """``df.unpersist()``, except that a frame whose SparkContext was
    stopped (which dropped every cache with it) is already released; any
    other failure propagates."""
    try:
        df.unpersist()
    except Py4JError:
        if df.sparkSession.sparkContext._jsc is not None:
            raise


def drop_stale_caches() -> None:
    """Unpersist DataFrames cached by PREVIOUS pipeline invocations.

    Contract: materialize (collect/write) a pipeline's result BEFORE
    constructing the next one — building two lazily and then acting on the
    first would find its intermediate cache already dropped (results stay
    correct; the shared-scan persist silently recomputes). Sequential
    single-pipeline usage is exactly what the driver gate and bench do."""
    if _RETAIN_CACHES:
        return
    while _PIPELINE_CACHES:
        _unpersist(_PIPELINE_CACHES.pop())


from contextlib import contextmanager  # noqa: E402


@contextmanager
def retain_pipeline_caches():
    """Scope in which pipelines run CONCURRENTLY: suspends the
    sequential-contract cache dropping (one in-flight pipeline would
    otherwise unpersist another's live shared subtree — results stay
    correct, the persist just silently recomputes) and releases every
    accumulated cache on exit. Storage is bounded by the scope's concurrent
    batch instead of a single pipeline — size the batch accordingly."""
    global _RETAIN_CACHES
    _RETAIN_CACHES = True
    try:
        yield
    finally:
        _RETAIN_CACHES = False
        drop_stale_caches()


def pipeline_cache(df):
    """``df.persist()`` (default MEMORY_AND_DISK — spills instead of
    evicting under pressure) registered for release by the NEXT pipeline's
    ``drop_stale_caches()``. Use for shared subtrees read by 2+ consumers
    (self-join sides, total+detail branches) whose lifetime is one query."""
    df = df.persist()
    _PIPELINE_CACHES.append(df)
    return df


def release_pipeline_cache(df) -> None:
    """Eagerly unpersist ONE pipeline-cached frame that a later loop round
    has superseded (r11, guide §5: iterative loops otherwise accumulate
    O(rounds × state-table) MEMORY_AND_DISK blocks; spill-safe but wasteful
    at 100 TB). Only call once every consumer of the frame's CONTENT has
    materialized — a recompute after release walks the frame's full
    lineage. No-op for frames not (or no longer) registered."""
    _unpersist(df)
    try:
        _PIPELINE_CACHES.remove(df)
    except ValueError:
        pass
