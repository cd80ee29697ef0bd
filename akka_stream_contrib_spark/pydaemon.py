"""Python worker daemon: ``pyspark.daemon`` with a stat-checked zip cache.

Every Python task runs ``pyspark.worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``. On Python 3.11 that makes each
``zipimporter`` re-read its archive's whole central directory, and a worker
holds one importer per package inside ``pyspark.zip``, the py4j zip and the
spark-core jar: about 0.2 s per task, before any user code runs.

Run as ``python -m akka_stream_contrib_spark.pydaemon`` (``session.py``
names it in ``spark.python.daemon.module``), the daemon swaps in an
``invalidate_caches`` that re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` changed, then forks workers as
``pyspark.daemon`` does; the workers inherit the patch. Path finders and
importers for newly added zips are untouched. Nothing here imports pandas
or pyarrow or starts a thread before the fork.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
#: archive path -> stat stamp taken just before its cached directory was read
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self) -> None:
    """Reuse the cached directory of an unchanged archive; otherwise the
    stock re-read (a missing or broken archive drops its cache entry and
    leaves ``_files`` empty)."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    # taken BEFORE the read: a write racing the read leaves an old stamp,
    # which only forces one more re-read
    _stamps[self.archive] = stamp


#: the marker a worker reads to confirm it runs under this daemon
invalidate_caches.stat_checked = True


def install() -> None:
    """Patch ``zipimporter`` and stamp every archive imported so far."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
