"""The Python worker daemon's stat-checked zip cache: in process, an
unchanged archive keeps its cached directory, a rewritten one is re-read, a
deleted one empties; through a real worker, the task runs under the patch."""

from __future__ import annotations

import importlib.util
import zipfile
import zipimport

import pandas as pd

from akka_stream_contrib_spark import pydaemon


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_unchanged_archive_is_not_reread(tmp_path):
    arc = str(tmp_path / "lib.zip")
    _write_zip(arc, {"daemon_probe_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(arc)
    pydaemon.invalidate_caches(imp)
    files = imp._files
    pydaemon.invalidate_caches(imp)
    assert imp._files is files
    # a second importer on the same archive (one per package inside a zip)
    other = zipimport.zipimporter(arc)
    pydaemon.invalidate_caches(other)
    assert other._files is files


def test_rewritten_archive_is_reread_and_new_member_imports(tmp_path):
    arc = str(tmp_path / "lib.zip")
    _write_zip(arc, {"daemon_probe_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(arc)
    pydaemon.invalidate_caches(imp)
    files = imp._files
    _write_zip(arc, {"daemon_probe_a.py": "X = 1\n",
                     "daemon_probe_b.py": "Y = 2\n"})
    pydaemon.invalidate_caches(imp)
    assert imp._files is not files
    spec = imp.find_spec("daemon_probe_b")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2


def test_deleted_archive_empties_the_importer(tmp_path):
    arc = tmp_path / "lib.zip"
    _write_zip(arc, {"daemon_probe_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(str(arc))
    pydaemon.invalidate_caches(imp)
    arc.unlink()
    pydaemon.invalidate_caches(imp)
    assert imp._files == {}
    assert str(arc) not in zipimport._zip_directory_cache


def test_daemon_imports_no_pandas_and_starts_no_thread_before_fork():
    """What the daemon loads before it forks, every worker inherits: the
    package import under ``-m`` must stay free of pandas, pyarrow and
    threads."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = ("import sys, threading, pyspark.daemon; "
            "import akka_stream_contrib_spark.pydaemon as d; d.install(); "
            "print(sorted({'pandas', 'pyarrow'} & set(sys.modules)), "
            "threading.active_count())")
    out = subprocess.run([sys.executable, "-c", code], cwd=root,
                         capture_output=True, text=True, timeout=120,
                         check=True).stdout
    assert out.split() == ["[]", "1"]


def test_python_workers_run_under_the_daemon(spark):
    """The marker is set on the patched function itself: under ``-m`` the
    daemon's ``__module__`` is ``__main__``, so the name proves nothing."""
    def probe(batches):
        import zipimport
        for _ in batches:
            pass
        yield pd.DataFrame({"stat_checked": [bool(getattr(
            zipimport.zipimporter.invalidate_caches, "stat_checked", False))]})

    rows = (spark.range(1, numPartitions=1)
            .mapInPandas(probe, "stat_checked boolean").collect())
    assert [r.stat_checked for r in rows] == [True]
