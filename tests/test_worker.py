"""Stat-checked zip-directory invalidation in the Spark Python workers
(proj_4_spark/engine/worker.py)."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from proj_4_spark.engine import worker


def _write_zip(path, files: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)


@pytest.fixture
def counted_reads(monkeypatch):
    """Archive paths read by zipimport._read_directory, with the stdlib
    method restored and the wrapper's record emptied after the test."""
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(worker, "_read_at", {})
    return reads


def test_unchanged_zip_not_reread_changed_zip_reread(tmp_path, monkeypatch,
                                                      counted_reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zw_mod_a.py": "X = 1\n",
                         "zw_pkg/__init__.py": "",
                         "zw_pkg/sub.py": "Y = 1\n"})
    monkeypatch.syspath_prepend(archive)
    names = ("zw_mod_a", "zw_mod_b", "zw_pkg", "zw_pkg.sub", "zw_pkg.new")
    try:
        import zw_mod_a
        import zw_pkg.sub  # noqa: F401  second importer: lib.zip/zw_pkg
        assert worker.install()
        assert worker.install()  # idempotent
        assert worker.installed()

        importlib.invalidate_caches()  # first call reads once
        counted_reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in counted_reads

        # new size: re-read (once for both importers); new modules import
        _write_zip(archive, {"zw_mod_a.py": "X = 1\n",
                             "zw_mod_b.py": "Z = 3\n",
                             "zw_pkg/__init__.py": "",
                             "zw_pkg/sub.py": "Y = 1\n",
                             "zw_pkg/new.py": "W = 4\n"})
        importlib.invalidate_caches()
        assert counted_reads.count(archive) == 1
        assert importlib.import_module("zw_mod_b").Z == 3
        assert importlib.import_module("zw_pkg.new").W == 4

        # same size, new mtime: re-read, and the new text is what loads
        st = os.stat(archive)
        _write_zip(archive, {"zw_mod_a.py": "X = 2\n",
                             "zw_mod_b.py": "Z = 3\n",
                             "zw_pkg/__init__.py": "",
                             "zw_pkg/sub.py": "Y = 1\n",
                             "zw_pkg/new.py": "W = 4\n"})
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10 ** 9))
        assert os.stat(archive).st_size == st.st_size
        counted_reads.clear()
        importlib.invalidate_caches()
        assert counted_reads.count(archive) == 1
        assert importlib.reload(zw_mod_a).X == 2
    finally:
        for name in names:
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache
                    if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


def test_installed_in_worker_not_in_driver(spark):
    """Two one-task UDF jobs: the library's import on the worker installs
    the wrapper; the driver keeps the stdlib method."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    installed = worker.installed  # pickled by reference: imports the package

    @pandas_udf("boolean")
    def probe(s: pd.Series) -> pd.Series:
        return pd.Series([installed()] * len(s))

    for _ in range(2):
        got = spark.range(0, 4, 1, 1).select(probe("id").alias("w")) \
            .collect()
        assert all(r.w for r in got)
    assert not worker.installed()
