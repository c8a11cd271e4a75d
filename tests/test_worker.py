"""The Python-worker import hook (``cqaduplicatefind_spark.worker``): a
``zipimporter`` re-reads its archive directory on ``invalidate_caches`` only
when the archive changed, and the hook is installed in the Python workers
that run the package's UDFs, never in the driver."""

from __future__ import annotations

import importlib
import importlib.machinery
import importlib.util
import os
import sys
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from cqaduplicatefind_spark import worker


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name in members:
            zf.writestr(name, f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """Without Spark: with the hook, ``invalidate_caches`` keeps the
    importer's directory (the same ``_files`` object) while the zip is
    unchanged, and re-reads it once the zip is rewritten with a new member.
    A non-zip finder keeps its own ``invalidate_caches`` and still sees a
    new module."""
    archive = tmp_path / "pkgs.zip"
    _write_zip(archive, ["old_mod.py"])
    importer = zipimport.zipimporter(str(archive))
    stock_file_finder = importlib.machinery.FileFinder.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    worker.install()
    assert zipimport.zipimporter.invalidate_caches is worker.invalidate_caches
    assert importlib.machinery.FileFinder.invalidate_caches is stock_file_finder

    importer.invalidate_caches()  # the first call reads and stamps
    files = importer._files
    for _ in range(3):
        importer.invalidate_caches()
        assert importer._files is files
    assert importer.find_spec("new_mod") is None

    _write_zip(archive, ["old_mod.py", "new_mod.py"])
    st = os.stat(archive)  # a rewrite within the clock tick still differs
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    importer.invalidate_caches()
    assert importer._files is not files
    assert importer.find_spec("new_mod") is not None

    # a removed archive cannot be stamped: the stock read runs and empties it
    archive.unlink()
    importer.invalidate_caches()
    assert importer._files == {}

    plain = tmp_path / "plain"
    plain.mkdir()
    monkeypatch.syspath_prepend(str(plain))
    importlib.invalidate_caches()
    assert importlib.util.find_spec("fresh_plain_mod") is None
    (plain / "fresh_plain_mod.py").write_text("X = 1\n")
    importlib.invalidate_caches()
    assert importlib.util.find_spec("fresh_plain_mod") is not None
    sys.modules.pop("fresh_plain_mod", None)


def test_hook_is_installed_in_workers_only(spark):
    """A pandas UDF reports, from its Python worker, which function
    ``zipimporter.invalidate_caches`` is there: the package's, installed by
    importing the package. The driver's stays the stock one."""

    @F.pandas_udf("string")
    def which(ids: pd.Series) -> pd.Series:
        import zipimport as zi

        import cqaduplicatefind_spark  # noqa: F401  (what unpickling a UDF does)

        fn = zi.zipimporter.invalidate_caches
        return pd.Series([f"{fn.__module__}.{fn.__qualname__}"] * len(ids))

    seen = {r[0] for r in spark.range(8, numPartitions=4).select(which("id")).collect()}
    assert seen == {"cqaduplicatefind_spark.worker.invalidate_caches"}
    fn = zipimport.zipimporter.invalidate_caches
    assert (fn.__module__, fn.__qualname__) == ("zipimport", "zipimporter.invalidate_caches")
