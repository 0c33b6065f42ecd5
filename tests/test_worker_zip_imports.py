"""Zip imports in a Spark Python worker re-read an archive's directory
only when the archive changed (``session._reread_zip_directories_on_change``).

* Without Spark: a zipimporter over a temporary archive, with the worker
  gate opened by patching ``TaskContext.get``; ``zipimport._read_directory``
  calls are counted while the archive stays, changes and goes away.
* Through Spark: a pandas UDF counts the directory reads of one
  ``importlib.invalidate_caches()`` inside the worker, as pyspark's
  per-task ``setup_spark_files`` makes it.
"""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.taskcontext import TaskContext

from geomatics_geotk_spark import session


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def reads(monkeypatch):
    """The archive paths ``zipimport._read_directory`` is called on; the
    class's ``invalidate_caches`` is restored when the test ends."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    calls, read = [], zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda path: calls.append(path) or read(path))
    return calls


def test_driver_import_leaves_zipimport_alone(reads):
    """The package is imported here, in the driver: no task, no wrap."""
    original = zipimport.zipimporter.invalidate_caches
    assert TaskContext.get() is None
    session._reread_zip_directories_on_change()
    assert zipimport.zipimporter.invalidate_caches is original
    assert not getattr(original, "on_change", False)


def test_archive_directory_reread_only_on_change(tmp_path, monkeypatch, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m_a"])
    importer = zipimport.zipimporter(archive)
    monkeypatch.setitem(sys.path_importer_cache, archive, importer)
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))

    session._reread_zip_directories_on_change()
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped.on_change
    session._reread_zip_directories_on_change()
    assert zipimport.zipimporter.invalidate_caches is wrapped

    reads.clear()
    importer.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    assert importer.find_spec("m_b") is None

    _write_zip(archive, ["m_a", "m_b"])
    importer.invalidate_caches()
    assert reads == [archive]
    assert importer.find_spec("m_b") is not None
    importer.invalidate_caches()
    assert reads == [archive]

    # an archive that cannot be stat'ed is re-read (and found empty) each time
    (tmp_path / "mods.zip").unlink()
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [archive] * 3
    assert importer.find_spec("m_a") is None


def test_worker_tasks_do_not_reread_archives(spark):
    @F.pandas_udf("struct<zip_importers:int,reads:int>")
    def directory_reads(x: pd.Series) -> pd.DataFrame:
        import importlib
        import sys
        import zipimport

        import geomatics_geotk_spark  # noqa: F401

        calls, read = [], zipimport._read_directory
        zipimport._read_directory = lambda path: calls.append(path) or read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        n_zip = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        return pd.DataFrame({"zip_importers": [n_zip] * len(x), "reads": [len(calls)] * len(x)})

    df = spark.range(0, 8, 1, 4).select(directory_reads("id").alias("r"))
    df.collect()
    second = [r["r"] for r in df.collect()]
    assert len(second) == 8
    assert all(r["zip_importers"] > 0 for r in second), second
    assert [r["reads"] for r in second] == [0] * 8, second
