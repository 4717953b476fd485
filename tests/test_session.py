"""Session helpers: the worker-side zip re-read skip and the Python-stage
width rule."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark import TaskContext

from smqtk_indexing_spark import session


@pytest.fixture
def skip_installed(monkeypatch):
    # install as a worker would; monkeypatch restores the original method
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))
    session.skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches._skips_unchanged


def test_unchanged_zip_keeps_directory_changed_zip_rereads(
    tmp_path, monkeypatch, skip_installed
):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zskip_first.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("zskip_first")
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    importlib.invalidate_caches()  # first call reads and records the stamp
    files = importer._files
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert importer._files is files

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("zskip_second.py", "Y = 2\n")
    importlib.invalidate_caches()
    assert importer._files is not files
    assert importlib.import_module("zskip_second").Y == 2
    for name in ("zskip_first", "zskip_second"):
        sys.modules.pop(name, None)


def test_missing_zip_is_still_reread(tmp_path, monkeypatch, skip_installed):
    archive = str(tmp_path / "gone.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zskip_gone.py", "Z = 3\n")
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    assert "zskip_gone.py" in importer._files
    os.remove(archive)
    importer.invalidate_caches()
    assert importer._files == {}


def test_skip_not_installed_on_driver():
    session.skip_unchanged_zip_rereads()
    assert not getattr(
        zipimport.zipimporter.invalidate_caches, "_skips_unchanged", False
    )


def test_skip_active_inside_task(spark):
    def probe(_):
        import zipimport

        import smqtk_indexing_spark  # noqa: F401  (what a UDF's pickle does)

        yield getattr(
            zipimport.zipimporter.invalidate_caches, "_skips_unchanged", False
        )

    flags = spark.sparkContext.parallelize(range(8), 4).mapPartitions(probe).collect()
    assert flags == [True] * 4


def test_python_stage_width(spark):
    cores = spark.sparkContext.defaultParallelism
    assert session.python_stage_width(spark) == cores
