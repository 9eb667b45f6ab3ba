"""The stat-guarded zip directory reload (zipcache.py): an unchanged archive
is not re-read on ``importlib.invalidate_caches()``, a rewritten one is, and
the guard is installed in PySpark workers only."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from sciencebeam_trainer_grobid_tools_spark import zipcache


def write_archive(path, modules):
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as archive:
        for name, source in modules.items():
            archive.writestr(name + ".py", source)
    os.replace(tmp, str(path))


@pytest.fixture
def guarded_archive(tmp_path, monkeypatch):
    """A zip on sys.path with one imported module, the guard installed (and
    removed again after the test) and one invalidation already done."""
    archive = tmp_path / "mods.zip"
    write_archive(archive, {"zc_mod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    for name in ("zc_mod_a", "zc_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zc_mod_a").VALUE == "a"
    zipcache.install()
    importlib.invalidate_caches()
    yield archive
    sys.path_importer_cache.pop(str(archive), None)


def test_unchanged_archive_is_not_reread(guarded_archive, monkeypatch):
    reads = []
    original = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(guarded_archive) not in reads


def test_rewritten_archive_imports_new_module(guarded_archive):
    write_archive(
        guarded_archive,
        {"zc_mod_a": "VALUE = 'a'\n", "zc_mod_b": "VALUE = 'b'\n"},
    )
    importlib.invalidate_caches()
    assert importlib.import_module("zc_mod_b").VALUE == "b"


def test_not_installed_in_spark_driver_process():
    code = (
        "import pyspark.sql\n"
        "import sciencebeam_trainer_grobid_tools_spark.plans.pipeline\n"
        "from sciencebeam_trainer_grobid_tools_spark import zipcache\n"
        "print(zipcache.is_installed())\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "False"


def test_installed_in_spark_worker():
    from sciencebeam_trainer_grobid_tools_spark.plans.session import build_session

    def probe(_):
        from sciencebeam_trainer_grobid_tools_spark import zipcache as worker_zipcache

        return worker_zipcache.is_installed()

    spark = build_session("zipcache-tests", cpus=2, shuffle_partitions=2)
    try:
        assert spark.sparkContext.parallelize([0, 1], 2).map(probe).collect() == [True, True]
    finally:
        spark.stop()
