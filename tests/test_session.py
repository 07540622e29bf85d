"""The worker daemon's archive prune: the rule on archives built in
``tmp_path`` (no Spark), and what a task on the shared session sees."""

from __future__ import annotations

import os
import zipfile

import py4j
import pyspark
import pytest

from pwir_zadanie_4_mapreduce_spark.worker_daemon import prune_archives, redundant

SITE = os.path.dirname(os.path.dirname(pyspark.__file__))


def _archive(path, members: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)
    return str(path)


def _package(name: str, version: str) -> dict[str, str]:
    return {
        f"{name}/__init__.py": "",
        f"{name}/version.py": f"__version__: str = '{version}'\n",
    }


def test_zip_only_package_is_kept(tmp_path):
    only = _archive(tmp_path / "only.zip", {"graft_zip_only_pkg/__init__.py": ""})
    assert not redundant(only, [SITE])


def test_version_skewed_pyspark_is_kept(tmp_path):
    skewed = _archive(tmp_path / "pyspark.zip", _package("pyspark", "0.0.1"))
    assert pyspark.__version__ != "0.0.1"
    assert not redundant(skewed, [SITE])


def test_jar_without_python_is_removed(tmp_path):
    jar = _archive(
        tmp_path / "spark-core.jar",
        {"META-INF/MANIFEST.MF": "Manifest-Version: 1.0\n", "org/Core.class": ""},
    )
    assert redundant(jar, [SITE])


def test_zip_of_installed_packages_is_removed(tmp_path):
    same = _archive(
        tmp_path / "lib.zip",
        {**_package("pyspark", pyspark.__version__), **_package("py4j", py4j.__version__)},
    )
    assert redundant(same, [SITE])


def test_unreadable_archive_is_kept(tmp_path):
    broken = tmp_path / "broken.zip"
    broken.write_text("not a zip")
    assert not redundant(str(broken), [SITE])


def test_prune_drops_only_redundant_entries_and_their_importers(tmp_path):
    same = _archive(tmp_path / "same.zip", _package("pyspark", pyspark.__version__))
    only = _archive(tmp_path / "only.zip", {"graft_zip_only_pkg/__init__.py": ""})
    missing = str(tmp_path / "python3xx.zip")
    path = [same, only, missing, SITE]
    cache = {
        same: "importer",
        os.path.join(same, "pyspark"): "importer",
        only: "importer",
        SITE: "finder",
    }
    assert prune_archives(path, cache) == [same, missing]
    assert path == [only, SITE]
    assert cache == {only: "importer", SITE: "finder"}


@pytest.mark.skipif(
    not os.path.isfile(pyspark.__file__) or not os.path.isfile(py4j.__file__),
    reason="pyspark or py4j is not installed unpacked, so the daemon keeps the archives",
)
def test_worker_imports_unpacked(spark):
    def report(_):
        import sys
        import zipimport

        import py4j
        import pyspark

        yield (
            sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()),
            [p for p in sys.path if p.lower().endswith((".zip", ".jar"))],
            pyspark.__file__,
            py4j.__file__,
        )

    [(zipimporters, archives, pyspark_file, py4j_file)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(report).collect()
    )
    assert zipimporters == 0
    assert archives == []
    assert os.path.isfile(pyspark_file)
    assert os.path.isfile(py4j_file)
