"""Python workers start from the installed pyspark, with no archive importer."""

import os
import zipfile

import pandas as pd
import pytest

from ferrobus_spark.pyworker import kept_paths


def test_workers_import_no_archive(spark):
    def probe(batches):
        import sys

        import pyspark

        for _ in batches:
            pass
        finders = sorted({type(f).__name__ for f in sys.path_importer_cache.values()})
        yield pd.DataFrame({"file": [pyspark.__file__], "finders": [",".join(finders)]})

    rows = spark.range(0, 400, 1, 4).mapInPandas(probe, "file string, finders string").collect()
    assert len(rows) == 4
    for r in rows:
        assert ".zip" not in r.file, r.file
        assert "zipimporter" not in r.finders.split(","), r.finders


def _package(root, name, version=None):
    os.makedirs(os.path.join(root, name))
    open(os.path.join(root, name, "__init__.py"), "w").close()
    if version:
        with open(os.path.join(root, name, "version.py"), "w") as f:
            f.write(f'__version__: str = "{version}"\n')


def _archive(path, version="4.1.2"):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return path


def _spark_paths(tmp_path, version="4.1.2"):
    lib = tmp_path / "lib"
    lib.mkdir()
    deps = str(lib / "deps.zip")
    with zipfile.ZipFile(deps, "w") as z:
        z.writestr("mylib/__init__.py", "")
    spark = [
        _archive(str(lib / "pyspark.zip"), version),
        _archive(str(lib / "py4j-0.10.9.9-src.zip")),
        _archive(str(lib / "spark-core_2.13-4.1.2.jar")),
    ]
    return [str(tmp_path / "app"), deps, *spark]


def test_drops_spark_archives_when_installed_pyspark_matches(tmp_path):
    site = tmp_path / "site"
    _package(str(site), "pyspark", "4.1.2")
    _package(str(site), "py4j")
    paths = [*_spark_paths(tmp_path), str(site)]
    assert kept_paths(paths) == [paths[0], paths[1], str(site)]


@pytest.mark.parametrize("installed, archive_version", [
    ({"py4j": None}, "4.1.2"),  # no installed pyspark
    ({"pyspark": "4.1.2"}, "4.1.2"),  # no installed py4j
    ({"pyspark": "4.1.2", "py4j": None}, "4.0.0"),  # versions differ
])
def test_keeps_every_entry_unless_installed_pyspark_matches(tmp_path, installed, archive_version):
    site = tmp_path / "site"
    for name, version in installed.items():
        _package(str(site), name, version)
    paths = [*_spark_paths(tmp_path, archive_version), str(site)]
    assert kept_paths(paths) == paths
