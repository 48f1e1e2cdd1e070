"""Sessions from ``get_spark`` run Python workers on the installed
pyspark, not on the archives Spark puts on the worker path."""

import importlib.util
import os
import re
import zipfile

import pytest

from dask_array_spark import session


def _shim():
    path = os.path.join(session._WORKER_DIR, "dask_array_spark_daemon.py")
    spec = importlib.util.spec_from_file_location("dask_array_spark_daemon", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_python_workers_import_installed_pyspark(spark):
    import pyspark

    def report(batches):
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark as worker_pyspark

        zips = [
            key
            for key, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)
        ]
        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {"file": [worker_pyspark.__file__], "zips": [zips]}
            )

    row = (
        spark.range(0, 12, 1, 1)
        .mapInArrow(report, "file string, zips array<string>")
        .collect()[0]
    )
    assert row["file"] == pyspark.__file__
    spark_archive = re.compile(r"pyspark\.zip|py4j-[^/]*-src\.zip|\.jar")
    assert [z for z in row["zips"] if spark_archive.search(z)] == []


def _zip(path, files):
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


def _package(root, version):
    pkg = root / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(f"__version__: str = '{version}'\n")
    return str(root)


@pytest.fixture
def spark_path(tmp_path):
    """A worker path as Spark builds it: the working directory, the
    pyspark and py4j zips, the spark-core jar, then a user archive."""
    lib = tmp_path / "lib"
    lib.mkdir()
    return [
        str(tmp_path / "cwd"),
        _zip(lib / "pyspark.zip", {"pyspark/version.py": "__version__: str = '9.1.2'\n"}),
        _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(lib / "spark-core_2.13-9.1.2.jar", {"pyspark/__init__.py": ""}),
        _zip(lib / "user.zip", {"mine.py": ""}),
    ]


def test_worker_path_drops_spark_archives_for_matching_install(spark_path, tmp_path):
    site = _package(tmp_path / "site", "9.1.2")
    path = spark_path + [site]
    assert _shim().worker_path(path) == [spark_path[0], spark_path[4], site]


def test_worker_path_keeps_archives_without_installed_pyspark(spark_path, tmp_path):
    site = tmp_path / "site"
    site.mkdir()
    path = spark_path + [str(site)]
    assert _shim().worker_path(path) == path


def test_worker_path_keeps_archives_on_version_mismatch(spark_path, tmp_path):
    path = spark_path + [_package(tmp_path / "site", "9.1.3")]
    assert _shim().worker_path(path) == path
