"""session.get_spark's worker daemon: the sys.path prune rule (on temporary
directories and zips, no Spark) and one Spark check that workers run
without Spark's archives."""

import os
import zipfile

import pandas as pd
import pytest

from karta_spark.worker_daemon import prune_spark_archives, top_level_packages

VERSION = b'__version__: str = "4.1.2"\n'


def _zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, data in members.items():
            z.writestr(name, data)
    return str(path)


def _tree(root, members):
    for name, data in members.items():
        full = root / name
        full.parent.mkdir(parents=True, exist_ok=True)
        full.write_bytes(data)
    return str(root)


def _layout(tmp_path, site_version=VERSION, site_pyspark=True):
    """Spark's three archives ahead of a site-packages directory."""
    spark_zip = _zip(tmp_path / "pyspark.zip", {
        "pyspark/__init__.py": b"", "pyspark/version.py": VERSION,
        "pyspark/sql/__init__.py": b""})
    py4j_zip = _zip(tmp_path / "py4j-src.zip", {"py4j/__init__.py": b""})
    jar = _zip(tmp_path / "spark-core.jar", {
        "META-INF/MANIFEST.MF": b"", "org/apache/spark/SparkContext.class": b""})
    site = {"py4j/__init__.py": b""}
    if site_pyspark:
        site.update({"pyspark/__init__.py": b"", "pyspark/version.py": site_version})
    site = _tree(tmp_path / "site-packages", site)
    path = [str(tmp_path / "cwd"), spark_zip, py4j_zip, jar, site]
    cache = {spark_zip: object(), spark_zip + "/pyspark": object(),
             jar: object(), jar + "/org": object(), site: object()}
    return path, cache


def test_top_level_packages():
    assert top_level_packages({"pyspark/__init__.py", "pyspark/sql/x.py",
                               "py4j/java_gateway.py"}) == {"pyspark", "py4j"}
    assert top_level_packages({"org/a.class", "META-INF/MANIFEST.MF"}) == set()
    assert top_level_packages({"six.py", "mylib/__init__.pyc"}) == {"six", "mylib"}


def test_matching_versions_drop_archives_and_cache_keys(tmp_path):
    path, cache = _layout(tmp_path)
    cwd, spark_zip, py4j_zip, jar, site = path
    assert prune_spark_archives(path, cache) == [spark_zip, py4j_zip, jar]
    assert path == [cwd, site]
    assert list(cache) == [site]


def test_different_version_leaves_path(tmp_path):
    path, cache = _layout(tmp_path, site_version=b'__version__: str = "4.0.0"\n')
    before, keys = list(path), set(cache)
    assert prune_spark_archives(path, cache) == []
    assert path == before and set(cache) == keys


def test_pyspark_only_in_archive_leaves_path(tmp_path):
    path, cache = _layout(tmp_path, site_pyspark=False)
    before, keys = list(path), set(cache)
    assert prune_spark_archives(path, cache) == []
    assert path == before and set(cache) == keys


def test_archive_with_another_package_is_kept(tmp_path):
    path, cache = _layout(tmp_path)
    user = _zip(tmp_path / "deps.zip", {
        "pyspark/__init__.py": b"", "pyspark/version.py": VERSION,
        "mylib/__init__.py": b""})
    path.append(user)
    cache[user] = object()
    cwd, spark_zip, py4j_zip, jar, site, _ = path
    assert prune_spark_archives(path, cache) == [spark_zip, py4j_zip, jar]
    assert path == [cwd, site, user]
    assert set(cache) == {site, user}


def test_workers_import_pyspark_without_spark_archives(spark):
    import pyspark

    if not os.path.isfile(pyspark.__file__):
        pytest.skip("the driver's pyspark is imported from an archive")
    archives = spark.sparkContext._jvm.PythonUtils.sparkPythonPath().split(os.pathsep)

    def probe(batches):
        import sys

        import pyspark

        for _ in batches:
            pass
        left = [k for k in sys.path_importer_cache
                if any(k == a or k.startswith(a + os.sep) for a in archives)]
        yield pd.DataFrame({"file": [pyspark.__file__], "left": [",".join(left)]})

    rows = spark.range(4, numPartitions=2).mapInPandas(
        probe, "file string, left string").collect()
    assert len(rows) == 2
    for r in rows:
        assert os.path.isfile(r.file), r.file
        assert r.left == "", r.left
