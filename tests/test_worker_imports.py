"""Spark Python workers import pyspark from its installed directory.

Every task calls `importlib.invalidate_caches()`, which makes each archive
importer re-read its zip's central directory; workers started through
`get_spark` must therefore hold no zipimporter and no Spark archive on
`sys.path` (see tdigest_spark/_daemon.py)."""

import zipfile
from pathlib import Path

import pyspark

from tdigest_spark._daemon import _is_spark_archive, without_spark_archives


def test_worker_imports_pyspark_from_its_directory(spark):
    # nested, so it is pickled by value: workers cannot import tests/
    def worker_imports(_):
        import sys
        import zipimport

        import pyspark

        yield (
            pyspark.__file__,
            list(sys.path),
            sorted(k for k, v in sys.path_importer_cache.items()
                   if isinstance(v, zipimport.zipimporter)),
        )

    [(pyspark_file, path, zip_importers)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(worker_imports).collect()
    )
    assert ".zip" not in pyspark_file and ".jar" not in pyspark_file, pyspark_file
    assert zip_importers == []
    assert [e for e in path if _is_spark_archive(e)] == []


def _zip(path, *names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(name, "")
    return str(path)


def test_path_filter_drops_only_spark_archives(tmp_path):
    site = str(Path(pyspark.__file__).parents[1])  # the directory install
    spark_zip = _zip(tmp_path / "pyspark.zip", "pyspark/__init__.py")
    py4j_zip = _zip(tmp_path / "py4j-src.zip", "py4j/__init__.py")
    user_zip = _zip(tmp_path / "deps.zip", "mylib/__init__.py")
    jar = _zip(tmp_path / "spark-core.jar", "org/apache/Spark.class")
    stdlib_zip = _zip(tmp_path / "python311.zip", "encodings/__init__.py")
    path = [str(tmp_path), spark_zip, py4j_zip, jar, user_zip, stdlib_zip, site]
    assert without_spark_archives(path) == [str(tmp_path), user_zip, stdlib_zip, site]

    # no directory install of pyspark: the path comes back unchanged
    bare = [spark_zip, py4j_zip, jar, user_zip, stdlib_zip]
    assert without_spark_archives(bare) == bare
