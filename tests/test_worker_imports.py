"""Spark Python workers import pyspark from its installed directory.

Every task and every Python Data Source planner call runs
`importlib.invalidate_caches()`, which makes each archive importer re-read
its zip's central directory; the Python processes a `get_spark` session
launches must therefore hold no zipimporter and no Spark archive on
`sys.path` (see tdigest_spark/_worker_site/sitecustomize.py)."""

import ast
import importlib.util
import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pyspark

HOOK_DIR = Path(__file__).resolve().parents[1] / "tdigest_spark" / "_worker_site"


def _load_hook():
    # under its own name, so loading it runs none of its start-up actions
    spec = importlib.util.spec_from_file_location(
        "worker_site_hook", HOOK_DIR / "sitecustomize.py"
    )
    hook = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(hook)
    return hook


hook = _load_hook()
_is_spark_archive = hook._is_spark_archive
without_spark_archives = hook.without_spark_archives


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


def test_planner_workers_import_pyspark_from_its_directory(spark, tmp_path):
    """The driver-side planner workers of a Python Data Source (read
    partitions, write, commit) are started by the JVM apart from the task
    daemon; they too import pyspark from its directory."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceWriter,
        InputPartition,
        WriterCommitMessage,
    )

    # nested, so they are pickled by value: workers cannot import tests/
    def record(out_dir, kind):
        import json
        import os
        import sys
        import zipimport

        import pyspark

        zips = sum(isinstance(v, zipimport.zipimporter)
                   for v in sys.path_importer_cache.values())
        with open(os.path.join(out_dir, f"{kind}.json"), "w") as f:
            json.dump([pyspark.__file__, zips, sys.orig_argv], f)

    class ProbeReader(DataSourceReader):
        def __init__(self, out_dir):
            self.out_dir = out_dir

        def partitions(self):
            record(self.out_dir, "read")
            return [InputPartition(0)]

        def read(self, partition):
            yield (1,)

    class ProbeWriter(DataSourceWriter):
        def __init__(self, out_dir):
            self.out_dir = out_dir

        def write(self, iterator):
            for _ in iterator:
                pass
            return WriterCommitMessage()

        def commit(self, messages):
            record(self.out_dir, "commit")

    class ProbeSource(DataSource):
        @classmethod
        def name(cls):
            return "worker_imports_probe"

        def schema(self):
            return "x int"

        def reader(self, schema):
            return ProbeReader(self.options["out"])

        def writer(self, schema, overwrite):
            record(self.options["out"], "write")
            return ProbeWriter(self.options["out"])

    spark.dataSource.register(ProbeSource)
    out = str(tmp_path)
    src = spark.read.format("worker_imports_probe").option("out", out).load()
    assert src.collect() == [(1,)]
    src.write.format("worker_imports_probe").mode("append").option("out", out).save()

    planners = {
        "read": "plan_data_source_read",
        "write": "write_into_data_source",
        "commit": "commit_data_source_write",
    }
    for kind, module in planners.items():
        pyspark_file, zips, argv = json.loads((tmp_path / f"{kind}.json").read_text())
        assert any(module in a for a in argv), (kind, argv)
        assert ".zip" not in pyspark_file and ".jar" not in pyspark_file, (kind, pyspark_file)
        assert zips == 0, (kind, zips)


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


def test_hook_runs_at_start_and_keeps_the_sitecustomize_it_shadows(tmp_path):
    shadowed = tmp_path / "site"
    shadowed.mkdir()
    marker = tmp_path / "marker"
    (shadowed / "sitecustomize.py").write_text(f"open({str(marker)!r}, 'w').close()\n")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([str(HOOK_DIR), str(shadowed)]))
    subprocess.run([sys.executable, "-c", "pass"], env=env, check=True)
    assert marker.exists()

    # a Spark archive on PYTHONPATH is gone before any program code runs
    marker.unlink()
    spark_zip = _zip(tmp_path / "pyspark.zip", "pyspark/__init__.py")
    env["PYTHONPATH"] = os.pathsep.join([spark_zip, str(HOOK_DIR), str(shadowed)])
    show = ("import sys, zipimport; print((sys.path, [k for k, v in "
            "sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]))")
    out = subprocess.run(
        [sys.executable, "-c", show], env=env, check=True, capture_output=True, text=True
    ).stdout
    path, zip_importers = ast.literal_eval(out)
    assert spark_zip not in path and str(HOOK_DIR) in path
    assert zip_importers == []
    assert marker.exists()
