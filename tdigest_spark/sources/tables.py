"""Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md)
and session construction helpers."""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

__all__ = ["TABLES", "load_tables", "get_spark", "register_views"]


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    base = Path(sf_dir)
    out = {}
    for name in TABLES:
        p = base / f"{name}.parquet"
        if p.exists():
            out[name] = spark.read.parquet(str(p))
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def _export_protobuf_shim() -> None:
    """Make `google.protobuf` importable for JVM-launched python processes
    (transformWithStateInPandas's state-server protocol) via the repo's
    _pbshim package — must run BEFORE the JVM starts so the env inherits.
    No-op when protobuf is already installed or the shim can't provide it."""
    import importlib.util
    import sys

    def _has_pb() -> bool:
        try:
            return importlib.util.find_spec("google.protobuf") is not None
        except ModuleNotFoundError:  # no 'google' parent package at all
            return False

    if _has_pb():
        return
    shim = str(Path(__file__).resolve().parents[1] / "_pbshim")
    if not (Path(shim) / "google" / "__init__.py").exists():
        return
    if shim not in sys.path:
        sys.path.insert(0, shim)
    if not _has_pb():
        return  # SDK runtime absent: leave everything untouched
    _export_pythonpath(shim)


def _export_pythonpath(entry: str) -> None:
    """Put `entry` first on the PYTHONPATH that JVM-launched python processes
    inherit (once); must run before the JVM starts."""
    parts = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if entry not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([entry] + [p for p in parts if p])


def get_spark(
    master: str | None = None,
    app_name: str = "tdigest-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Session tuned for this engine: AQE on (runtime re-plan + skew join),
    Arrow transfer on, sane shuffle parallelism for local mode.

    Python workers fork from `tdigest_spark._daemon`, which imports pyspark
    from its installed directory instead of Spark's pyspark/py4j zips: every
    task calls `importlib.invalidate_caches()`, and each archive importer
    re-reads its zip's central directory there (120-250 ms per task on
    Python 3.11). The package's parent directory goes on the workers'
    PYTHONPATH so the daemon module resolves from any driver cwd."""
    _export_protobuf_shim()
    _export_pythonpath(str(Path(__file__).resolve().parents[2]))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] or local[N,maxFailures]; '*' means all cores
        local_n = (
            master.split("[")[-1].rstrip("]").split(",")[0]
            if "[" in master
            else cpus
        )
        shuffle_partitions = 32 if local_n == "*" else max(int(local_n), 8)
    return (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Python Data Source filter pushdown (sources/datasource.py plans
        # manifest-pruned scans from pushed comparison predicates)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # local mode runs every executor thread inside the driver JVM, so
        # this heap is the ENTIRE engine's memory: at 8g the 32 tasks of a
        # join-heavy suite share ~150MB of execution memory each and GC
        # pressure doubled the many-stage LSH query's latency (measured
        # 4.6s at 48g vs 9.2s at 8g in suite context). The sandbox has
        # 128 GiB; on a real cluster executor memory is set per-node.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "tdigest_spark._daemon")
        .getOrCreate()
    )
