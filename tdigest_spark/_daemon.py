"""Spark's Python daemon, started with pyspark imported from its directory.

Spark puts pyspark.zip, the py4j source zip and spark-core's jar first on
its workers' sys.path, and every task calls `importlib.invalidate_caches()`
(pyspark.worker_util.setup_spark_files). On Python 3.11 that makes each
`zipimporter` re-read its archive's whole central directory: one importer
per pyspark sub-package imported from the zip, plus the jar's `org`
namespace that pickle/copy probe for Jython. That is 120-250 ms of worker
time per task before any task code runs. When pyspark and py4j also resolve
from a directory, this daemon drops those archives before pyspark is
imported, so the workers it forks hold no archive importer; otherwise the
path is left as it is. `sources.tables.get_spark` selects this module as
`spark.python.daemon.module`.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder

_PACKAGES = ("pyspark", "py4j")


def _is_spark_archive(entry: str) -> bool:
    """A `.jar` path entry, or a zip that holds pyspark or py4j."""
    if entry.endswith(".jar"):
        return True
    try:
        with zipfile.ZipFile(entry) as z:
            names = set(z.namelist())
    except (OSError, zipfile.BadZipFile):  # a directory, no file, not a zip
        return False
    return any(f"{p}/__init__.py" in names for p in _PACKAGES)


def without_spark_archives(path: list[str]) -> list[str]:
    """`path` minus its `.jar` entries and the archives that hold pyspark or
    py4j, when both packages resolve from a directory on what remains;
    otherwise `path` unchanged."""
    kept = [e for e in path if not _is_spark_archive(e)]
    for pkg in _PACKAGES:
        spec = PathFinder.find_spec(pkg, kept)
        if spec is None or not spec.has_location:
            return list(path)
    return kept


def _drop_spark_archives() -> None:
    kept = without_spark_archives(sys.path)
    gone = tuple(e for e in sys.path if e not in kept)
    if not gone:
        return

    def dropped(p: str) -> bool:
        return any(p == g or p.startswith(g + os.sep) for g in gone)

    org = sys.modules.get("org")  # jar-backed namespace left by pickle's probe
    if org is not None and all(map(dropped, getattr(org, "__path__", [""]))):
        del sys.modules["org"]
    for key in [k for k in sys.path_importer_cache if dropped(k)]:
        del sys.path_importer_cache[key]
    sys.path[:] = kept


if __name__ == "__main__":
    _drop_spark_archives()
    from pyspark import daemon

    daemon.manager()
