"""Interpreter-start hook for the Python processes Spark's JVM launches.

Spark puts pyspark.zip, the py4j source zip and spark-core's jar first on
the sys.path of every Python process it starts: the task daemon and its
workers, and the planner workers of Python Data Sources (reader
partitions, writer, commit, streaming sink). Each of them calls
`importlib.invalidate_caches()` per task or per call
(pyspark.worker_util.setup_spark_files), and on Python 3.11 that makes every
`zipimporter` re-read its archive's whole central directory: one importer
per pyspark sub-package imported from the zip, plus the jar's `org`
namespace that pickle/copy probe for Jython. That is 100-250 ms before any
program code runs. When pyspark and py4j also resolve from a directory,
this hook drops those archives at interpreter start, before pickle or
pyspark is imported; otherwise the path is left as it is.

`sources.tables.get_spark` puts this directory first on the PYTHONPATH the
JVM hands on, so `site` imports this module in place of any other
`sitecustomize`; the one it shadows is run afterwards. It stays
self-contained: importing `tdigest_spark` would load pyarrow into every
process.
"""

from __future__ import annotations

import importlib.util
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

    for key in [k for k in sys.path_importer_cache if dropped(k)]:
        del sys.path_importer_cache[key]
    sys.path[:] = kept


def _run_shadowed_sitecustomize() -> None:
    """Run the `sitecustomize` that this directory hides, if one comes later
    on sys.path (Debian's system Python ships one for apport)."""
    here = os.path.realpath(os.path.dirname(__file__))
    for i, entry in enumerate(sys.path):
        if os.path.realpath(entry or os.curdir) == here:
            spec = PathFinder.find_spec("sitecustomize", sys.path[i + 1 :])
            if spec is not None and spec.loader is not None:
                spec.loader.exec_module(importlib.util.module_from_spec(spec))
            return


if __name__ == "sitecustomize":  # imported by `site`, not loaded by a test
    _drop_spark_archives()
    _run_shadowed_sitecustomize()
