"""Scan-in-worker sketch build: the parquet fast path.

Spark's JVM parquet reader decodes ``list<int32>`` token columns row-by-row
and re-serializes them over the Arrow IPC boundary to Python; measured here
that path moves ~4-12M tokens/s/core, while a pyarrow read of the very same
files inside the Python worker moves >100M tokens/s/core. Since a sketch
build is a full-scan aggregation whose partial phase needs only (a) column
pruning and (b) optional row-group predicate pushdown — both of which
pyarrow's parquet reader does natively — we let Spark schedule *splits*
(file + row-group ranges) and have each task read its split directly.

This is the same layout Petastorm/Daft-style Python-native readers use, and
it is exactly how the build scales on a real cluster: splits are generated
from parquet metadata (driver-side, O(#row-groups)), distributed via
``sc.parallelize``, and each executor core streams its row groups through
the vectorized sketch kernels. No JVM row materialization, no shuffle of raw
data — the only traffic is #splits x O(16 KB) serialized sketch states plus
per-split lineage metrics (per BASELINE.json north_rule).

Every split goes through the single batch-ingest kernel
``aggregate.ingest_table`` — the same kernel that ``aggregate.partials_df``
runs on each Arrow batch and ``plans.checkpoint`` runs through
``_ingest_splits``; the front ends differ only in how Arrow data arrives.
The general DataFrame path (``aggregate.partials_df``) remains the right
choice when the input is already a transformed DataFrame; this module is the
performance path for sketching columns straight off a parquet/Iceberg table.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any, Iterable, Iterator

from .aggregate import (
    SketchSpec,
    _sketch_columns,
    fold_states,
    ingest_grouped,
    ingest_table,
    merge_partials,
)

__all__ = [
    "parquet_splits",
    "scan_partials_rdd",
    "build_sketches_scan",
    "build_sketch_grouped_scan",
]


@dataclass(frozen=True)
class _Split:
    path: str
    row_groups: tuple[int, ...]
    rows: int


def _normalize_paths(paths: list[str] | str) -> list[str]:
    import glob
    import os

    if isinstance(paths, str):
        p = paths
        return (
            sorted(glob.glob(os.path.join(p, "*.parquet")))
            if os.path.isdir(p)
            else [p]
        )
    return list(paths)


def parquet_splits(
    paths: list[str], target_rows_per_split: int = 2_000_000
) -> list[_Split]:
    """Split a parquet file set into row-group-aligned scan units.

    Small files become one split each; files with many row groups are split
    so each task gets ~target_rows_per_split rows (keeps tasks balanced even
    when file sizes are skewed — explicit skew handling per the north_rule).
    """
    import pyarrow.parquet as pq

    splits: list[_Split] = []
    for p in paths:
        md = pq.ParquetFile(p).metadata
        groups = [(i, md.row_group(i).num_rows) for i in range(md.num_row_groups)]
        cur: list[int] = []
        cur_rows = 0
        for i, nrows in groups:
            cur.append(i)
            cur_rows += nrows
            if cur_rows >= target_rows_per_split:
                splits.append(_Split(p, tuple(cur), cur_rows))
                cur, cur_rows = [], 0
        if cur:
            splits.append(_Split(p, tuple(cur), cur_rows))
    return splits


def _read_split(sp: _Split, cols: list[str], filter_expr: Any | None = None):
    """One split's columns as an Arrow table; ``filter_expr`` (a
    ``pyarrow.dataset`` expression) prunes row groups by their stats and
    filters rows while decoding."""
    if filter_expr is not None:
        import pyarrow.dataset as pads

        frag = list(pads.dataset(sp.path, format="parquet").get_fragments())[0]
        # dataset-level split: take only this split's row groups
        return frag.subset(row_group_ids=list(sp.row_groups)).to_table(
            columns=cols, filter=filter_expr, use_threads=False
        )
    import pyarrow.parquet as pq

    # use_threads=False: each of the ~cores concurrent worker processes
    # gets a cores-sized Arrow CPU pool by default — cores^2 runnable
    # threads; measured 4-14x slower than single-threaded decode per task
    # at local[32]
    return pq.ParquetFile(sp.path).read_row_groups(
        list(sp.row_groups), columns=cols, use_threads=False
    )


def _ingest_splits(
    splits: Iterable[_Split],
    sketches: dict[str, tuple[str, SketchSpec]],
    filter_expr: Any | None = None,
) -> dict:
    """Stream splits through ``aggregate.ingest_table`` into ONE state per
    sketch: the split loop of both the scan path and checkpointed builds.

    Returns the partial row: ``rows``, ``values_seen``, ``n_splits``,
    ``wall_ms``, per-split ``lineage`` (path, row groups, rows, wall_ms)
    and a serialized ``state_<name>`` per sketch."""
    cols = _sketch_columns(sketches)
    sks = {n: spec.make() for n, (_, spec) in sketches.items()}
    rows = values_seen = 0
    lineage: list[dict] = []
    t_part = time.perf_counter()
    for sp in splits:
        t0 = time.perf_counter()
        tbl = _read_split(sp, cols, filter_expr)
        values_seen += ingest_table(sks, sketches, tbl)
        rows += tbl.num_rows
        lineage.append(
            {
                "path": sp.path,
                "row_groups": list(sp.row_groups),
                "rows": tbl.num_rows,
                "wall_ms": (time.perf_counter() - t0) * 1000.0,
            }
        )
    out = {
        "rows": rows,
        "values_seen": values_seen,
        "n_splits": len(lineage),
        "wall_ms": (time.perf_counter() - t_part) * 1000.0,
        "lineage": lineage,
    }
    for n, sk in sks.items():
        out[f"state_{n}"] = sk.to_bytes()
    return out


def scan_partials_rdd(
    spark,
    paths: list[str],
    sketches: dict[str, tuple[str, SketchSpec]],
    target_rows_per_split: int = 2_000_000,
    filter_expr: Any | None = None,
    partitions: int | None = None,
):
    """RDD of per-partition partial rows (see ``_ingest_splits``): dicts
    with serialized states + per-split lineage.

    Each Spark partition holds several splits (default 4 x cores waves for
    balance); the task streams every split through the kernel and emits ONE
    merged state set, so collected/shuffled bytes are O(partitions x
    state_size) regardless of split count — the CMS matrix (the largest
    state) would otherwise dominate the fan-in. A partition without splits
    emits nothing.

    ``filter_expr`` is a ``pyarrow.dataset`` expression pushed down into the
    parquet read (row-group stats pruning + decode-time filtering).
    """
    splits = parquet_splits(paths, target_rows_per_split)

    def run_partition(it: Iterator[_Split]) -> Iterator[dict]:
        mine = list(it)
        if mine:
            yield _ingest_splits(mine, sketches, filter_expr)

    sc = spark.sparkContext
    if partitions is None:
        partitions = min(len(splits), sc.defaultParallelism * 4)
    return sc.parallelize(splits, max(partitions, 1)).mapPartitions(
        run_partition
    )


def build_sketches_scan(
    spark,
    paths: list[str] | str,
    sketches: dict[str, tuple[str, SketchSpec]],
    target_rows_per_split: int = 2_000_000,
    filter_expr: Any | None = None,
    partitions: int | None = None,
) -> dict[str, Any]:
    """One-pass multi-sketch build reading parquet directly in the workers.

    Returns deserialized final sketch objects keyed by name. Bit-identical
    to ``aggregate.build_sketches`` over the same rows (deterministic
    sort-based merge; verified in tests/test_scan_path.py).
    """
    paths = _normalize_paths(paths)
    names = list(sketches.keys())
    specs = {n: spec for n, (_, spec) in sketches.items()}
    rows = scan_partials_rdd(
        spark, paths, sketches, target_rows_per_split, filter_expr, partitions
    ).collect()
    merged = merge_partials(rows, names, specs)
    return {n: specs[n].from_bytes(merged[n]) for n in names}


def build_sketch_grouped_scan(
    spark,
    paths: list[str] | str,
    group_col: str,
    column: str,
    spec: SketchSpec,
    target_rows_per_split: int = 2_000_000,
    partitions: int | None = None,
) -> dict[str | None, Any]:
    """Grouped sketch build on the scan-in-worker fast path, in ONE Spark
    stage.

    Each task reads its row-group splits with pyarrow and feeds every split
    to the shared key split ``aggregate.ingest_grouped`` — the one the
    DataFrame grouped build uses too (null elements and null list rows
    contribute nothing). The task keeps ONE sketch per key for its whole
    partition and returns only (key, state) pairs — #partitions x #keys x
    O(state) bytes, never rows.

    The pairs are collected and folded per key on the driver with
    ``fold_states`` (byte-sorted, so the result is independent of task
    order). There is no shuffle: a reduce stage would pay Spark's fixed
    Python-stage cost only to fold a handful of small states. That makes
    this function for LOW-cardinality keys only (source, language, shard):
    the driver holds every (key, state) pair at once. High-cardinality
    grouping belongs to ``aggregate.build_sketch_grouped``, whose per-key
    merge runs in a shuffle.

    Returns {key: sketch object}: keys are stringified, and a null key is
    its own group under the key ``None`` (as ``build_sketch_grouped``
    keeps it)."""
    paths = _normalize_paths(paths)
    splits = parquet_splits(paths, target_rows_per_split)

    def run_partition(it: Iterator[_Split]) -> Iterator[tuple[str | None, bytes]]:
        one = {"v": (column, spec)}
        groups: dict = {}
        for sp in it:
            ingest_grouped(groups, one, _read_split(sp, [group_col, column]), [group_col])
        for (k,), g in groups.items():
            yield (None if k is None else str(k), g.sks["v"].to_bytes())

    sc = spark.sparkContext
    if partitions is None:
        partitions = min(len(splits), sc.defaultParallelism * 4)
    pairs = (
        sc.parallelize(splits, max(partitions, 1))
        .mapPartitions(run_partition)
        .collect()
    )
    by_key: dict[str | None, list[bytes]] = {}
    for key, state in pairs:
        by_key.setdefault(key, []).append(state)
    return {k: spec.from_bytes(fold_states(v, spec)) for k, v in by_key.items()}
