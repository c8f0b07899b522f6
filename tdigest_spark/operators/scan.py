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

The general DataFrame path (``aggregate.partials_df``) remains the right
choice when the input is already a transformed DataFrame; this module is the
performance path for sketching columns straight off a parquet/Iceberg table.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any, Iterator

import numpy as np

from .aggregate import (
    SketchSpec,
    _column_values,
    fold_states,
    merge_partials,
    sorted_and_agg,
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


def scan_partials_rdd(
    spark,
    paths: list[str],
    sketches: dict[str, tuple[str, SketchSpec]],
    target_rows_per_split: int = 2_000_000,
    filter_expr: Any | None = None,
    partitions: int | None = None,
):
    """RDD of per-partition partial rows: dicts with serialized states +
    per-split lineage.

    Each Spark partition holds several splits (default 4 x cores waves for
    balance); the task streams every split through the kernels and emits ONE
    merged state set, so collected/shuffled bytes are O(partitions x
    state_size) regardless of split count — the CMS matrix (the largest
    state) would otherwise dominate the fan-in.

    ``filter_expr`` is a ``pyarrow.dataset`` expression pushed down into the
    parquet read (row-group stats pruning + decode-time filtering).
    """
    splits = parquet_splits(paths, target_rows_per_split)
    names = list(sketches.keys())
    specs = {n: spec for n, (_, spec) in sketches.items()}
    col_of = {n: c for n, (c, _) in sketches.items()}
    cols = sorted({c for c, _ in sketches.values()})

    def run_partition(it: Iterator[_Split]) -> Iterator[dict]:
        import pyarrow.dataset as pads
        import pyarrow.parquet as pq

        sks = {n: specs[n].make() for n in names}
        rows = 0
        values_seen = 0
        lineage: list[dict] = []
        t_part = time.perf_counter()
        for sp in it:
            t0 = time.perf_counter()
            sp_rows = 0
            if filter_expr is not None:
                frag = pads.dataset(sp.path, format="parquet")
                # dataset-level split: take only this split's row groups
                frag = list(frag.get_fragments())[0].subset(
                    row_group_ids=list(sp.row_groups)
                )
                tbl = frag.to_table(
                    columns=cols, filter=filter_expr, use_threads=False
                )
            else:
                # use_threads=False: each of the ~cores concurrent worker
                # processes gets a cores-sized Arrow CPU pool by default —
                # cores^2 runnable threads; measured 4-14x slower than
                # single-threaded decode per task at local[32]
                tbl = pq.ParquetFile(sp.path).read_row_groups(
                    list(sp.row_groups), columns=cols, use_threads=False
                )
            sp_rows += tbl.num_rows
            cache: dict[str, np.ndarray] = {}
            sort_cache: dict[str, np.ndarray] = {}
            agg_cache: dict[str, tuple[np.ndarray, np.ndarray]] = {}
            for c in cols:
                # the DataFrame path's extractor: the two builds are
                # asserted bit-identical, so null handling must not diverge
                cache[c] = _column_values(tbl.column(c))
                values_seen += cache[c].shape[0]
                # token columns are duplicate-heavy: ONE sort per column
                # feeds everything — unique+counts fall out linearly for
                # the agg-capable sketches, and sort-tolerant sketches
                # (KLL) consume the sorted array directly. Without this,
                # every sketch re-sorted the same values independently.
                if cache[c].dtype.kind in "iub" and cache[c].shape[0]:
                    wants_agg = any(
                        specs[n].update_agg is not None
                        for n in names
                        if col_of[n] == c
                    )
                    wants_sorted = any(
                        specs[n].update_sorted is not None
                        for n in names
                        if col_of[n] == c
                    )
                    sv, agg = sorted_and_agg(
                        cache[c], wants_agg, wants_sorted
                    )
                    if sv is not None:
                        sort_cache[c] = sv
                    if agg is not None:
                        agg_cache[c] = agg
            for n in names:
                c = col_of[n]
                vals = cache[c]
                if not vals.shape[0]:
                    continue
                if specs[n].update_agg is not None and c in agg_cache:
                    uv, uc = agg_cache[c]
                    specs[n].update_agg(sks[n], uv, uc)
                elif specs[n].update_sorted is not None and c in sort_cache:
                    specs[n].update_sorted(sks[n], sort_cache[c])
                else:
                    specs[n].update(sks[n], vals)
            rows += sp_rows
            lineage.append(
                {
                    "path": sp.path,
                    "row_groups": list(sp.row_groups),
                    "rows": sp_rows,
                    "wall_ms": (time.perf_counter() - t0) * 1000.0,
                }
            )
        if not lineage:
            return
        out = {
            "rows": rows,
            "values_seen": values_seen,
            "n_splits": len(lineage),
            "wall_ms": (time.perf_counter() - t_part) * 1000.0,
            "lineage": lineage,
        }
        for n in names:
            out[f"state_{n}"] = sks[n].to_bytes()
        yield out

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

    Each task reads its row-group splits with pyarrow, dictionary-encodes
    the key column, stable-argsorts the integer codes and reorders the value
    column once with Arrow ``take``; each key's rows are then one contiguous
    slice, extracted with the shared ``_column_values`` (null elements and
    null list rows contribute nothing) and fed to the spec's update. The
    task keeps ONE sketch per key for its whole partition and returns only
    (key, state) pairs — #partitions x #keys x O(state) bytes, never rows.

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
        import pyarrow as pa
        import pyarrow.parquet as pq

        sks: dict[str | None, Any] = {}
        for sp in it:
            tbl = pq.ParquetFile(sp.path).read_row_groups(
                list(sp.row_groups), columns=[group_col, column],
                use_threads=False,
            )
            if tbl.num_rows == 0:
                continue  # empty part file -> empty split (valid input)
            keys = tbl.column(group_col).combine_chunks()
            if pa.types.is_dictionary(keys.type):  # e.g. written from categoricals
                keys = keys.dictionary_decode()
            # null_encoding="encode": a null key gets its own dictionary
            # entry, so it groups like any other key
            enc = keys.dictionary_encode(null_encoding="encode")
            codes = enc.indices.to_numpy(zero_copy_only=False)
            # stable: each key's rows keep their file order, so its sketch
            # sees the same value sequence as a plain per-key scan
            order = np.argsort(codes, kind="stable")
            sorted_codes = codes[order]
            bounds = np.flatnonzero(
                np.r_[True, sorted_codes[1:] != sorted_codes[:-1]]
            )
            bounds = np.r_[bounds, len(sorted_codes)]
            grouped = tbl.column(column).combine_chunks().take(order)
            dict_keys = enc.dictionary.to_pylist()
            for lo, hi in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
                k = dict_keys[sorted_codes[lo]]
                key = None if k is None else str(k)
                if key not in sks:
                    sks[key] = spec.make()
                vals = _column_values(grouped.slice(lo, hi - lo))
                if not vals.shape[0]:
                    continue
                if spec.update_agg is not None and vals.dtype.kind in "iub":
                    _, agg = sorted_and_agg(vals, True, False)
                    spec.update_agg(sks[key], *agg)
                else:
                    spec.update(sks[key], vals)
        for key, sk in sks.items():
            yield (key, sk.to_bytes())

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
