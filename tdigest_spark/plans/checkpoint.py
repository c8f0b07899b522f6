"""Checkpointed, resumable sketch builds with per-partition lineage.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". The unit of work is a *split* (file + row-group range, from
``operators.scan.parquet_splits``); each completed batch of splits writes
one parquet checkpoint file containing its serialized sketch states plus
lineage (paths, row groups, rows, values, wall_ms, attempt timestamps).
A resumed run lists the checkpoint dir, re-derives the full split set from
the (immutable) input, and schedules only the difference — then merges old
and new partial states into the final sketches.

A batch never spans two files: ``splits_per_batch`` chunks the splits of
one file at a time. Data files of a growing table (an Iceberg append)
carry random names, so they land anywhere in the sorted path list; were
batches cut across files, one appended file would re-key its own batch
and every batch after it, and a refresh would re-scan most of the table.
Per-file batches make the plan append-stable: an appended file adds only
its own batch keys and leaves every existing key alone. The plan is still
a pure function of the final file set, so a refresh after any sequence of
appends is byte-equal to a fresh build over the final snapshot.

A batch is built by the scan path's own split loop
(``operators.scan._ingest_splits``, which feeds ``aggregate.ingest_table``);
this module adds only the batch keying and the atomic checkpoint write. A
checkpointed build is therefore byte-equal to ``build_sketches_scan`` when
its batches hold the same split groups as the scan's partitions.

Why parquet files per task-batch (not a transactional table): states are
O(16 KB)-O(1 MB) blobs, writes are append-only and idempotent (file name =
``batch-<key>.parquet``, a deterministic batch key; a re-run of the same
batch overwrites the same file with identical content), and reads are a
single columnar scan. A run reads only its own plan's files, each once, so
stale batch files left by earlier plans cost nothing. At 1000-executor
scale the checkpoint table stays tiny (#batches rows), and restart cost
is O(completed work skipped).

The reference has no persistence at all (its closest notion is
toArray()/push_centroid re-ingest, /root/reference/tdigest.js:46-57,
93-100); checkpointing falls out of sketch mergeability: digest(all) =
merge(digest(done), digest(rest)).
"""

from __future__ import annotations

import hashlib
import json
import posixpath
import time
from itertools import groupby
from pathlib import Path
from typing import Any, Iterable

import pyarrow as pa

from ..operators.aggregate import SketchSpec, merge_partials
from ..operators.scan import _ingest_splits, _normalize_paths, parquet_splits
from . import fsio

__all__ = ["CheckpointedBuild"]


def _batch_key(splits: list) -> str:
    h = hashlib.sha256()
    for sp in splits:
        h.update(sp.path.encode())
        h.update(repr(sp.row_groups).encode())
    return h.hexdigest()[:16]


class CheckpointedBuild:
    """Resumable one-pass multi-sketch build over a parquet file set.

    >>> cb = CheckpointedBuild(ckpt_dir, {"td": ("tokens", TDIGEST(0.01))})
    >>> sketches = cb.run(spark, paths)          # first run: full build
    >>> sketches = cb.run(spark, paths)          # re-run: all cached, no scan
    After a mid-run failure, completed batches are skipped on resume.
    """

    def __init__(
        self,
        checkpoint_dir: str | Path,
        sketches: dict[str, tuple[str, SketchSpec]],
        target_rows_per_split: int = 2_000_000,
        splits_per_batch: int = 8,
    ) -> None:
        # path-or-URI: plain paths use the local filesystem (single node /
        # shared mount); hdfs:// s3:// gs:// URIs resolve via pyarrow.fs so
        # executors on a real cluster write to shared durable storage
        self.dir = str(checkpoint_dir)
        self.sketches = sketches
        self.names = list(sketches.keys())
        self.specs = {n: spec for n, (_, spec) in sketches.items()}
        self.target_rows_per_split = target_rows_per_split
        self.splits_per_batch = splits_per_batch

    # -- checkpoint table ---------------------------------------------------

    def completed(self, keys: Iterable[str] | None = None) -> dict[str, dict]:
        """batch_key -> stored row (states + lineage) for finished batches.

        With ``keys``, only the files ``batch-<key>.parquet`` of those keys
        are opened; without, every batch file in the directory is. An
        unreadable (torn) file counts as not finished."""
        out: dict[str, dict] = {}
        fs, root = fsio.fs_and_path(self.dir)
        present = [posixpath.basename(f) for f in fsio.list_files(fs, root)]
        if keys is None:
            names = [
                n for n in present
                if n.startswith("batch-") and n.endswith(".parquet")
            ]
        else:
            names = sorted(set(present) & {f"batch-{k}.parquet" for k in keys})
        for name in names:
            try:
                tbl = fsio.read_table(fs, fsio.join(root, name))
            except Exception:
                continue  # torn write of an in-flight batch: redo it
            for row in tbl.to_pylist():
                out[row["batch_key"]] = row
        return out

    def metrics(self) -> list[dict]:
        """Per-batch merge/lineage metrics for observability."""
        rows = []
        for key, row in sorted(self.completed().items()):
            lineage = json.loads(row["lineage"])
            rows.append(
                {
                    "batch_key": key,
                    "rows": row["rows"],
                    "values_seen": row["values_seen"],
                    "n_splits": len(lineage),
                    "wall_ms": row["wall_ms"],
                    "completed_at": row["completed_at"],
                }
            )
        return rows

    # -- execution ----------------------------------------------------------

    def _plan(self, paths: list[str]) -> list[tuple[str, list]]:
        # per-file batches: an appended file never re-keys another's batch
        batches = []
        for _, group in groupby(
            parquet_splits(paths, self.target_rows_per_split),
            key=lambda sp: sp.path,
        ):
            splits = list(group)
            batches += [
                splits[i : i + self.splits_per_batch]
                for i in range(0, len(splits), self.splits_per_batch)
            ]
        return [(_batch_key(b), b) for b in batches]

    def run(self, spark, paths: list[str] | str) -> dict[str, Any]:
        plan = self._plan(_normalize_paths(paths))
        done = self.completed([k for k, _ in plan])
        todo = [(k, b) for k, b in plan if k not in done]

        if todo:
            fs0, root0 = fsio.fs_and_path(self.dir)
            fsio.mkdirs(fs0, root0)
            names, sketch_map, out_dir = self.names, self.sketches, self.dir

            # one Spark partition per batch: the batch is the atomic unit of
            # checkpointing, so task success == batch file durably written
            def run_batch(batch: tuple[str, list]) -> str:
                key, splits = batch
                part = _ingest_splits(splits, sketch_map)
                # n_splits is not stored: it is derived from the lineage
                row = {
                    "batch_key": key,
                    "rows": part["rows"],
                    "values_seen": part["values_seen"],
                    "wall_ms": part["wall_ms"],
                    "completed_at": time.time(),
                    "lineage": json.dumps(part["lineage"]),
                }
                for n in names:
                    row[f"state_{n}"] = part[f"state_{n}"]
                # idempotent durable write: same batch -> same file name;
                # tmp + move so list-based readers never see torn files
                # (resolved per task: executor-side fs, works for URIs too)
                wfs, wroot = fsio.fs_and_path(out_dir)
                fsio.write_table_atomic(
                    pa.Table.from_pylist([row]), wfs, wroot,
                    f"batch-{key}.parquet",
                )
                # the durable file is the result; don't pickle ~MB of state
                # bytes back to the driver just to be discarded by count()
                return key

            sc = spark.sparkContext
            sc.parallelize(todo, len(todo)).map(run_batch).count()

            # merge only from what is durably on disk (the checkpoint is
            # the source of truth; a re-read also validates the files
            # round-trip): read back just the batches this job wrote
            done.update(self.completed([k for k, _ in todo]))

        # ONLY the current plan's batches are merged: the dir may hold stale
        # files from an earlier run with different paths/split params, and
        # merging everything in the dir would double-count those rows
        missing = [k for k, _ in plan if k not in done]
        if missing:
            raise RuntimeError(
                f"checkpoint incomplete: {len(missing)} batches missing"
            )
        all_rows = [done[k] for k, _ in plan]
        merged = merge_partials(all_rows, self.names, self.specs)
        return {n: self.specs[n].from_bytes(merged[n]) for n in self.names}
