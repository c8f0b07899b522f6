"""`iceberg_static` — a PySpark (4.x) Python Data Source for this repo's
static Iceberg tables: batch read, batch write, stream read, stream write.

The static reader (sources/iceberg.py) plans scans from manifest metadata
in pure Python. This module surfaces it through Spark's OWN extension
point — the Python Data Source API — so a static Iceberg table reads as

    spark.dataSource.register(IcebergStaticDataSource)
    spark.read.format("iceberg_static").option("path", root).load()

with the two halves in their proper places:

* **planning** (driver): ``pushFilters`` captures the query's comparison
  predicates, ``partitions()`` turns them into a FILE-PRUNED scan plan via
  ``iceberg_scan_paths_pruned`` (manifest column stats + hidden-partition
  transforms — no parquet footer opened), one InputPartition per surviving
  data file, so Spark's task count is the pruned file count;
* **execution** (workers): ``read()`` streams each file's row groups as
  Arrow RecordBatches via pyarrow (``use_threads=False`` — a per-process
  default thread pool inside ~cores concurrent python workers is cores²
  runnable threads, CLAUDE.md), Spark's Arrow ingestion takes them
  zero-copy.

Every captured filter is ALSO returned as residual (the API's partial-
pushdown contract): pruning is planning-level only, Spark re-evaluates the
predicate row-level — the same split a production engine uses, and the
reason pruning can never change results. Snapshot pinning: ``partitions()``
resolves the snapshot AT PLAN TIME, so a concurrent commit between plan
and execution cannot tear the read (options: ``snapshot_id`` time-travels
explicitly).

The WRITE side maps the API's two-phase contract onto Iceberg's actual
commit architecture (exactly how iceberg-spark itself splits the work):

* each task's ``write()`` streams its partition's Arrow batches into ONE
  parquet data file under ``data/`` with a task-ATTEMPT-unique name (a
  zombie attempt's file is never referenced — its commit message is
  discarded — and never collides with the retry's) and returns the path;
* the driver's ``commit(messages)`` performs the single atomic metadata
  commit (``append_snapshot`` / ``overwrite_snapshot``) referencing
  exactly the successful attempts' files; ``abort()`` unlinks them. An
  empty task writes NO file (Spark's native sinks emit zero-row part
  files; a manifest must not reference one).

``df.writeStream.format("iceberg_static")`` is the streaming sink:
``commit(messages, batchId)`` keys the snapshot id off the epoch and
skips (deleting the redelivered files) when that snapshot already exists
— at-least-once delivery + idempotent commit = exactly-once table state.

``spark.readStream.format("iceberg_static")`` is the streaming SOURCE:
offsets are snapshot ids, ``partitions(start, end)`` plans the
incremental files ADDED in ``(start, end]`` via
``iceberg_incremental_paths``, and workers stream them with the same
Arrow path as the batch read — a distributed CDC-style tail of the table.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path
from typing import Optional

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

__all__ = [
    "IcebergStaticDataSource",
    "AvroLiteDataSource",
    "arrow_schema_to_ddl",
]

_OPS = {
    EqualTo: "==",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


def arrow_schema_to_ddl(schema) -> str:
    """Spark DDL string for a parquet/Arrow schema (the subset of types
    this repo's tables use; extend as needed)."""
    import pyarrow as pa

    def one(t) -> str:
        if pa.types.is_int64(t):
            return "long"
        if pa.types.is_int32(t) or pa.types.is_int16(t) or pa.types.is_int8(t):
            return "int"
        if pa.types.is_float64(t):
            return "double"
        if pa.types.is_float32(t):
            return "float"
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return "string"
        if pa.types.is_boolean(t):
            return "boolean"
        if pa.types.is_binary(t) or pa.types.is_large_binary(t):
            return "binary"
        if pa.types.is_timestamp(t):
            return "timestamp_ntz" if t.tz is None else "timestamp"
        if pa.types.is_date(t):
            return "date"
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return f"array<{one(t.value_type)}>"
        raise TypeError(f"unsupported arrow type {t}")

    return ", ".join(f"{f.name} {one(f.type)}" for f in schema)


class _FilePartition(InputPartition):
    """One data file plus the deletes that apply to it (resolved at PLAN
    time against the pinned snapshot): ``positions`` are its tombstoned
    row positions, sorted — DVs and v2 position deletes merged on the
    driver by ``iceberg.tombstones``; ``eq_deletes`` are ``(path,
    key_map)`` pairs — equality-delete parquets whose sequence number is
    STRICTLY GREATER than this file's (the spec rule — a key re-inserted by
    a later append survives), with the field-id rename map that projects
    their key columns onto the table's current schema. ``mapping`` is the
    file's own field-id projection onto the current schema (``None`` for
    schema-less tables: raw batches)."""

    def __init__(self, path: str, positions=(), eq_deletes=(), mapping=None):
        self.path = path
        self.positions = tuple(positions)
        self.eq_deletes = tuple(eq_deletes)
        self.mapping = mapping


def _read_parquet_batches(path: str):
    """Worker-side Arrow streaming of one data file (single-threaded: a
    per-process default pool inside ~cores python workers is cores²
    runnable threads)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    yield from pf.iter_batches(use_threads=False)


def _arrow_type(ice_t: str):
    """Arrow type for an Iceberg primitive (the tracked-schema subset)."""
    import pyarrow as pa

    return {
        "boolean": pa.bool_(),
        "int": pa.int32(),
        "long": pa.int64(),
        "float": pa.float32(),
        "double": pa.float64(),
        "string": pa.string(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us"),
        "binary": pa.binary(),
    }[ice_t]


def _project_batch(batch, mapping):
    """Apply a field-id evolution mapping ``[(current_name, iceberg_type,
    source_name|None)]`` to one Arrow batch: rename by field id, NULL-fill
    added columns, cast promotions (int->long). Identity mappings return
    the batch untouched (the common unevolved case — zero copies)."""
    import pyarrow as pa

    fields = [(name, _arrow_type(t)) for name, t, _ in mapping]
    target = pa.schema(fields)
    if batch.schema == target and all(src == name for name, _, src in mapping):
        return batch
    arrays = []
    for (name, at), (_, _, src) in zip(fields, mapping):
        idx = -1 if src is None else batch.schema.get_field_index(src)
        if idx < 0:
            arrays.append(pa.nulls(batch.num_rows, at))
        else:
            col = batch.column(idx)
            arrays.append(col if col.type == at else col.cast(at))
    return pa.RecordBatch.from_arrays(arrays, schema=target)


def _resolve_key_table(path: str, key_map):
    """Read an equality-delete key file and project its columns onto the
    CURRENT schema via the field-id rename map recorded at plan time. A
    key column the current schema no longer carries cannot be resolved —
    raise rather than silently resurrect rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    k = pq.read_table(path, use_threads=False)
    if key_map is None:
        return k
    names, cols = [], []
    for name in k.column_names:
        if name not in key_map:
            raise ValueError(
                f"equality delete {path!r} keys on column {name!r} which "
                "the current schema no longer carries"
            )
        tgt, ice_t = key_map[name]
        at = _arrow_type(ice_t)
        col = k.column(name)
        cols.append(col if col.type == at else col.cast(at))
        names.append(tgt)
    return pa.table(cols, names=names)


def _read_partition_mor(partition: _FilePartition):
    """Merge-on-read of one data file: drop this file's tombstoned ROW
    POSITIONS (position deletes are per original row index, so they apply
    BEFORE anything reorders rows), project onto the current schema by
    field id, then anti-join each batch against the applicable
    equality-delete key sets (themselves field-id-resolved, so evolution
    composes). Equality-delete key sets are tiny next to the data they
    tombstone — per-task re-reads are the same cost shape as the broadcast
    a JVM Iceberg planner uses."""
    import numpy as np
    import pyarrow as pa

    pos = np.asarray(partition.positions, dtype=np.int64)
    keys = [
        _resolve_key_table(dp, key_map) for dp, key_map in partition.eq_deletes
    ]
    offset = 0
    for batch in _read_parquet_batches(partition.path):
        n = batch.num_rows
        lo, hi = np.searchsorted(pos, [offset, offset + n])
        if hi > lo:
            mask = np.ones(n, dtype=bool)
            mask[pos[lo:hi] - offset] = False
            batch = batch.filter(pa.array(mask))
        offset += n
        if partition.mapping is not None:
            batch = _project_batch(batch, partition.mapping)
        tbl = pa.Table.from_batches([batch])
        for k in keys:
            if k.num_rows:
                tbl = tbl.join(
                    k, keys=k.column_names, join_type="left anti"
                ).select(tbl.column_names)
        if tbl.num_rows:
            yield from tbl.combine_chunks().to_batches()


def _read_partition(partition: _FilePartition | None):
    """Arrow batches of one planned data file, for the batch and the stream
    reader alike: merge-on-read when deletes or DVs attach, the
    schema-evolution projection when the file predates the current
    schema, else a plain parquet read."""
    # filters can prune EVERY file; PySpark substitutes [None] for an
    # empty partition list, so None means "empty result", not a bug
    if partition is None:
        return
    if partition.positions or partition.eq_deletes:
        yield from _read_partition_mor(partition)
    elif partition.mapping is not None:
        for batch in _read_parquet_batches(partition.path):
            yield _project_batch(batch, partition.mapping)
    else:
        yield from _read_parquet_batches(partition.path)


def _plan_file_partitions(root, predicates, snapshot_id):
    """Driver-side scan plan shared by the batch reader and the streaming
    source's initial batch: a predicate/partition-pruned MOR plan with the
    field-id evolution mappings attached, so workers read files written
    under ANY schema version (and their equality deletes) correctly
    projected onto the table's current schema."""
    from .iceberg import (
        current_metadata,
        evolution_mapping,
        iceberg_scan_plan_mor,
        rename_mapping,
    )

    plan, _total = iceberg_scan_plan_mor(
        root, predicates, snapshot_id=snapshot_id
    )
    meta = current_metadata(root)
    ev_cache: dict = {}
    rn_cache: dict = {}

    def ev(sid):
        if sid not in ev_cache:
            ev_cache[sid] = evolution_mapping(meta, sid)
        return ev_cache[sid]

    def rn(sid):
        if sid not in rn_cache:
            rn_cache[sid] = rename_mapping(meta, sid)
        return rn_cache[sid]

    return [
        _FilePartition(
            p["path"],
            p["positions"],
            [(dp, rn(dsid)) for dp, dsid in p["eq_deletes"]],
            mapping=ev(p["schema_id"]),
        )
        for p in plan
    ]


def _table_root(options) -> str:
    root = options.get("path")
    if not root:
        raise ValueError("iceberg_static requires .option('path', <table root>)")
    return root


class _StaticIcebergReader(DataSourceReader):
    def __init__(self, options):
        self.root = _table_root(options)
        sid = options.get("snapshot_id")
        ref = options.get("ref")
        if sid is not None and ref is not None:
            raise ValueError("snapshot_id and ref options are mutually exclusive")
        if ref is not None:
            from .iceberg import iceberg_ref_snapshot

            # refs resolve at PLAN time, like explicit snapshot pinning
            self.snapshot_id: Optional[int] = iceberg_ref_snapshot(
                self.root, ref
            )
        else:
            self.snapshot_id = int(sid) if sid is not None else None
        self.predicates: list[tuple] = []

    def pushFilters(self, filters):
        from .iceberg import current_metadata

        # only prune on types the bounds encode; schema lookup mirrors the
        # planner's own coercion guard (which runs again downstream)
        _ = current_metadata(self.root)  # fail fast on a non-Iceberg path
        for f in filters:
            op = _OPS.get(type(f))
            col = getattr(f, "attribute", None)
            val = getattr(f, "value", None)
            if op is not None and col is not None and len(col) == 1:
                self.predicates.append((col[0], op, val))
            # EVERY filter (captured or not) stays residual: pruning is
            # planning-level, Spark re-evaluates row-level
            yield f

    def partitions(self):
        return _plan_file_partitions(
            self.root, self.predicates, self.snapshot_id
        )

    def read(self, partition):
        yield from _read_partition(partition)


@dataclass
class _DataFileCommit(WriterCommitMessage):
    paths: list
    rows: int


def _write_task_file(
    root: str, iterator, spec_fields=None, write_uuid: str = ""
) -> _DataFileCommit:
    """One task -> one parquet data file per PARTITION TUPLE it sees (the
    Iceberg fanout writer: with no spec that is at most one file). Files
    are named by (writer uuid, partition id, task attempt id, fanout seq):
    concurrent attempts of the same task never collide, an abandoned
    attempt's files are identifiable as orphans, and — the reason real
    Iceberg writers carry an operation UUID — task-attempt ids reset per
    SparkContext, so a query RESTARTED from checkpoint replaying an
    already-committed epoch must not regenerate a committed file's name
    (ParquetWriter would truncate data a live snapshot references).
    Partition-pure files by construction are what make the commit-time
    purity check pass and hidden-partition pruning effective on read."""
    import pyarrow.parquet as pq
    from pyspark import TaskContext

    from pathlib import Path

    ctx = TaskContext.get()
    tag = f"{write_uuid}-" if write_uuid else ""
    stem = f"part-{tag}{ctx.partitionId():05d}-{ctx.taskAttemptId()}"
    data_dir = Path(root) / "data"
    writers: dict = {}  # partition tuple -> (ParquetWriter, path)
    rows = 0

    def sink_for(key, schema):
        if key not in writers:
            data_dir.mkdir(parents=True, exist_ok=True)
            path = data_dir / f"{stem}-{len(writers)}.parquet"
            writers[key] = (pq.ParquetWriter(path, schema), path)
        return writers[key][0]

    try:
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            rows += batch.num_rows
            if not spec_fields:
                sink_for((), batch.schema).write_batch(batch)
                continue
            # fanout: route each row by its transformed partition tuple
            from .iceberg_partition import apply_transform

            import pyarrow as pa

            per_field = [
                [
                    apply_transform(f["transform"], v)
                    for v in batch.column(f["source-name"]).to_pylist()
                ]
                for f in spec_fields
            ]
            groups: dict = {}
            for i, key in enumerate(zip(*per_field)):
                groups.setdefault(key, []).append(i)
            for key, idx in groups.items():
                sub = batch.take(pa.array(idx, pa.int64()))
                sink_for(key, batch.schema).write_batch(sub)
    except BaseException:
        # a failed attempt cleans its own partial files (no message reaches
        # abort() for it); anything that slips through is orphan_files() food
        for w, path in writers.values():
            w.close()
            path.unlink(missing_ok=True)
        raise
    # empty partition: NO zero-row part file (a manifest must never
    # reference one — the foreachBatch sink had the same rule)
    for w, _ in writers.values():
        w.close()
    return _DataFileCommit(sorted(str(p) for _, p in writers.values()), rows)


def _committed_files(messages) -> list:
    return [p for m in messages if m is not None for p in m.paths]


def _unlink_files(messages) -> None:
    from pathlib import Path

    for m in messages:
        if m is not None:
            for p in m.paths:
                Path(p).unlink(missing_ok=True)


def _load_spec_fields(root: str):
    """The table's default partition spec at PLAN time (driver-side; the
    field list is pickled to write tasks), or None for an unpartitioned /
    not-yet-created table."""
    from .iceberg import current_metadata
    from .iceberg_write import _default_spec

    try:
        return _default_spec(current_metadata(root))
    except FileNotFoundError:
        return None


def _ensure_table(root):
    from pathlib import Path

    from . import iceberg_write as W

    r = Path(str(root))
    if not (r / "metadata" / "version-hint.text").exists():
        W.create_table(r)
    return r


class _StaticIcebergWriter(DataSourceArrowWriter):
    """Batch write: tasks write data files, the driver makes ONE atomic
    metadata commit referencing exactly the successful attempts' files."""

    def __init__(self, options, overwrite: bool):
        self.root = _table_root(options)
        sid = options.get("snapshot_id")
        self.snapshot_id = int(sid) if sid is not None else None
        self.overwrite = overwrite
        self.branch = options.get("branch")
        if self.branch is not None and overwrite:
            raise ValueError(
                "branch writes are append-only (overwrite would rewrite a "
                "ref whose history main still shares)"
            )
        self.spec_fields = _load_spec_fields(self.root)
        import uuid as _uuid

        # driver-generated per-writer uuid, pickled to tasks: file names
        # stay unique across SparkContexts (see _write_task_file)
        self.write_uuid = _uuid.uuid4().hex[:12]

    def write(self, iterator):
        return _write_task_file(
            self.root, iterator, self.spec_fields, self.write_uuid
        )

    def commit(self, messages):
        from . import iceberg_write as W

        root = _ensure_table(self.root)
        files = _committed_files(messages)
        if self.overwrite:
            # zero files = truncate: live content becomes the empty set
            W.overwrite_snapshot(root, files, snapshot_id=self.snapshot_id)
        else:
            W.append_snapshot(
                root, files, snapshot_id=self.snapshot_id, branch=self.branch
            )

    def abort(self, messages):
        _unlink_files(messages)


class _StaticIcebergStreamWriter(DataSourceStreamArrowWriter):
    """Streaming sink: epoch-keyed snapshot ids make the at-least-once
    foreachBatch-style redelivery idempotent — a retried epoch observes
    its snapshot already committed and unlinks its duplicate files instead
    of committing twice. The sink owns the table's snapshot-id space
    (sid = batchId + 1), same contract as streaming.write_stream_to_iceberg."""

    def __init__(self, options):
        self.root = _table_root(options)
        self.spec_fields = _load_spec_fields(self.root)
        ks = options.get("upsert_keys")
        self.upsert_keys = (
            [c.strip() for c in ks.split(",") if c.strip()] if ks else None
        )
        dk = options.get("delete_keys")
        self.delete_keys = (
            [c.strip() for c in dk.split(",") if c.strip()] if dk else None
        )
        if self.upsert_keys and self.delete_keys:
            raise ValueError(
                "upsert_keys and delete_keys are mutually exclusive"
            )
        # a second stream against an existing table needs its epoch->
        # snapshot mapping shifted past the committed history (sid space
        # is batchId + 1 + sid_base); a LITERAL base keeps retried
        # epochs idempotent
        self.sid_base = int(options.get("sid_base", 0))
        import uuid as _uuid

        # per-writer-instance uuid (driver-side, pickled to tasks): a
        # restarted query replaying a committed epoch generates FRESH
        # names — task-attempt ids alone repeat across SparkContexts, and
        # a name collision would truncate a file the committed snapshot
        # still references before the sid-exists guard can skip the epoch
        self.write_uuid = _uuid.uuid4().hex[:12]

    def write(self, iterator):
        return _write_task_file(
            self.root, iterator, self.spec_fields, self.write_uuid
        )

    def commit(self, messages, batchId: int):
        from . import iceberg_write as W

        root = _ensure_table(self.root)
        files = _committed_files(messages)
        sid = int(batchId) + 1 + self.sid_base
        if sid in set(W.snapshot_ids(root)):
            if self.delete_keys:
                # the bare id-exists guard cannot tell a RETRIED epoch
                # from a collision with pre-existing history (the
                # mis-set-sid_base footgun: the epoch would be silently
                # dropped as 'already committed'); delete commits stamp
                # their epoch in the snapshot summary, so check it
                from .iceberg import current_metadata

                snaps = {
                    s["snapshot-id"]: s
                    for s in current_metadata(str(root)).get(
                        "snapshots", []
                    )
                }
                summ = snaps.get(sid, {}).get("summary", {})
                if summ.get("sink-epoch") != str(int(batchId)):
                    raise ValueError(
                        f"snapshot id {sid} already exists but was not "
                        f"committed by this sink's epoch {batchId} — "
                        "the table has prior history; set "
                        "option('sid_base', <last snapshot id>)"
                    )
            _unlink_files(messages)  # retried epoch: commit already durable
            return
        if not files:  # an empty epoch must not commit a snapshot
            return
        if self.delete_keys:
            # CDC DELETE apply: the epoch's rows are delete MARKERS, not
            # data — their key set tombstones matching live rows as v3
            # DELETION VECTORS (one merged bitmap per touched file, the
            # O(1)-files-per-file delete state that survives a high
            # delete cadence; see iceberg_write.write_deletion_vectors).
            # The marker files never join the table.
            import numpy as np
            import pandas as pd
            import pyarrow as pa
            import pyarrow.parquet as pq

            from .iceberg import iceberg_scan_entries_static

            keys = (
                pa.concat_tables(
                    pq.read_table(f, columns=self.delete_keys)
                    for f in files
                )
                .group_by(self.delete_keys)
                .aggregate([])
            )
            _unlink_files(messages)
            positions: dict[str, list[int]] = {}
            if keys.num_rows:
                cand = iceberg_scan_entries_static(str(root))["data"]
                if len(self.delete_keys) == 1:
                    # single-key epochs prune candidates by the key
                    # RANGE through the manifest stats planner — the
                    # difference between touching the matching files
                    # and opening every live file each micro-batch.
                    # (Multi-key epochs fall back to the full driver
                    # walk; at real scale the distributed anti-join
                    # upsert path is the right tool.)
                    from .iceberg import iceberg_scan_paths_pruned

                    k = self.delete_keys[0]
                    vals = keys[k].to_pylist()
                    try:
                        pruned, _tot = iceberg_scan_paths_pruned(
                            str(root),
                            [(k, ">=", min(vals)), (k, "<=", max(vals))],
                        )
                        pset = {str(p) for p in pruned}
                        cand = [
                            e for e in cand if str(e["path"]) in pset
                        ]
                    except TypeError:
                        pass  # un-orderable key type: keep all files
                right = pd.MultiIndex.from_frame(keys.to_pandas())
                for e in cand:
                    t = pq.read_table(
                        e["path"],
                        columns=self.delete_keys,
                        use_threads=False,
                    )
                    hit = np.nonzero(
                        pd.MultiIndex.from_frame(t.to_pandas()).isin(right)
                    )[0]
                    if hit.shape[0]:
                        positions[str(e["path"])] = [int(i) for i in hit]
            if positions:
                W.write_deletion_vectors(
                    root,
                    positions,
                    snapshot_id=sid,
                    extra_summary={"sink-epoch": str(int(batchId))},
                )
            return
        if self.upsert_keys:
            # CDC sink: the epoch's distinct key set becomes a same-
            # sequence equality delete, so the commit is MERGE semantics —
            # older versions of these keys tombstone, this epoch's rows
            # (equal sequence) and later re-inserts survive
            import pyarrow as pa
            import pyarrow.parquet as pq

            keys = pa.concat_tables(
                pq.read_table(f, columns=self.upsert_keys) for f in files
            ).group_by(self.upsert_keys).aggregate([])
            keys_file = root / "data" / f"keys-{sid}.parquet"
            pq.write_table(keys, keys_file)
            W.upsert_snapshot(root, files, keys_file, snapshot_id=sid)
        else:
            W.append_snapshot(root, files, snapshot_id=sid)

    def abort(self, messages, batchId: int):
        _unlink_files(messages)


class _StaticIcebergStreamReader(DataSourceStreamReader):
    """Streaming SOURCE: offsets are snapshot ids; each micro-batch plans
    the data files ADDED in ``(start, end]`` (incremental append scan —
    delete/overwrite commits are not retracted, Iceberg's own limitation)
    and reads them distributed, one InputPartition per file."""

    def __init__(self, options):
        self.root = _table_root(options)
        # rate limit (Iceberg's streaming read-limit analog, e.g.
        # streaming-max-files-per-micro-batch): cap how many SNAPSHOTS a
        # micro-batch may advance. Python's stream-reader API exposes no
        # read-limit hook in latestOffset, so the cap anchors to the
        # last range THIS reader planned (partitions() records its end):
        # the very first batch of a fresh checkpoint — the full MOR
        # initial read — is uncapped; after that every planned batch
        # advances at most K snapshots, including after restart (Spark
        # replays checkpoint state through partitions() before asking
        # for a new offset). An availableNow run latches its end from
        # the first capped latestOffset, so one such run advances at
        # most K snapshots; a continuous trigger drains a backlog as
        # successive K-snapshot batches (tests pin both behaviors).
        # 0/absent = unlimited.
        self.max_snaps = int(options.get("max_snapshots_per_batch", 0) or 0)
        self._last_end: int | None = None

    def _current_snapshot_id(self) -> int:
        from .iceberg import current_metadata

        try:
            meta = current_metadata(self.root)
        except FileNotFoundError:
            return 0  # table not created yet: nothing to read
        sid = meta.get("current-snapshot-id", -1)
        return 0 if sid is None or sid == -1 else int(sid)

    def initialOffset(self) -> dict:
        return {"snapshot_id": 0}

    def latestOffset(self) -> dict:
        cur = self._current_snapshot_id()
        if not self.max_snaps or self._last_end is None or cur == 0:
            return {"snapshot_id": cur}
        from .iceberg import current_metadata

        meta = current_metadata(self.root)
        snaps = sorted(
            meta.get("snapshots", []),
            key=lambda s: s.get("sequence-number", 0),
        )
        seq_of = {
            s["snapshot-id"]: s.get("sequence-number", 0) for s in snaps
        }
        lo_seq = seq_of.get(self._last_end, 0)
        ahead = [s for s in snaps if s.get("sequence-number", 0) > lo_seq]
        if not ahead:
            return {"snapshot_id": self._last_end}
        return {
            "snapshot_id": int(
                ahead[min(self.max_snaps, len(ahead)) - 1]["snapshot-id"]
            )
        }

    def partitions(self, start: dict, end: dict):
        self._last_end = int(end["snapshot_id"]) or None
        from .iceberg import (
            current_metadata,
            evolution_mapping,
            file_key,
            iceberg_incremental_paths,
            iceberg_scan_entries_static,
            tombstones,
        )

        lo, hi = int(start["snapshot_id"]), int(end["snapshot_id"])
        if hi == 0 or lo == hi:
            return []
        if lo == 0:
            # first batch: everything live at the end snapshot, read
            # MERGE-ON-READ — tailing a table whose history holds upsert/
            # delete commits (e.g. this module's own upsert_keys sink
            # output) must NOT resurrect deleted rows; the batch read's
            # MOR path and this one see the same table state
            return _plan_file_partitions(self.root, [], hi)
        # incremental: files ADDED in (lo, hi] — append-only semantics
        # for PRIOR batches (rows removed in the range from files emitted
        # before `lo` are not retracted, Iceberg's own incremental-scan
        # limitation); snapshot `lo` must still be retained, i.e.
        # expiration policy keeps consumers' offsets. WITHIN the range,
        # though, position deletes and DVs committed in (lo, hi] apply to
        # the added files (a delete aimed at an older file is a no-op
        # here) — a row added and then deleted inside one range never
        # existed at offset `hi` and must not be emitted as live.
        paths = iceberg_incremental_paths(self.root, lo, hi)
        meta = current_metadata(self.root)
        snaps = {
            s["snapshot-id"]: s.get("sequence-number", 0)
            for s in meta.get("snapshots", [])
        }
        lo_seq, hi_seq = snaps.get(lo, 0), snaps.get(hi, 0)
        entries = iceberg_scan_entries_static(self.root, snapshot_id=hi)
        sid_of = {e["path"]: e.get("schema_id") for e in entries["data"]}
        tomb = tombstones(
            {
                k: [e for e in entries[k] if lo_seq < e["seq"] <= hi_seq]
                for k in ("pos_deletes", "dvs")
            },
            self.root,
        )
        return [
            _FilePartition(
                p,
                sorted(tomb.get(file_key(p, self.root), ())),
                mapping=evolution_mapping(meta, sid_of.get(p)),
            )
            for p in paths
        ]

    def read(self, partition):
        yield from _read_partition(partition)

    def commit(self, end: dict) -> None:
        pass  # progress is durable in Spark's checkpoint, not the table

    def stop(self) -> None:
        pass


class _AvroLitePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _AvroLiteReader(DataSourceReader):
    """One InputPartition per container file; each task decodes its file
    with the pure-python Avro reader (sources/avro_lite.py) worker-side —
    the same distribution shape Spark's JVM Avro source plans (Avro
    containers are file-splittable at block boundaries; file granularity
    is the conservative version and matches this repo's manifest-sized
    files)."""

    def __init__(self, options):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("avro_lite requires .option('path', <dir>)")
        self.fields = [
            f["name"] for f in _avro_schema(self.dir)["fields"]
        ]

    def partitions(self):
        return [
            _AvroLitePartition(str(p))
            for p in sorted(Path(self.dir).glob("*.avro"))
        ]

    def read(self, partition):
        from .avro_lite import read_container

        _, records = read_container(partition.path)
        fields = self.fields
        for r in records:
            yield tuple(r.get(f) for f in fields)


def _avro_schema(path_dir) -> dict:
    """The one writer schema every container under ``path_dir`` shares.
    A container whose embedded schema differs from the first one's raises:
    reading it by the first schema's field names would yield ``None`` for
    renamed or missing fields."""
    from .avro_lite import read_schema

    if not path_dir:
        raise ValueError("avro_lite requires .option('path', <dir>)")
    files = sorted(Path(path_dir).glob("*.avro"))
    if not files:
        raise ValueError(f"no .avro container files under {path_dir!r}")
    # header-only reads: schema discovery must not decode any file
    schema = read_schema(files[0])
    for f in files[1:]:
        if read_schema(f) != schema:
            raise ValueError(
                f"avro container {str(f)!r} has a different schema than "
                f"{str(files[0])!r}"
            )
    return schema


_AVRO_TO_SPARK = {
    "boolean": "boolean",
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "bytes": "binary",
}


class AvroLiteDataSource(DataSource):
    """spark.read.format("avro_lite").option("path", dir).load() — a
    distributed reader for Avro object-container files on top of the
    repo's pure-python Avro codec (the one the Iceberg manifests use).
    The schema comes from the containers' EMBEDDED writer schema (Avro's
    self-describing property), which must be the same in every container;
    nullable unions map to nullable Spark columns."""

    @classmethod
    def name(cls) -> str:
        return "avro_lite"

    def schema(self) -> str:
        sch = _avro_schema(self.options.get("path"))

        def one(t) -> str:
            if isinstance(t, list):  # ["null", X] nullable union
                branches = [b for b in t if b != "null"]
                if len(branches) != 1:
                    raise TypeError(f"unsupported avro union {t}")
                return one(branches[0])
            if isinstance(t, str):
                return _AVRO_TO_SPARK[t]
            raise TypeError(f"unsupported avro type {t}")

        return ", ".join(
            f"{f['name']} {one(f['type'])}" for f in sch["fields"]
        )

    def reader(self, schema) -> DataSourceReader:
        return _AvroLiteReader(self.options)


class IcebergStaticDataSource(DataSource):
    """spark.read.format("iceberg_static").option("path", root).load()"""

    @classmethod
    def name(cls) -> str:
        return "iceberg_static"

    def schema(self) -> str:
        import pyarrow.parquet as pq

        from .iceberg import (
            _ICE_TO_SPARK,
            current_metadata,
            iceberg_ref_snapshot,
            iceberg_scan_paths_static,
        )

        root = _table_root(self.options)
        # a tracked Iceberg schema is authoritative (field-id evolution:
        # files written under older schemas are projected at read time)
        # and works for empty / fully-pruned tables too
        meta = current_metadata(root)
        schemas = {s["schema-id"]: s for s in meta.get("schemas", [])}
        if schemas:
            cur = schemas[int(meta["current-schema-id"])]
            return ", ".join(
                f"{f['name']} {_ICE_TO_SPARK[f['type']]}"
                for f in cur["fields"]
            )
        sid = self.options.get("snapshot_id")
        ref = self.options.get("ref")
        snapshot_id = (
            iceberg_ref_snapshot(root, ref)
            if ref is not None
            else (int(sid) if sid is not None else None)
        )
        paths = iceberg_scan_paths_static(root, snapshot_id=snapshot_id)
        if not paths:
            raise ValueError(f"Iceberg table {root!r} has no data files")
        return arrow_schema_to_ddl(pq.read_schema(paths[0]))

    def reader(self, schema) -> DataSourceReader:
        return _StaticIcebergReader(self.options)

    def writer(self, schema, overwrite: bool) -> _StaticIcebergWriter:
        return _StaticIcebergWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> _StaticIcebergStreamWriter:
        return _StaticIcebergStreamWriter(self.options)

    def streamReader(self, schema) -> _StaticIcebergStreamReader:
        return _StaticIcebergStreamReader(self.options)
