"""Static Iceberg snapshot WRITER (stdlib + avro_lite, no jars).

The north rule targets Iceberg tables of pre-tokenized sequences; the read
side (sources/iceberg.py) already walks real snapshot metadata. This module
closes the loop: it COMMITS snapshots — append, overwrite — by authoring the
same structures the reader (and a real Iceberg planner) consumes:

    metadata/vN.metadata.json       table metadata, snapshot log, current id
    metadata/snap-<id>-*.avro       manifest list (one row per manifest)
    metadata/m-<id>-*.avro          manifest (one entry per data file)
    metadata/version-hint.text      current metadata version
    data/...parquet                 the data files (written by the caller)

Semantics mirrored from the Iceberg table spec (public documentation):

* a snapshot's manifest LIST references every manifest whose live entries
  belong to the snapshot — an append REUSES the previous snapshot's
  manifests untouched and adds one new manifest for the added files (O(new
  files) metadata work per commit, which is why Iceberg appends scale);
* manifest entries carry status ADDED(1) / EXISTING(0) / DELETED(2); an
  overwrite commits a manifest list that drops the replaced manifests and
  records the removed files as DELETED entries in a tombstone manifest so
  the change survives in history (readers skip status 2);
* older metadata versions and snapshots stay readable — time travel is
  ``read_sequences(spark, root, snapshot_id=...)``;
* commits are crash-safe in the same order Iceberg requires: data files,
  then manifests, then the manifest list, then the new metadata JSON, and
  the version hint LAST (a reader never observes a half-commit because the
  hint still names the previous complete version until the final rename).

Row-level deletes: :func:`delete_rows_snapshot` commits v2 POSITION delete
files and :func:`equality_delete_snapshot` commits v2 EQUALITY deletes
(both merge-on-read; the read side subtracts them at scan time, honoring
the sequence rule that equality deletes apply only to earlier-sequence
data files); :func:`overwrite_snapshot` is the copy-on-write alternative.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from pathlib import Path

from . import avro_lite

__all__ = [
    "create_table",
    "add_column",
    "rename_column",
    "drop_column",
    "set_partition_spec",
    "upsert_snapshot",
    "expire_snapshots",
    "orphan_files",
    "append_snapshot",
    "overwrite_snapshot",
    "delete_rows_snapshot",
    "delete_where",
    "equality_delete_snapshot",
    "rollback_to_snapshot",
    "fast_forward",
    "rewrite_manifests",
    "rewrite_data_files",
    "snapshot_ids",
    "live_paths",
]

# minimal spec-shaped schemas: every field the static reader keys on
# (status / content / file_path) plus the bookkeeping columns a real
# planner would use for pruning (record_count, file_size_in_bytes)
_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None},
        # the spec's per-entry data sequence number. Recording it
        # EXPLICITLY (not deriving it from snapshot_id at read time)
        # is what keeps delete-applicability correct after snapshot
        # EXPIRATION: once the add-time snapshot leaves the metadata, a
        # derived lookup collapses every sequence to 0 and equality
        # deletes silently stop applying (found by the rewrite_manifests
        # test). Readers fall back to the snapshot-id join for legacy
        # entries without the field.
        {"name": "sequence_number", "type": ["null", "long"], "default": None},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    # v3 deletion vectors: a position delete that applies
                    # to exactly one data file records that file here (the
                    # spec's referenced_data_file field); null for data
                    # files and v2 path-keyed delete parquets. Avro
                    # containers embed their writer schema, so manifests
                    # written before this field still read fine.
                    {
                        "name": "referenced_data_file",
                        "type": ["null", "string"],
                        "default": None,
                    },
                    # v3 row lineage: the first row id assigned to this
                    # data file's rows (_row_id = first_row_id + position
                    # for rows without a materialized _row_id column);
                    # null when lineage is off or ids live in the file
                    # itself (post-compaction materialized columns)
                    {
                        "name": "first_row_id",
                        "type": ["null", "long"],
                        "default": None,
                    },
                    {
                        "name": "schema_id",
                        "type": ["null", "int"],
                        "default": None,
                    },
                    {
                        "name": "spec_id",
                        "type": ["null", "int"],
                        "default": None,
                    },
                    {
                        "name": "partition",
                        "type": [
                            "null",
                            {"type": "map", "values": ["long", "string"]},
                        ],
                        "default": None,
                    },
                    {
                        "name": "lower_bounds",
                        "type": ["null", {"type": "map", "values": "bytes"}],
                        "default": None,
                    },
                    {
                        "name": "upper_bounds",
                        "type": ["null", {"type": "map", "values": "bytes"}],
                        "default": None,
                    },
                    # the spec's null_value_counts: drives IS NULL /
                    # IS NOT NULL manifest pruning
                    {
                        "name": "null_value_counts",
                        "type": ["null", {"type": "map", "values": "long"}],
                        "default": None,
                    },
                ],
            },
        },
    ],
}

_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "content", "type": "int"},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}


def _meta_dir(root: str | Path) -> Path:
    return Path(str(root)) / "metadata"


def _now_ms(ts_ms: int | None) -> int:
    return int(time.time() * 1000) if ts_ms is None else int(ts_ms)


def create_table(
    root: str | Path,
    ts_ms: int | None = None,
    schema_fields: list[tuple[str, str]] | None = None,
    row_lineage: bool = False,
) -> Path:
    """Initialize an empty Iceberg table (v2 metadata, no snapshot).
    ``schema_fields`` — optional ``[(name, iceberg_type), ...]`` — records
    schema 0 with stable FIELD IDS (ids 1..N), enabling the evolution
    commits (:func:`add_column` / :func:`rename_column` / :func:`drop_
    column`) and the field-id-resolved evolved read
    (sources/iceberg.read_table_evolved). ``row_lineage`` opts into v3
    ROW LINEAGE: the table tracks ``next-row-id`` and every appended data
    file is assigned a ``first_row_id`` range, giving each row a stable
    ``_row_id`` that survives deletes and compaction (see
    ``iceberg.read_with_lineage``)."""
    root = Path(str(root))
    meta = _meta_dir(root)
    (root / "data").mkdir(parents=True, exist_ok=True)
    meta.mkdir(parents=True, exist_ok=True)
    doc = {
        "format-version": 2,
        "table-uuid": str(uuid.uuid5(uuid.NAMESPACE_URL, str(root))),
        "location": str(root),
        "last-sequence-number": 0,
        "last-updated-ms": _now_ms(ts_ms),
        "current-snapshot-id": -1,
        "snapshots": [],
        "snapshot-log": [],
    }
    if row_lineage:
        doc["next-row-id"] = 0
    if schema_fields is not None:
        fields = [
            {"id": i + 1, "name": n, "type": t, "required": False}
            for i, (n, t) in enumerate(schema_fields)
        ]
        doc["schemas"] = [{"schema-id": 0, "fields": fields}]
        doc["current-schema-id"] = 0
        doc["last-column-id"] = len(fields)
    (meta / "v1.metadata.json").write_text(json.dumps(doc, indent=1))
    (meta / "version-hint.text").write_text("1")
    return root


class CommitConflict(RuntimeError):
    """Optimistic-concurrency failure: another writer committed the
    metadata version this commit was based on. Reload the table and
    retry — exactly Iceberg's CommitFailedException contract."""


def _write_new_metadata(meta_dir: Path, new_version: int, doc: dict) -> None:
    """Create the new metadata version EXCLUSIVELY (O_EXCL): two writers
    that loaded the same base version race to this create, one wins, the
    loser gets CommitConflict instead of silently overwriting the
    winner's snapshot (the lost-update anomaly a plain write allows)."""
    path = meta_dir / f"v{new_version}.metadata.json"
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise CommitConflict(
            f"metadata version {new_version} was committed by a "
            "concurrent writer; reload the table and retry"
        ) from None
    with os.fdopen(fd, "w") as f:
        f.write(json.dumps(doc, indent=1))


def _commit_metadata_only(root: Path, version: int, doc: dict, ts_ms) -> None:
    """Write a new metadata version + flip the hint LAST (same crash-safe
    order as a snapshot commit) — schema evolution is a METADATA-ONLY
    commit in Iceberg: no data file moves, no manifest is rewritten."""
    doc = dict(doc)
    doc["last-updated-ms"] = _now_ms(ts_ms)
    meta_dir = _meta_dir(root)
    new_version = version + 1
    _write_new_metadata(meta_dir, new_version, doc)
    tmp = meta_dir / "version-hint.text.tmp"
    tmp.write_text(str(new_version))
    os.replace(tmp, meta_dir / "version-hint.text")


def _evolve_schema(root: str | Path, mutate, ts_ms: int | None = None) -> int:
    """Commit a new schema produced by ``mutate(fields) -> fields`` (deep
    copies; field IDS are never reused — the spec invariant that makes
    rename/drop/re-add unambiguous). Returns the new schema id."""
    root = Path(str(root))
    version, meta = _load_current(root)
    schemas = list(meta.get("schemas", []))
    if not schemas:
        raise ValueError(
            "table has no tracked schema (create_table(schema_fields=...))"
        )
    cur_id = int(meta.get("current-schema-id", schemas[-1]["schema-id"]))
    cur = next(s for s in schemas if s["schema-id"] == cur_id)
    fields = [dict(f) for f in cur["fields"]]
    new_fields = mutate(fields)
    new_id = max(s["schema-id"] for s in schemas) + 1
    schemas.append({"schema-id": new_id, "fields": new_fields})
    doc = dict(meta)
    doc["schemas"] = schemas
    doc["current-schema-id"] = new_id
    doc["last-column-id"] = max(
        [f["id"] for s in schemas for f in s["fields"]], default=0
    )
    _commit_metadata_only(root, version, doc, ts_ms)
    return new_id


def add_column(
    root: str | Path, name: str, ice_type: str, ts_ms: int | None = None
) -> int:
    """ADD COLUMN evolution commit: a fresh field id; files written under
    earlier schemas read the column as NULL."""
    def mutate(fields):
        if any(f["name"] == name for f in fields):
            raise ValueError(f"column {name!r} already exists")
        _, meta = _load_current(Path(str(root)))
        next_id = int(meta.get("last-column-id", 0)) + 1
        return fields + [
            {"id": next_id, "name": name, "type": ice_type, "required": False}
        ]

    return _evolve_schema(root, mutate, ts_ms)


def rename_column(
    root: str | Path, old: str, new: str, ts_ms: int | None = None
) -> int:
    """RENAME COLUMN evolution commit: the field id is STABLE — files
    written under the old name keep resolving to the new name by id (no
    data rewrite), the property column-name-keyed formats cannot offer."""
    def mutate(fields):
        hit = [f for f in fields if f["name"] == old]
        if not hit:
            raise KeyError(f"no column {old!r} in current schema")
        if any(f["name"] == new for f in fields):
            raise ValueError(f"column {new!r} already exists")
        hit[0]["name"] = new
        return fields

    return _evolve_schema(root, mutate, ts_ms)


def set_partition_spec(
    root: str | Path,
    fields: list[tuple[str, str]],
    ts_ms: int | None = None,
) -> int:
    """Declare the table's partition spec — ``fields`` is
    ``[(source_column, transform), ...]`` with transforms from the spec's
    set (identity, bucket[N], truncate[W], year/month/day/hour). A
    METADATA-ONLY commit, like schema evolution: subsequent appends record
    each data file's partition TUPLE in its manifest entry, and the static
    planner prunes by deriving partition predicates from ordinary column
    predicates (hidden partitioning — the user never names the partition
    field). Returns the new spec id."""
    from .iceberg_partition import parse_transform

    root = Path(str(root))
    version, meta = _load_current(root)
    for _, t in fields:
        parse_transform(t)  # validate early
    specs = list(meta.get("partition-specs", []))
    new_id = max((sp["spec-id"] for sp in specs), default=-1) + 1
    specs.append(
        {
            "spec-id": new_id,
            "fields": [
                {
                    "name": f"{col}_{t.replace('[', '_').rstrip(']')}",
                    "source-name": col,
                    "transform": t,
                    "field-id": 1000 + i,
                }
                for i, (col, t) in enumerate(fields)
            ],
        }
    )
    doc = dict(meta)
    doc["partition-specs"] = specs
    doc["default-spec-id"] = new_id
    _commit_metadata_only(root, version, doc, ts_ms)
    return new_id


def _default_spec(meta: dict) -> list[dict] | None:
    specs = meta.get("partition-specs")
    if not specs:
        return None
    sid = meta.get("default-spec-id", specs[-1]["spec-id"])
    return next(sp["fields"] for sp in specs if sp["spec-id"] == sid)


def _partition_tuple(path: Path, spec_fields: list[dict]) -> dict:
    """The file's partition tuple, computed by applying each spec
    transform over the file's rows and requiring PURITY (exactly one
    transformed value per field) — a real Iceberg writer guarantees this
    by construction because it routes rows to per-partition files; this
    commit-time check is the static writer's equivalent enforcement."""
    import pyarrow.parquet as pq

    from .iceberg_partition import apply_transform

    import datetime as _dt

    cols = [f["source-name"] for f in spec_fields]
    tbl = pq.read_table(path, columns=cols)
    out = {}
    for f in spec_fields:
        vals = {
            apply_transform(f["transform"], v)
            for v in tbl[f["source-name"]].to_pylist()
        }
        if len(vals) != 1:
            raise ValueError(
                f"{path.name} is not partition-pure on {f['name']} "
                f"({len(vals)} distinct transformed values)"
            )
        v = vals.pop()
        if isinstance(v, _dt.datetime):
            # identity on a timestamp column: tuples store epoch micros
            # (the spec's representation; the planner converts literals
            # the same way before comparing)
            epoch = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
            v = int((v - epoch) / _dt.timedelta(microseconds=1))
        out[f["name"]] = v
    return out


def drop_column(root: str | Path, name: str, ts_ms: int | None = None) -> int:
    """DROP COLUMN evolution commit: the field id is retired, never
    reused; old files' data for it is simply no longer projected."""
    def mutate(fields):
        if not any(f["name"] == name for f in fields):
            raise KeyError(f"no column {name!r} in current schema")
        return [f for f in fields if f["name"] != name]

    return _evolve_schema(root, mutate, ts_ms)


def _load_current(root: Path) -> tuple[int, dict]:
    from .iceberg import current_metadata

    version = int((_meta_dir(root) / "version-hint.text").read_text().strip())
    return version, current_metadata(root)


_TRUNC = 16  # spec-recommended string-bound truncation length


def encode_bound(v) -> bytes:
    """Iceberg single-value serialization (table spec, Appendix D) for the
    bound types this writer emits: long and timestamp-micros as 8-byte
    little-endian two's complement, double as 8-byte little-endian IEEE
    754, strings as UTF-8 bytes."""
    import datetime as _dt
    import struct as _struct

    if isinstance(v, bool):
        raise TypeError("boolean bounds are not emitted")
    if isinstance(v, int):
        return _struct.pack("<q", v)
    if isinstance(v, float):
        return _struct.pack("<d", v)
    if isinstance(v, _dt.datetime):
        epoch = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        return _struct.pack("<q", int((v - epoch) / _dt.timedelta(microseconds=1)))
    if isinstance(v, str):
        return v.encode("utf-8")
    raise TypeError(f"unsupported bound type {type(v).__name__}")


def _truncate_lower(b: bytes) -> bytes:
    """Prefix truncation keeps a valid LOWER bound (prefix <= original)."""
    return b[:_TRUNC]


def _truncate_upper(b: bytes) -> bytes | None:
    """A valid UPPER bound for a truncated byte string: the prefix with its
    last byte incremented (spec's short-ened upper bound). Bytes already at
    0xFF roll off; an all-0xFF prefix has no finite upper -> None (bound
    omitted, file never pruned on this column)."""
    if len(b) <= _TRUNC:
        return b
    t = bytearray(b[:_TRUNC])
    while t:
        if t[-1] < 0xFF:
            t[-1] += 1
            return bytes(t)
        t.pop()
    return None


def _null_counts(path: Path) -> dict | None:
    """Per-column null counts from the parquet footer's row-group
    statistics — the spec's ``null_value_counts`` map. Lets the planner
    prune ``IS NULL`` (no nulls recorded) and ``IS NOT NULL`` (all rows
    null) predicates from the manifest alone. Columns without statistics
    are absent (pruning stays an optimization, never a filter)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    out: dict = {}
    seen: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None or st.null_count is None:
                continue
            name = col.path_in_schema
            if "." in name:
                continue
            out[name] = out.get(name, 0) + int(st.null_count)
            seen[name] = seen.get(name, 0) + 1
    # a column whose stats are missing from ANY row group would
    # UNDERCOUNT — recording it would turn IS NULL pruning into a
    # correctness filter (the pruned rows could hide in the unstatted
    # group); drop it instead (file simply never prunes on that column)
    out = {k: v for k, v in out.items() if seen[k] == md.num_row_groups}
    return out or None


def _column_bounds(path: Path) -> tuple[dict, dict] | None:
    """Per-column (lower, upper) bound maps from the parquet footer's
    row-group statistics — computed ONCE at commit time so the planner can
    prune files from the manifest alone, never touching data-file footers
    at query time. Columns without usable stats (or non-scalar types) are
    simply absent from the maps."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    lo: dict = {}
    hi: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            if "." in name:  # nested / list element: not a scalar column
                continue
            try:
                mn, mx = st.min, st.max
            except Exception:
                continue
            if isinstance(mn, bytes) or mn is None or mx is None:
                continue
            if name not in lo or (mn, ) < (lo[name], ):
                lo[name] = mn
            if name not in hi or (mx, ) > (hi[name], ):
                hi[name] = mx
    if not lo:
        return None
    lo_b: dict = {}
    hi_b: dict = {}
    for name in lo:
        try:
            lb = _truncate_lower(encode_bound(lo[name]))
            ub_raw = encode_bound(hi[name])
            ub = _truncate_upper(ub_raw)
        except TypeError:
            continue
        lo_b[name] = lb
        if ub is not None:
            hi_b[name] = ub
    return (lo_b, hi_b) if lo_b else None


def _file_entry(
    path: str | Path,
    status: int,
    snapshot_id: int,
    schema_id: int | None = None,
    sequence_number: int | None = None,
) -> dict:
    p = Path(str(path))
    bounds = None
    nulls = None
    try:
        import pyarrow.parquet as pq

        record_count = pq.read_metadata(p).num_rows
        bounds = _column_bounds(p)
        nulls = _null_counts(p)
    except Exception:
        record_count = -1
    return {
        "status": status,
        "snapshot_id": snapshot_id,
        "sequence_number": sequence_number,
        "data_file": {
            "content": 0,
            "file_path": f"file://{p}",
            "file_format": "PARQUET",
            "record_count": int(record_count),
            "file_size_in_bytes": p.stat().st_size if p.exists() else -1,
            # the schema current at WRITE time — this writer's stand-in for
            # the field-ids a real Iceberg writer embeds in the parquet
            # schema itself; read_table_evolved resolves columns by id
            "schema_id": schema_id,
            # the partition spec the tuple below was written under: spec
            # EVOLUTION means a snapshot can mix files of different specs,
            # and the planner must prune each file with ITS OWN spec (a
            # real manifest records spec-id in its header; this per-entry
            # form is the flat-file equivalent)
            "spec_id": None,
            "partition": None,
            "lower_bounds": bounds[0] if bounds else None,
            "upper_bounds": bounds[1] if bounds else None,
            "null_value_counts": nulls,
        },
    }


def _commit(
    root: Path,
    version: int,
    meta: dict,
    snapshot_id: int,
    manifest_rows: list[dict],
    operation: str,
    ts_ms: int | None,
    branch: str | None = None,
    extra_summary: dict | None = None,
) -> int:
    """Write manifest list + new metadata version + hint (in that order).
    With ``branch``, the commit moves THAT ref's head instead of
    ``current-snapshot-id`` — main is untouched (the Iceberg branch-write
    contract; sequence numbers stay table-global)."""
    meta_dir = _meta_dir(root)
    ml = meta_dir / f"snap-{snapshot_id}-{version + 1}.avro"
    avro_lite.write_container(ml, _MANIFEST_FILE_SCHEMA, manifest_rows)
    now = _now_ms(ts_ms)
    seq = int(meta.get("last-sequence-number", 0)) + 1
    snapshots = list(meta.get("snapshots", []))
    # the spec's parent pointer: a branch commit forks from the BRANCH
    # head (implicit creation forks from main); it is what makes
    # ancestry — and so fast_forward's not-fast-forwardable check —
    # decidable from metadata alone
    if branch is not None and branch in meta.get("refs", {}):
        parent = meta["refs"][branch]["snapshot-id"]
    else:
        parent = meta.get("current-snapshot-id")
    if parent == -1:
        parent = None
    snap = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": now,
        "manifest-list": f"file://{ml}",
        "summary": {"operation": operation, **(extra_summary or {})},
    }
    if parent is not None:
        snap["parent-snapshot-id"] = int(parent)
    snapshots.append(snap)
    log = list(meta.get("snapshot-log", []))
    log.append({"snapshot-id": snapshot_id, "timestamp-ms": now})
    doc = dict(meta)
    doc.update(
        {
            "last-sequence-number": seq,
            "last-updated-ms": now,
            "snapshots": snapshots,
            "snapshot-log": log,
        }
    )
    if branch is None:
        doc["current-snapshot-id"] = snapshot_id
    else:
        refs = dict(doc.get("refs", {}))
        existing = refs.get(branch)
        if existing is not None and existing.get("type") == "tag":
            raise ValueError(f"ref {branch!r} is a tag — tags are immutable")
        refs[branch] = {"snapshot-id": snapshot_id, "type": "branch"}
        doc["refs"] = refs
    new_version = version + 1
    # exclusive create: a concurrent commit based on the same version
    # raises CommitConflict instead of silently losing a snapshot
    _write_new_metadata(meta_dir, new_version, doc)
    # the hint flips LAST: a concurrent reader sees either the old complete
    # table or the new complete table, never a half-commit
    tmp = meta_dir / "version-hint.text.tmp"
    tmp.write_text(str(new_version))
    os.replace(tmp, meta_dir / "version-hint.text")
    return snapshot_id


def _current_manifests(
    root: Path, meta: dict, branch: str | None = None
) -> list[dict]:
    """The head snapshot's manifest-list rows (empty for a fresh table).
    With ``branch``: that ref's head; a not-yet-existing branch forks from
    the current snapshot (Iceberg's implicit branch creation on write)."""
    snap_id = meta.get("current-snapshot-id")
    if branch is not None:
        ref = meta.get("refs", {}).get(branch)
        if ref is not None:
            snap_id = ref["snapshot-id"]
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if snap_id is None or snap_id == -1 or snap_id not in snaps:
        return []
    from .iceberg import _localize

    ml = _localize(snaps[snap_id]["manifest-list"], root)
    _, rows = avro_lite.read_container(ml)
    return rows


def rollback_to_snapshot(
    root: str | Path, snapshot_id: int, ts_ms: int | None = None
) -> int:
    """ROLLBACK the table to an earlier snapshot — the undo button after a
    bad commit: a METADATA-ONLY commit that points current-snapshot-id
    back at ``snapshot_id``. Nothing is deleted and the bad snapshots
    stay in history (readable by id, reapable by expire_snapshots), so
    rollback is itself reversible until expiration. Branch refs are
    untouched — only main moves."""
    root = Path(str(root))
    version, meta = _load_current(root)
    snaps = {s["snapshot-id"] for s in meta.get("snapshots", [])}
    if snapshot_id not in snaps:
        raise KeyError(f"snapshot {snapshot_id} not found (retained: {sorted(snaps)})")
    doc = dict(meta)
    doc["current-snapshot-id"] = int(snapshot_id)
    log = list(doc.get("snapshot-log", []))
    log.append(
        {"snapshot-id": int(snapshot_id), "timestamp-ms": _now_ms(ts_ms)}
    )
    doc["snapshot-log"] = log
    _commit_metadata_only(root, version, doc, ts_ms)
    return int(snapshot_id)


def fast_forward(
    root: str | Path, branch: str, ts_ms: int | None = None
) -> int:
    """PUBLISH a branch: fast-forward main to the branch head — the
    write-audit-publish (WAP) pattern's final step. Writers stage
    commits on an isolated branch (``append_snapshot(branch=...)``), an
    audit job validates the branch head, then publishing is this single
    METADATA-ONLY pointer move: atomic, nothing rewritten, and until it
    runs no reader of main ever saw the staged data. The branch ref
    survives (drop it separately once the audit trail is archived).

    Like Iceberg's ``fast_forward`` procedure this REFUSES a non-fast-
    forward move: main's current snapshot must be an ancestor of the
    branch head (or null). If main advanced after the branch forked,
    silently repointing would unpublish those commits — raise instead
    (the caller must rebase/merge the branch first)."""
    root = Path(str(root))
    version, meta = _load_current(root)
    ref = meta.get("refs", {}).get(branch)
    if ref is None:
        raise KeyError(f"branch {branch!r} not found")
    if ref.get("type") != "branch":
        raise ValueError(f"ref {branch!r} is a {ref.get('type')}, not a branch")
    head = int(ref["snapshot-id"])
    current = meta.get("current-snapshot-id")
    if current is not None and current != -1:
        snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
        ancestors, cursor = set(), head
        while cursor is not None and cursor in snaps:
            ancestors.add(cursor)
            cursor = snaps[cursor].get("parent-snapshot-id")
        if int(current) not in ancestors:
            raise ValueError(
                f"cannot fast-forward main to branch {branch!r}: current "
                f"snapshot {current} is not an ancestor of branch head "
                f"{head} (main advanced after the fork — not "
                "fast-forwardable)"
            )
    doc = dict(meta)
    doc["current-snapshot-id"] = head
    log = list(doc.get("snapshot-log", []))
    log.append({"snapshot-id": head, "timestamp-ms": _now_ms(ts_ms)})
    doc["snapshot-log"] = log
    _commit_metadata_only(root, version, doc, ts_ms)
    return head


def cherry_pick_snapshot(
    root: str | Path, snapshot_id: int, ts_ms: int | None = None
) -> int:
    """CHERRY-PICK an APPEND snapshot onto the CURRENT main head — the
    WAP publish path when main advanced after the audit branch forked
    and ``fast_forward`` correctly refuses (Iceberg's
    ``cherrypick_snapshot`` procedure). A NEW append snapshot is
    committed whose content = main's head + the files the picked
    snapshot ADDED; only its manifests are re-read, no data file moves.

    The re-applied entries are stamped with a NEW sequence number (and
    the new snapshot id): the cherry-picked commit is logically a fresh
    append, so position/equality deletes committed on main AFTER the
    branch forked — which have strictly smaller sequence numbers — must
    NOT apply to it (same strict-smaller-seq exemption
    rewrite_data_files relies on; carrying the branch-time sequence
    would let main's later deletes tombstone rows they never saw).
    Schema ids, spec ids and partition tuples ride along verbatim —
    field-id resolution and per-entry-spec pruning still work.

    Refuses a snapshot already in main's ancestry (re-applying would
    duplicate its rows) and any non-append operation (an overwrite's
    tombstones are relative to ITS parent, not main's head — Iceberg
    restricts cherry-pick the same way)."""
    from .iceberg import _localize

    root = Path(str(root))
    version, meta = _load_current(root)
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if int(snapshot_id) not in snaps:
        raise KeyError(
            f"snapshot {snapshot_id} not found (retained: {sorted(snaps)})"
        )
    src = snaps[int(snapshot_id)]
    op = src.get("summary", {}).get("operation")
    if op != "append":
        raise ValueError(
            f"cannot cherry-pick snapshot {snapshot_id}: operation is "
            f"{op!r}, only appends re-apply cleanly onto a moved head"
        )
    cur = meta.get("current-snapshot-id")
    cursor = cur if cur not in (None, -1) else None
    while cursor is not None and cursor in snaps:
        # the picked id may appear in ancestry directly (fast-forwarded)
        # or via a prior cherry-pick's source-snapshot-id stamp — Iceberg
        # records the same provenance to refuse duplicate publishes
        picked_src = snaps[cursor].get("summary", {}).get(
            "source-snapshot-id"
        )
        if cursor == int(snapshot_id) or picked_src == str(
            int(snapshot_id)
        ):
            raise ValueError(
                f"snapshot {snapshot_id} is already published on main "
                "— cherry-picking it again would duplicate its rows"
            )
        cursor = snaps[cursor].get("parent-snapshot-id")
    ml = _localize(src["manifest-list"], root)
    _, src_rows = avro_lite.read_container(ml)
    added = [
        r
        for r in src_rows
        if r.get("added_snapshot_id") == int(snapshot_id)
    ]
    if not added:
        raise ValueError(
            f"snapshot {snapshot_id} added no manifests — nothing to pick"
        )
    sid = int(meta.get("last-sequence-number", 0)) + 1
    eseq = sid
    entries = []
    for r in added:
        _, es = avro_lite.read_container(_localize(r["manifest_path"], root))
        for e in es:
            if e.get("status") == 2:
                continue  # defensive: appends never carry tombstones
            e = dict(e)
            e["status"] = 1
            e["snapshot_id"] = sid
            e["sequence_number"] = eseq
            entries.append(e)
    tag = uuid.uuid5(uuid.NAMESPACE_URL, f"pick-{sid}").hex[:8]
    m = _meta_dir(root) / f"m-{sid}-{tag}.avro"
    avro_lite.write_container(m, _MANIFEST_ENTRY_SCHEMA, entries)
    rows = _current_manifests(root, meta) + [
        {
            "manifest_path": f"file://{m}",
            "manifest_length": m.stat().st_size,
            "content": 0,
            "added_snapshot_id": sid,
        }
    ]
    return _commit(
        root,
        version,
        meta,
        sid,
        rows,
        "append",
        ts_ms,
        extra_summary={"source-snapshot-id": str(int(snapshot_id))},
    )


def rewrite_manifests(
    root: str | Path,
    ts_ms: int | None = None,
    target_entries_per_manifest: int = 100_000,
) -> tuple[int, int]:
    """Consolidate the head snapshot's manifest files — Iceberg's
    ``rewrite_manifests`` maintenance procedure. Every commit appends one
    (or two) manifests to the list, so a 1000-commit table plans every
    read through 1000 small manifest files: the metadata walk, not the
    data, becomes the bottleneck at operation cadence. This rewrites the
    CURRENT manifest list as one compacted manifest per content kind
    (data / deletes; ``target_entries_per_manifest`` splits bigger
    tables into ceil(n/target) files) and commits it as a METADATA-ONLY
    ``replace`` snapshot. Zero data files are touched.

    Live entries are copied VERBATIM — status, add-time ``snapshot_id``
    (which drives the sequence-number delete-applicability rules and the
    incremental scan), schema/spec ids, partition tuples and column
    bounds all survive byte-for-byte, so reads, stats/partition pruning
    and MOR delete attachment replay identically from the compacted
    metadata. Status-2 TOMBSTONE entries are dropped (readers skip them;
    prior snapshots keep their own manifest lists, so history/changelog
    and time travel are untouched — the old manifests stay on disk for
    them until :func:`expire_snapshots` reaps). Returns
    ``(n_manifests_before, n_manifests_after)``."""
    from . import avro_lite as _avro

    root = Path(str(root))
    version, meta = _load_current(root)
    cur = meta.get("current-snapshot-id")
    if cur is None or cur == -1:
        return (0, 0)
    before_rows = _current_manifests(root, meta)
    # bucket live entries by manifest-file content kind: data manifests
    # (entry data_file.content == 0) vs delete manifests (1 = positional,
    # 2 = equality — both live in content-1 manifest files)
    from .iceberg import _localize

    buckets: dict[int, list[dict]] = {0: [], 1: []}
    seq_of = {
        s["snapshot-id"]: s.get("sequence-number", 0)
        for s in meta.get("snapshots", [])
    }
    dropped = stamped = 0
    for mrow in before_rows:
        mp = _localize(mrow["manifest_path"], root)
        _, entries = _avro.read_container(mp)
        for e in entries:
            if e.get("status", 0) == 2:
                dropped += 1
                continue  # tombstone: no live content to carry forward
            if e.get("sequence_number") is None:
                # sequence INHERITANCE at rewrite: stamp legacy entries
                # while their add-snapshot is still in the metadata, so
                # the compacted manifests are self-contained across
                # future expirations
                e = dict(
                    e, sequence_number=seq_of.get(e.get("snapshot_id"), 0)
                )
                stamped += 1
            kind = 0 if e["data_file"].get("content", 0) == 0 else 1
            buckets[kind].append(e)
    n_chunks = sum(
        -(-len(v) // max(1, int(target_entries_per_manifest)))
        for v in buckets.values()
        if v
    )
    if n_chunks == len(before_rows) and dropped == 0 and stamped == 0:
        # already compact: no metadata churn, no empty commit
        return (len(before_rows), len(before_rows))
    sid = int(meta.get("last-sequence-number", 0)) + 1
    tag = uuid.uuid5(uuid.NAMESPACE_URL, f"rewrite-{sid}").hex[:8]
    chunk = max(1, int(target_entries_per_manifest))
    new_rows = []
    for kind in (0, 1):
        entries = buckets[kind]
        if not entries:
            continue
        for i in range(0, len(entries), chunk):
            m = _meta_dir(root) / f"m-{sid}-{tag}-c{kind}-{i // chunk}.avro"
            _avro.write_container(
                m, _MANIFEST_ENTRY_SCHEMA, entries[i : i + chunk]
            )
            new_rows.append(
                {
                    "manifest_path": f"file://{m}",
                    "manifest_length": m.stat().st_size,
                    "content": kind,
                    "added_snapshot_id": sid,
                }
            )
    _commit(root, version, meta, sid, new_rows, "replace", ts_ms)
    return (len(before_rows), len(new_rows))


def create_ref(
    root: str | Path,
    name: str,
    snapshot_id: int | None = None,
    kind: str = "tag",
    ts_ms: int | None = None,
    max_ref_age_ms: int | None = None,
) -> int:
    """Create a named REF — ``tag`` (immutable pointer, e.g. the snapshot
    a model was trained on) or ``branch`` (movable head for isolated
    writes) — as a METADATA-ONLY commit. Refs resolve on read (option
    ``ref``/``iceberg_ref_snapshot``) and PIN their snapshots against
    :func:`expire_snapshots` — unless ``max_ref_age_ms`` is set (the
    spec's per-ref ``max-ref-age-ms`` retention property): expiration
    then REMOVES the ref once ``now − referenced snapshot's
    timestamp-ms`` exceeds it (Iceberg's RemoveSnapshots measures ref
    age from the referenced snapshot's commit timestamp), after which
    the snapshot competes for retention like any other. Returns the
    pinned snapshot id."""
    if kind not in ("tag", "branch"):
        raise ValueError(f"ref kind must be 'tag' or 'branch', got {kind!r}")
    root = Path(str(root))
    version, meta = _load_current(root)
    sid = meta.get("current-snapshot-id") if snapshot_id is None else int(snapshot_id)
    if sid is None or sid == -1:
        raise ValueError("table has no snapshot to reference")
    if sid not in {s["snapshot-id"] for s in meta.get("snapshots", [])}:
        raise KeyError(f"snapshot {sid} not found")
    refs = dict(meta.get("refs", {}))
    if name in refs:
        raise ValueError(f"ref {name!r} already exists (drop_ref first)")
    refs[name] = {"snapshot-id": sid, "type": kind}
    if max_ref_age_ms is not None:
        if int(max_ref_age_ms) <= 0:
            raise ValueError("max_ref_age_ms must be positive")
        refs[name]["max-ref-age-ms"] = int(max_ref_age_ms)
    doc = dict(meta)
    doc["refs"] = refs
    _commit_metadata_only(root, version, doc, ts_ms)
    return sid


def drop_ref(root: str | Path, name: str, ts_ms: int | None = None) -> None:
    """Remove a named ref (metadata-only; the snapshot itself stays until
    expiration decides its fate)."""
    root = Path(str(root))
    version, meta = _load_current(root)
    refs = dict(meta.get("refs", {}))
    if name not in refs:
        raise KeyError(f"ref {name!r} not found")
    del refs[name]
    doc = dict(meta)
    doc["refs"] = refs
    _commit_metadata_only(root, version, doc, ts_ms)


def append_snapshot(
    root: str | Path,
    data_files: list[str | Path],
    snapshot_id: int | None = None,
    ts_ms: int | None = None,
    branch: str | None = None,
) -> int:
    """Commit an APPEND snapshot referencing ``data_files`` (already written
    under the table's data/ dir by the caller). Previous manifests are
    reused by reference — O(new files) metadata work. With ``branch``,
    the append forks from / extends that ref's head and moves ONLY the
    ref (main's current snapshot is untouched); a missing branch is
    created implicitly from the current snapshot."""
    root = Path(str(root))
    version, meta = _load_current(root)
    sid = (
        int(snapshot_id)
        if snapshot_id is not None
        else int(meta.get("last-sequence-number", 0)) + 1
    )
    eseq = int(meta.get("last-sequence-number", 0)) + 1
    m = _meta_dir(root) / f"m-{sid}-{uuid.uuid5(uuid.NAMESPACE_URL, str(sid)).hex[:8]}.avro"
    cur_schema = meta.get("current-schema-id")
    spec_fields = _default_spec(meta)
    entries = []
    next_row_id = meta.get("next-row-id")
    for p in data_files:
        e = _file_entry(
            p, 1, sid, schema_id=cur_schema, sequence_number=eseq
        )
        if spec_fields:
            e["data_file"]["partition"] = _partition_tuple(
                Path(str(p)), spec_fields
            )
            e["data_file"]["spec_id"] = meta.get("default-spec-id")
        if next_row_id is not None:
            # v3 row lineage: files claim consecutive row-id ranges in
            # append order; the table's next-row-id advances atomically
            # with this commit (it rides the same metadata doc)
            e["data_file"]["first_row_id"] = int(next_row_id)
            next_row_id += max(0, int(e["data_file"]["record_count"]))
        entries.append(e)
    if next_row_id is not None:
        meta = dict(meta, **{"next-row-id": int(next_row_id)})
    avro_lite.write_container(m, _MANIFEST_ENTRY_SCHEMA, entries)
    rows = _current_manifests(root, meta, branch=branch) + [
        {
            "manifest_path": f"file://{m}",
            "manifest_length": m.stat().st_size,
            "content": 0,
            "added_snapshot_id": sid,
        }
    ]
    return _commit(root, version, meta, sid, rows, "append", ts_ms, branch=branch)


def add_files(
    root: str | Path,
    source_files: list[str | Path],
    snapshot_id: int | None = None,
    ts_ms: int | None = None,
    check_duplicate_files: bool = True,
) -> int:
    """Iceberg's ``add_files`` import procedure: register parquet files
    that live OUTSIDE the table's data/ dir as live table data in ONE
    metadata-only append commit — zero bytes copied or rewritten. The
    entries record the files' absolute paths with stats bounds read from
    their footers, so imported files prune and plan exactly like written
    ones; orphan-file maintenance only walks the table dir, so imported
    files are never collected. With ``check_duplicate_files`` (the
    procedure's default) an import referencing a path already live in
    the table raises instead of double-counting its rows. Returns the
    new snapshot id."""
    from .iceberg import file_key

    root = Path(str(root))
    missing = [str(p) for p in source_files if not Path(str(p)).exists()]
    if missing:
        raise FileNotFoundError(f"add_files: missing {missing}")
    if check_duplicate_files:
        live = {file_key(p, root) for p in live_paths(root)}
        dups = [str(p) for p in source_files if file_key(p, root) in live]
        if dups:
            raise ValueError(
                f"add_files: already referenced by the table: {dups}"
            )
    return append_snapshot(
        root, source_files, snapshot_id=snapshot_id, ts_ms=ts_ms
    )


def overwrite_snapshot(
    root: str | Path,
    data_files: list[str | Path],
    snapshot_id: int | None = None,
    ts_ms: int | None = None,
) -> int:
    """Commit an OVERWRITE snapshot: the table's live content becomes
    exactly ``data_files`` (copy-on-write compaction / rewrite). The files
    previously live are recorded as DELETED entries in a tombstone manifest
    so the removal is explicit in history; old snapshots keep reading their
    own manifest lists untouched (time travel unaffected)."""
    from .iceberg import iceberg_scan_paths_static

    root = Path(str(root))
    version, meta = _load_current(root)
    sid = (
        int(snapshot_id)
        if snapshot_id is not None
        else int(meta.get("last-sequence-number", 0)) + 1
    )
    eseq = int(meta.get("last-sequence-number", 0)) + 1
    old_live = iceberg_scan_paths_static(root)
    tag = uuid.uuid5(uuid.NAMESPACE_URL, str(sid)).hex[:8]
    cur_schema = meta.get("current-schema-id")
    entries = [
        _file_entry(p, 1, sid, schema_id=cur_schema, sequence_number=eseq)
        for p in data_files
    ] + [_file_entry(p, 2, sid, sequence_number=eseq) for p in old_live]
    m = _meta_dir(root) / f"m-{sid}-{tag}.avro"
    avro_lite.write_container(m, _MANIFEST_ENTRY_SCHEMA, entries)
    rows = [
        {
            "manifest_path": f"file://{m}",
            "manifest_length": m.stat().st_size,
            "content": 0,
            "added_snapshot_id": sid,
        }
    ]
    return _commit(root, version, meta, sid, rows, "overwrite", ts_ms)


def _residual_ops() -> dict:
    """Predicate-op table for the DML paths' row-level residual masks —
    the same conjunction grammar the pruning planner speaks, including
    the isnull/notnull ops (whose literal slot is ignored)."""
    import pyarrow.compute as pc

    return {
        "==": pc.equal,
        "!=": pc.not_equal,
        ">=": pc.greater_equal,
        ">": pc.greater,
        "<=": pc.less_equal,
        "<": pc.less,
        "isnull": lambda arr, _lit: pc.is_null(arr),
        "notnull": lambda arr, _lit: pc.is_valid(arr),
    }


def _plan_matched_positions(
    root: Path, predicates: list[tuple]
) -> tuple[dict[str, list[int]], int, int, int]:
    """Shared DELETE planning for the v2 and v3 paths: prune candidate
    files from manifest metadata alone, read ONLY the predicate columns
    of those files, and return per-file matched row positions plus the
    count of NEWLY tombstoned rows — positions already in a deletion
    vector or a v2 position delete are matched again (deletes are sets)
    but not recounted. Returns ``(positions, n_deleted, files_scanned,
    files_total)``."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from .iceberg import (
        file_key,
        iceberg_scan_entries_static,
        iceberg_scan_paths_pruned,
        tombstones,
    )

    paths, total = iceberg_scan_paths_pruned(str(root), predicates)
    already = tombstones(iceberg_scan_entries_static(str(root)), root)
    cols = sorted({c for c, _, _ in predicates})
    ops = _residual_ops()
    positions: dict[str, list[int]] = {}
    n_deleted = 0
    for p in paths:
        # worker-side read discipline: no nested thread pool
        # (use_threads=False — CLAUDE.md), predicate columns only
        tbl = pq.read_table(p, columns=cols, use_threads=False)
        mask = None
        for c, op, lit in predicates:
            m = ops[op](tbl[c], lit)
            mask = m if mask is None else pc.and_(mask, m)
        idx = np.nonzero(
            pc.fill_null(mask, False).to_numpy(zero_copy_only=False)
        )[0]
        if idx.shape[0]:
            positions[str(p)] = [int(i) for i in idx]
            done = already.get(file_key(p, root), ())
            n_deleted += sum(1 for i in idx if int(i) not in done)
    return positions, n_deleted, len(paths), total


def delete_rows_snapshot(
    root: str | Path,
    positions: dict[str, list[int]],
    snapshot_id: int | None = None,
    ts_ms: int | None = None,
) -> int:
    """Commit a MERGE-ON-READ row delete: ``positions`` maps a live data
    file path to the 0-based row indices to tombstone. Writes one v2
    position-delete parquet (columns ``file_path`` string, ``pos`` long —
    the spec's schema, sorted by (file_path, pos) as the spec requires),
    referenced from a DELETE manifest (content 1) added alongside the
    previous snapshot's manifests. No data file is rewritten — the read
    side subtracts the (file, pos) rows at scan time
    (sources/iceberg.py tombstones)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .iceberg import file_key

    root = Path(str(root))
    version, meta = _load_current(root)
    sid = (
        int(snapshot_id)
        if snapshot_id is not None
        else int(meta.get("last-sequence-number", 0)) + 1
    )
    eseq = int(meta.get("last-sequence-number", 0)) + 1
    rows = sorted(
        (f"file://{file_key(p, root)}", int(i))
        for p, idxs in positions.items()
        for i in idxs
    )
    tag = uuid.uuid5(uuid.NAMESPACE_URL, str(sid)).hex[:8]
    del_file = root / "data" / f"delete-{sid}-{tag}.parquet"
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([r[0] for r in rows], pa.string()),
                "pos": pa.array([r[1] for r in rows], pa.int64()),
            }
        ),
        del_file,
    )
    entry = _file_entry(del_file, 1, sid, sequence_number=eseq)
    entry["data_file"]["content"] = 1  # position deletes
    m = _meta_dir(root) / f"m-{sid}-{tag}.avro"
    avro_lite.write_container(m, _MANIFEST_ENTRY_SCHEMA, [entry])
    manifest_rows = _current_manifests(root, meta) + [
        {
            "manifest_path": f"file://{m}",
            "manifest_length": m.stat().st_size,
            "content": 1,  # delete manifest
            "added_snapshot_id": sid,
        }
    ]
    return _commit(root, version, meta, sid, manifest_rows, "delete", ts_ms)


def delete_where(
    root: str | Path,
    predicates: list[tuple],
    snapshot_id: int | None = None,
    ts_ms: int | None = None,
) -> tuple[int, int, int]:
    """Row-level ``DELETE FROM ... WHERE`` over the static table — the
    GDPR / data-retention shape: plan the candidate files from MANIFEST
    METADATA ALONE (column-stats + per-spec partition pruning, O(manifest)
    not O(data)), read ONLY those files (and only the predicate columns),
    and commit the matching row POSITIONS as one merge-on-read
    position-delete snapshot. No data file is rewritten — at 100 TB a
    predicate delete touches the pruned candidate set once and writes
    kilobytes. ``predicates`` is the planner's conjunction form
    ``[(column, op, literal), ...]`` with op in ``== != >= > <= <``.

    Returns ``(n_deleted, files_scanned, files_total)``. Rows matched in
    files already carrying position tombstones are tombstoned again
    (position deletes are a set, so re-deleting is idempotent) but are
    NOT counted in ``n_deleted`` — the report is rows newly removed, not
    rows matched. Caveat: rows hidden by EQUALITY deletes are still
    counted (deciding whether an eq-delete covers a row means replaying
    the key join per row — the read side does that, this counter does
    not), so ``n_deleted`` can over-report on tables with prior
    equality-delete commits."""
    root = Path(str(root))
    positions, n_deleted, scanned, total = _plan_matched_positions(
        root, predicates
    )
    if positions:
        delete_rows_snapshot(
            root, positions, snapshot_id=snapshot_id, ts_ms=ts_ms
        )
    return n_deleted, scanned, total


def write_deletion_vectors(
    root: str | Path,
    positions: dict[str, list[int]],
    snapshot_id: int | None = None,
    ts_ms: int | None = None,
    extra_summary: dict | None = None,
) -> dict:
    """Commit row deletes as v3 DELETION VECTORS: one blob per data file
    holding every deleted position for that file, referenced from a
    position-delete manifest entry via ``referenced_data_file``. The two
    v3 invariants are enforced here, not left to readers:

    * **merge-on-write** — the new DV for a file is the UNION of the new
      positions, the file's previous DV (if any), and every v2
      position-delete row targeting it, so one blob is always the complete
      tombstone set for its file;
    * **supersede** — at most ONE live DV per data file: the previous DV's
      entry is dropped from its (rewritten) manifest and recorded as a
      status-2 tombstone in this commit's delete manifest, same explicit
      history as overwrite commits.

    Why this matters at scale: v2 position deletes accumulate one delete
    FILE per commit and every reader must open all of them; a DV keeps
    per-data-file delete state O(1) files regardless of how many delete
    commits touched it, which is the metadata shape that survives a
    100-TB table with a high delete cadence. Only manifests containing a
    superseded DV are rewritten (metadata-only, O(affected manifests)).

    Semantics reference: Apache Iceberg v3 table spec (public docs) —
    deletion vectors, ``referenced_data_file``, one-DV-per-file rule.
    Returns ``{"snapshot_id", "n_dvs", "n_superseded", "cardinality"}``."""
    from .iceberg import (
        _localize,
        encode_deletion_vector,
        file_key,
        iceberg_scan_entries_static,
        tombstones,
    )

    root = Path(str(root))
    version, meta = _load_current(root)
    sid = (
        int(snapshot_id)
        if snapshot_id is not None
        else int(meta.get("last-sequence-number", 0)) + 1
    )
    eseq = int(meta.get("last-sequence-number", 0)) + 1
    merged = {
        file_key(p, root): set(int(i) for i in idxs)
        for p, idxs in positions.items()
    }
    # merge-on-write: the previous DV and v2 position-delete rows of the
    # affected files
    for ref, prev in tombstones(iceberg_scan_entries_static(str(root)), root).items():
        if ref in merged:
            merged[ref] |= prev
    tag = uuid.uuid5(uuid.NAMESPACE_URL, f"dv-{sid}").hex[:8]
    new_entries = []
    for i, ref in enumerate(sorted(merged)):
        blob = root / "data" / f"dv-{sid}-{tag}-{i}.dv"
        blob.write_bytes(encode_deletion_vector(merged[ref]))
        new_entries.append(
            {
                "status": 1,
                "snapshot_id": sid,
                "sequence_number": eseq,
                "data_file": {
                    "content": 1,  # position delete, DV flavor
                    "file_path": f"file://{blob}",
                    "file_format": "dv",
                    "record_count": len(merged[ref]),
                    "file_size_in_bytes": blob.stat().st_size,
                    "referenced_data_file": f"file://{ref}",
                    "schema_id": None,
                    "spec_id": None,
                    "partition": None,
                    "lower_bounds": None,
                    "upper_bounds": None,
                },
            }
        )
    # supersede: strip the previous DVs of the affected files from their
    # manifests (only touched manifests are rewritten) and keep explicit
    # status-2 tombstones in this commit's delete manifest
    tombstones: list[dict] = []
    manifest_rows = []
    for mi, mrow in enumerate(_current_manifests(root, meta)):
        mp = _localize(mrow["manifest_path"], root)
        _, m_entries = avro_lite.read_container(mp)
        drop = [
            e
            for e in m_entries
            if e.get("status", 0) != 2
            and e["data_file"].get("referenced_data_file")
            and file_key(e["data_file"]["referenced_data_file"], root) in merged
        ]
        if not drop:
            manifest_rows.append(mrow)
            continue
        drop_ids = {id(e) for e in drop}
        kept = [e for e in m_entries if id(e) not in drop_ids]
        tombstones.extend(dict(e, status=2) for e in drop)
        if kept:
            rm = _meta_dir(root) / f"m-{sid}-{tag}-r{mi}.avro"
            avro_lite.write_container(rm, _MANIFEST_ENTRY_SCHEMA, kept)
            manifest_rows.append(
                {
                    "manifest_path": f"file://{rm}",
                    "manifest_length": rm.stat().st_size,
                    "content": mrow.get("content", 1),
                    "added_snapshot_id": sid,
                }
            )
    m = _meta_dir(root) / f"m-{sid}-{tag}.avro"
    avro_lite.write_container(
        m, _MANIFEST_ENTRY_SCHEMA, new_entries + tombstones
    )
    manifest_rows.append(
        {
            "manifest_path": f"file://{m}",
            "manifest_length": m.stat().st_size,
            "content": 1,
            "added_snapshot_id": sid,
        }
    )
    _commit(
        root,
        version,
        meta,
        sid,
        manifest_rows,
        "delete",
        ts_ms,
        extra_summary=extra_summary,
    )
    return {
        "snapshot_id": sid,
        "n_dvs": len(new_entries),
        "n_superseded": len(tombstones),
        "cardinality": {ref: len(ps) for ref, ps in sorted(merged.items())},
    }


def delete_where_dv(
    root: str | Path,
    predicates: list[tuple],
    snapshot_id: int | None = None,
    ts_ms: int | None = None,
) -> tuple[int, int, int, int, int]:
    """``DELETE FROM ... WHERE`` committed as v3 DELETION VECTORS — the
    same manifest-metadata-only planning as :func:`delete_where` (stats +
    per-spec partition pruning, predicate columns only read), but the
    matched positions land in one merged DV per file instead of an
    ever-growing pile of v2 delete parquets (see
    :func:`write_deletion_vectors` for the scale rationale). Returns
    ``(n_deleted, n_dvs, n_superseded, files_scanned, files_total)`` where
    ``n_deleted`` counts only NEWLY tombstoned rows — positions already in
    a DV or a v2 position delete are merged, not recounted."""
    root = Path(str(root))
    positions, n_deleted, scanned, total = _plan_matched_positions(
        root, predicates
    )
    n_dvs = n_sup = 0
    if positions:
        rep = write_deletion_vectors(
            root, positions, snapshot_id=snapshot_id, ts_ms=ts_ms
        )
        n_dvs, n_sup = rep["n_dvs"], rep["n_superseded"]
    return n_deleted, n_dvs, n_sup, scanned, total


def update_where(
    root: str | Path,
    predicates: list[tuple],
    assignments: list[tuple],
    snapshot_id: int | None = None,
    ts_ms: int | None = None,
) -> tuple[int, int, int]:
    """Row-level ``UPDATE ... SET ... WHERE`` over the static table — the
    third leg of the lakehouse DML triad (DELETE = :func:`delete_where`,
    MERGE = :func:`upsert_snapshot`). MERGE-ON-READ shape: candidate
    files are PLANNED from manifest metadata alone (same pruned planner
    as delete_where), matched LIVE rows are position-tombstoned and
    their updated copies appended — both legs in ONE atomic snapshot.
    The new data file commits at the new sequence number, so the spec's
    strict-smaller rule exempts it from every older position/equality
    delete; no existing data file is rewritten.

    Liveness (the part a naive update gets wrong): a matched row that an
    EARLIER commit already deleted must be neither re-emitted (that
    would resurrect it) nor counted — already-tombstoned positions are
    excluded, and equality deletes with strictly greater sequence than
    the file are replayed (the MOR read rule) before matching. A
    candidate file whose applicable equality-delete key columns cannot
    be resolved against its schema raises (an update that silently skips
    rows is a wrong answer, unlike compaction which may leave a file
    un-rewritten). Partitioned tables raise: updated rows can cross
    partition boundaries and this writer's fanout naming derives tuples
    from paths — use delete_where + a partitioned append instead.

    ``assignments`` is ``[(column, op, operand), ...]`` with op in
    ``set add mul`` applied left-to-right on the matched rows. Returns
    ``(n_updated, files_scanned, files_total)``."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from .iceberg import (
        file_key,
        iceberg_scan_entries_static,
        iceberg_scan_paths_pruned,
        tombstones,
    )

    root = Path(str(root))
    version, meta = _load_current(root)
    if _default_spec(meta):
        raise ValueError(
            "update_where on a partitioned table is not supported"
        )
    if meta.get("next-row-id") is not None:
        # the v3 carry rule (updated copies keep _row_id, bump
        # _last_updated_sequence_number) is not implemented for this
        # path — fail loudly rather than silently mint new identities
        raise NotImplementedError(
            "update_where does not carry row lineage yet"
        )
    paths, total = iceberg_scan_paths_pruned(str(root), predicates)
    entries = iceberg_scan_entries_static(str(root))
    by_path = {file_key(e["path"], root): e for e in entries["data"]}
    pos_map = tombstones(entries, root)
    ops = _residual_ops()
    positions: dict[str, list[int]] = {}
    updated: list[pa.Table] = []
    n_updated = 0
    for p in paths:
        norm = file_key(p, root)
        e = by_path[norm]
        tbl = pq.read_table(p, use_threads=False)
        live = np.ones(tbl.num_rows, dtype=bool)
        for i in pos_map.get(norm, ()):
            live[i] = False
        for d in entries["eq_deletes"]:
            if d["seq"] <= e["seq"]:
                continue
            k = pq.read_table(d["path"], use_threads=False)
            if not k.num_rows:
                continue
            if not set(k.column_names) <= set(tbl.column_names):
                raise ValueError(
                    f"equality-delete keys {k.column_names} unresolvable "
                    f"against {p}; refusing a partial update"
                )
            left = pd.MultiIndex.from_frame(
                tbl.select(k.column_names).to_pandas()
            )
            right = pd.MultiIndex.from_frame(k.to_pandas())
            live &= ~left.isin(right)
        mask = None
        for c, op, lit in predicates:
            m = ops[op](tbl[c], lit)
            mask = m if mask is None else pc.and_(mask, m)
        matched = (
            pc.fill_null(mask, False).to_numpy(zero_copy_only=False) & live
        )
        idx = np.nonzero(matched)[0]
        if not idx.shape[0]:
            continue
        positions[str(p)] = [int(i) for i in idx]
        n_updated += int(idx.shape[0])
        rows = tbl.take(pa.array(idx))
        for c, op, operand in assignments:
            col = rows[c]
            if op == "set":
                new = pa.array([operand] * rows.num_rows).cast(col.type)
            elif op == "add":
                new = pc.add(col, pa.scalar(operand).cast(col.type))
            elif op == "mul":
                new = pc.multiply(col, pa.scalar(operand).cast(col.type))
            else:
                raise ValueError(f"unknown assignment op {op!r}")
            rows = rows.set_column(
                rows.column_names.index(c), c, new.cast(col.type)
            )
        updated.append(rows)
    if not positions:
        return 0, len(paths), total
    sid = (
        int(snapshot_id)
        if snapshot_id is not None
        else int(meta.get("last-sequence-number", 0)) + 1
    )
    eseq = int(meta.get("last-sequence-number", 0)) + 1
    tag = uuid.uuid5(uuid.NAMESPACE_URL, str(sid)).hex[:8]
    # delete leg: one sorted position-delete parquet (spec schema/order)
    del_rows = sorted(
        (f"file://{file_key(p, root)}", i)
        for p, idxs in positions.items()
        for i in idxs
    )
    del_file = root / "data" / f"delete-{sid}-{tag}.parquet"
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([r[0] for r in del_rows], pa.string()),
                "pos": pa.array([r[1] for r in del_rows], pa.int64()),
            }
        ),
        del_file,
    )
    del_entry = _file_entry(del_file, 1, sid, sequence_number=eseq)
    del_entry["data_file"]["content"] = 1
    m_del = _meta_dir(root) / f"m-{sid}-{tag}-del.avro"
    avro_lite.write_container(m_del, _MANIFEST_ENTRY_SCHEMA, [del_entry])
    # data leg: the updated row versions at the SAME (new) sequence
    upd_file = root / "data" / f"update-{sid}-{tag}.parquet"
    pq.write_table(pa.concat_tables(updated), upd_file)
    data_entry = _file_entry(
        upd_file,
        1,
        sid,
        schema_id=meta.get("current-schema-id"),
        sequence_number=eseq,
    )
    m_data = _meta_dir(root) / f"m-{sid}-{tag}-data.avro"
    avro_lite.write_container(m_data, _MANIFEST_ENTRY_SCHEMA, [data_entry])
    manifest_rows = _current_manifests(root, meta) + [
        {
            "manifest_path": f"file://{m_data}",
            "manifest_length": m_data.stat().st_size,
            "content": 0,
            "added_snapshot_id": sid,
        },
        {
            "manifest_path": f"file://{m_del}",
            "manifest_length": m_del.stat().st_size,
            "content": 1,
            "added_snapshot_id": sid,
        },
    ]
    _commit(root, version, meta, sid, manifest_rows, "overwrite", ts_ms)
    return n_updated, len(paths), total


def equality_delete_snapshot(
    root: str | Path,
    keys_file: str | Path,
    snapshot_id: int | None = None,
    ts_ms: int | None = None,
) -> int:
    """Commit an EQUALITY delete (v2 content-2): every row of every
    EARLIER-sequence data file whose key columns match a row of
    ``keys_file`` (a parquet the caller wrote under data/; its columns ARE
    the equality key set — the reader derives them from the file schema,
    this writer's stand-in for the spec's equality_ids field-id list) is
    tombstoned at read time. Later-sequence appends are NOT affected —
    the spec's sequence rule, which is what lets a pipeline delete-then-
    re-insert a key in consecutive commits."""
    root = Path(str(root))
    version, meta = _load_current(root)
    sid = (
        int(snapshot_id)
        if snapshot_id is not None
        else int(meta.get("last-sequence-number", 0)) + 1
    )
    eseq = int(meta.get("last-sequence-number", 0)) + 1
    # the schema current at DELETE time: read_table_evolved resolves the
    # key columns by FIELD ID through it, so renames after (or before)
    # this commit cannot mis-key the tombstones
    entry = _file_entry(
        keys_file,
        1,
        sid,
        schema_id=meta.get("current-schema-id"),
        sequence_number=eseq,
    )
    entry["data_file"]["content"] = 2  # equality deletes
    tag = uuid.uuid5(uuid.NAMESPACE_URL, str(sid)).hex[:8]
    m = _meta_dir(root) / f"m-{sid}-{tag}.avro"
    avro_lite.write_container(m, _MANIFEST_ENTRY_SCHEMA, [entry])
    manifest_rows = _current_manifests(root, meta) + [
        {
            "manifest_path": f"file://{m}",
            "manifest_length": m.stat().st_size,
            "content": 1,  # delete manifest
            "added_snapshot_id": sid,
        }
    ]
    return _commit(root, version, meta, sid, manifest_rows, "delete", ts_ms)


def upsert_snapshot(
    root: str | Path,
    data_files: list[str | Path],
    keys_file: str | Path,
    snapshot_id: int | None = None,
    ts_ms: int | None = None,
) -> int:
    """MERGE / UPSERT as ONE atomic commit — the write shape of
    ``MERGE INTO t USING s ON t.key = s.key WHEN MATCHED UPDATE / WHEN NOT
    MATCHED INSERT``: an EQUALITY delete on the upserted keys plus the new
    row versions, committed under the SAME sequence number. The spec's
    strict-smaller sequence rule then does the merge at read time: the
    delete tombstones every OLDER copy of the keys while the new data file
    (equal sequence) survives — no read-modify-write of existing files, no
    window where a key is absent. ``keys_file`` is a parquet whose columns
    are the equality key set; ``data_files`` hold the new row versions
    (they need not all match a key — unmatched rows are plain inserts)."""
    root = Path(str(root))
    version, meta = _load_current(root)
    sid = (
        int(snapshot_id)
        if snapshot_id is not None
        else int(meta.get("last-sequence-number", 0)) + 1
    )
    eseq = int(meta.get("last-sequence-number", 0)) + 1
    cur_schema = meta.get("current-schema-id")
    spec_fields = _default_spec(meta)
    tag = uuid.uuid5(uuid.NAMESPACE_URL, str(sid)).hex[:8]
    # data manifest (ADDED rows)
    data_entries = []
    for p in data_files:
        e = _file_entry(
            p, 1, sid, schema_id=cur_schema, sequence_number=eseq
        )
        if spec_fields:
            e["data_file"]["partition"] = _partition_tuple(
                Path(str(p)), spec_fields
            )
            e["data_file"]["spec_id"] = meta.get("default-spec-id")
        data_entries.append(e)
    m_data = _meta_dir(root) / f"m-{sid}-{tag}-data.avro"
    avro_lite.write_container(m_data, _MANIFEST_ENTRY_SCHEMA, data_entries)
    # equality-delete manifest (content 2) in the SAME snapshot; the
    # recorded schema id lets evolved reads resolve the key columns by
    # field id across later renames
    del_entry = _file_entry(
        keys_file, 1, sid, schema_id=cur_schema, sequence_number=eseq
    )
    del_entry["data_file"]["content"] = 2
    m_del = _meta_dir(root) / f"m-{sid}-{tag}-del.avro"
    avro_lite.write_container(m_del, _MANIFEST_ENTRY_SCHEMA, [del_entry])
    manifest_rows = _current_manifests(root, meta) + [
        {
            "manifest_path": f"file://{m_data}",
            "manifest_length": m_data.stat().st_size,
            "content": 0,
            "added_snapshot_id": sid,
        },
        {
            "manifest_path": f"file://{m_del}",
            "manifest_length": m_del.stat().st_size,
            "content": 1,
            "added_snapshot_id": sid,
        },
    ]
    return _commit(root, version, meta, sid, manifest_rows, "overwrite", ts_ms)


def _referenced_paths(
    root: Path, snapshot_ids_subset, live_only: bool = False
) -> tuple[set, set]:
    """(manifest+manifest-list paths, data/delete file paths) referenced by
    the given snapshots. With ``live_only`` only entries a reader would
    scan count (status != DELETED) — a retained snapshot's status-2
    TOMBSTONE entry does not pin the underlying file, because readers skip
    it (expiration physically removes overwritten files while the
    tombstone row stays in the manifest, Iceberg's own behavior); without
    it every referenced path counts (the orphan-detection rule: a
    committed-then-tombstoned file is expiration's job, not an orphan)."""
    from .avro_lite import read_container
    from .iceberg import _localize, current_metadata, file_key

    meta = current_metadata(root)
    snaps = {sn["snapshot-id"]: sn for sn in meta.get("snapshots", [])}
    meta_paths: set = set()
    file_paths: set = set()
    for sid in snapshot_ids_subset:
        ml = _localize(snaps[sid]["manifest-list"], root)
        meta_paths.add(file_key(ml, root))
        _, manifests = read_container(ml)
        for m in manifests:
            mp = _localize(m["manifest_path"], root)
            meta_paths.add(file_key(mp, root))
            _, entries = read_container(mp)
            for e in entries:
                if live_only and e.get("status", 0) == 2:
                    continue
                file_paths.add(file_key(e["data_file"]["file_path"], root))
    return meta_paths, file_paths


def expire_snapshots(
    root: str | Path,
    keep_last: int = 1,
    ts_ms: int | None = None,
    dry_run: bool = False,
) -> dict:
    """Snapshot EXPIRATION (the table-maintenance commit every production
    Iceberg table runs): retain the ``keep_last`` most recent snapshots
    (the current one always survives), drop the rest from the snapshot
    list/log, and physically delete every manifest list, manifest, and
    data/delete file reachable ONLY from expired snapshots — computed as
    (referenced by expired) − (referenced by retained), so a file that a
    retained snapshot still references (even as a DELETED tombstone entry)
    is never touched. Time travel to an expired id then raises, exactly
    Iceberg's contract. Returns counts + the deleted paths; ``dry_run``
    reports without deleting or committing.

    Refs carrying ``max-ref-age-ms`` (see :func:`create_ref`) are aged
    FIRST: a ref whose referenced snapshot's ``timestamp-ms`` is more
    than that age before this expiration's ``ts_ms`` is REMOVED in the
    same commit (reported under ``removed_refs``), un-pinning its
    snapshot so it competes for retention like any other — Iceberg's
    RemoveSnapshots ref-retention rule. Pass an explicit ``ts_ms`` for
    deterministic aging."""
    root = Path(str(root))
    version, meta = _load_current(root)
    snaps = sorted(
        meta.get("snapshots", []), key=lambda sn: sn.get("sequence-number", 0)
    )
    if not snaps:
        return {"expired": [], "deleted_data_files": [], "deleted_meta_files": []}
    keep_last = max(1, int(keep_last))
    # age out refs whose max-ref-age-ms has lapsed (measured against the
    # referenced snapshot's commit timestamp, per the spec)
    now_ms = _now_ms(ts_ms)
    snap_ts = {
        sn["snapshot-id"]: sn.get("timestamp-ms", 0)
        for sn in meta.get("snapshots", [])
    }
    live_refs, removed_refs = {}, []
    for rname, r in meta.get("refs", {}).items():
        age_cap = r.get("max-ref-age-ms")
        if (
            age_cap is not None
            and now_ms - snap_ts.get(r["snapshot-id"], 0) > int(age_cap)
        ):
            removed_refs.append(rname)
        else:
            live_refs[rname] = r
    meta = dict(meta)
    meta["refs"] = live_refs
    # refs PIN their snapshots: a tagged/branched snapshot never expires
    # (Iceberg's retention contract — consumers address refs by name).
    # The current snapshot is always pinned too: branch commits carry
    # HIGHER sequence numbers than main's head, so "last N" alone could
    # otherwise drop it.
    pinned = {r["snapshot-id"] for r in live_refs.values()}
    cur = meta.get("current-snapshot-id")
    if cur is not None and cur != -1:
        pinned.add(cur)
    retained = [
        sn
        for i, sn in enumerate(snaps)
        if i >= len(snaps) - keep_last or sn["snapshot-id"] in pinned
    ]
    if cur not in {sn["snapshot-id"] for sn in retained}:
        raise ValueError("expiration must retain the current snapshot")
    expired = [sn for sn in snaps if sn not in retained]
    if not expired:
        # an aged-out ref is still a metadata change that must commit
        # even when every snapshot survives retention
        if removed_refs and not dry_run:
            _commit_metadata_only(root, version, dict(meta), ts_ms)
        return {
            "expired": [],
            "deleted_data_files": [],
            "deleted_meta_files": [],
            "removed_refs": removed_refs,
        }
    keep_ids = [sn["snapshot-id"] for sn in retained]
    drop_ids = [sn["snapshot-id"] for sn in expired]
    keep_meta, keep_files = _referenced_paths(root, keep_ids, live_only=True)
    drop_meta, drop_files = _referenced_paths(root, drop_ids)
    dead_meta = sorted(drop_meta - keep_meta)
    dead_files = sorted(drop_files - keep_files)
    # statistics files of expired snapshots expire with them (Iceberg's
    # expire_snapshots removes their Puffin files and metadata entries)
    from .iceberg import file_key

    drop_set = set(drop_ids)
    dead_stats = [
        file_key(s["statistics-path"], root)
        for kind in ("statistics", "partition-statistics")
        for s in meta.get(kind, [])
        if s.get("snapshot-id") in drop_set
    ]
    dead_meta = sorted(set(dead_meta) | set(dead_stats))
    if not dry_run:
        for pth in dead_meta + dead_files:
            Path(pth).unlink(missing_ok=True)
        doc = dict(meta)
        doc["snapshots"] = [
            sn for sn in meta.get("snapshots", [])
            if sn["snapshot-id"] not in drop_set
        ]
        doc["snapshot-log"] = [
            enty for enty in meta.get("snapshot-log", [])
            if enty.get("snapshot-id") not in drop_set
        ]
        for kind in ("statistics", "partition-statistics"):
            if meta.get(kind):
                doc[kind] = [
                    s
                    for s in meta[kind]
                    if s.get("snapshot-id") not in drop_set
                ]
        _commit_metadata_only(root, version, doc, ts_ms)
    return {
        "expired": drop_ids,
        "deleted_data_files": dead_files,
        "deleted_meta_files": dead_meta,
        "removed_refs": removed_refs,
    }


def write_table_stats(
    root: str | Path,
    blobs: dict[str, tuple[bytes, int]],
    snapshot_id: int | None = None,
    ts_ms: int | None = None,
) -> str:
    """Attach per-column NDV statistics to a snapshot — the flat-file
    analog of Iceberg's PUFFIN statistics files (spec: a stats file of
    ``apache-datasketches-theta-v1`` blobs, referenced from table
    metadata's ``statistics`` list keyed by snapshot id; engines read the
    NDVs for join ordering / cost estimates without scanning data).
    ``blobs`` maps column name to ``(serialized_sketch_bytes, ndv)`` —
    the CALLER builds the sketches (the distributed bottom-k/theta build
    in operators.aggregate), this writer persists one parquet stats file
    under metadata/ and records it in a METADATA-ONLY commit. Re-writing
    stats for a snapshot that already has an entry REPLACES that entry
    (Iceberg's setStatistics semantics: at most one statistics file per
    snapshot). Returns the stats file path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = Path(str(root))
    version, meta = _load_current(root)
    sid = (
        int(snapshot_id)
        if snapshot_id is not None
        else int(meta.get("current-snapshot-id"))
    )
    if sid == -1:
        raise ValueError("no snapshot to attach statistics to")
    known = {sn["snapshot-id"] for sn in meta.get("snapshots", [])}
    if sid not in known:
        raise ValueError(f"unknown snapshot id {sid}")
    tag = uuid.uuid5(uuid.NAMESPACE_URL, f"stats-{sid}").hex[:8]
    cols = sorted(blobs)
    path = _meta_dir(root) / f"stats-{sid}-{tag}.parquet"
    pq.write_table(
        pa.table(
            {
                "column": pa.array(cols, pa.string()),
                "blob_type": pa.array(
                    ["bottomk-theta-v1"] * len(cols), pa.string()
                ),
                "blob": pa.array([blobs[c][0] for c in cols], pa.binary()),
                "ndv": pa.array(
                    [int(blobs[c][1]) for c in cols], pa.int64()
                ),
            }
        ),
        path,
    )
    doc = dict(meta)
    stats = [
        s
        for s in meta.get("statistics", [])
        if s.get("snapshot-id") != sid
    ]
    stats.append(
        {
            "snapshot-id": sid,
            "statistics-path": f"file://{path}",
            "blob-count": len(cols),
        }
    )
    doc["statistics"] = stats
    _commit_metadata_only(root, version, doc, ts_ms)
    return str(path)


def read_table_stats(
    root: str | Path, snapshot_id: int | None = None
) -> dict[str, dict]:
    """Read the NDV statistics attached to a snapshot (default: current).
    Returns ``{column: {"ndv": int, "blob": bytes, "blob_type": str}}``;
    raises KeyError when the snapshot has no statistics — a cost model
    must KNOW stats are absent, not see zeros."""
    import pyarrow.parquet as pq

    root = Path(str(root))
    _, meta = _load_current(root)
    sid = (
        int(snapshot_id)
        if snapshot_id is not None
        else int(meta.get("current-snapshot-id"))
    )
    entry = next(
        (
            s
            for s in meta.get("statistics", [])
            if s.get("snapshot-id") == sid
        ),
        None,
    )
    if entry is None:
        raise KeyError(f"snapshot {sid} has no statistics file")
    from .iceberg import _localize

    local = _localize(entry["statistics-path"], root)
    t = pq.read_table(local, use_threads=False)
    return {
        c: {"ndv": int(n), "blob": bytes(b), "blob_type": bt}
        for c, bt, b, n in zip(
            t["column"].to_pylist(),
            t["blob_type"].to_pylist(),
            t["blob"].to_pylist(),
            t["ndv"].to_pylist(),
        )
    }


def write_partition_stats(
    root: str | Path,
    snapshot_id: int | None = None,
    ts_ms: int | None = None,
) -> str:
    """Compute and attach PARTITION STATISTICS to a snapshot — the
    flat-file analog of Iceberg's partition statistics files (spec v3
    ``partition-statistics``: one file per snapshot holding per-partition
    record/file counts so engines can answer partition-level planning
    questions — "how big is each partition?", "is this backfill skewed?"
    — from METADATA, zero data files opened). Derived entirely from the
    snapshot's live manifest entries (partition tuple, record_count,
    file_size are already in each entry); partitions serialize as
    sorted-key JSON. Re-writing REPLACES the snapshot's entry (at most
    one partition-stats file per snapshot, mirroring setStatistics).
    MOR caveat: counts are of LIVE DATA FILES — rows tombstoned by
    pos/eq deletes are still in record_count, exactly like the real
    partition-stats spec (which tracks data-record counts per partition
    before delete application). Returns the stats file path."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .iceberg import iceberg_scan_entries_static

    root = Path(str(root))
    version, meta = _load_current(root)
    sid = (
        int(snapshot_id)
        if snapshot_id is not None
        else int(meta.get("current-snapshot-id"))
    )
    if sid == -1:
        raise ValueError("no snapshot to attach partition statistics to")
    if sid not in {sn["snapshot-id"] for sn in meta.get("snapshots", [])}:
        raise ValueError(f"unknown snapshot id {sid}")
    acc: dict[tuple[int | None, str], list[int]] = {}
    for e in iceberg_scan_entries_static(str(root), snapshot_id=sid)["data"]:
        key = (
            e.get("spec_id"),
            _json.dumps(e.get("partition") or {}, sort_keys=True),
        )
        a = acc.setdefault(key, [0, 0, 0])
        a[0] += 1
        a[1] += int(e.get("record_count") or 0)
        a[2] += int(e.get("file_size") or 0)
    keys = sorted(acc, key=lambda k: (k[0] if k[0] is not None else -1, k[1]))
    tag = uuid.uuid5(uuid.NAMESPACE_URL, f"pstats-{sid}").hex[:8]
    path = _meta_dir(root) / f"partition-stats-{sid}-{tag}.parquet"
    pq.write_table(
        pa.table(
            {
                "partition": pa.array([k[1] for k in keys], pa.string()),
                "spec_id": pa.array(
                    [k[0] if k[0] is not None else -1 for k in keys],
                    pa.int32(),
                ),
                "n_files": pa.array([acc[k][0] for k in keys], pa.int64()),
                "record_count": pa.array(
                    [acc[k][1] for k in keys], pa.int64()
                ),
                "total_size_bytes": pa.array(
                    [acc[k][2] for k in keys], pa.int64()
                ),
            }
        ),
        path,
    )
    doc = dict(meta)
    stats = [
        s
        for s in meta.get("partition-statistics", [])
        if s.get("snapshot-id") != sid
    ]
    stats.append(
        {"snapshot-id": sid, "statistics-path": f"file://{path}"}
    )
    doc["partition-statistics"] = stats
    _commit_metadata_only(root, version, doc, ts_ms)
    return str(path)


def read_partition_stats(
    root: str | Path, snapshot_id: int | None = None
) -> list[dict]:
    """Read the partition statistics attached to a snapshot (default:
    current). Returns a list of ``{"partition": dict, "spec_id": int,
    "n_files": int, "record_count": int, "total_size_bytes": int}``
    sorted by partition JSON; raises KeyError when absent — a planner
    must KNOW stats are missing, not see an empty table."""
    import json as _json

    import pyarrow.parquet as pq

    from .iceberg import _localize

    root = Path(str(root))
    _, meta = _load_current(root)
    sid = (
        int(snapshot_id)
        if snapshot_id is not None
        else int(meta.get("current-snapshot-id"))
    )
    entry = next(
        (
            s
            for s in meta.get("partition-statistics", [])
            if s.get("snapshot-id") == sid
        ),
        None,
    )
    if entry is None:
        raise KeyError(f"snapshot {sid} has no partition statistics")
    local = _localize(entry["statistics-path"], root)
    t = pq.read_table(local, use_threads=False)
    return [
        {
            "partition": _json.loads(p),
            "spec_id": int(sp),
            "n_files": int(nf),
            "record_count": int(rc),
            "total_size_bytes": int(sz),
        }
        for p, sp, nf, rc, sz in zip(
            t["partition"].to_pylist(),
            t["spec_id"].to_pylist(),
            t["n_files"].to_pylist(),
            t["record_count"].to_pylist(),
            t["total_size_bytes"].to_pylist(),
        )
    ]


def orphan_files(root: str | Path) -> list[str]:
    """Files under data/ referenced by NO retained snapshot — what a crashed
    writer leaves behind (data written, commit never happened). Detection
    only; the caller decides on a deletion grace period, as Iceberg's
    remove_orphan_files does (files younger than the newest in-flight
    commit window must survive)."""
    from .iceberg import file_key

    root = Path(str(root))
    _, meta = _load_current(root)
    ids = [sn["snapshot-id"] for sn in meta.get("snapshots", [])]
    _, referenced = _referenced_paths(root, ids)
    out = []
    for p in sorted((root / "data").rglob("*")):
        if p.is_file() and file_key(p, root) not in referenced:
            out.append(str(p))
    return out


def remove_orphan_files(
    root: str | Path, older_than_ms: int, now_ms: int | None = None
) -> list[str]:
    """DELETE orphan data files older than ``older_than_ms`` — the action
    half of :func:`orphan_files` (Iceberg's remove_orphan_files
    procedure). The age guard is MANDATORY: a file younger than the
    in-flight-commit window may belong to a writer whose snapshot commit
    simply hasn't landed yet — deleting it would corrupt that commit the
    moment it publishes (Iceberg defaults the cutoff to 3 days for the
    same reason). Age = file mtime vs ``now_ms`` (wall clock when None).
    Orphan detection re-runs against current metadata at call time, so a
    file that became referenced since a prior listing survives. Returns
    the deleted paths; idempotent — a second call deletes nothing."""
    root = Path(str(root))
    now = _now_ms(now_ms)
    deleted = []
    for p in orphan_files(root):
        path = Path(p)
        try:
            mtime_ms = int(path.stat().st_mtime * 1000)
        except FileNotFoundError:
            continue  # raced with another cleaner — already gone
        if now - mtime_ms >= older_than_ms:
            path.unlink()
            deleted.append(str(path))
    return deleted


def snapshot_ids(root: str | Path) -> list[int]:
    """Committed snapshot ids, oldest first."""
    _, meta = _load_current(Path(str(root)))
    snaps = sorted(
        meta.get("snapshots", []), key=lambda s: s.get("sequence-number", 0)
    )
    return [s["snapshot-id"] for s in snaps]


def live_paths(root: str | Path, snapshot_id: int | None = None) -> list[str]:
    from .iceberg import iceberg_scan_paths_static

    return iceberg_scan_paths_static(root, snapshot_id=snapshot_id)


def rewrite_data_files(
    root: str | Path,
    target_bytes: int = 64 * 1024 * 1024,
    ts_ms: int | None = None,
    sort_by: list[str] | None = None,
) -> dict:
    """Small-file COMPACTION — Iceberg's ``rewrite_data_files`` bin-pack
    procedure, the data-side twin of :func:`rewrite_manifests`. Streaming
    sinks and frequent commits leave a 100 TB table with millions of
    KB-sized files; scan cost then tracks FILE COUNT (open/footer/seek),
    not bytes. This selects live data files smaller than ``target_bytes``,
    groups them by (schema_id, spec_id, partition tuple) so compaction
    never mixes schemas or breaks partition purity, bin-packs each group
    to ~``target_bytes``, rewrites every bin with >= 2 files into one
    consolidated parquet, and commits remove+add as ONE snapshot whose
    manifest list carries every untouched entry verbatim.

    Delete interplay (the part a naive rewrite gets wrong): rewritten
    rows are read through the MERGE-ON-READ view — position deletes are
    subtracted and equality deletes with strictly greater sequence are
    anti-joined (order-preserving mask, deterministic output) — because
    the consolidated file commits at the NEW sequence number, which
    exempts it from those older deletes; carrying the rows without
    applying the deletes would resurrect them. Untouched files keep
    their explicit per-entry sequence numbers, so deletes keep applying
    to them unchanged. A file whose applicable equality-delete key
    columns cannot be resolved against its schema (mid-evolution) is
    left un-rewritten — never a silent resurrect. Old files stay on
    disk for time travel until :func:`expire_snapshots` reaps them.

    With ``sort_by`` (Iceberg's ``strategy => 'sort'``), the procedure
    re-CLUSTERS instead of bin-packing: EVERY rewritable live data file
    joins its (schema, spec, partition) group regardless of size, each
    group's MOR-read rows are globally sorted on the given columns, and
    the sorted stream is split into ~``target_bytes`` output files with
    NON-OVERLAPPING sort-key ranges — which is what turns min/max stats
    pruning back on for a table whose files all span the full key range
    (each output file's footer bounds cover a disjoint slice, so a point
    or range predicate plans a single file instead of all of them).

    Returns ``{"files_before", "files_after", "files_rewritten",
    "files_written", "rows_rewritten"}`` (data files only)."""
    import json as _json

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .iceberg import _localize, file_key, iceberg_scan_entries_static, tombstones

    root = Path(str(root))
    version, meta = _load_current(root)
    cur = meta.get("current-snapshot-id")
    entries = iceberg_scan_entries_static(str(root))
    data = entries["data"]
    result = {
        "files_before": len(data),
        "files_after": len(data),
        "files_rewritten": 0,
        "files_written": 0,
        "rows_rewritten": 0,
    }
    if cur is None or cur == -1 or not data:
        return result
    eqs = entries["eq_deletes"]
    pos_map = tombstones(entries, root)

    def _eq_cols(path: str) -> list[str]:
        return pq.read_schema(path).names

    def _can_rewrite(e: dict) -> bool:
        file_cols = set(pq.read_schema(e["path"]).names)
        return all(
            set(_eq_cols(d["path"])) <= file_cols
            for d in eqs
            if d["seq"] > e["seq"]
        )

    # candidates: small files, grouped so a bin never mixes schemas,
    # specs, or partition tuples
    groups: dict[str, list[dict]] = {}
    for e in data:
        if sort_by is None and (e.get("file_size") or 0) >= int(target_bytes):
            continue
        if eqs and not _can_rewrite(e):
            continue
        key = _json.dumps(
            [e.get("schema_id"), e.get("spec_id"), e.get("partition")],
            sort_keys=True,
        )
        groups.setdefault(key, []).append(e)
    bins: list[list[dict]] = []
    if sort_by is not None:
        # sort strategy: one bin per group — the whole group re-sorts
        # together (range-splitting happens at write time below)
        bins = [
            sorted(groups[key], key=lambda x: x["path"])
            for key in sorted(groups)
        ]
        bins = [b for b in bins if b]
    else:
        for key in sorted(groups):
            cur_bin: list[dict] = []
            size = 0
            for e in sorted(groups[key], key=lambda x: x["path"]):
                if cur_bin and size + (e.get("file_size") or 0) > int(target_bytes):
                    bins.append(cur_bin)
                    cur_bin, size = [], 0
                cur_bin.append(e)
                size += e.get("file_size") or 0
            if cur_bin:
                bins.append(cur_bin)
        bins = [b for b in bins if len(b) >= 2]
    if not bins:
        return result

    lineage = meta.get("next-row-id") is not None

    def _mor_read(e: dict) -> pa.Table:
        tbl = pq.read_table(e["path"], use_threads=False)
        if lineage and "_row_id" not in tbl.column_names:
            # v3 rule: a rewrite MUST materialize lineage — position
            # arithmetic cannot survive row reordering/consolidation
            if e.get("first_row_id") is None:
                raise ValueError(
                    f"lineage table data file {e['path']!r} has no "
                    "first_row_id assignment to materialize from"
                )
            first = int(e["first_row_id"])
            tbl = tbl.append_column(
                "_row_id",
                pa.array(range(first, first + tbl.num_rows), pa.int64()),
            ).append_column(
                "_last_updated_sequence_number",
                pa.array([int(e["seq"])] * tbl.num_rows, pa.int64()),
            )
        drop = pos_map.get(file_key(e["path"], root))
        if drop:
            keep = np.setdiff1d(
                np.arange(tbl.num_rows, dtype=np.int64),
                np.fromiter(drop, dtype=np.int64),
            )
            tbl = tbl.take(pa.array(keep))
        for d in eqs:
            if d["seq"] <= e["seq"]:
                continue
            k = pq.read_table(d["path"], use_threads=False)
            if not k.num_rows:
                continue
            import pandas as pd

            cols = k.column_names
            left = pd.MultiIndex.from_frame(tbl.select(cols).to_pandas())
            right = pd.MultiIndex.from_frame(k.to_pandas())
            tbl = tbl.filter(pa.array(~left.isin(right)))
        return tbl

    sid = int(meta.get("last-sequence-number", 0)) + 1
    eseq = sid
    tag = uuid.uuid5(uuid.NAMESPACE_URL, f"compact-{sid}").hex[:8]
    rewritten_paths: set[str] = set()
    new_entries: list[dict] = []
    for i, b in enumerate(bins):
        tbl = pa.concat_tables([_mor_read(e) for e in b], promote_options="default")
        proto = b[0]
        if sort_by is not None:
            tbl = tbl.sort_by([(c, "ascending") for c in sort_by])
            in_bytes = sum(int(e.get("file_size") or 0) for e in b)
            n_out = max(
                1, -(-in_bytes // int(target_bytes))
            )  # ceil division
            step = -(-tbl.num_rows // n_out) if tbl.num_rows else 1
            slices = [
                tbl.slice(off, step)
                for off in range(0, tbl.num_rows, step)
            ] or [tbl]
        else:
            slices = [tbl]
        for j, part in enumerate(slices):
            suffix = f"{i}" if sort_by is None else f"{i}-{j}"
            out = root / "data" / f"compact-{sid}-{tag}-{suffix}.parquet"
            pq.write_table(part, out)
            ne = _file_entry(
                out, 1, sid,
                schema_id=proto.get("schema_id"),
                sequence_number=eseq,
            )
            ne["data_file"]["spec_id"] = proto.get("spec_id")
            ne["data_file"]["partition"] = proto.get("partition")
            new_entries.append(ne)
            result["rows_rewritten"] += part.num_rows
        rewritten_paths.update(file_key(e["path"], root) for e in b)
    # fresh manifest list: carried live entries verbatim (explicit
    # sequence numbers stamped, tombstones dropped) minus the rewritten
    # files, plus the consolidated files — same construction as
    # rewrite_manifests, so this commit is also a manifest compaction
    seq_of = {
        s["snapshot-id"]: s.get("sequence-number", 0)
        for s in meta.get("snapshots", [])
    }
    buckets: dict[int, list[dict]] = {0: [], 1: []}
    for mrow in _current_manifests(root, meta):
        mp = _localize(mrow["manifest_path"], root)
        _, m_entries = avro_lite.read_container(mp)
        for e in m_entries:
            if e.get("status", 0) == 2:
                continue
            if file_key(e["data_file"]["file_path"], root) in rewritten_paths:
                continue
            if e.get("sequence_number") is None:
                e = dict(
                    e, sequence_number=seq_of.get(e.get("snapshot_id"), 0)
                )
            kind = 0 if e["data_file"].get("content", 0) == 0 else 1
            buckets[kind].append(e)
    buckets[0].extend(new_entries)
    # delete-entry garbage collection (Iceberg's rewrite_position_delete
    # _files intent, folded into this commit): a position delete whose
    # referenced data files are all gone from the live set, or an
    # equality delete with no strictly-smaller-sequence live data file
    # left, can never tombstone anything again — dropping them is what
    # lets stats-only readers (iceberg_metadata_aggregates) turn back on
    # after a compaction folded all deletes in
    live_norm = {file_key(e["data_file"]["file_path"], root) for e in buckets[0]}
    min_live_seq = min(
        (int(e.get("sequence_number") or 0) for e in buckets[0]),
        default=0,
    )

    def _delete_still_applies(e: dict) -> bool:
        dfrec = e["data_file"]
        if dfrec.get("referenced_data_file"):  # v3 DV: single-file keyed
            return file_key(dfrec["referenced_data_file"], root) in live_norm
        if dfrec.get("content", 0) == 1:  # position delete: path-keyed
            dpath = _localize(dfrec["file_path"], root)
            try:
                refs = tombstones({"pos_deletes": [{"path": dpath}]}, root)
            except Exception:
                return True  # unreadable: keep, never silently drop
            return not live_norm.isdisjoint(refs)
        # equality delete: applies to strictly smaller sequences only
        return min_live_seq < int(e.get("sequence_number") or 0)

    buckets[1] = [e for e in buckets[1] if _delete_still_applies(e)]
    new_rows = []
    for kind in (0, 1):
        if not buckets[kind]:
            continue
        m = _meta_dir(root) / f"m-{sid}-{tag}-c{kind}.avro"
        avro_lite.write_container(m, _MANIFEST_ENTRY_SCHEMA, buckets[kind])
        new_rows.append(
            {
                "manifest_path": f"file://{m}",
                "manifest_length": m.stat().st_size,
                "content": kind,
                "added_snapshot_id": sid,
            }
        )
    _commit(root, version, meta, sid, new_rows, "replace", ts_ms)
    result["files_after"] = len(data) - len(rewritten_paths) + len(new_entries)
    result["files_rewritten"] = len(rewritten_paths)
    result["files_written"] = len(new_entries)
    return result


def rewrite_position_deletes(
    root: str | Path,
    ts_ms: int | None = None,
) -> tuple[int, int, int, int]:
    """Compact the head snapshot's POSITION-DELETE files — Iceberg's
    ``rewrite_position_delete_files`` maintenance procedure. Every
    row-level delete commit appends its own small pos-delete parquet, so
    a table under steady DELETE traffic makes every MERGE-ON-READ scan
    open hundreds of kilobyte-sized delete files; this merges them into
    ONE spec-shaped file (``file_path`` string, ``pos`` long, sorted by
    (file_path, pos) as the spec requires), DEDUPED on the (``file_key``,
    pos) key, and drops DANGLING rows — tombstones pointing at data files
    no longer in the live set (compaction/overwrite removed them), which
    can never subtract anything again.

    The commit is a ``replace`` snapshot: data entries, equality-delete
    entries and deletion vectors carry VERBATIM (status, sequence numbers,
    bounds, spec/schema ids — stats pruning and eq-delete applicability
    replay identically); the merged pos-delete entry is stamped with the
    MAX input sequence number. Position deletes are applied path-keyed
    (sources/iceberg.py tombstones), and rewritten data
    files always take fresh paths, so widening the sequence cannot
    re-attach a tombstone to a row it never covered. Prior snapshots
    keep their own manifest lists (time travel / changelog untouched);
    the old delete files become :func:`expire_snapshots` food.

    Returns ``(n_pos_files_before, n_pos_files_after, n_rows_before,
    n_rows_after)``; no-ops (no commit) when the table is already
    compact (≤1 pos-delete file and zero dangling/duplicate rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .iceberg import _localize, file_key, tombstones

    root = Path(str(root))
    version, meta = _load_current(root)
    cur = meta.get("current-snapshot-id")
    if cur is None or cur == -1:
        return (0, 0, 0, 0)
    seq_of = {
        s["snapshot-id"]: s.get("sequence-number", 0)
        for s in meta.get("snapshots", [])
    }
    data: list[dict] = []
    pos_entries: list[dict] = []
    carried: list[dict] = []  # equality deletes and DVs
    for mrow in _current_manifests(root, meta):
        mp = _localize(mrow["manifest_path"], root)
        _, entries = avro_lite.read_container(mp)
        for e in entries:
            if e.get("status", 0) == 2:
                continue
            if e.get("sequence_number") is None:
                e = dict(
                    e, sequence_number=seq_of.get(e.get("snapshot_id"), 0)
                )
            df_rec = e["data_file"]
            if df_rec.get("content", 0) == 0:
                data.append(e)
            elif df_rec["content"] == 1 and not df_rec.get("referenced_data_file"):
                pos_entries.append(e)
            else:
                carried.append(e)
    n_before = len(pos_entries)
    if n_before == 0:
        return (0, 0, 0, 0)
    live = {file_key(e["data_file"]["file_path"], root) for e in data}
    rows_before = sum(int(e["data_file"]["record_count"]) for e in pos_entries)
    tomb = tombstones(
        {
            "pos_deletes": [
                {"path": _localize(e["data_file"]["file_path"], root)}
                for e in pos_entries
            ]
        },
        root,
    )
    merged = sorted((k, i) for k, ps in tomb.items() if k in live for i in ps)
    rows_after = len(merged)
    if n_before <= 1 and rows_after == rows_before:
        return (n_before, n_before, rows_before, rows_before)
    sid = int(meta.get("last-sequence-number", 0)) + 1
    tag = uuid.uuid5(uuid.NAMESPACE_URL, f"rewrite-pos-{sid}").hex[:8]
    delete_bucket = list(carried)
    n_after = 0
    if rows_after:
        del_file = root / "data" / f"delete-compact-{sid}-{tag}.parquet"
        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array(
                        [f"file://{p}" for p, _ in merged], pa.string()
                    ),
                    "pos": pa.array([i for _, i in merged], pa.int64()),
                }
            ),
            del_file,
        )
        max_seq = max(
            int(e.get("sequence_number") or 0) for e in pos_entries
        )
        entry = _file_entry(del_file, 1, sid, sequence_number=max_seq)
        entry["data_file"]["content"] = 1
        delete_bucket.append(entry)
        n_after = 1
    new_rows = []
    for kind, entries in ((0, data), (1, delete_bucket)):
        if not entries:
            continue
        m = _meta_dir(root) / f"m-{sid}-{tag}-c{kind}.avro"
        avro_lite.write_container(m, _MANIFEST_ENTRY_SCHEMA, entries)
        new_rows.append(
            {
                "manifest_path": f"file://{m}",
                "manifest_length": m.stat().st_size,
                "content": kind,
                "added_snapshot_id": sid,
            }
        )
    _commit(root, version, meta, sid, new_rows, "replace", ts_ms)
    return (n_before, n_after, rows_before, rows_after)
