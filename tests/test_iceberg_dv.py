"""Iceberg v3 deletion vectors: codec, merge-on-write, supersede, and the
read paths (Spark MOR read, Python datasource, compaction interplay).

Spec semantics under test (Apache Iceberg v3 table spec, public docs):
* at most ONE live DV per data file — a new DV supersedes the old one;
* the new DV contains every previously deleted position for its file
  (previous DV plus v2 position-delete rows are merged at write);
* DVs are keyed to the referenced file only — a later re-append of the
  same values in a NEW file is untouched;
* a rewritten (compacted) file folds its DV in; the DV can never apply
  to the consolidated output and is dropped from the live set.
"""

import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tdigest_spark.sources import iceberg_write as W
from tdigest_spark.sources.iceberg import (
    decode_deletion_vector,
    deletion_vector_positions,
    encode_deletion_vector,
    iceberg_scan_entries_static,
    iceberg_scan_plan_mor,
    read_sequences,
)


def test_dv_codec_roundtrip():
    for pos in ([], [0], [5, 5, 1], list(range(1000)), [0, 2**40, 2**40 + 7]):
        assert decode_deletion_vector(encode_deletion_vector(pos)) == sorted(
            set(pos)
        )


def test_dv_codec_rejects_negative_position():
    """A negative position used to spin forever in the varint loop
    (n >>= 7 never reaches 0 for n < 0); run the call in a child process
    so a missing guard fails on the timeout instead of hanging the suite."""
    code = (
        "from tdigest_spark.sources.iceberg import encode_deletion_vector\n"
        "encode_deletion_vector([3, -1])\n"
    )
    res = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert res.returncode != 0
    assert "ValueError" in res.stderr and ">= 0" in res.stderr


def test_dv_codec_strict_magic():
    with pytest.raises(ValueError, match="magic"):
        decode_deletion_vector(b"PAR1\x00\x00")


def _table(tmp_path, n_files=2, rows=10):
    root = tmp_path / "dvtbl"
    W.create_table(root, ts_ms=1000)
    files = []
    for i in range(n_files):
        ids = range(i * rows, (i + 1) * rows)
        t = pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "v": pa.array([x * 10 for x in ids], pa.int64()),
            }
        )
        f = root / "data" / f"f{i}.parquet"
        pq.write_table(t, f)
        files.append(f)
    W.append_snapshot(root, files, snapshot_id=1, ts_ms=2000)
    return root, files


def test_dv_merge_and_supersede(tmp_path):
    root, files = _table(tmp_path)
    # v2 position delete first: ids 0,1
    W.delete_rows_snapshot(root, {str(files[0]): [0, 1]}, snapshot_id=2, ts_ms=3000)
    n_del, n_dvs, n_sup, scanned, total = W.delete_where_dv(
        root, [("v", "<", 60)], snapshot_id=3, ts_ms=4000
    )
    # ids 0..5 match; 0,1 were already tombstoned by the v2 delete
    assert (n_del, n_dvs, n_sup) == (4, 1, 0)
    assert (scanned, total) == (1, 2)  # stats-pruned to file 0
    e = iceberg_scan_entries_static(str(root))
    dvp = deletion_vector_positions(e)
    assert len(e["dvs"]) == 1
    # merge-on-write folded the v2 positions into the DV
    assert sorted(next(iter(dvp.values()))) == [0, 1, 2, 3, 4, 5]
    # overlapping second delete: [40, 120) — merges + supersedes file 0's
    # DV and creates file 1's
    n_del, n_dvs, n_sup, _, _ = W.delete_where_dv(
        root, [("v", ">=", 40), ("v", "<", 120)], snapshot_id=4, ts_ms=5000
    )
    assert (n_del, n_dvs, n_sup) == (6, 2, 1)
    e = iceberg_scan_entries_static(str(root))
    # ONE live DV per data file, always
    refs = [d["referenced"] for d in e["dvs"]]
    assert len(refs) == len(set(refs)) == 2
    dvp = deletion_vector_positions(e)
    by_name = {k.rsplit("/", 1)[-1]: sorted(v) for k, v in dvp.items()}
    assert by_name == {"f0.parquet": list(range(10)), "f1.parquet": [0, 1]}


def test_dv_read_paths_agree(tmp_path, spark):
    root, files = _table(tmp_path)
    W.delete_where_dv(root, [("v", "<", 60)], snapshot_id=2, ts_ms=3000)
    expect = sorted(range(6, 20))
    got = sorted(r.id for r in read_sequences(spark, str(root)).collect())
    assert got == expect
    plan, _ = iceberg_scan_plan_mor(str(root), [])
    by_file = {p["path"].rsplit("/", 1)[-1]: p["dvs"] for p in plan}
    assert len(by_file["f0.parquet"]) == 1 and by_file["f1.parquet"] == []
    from tdigest_spark.sources.datasource import IcebergStaticDataSource

    spark.dataSource.register(IcebergStaticDataSource)
    ds = spark.read.format("iceberg_static").option("path", str(root)).load()
    assert sorted(r.id for r in ds.collect()) == expect


def test_dv_does_not_hit_reappended_file(tmp_path, spark):
    root, files = _table(tmp_path, n_files=1)
    W.delete_where_dv(root, [("v", "<", 30)], snapshot_id=2, ts_ms=3000)
    # re-append the SAME values in a new file: the DV references f0 only
    t = pq.read_table(files[0])
    f1 = root / "data" / "re.parquet"
    pq.write_table(t, f1)
    W.append_snapshot(root, [f1], snapshot_id=3, ts_ms=4000)
    ids = sorted(r.id for r in read_sequences(spark, str(root)).collect())
    assert ids == sorted(list(range(3, 10)) + list(range(10)))


def test_dv_compaction_folds_and_drops(tmp_path, spark):
    root, _files = _table(tmp_path)
    W.delete_where_dv(root, [("v", "<", 60)], snapshot_id=2, ts_ms=3000)
    rep = W.rewrite_data_files(root, ts_ms=4000)
    assert rep["files_rewritten"] == 2 and rep["rows_rewritten"] == 14
    e = iceberg_scan_entries_static(str(root))
    # the DV's referenced file left the live set: the DV must too,
    # or stats-only readers would stay disabled forever
    assert e["dvs"] == []
    ids = sorted(r.id for r in read_sequences(spark, str(root)).collect())
    assert ids == list(range(6, 20))


def test_dv_counts_not_inflated_by_reapplied_predicate(tmp_path):
    root, _files = _table(tmp_path)
    W.delete_where_dv(root, [("v", "<", 60)], snapshot_id=2, ts_ms=3000)
    # identical predicate again: zero NEW rows, but the file still has
    # physical matches, so a (merged, identical) DV is rewritten
    n_del, n_dvs, n_sup, _, _ = W.delete_where_dv(
        root, [("v", "<", 60)], snapshot_id=3, ts_ms=4000
    )
    assert (n_del, n_dvs, n_sup) == (0, 1, 1)


def test_delete_where_v2_counts_dv_positions(tmp_path):
    root, _files = _table(tmp_path)
    W.delete_where_dv(root, [("v", "<", 60)], snapshot_id=2, ts_ms=3000)
    # a v2 DELETE WHERE over a wider predicate must not recount the
    # DV-tombstoned rows
    n_del, _, _ = W.delete_where(root, [("v", "<", 80)], snapshot_id=3, ts_ms=4000)
    assert n_del == 2  # ids 6, 7 only


def test_stream_writer_delete_keys_options():
    from tdigest_spark.sources.datasource import _StaticIcebergStreamWriter

    w = _StaticIcebergStreamWriter(
        {"path": "/tmp/x", "delete_keys": "doc_id", "sid_base": "7"}
    )
    assert w.delete_keys == ["doc_id"] and w.sid_base == 7
    with pytest.raises(ValueError, match="mutually exclusive"):
        _StaticIcebergStreamWriter(
            {"path": "/tmp/x", "delete_keys": "a", "upsert_keys": "b"}
        )


def test_metadata_delete_files_lists_dvs(tmp_path, spark):
    root, files = _table(tmp_path)
    W.delete_rows_snapshot(root, {str(files[1]): [0]}, snapshot_id=2, ts_ms=3000)
    W.delete_where_dv(root, [("v", "<", 30)], snapshot_id=3, ts_ms=4000)
    from tdigest_spark.sources.iceberg import iceberg_metadata_df

    rows = {
        (r.kind, r.file_name.startswith("dv-"), r.referenced_data_file)
        for r in iceberg_metadata_df(spark, str(root), "delete_files").collect()
    }
    assert ("pos_deletes", False, None) in rows
    assert ("dv", True, "f0.parquet") in rows
    hist = iceberg_metadata_df(spark, str(root), "history").collect()
    assert [(r.made_current_at_ms, r.snapshot_id) for r in hist] == [
        (2000, 1),
        (3000, 2),
        (4000, 3),
    ]


def test_evolved_read_applies_dvs(tmp_path, spark):
    """read_table_evolved must subtract deletion vectors like pos-deletes
    (found by review follow-up: the evolved path only wired pos_paths)."""
    from tdigest_spark.sources.iceberg import read_table_evolved

    root = tmp_path / "evdv"
    W.create_table(
        root, ts_ms=1000, schema_fields=[("id", "long"), ("v", "long")]
    )
    t = pa.table(
        {
            "id": pa.array(range(10), pa.int64()),
            "v": pa.array([x * 10 for x in range(10)], pa.int64()),
        }
    )
    f = root / "data" / "d.parquet"
    pq.write_table(t, f)
    W.append_snapshot(root, [f], snapshot_id=1, ts_ms=2000)
    W.delete_where_dv(root, [("v", "<", 30)], snapshot_id=2, ts_ms=3000)
    W.rename_column(root, "v", "val", ts_ms=4000)
    got = sorted(
        (r.id, r.val) for r in read_table_evolved(spark, str(root)).collect()
    )
    assert got == [(i, i * 10) for i in range(3, 10)]


def test_delete_sink_collision_raises_retry_skips(tmp_path):
    """The delete sink's epoch guard distinguishes a snapshot-id
    COLLISION with pre-existing history (raise, hint sid_base) from a
    genuine RETRY of its own epoch (skip): DV commits stamp sink-epoch
    in the snapshot summary."""
    from tdigest_spark.sources.datasource import (
        _DataFileCommit,
        _StaticIcebergStreamWriter,
    )

    root, _files = _table(tmp_path)  # table with snapshot id 1
    marker = root / "data" / "marker.parquet"
    pq.write_table(
        pa.table({"id": pa.array([0, 1], pa.int64())}), marker
    )
    w = _StaticIcebergStreamWriter(
        {"path": str(root), "delete_keys": "id"}
    )
    msgs = [_DataFileCommit(paths=[str(marker)], rows=2)]
    # sid_base defaulted to 0 on a table whose snapshot 1 exists and was
    # NOT committed by this sink: silent drop would lose the deletes
    with pytest.raises(ValueError, match="sid_base"):
        w.commit(msgs, batchId=0)
    # correctly based: epoch 0 -> snapshot 2 commits DVs for ids 0,1
    w2 = _StaticIcebergStreamWriter(
        {"path": str(root), "delete_keys": "id", "sid_base": "1"}
    )
    pq.write_table(pa.table({"id": pa.array([0, 1], pa.int64())}), marker)
    w2.commit([_DataFileCommit(paths=[str(marker)], rows=2)], batchId=0)
    e = iceberg_scan_entries_static(str(root))
    assert len(e["dvs"]) == 1
    # retry of the SAME epoch: summary matches -> idempotent skip
    pq.write_table(pa.table({"id": pa.array([0, 1], pa.int64())}), marker)
    w2.commit([_DataFileCommit(paths=[str(marker)], rows=2)], batchId=0)
    assert len(iceberg_scan_entries_static(str(root))["dvs"]) == 1


def test_avro_read_schema_matches_container():
    """Header-only read_schema returns exactly the embedded writer schema
    the full decode sees."""
    import tempfile

    from tdigest_spark.sources import avro_lite

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"], "default": None},
        ],
    }
    with tempfile.TemporaryDirectory() as d:
        p = f"{d}/t.avro"
        avro_lite.write_container(
            p, schema, [{"a": 1, "b": "x"}, {"a": 2, "b": None}]
        )
        assert avro_lite.read_schema(p) == avro_lite.read_container(p)[0]


def test_dv_survives_table_relocation(tmp_path, spark):
    """A table copied elsewhere (the original gone, as for a restored
    backup) re-roots its data files onto the copy; its DV's referenced
    file must follow, or the DV stops applying and deleted rows return."""
    import shutil

    root, _ = _table(tmp_path)
    W.delete_where_dv(root, [("v", "<", 60)], snapshot_id=2, ts_ms=3000)
    moved = tmp_path / "restored" / "dvtbl"
    shutil.copytree(root, moved)
    shutil.rmtree(root)

    e = iceberg_scan_entries_static(str(moved))
    data = {Path(d["path"]).name: d["path"] for d in e["data"]}
    assert all(p.startswith(str(moved)) for p in data.values())
    assert [d["referenced"] for d in e["dvs"]] == [data["f0.parquet"]]
    assert {k: sorted(v) for k, v in deletion_vector_positions(e).items()} == {
        data["f0.parquet"]: [0, 1, 2, 3, 4, 5]
    }

    expect = list(range(6, 20))
    got = sorted(r.id for r in read_sequences(spark, str(moved)).collect())
    assert got == expect
    from tdigest_spark.sources.datasource import IcebergStaticDataSource

    spark.dataSource.register(IcebergStaticDataSource)
    ds = spark.read.format("iceberg_static").option("path", str(moved)).load()
    assert sorted(r.id for r in ds.collect()) == expect
