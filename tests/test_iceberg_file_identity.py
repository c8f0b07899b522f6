"""One file, one identity: every read path and maintenance op of the static
Iceberg layer must see the same live rows whatever spelling the table root
has — a plain path, a root reached through a symlink, a directory name
with a space (Spark reports it percent-encoded) and a relocated copy whose
metadata still names the old location. Each spelling is built once with
v3 deletion vectors and once with v2 position deletes."""

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tdigest_spark.sources import iceberg_write as W
from tdigest_spark.sources.iceberg import (
    iceberg_scan_plan_mor,
    read_sequences,
    read_table_evolved,
    read_with_lineage,
)

SPELLINGS = ["plain", "symlink", "space", "relocated"]
DELETES = ["dv", "pos"]

# seed file g (ids 100..102) commits first; f0 (ids 0..9) and f1 (ids
# 10..19) land in one later append and `v < 60` then deletes ids 0..5
EXPECT_IDS = list(range(6, 20)) + [100, 101, 102]
# first_row_id: g claims 0..2, f0 3..12, f1 13..22
EXPECT_LINEAGE = [(i, i + 3) for i in range(6, 20)] + [(100 + j, j) for j in range(3)]


def _write(path, ids):
    pq.write_table(
        pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "v": pa.array([i * 10 for i in ids], pa.int64()),
            }
        ),
        path,
    )
    return path


def _root(tmp_path, spelling):
    if spelling == "symlink":
        real = tmp_path / "real"
        real.mkdir()
        (tmp_path / "link").symlink_to(real, target_is_directory=True)
        return tmp_path / "link" / "tbl"
    if spelling == "space":
        return tmp_path / "a b" / "tbl"
    if spelling == "relocated":
        return tmp_path / "orig" / "tbl"
    return tmp_path / "plain" / "tbl"


def _probe_table(tmp_path, spelling, delete, after_seed=None):
    """Build the probe table at ``spelling``'s root and return the root a
    reader opens. ``after_seed(root)`` runs once the seed snapshot is
    committed (the stream test drains its first batch there)."""
    root = _root(tmp_path, spelling)
    W.create_table(
        root, ts_ms=1000, schema_fields=[("id", "long"), ("v", "long")],
        row_lineage=True,
    )
    g = _write(root / "data" / "g.parquet", [100, 101, 102])
    W.append_snapshot(root, [g], snapshot_id=1, ts_ms=2000)
    if after_seed is not None:
        after_seed(root)
    f0 = _write(root / "data" / "f0.parquet", list(range(10)))
    f1 = _write(root / "data" / "f1.parquet", list(range(10, 20)))
    W.append_snapshot(root, [f0, f1], snapshot_id=2, ts_ms=3000)
    if delete == "dv":
        n_del = W.delete_where_dv(root, [("v", "<", 60)], snapshot_id=3, ts_ms=4000)[0]
    else:
        n_del = W.delete_where(root, [("v", "<", 60)], snapshot_id=3, ts_ms=4000)[0]
    assert n_del == 6
    if spelling == "relocated":
        moved = tmp_path / "restored" / "tbl"
        shutil.copytree(root, moved)
        shutil.rmtree(root)
        root = moved
    return root


@pytest.fixture()
def registered(spark):
    from tdigest_spark.sources.datasource import IcebergStaticDataSource

    spark.dataSource.register(IcebergStaticDataSource)
    return spark


@pytest.mark.parametrize("delete", DELETES)
@pytest.mark.parametrize("spelling", SPELLINGS)
def test_read_paths_agree_across_spellings(tmp_path, registered, spelling, delete):
    spark = registered
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain(root):
        q = (
            spark.readStream.format("iceberg_static")
            .option("path", str(root))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(540), "source stream did not drain"

    # the stream's first batch holds only g; f0, f1 and the delete then
    # arrive in ONE incremental range, so the delete must apply there
    root = _probe_table(tmp_path, spelling, delete, after_seed=drain)
    drain(root)

    def ids(df):
        return sorted(r.id for r in df.collect())

    got = {
        "read_sequences": ids(read_sequences(spark, str(root))),
        "read_table_evolved": ids(read_table_evolved(spark, str(root))),
        "read_with_lineage": ids(read_with_lineage(spark, str(root))),
        "iceberg_static batch": ids(
            spark.read.format("iceberg_static").option("path", str(root)).load()
        ),
        "iceberg_static stream": ids(spark.read.parquet(out)),
    }
    assert got == {k: EXPECT_IDS for k in got}
    lineage = read_with_lineage(spark, str(root)).collect()
    assert sorted((r.id, r._row_id) for r in lineage) == sorted(EXPECT_LINEAGE)

    plan, _ = iceberg_scan_plan_mor(str(root), [])
    dvs = {p["path"].rsplit("/", 1)[-1]: len(p["dvs"]) for p in plan}
    want = 1 if delete == "dv" else 0
    assert dvs == {"f0.parquet": want, "f1.parquet": 0, "g.parquet": 0}


def test_rewrite_position_deletes_through_symlinked_root(tmp_path, spark):
    """Two v2 delete commits hold 8 tombstones; compacting them through a
    symlinked root must keep all 8 (a key mismatch between the resolved
    delete rows and the unresolved live paths used to drop every one as
    dangling, bringing the deleted rows back for good)."""
    root = _root(tmp_path, "symlink")
    W.create_table(root, ts_ms=1000)
    f0 = _write(root / "data" / "f0.parquet", list(range(10)))
    f1 = _write(root / "data" / "f1.parquet", list(range(10, 20)))
    W.append_snapshot(root, [f0, f1], snapshot_id=1, ts_ms=2000)
    W.delete_where(root, [("v", "<", 60)], snapshot_id=2, ts_ms=3000)
    W.delete_where(root, [("v", ">=", 180)], snapshot_id=3, ts_ms=4000)
    expect = list(range(6, 18))
    assert sorted(r.id for r in read_sequences(spark, str(root)).collect()) == expect
    assert W.rewrite_position_deletes(root, ts_ms=5000) == (2, 1, 8, 8)
    assert sorted(r.id for r in read_sequences(spark, str(root)).collect()) == expect


def test_add_files_twice_through_symlinked_root_raises(tmp_path):
    """A second add_files of the same file is refused through a symlinked
    root exactly as on a plain one, instead of listing the file twice."""
    root = _root(tmp_path, "symlink")
    W.create_table(root, ts_ms=1000)
    ext = tmp_path / "link" / "ext"  # outside the table, via the link
    ext.mkdir()
    e1 = _write(ext / "e1.parquet", list(range(5)))
    W.add_files(root, [e1], ts_ms=2000)
    with pytest.raises(ValueError, match="already referenced"):
        W.add_files(root, [e1], ts_ms=3000)
    assert len(W.live_paths(root)) == 1


def test_rewrite_position_deletes_carries_deletion_vectors(tmp_path, spark):
    """Compacting v2 position deletes on a table that also holds a DV
    merges the v2 files and carries the DV verbatim (the DV blob is not a
    parquet file; reading it as one used to fail the whole procedure)."""
    from tdigest_spark.sources.iceberg import iceberg_scan_entries_static

    root = _root(tmp_path, "plain")
    W.create_table(root, ts_ms=1000)
    f0 = _write(root / "data" / "f0.parquet", list(range(10)))
    f1 = _write(root / "data" / "f1.parquet", list(range(10, 20)))
    W.append_snapshot(root, [f0, f1], snapshot_id=1, ts_ms=2000)
    W.delete_where(root, [("v", "<", 30)], snapshot_id=2, ts_ms=3000)
    W.delete_where(root, [("v", ">=", 30), ("v", "<", 50)], snapshot_id=3, ts_ms=4000)
    W.delete_where_dv(root, [("v", ">=", 180)], snapshot_id=4, ts_ms=5000)
    expect = list(range(5, 18))
    assert sorted(r.id for r in read_sequences(spark, str(root)).collect()) == expect
    dvs = iceberg_scan_entries_static(str(root))["dvs"]
    assert W.rewrite_position_deletes(root, ts_ms=6000) == (2, 1, 5, 5)
    entries = iceberg_scan_entries_static(str(root))
    assert len(entries["pos_deletes"]) == 1
    assert [d["path"] for d in entries["dvs"]] == [d["path"] for d in dvs]
    assert sorted(r.id for r in read_sequences(spark, str(root)).collect()) == expect


def test_spark_file_key_round_trips_odd_directory_names(tmp_path, spark):
    """A scan opened by ``file_key`` reads the same key back through the
    Spark twin, for names Spark percent-encodes (or would decode wrongly:
    ``url_decode`` alone reads ``+`` as a space)."""
    from tdigest_spark.sources.iceberg import _file_key_expr, file_key

    names = ["a b", "a+b", "a%b", "a%20b", "x#y", "q?r", "é"]
    keys = []
    for n in names:
        (tmp_path / n).mkdir()
        keys.append(file_key(_write(tmp_path / n / "f.parquet", [1]), tmp_path))
    got = spark.read.parquet(*keys).select(_file_key_expr().alias("k")).collect()
    assert sorted(r.k for r in got) == sorted(keys)
