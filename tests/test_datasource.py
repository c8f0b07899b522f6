"""Python Data Source API surface for the static Iceberg reader
(sources/datasource.py): registration, schema inference, filter pushdown
that PRUNES InputPartitions via manifest stats, residual row-level
filtering, and snapshot time travel through the option."""

import datetime

import pytest


def _write(root, name, col, values, **extra):
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {col: values}
    cols.update(extra)
    f = root / "data" / name
    pq.write_table(pa.table(cols), f)
    return f


@pytest.fixture()
def table_root(tmp_path):
    from tdigest_spark.sources import iceberg_write as W

    root = tmp_path / "tbl"
    W.create_table(root, ts_ms=1000)
    return root


@pytest.fixture()
def registered(spark):
    from tdigest_spark.sources.datasource import IcebergStaticDataSource

    spark.dataSource.register(IcebergStaticDataSource)
    return spark


def test_full_read_matches_parquet_union(table_root, registered):
    from tdigest_spark.sources import iceberg_write as W

    files = [
        _write(table_root, f"f{i}.parquet", "v", list(range(i * 10, i * 10 + 10)))
        for i in range(3)
    ]
    W.append_snapshot(table_root, files, ts_ms=2000)
    df = registered.read.format("iceberg_static").option("path", str(table_root)).load()
    assert df.schema.simpleString() == "struct<v:bigint>"
    assert sorted(r.v for r in df.collect()) == list(range(30))
    # one InputPartition per data file
    assert df.rdd.getNumPartitions() == 3


def test_filter_pushdown_prunes_partitions_and_stays_exact(table_root, registered):
    """The pushed range filter must shrink the PARTITION count (planning-
    level manifest pruning) while the residual row-level filter keeps the
    result exact across a file boundary the range cuts through."""
    from tdigest_spark.sources import iceberg_write as W

    files = [
        _write(table_root, f"g{i}.parquet", "v", list(range(i * 100, i * 100 + 100)))
        for i in range(4)
    ]
    W.append_snapshot(table_root, files, ts_ms=2000)
    load = lambda: (
        registered.read.format("iceberg_static")
        .option("path", str(table_root))
        .load()
    )
    filtered = load().where("v >= 150 AND v < 310")
    # files g0 (0..99) and g3 (300..399 upper part) — g3 survives (300<310)
    assert filtered.rdd.getNumPartitions() == 3 < load().rdd.getNumPartitions() == 4
    # 150 and 310 both cut inside surviving files: residual must trim rows
    assert sorted(r.v for r in filtered.collect()) == list(range(150, 310))
    # equality predicate prunes to exactly one file
    one = load().where("v = 250")
    assert one.rdd.getNumPartitions() == 1
    assert [r.v for r in one.collect()] == [250]


def test_timestamp_pushdown_prunes(table_root, registered):
    from tdigest_spark.sources import iceberg_write as W

    files = [
        _write(
            table_root,
            f"t{i}.parquet",
            "ts",
            [datetime.datetime(2001, 1 + i, 1 + j) for j in range(5)],
        )
        for i in range(5)
    ]
    W.append_snapshot(table_root, files, ts_ms=2000)
    df = (
        registered.read.format("iceberg_static")
        .option("path", str(table_root))
        .load()
        .where("ts >= TIMESTAMP '2001-04-01'")
    )
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 10


def test_snapshot_id_option_time_travels(table_root, registered):
    from tdigest_spark.sources import iceberg_write as W

    W.append_snapshot(
        table_root,
        [_write(table_root, "a.parquet", "v", [1, 2])],
        snapshot_id=11,
        ts_ms=2000,
    )
    W.append_snapshot(
        table_root,
        [_write(table_root, "b.parquet", "v", [3, 4])],
        snapshot_id=22,
        ts_ms=3000,
    )
    load = lambda sid: (
        registered.read.format("iceberg_static")
        .option("path", str(table_root))
        .option("snapshot_id", str(sid))
        .load()
    )
    assert sorted(r.v for r in load(11).collect()) == [1, 2]
    assert sorted(r.v for r in load(22).collect()) == [1, 2, 3, 4]


def test_missing_path_and_non_iceberg_root_raise(registered, tmp_path):
    with pytest.raises(Exception):
        registered.read.format("iceberg_static").load().collect()
    with pytest.raises(Exception):
        (
            registered.read.format("iceberg_static")
            .option("path", str(tmp_path / "nope"))
            .load()
            .collect()
        )


# ---------------------------------------------------------------------------
# write side: distributed task files + atomic driver commit
# ---------------------------------------------------------------------------


def test_batch_write_append_and_overwrite_roundtrip(registered, tmp_path):
    from tdigest_spark.sources import iceberg_write as W

    root = str(tmp_path / "tbl")
    df = registered.range(0, 100, 1, 4).withColumnRenamed("id", "v")
    df.write.format("iceberg_static").mode("append").option("path", root).save()
    load = lambda: (
        registered.read.format("iceberg_static").option("path", root).load()
    )
    # one data file per (non-empty) task, one snapshot
    assert load().rdd.getNumPartitions() == 4
    assert sorted(r.v for r in load().collect()) == list(range(100))
    df.write.format("iceberg_static").mode("append").option("path", root).save()
    assert load().count() == 200
    (
        registered.range(5)
        .withColumnRenamed("id", "v")
        .write.format("iceberg_static")
        .mode("overwrite")
        .option("path", root)
        .save()
    )
    assert sorted(r.v for r in load().collect()) == [0, 1, 2, 3, 4]
    # overwrite tombstoned, didn't erase history: time travel still reads v2
    assert W.snapshot_ids(root) == [1, 2, 3]
    assert len(load().collect()) == 5
    assert W.orphan_files(root) == []


def test_empty_partitions_write_no_files(registered, tmp_path):
    root = str(tmp_path / "tbl")
    df = (
        registered.range(0, 40, 1, 4)
        .withColumnRenamed("id", "v")
        .where("v < 10")  # all survivors sit in partition 0
    )
    df.write.format("iceberg_static").mode("append").option("path", root).save()
    back = registered.read.format("iceberg_static").option("path", root).load()
    assert back.rdd.getNumPartitions() == 1  # 3 empty tasks -> no files
    assert back.count() == 10


def test_failed_write_leaves_no_snapshot_or_files(registered, tmp_path):
    from pyspark.sql import functions as F
    from tdigest_spark.sources import iceberg_write as W

    root = tmp_path / "tbl"
    W.create_table(root, ts_ms=1000)

    from pyspark.sql.functions import udf

    @udf("long")
    def boom(v):
        if v == 77:
            raise ValueError("poison row")
        return v

    df = registered.range(0, 100, 1, 4).select(boom(F.col("id")).alias("v"))
    with pytest.raises(Exception):
        df.write.format("iceberg_static").mode("append").option(
            "path", str(root)
        ).save()
    # the atomic contract: NOTHING was committed, so readers are unaffected
    assert W.snapshot_ids(root) == []
    from tdigest_spark.sources.iceberg import iceberg_scan_paths_static

    assert iceberg_scan_paths_static(str(root)) == []
    # leftover files are possible (a task killed after closing its file but
    # before its commit message reached the driver has no message for
    # abort() to unlink — the same window real Iceberg has) but every one
    # must be DETECTED as an orphan, i.e. reclaimable by maintenance
    leftovers = {str(p) for p in (root / "data").glob("*.parquet")}
    assert leftovers == set(W.orphan_files(root))


def test_abort_unlinks_reported_files(tmp_path):
    """Driver-side unit check of abort(): reported files are unlinked,
    None messages (failed tasks) are skipped."""
    from tdigest_spark.sources.datasource import (
        _DataFileCommit,
        _StaticIcebergWriter,
    )

    f = tmp_path / "x.parquet"
    f.write_bytes(b"stub")
    w = _StaticIcebergWriter({"path": str(tmp_path)}, overwrite=False)
    w.abort([_DataFileCommit([str(f)], 1), None, _DataFileCommit([], 0)])
    assert not f.exists()


def test_partitioned_fanout_write_then_hidden_partition_pruned_read(
    registered, tmp_path
):
    """A table WITH a partition spec: each write task routes rows to one
    file per partition tuple (fanout), so committed files are
    partition-pure by construction and a later read through the data
    source prunes on the HIDDEN partition (the query filters the source
    column; the month transform is never named)."""
    import datetime

    from pyspark.sql import functions as F
    from tdigest_spark.sources import iceberg_write as W

    root = tmp_path / "tbl"
    W.create_table(root, ts_ms=1000)
    W.set_partition_spec(root, [("ts", "month")], ts_ms=1100)
    rows = [
        (datetime.datetime(2001, 1 + (i % 6), 1 + (i % 27)), i)
        for i in range(600)
    ]
    df = registered.createDataFrame(rows, "ts timestamp_ntz, v long").repartition(4)
    df.write.format("iceberg_static").mode("append").option(
        "path", str(root)
    ).save()
    load = lambda: (
        registered.read.format("iceberg_static").option("path", str(root)).load()
    )
    # fanout: up to 4 tasks x 6 months files, all partition-pure (the
    # commit's purity check would have raised otherwise)
    n_files = load().rdd.getNumPartitions()
    assert 6 <= n_files <= 24
    # hidden partitioning: filtering the SOURCE column prunes files
    feb = load().where(
        (F.col("ts") >= F.lit("2001-02-01").cast("timestamp_ntz"))
        & (F.col("ts") < F.lit("2001-03-01").cast("timestamp_ntz"))
    )
    assert feb.rdd.getNumPartitions() < n_files
    assert feb.count() == sum(1 for ts, _ in rows if ts.month == 2)
    assert sorted(r.v for r in load().collect()) == list(range(600))


def test_stream_sink_exactly_once_and_source_incremental(
    registered, tmp_path
):
    """End-to-end through Spark's own streaming engine: the sink commits
    one epoch-keyed snapshot per micro-batch; a REDELIVERED epoch is
    detected and its duplicate files unlinked; the stream SOURCE then
    tails the table incrementally — a restarted query with the same
    checkpoint processes only snapshots committed after its offset."""
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.datasource import _DataFileCommit, _StaticIcebergStreamWriter

    src = tmp_path / "src"
    src.mkdir()
    root = tmp_path / "tbl"
    (
        registered.range(0, 60, 1, 2)
        .withColumnRenamed("id", "v")
        .coalesce(1)
        .write.parquet(str(src / "a"))
    )
    (
        registered.range(60, 100, 1, 2)
        .withColumnRenamed("id", "v")
        .coalesce(1)
        .write.parquet(str(src / "b"))
    )
    stream = (
        registered.readStream.schema("v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.format("iceberg_static")
        .option("path", str(root))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(540), "sink stream did not drain"
    assert W.snapshot_ids(root) == [1, 2]
    assert W.orphan_files(root) == []

    # at-least-once retry of epoch 0: same batchId, freshly-written file
    dup = root / "data" / "redelivered.parquet"
    pq.write_table(pq.read_table(sorted((root / "data").glob("*.parquet"))[0]), dup)
    w = _StaticIcebergStreamWriter({"path": str(root)})
    w.commit([_DataFileCommit([str(dup)], 60)], batchId=0)
    assert W.snapshot_ids(root) == [1, 2]  # guard held: no new snapshot
    assert not dup.exists()  # duplicate files reclaimed, not orphaned

    # stream SOURCE: first run drains both snapshots into a file sink
    # (supports checkpoint recovery, unlike the memory sink)...
    ckpt2 = str(tmp_path / "ckpt2")
    out = str(tmp_path / "out")
    tail = lambda: (
        registered.readStream.format("iceberg_static")
        .option("path", str(root))
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt2)
        .trigger(availableNow=True)
        .start()
    )
    q2 = tail()
    assert q2.awaitTermination(540), "source stream did not drain"
    got = sorted(r.v for r in registered.read.parquet(out).collect())
    assert got == list(range(100))
    # ...then a new commit lands and a RESTART reads only the delta
    extra = root / "data" / "late.parquet"
    import pyarrow as pa

    pq.write_table(pa.table({"v": [1000, 1001]}), extra)
    W.append_snapshot(root, [extra], ts_ms=5000)
    q3 = tail()
    assert q3.awaitTermination(540), "restarted source did not drain"
    assert sorted(r.v for r in registered.read.parquet(out).collect()) == (
        list(range(100)) + [1000, 1001]
    )


def test_branch_write_isolates_main(table_root, registered):
    """option('branch', ...) on the batch write commits to the ref only:
    main reads are untouched, the branch read sees main's fork point plus
    the branch rows; overwrite on a branch refuses."""
    from tdigest_spark.sources import iceberg_write as W

    W.append_snapshot(
        table_root, [_write(table_root, "m.parquet", "v", [1, 2])], ts_ms=2000
    )
    (
        registered.range(50, 52)
        .withColumnRenamed("id", "v")
        .coalesce(1)
        .write.format("iceberg_static")
        .mode("append")
        .option("path", str(table_root))
        .option("branch", "exp")
        .save()
    )
    load = lambda **kw: (
        registered.read.format("iceberg_static")
        .option("path", str(table_root))
        .options(**kw)
        .load()
    )
    assert sorted(r.v for r in load().collect()) == [1, 2]
    assert sorted(r.v for r in load(ref="exp").collect()) == [1, 2, 50, 51]
    with pytest.raises(Exception):
        (
            registered.range(1)
            .withColumnRenamed("id", "v")
            .write.format("iceberg_static")
            .mode("overwrite")
            .option("path", str(table_root))
            .option("branch", "exp")
            .save()
        )


def test_mor_read_applies_position_and_equality_deletes(table_root, registered):
    """The data source read is MERGE-ON-READ: position deletes subtract
    tombstoned row indices, equality deletes apply only to data files with
    strictly smaller sequence numbers (a re-inserted key survives), and
    the result matches the MOR-aware read_sequences reader."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W

    f1 = table_root / "data" / "a.parquet"
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a1", "a2", "a3"]}), f1)
    W.append_snapshot(table_root, [f1], ts_ms=2000)  # seq 1
    dk = table_root / "data" / "delk.parquet"
    pq.write_table(pa.table({"k": [2]}), dk)
    W.equality_delete_snapshot(table_root, dk, ts_ms=3000)  # seq 2
    f2 = table_root / "data" / "b.parquet"
    pq.write_table(pa.table({"k": [2, 4], "v": ["b2", "b4"]}), f2)
    W.append_snapshot(table_root, [f2], ts_ms=4000)  # seq 3: re-insert k=2
    W.delete_rows_snapshot(table_root, {str(f1): [0]}, ts_ms=5000)  # k=1 out
    df = (
        registered.read.format("iceberg_static")
        .option("path", str(table_root))
        .load()
    )
    got = sorted((r.k, r.v) for r in df.collect())
    assert got == [(2, "b2"), (3, "a3"), (4, "b4")]
    # pruning still composes: k >= 3 prunes nothing incorrectly
    got2 = sorted(
        (r.k, r.v) for r in df.where("k >= 3").collect()
    )
    assert got2 == [(3, "a3"), (4, "b4")]


def test_stream_upsert_sink_last_writer_wins(registered, tmp_path):
    """option('upsert_keys', ...) turns the streaming sink into a CDC
    MERGE: each epoch commits a same-sequence equality delete on its key
    set plus the new row versions, so the table converges to
    last-writer-wins per key; a redelivered epoch is still detected and
    dropped (its keys file never written, its data files unlinked)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.datasource import (
        _DataFileCommit,
        _StaticIcebergStreamWriter,
    )

    import os

    indir = tmp_path / "in"
    indir.mkdir()
    root = tmp_path / "tbl"
    pq.write_table(
        pa.table({"k": [1, 2, 3], "v": ["x1", "x2", "x3"]}), indir / "a.parquet"
    )
    pq.write_table(
        pa.table({"k": [2, 4], "v": ["y2", "y4"]}), indir / "b.parquet"
    )
    # last-writer-wins depends on EPOCH ORDER, and FileStreamSource orders
    # by modification time — same-tick writes tie and the order becomes
    # arbitrary. Pin distinct mtimes so epoch 1 is always a.parquet.
    now = os.stat(indir / "b.parquet").st_mtime
    os.utime(indir / "a.parquet", (now - 10, now - 10))
    q = (
        registered.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(indir))
        .writeStream.format("iceberg_static")
        .option("path", str(root))
        .option("upsert_keys", "k")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(540), "upsert sink did not drain"
    df = (
        registered.read.format("iceberg_static")
        .option("path", str(root))
        .load()
    )
    assert sorted((r.k, r.v) for r in df.collect()) == [
        (1, "x1"), (2, "y2"), (3, "x3"), (4, "y4"),
    ]
    assert W.snapshot_ids(root) == [1, 2]
    # redelivered epoch 1: guard drops it and reclaims the duplicate file
    dup = root / "data" / "redelivered.parquet"
    pq.write_table(pa.table({"k": [2], "v": ["zz"]}), dup)
    w = _StaticIcebergStreamWriter({"path": str(root), "upsert_keys": "k"})
    w.commit([_DataFileCommit([str(dup)], 1)], batchId=0)
    assert W.snapshot_ids(root) == [1, 2]
    assert not dup.exists()
    assert sorted(r.v for r in df.collect()) == ["x1", "x3", "y2", "y4"]
    assert W.orphan_files(root) == []


def test_arrow_schema_to_ddl_type_coverage():
    import pyarrow as pa

    from tdigest_spark.sources.datasource import arrow_schema_to_ddl

    schema = pa.schema(
        [
            ("a", pa.int64()),
            ("b", pa.int32()),
            ("c", pa.float64()),
            ("d", pa.string()),
            ("e", pa.bool_()),
            ("f", pa.binary()),
            ("g", pa.timestamp("us")),
            ("h", pa.timestamp("us", tz="UTC")),
            ("i", pa.date32()),
            ("j", pa.list_(pa.int32())),
        ]
    )
    assert arrow_schema_to_ddl(schema) == (
        "a long, b int, c double, d string, e boolean, f binary, "
        "g timestamp_ntz, h timestamp, i date, j array<int>"
    )
    with pytest.raises(TypeError):
        arrow_schema_to_ddl(pa.schema([("k", pa.decimal128(10, 2))]))


def test_prune_to_zero_files_returns_empty(table_root, registered):
    """A pushed filter that prunes EVERY data file must return an empty
    result, not crash: PySpark substitutes [None] when partitions() is
    empty, so read(None) has to mean 'no rows'."""
    from tdigest_spark.sources import iceberg_write as W

    W.append_snapshot(
        table_root,
        [_write(table_root, "z.parquet", "v", list(range(10)))],
        ts_ms=2000,
    )
    df = (
        registered.read.format("iceberg_static")
        .option("path", str(table_root))
        .load()
        .where("v > 1000")
    )
    assert df.count() == 0
    assert df.collect() == []


def test_write_file_names_carry_per_writer_uuid(registered, tmp_path):
    """Data file names embed a driver-generated per-writer uuid: task
    attempt ids reset per SparkContext, so a restarted streaming query
    replaying an already-committed epoch (or a second batch write from a
    fresh session) must never regenerate a committed file's name —
    ParquetWriter would TRUNCATE data the live snapshot references."""
    import re

    from tdigest_spark.sources.datasource import _StaticIcebergStreamWriter

    root = tmp_path / "tbl"
    write = lambda lo, hi: (
        registered.range(lo, hi)
        .withColumnRenamed("id", "v")
        .coalesce(1)
        .write.format("iceberg_static")
        .mode("append")
        .option("path", str(root))
        .save()
    )
    write(0, 5)
    write(5, 10)
    names = sorted(p.name for p in (root / "data").glob("*.parquet"))
    pat = re.compile(r"^part-([0-9a-f]{12})-\d{5}-\d+-\d+\.parquet$")
    tags = [pat.match(n) for n in names]
    assert all(tags), names
    # two writer instances -> two distinct uuids -> no collision window
    assert len({m.group(1) for m in tags}) == 2
    w1 = _StaticIcebergStreamWriter({"path": str(root)})
    w2 = _StaticIcebergStreamWriter({"path": str(root)})
    assert w1.write_uuid != w2.write_uuid


def test_stream_source_initial_batch_merges_deletes(registered, tmp_path):
    """Tailing a table WITH delete history from scratch: the first
    micro-batch (offset 0) must plan merge-on-read like the batch reader —
    deleted/upserted-away rows must not resurrect."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W

    root = tmp_path / "tbl"
    W.create_table(root, ts_ms=1000)
    f1 = root / "data" / "a.parquet"
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a1", "a2", "a3"]}), f1)
    W.append_snapshot(root, [f1], ts_ms=2000)  # seq 1
    dk = root / "data" / "delk.parquet"
    pq.write_table(pa.table({"k": [2]}), dk)
    W.equality_delete_snapshot(root, dk, ts_ms=3000)  # seq 2: k=2 out
    f2 = root / "data" / "b.parquet"
    pq.write_table(pa.table({"k": [4], "v": ["b4"]}), f2)
    W.append_snapshot(root, [f2], ts_ms=4000)  # seq 3
    W.delete_rows_snapshot(root, {str(f1): [0]}, ts_ms=5000)  # k=1 out
    out = str(tmp_path / "out")
    q = (
        registered.readStream.format("iceberg_static")
        .option("path", str(root))
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(540), "source stream did not drain"
    got = sorted((r.k, r.v) for r in registered.read.parquet(out).collect())
    # matches the batch MOR read exactly: k=1 (pos delete) and k=2
    # (equality delete) are gone, k=3 and the later k=4 remain
    assert got == [(3, "a3"), (4, "b4")]


def test_datasource_reads_evolved_schema_by_field_id(registered, tmp_path):
    """The data source resolves files written under OLDER schemas by
    field id: schema() reports the table's CURRENT schema, old files read
    with renamed columns, int->long promotion, and NULL for columns added
    after they were written — and equality deletes recorded before a
    rename still tombstone the right rows after it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W

    root = tmp_path / "tbl"
    W.create_table(
        root, ts_ms=1000, schema_fields=[("id", "long"), ("val", "long")]
    )
    f1 = root / "data" / "a.parquet"
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1, 2], pa.int64()),
                "val": pa.array([10, 20], pa.int32()),  # int->long promotes
            }
        ),
        f1,
    )
    W.append_snapshot(root, [f1], snapshot_id=1, ts_ms=2000)
    dk = root / "data" / "delk.parquet"
    pq.write_table(pa.table({"id": pa.array([2], pa.int64())}), dk)
    W.equality_delete_snapshot(root, dk, ts_ms=2500)  # keys under OLD name
    W.rename_column(root, "id", "key", ts_ms=3000)
    W.rename_column(root, "val", "amount", ts_ms=3500)
    W.add_column(root, "note", "string", ts_ms=4000)
    f2 = root / "data" / "b.parquet"
    pq.write_table(
        pa.table(
            {
                "key": pa.array([3], pa.int64()),
                "amount": pa.array([30], pa.int64()),
                "note": ["hi"],
            }
        ),
        f2,
    )
    W.append_snapshot(root, [f2], ts_ms=5000)
    df = (
        registered.read.format("iceberg_static")
        .option("path", str(root))
        .load()
    )
    assert df.columns == ["key", "amount", "note"]
    assert dict(df.dtypes)["amount"] == "bigint"
    rows = {r.key: (r.amount, r.note) for r in df.collect()}
    # id=2 tombstoned through the rename; old file projected by field id
    assert rows == {1: (10, None), 3: (30, "hi")}
    # pushdown composes with evolution (predicate on the CURRENT name)
    assert {r.key for r in df.where("key >= 3").collect()} == {3}


def test_stream_incremental_batch_applies_within_range_pos_deletes(
    registered, tmp_path
):
    """A row appended AND position-deleted within one incremental range
    never existed at the batch's end offset — it must not be emitted as
    live. Deletes aimed at files from PRIOR batches stay non-retracted
    (append-only incremental semantics, documented)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W

    root = tmp_path / "tbl"
    W.create_table(root, ts_ms=1000)
    f1 = root / "data" / "a.parquet"
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a1", "a2", "a3"]}), f1)
    W.append_snapshot(root, [f1], ts_ms=2000)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        q = (
            registered.readStream.format("iceberg_static")
            .option("path", str(root))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(540), "source stream did not drain"

    drain()  # first batch: k=1,2,3
    # second range: append f2, then pos-delete f2's middle row (k=5) and
    # a row of the ALREADY-EMITTED f1 (k=1) in the same range
    f2 = root / "data" / "b.parquet"
    pq.write_table(pa.table({"k": [4, 5, 6], "v": ["b4", "b5", "b6"]}), f2)
    W.append_snapshot(root, [f2], ts_ms=3000)
    W.delete_rows_snapshot(root, {str(f2): [1], str(f1): [0]}, ts_ms=4000)
    drain()  # incremental: f2 minus k=5; f1's delete is NOT retracted
    got = sorted((r.k, r.v) for r in registered.read.parquet(out).collect())
    assert got == [(1, "a1"), (2, "a2"), (3, "a3"), (4, "b4"), (6, "b6")]


def test_stream_source_rate_limit_max_snapshots(registered, tmp_path):
    """max_snapshots_per_batch caps steady-state micro-batches: after
    the uncapped catch-up batch, three pending commits drain as THREE
    single-snapshot batches (not one), with no rows lost or duplicated.
    Without the option the same backlog drains in one batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W

    def _mk(root):
        W.create_table(root, ts_ms=1000)
        for s in range(4):
            f = root / "data" / f"c{s}.parquet"
            pq.write_table(
                pa.table({"v": pa.array(
                    range(s * 10, s * 10 + 10), pa.int64())}), f)
            W.append_snapshot(root, [f], snapshot_id=s + 1,
                              ts_ms=2000 + s)

    def _drain(root, out, ckpt, **opts):
        reader = (registered.readStream.format("iceberg_static")
                  .option("path", str(root)))
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (reader.load()
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
        assert q.awaitTermination(540), "stream did not drain"
        return [p.numInputRows for p in q.recentProgress
                if p.numInputRows > 0]

    # capped: catch-up to snapshot 1 (10 rows) planned BEFORE the other
    # commits exist is impossible here (all 4 pre-exist), so this run
    # shows the restart/catch-up semantics: first batch uncapped
    root = tmp_path / "tbl"
    _mk(root)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    batches = _drain(root, out, ckpt, max_snapshots_per_batch="1")
    assert batches and batches[0] == 40  # catch-up batch is uncapped
    # three MORE commits while the reader instance is live-checkpointed:
    # a fresh availableNow run catches up (uncapped first batch), then
    # caps — plant commits and rerun against the SAME checkpoint
    for s in range(4, 7):
        f = root / "data" / f"c{s}.parquet"
        pq.write_table(
            pa.table({"v": pa.array(range(s * 10, s * 10 + 10),
                                    pa.int64())}), f)
        W.append_snapshot(root, [f], snapshot_id=s + 1, ts_ms=2000 + s)
    # an availableNow run latches its end from the FIRST latestOffset
    # call — Spark replays checkpoint state first, so _last_end is set
    # and the latched end is capped: each run advances ONE snapshot.
    # Three runs drain the three-commit backlog, none losing rows.
    for _ in range(3):
        batches2 = _drain(root, out, ckpt, max_snapshots_per_batch="1")
        assert sum(batches2) == 10, batches2
    got = sorted(
        r.v for r in registered.read.parquet(out).collect()
    )
    assert got == list(range(70))  # nothing lost, nothing duplicated


def test_stream_source_rate_limit_caps_within_run(registered, tmp_path):
    """Within ONE run (processAllAvailable), commits that land after the
    first planned batch drain one snapshot per micro-batch under the
    cap."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W

    root = tmp_path / "tbl"
    W.create_table(root, ts_ms=1000)
    f = root / "data" / "c0.parquet"
    pq.write_table(pa.table({"v": pa.array(range(10), pa.int64())}), f)
    W.append_snapshot(root, [f], snapshot_id=1, ts_ms=2000)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        registered.readStream.format("iceberg_static")
        .option("path", str(root))
        .option("max_snapshots_per_batch", "1")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()  # initial batch: snapshot 1
        for s in range(1, 4):
            fp = root / "data" / f"c{s}.parquet"
            pq.write_table(
                pa.table({"v": pa.array(range(s * 10, s * 10 + 10),
                                        pa.int64())}), fp)
            W.append_snapshot(root, [fp], snapshot_id=s + 1,
                              ts_ms=2000 + s)
        q.processAllAvailable()
        incr = [p.numInputRows for p in q.recentProgress
                if p.numInputRows > 0][1:]
        # the 3-commit backlog drained as three 10-row micro-batches
        assert incr == [10, 10, 10], incr
    finally:
        q.stop()
    got = sorted(r.v for r in registered.read.parquet(out).collect())
    assert got == list(range(40))


def _avro_events(root, name, fields, records):
    from tdigest_spark.sources import avro_lite

    schema = {"type": "record", "name": "event", "fields": fields}
    avro_lite.write_container(root / name, schema, records)


def test_avro_lite_reads_containers_sharing_a_schema(spark, tmp_path):
    from tdigest_spark.sources.datasource import AvroLiteDataSource

    fields = [{"name": "id", "type": "long"},
              {"name": "tag", "type": ["null", "string"]}]
    _avro_events(tmp_path, "a.avro", fields, [{"id": 1, "tag": "x"}])
    _avro_events(tmp_path, "b.avro", fields, [{"id": 2, "tag": None}])
    spark.dataSource.register(AvroLiteDataSource)
    rows = spark.read.format("avro_lite").option("path", str(tmp_path)).load()
    assert sorted(tuple(r) for r in rows.collect()) == [(1, "x"), (2, None)]


def test_avro_lite_raises_on_schema_drift(spark, tmp_path):
    """A container whose writer schema renamed a field must fail loudly,
    naming that container, instead of reading the field as all-None."""
    from tdigest_spark.sources.datasource import AvroLiteDataSource

    _avro_events(tmp_path, "a.avro", [{"name": "id", "type": "long"},
                                      {"name": "tag", "type": "string"}],
                 [{"id": 1, "tag": "x"}])
    _avro_events(tmp_path, "b.avro", [{"name": "id", "type": "long"},
                                      {"name": "label", "type": "string"}],
                 [{"id": 2, "label": "y"}])
    with pytest.raises(ValueError, match="b.avro"):
        AvroLiteDataSource({"path": str(tmp_path)}).schema()
    spark.dataSource.register(AvroLiteDataSource)
    with pytest.raises(Exception, match="b.avro"):
        spark.read.format("avro_lite").option("path", str(tmp_path)).load().collect()
