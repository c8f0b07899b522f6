"""Checkpointed/resumable sketch builds (plans/checkpoint.py).

north_rule contract: resumable from checkpoint with per-partition lineage +
metrics. Failure is simulated by running the build over a prefix of the
input first (as if the job died before the remaining batches), then
resuming over the full input: the resumed run must only scan the missing
batches and the merged result must equal a from-scratch build's totals.
"""

import json
import random
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tdigest_spark.operators.aggregate import (
    HLL_INTS,
    KLL_SPEC,
    TDIGEST,
    TDIGEST_DISCRETE,
    build_sketches,
)
from tdigest_spark.plans.checkpoint import CheckpointedBuild
from tdigest_spark.sources import iceberg_write as W
from tdigest_spark.sources.iceberg import iceberg_scan_paths_static
from tdigest_spark.sources.sequence_table import (
    default_cache_dir,
    generate_sequence_table,
)

SKETCHES = {
    "td": ("n_tok", TDIGEST(0.01)),
    "hll": ("tokens", HLL_INTS(12)),
}


@pytest.fixture(scope="module")
def seq_path():
    return generate_sequence_table(
        default_cache_dir() / "ckpttest_n16000",
        n_rows=16_000,
        seed=11,
        rows_per_file=2_000,
    )


@pytest.fixture()
def ckpt_dir(tmp_path):
    d = tmp_path / "ckpt"
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _files(seq_path):
    return sorted(str(p) for p in seq_path.glob("*.parquet"))


def test_full_build_and_pure_resume(spark, seq_path, ckpt_dir):
    cb = CheckpointedBuild(
        ckpt_dir, SKETCHES, target_rows_per_split=2_000, splits_per_batch=2
    )
    first = cb.run(spark, _files(seq_path))
    assert int(first["td"].n) == 16_000
    n_batches = len(cb.metrics())
    assert n_batches == 8  # 8 one-split files -> one batch per file

    # second run: everything checkpointed, no new batch files appear
    before = sorted(p.name for p in ckpt_dir.glob("batch-*.parquet"))
    again = cb.run(spark, _files(seq_path))
    after = sorted(p.name for p in ckpt_dir.glob("batch-*.parquet"))
    assert before == after
    assert again["td"].to_bytes() == first["td"].to_bytes()
    assert again["hll"].to_bytes() == first["hll"].to_bytes()


def test_resume_after_partial_failure(spark, seq_path, ckpt_dir):
    files = _files(seq_path)
    cb = CheckpointedBuild(
        ckpt_dir, SKETCHES, target_rows_per_split=2_000, splits_per_batch=2
    )
    # simulated crash: only half the input was processed before death
    cb.run(spark, files[:4])
    done_before = set(r["batch_key"] for r in cb.metrics())
    assert len(done_before) == 4

    # resume over the full input: previously-done batches are reused
    out = cb.run(spark, files)
    done_after = set(r["batch_key"] for r in cb.metrics())
    assert done_before <= done_after
    assert len(done_after) == 8
    assert int(out["td"].n) == 16_000

    # exactly-mergeable sketch must equal the non-checkpointed build
    direct = build_sketches(spark.read.parquet(str(seq_path)), SKETCHES)
    assert out["hll"].to_bytes() == direct["hll"].to_bytes()
    # t-digest: same totals, quantiles within bound
    assert out["td"].n == direct["td"].n
    for p in [0.1, 0.5, 0.9]:
        qa, qb = out["td"].quantile(p), direct["td"].quantile(p)
        assert abs(qa - qb) <= 0.02 * max(abs(qa), 1.0)


def test_lineage_metrics_shape(spark, seq_path, ckpt_dir):
    cb = CheckpointedBuild(
        ckpt_dir, SKETCHES, target_rows_per_split=2_000, splits_per_batch=3
    )
    cb.run(spark, _files(seq_path))
    m = cb.metrics()
    assert sum(r["rows"] for r in m) == 16_000
    assert all(r["wall_ms"] > 0 and r["completed_at"] > 0 for r in m)
    assert sum(r["n_splits"] for r in m) == 8


def test_torn_checkpoint_file_is_redone(spark, seq_path, ckpt_dir):
    cb = CheckpointedBuild(
        ckpt_dir, SKETCHES, target_rows_per_split=2_000, splits_per_batch=2
    )
    cb.run(spark, _files(seq_path))
    victim = sorted(ckpt_dir.glob("batch-*.parquet"))[0]
    victim.write_bytes(b"not parquet")  # simulate torn write
    out = cb.run(spark, _files(seq_path))
    assert int(out["td"].n) == 16_000
    assert len(cb.metrics()) == 8
    # the torn batch was rebuilt in place, not merely skipped
    assert pq.read_table(victim).num_rows == 1


def test_checkpoint_resumes_across_iceberg_appends(tmp_path, spark):
    """Snapshot-aware incremental maintenance: after an Iceberg append,
    a resumed CheckpointedBuild schedules batches only for the delta file
    and the merged digest equals a from-scratch build of the new state."""
    root = tmp_path / "tbl"
    W.create_table(root, ts_ms=1000)
    f1 = root / "data" / "a.parquet"
    f2 = root / "data" / "b.parquet"
    pq.write_table(pa.table({"x": [1, 2, 3, 4]}), f1)
    s1 = W.append_snapshot(root, [f1], ts_ms=2000)
    cb = CheckpointedBuild(
        tmp_path / "ckpt", {"d": ("x", TDIGEST_DISCRETE())}, splits_per_batch=1
    )
    d1 = cb.run(spark, iceberg_scan_paths_static(str(root), snapshot_id=s1))["d"]
    assert d1.n == 4
    done1 = set(cb.completed())
    pq.write_table(pa.table({"x": [10, 11]}), f2)
    s2 = W.append_snapshot(root, [f2], ts_ms=3000)
    d2 = cb.run(spark, iceberg_scan_paths_static(str(root), snapshot_id=s2))["d"]
    assert d2.n == 6
    done2 = cb.completed()
    new = set(done2) - done1
    assert len(new) == 1  # exactly the delta file's batch ran
    lineage = json.loads(done2[new.pop()]["lineage"])
    assert [rec["path"].rsplit("/", 1)[1] for rec in lineage] == ["b.parquet"]
    # merged digest == from-scratch build over the same snapshot
    cb2 = CheckpointedBuild(
        tmp_path / "ckpt2", {"d": ("x", TDIGEST_DISCRETE())}, splits_per_batch=1
    )
    d_full = cb2.run(spark, iceberg_scan_paths_static(str(root)))["d"]
    assert d2.to_bytes() == d_full.to_bytes()


APPEND_SKETCHES = {
    "d": ("x", TDIGEST_DISCRETE()),
    "td": ("v", TDIGEST(0.01)),
    "kll": ("v", KLL_SPEC(200)),
    "hll": ("x", HLL_INTS(12)),
}


def _batch_files(done: dict, key: str) -> list[str]:
    lineage = json.loads(done[key]["lineage"])
    return [rec["path"].rsplit("/", 1)[1] for rec in lineage]


def test_appends_scan_only_the_new_file(tmp_path, spark):
    """Append stability at default arguments: each appended file adds
    exactly one batch key whose lineage names only that file, even though
    the writer's random file names land anywhere in the sorted path list;
    every file is scanned once over the whole run, and the refreshed
    states are byte-equal to a fresh build over the final snapshot."""
    root = tmp_path / "tbl"
    W.create_table(root, ts_ms=1000)
    rnd = random.Random(6)
    names = [
        f"part-{uuid.UUID(int=rnd.getrandbits(128), version=4).hex}.parquet"
        for _ in range(5)
    ]
    assert names != sorted(names)  # commit order is not path order
    rng = np.random.default_rng(6)
    cb = CheckpointedBuild(tmp_path / "ckpt", APPEND_SKETCHES)
    seen: set[str] = set()
    scanned = 0
    for i, name in enumerate(names):
        f = root / "data" / name
        pq.write_table(
            pa.table({
                "x": rng.integers(0, 500, 1_000),
                "v": rng.normal(10.0 * i, 3.0, 1_000),
            }),
            f,
        )
        W.append_snapshot(root, [f], ts_ms=2000 + i)
        out = cb.run(spark, iceberg_scan_paths_static(str(root)))
        assert out["d"].n == 1_000 * (i + 1)
        done = cb.completed()
        new = set(done) - seen
        assert len(new) == 1, f"append {i} re-keyed {len(new)} batches"
        files = _batch_files(done, new.pop())
        assert files == [name]
        scanned += len(files)
        seen = set(done)
    assert scanned == len(names)

    fresh = CheckpointedBuild(tmp_path / "fresh", APPEND_SKETCHES).run(
        spark, iceberg_scan_paths_static(str(root))
    )
    for n in APPEND_SKETCHES:
        assert out[n].to_bytes() == fresh[n].to_bytes(), n


def test_splits_per_batch_chunks_within_one_file(tmp_path, spark):
    """``splits_per_batch`` groups splits of one file only: a 5-row-group
    file cut into 5 splits makes batches of 2, 2 and 1, and the one-split
    file beside it gets its own batch instead of filling the last one."""
    big, small = tmp_path / "a.parquet", tmp_path / "b.parquet"
    pq.write_table(pa.table({"x": np.arange(500)}), big, row_group_size=100)
    pq.write_table(pa.table({"x": np.arange(500, 600)}), small)
    cb = CheckpointedBuild(
        tmp_path / "ckpt", {"d": ("x", TDIGEST_DISCRETE())},
        target_rows_per_split=100, splits_per_batch=2,
    )
    out = cb.run(spark, [str(big), str(small)])
    assert out["d"].n == 600
    done = cb.completed()
    batches = sorted(_batch_files(done, k) for k in done)
    assert batches == [
        ["a.parquet"], ["a.parquet", "a.parquet"], ["a.parquet", "a.parquet"],
        ["b.parquet"],
    ]
