"""Scan-in-worker fast path (operators/scan.py) vs the DataFrame path.

The fast path must be bit-identical to aggregate.build_sketches over the
same rows: both build per-unit partials with the same kernels and fold them
with the same deterministic sorted binary-tree merge, so serialized states
must match byte-for-byte.
"""

import hashlib
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tdigest_spark.operators.aggregate import (
    DDSKETCH_SPEC,
    HLL_INTS,
    KLL_SPEC,
    MG_SPEC,
    TDIGEST,
    build_sketches,
)
from tdigest_spark.operators.scan import (
    build_sketch_grouped_scan,
    build_sketches_scan,
    parquet_splits,
    scan_partials_rdd,
)
from tdigest_spark.plans.checkpoint import CheckpointedBuild
from tdigest_spark.sources.sequence_table import (
    default_cache_dir,
    generate_sequence_table,
)


@pytest.fixture(scope="module")
def seq_path():
    return generate_sequence_table(
        default_cache_dir() / "scantest_n20000",
        n_rows=20_000,
        seed=3,
        rows_per_file=2_500,
    )


SKETCHES = {
    "td_tokens": ("tokens", TDIGEST(0.01)),
    "td_ntok": ("n_tok", TDIGEST(0.01)),
    "hll": ("tokens", HLL_INTS(14)),
    "kll": ("n_tok", KLL_SPEC(200)),
    "dds": ("n_tok", DDSKETCH_SPEC(0.01)),
    "mg": ("n_tok", MG_SPEC(32)),
}


def test_scan_matches_dataframe_path(spark, seq_path):
    """HLL is exactly layout-invariant (register max), so the two paths
    must agree bit-for-bit; t-digest/KLL partials depend on ingest batching,
    so the contract is identical totals + quantiles within the error bound."""
    a = build_sketches(spark.read.parquet(str(seq_path)), SKETCHES)
    b = build_sketches_scan(
        spark, str(seq_path), SKETCHES, target_rows_per_split=2_500
    )
    assert a["hll"].to_bytes() == b["hll"].to_bytes()
    # DDSketch merge is exact integer addition: layout/batching-invariant,
    # so the two paths must agree bit-for-bit like HLL
    assert a["dds"].to_bytes() == b["dds"].to_bytes()
    assert a["td_tokens"].n == b["td_tokens"].n
    assert a["td_ntok"].n == b["td_ntok"].n
    # MG state depends on batching, but its guarantee does not
    assert a["mg"].n == b["mg"].n
    for sk in (a["mg"], b["mg"]):
        assert sk.err * 33 <= sk.n
    vals = np.sort(
        np.array(
            [
                r[0]
                for r in spark.read.parquet(str(seq_path))
                .select("n_tok")
                .collect()
            ]
        )
    )
    n = len(vals)
    for p in [0.01, 0.1, 0.5, 0.9, 0.99]:
        qa, qb = a["td_ntok"].quantile(p), b["td_ntok"].quantile(p)
        assert abs(qa - qb) <= 0.02 * max(abs(qa), 1.0), p
        # KLL: both paths must land within rank tolerance of each other
        ra = np.searchsorted(vals, a["kll"].quantile(p)) / n
        rb = np.searchsorted(vals, b["kll"].quantile(p)) / n
        assert abs(ra - rb) <= 0.02, p


def _sha256(sketches):
    return {n: hashlib.sha256(sk.to_bytes()).hexdigest() for n, sk in sketches.items()}


# sha256 of every SKETCHES state on the scantest_n20000 fixture, built by
# the DataFrame path (local[4] session) and the scan path
# (target_rows_per_split=2_500, partitions=4), recorded before the three
# front ends shared one ingest kernel: moving the dispatch must not move a
# byte.
SCAN_SHA256 = {
    "td_tokens": "7dc06a579d823a30af8deb1271636f5507f7589fc0bcb1de63d525bbf12b3184",
    "td_ntok": "1c87e428a33aec98353d15f0f881fb81436c95adba9fe9064d055df915d479e5",
    "hll": "6bfc97afafa57e03056d822e366fe92a951c4875b10e80ab0b30de3ead377c41",
    "kll": "c4fac75f11cc0521a4f46f3547514fb245cd9e9c2a67464332cf6a53a6aa7452",
    "dds": "3b1d5401543d7c235b11d4a60ccde291beb565cabddfc7dfabaea2acc266b21c",
    "mg": "ae04a9db985958f79a676190a2e240a341ecf9edbbcaa1af75390dc953f4d1cc",
}
# CheckpointedBuild (splits_per_batch=2) batches per file: each of the 8
# files is one split, so its 8 batches are the split groups of 8 scan
# partitions. KLL and MG fold per-partition states, so they differ from
# the 4-partition pin; the other four states are partition-invariant here.
SCAN8_SHA256 = {
    **SCAN_SHA256,
    "kll": "d31eb720a663884c00b97b2ad8fdb5f4bc26a28c07bf9a6d11297773ee2cf48f",
    "mg": "7618a91d70320e97a4b3fcec5dcd29963b856d28fded922664da97f1d70030ea",
}
STATE_SHA256 = {
    "dataframe": {
        "td_tokens": "d613845b3c11d7c35c35247fede62fa43428e3cf38ab9e9ea510904f5c1a1bd8",
        "td_ntok": "1c87e428a33aec98353d15f0f881fb81436c95adba9fe9064d055df915d479e5",
        "hll": "6bfc97afafa57e03056d822e366fe92a951c4875b10e80ab0b30de3ead377c41",
        "kll": "ca70f9be5f704952c9c9acf141dfda8ab4672cc86b2e89d6f76a786d1a53414a",
        "dds": "3b1d5401543d7c235b11d4a60ccde291beb565cabddfc7dfabaea2acc266b21c",
        "mg": "cb9255b14fe4e6c87773c603e5291e981fa2d4b2ad02f024eb9b6800cd10cff8",
    },
    "scan": SCAN_SHA256,
    "checkpoint": SCAN8_SHA256,
}


def _build_scan(spark, seq_path, partitions):
    return build_sketches_scan(
        spark, str(seq_path), SKETCHES, target_rows_per_split=2_500,
        partitions=partitions,
    )


def _build_three_ways(spark, seq_path, how, tmp_path):
    if how == "dataframe":
        return build_sketches(spark.read.parquet(str(seq_path)), SKETCHES)
    if how == "scan":
        return _build_scan(spark, seq_path, 4)
    return CheckpointedBuild(
        tmp_path / "ckpt", SKETCHES, target_rows_per_split=2_500,
        splits_per_batch=2,
    ).run(spark, str(seq_path))


@pytest.mark.parametrize("how", sorted(STATE_SHA256))
def test_states_pinned(spark, seq_path, tmp_path, how):
    got = _build_three_ways(spark, seq_path, how, tmp_path)
    assert _sha256(got) == STATE_SHA256[how]
    if how == "checkpoint":
        assert _sha256(_build_scan(spark, seq_path, 8)) == SCAN8_SHA256


def test_checkpoint_matches_scan_bytes(spark, seq_path, tmp_path):
    """8 one-split files in per-file batches hold the same split groups as
    8 scan partitions, so every folded state is byte-equal."""
    files = sorted(str(p) for p in seq_path.glob("*.parquet"))
    assert len(parquet_splits(files, target_rows_per_split=2_500)) == 8
    scan = build_sketches_scan(
        spark, files, SKETCHES, target_rows_per_split=2_500, partitions=8
    )
    cb = CheckpointedBuild(
        tmp_path / "ckpt", SKETCHES, target_rows_per_split=2_500,
        splits_per_batch=2,
    )
    ckpt = cb.run(spark, files)
    assert len(cb.metrics()) == 8
    for name in SKETCHES:
        assert ckpt[name].to_bytes() == scan[name].to_bytes(), name


def test_checkpoint_file_schema(spark, seq_path, tmp_path):
    """The batch file layout is a resume contract: a checkpoint dir
    written by an earlier build must still be read back as complete."""
    cb = CheckpointedBuild(
        tmp_path / "ckpt", SKETCHES, target_rows_per_split=2_500,
        splits_per_batch=4,
    )
    cb.run(spark, str(seq_path))
    files = sorted((tmp_path / "ckpt").glob("batch-*.parquet"))
    assert len(files) == 8  # one batch per one-split file
    for f in files:
        assert pq.read_schema(f).names == [
            "batch_key", "rows", "values_seen", "wall_ms", "completed_at",
            "lineage",
        ] + [f"state_{n}" for n in SKETCHES]
    assert sum(m["n_splits"] for m in cb.metrics()) == 8


def test_scan_partition_coalescing_invariant(spark, seq_path):
    """Exactly-mergeable sketches are independent of how many Spark
    partitions hold the splits; identical split sets + identical partition
    assignment reproduce t-digest bits too (determinism)."""
    few = build_sketches_scan(
        spark, str(seq_path), SKETCHES, target_rows_per_split=2_500, partitions=2
    )
    many = build_sketches_scan(
        spark, str(seq_path), SKETCHES, target_rows_per_split=2_500, partitions=8
    )
    assert few["hll"].to_bytes() == many["hll"].to_bytes()
    assert few["dds"].to_bytes() == many["dds"].to_bytes()
    assert few["td_tokens"].n == many["td_tokens"].n
    again = build_sketches_scan(
        spark, str(seq_path), SKETCHES, target_rows_per_split=2_500, partitions=8
    )
    for name in SKETCHES:
        assert again[name].to_bytes() == many[name].to_bytes(), name


def test_scan_filter_pushdown(spark, seq_path):
    out = build_sketches_scan(
        spark,
        str(seq_path),
        {"td": ("n_tok", TDIGEST(0.01))},
        target_rows_per_split=2_500,
        filter_expr=(pads.field("source") == "web"),
    )
    exact = (
        spark.read.parquet(str(seq_path)).where(F.col("source") == "web").count()
    )
    assert int(out["td"].n) == exact


def test_scan_lineage_metrics(spark, seq_path):
    rows = scan_partials_rdd(
        spark,
        sorted(str(p) for p in seq_path.glob("*.parquet")),
        SKETCHES,
        target_rows_per_split=2_500,
        partitions=4,
    ).collect()
    assert sum(r["rows"] for r in rows) == 20_000
    assert all(r["n_splits"] == len(r["lineage"]) for r in rows)
    assert all(sp["wall_ms"] >= 0 for r in rows for sp in r["lineage"])


def test_parquet_splits_row_group_alignment(seq_path):
    files = sorted(str(p) for p in seq_path.glob("*.parquet"))
    one_per_file = parquet_splits(files, target_rows_per_split=10_000)
    assert len(one_per_file) == len(files)
    fine = parquet_splits(files, target_rows_per_split=1)
    # at most one split per row group
    assert len(fine) >= len(files)
    assert sum(s.rows for s in fine) == 20_000


def test_scan_accuracy_vs_exact(spark, seq_path):
    out = build_sketches_scan(
        spark,
        str(seq_path),
        {"td": ("n_tok", TDIGEST(0.01))},
        target_rows_per_split=2_500,
    )
    vals = np.sort(
        np.array(
            [r[0] for r in spark.read.parquet(str(seq_path)).select("n_tok").collect()]
        ),
        kind="stable",
    )
    n = len(vals)
    for p in [0.01, 0.1, 0.5, 0.9, 0.99]:
        est = out["td"].quantile(p)
        # rank error bound: |rank(est) - p*n| small relative to q(1-q) shape
        rank = np.searchsorted(vals, est) / n
        assert abs(rank - p) < max(0.02, 3 * 4 * 0.01 * p * (1 - p))


def test_grouped_scan_matches_grouped_dataframe_path(spark, seq_path):
    """Per-source grouped build on the scan path vs the shuffle path:
    identical totals per key; HLL states bit-equal (layout-invariant)."""
    from pyspark.sql import functions as F

    from tdigest_spark.operators.aggregate import build_sketch_grouped
    from tdigest_spark.operators.scan import build_sketch_grouped_scan
    from tdigest_spark.sketch.hll import HLL
    from tdigest_spark.sketch.tdigest import TDigest

    df = spark.read.parquet(str(seq_path))
    exact = {r["source"]: r["count"] for r in df.groupBy("source").count().collect()}

    got = build_sketch_grouped_scan(
        spark, str(seq_path), "source", "n_tok", TDIGEST(0.01),
        target_rows_per_split=2_500,
    )
    assert {k: int(v.n) for k, v in got.items()} == exact

    # tokens (list column) path: totals = sum(n_tok) per source
    tok = build_sketch_grouped_scan(
        spark, str(seq_path), "source", "tokens", TDIGEST(0.01),
        target_rows_per_split=2_500,
    )
    exact_tok = {
        r["source"]: r["s"]
        for r in df.groupBy("source").agg(F.sum("n_tok").alias("s")).collect()
    }
    assert {k: int(v.n) for k, v in tok.items()} == exact_tok

    # HLL bit-equality vs the DataFrame grouped path
    hll_scan = build_sketch_grouped_scan(
        spark, str(seq_path), "source", "n_tok", HLL_INTS(12),
        target_rows_per_split=2_500,
    )
    hll_df = build_sketch_grouped(df, ["source"], "n_tok", HLL_INTS(12))
    for r in hll_df.collect():
        assert hll_scan[r["source"]].to_bytes() == bytes(r["state"])


# sha256 of every per-key state from build_sketch_grouped_scan on the
# scantest_n20000 fixture (target_rows_per_split=2_500, partitions=4),
# recorded from the groupByKey implementation before the grouped build
# became one stage: the driver fold must reproduce it byte for byte. The
# KLL and DDSketch pins were recorded before the grouped build moved onto
# the shared ingest kernel.
GROUPED_STATE_SHA256 = {
    ("tokens", "td"): {
        "books": "08b0eb536f69f070223916a39791343f544c64572cdecab0351ce783d7c6fd2f",
        "code": "59ae01153bff7aaa73976b4fc59f62bab53fde20ffc81fadcf21f5aa1e5be4f1",
        "rare": "0bab469afe8d53bb05cb1cafbe27084844a70e51ebc2d297d767ae37d24b93f3",
        "web": "7ba3c4f19306bf77bca6cd2a9167b29a4bfe24627f8265914ca0ae627ed529f3",
        "wiki": "6bb2be796256fb14e0967092682246154299ae47d9b57fe83dd1b9dcc397d117",
    },
    ("n_tok", "td"): {
        "books": "5132a6359f0c90f1b4efd08fc0113fb3feea9a4d5381e6bce5056eacaf6fbdad",
        "code": "11fab2fe09fb600bc8ec434e6bb31915409eefe00536fb11e7258d7c88dccef5",
        "rare": "b956be4a4c0237278de4ff6e249a009d7b543bd66e6e67c29f03024cd9f617ed",
        "web": "3a0242f7a23e6f513bb0da45997193bb158e587fac9b9fcb7311fe115d32fc98",
        "wiki": "ca78d0e0a630461d23b1e9ab7aaf83efef1bddb9bbeaf09427909505dc76a20b",
    },
    ("n_tok", "dds"): {
        "books": "94898edd166b0773b355c51979918ca738742e76b80063eb9c3230af6dae75d8",
        "code": "bdd7904c3d81bcd5dfdb858080820b53c67a4fd8df1341796807c5c0a9c187f2",
        "rare": "15c5242645ff8d53eb9e2736953dbf2df34bff3972ed8e72b8fa2805674cc8ed",
        "web": "112d0409326178367a1c7ae8a467ceea67b233fbc4a8e38319ca33f0cb1f4e2e",
        "wiki": "300ee4d21772f895c4bc66d1e71579c8c2eed2bb105aa47c5863a52244b4cfde",
    },
    ("n_tok", "kll"): {
        "books": "692a38c3b8bc427c42929c5ba01908d1a4e3fab9177dcbea27073ca7a4beebcd",
        "code": "9fbc1f1930f51e5c244067a89509e9f262397781603c4310120e09da738b6790",
        "rare": "f699959d86bea9c069dfa58509821abcea12a9f5404c924e1740255aca07befc",
        "web": "2d0c08566bc9993f433f5209cbf6b6cee32ef5209c0e5d2e57e99afde6acace5",
        "wiki": "c756d2d23c4a49cef3ffaed108fd83f415db32c0cb2719047572c6114b04c0e7",
    },
    ("n_tok", "hll"): {
        "books": "c49ed4baf707d26602ec74e6fab9da127d8745c130bad3c76a922d77705b05ab",
        "code": "d3e721f396a3c5e1f04c6f42e95a2617aaef48931fb5fcb0ed0893a12df9e38c",
        "rare": "5cabdb462dd192a6ada256c046bbcda6b269551b2436510d8bebd14fe36b415a",
        "web": "f86f461b500805a81cb0c2b50696dc2ce9ac76b157adabd58c59ec71f49d5069",
        "wiki": "4fbf1321356a38caa0d5707eb8a1b9636dbe36a487343ae23f1d40f080abd7e4",
    },
}
GROUPED_SPECS = {
    "td": TDIGEST(0.01),
    "hll": HLL_INTS(12),
    "kll": KLL_SPEC(200),
    "dds": DDSKETCH_SPEC(0.01),
}


@pytest.mark.parametrize("column,spec_name", sorted(GROUPED_STATE_SHA256))
def test_grouped_scan_states_pinned(spark, seq_path, column, spec_name):
    got = build_sketch_grouped_scan(
        spark, str(seq_path), "source", column, GROUPED_SPECS[spec_name],
        target_rows_per_split=2_500, partitions=4,
    )
    assert {
        k: hashlib.sha256(v.to_bytes()).hexdigest() for k, v in got.items()
    } == GROUPED_STATE_SHA256[(column, spec_name)]


def test_grouped_scan_is_one_stage(spark, seq_path):
    """The per-key fold runs on the driver: one call is one job of one
    stage, so a reduce-side shuffle cannot come back unnoticed."""
    sc = spark.sparkContext
    group = "grouped-scan-stage-count"
    sc.setJobGroup(group, "one grouped scan build")
    try:
        build_sketch_grouped_scan(
            spark, str(seq_path), "source", "tokens", TDIGEST(0.01),
            target_rows_per_split=2_500, partitions=4,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    # the status store is fed by the async listener bus: wait for the job
    # to be recorded as finished before reading its stages
    deadline = time.monotonic() + 30
    while True:
        jobs = tracker.getJobIdsForGroup(group)
        infos = [tracker.getJobInfo(j) for j in jobs]
        if jobs and all(i is not None and i.status == "SUCCEEDED" for i in infos):
            break
        assert time.monotonic() < deadline, (jobs, infos)
        time.sleep(0.1)
    assert len(jobs) == 1
    assert len(infos[0].stageIds) == 1


def _null_table(tmp_path):
    """Two files: null group keys, null list rows, null list elements and
    null scalars, spread so every key meets several splits. The second
    file stores its keys dictionary-encoded (as pandas categoricals write
    them)."""
    root = tmp_path / "nulls"
    root.mkdir()
    rng = np.random.default_rng(7)
    for f in range(2):
        n = 400
        src = rng.choice(["a", "b", None], size=n).tolist()
        tokens, n_tok = [], []
        for i in range(n):
            if i % 17 == 0:
                tokens.append(None)
            else:
                row = rng.integers(0, 50, size=int(rng.integers(0, 6))).tolist()
                if i % 5 == 0:
                    row.append(None)
                tokens.append(row)
            n_tok.append(None if i % 11 == 0 else int(rng.integers(0, 100)))
        pq.write_table(
            pa.table(
                {
                    "source": (
                        pa.array(src, pa.string()).dictionary_encode()
                        if f
                        else pa.array(src, pa.string())
                    ),
                    "tokens": pa.array(tokens, pa.list_(pa.int32())),
                    "n_tok": pa.array(n_tok, pa.int32()),
                }
            ),
            root / f"part-{f}.parquet",
            row_group_size=100,
        )
    return root


def test_grouped_scan_null_keys_and_values(spark, tmp_path):
    """A null key is its own group under ``None``; null list rows and null
    elements contribute nothing. Per key, the grouped build equals the
    plain scan build filtered to that key, byte for byte (same splits, same
    partitions, same per-split update sequence)."""
    root = _null_table(tmp_path)
    tbl = pq.read_table(root)
    for column in ("tokens", "n_tok"):
        got = build_sketch_grouped_scan(
            spark, str(root), "source", column, TDIGEST(0.01),
            target_rows_per_split=100, partitions=3,
        )
        assert set(got) == {"a", "b", None}
        for key, sk in got.items():
            mask = (
                tbl["source"].is_null()
                if key is None
                else pc.equal(tbl["source"], key)
            )
            col = tbl.filter(mask)[column]
            if column == "tokens":
                col = pc.list_flatten(col)
            assert int(sk.n) == len(col) - col.null_count, (column, key)
            field = pads.field("source")
            ref = build_sketches_scan(
                spark, str(root), {"td": (column, TDIGEST(0.01))},
                target_rows_per_split=100, partitions=3,
                filter_expr=field.is_null() if key is None else field == key,
            )["td"]
            assert sk.to_bytes() == ref.to_bytes(), (column, key)
