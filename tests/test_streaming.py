"""Structured Streaming sketch aggregation (streaming/__init__.py)."""

import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tdigest_spark.operators.aggregate import HLL_INTS, TDIGEST
from tdigest_spark.sketch.tdigest import TDigest
from tdigest_spark.streaming import (
    incremental_build,
    read_state,
    windowed_digests,
)

SKETCHES = {
    "td": ("value", TDIGEST(0.01)),
    "hll": ("value", HLL_INTS(12)),
}


def _write_events(path, seed, n, t0=1_700_000_000):
    rng = np.random.default_rng(seed)
    tbl = pa.table(
        {
            "ts": pa.array(
                ((t0 + rng.integers(0, 3 * 3600, n)) * 1_000_000).astype(
                    "int64"
                )
            ).cast(pa.timestamp("us")),
            "source": pa.array(
                np.where(rng.random(n) < 0.7, "web", "code")
            ),
            "value": rng.normal(100, 15, n),
        }
    )
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(tbl, path / f"events-{seed}.parquet")


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "in": tmp_path / "in",
        "state": tmp_path / "state",
        "ckpt": tmp_path / "ckpt",
    }
    yield d
    for p in d.values():
        shutil.rmtree(p, ignore_errors=True)


def _run_stream(spark, dirs):
    stream = (
        spark.readStream.schema("ts timestamp, source string, value double")
        .parquet(str(dirs["in"]))
    )
    q = incremental_build(stream, SKETCHES, dirs["state"], dirs["ckpt"])
    q.awaitTermination(120)
    return read_state(dirs["state"], SKETCHES)


def test_incremental_build_and_restart(spark, dirs):
    _write_events(dirs["in"], seed=1, n=4_000)
    out = _run_stream(spark, dirs)
    assert int(out["td"].n) == 4_000

    # restart with new data: Spark's checkpoint skips the old file, our
    # state table carries the old digest forward
    _write_events(dirs["in"], seed=2, n=3_000)
    out = _run_stream(spark, dirs)
    assert int(out["td"].n) == 7_000

    # restart with NO new data: state unchanged (no double-merge)
    out2 = _run_stream(spark, dirs)
    assert out2["td"].to_bytes() == out["td"].to_bytes()
    assert out2["hll"].to_bytes() == out["hll"].to_bytes()

    # accuracy vs the exact batch view of the same files
    exact = (
        spark.read.parquet(str(dirs["in"])).select("value").toPandas()["value"]
    )
    for p in [0.1, 0.5, 0.9]:
        est = out["td"].quantile(p)
        assert abs(est - np.quantile(exact, p)) < 0.05 * abs(
            np.quantile(exact, p)
        )


def test_windowed_digests_per_key(spark, dirs):
    _write_events(dirs["in"], seed=5, n=6_000)
    stream = (
        spark.readStream.schema("ts timestamp, source string, value double")
        .parquet(str(dirs["in"]))
    )
    out = windowed_digests(
        stream, "ts", "source", "value", TDIGEST(0.01), window_seconds=3600
    )
    qname = f"win_{int(time.time()*1000)}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.table(qname).toPandas()
    # update mode re-emits a group on eviction (watermark timeout); the
    # last emission per (key, window) is the final state
    res = res.drop_duplicates(subset=["key", "window_start"], keep="last")
    assert set(res["key"]) == {"web", "code"}
    assert res.groupby("key")["window_start"].nunique().min() >= 3

    # per-(key, window) counts and medians match the exact batch groupby
    pdf = spark.read.parquet(str(dirs["in"])).toPandas()
    pdf["window_start"] = (
        pdf["ts"].astype("int64") // 10**9 // 3600 * 3600
    )
    for (k, w), grp in pdf.groupby(["source", "window_start"]):
        row = res[(res["key"] == k) & (res["window_start"] == w)]
        assert len(row) == 1, (k, w)
        assert int(row["n"].iloc[0]) == len(grp)
        d = TDigest.from_bytes(row["state"].iloc[0])
        med = grp["value"].median()
        assert abs(d.quantile(0.5) - med) < 0.05 * abs(med)


def test_incremental_grouped_per_key(spark, dirs):
    from tdigest_spark.streaming import (
        incremental_build_grouped,
        read_state_grouped,
    )

    spec = TDIGEST(0.01)

    def run():
        stream = (
            spark.readStream.schema(
                "ts timestamp, source string, value double"
            ).parquet(str(dirs["in"]))
        )
        q = incremental_build_grouped(
            stream, "source", "value", spec, dirs["state"], dirs["ckpt"]
        )
        q.awaitTermination(120)
        return read_state_grouped(dirs["state"], spec)

    _write_events(dirs["in"], seed=11, n=3_000)
    st = run()
    exact = {
        r["source"]: r["count"]
        for r in spark.read.parquet(str(dirs["in"]))
        .groupBy("source")
        .count()
        .collect()
    }
    assert {k: int(v.n) for k, v in st.items()} == exact

    # restart with more data: per-key states carried forward and extended
    _write_events(dirs["in"], seed=12, n=2_000)
    st = run()
    exact = {
        r["source"]: r["count"]
        for r in spark.read.parquet(str(dirs["in"]))
        .groupBy("source")
        .count()
        .collect()
    }
    assert {k: int(v.n) for k, v in st.items()} == exact

    # rollup-by-merge: global digest == sum of per-key ns, median sane
    glob = TDigest(0.01)
    for sk in st.values():
        glob.merge(sk)
    assert int(glob.n) == sum(exact.values())
    vals = spark.read.parquet(str(dirs["in"])).toPandas()["value"]
    assert abs(glob.quantile(0.5) - vals.median()) < 0.05 * abs(vals.median())

    # replay safety: rerun with no new data changes nothing
    st2 = run()
    assert {k: v.to_bytes() for k, v in st2.items()} == {
        k: v.to_bytes() for k, v in st.items()
    }


def test_incremental_grouped_null_key(spark, dirs):
    """A null group key keeps its own per-key state, stored as a null
    ``key`` and read back as ``None``; it never collides with a real
    "None" string key, and it survives a second micro-batch run."""
    from tdigest_spark.streaming import (
        incremental_build_grouped,
        read_state_grouped,
    )

    spec = TDIGEST(0.01)
    schema = "ts timestamp, source string, value double"

    def write(name, keys):
        n = len(keys)
        dirs["in"].mkdir(parents=True, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array([1_700_000_000_000_000] * n).cast(
                        pa.timestamp("us")
                    ),
                    "source": pa.array(keys, pa.string()),
                    "value": pa.array(np.arange(n, dtype=np.float64)),
                }
            ),
            dirs["in"] / f"{name}.parquet",
        )

    def run():
        stream = spark.readStream.schema(schema).parquet(str(dirs["in"]))
        q = incremental_build_grouped(
            stream, "source", "value", spec, dirs["state"], dirs["ckpt"]
        )
        q.awaitTermination(120)
        assert q.exception() is None
        return read_state_grouped(dirs["state"], spec)

    write("a", ["web", None, "None", None, "web", "web"])
    st = run()
    assert {k: int(v.n) for k, v in st.items()} == {"web": 3, None: 2, "None": 1}
    write("b", [None, "code", None])
    st = run()
    assert {k: int(v.n) for k, v in st.items()} == {
        "web": 3,
        None: 4,
        "None": 1,
        "code": 1,
    }


def test_windowed_digests_list_values(spark, tmp_path):
    """An ``array<bigint>`` value column is flattened like the batch path:
    null rows and null elements contribute nothing, and each window's
    digest equals a batch digest of the same flattened values."""
    from tdigest_spark.operators.aggregate import build_sketch

    ind = tmp_path / "list_in"
    ind.mkdir(parents=True)
    t0 = 1_700_000_000
    vals = [[1, 2, 3], None, [4, None, 5], [], [6], [7, 8], None, [9, 10, 11]]
    n = len(vals)
    pq.write_table(
        pa.table(
            {
                "ts": pa.array(
                    ((t0 + np.arange(n) * 60) * 1_000_000).astype("int64")
                ).cast(pa.timestamp("us")),
                "k": pa.array(["a", "b"] * (n // 2)),
                "v": pa.array(vals, pa.list_(pa.int64())),
            }
        ),
        ind / "f.parquet",
    )
    stream = spark.readStream.schema(
        "ts timestamp, k string, v array<bigint>"
    ).parquet(str(ind))
    out = windowed_digests(stream, "ts", "k", "v", TDIGEST(0.01), 3600)
    qn = f"listwin_{int(time.time() * 1000)}"
    q = (
        out.writeStream.format("memory").queryName(qn)
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    rows = spark.table(qn).toPandas().drop_duplicates(
        subset=["key", "window_start"], keep="last"
    )
    batch = spark.read.parquet(str(ind))
    assert sorted(rows["key"]) == ["a", "b"]
    for _, r in rows.iterrows():
        want = build_sketch(batch.where(batch.k == r["key"]), "v", TDIGEST(0.01))
        assert int(r["n"]) == int(want.n)
        assert bytes(r["state"]) == want.to_bytes()
    assert sorted(rows["n"]) == [5, 6]


def test_sliding_windowed_digests(spark, dirs):
    """slide = window/2: every event lands in exactly 2 windows; per-window
    counts match the exact overlapping-window groupby."""
    _write_events(dirs["in"], seed=9, n=4_000)
    stream = (
        spark.readStream.schema("ts timestamp, source string, value double")
        .parquet(str(dirs["in"]))
    )
    out = windowed_digests(
        stream, "ts", "source", "value", TDIGEST(0.01),
        window_seconds=3600, slide_seconds=1800,
    )
    qname = f"slide_{int(time.time()*1000)}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.table(qname).toPandas()
    res = res.drop_duplicates(subset=["key", "window_start"], keep="last")

    pdf = spark.read.parquet(str(dirs["in"])).toPandas()
    epoch = pdf["ts"].astype("int64") // 10**9
    total_assignments = 0
    for (k, w), row in res.set_index(["key", "window_start"]).iterrows():
        mask = (
            (pdf["source"] == k) & (epoch >= w) & (epoch < w + 3600)
        )
        assert int(row["n"]) == int(mask.sum()), (k, w)
        total_assignments += int(row["n"])
    # every event appears in exactly window/slide = 2 windows
    assert total_assignments == 2 * len(pdf)


def test_late_data_dropped_by_watermark(spark, dirs):
    """Events older than the watermark are excluded from window state (the
    late-data rule): batch 1 advances the watermark to max(ts) - 1h; batch
    2 mixes an on-time event with one far behind the watermark — only the
    on-time event lands in the digests."""
    t0 = 1_700_000_000
    _write_events(dirs["in"], seed=21, n=2_000, t0=t0)

    def run_batch():
        stream = (
            spark.readStream.schema(
                "ts timestamp, source string, value double"
            ).parquet(str(dirs["in"]))
        )
        out = windowed_digests(
            stream, "ts", "source", "value", TDIGEST(0.01),
            window_seconds=3600, watermark="1 hour",
        )
        captured = []

        def capture(batch_df, batch_id):
            captured.append(batch_df.toPandas())

        q = (
            out.writeStream.foreachBatch(capture)
            .outputMode("update")
            .option("checkpointLocation", str(dirs["ckpt"]))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        import pandas as _pd

        res = _pd.concat(captured, ignore_index=True)
        return res.drop_duplicates(subset=["key", "window_start"], keep="last")

    first = run_batch()
    n_first = int(first["n"].sum())
    assert n_first == 2_000

    # batch 2: one event 10h before the watermark (late -> dropped) and
    # one at the stream's max time (on time -> counted)
    late_ts = t0 - 10 * 3600
    ontime_ts = t0 + 3 * 3600 - 1
    tbl = pa.table(
        {
            "ts": pa.array(
                [late_ts * 1_000_000, ontime_ts * 1_000_000], pa.int64()
            ).cast(pa.timestamp("us")),
            "source": pa.array(["web", "web"]),
            "value": pa.array([1.0, 2.0]),
        }
    )
    pq.write_table(tbl, dirs["in"] / "late.parquet")
    # count batch 1 put into the on-time event's window
    ontime_win = (ontime_ts // 3600) * 3600
    prev = first[
        (first["key"] == "web") & (first["window_start"] == ontime_win)
    ]
    c_before = int(prev["n"].iloc[0]) if len(prev) else 0

    second = run_batch()
    # update-mode: only changed windows re-emit. The on-time event's
    # window carries its batch-1 state forward (open-window state survives
    # the restart) and gains exactly one; the late event creates NO window
    row = second[
        (second["key"] == "web") & (second["window_start"] == ontime_win)
    ]
    assert len(row) == 1
    assert int(row["n"].iloc[0]) == c_before + 1
    assert (second["window_start"] >= t0).all()  # no pre-t0 window created


def test_dedup_stream_within_watermark(spark, dirs, tmp_path):
    """Duplicate event_ids re-delivered across files inside the watermark
    horizon come out exactly once; state is watermark-bounded."""
    import pyspark.sql.functions as F

    from tdigest_spark.streaming import dedup_stream

    ind = tmp_path / "dedup_in"
    ind.mkdir(parents=True, exist_ok=True)
    t0 = 1_700_000_000
    # file 1: ids 0..99; file 2: ids 50..149 (50..99 are duplicates)
    for seed, lo in ((1, 0), (2, 50)):
        ids = np.arange(lo, lo + 100, dtype=np.int64)
        tbl = pa.table(
            {
                "event_id": pa.array(ids),
                "ts": pa.array(((t0 + ids % 600) * 1_000_000).astype("int64")).cast(
                    pa.timestamp("us")
                ),
                "value": np.full(100, float(seed)),
            }
        )
        pq.write_table(tbl, ind / f"ev-{seed}.parquet")

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(ind))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = dedup_stream(stream, ["event_id"], "ts", "30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("dedup_t").select("event_id").toPandas()["event_id"]
    assert sorted(got) == list(range(150))  # 150 distinct, no dup rows


def test_windowed_digests_string_values_and_nulls(spark, tmp_path):
    """The stateful update must flatten/drop like the batch path: string
    value columns and null rows must not crash or be ingested."""
    from tdigest_spark.operators.aggregate import TDIGEST_DISCRETE_STR
    from tdigest_spark.sketch.discrete import DiscreteDigest
    from tdigest_spark.streaming import windowed_digests
    import pyspark.sql.functions as F

    ind = tmp_path / "str_in"
    ind.mkdir(parents=True)
    t0 = 1_700_000_000
    tbl = pa.table(
        {
            "ts": pa.array(
                ((t0 + np.arange(8) * 60) * 1_000_000).astype("int64")
            ).cast(pa.timestamp("us")),
            "k": pa.array(["a"] * 8),
            "v": pa.array(["x", "y", None, "x", "z", None, "y", "x"]),
        }
    )
    pq.write_table(tbl, ind / "f.parquet")
    stream = (
        spark.readStream.schema("ts timestamp, k string, v string")
        .parquet(str(ind))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = windowed_digests(stream, "ts", "k", "v", TDIGEST_DISCRETE_STR(), 3600)
    qn = "strwin_t"
    q = (
        out.writeStream.format("memory").queryName(qn)
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    rows = spark.table(qn).toPandas().drop_duplicates(
        subset=["key", "window_start"], keep="last"
    )
    assert len(rows) == 1
    r = rows.iloc[0]
    assert r["n"] == 6  # nulls dropped, not counted
    d = DiscreteDigest.from_bytes(r["state"])
    assert d.n == 6 and d.quantile(0.5) == "x"


def test_incremental_mg_across_batches(spark, dirs):
    """Misra-Gries state carried across separate stream runs: the final
    candidate set must obey the heavy-hitter superset guarantee for the
    CONCATENATED stream, whatever the batch boundaries were."""
    from tdigest_spark.operators.aggregate import MG_SPEC
    from tdigest_spark.sketch.mg import MisraGries

    sketches = {"mg": ("value", MG_SPEC(8))}

    def _write_zipf(seed, n):
        rng = np.random.default_rng(seed)
        vals = (rng.zipf(1.5, n) % 50).astype(np.float64)
        tbl = pa.table(
            {
                "ts": pa.array([1_700_000_000_000_000] * n).cast(
                    pa.timestamp("us")
                ),
                "source": pa.array(["web"] * n),
                "value": vals,
            }
        )
        dirs["in"].mkdir(parents=True, exist_ok=True)
        pq.write_table(tbl, dirs["in"] / f"z{seed}.parquet")
        return vals

    all_vals = []
    for seed in (21, 22):
        all_vals.append(_write_zipf(seed, 3_000))
        stream = (
            spark.readStream.schema("ts timestamp, source string, value double")
            .parquet(str(dirs["in"]))
        )
        q = incremental_build(stream, sketches, dirs["state"], dirs["ckpt"])
        q.awaitTermination(120)

    mg = read_state(dirs["state"], sketches)["mg"]
    assert isinstance(mg, MisraGries)
    v = np.concatenate(all_vals)
    assert mg.n == v.shape[0]
    assert mg.err * 9 <= mg.n
    uv, uc = np.unique(v, return_counts=True)
    # value column is float -> MG string-keyed; keys are str(float)
    heavy_true = {
        str(x) for x, f in zip(uv.tolist(), uc.tolist()) if f * 9 > mg.n
    }
    assert heavy_true <= set(mg.candidates())
    for x, f in zip(uv.tolist(), uc.tolist()):
        lo, hi = mg.estimate(str(x))
        assert lo <= f <= hi


def test_enrich_stream_static_broadcast_join(spark, dirs):
    """Stream-static dimension enrichment: every matched row carries its
    dim attributes, unmatched keys drop (inner), and the join runs per
    micro-batch with no streaming state."""
    import pyspark.sql.functions as F

    from tdigest_spark.streaming import enrich_stream

    _write_events(dirs["in"], seed=31, n=500)
    stream = (
        spark.readStream.schema("ts timestamp, source string, value double")
        .parquet(str(dirs["in"]))
    )
    # dim covers only 'web' -> 'code' rows must be dropped by the inner join
    dim = spark.createDataFrame([("web", "tier1")], "source string, tier string")
    qname = f"enrich_test_{int(time.time() * 1000)}"
    q = (
        enrich_stream(stream, dim, ["source"])
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table(qname)
    batch = spark.read.parquet(str(dirs["in"]))
    n_web = batch.where(F.col("source") == "web").count()
    assert got.count() == n_web > 0
    assert got.where(F.col("tier") != "tier1").count() == 0
    assert set(got.columns) == {"source", "ts", "value", "tier"}


def test_interval_join_streams_attribution(spark, tmp_path):
    """Watermarked stream-stream interval join across micro-batches: the
    drained inner join over two file streams equals the batch interval
    join, including matches that span different micro-batches (click in
    file 1, purchase in file 2)."""
    import pyspark.sql.functions as F

    from tdigest_spark.streaming import interval_join_streams

    t0 = 1_700_000_000
    cdir, pdir = tmp_path / "clicks", tmp_path / "purchases"
    cdir.mkdir(), pdir.mkdir()
    rng = np.random.default_rng(11)
    # clicks in two files (forces >=2 micro-batches on the left side)
    for fi in (0, 1):
        ids = np.arange(fi * 40, fi * 40 + 40, dtype=np.int64)
        tbl = pa.table(
            {
                "click_id": pa.array(ids),
                "user_id": pa.array(rng.integers(0, 12, 40)),
                "click_ts": pa.array(
                    ((t0 + rng.integers(0, 7200, 40)) * 1_000_000).astype(
                        "int64"
                    )
                ).cast(pa.timestamp("us")),
            }
        )
        pq.write_table(tbl, cdir / f"c-{fi}.parquet")
    pids = np.arange(1000, 1030, dtype=np.int64)
    ptbl = pa.table(
        {
            "purchase_id": pa.array(pids),
            "user_id": pa.array(rng.integers(0, 12, 30)),
            "purchase_ts": pa.array(
                ((t0 + rng.integers(0, 9000, 30)) * 1_000_000).astype("int64")
            ).cast(pa.timestamp("us")),
        }
    )
    pq.write_table(ptbl, pdir / "p-0.parquet")

    def _read(d, schema):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(d))
        )

    clicks = _read(cdir, "click_id long, user_id long, click_ts timestamp")
    purchases = _read(
        pdir, "purchase_id long, user_id long, purchase_ts timestamp"
    )
    joined = interval_join_streams(
        clicks, purchases, ["user_id"], "click_ts", "purchase_ts",
        horizon="30 minutes", max_delay="10 minutes",
    )
    qname = f"attr_test_{int(time.time() * 1000)}"
    q = (
        joined.select("click_id", "purchase_id")
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "attr_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = sorted(
        (r.click_id, r.purchase_id) for r in spark.table(qname).collect()
    )
    cb = spark.read.parquet(str(cdir))
    pb = spark.read.parquet(str(pdir))
    want = sorted(
        (r.click_id, r.purchase_id)
        for r in cb.join(
            pb,
            (cb.user_id == pb.user_id)
            & (pb.purchase_ts >= cb.click_ts)
            & (pb.purchase_ts <= cb.click_ts + F.expr("INTERVAL 30 minutes")),
            "inner",
        ).collect()
    )
    assert got == want and len(want) > 0


def test_interval_join_streams_rejects_column_collision(spark, tmp_path):
    d = tmp_path / "coll"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "user_id": pa.array([1], pa.int64()),
                "ts": pa.array([1_700_000_000 * 1_000_000], pa.int64()).cast(
                    pa.timestamp("us")
                ),
                "value": pa.array([1.0]),
            }
        ),
        d / "x.parquet",
    )
    s1 = spark.readStream.schema(
        "user_id long, ts timestamp, value double"
    ).parquet(str(d))
    s2 = spark.readStream.schema(
        "user_id long, ts timestamp, value double"
    ).parquet(str(d))
    with pytest.raises(ValueError, match="rename overlapping"):
        from tdigest_spark.streaming import interval_join_streams

        interval_join_streams(s1, s2, ["user_id"], "ts", "ts")


def test_session_windows_merge_across_batches(spark, tmp_path):
    """Gap-based streaming sessions: events of one session split across
    micro-batches (maxFilesPerTrigger=1) still merge into ONE session;
    a session still open at drain (end past the final watermark) is
    withheld; finalized sessions carry exact counts and floor-cent sums."""
    import pyspark.sql.functions as F

    from tdigest_spark.streaming import session_windows

    t0 = 1_700_000_000_000_000  # µs
    m = 60_000_000
    d = tmp_path / "sess_in"
    d.mkdir()
    # file 0: user 1 events at 0 and 10 min; user 2 at 0
    # file 1: user 1 at 25 min (merges: gaps < 30 min); user 2 at 100 min
    #         (new session) ... plus a far sentinel that drives the
    #         watermark past every session end except user 2's last
    rows0 = [(1, t0, 1.0), (1, t0 + 10 * m, 2.5), (2, t0, 4.0)]
    rows1 = [(1, t0 + 25 * m, 3.0), (2, t0 + 100 * m, 8.0),
             (9, t0 + 500 * m, 0.5)]
    for fi, rows in enumerate([rows0, rows1]):
        tbl = pa.table(
            {
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.int64()).cast(
                    pa.timestamp("us")
                ),
                "value": pa.array([r[2] for r in rows], pa.float64()),
            }
        )
        pq.write_table(tbl, d / f"f-{fi}.parquet")
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    out = session_windows(
        stream, "user_id", "ts", gap="30 minutes", delay="1 second",
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * F.lit(100.0))).alias("cents"),
        ],
    )
    qname = f"sess_test_{int(time.time() * 1000)}"
    q = (
        out.select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("s"),
            F.unix_micros(F.col("session_window.end")).alias("e"),
            "n",
            "cents",
        )
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r.user_id, r.s): (r.e, r.n, r.cents)
        for r in spark.table(qname).collect()
    }
    gap = 30 * m
    # user 1: one merged session 0..25min+gap, 3 events, 100+250+300 cents
    # user 2: both sessions end before the watermark (sentinel at 500min
    # - 1s) -> emitted; the sentinel's own open session is withheld
    assert got == {
        (1, t0): (t0 + 25 * m + gap, 3, 650),
        (2, t0): (t0 + gap, 1, 400),
        (2, t0 + 100 * m): (t0 + 100 * m + gap, 1, 800),
    }


def test_session_watermark_boundary_margin():
    """The events_stream_session_stats oracle keys on session_end <=
    max_ts - 1s: guard that no session end sits NEAR that watermark at
    any SF (a boundary hit would make emission engine-dependent)."""
    import duckdb

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM "
            f"'/root/testdata/{sf}/events.parquet'"
        )
        (margin,) = con.execute(
            """
            WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
            flagged AS (
              SELECT user_id, us,
                     CASE WHEN us - LAG(us) OVER (
                            PARTITION BY user_id ORDER BY us) > 1800000000
                          OR LAG(us) OVER (
                            PARTITION BY user_id ORDER BY us) IS NULL
                     THEN 1 ELSE 0 END AS new_sess
              FROM e),
            sess AS (
              SELECT user_id, us,
                     SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
                                         ROWS UNBOUNDED PRECEDING) AS sid
              FROM flagged),
            ends AS (
              SELECT MAX(us) + 1800000000 AS session_end
              FROM sess GROUP BY user_id, sid)
            SELECT MIN(ABS(session_end -
                           ((SELECT MAX(epoch_us(ts)) FROM events)
                            - 1000000)))
            FROM ends
            """
        ).fetchone()
        assert margin > 100_000, (sf, margin)  # >100ms from the boundary


def test_interval_join_left_outer_null_emission(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: unmatched left rows emit
    with nulls exactly when the watermark passes click_ts + horizon;
    clicks whose join window is still open at drain are withheld."""
    import pyspark.sql.functions as F

    from tdigest_spark.streaming import interval_join_streams

    t0 = 1_700_000_000_000_000
    m = 60_000_000
    cdir, pdir = tmp_path / "oc", tmp_path / "op"
    cdir.mkdir(), pdir.mkdir()

    def _tbl(ids, users, tss, idname, tsname):
        return pa.table(
            {
                idname: pa.array(ids, pa.int64()),
                "user_id": pa.array(users, pa.int64()),
                tsname: pa.array(tss, pa.int64()).cast(pa.timestamp("us")),
            }
        )

    # clicks: 1 matched; 2 unmatched+expired; 3 unmatched, window still
    # open at drain (click_ts + horizon > wm)
    pq.write_table(
        _tbl([1, 2, 3], [7, 8, 7],
             [t0, t0 + 5 * m, t0 + 200 * m], "click_id", "click_ts"),
        cdir / "c.parquet",
    )
    # purchases: one match for click 1; a late sentinel drives the
    # purchase-side watermark; click side max is click 3's ts
    pq.write_table(
        _tbl([100, 101], [7, 99],
             [t0 + 10 * m, t0 + 260 * m], "purchase_id", "purchase_ts"),
        pdir / "p.parquet",
    )
    clicks = spark.readStream.schema(
        "click_id long, user_id long, click_ts timestamp"
    ).parquet(str(cdir))
    purchases = spark.readStream.schema(
        "purchase_id long, user_id long, purchase_ts timestamp"
    ).parquet(str(pdir))
    joined = interval_join_streams(
        clicks, purchases, ["user_id"], "click_ts", "purchase_ts",
        horizon="30 minutes", max_delay="1 second", how="left_outer",
    )
    qname = f"oj_test_{int(time.time() * 1000)}"
    q = (
        joined.select("click_id", "purchase_id")
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "oj_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {(r.click_id, r.purchase_id) for r in spark.table(qname).collect()}
    # wm = min(t0+200m, t0+260m) - 1s = t0+200m - 1s
    # click 1: matched. click 2: 5m+30m << wm -> null-emitted.
    # click 3: 200m+30m > wm -> withheld.
    assert got == {(1, 100), (2, None)}


def test_attribution_outer_watermark_margin():
    """events_stream_attribution_outer keys null emission on
    click_ts + 2h <?> min(max_click, max_purchase) - 1s: no unmatched
    click may sit near that boundary at any SF."""
    import duckdb

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM "
            f"'/root/testdata/{sf}/events.parquet'"
        )
        (margin,) = con.execute(
            """
            WITH c AS (
              SELECT event_id AS click_id, user_id, epoch_us(ts) AS cus
              FROM events WHERE event_type = 'click'
            ), p AS (
              SELECT user_id, epoch_us(ts) AS pus
              FROM events WHERE event_type = 'purchase'
            ), m AS (
              SELECT DISTINCT c.click_id
              FROM c JOIN p ON c.user_id = p.user_id
               AND p.pus >= c.cus AND p.pus <= c.cus + 7200000000
            ), wm AS (
              SELECT LEAST((SELECT MAX(cus) FROM c),
                           (SELECT MAX(pus) FROM p)) - 1000000 AS w
            )
            SELECT MIN(ABS(c.cus + 7200000000 - wm.w))
            FROM c, wm WHERE c.click_id NOT IN (SELECT click_id FROM m)
            """
        ).fetchone()
        assert margin > 100_000, (sf, margin)


def test_write_stream_to_iceberg_idempotent(spark, tmp_path):
    """foreachBatch Iceberg sink: per-epoch snapshot commits; a re-delivered
    epoch (Spark's at-least-once retry) must not double-commit or
    double-count rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import read_sequences
    from tdigest_spark.streaming import write_stream_to_iceberg

    indir = tmp_path / "in"
    indir.mkdir()
    pq.write_table(pa.table({"x": pa.array([1, 2], pa.int64())}), indir / "a.parquet")
    pq.write_table(pa.table({"x": pa.array([3], pa.int64())}), indir / "b.parquet")
    root = tmp_path / "tbl"
    W.create_table(root, ts_ms=1000)
    stream = (
        spark.readStream.schema("x long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    q, process = write_stream_to_iceberg(stream, root, tmp_path / "ckpt")
    assert q.awaitTermination(300), "stream did not drain"
    assert len(W.snapshot_ids(root)) == 2
    got = sorted(r.x for r in read_sequences(spark, str(root)).collect())
    assert got == [1, 2, 3]
    # retry epoch 0: same data, same id -> no new snapshot, no duplicates
    process(spark.read.parquet(str(indir / "a.parquet")), 0)
    assert len(W.snapshot_ids(root)) == 2
    got = sorted(r.x for r in read_sequences(spark, str(root)).collect())
    assert got == [1, 2, 3]
    # an EMPTY epoch commits nothing
    process(spark.read.parquet(str(indir / "a.parquet")).where("x > 99"), 7)
    assert len(W.snapshot_ids(root)) == 2


def test_iceberg_sink_restart_continues_from_checkpoint(spark, tmp_path):
    """Exactly-once ACROSS RESTARTS: a second availableNow run over the
    same checkpoint processes only files that arrived after the first run,
    appending new snapshots without touching the old ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import read_sequences
    from tdigest_spark.streaming import write_stream_to_iceberg

    indir = tmp_path / "in"
    indir.mkdir()
    pq.write_table(pa.table({"x": pa.array([1, 2], pa.int64())}), indir / "a.parquet")
    root = tmp_path / "tbl"
    W.create_table(root, ts_ms=1000)

    def run_once():
        stream = (
            spark.readStream.schema("x long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(indir))
        )
        q, _ = write_stream_to_iceberg(stream, root, tmp_path / "ckpt")
        assert q.awaitTermination(300), "stream did not drain"

    run_once()
    assert len(W.snapshot_ids(root)) == 1
    # new data lands while the pipeline is down
    pq.write_table(pa.table({"x": pa.array([3], pa.int64())}), indir / "b.parquet")
    run_once()
    ids = W.snapshot_ids(root)
    assert len(ids) == 2  # one NEW snapshot; epoch 0 not re-committed
    got = sorted(r.x for r in read_sequences(spark, str(root)).collect())
    assert got == [1, 2, 3]
    # and the pre-restart snapshot is still readable by id
    first = sorted(
        r.x
        for r in read_sequences(spark, str(root), snapshot_id=ids[0]).collect()
    )
    assert first == [1, 2]


def test_transform_with_state_restart_continues_totals(spark, tmp_path):
    """transformWithStateInPandas per-key ValueState survives a query
    RESTART: a second run with the same checkpoint folds newly-arrived
    files into the running (n, cents) state, so the last emission per key
    is the exact whole-history aggregate."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from tdigest_spark.streaming import transform_with_state_user_totals

    indir = tmp_path / "in"
    indir.mkdir()
    out = str(tmp_path / "out")
    pq.write_table(
        pa.table({"user_id": [1, 1, 2], "value": [1.25, 2.5, 10.0]}),
        indir / "a.parquet",
    )
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        def run_once():
            stream = (
                spark.readStream.schema("user_id long, value double")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(indir))
            )
            q = (
                transform_with_state_user_totals(stream, "user_id", "value")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(300), "TWS stream did not drain"

        run_once()
        # new data lands while the pipeline is down; user 1 recurs
        pq.write_table(
            pa.table({"user_id": [1, 3], "value": [0.75, 5.0]}),
            indir / "b.parquet",
        )
        run_once()
        final = {
            r.user_id: (r.n_events, r.value_cents)
            for r in (
                spark.read.parquet(out)
                .groupBy("user_id")
                .agg(
                    F.max("n_events").alias("n_events"),
                    F.max_by("value_cents", "n_events").alias("value_cents"),
                )
                .collect()
            )
        }
        # user 1: 125+250 from run 1, +75 across the restart
        assert final == {1: (3, 450), 2: (1, 1000), 3: (1, 500)}
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)


def test_tws_inactivity_flush_semantics(spark, tmp_path):
    """Timer semantics pinned by construction: an idle key flushes once
    with its full totals; a key active into the watermark horizon does
    not; a key whose early timer went stale (newer events re-armed it)
    neither double-emits nor emits prematurely."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tdigest_spark.streaming import transform_with_state_inactivity_flush
    from pyspark.sql import functions as F

    T0 = datetime.datetime(2024, 1, 1)

    def ts(sec):
        return T0 + datetime.timedelta(seconds=sec)

    indir = tmp_path / "in"
    indir.mkdir()
    # gap 60s, delay 10s; final max ts = 500s -> watermark 490s
    # user 1: last 10s  -> expiry 70s  <= 490 -> flushes (n=2)
    # user 2: last 500s -> expiry 560s >  490 -> stays open
    # user 3: batch-1 last 20s (would expire 80s) but batch-2 event at 460s
    #         re-arms to 520s > 490 -> must NOT emit (stale-timer guard)
    pq.write_table(
        pa.table(
            {
                "user_id": [1, 1, 2, 3],
                "ts": [ts(0), ts(10), ts(0), ts(20)],
                "value": [1.0, 2.0, 5.0, 7.0],
            }
        ),
        indir / "a.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "user_id": [2, 3],
                "ts": [ts(500), ts(460)],
                "value": [5.0, 7.0],
            }
        ),
        indir / "b.parquet",
    )
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema("user_id long, ts timestamp_ntz, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(indir))
            .select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
            .withWatermark("ts", "10 seconds")
        )
        q = (
            transform_with_state_inactivity_flush(
                stream, "user_id", "ts", "value", gap_ms=60_000
            )
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "timer stream did not drain"
        rows = sorted(
            (r.user_id, r.n_events, r.value_cents)
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        )
        assert rows == [(1, 2, 300)]
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)


def test_tws_inactivity_flush_boundary_margin():
    """The inactivity-flush oracle depends on the empirically-pinned rule
    expiry_ms <= floor_ms(max_ts) - delay_ms (inclusive, ms-floored). Guard
    that no user at any SF sits within 5 ms of the boundary, so a 1 ms
    flooring difference could never flip the flushed set."""
    import duckdb

    for sf in ("0.001", "0.01", "0.1"):
        gap_ms, delay_ms = 3_600_000, 10_000
        rows = duckdb.sql(
            f"""
            WITH wm AS (
              SELECT (epoch_us(MAX(ts)) // 1000) - {delay_ms} AS wm_ms
              FROM '/root/testdata/sf{sf}/events.parquet'
            )
            SELECT MIN(ABS(((epoch_us(mx) // 1000) + {gap_ms}) - wm.wm_ms))
            FROM (
              SELECT user_id, MAX(ts) AS mx
              FROM '/root/testdata/sf{sf}/events.parquet' GROUP BY user_id
            ), wm
            """
        ).fetchone()
        assert rows[0] > 5, f"sf{sf}: boundary margin {rows[0]}ms too small"


def test_tws_without_protobuf_fails_fast(monkeypatch):
    """When neither a protobuf runtime nor the _pbshim mount is available
    the TWS helpers must raise a clear driver-side error BEFORE building
    the query — workers dying mid-state-server-handshake can hang the
    stream otherwise."""
    import importlib.util

    import pytest

    from tdigest_spark import streaming as S

    real = importlib.util.find_spec

    def fake(name, *a, **k):
        if name == "google.protobuf":
            return None
        return real(name, *a, **k)

    monkeypatch.setattr(importlib.util, "find_spec", fake)
    for fn, args in [
        (S.transform_with_state_user_totals, (None, "user_id", "value")),
        (S.transform_with_state_type_breakdown, (None, "user_id", "event_type")),
        (S.transform_with_state_inactivity_flush, (None, "u", "ts", "v", 1000)),
        (S.transform_with_state_warm_start, (None, None, "u", "id", "v")),
    ]:
        with pytest.raises(RuntimeError, match="protobuf"):
            fn(*args)


def test_attribution_full_right_watermark_margin():
    """events_stream_attribution_full additionally keys ORPHAN-PURCHASE
    emission on purchase_ts <?> min(max_click, max_purchase) - 1s (a
    right row only waits for earlier-or-equal clicks — no horizon term,
    empirically pinned): no unmatched purchase may sit near that
    boundary at any SF."""
    import duckdb

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM "
            f"'/root/testdata/{sf}/events.parquet'"
        )
        (margin,) = con.execute(
            """
            WITH c AS (
              SELECT user_id, epoch_us(ts) AS cus
              FROM events WHERE event_type = 'click'
            ), p AS (
              SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pus
              FROM events WHERE event_type = 'purchase'
            ), m AS (
              SELECT DISTINCT p.purchase_id
              FROM c JOIN p ON c.user_id = p.user_id
               AND p.pus >= c.cus AND p.pus <= c.cus + 7200000000
            ), wm AS (
              SELECT LEAST((SELECT MAX(cus) FROM c),
                           (SELECT MAX(pus) FROM p)) - 1000000 AS w
            )
            SELECT MIN(ABS(p.pus - wm.w))
            FROM p, wm
            WHERE p.purchase_id NOT IN (SELECT purchase_id FROM m)
            """
        ).fetchone()
        assert margin > 100_000, (sf, margin)


def test_full_outer_interval_join_semantics(spark, tmp_path):
    """Deterministic micro-case pinning BOTH emission rules of the
    full-outer stream-stream interval join: matched pair, expired
    unmatched left (click_ts + horizon < wm), withheld recent left,
    expired unmatched rights (purchase_ts < wm), withheld right beyond
    the watermark."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from tdigest_spark.streaming import interval_join_streams

    base = datetime.datetime(2024, 1, 1)

    def ts(m):
        return base + datetime.timedelta(minutes=m)

    ldir, rdir = tmp_path / "l", tmp_path / "r"
    ldir.mkdir(), rdir.mkdir()
    pq.write_table(
        pa.table(
            {
                "click_id": pa.array([1, 2, 3], pa.int64()),
                "user_id": pa.array([7, 7, 7], pa.int64()),
                "click_ts": pa.array(
                    [ts(0), ts(10), ts(200)], pa.timestamp("us")
                ),
            }
        ),
        ldir / "l.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "purchase_id": pa.array([11, 12, 13, 14], pa.int64()),
                "user_id": pa.array([7, 7, 7, 8], pa.int64()),
                "purchase_ts": pa.array(
                    [ts(5), ts(90), ts(199), ts(210)], pa.timestamp("us")
                ),
            }
        ),
        rdir / "r.parquet",
    )
    l = spark.readStream.schema(
        "click_id long, user_id long, click_ts timestamp"
    ).parquet(str(ldir))
    r = spark.readStream.schema(
        "purchase_id long, user_id long, purchase_ts timestamp"
    ).parquet(str(rdir))
    j = interval_join_streams(
        l, r, ["user_id"], "click_ts", "purchase_ts",
        horizon="1 hour", max_delay="1 second", how="full_outer",
    )
    q = (
        j.select("click_id", "purchase_id")
        .writeStream.format("memory")
        .queryName("fo_sem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240)
    got = sorted(
        [(r_.click_id, r_.purchase_id) for r_ in spark.table("fo_sem").collect()],
        key=lambda t: (t[0] or -9, t[1] or -9),
    )
    # wm = min(200, 210) - 1s. click3 (200) and purchase14 (210) withheld.
    assert got == [(None, 12), (None, 13), (1, 11), (2, None)]


def test_tws_state_ttl_short_expires_long_survives(spark, tmp_path):
    """State TTL semantics pinned by construction: a ValueState updated
    at batch 1 with ttl=2s reads as ABSENT at a batch processed >2s of
    wall-clock later (expiry is anchored to the UPDATING batch's
    processing time, so a driver-enforced monotonic gap strictly above
    the TTL guarantees expiry), while a 1h-TTL twin fed the same rows
    carries through. Neither availableNow nor processAllAvailable()
    terminates under timeMode='processingTime' (empty batches keep
    ticking) — the expected emission count is the drain signal."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tdigest_spark.streaming import transform_with_state_ttl_counts

    indir = tmp_path / "in"
    indir.mkdir()
    out = str(tmp_path / "out")
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        pq.write_table(
            pa.table({"k": pa.array([1, 1, 2], pa.int64())}),
            indir / "p1.parquet",
        )
        stream = spark.readStream.schema("k long").parquet(str(indir))
        q = (
            transform_with_state_ttl_counts(
                stream, "k", ttl_short_ms=2000, ttl_long_ms=3_600_000
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

        def outcount():
            try:
                return spark.read.parquet(out).count()
            except Exception:
                return 0

        deadline = time.monotonic() + 300
        while outcount() < 2:
            assert time.monotonic() < deadline, "batch 1 did not land"
            time.sleep(0.5)
        # enforce elapsed > ttl_short since the batch-1 update finished
        t0 = time.monotonic()
        while time.monotonic() - t0 < 2.6:
            time.sleep(0.1)
        pq.write_table(
            pa.table({"k": pa.array([1, 2, 2, 2], pa.int64())}),
            indir / "p2.parquet",
        )
        while outcount() < 4:
            assert time.monotonic() < deadline, "batch 2 did not land"
            time.sleep(0.5)
        q.stop()
        q.awaitTermination(60)
        rows = sorted(map(tuple, spark.read.parquet(out).collect()))
        # batch 1: cumulative (2,2)/(1,1); batch 2: short RESTARTED
        # (k=1 -> 1, k=2 -> 3) while long accumulated (3 and 4)
        assert rows == [(1, 1, 3), (1, 2, 2), (2, 1, 1), (2, 3, 4)]
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old
            )


def test_dynamic_session_watermark_boundary_margin():
    """events_stream_dynamic_sessions keys on session_end <= max_ts - 1s
    with PER-ROW gaps: guard that no dynamic session end sits near that
    watermark at any SF."""
    import duckdb

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM "
            f"'/root/testdata/{sf}/events.parquet'"
        )
        (margin,) = con.execute(
            """
            WITH e AS (
              SELECT user_id, epoch_us(ts) AS us,
                     CASE WHEN event_type = 'purchase'
                          THEN 3600000000 ELSE 1800000000 END AS gap
              FROM events),
            flagged AS (
              SELECT user_id, us, gap,
                     CASE WHEN MAX(us + gap) OVER (
                            PARTITION BY user_id ORDER BY us
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) IS NULL THEN 1
                          WHEN us > MAX(us + gap) OVER (
                            PARTITION BY user_id ORDER BY us
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) THEN 1
                     ELSE 0 END AS new_sess
              FROM e),
            sess AS (
              SELECT user_id, us, gap,
                     SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
                                         ROWS UNBOUNDED PRECEDING) AS sid
              FROM flagged),
            ends AS (
              SELECT MAX(us + gap) AS session_end
              FROM sess GROUP BY user_id, sid)
            SELECT MIN(ABS(session_end -
                           ((SELECT MAX(epoch_us(ts)) FROM events)
                            - 1000000)))
            FROM ends
            """
        ).fetchone()
        assert margin > 100_000, (sf, margin)
