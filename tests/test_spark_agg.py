"""End-to-end Spark two-phase sketch aggregation tests (SURVEY.md §7.2):
scan -> vectorized partial build -> associative merge -> query, verified
against exact numpy oracles on the same rows and against the serial sketch
core (distributed == serial, BASELINE.json north_star)."""

import numpy as np
import pytest

from tdigest_spark.operators.aggregate import (
    BLOOM_INTS,
    CMS_INTS,
    HLL_INTS,
    KLL_SPEC,
    TDIGEST,
    build_sketch,
    build_sketch_grouped,
    build_sketches,
    partials_df,
    tree_merge_states,
)
from tdigest_spark.sketch.tdigest import TDigest


@pytest.fixture(scope="module")
def exact_tokens(seq_table):
    """All token values + n_tok collected once for the exact oracle."""
    rows = seq_table.select("doc_id", "tokens", "n_tok", "source").collect()
    toks = np.concatenate([np.asarray(r["tokens"], dtype=np.int64) for r in rows])
    n_tok = np.array([r["n_tok"] for r in rows], dtype=np.float64)
    srcs = np.array([r["source"] for r in rows])
    return toks, n_tok, srcs, rows


def test_row_invariant_tokens_roundtrip(seq_table, exact_tokens):
    # input_hint invariant: per-row token-array equality vs generated input
    toks, n_tok, _, rows = exact_tokens
    from tdigest_spark.sources.sequence_table import _chunk
    rng = np.random.default_rng(42)
    regen = _chunk(rng, 0, 5_000, 50257)  # first file regenerated
    first = {r["doc_id"]: r["tokens"] for r in rows if r["doc_id"] < "doc-000000005000"}
    regen_ids = regen.column("doc_id").to_pylist()
    regen_toks = regen.column("tokens").to_pylist()
    for did, tk in zip(regen_ids[:100], regen_toks[:100]):
        assert first[did] == tk
    assert (n_tok == [len(r["tokens"]) for r in rows]).all()


def test_tdigest_over_ntok_matches_serial_and_exact(spark, seq_table, exact_tokens):
    _, n_tok, _, _ = exact_tokens
    dist = build_sketch(seq_table, "n_tok", TDIGEST(0.01))
    serial = TDigest(0.01)
    serial.push(n_tok)
    ps = np.arange(0.05, 1.0, 0.05)
    # distributed vs exact
    exact = np.quantile(n_tok, ps)
    achieved = np.searchsorted(np.sort(n_tok), dist.quantile(ps), side="right") / n_tok.size
    assert np.abs(achieved - ps).max() < 0.01
    # distributed min/max/count exact
    assert dist.n == n_tok.size
    assert dist.quantile(0.0) == n_tok.min()
    assert dist.quantile(1.0) == n_tok.max()
    # distributed vs serial: same data, tight agreement
    assert np.abs(dist.cdf(exact) - serial.cdf(exact)).max() < 0.005


def test_tdigest_over_token_values_flattened(spark, seq_table, exact_tokens):
    toks, _, _, _ = exact_tokens
    dist = build_sketch(seq_table, "tokens", TDIGEST(0.01))
    assert dist.n == toks.size
    grid = np.quantile(toks, np.arange(0.05, 1.0, 0.05))
    # the digest reports mid-CDF at a duplicated value (half its weight
    # inward — the reference's boundary rule, tdigest.js:220-224), so the
    # exact oracle is the mid-CDF, not the right-continuous CDF
    sorted_toks = np.sort(toks)
    mid_cdf = (
        np.searchsorted(sorted_toks, grid, side="left")
        + np.searchsorted(sorted_toks, grid, side="right")
    ) / (2 * toks.size)
    assert np.abs(dist.cdf(grid) - mid_cdf).max() < 0.01


def test_one_pass_multi_sketch(spark, seq_table, exact_tokens):
    toks, n_tok, _, _ = exact_tokens
    out = build_sketches(
        seq_table,
        {
            "tok_digest": ("tokens", TDIGEST(0.01)),
            "ntok_digest": ("n_tok", TDIGEST(0.01)),
            "tok_hll": ("tokens", HLL_INTS(14)),
            "tok_cms": ("tokens", CMS_INTS(5, 8192, 32)),
            "tok_bloom": ("tokens", BLOOM_INTS(200_000, 0.01)),
            "ntok_kll": ("n_tok", KLL_SPEC(200)),
        },
    )
    assert out["tok_digest"].n == toks.size
    exact_distinct = len(np.unique(toks))
    assert abs(out["tok_hll"].estimate() - exact_distinct) / exact_distinct < 0.03
    # token 13 is the 'rare'-source heavy hitter plus zipf mass
    exact_13 = int((toks == 13).sum())
    est_13 = int(out["tok_cms"].estimate_ints(np.array([13]))[0])
    assert est_13 >= exact_13
    assert est_13 - exact_13 <= 0.005 * toks.size
    present = np.unique(toks)[:1000]
    assert out["tok_bloom"].might_contain_ints(present).all()
    ps = np.arange(0.1, 1.0, 0.1)
    kq = out["ntok_kll"].quantile(ps)
    left = np.searchsorted(np.sort(n_tok), kq, side="left") / n_tok.size
    right = np.searchsorted(np.sort(n_tok), kq, side="right") / n_tok.size
    err = np.maximum(left - ps, 0) + np.maximum(ps - right, 0)
    assert err.max() < 0.03


def test_grouped_digest_per_source(spark, seq_table, exact_tokens):
    toks, n_tok, srcs, rows = exact_tokens
    got = build_sketch_grouped(seq_table, ["source"], "n_tok", TDIGEST(0.01)).collect()
    assert {r["source"] for r in got} == set(np.unique(srcs))
    for r in got:
        mask = srcs == r["source"]
        exact = n_tok[mask]
        d = TDigest.from_bytes(r["state"])
        assert d.n == exact.size
        assert r["rows"] == exact.size
        med = d.quantile(0.5)
        lo, hi = np.quantile(exact, [0.45, 0.55])
        assert lo <= med <= hi
    # rollup: merging per-source digests == global digest (mergeability)
    merged = TDigest(0.01)
    for r in sorted(got, key=lambda r: r["source"]):
        merged.merge(TDigest.from_bytes(r["state"]))
    assert merged.n == n_tok.size
    glob = build_sketch(seq_table, "n_tok", TDIGEST(0.01))
    ps = np.arange(0.05, 1.0, 0.05)
    assert np.abs(merged.cdf(glob.quantile(ps)) - ps).max() < 0.02


def test_tree_merge_states_scale_path(spark, seq_table, exact_tokens):
    _, n_tok, _, _ = exact_tokens
    spec = TDIGEST(0.01)
    parts = partials_df(seq_table, {"d": ("n_tok", spec)}).select(
        "state_d"
    )
    blob = tree_merge_states(parts, spec, state_col="state_d")
    d = TDigest.from_bytes(blob)
    assert d.n == n_tok.size
    ps = np.arange(0.1, 1.0, 0.1)
    achieved = np.searchsorted(np.sort(n_tok), d.quantile(ps), side="right") / n_tok.size
    assert np.abs(achieved - ps).max() < 0.01


def test_partials_carry_lineage_metrics(spark, seq_table):
    parts = partials_df(seq_table, {"d": ("n_tok", TDIGEST(0.01))})
    rows = parts.collect()
    assert sum(r["rows"] for r in rows) == seq_table.count()
    assert all(r["values_seen"] > 0 for r in rows)
    assert len(rows) == seq_table.rdd.getNumPartitions()


def test_vectorized_arg_udfs(spark, seq_table):
    """digest_quantiles / digest_cdfs (reference vectorized-arg forms)."""
    from tdigest_spark.functions import digest_cdfs, digest_quantiles
    from tdigest_spark.operators.aggregate import TDIGEST, build_sketch_grouped
    from tdigest_spark.sketch.tdigest import TDigest

    import pyspark.sql.functions as F

    states = build_sketch_grouped(seq_table, ["source"], "n_tok", TDIGEST(0.01))
    row = (
        states.select(
            "source",
            "state",
            digest_quantiles(F.col("state"), [0.25, 0.5, 0.75]).alias("qs"),
            digest_cdfs(F.col("state"), [100.0, 300.0]).alias("cs"),
        )
        .orderBy("source")
        .first()
    )
    d = TDigest.from_bytes(row["state"])
    assert row["qs"] == [float(x) for x in d.quantile([0.25, 0.5, 0.75])]
    assert row["cs"] == [float(x) for x in d.cdf([100.0, 300.0])]
    assert all(a <= b for a, b in zip(row["qs"], row["qs"][1:]))


def test_register_sql_functions(spark, seq_table):
    """The SQL-registered sketch functions (two-arg column forms) answer
    from plain spark.sql strings and match direct Python queries."""
    from tdigest_spark.functions import register_sql_functions
    from tdigest_spark.operators.aggregate import TDIGEST, build_sketch_grouped
    from tdigest_spark.sketch.tdigest import TDigest

    names = register_sql_functions(spark)
    assert "digest_quantile" in names
    states = build_sketch_grouped(seq_table, ["source"], "n_tok", TDIGEST(0.01))
    states.createOrReplaceTempView("digest_states")
    rows = spark.sql(
        """
        SELECT source,
               digest_quantile(state, 0.5)  AS p50,
               digest_cdf(state, 300.0)     AS c300,
               digest_trimmed_mean(state, 0.1, 0.9) AS tmean,
               state
        FROM digest_states ORDER BY source
        """
    ).collect()
    assert len(rows) > 1
    for r in rows:
        d = TDigest.from_bytes(r["state"])
        assert r["p50"] == float(d.quantile(0.5))
        assert r["c300"] == float(d.cdf(300.0))
        assert r["tmean"] == float(d.trimmed_mean(0.1, 0.9))


def test_build_weighted_digest(spark, seq_table):
    """Distributed weighted ingest (reference push(x, n) weighted form):
    equals the serial weighted digest within merge tolerance, and weight k
    is exactly value-repeated-k-times under singleton-centroid configs."""
    import pyspark.sql.functions as F

    from tdigest_spark.operators.aggregate import build_weighted_digest
    from tdigest_spark.sketch.tdigest import TDigest

    df = seq_table.select(
        F.col("n_tok").cast("double").alias("v"),
        (F.col("n_tok") % 5 + 1).cast("double").alias("w"),
    )
    d = build_weighted_digest(df, "v", "w", 0.01)
    pdf = df.toPandas()
    assert d.n == pytest.approx(pdf["w"].sum())
    serial = TDigest(0.01).push(pdf["v"].to_numpy(), pdf["w"].to_numpy())
    ps = [0.1, 0.5, 0.9, 0.99]
    for p in ps:
        assert float(d.quantile(p)) == pytest.approx(
            float(serial.quantile(p)), rel=2e-3
        )
    # exact law on a duplicate-heavy column: weight k == k repeats
    small = spark.createDataFrame(
        [(float(v), float(1 + v % 3)) for v in range(50)] * 4, "v double, w double"
    )
    dw = build_weighted_digest(small, "v", "w", 0.01)
    rep = TDigest(0.01)
    sp = small.toPandas()
    rep.push(np.repeat(sp["v"].to_numpy(), sp["w"].to_numpy().astype(int)))
    assert [tuple(c) for c in dw.centroids()] == [tuple(c) for c in rep.centroids()]


def test_build_weighted_digest_null_alignment(spark):
    """Nulls on either side must drop the whole row, never misalign the
    value/weight arrays."""
    from tdigest_spark.operators.aggregate import build_weighted_digest

    rows = [
        (1.0, 2.0),
        (None, 5.0),   # dropped
        (3.0, None),   # dropped
        (3.0, 4.0),
        (None, None),  # dropped
    ]
    df = spark.createDataFrame(rows, "v double, w double").coalesce(1)
    d = build_weighted_digest(df, "v", "w", 0.01)
    assert d.n == 6.0  # 2 + 4
    assert [tuple(c) for c in d.centroids()] == [(1.0, 2.0), (3.0, 4.0)]


def test_sorted_and_agg_uint64_and_fallback():
    """Counting-pass prep must accept unsigned dtypes (bincount rejects the
    uint64->int64 'safe' cast) and fall back to sort outside the bound;
    both paths return identical (sorted, unique, counts)."""
    from tdigest_spark.operators.aggregate import sorted_and_agg

    v = np.array([5, 2, 2, 1, 5, 5], dtype=np.uint64)
    sv, (uv, uc) = sorted_and_agg(v, True, True)
    assert sv.tolist() == [1, 2, 2, 5, 5, 5]
    assert uv.tolist() == [1, 2, 5] and uv.dtype == v.dtype
    assert uc.tolist() == [1, 2, 3]
    big = np.array([1, 1 << 40, 7, 7], dtype=np.int64)  # beyond bincount bound
    sv2, (uv2, uc2) = sorted_and_agg(big, True, True)
    assert sv2.tolist() == sorted(big.tolist())
    assert uv2.tolist() == [1, 7, 1 << 40] and uc2.tolist() == [1, 2, 1]


def test_tree_merge_states_deterministic(spark, seq_table):
    """The distributed fan-in must be run-to-run reproducible: t-digest
    merges are only associative within the error bound, so merge order is
    pinned (sorted rank groups + shared deterministic fold)."""
    from tdigest_spark.operators.aggregate import TDIGEST, partials_df, tree_merge_states

    parts = partials_df(
        seq_table.repartition(13), {"d": ("n_tok", TDIGEST(0.01))}
    )
    parts = parts.cache()
    a = tree_merge_states(parts, TDIGEST(0.01), state_col="state_d", fanout=4)
    b = tree_merge_states(parts, TDIGEST(0.01), state_col="state_d", fanout=4)
    parts.unpersist()
    assert a == b  # bit-identical across runs


def test_build_sketch_grouped_nulls(spark):
    """Null group keys form a real group; null values are dropped (same
    rule as the ungrouped path) instead of corrupting digests."""
    from tdigest_spark.operators.aggregate import (
        TDIGEST_DISCRETE,
        build_sketch_grouped,
    )
    from tdigest_spark.sketch.discrete import DiscreteDigest

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 2.0), (None, 3.0), (None, None)],
        "k string, v double",
    ).coalesce(2)
    rows = {
        r["k"]: r for r in build_sketch_grouped(df, ["k"], "v", TDIGEST_DISCRETE()).collect()
    }
    assert set(rows) == {"a", None}
    da = DiscreteDigest.from_bytes(rows["a"]["state"])
    assert da.n == 2 and rows["a"]["rows"] == 3  # rows counts all, digest drops nulls
    dn = DiscreteDigest.from_bytes(rows[None]["state"])
    assert dn.n == 1 and float(dn.quantile(1.0)) == 3.0


def test_grouped_keys_keep_native_types(spark):
    """Group keys must round-trip with their NATIVE Spark types (round 1
    stringified them): int keys stay long, null keys stay null, and the
    per-key digests match exact per-key data."""
    from pyspark.sql.types import LongType, StringType

    rows = [(i % 3 if i % 7 else None, "s%d" % (i % 2), float(i)) for i in range(200)]
    df = spark.createDataFrame(rows, "bucket long, tag string, v double")
    out = build_sketch_grouped(df, ["bucket", "tag"], "v", TDIGEST(0.01))
    schema = {f.name: type(f.dataType) for f in out.schema.fields}
    assert schema["bucket"] is LongType
    assert schema["tag"] is StringType
    got = out.collect()
    keys = {(r["bucket"], r["tag"]) for r in got}
    expect = {(i % 3 if i % 7 else None, "s%d" % (i % 2)) for i in range(200)}
    assert keys == expect
    for r in got:
        exact = [
            v for b, t, v in rows if b == r["bucket"] and t == r["tag"]
        ]
        d = TDigest.from_bytes(r["state"])
        assert r["rows"] == len(exact)
        assert d.n == len(exact)


def test_build_weighted_digest_grouped(spark):
    """Per-key weighted digests: mass = SUM(weight) per key, value/weight
    nulls drop jointly, and duplicate-heavy values give exact weighted
    quantiles per group (singleton-value centroids)."""
    import numpy as np

    from tdigest_spark.operators.aggregate import build_weighted_digest_grouped

    rows = []
    for i in range(600):
        g = "g%d" % (i % 3)
        v = float(i % 5 + 1)
        w = float(i % 4 + 1)
        # sprinkle nulls on each side: those rows contribute nothing
        if i % 31 == 0:
            v = None
        if i % 37 == 0:
            w = None
        rows.append((g, v, w))
    df = spark.createDataFrame(rows, "g string, v double, w double")
    out = build_weighted_digest_grouped(df, ["g"], "v", "w", 0.01).collect()
    assert {r["g"] for r in out} == {"g0", "g1", "g2"}
    from tdigest_spark.sketch.tdigest import TDigest

    for r in out:
        live = [
            (v, w) for g, v, w in rows
            if g == r["g"] and v is not None and w is not None
        ]
        d = TDigest.from_bytes(bytes(r["state"]))
        assert r["rows"] == len(live)
        assert d.n == sum(w for _, w in live)
        # exact weighted median via the same mid-rank convention
        vals = np.array(sorted(set(v for v, _ in live)))
        wts = np.array(
            [sum(w for v2, w in live if v2 == v) for v in vals], float
        )
        mc = np.cumsum(wts) - wts / 2.0
        q50 = float(np.interp(0.5 * wts.sum(), mc, vals))
        assert abs(d.quantile(0.5) - q50) < 1e-9


# sha256 over [key, rows, sha256(state)] per key (sorted) of the grouped
# DataFrame builds on the scantest_n20000 fixture, with null group keys
# (every 13th n_tok) and null weights (every 7th), recorded before both
# builds shared one mapInPandas/applyInPandas skeleton.
GROUPED_DF_SHA256 = {
    "td_ntok": "f5df2fefa865e4794d219af8b7d8d33597aa18520bcde821d23328f998bccf91",
    "td_tokens": "e6f90731797c4e3332058270ab28a7c1939627194a4a8f6a5e9f1d5efdbe80c7",
    "hll": "79a815b10dd7e5f9a45292bdfadfbafa82ae7a8d33dce36bfbf47e1a57a8111f",
    "kll": "d1cc7527d97c30f89c4db552d62eb2c658cb202f7cba4dd22120e47b4056278a",
    "weighted": "b312f4f84dfd4f055decaec73dd0dc4b0bd8896066dd11ed2e790a116ffae156",
}


@pytest.mark.parametrize("build", sorted(GROUPED_DF_SHA256))
def test_grouped_dataframe_states_pinned(spark, build):
    import hashlib
    import json

    from pyspark.sql import functions as F

    from tdigest_spark.operators.aggregate import build_weighted_digest_grouped
    from tdigest_spark.sources.sequence_table import (
        default_cache_dir,
        generate_sequence_table,
    )

    path = generate_sequence_table(
        default_cache_dir() / "scantest_n20000",
        n_rows=20_000,
        seed=3,
        rows_per_file=2_500,
    )
    df = (
        spark.read.parquet(str(path))
        .withColumn(
            "w",
            F.when(F.col("n_tok") % 7 == 0, F.lit(None)).otherwise(
                (F.col("n_tok") % 5 + 1).cast("double")
            ),
        )
        .withColumn(
            "src2",
            F.when(F.col("n_tok") % 13 == 0, F.lit(None)).otherwise(
                F.col("source")
            ),
        )
    )
    if build == "weighted":
        out = build_weighted_digest_grouped(df, ["src2"], "n_tok", "w")
    else:
        column = "tokens" if build == "td_tokens" else "n_tok"
        spec = {"hll": HLL_INTS(12), "kll": KLL_SPEC(200)}.get(build, TDIGEST(0.01))
        out = build_sketch_grouped(df, ["src2"], column, spec)
    got = sorted(
        [str(r["src2"]), r["rows"], hashlib.sha256(bytes(r["state"])).hexdigest()]
        for r in out.collect()
    )
    assert hashlib.sha256(json.dumps(got).encode()).hexdigest() == GROUPED_DF_SHA256[build]


def test_grouped_builds_keep_large_bigints_and_nan_keys(spark):
    """Grouped builds read values as Arrow: a nullable bigint above 2**53
    reaches HLL, CMS and Bloom as the same int64 the global build hashes
    (a float64 detour rounds it), so each per-key state is byte-equal to
    ``build_sketches`` over the same rows. A double key holding NaN and
    null gives two groups, as Spark's own groupBy does."""
    import math

    base = 1 << 60
    rows = [("k", None if i % 9 == 0 else base + i * 7919) for i in range(1_600)]
    df = spark.createDataFrame(rows, "g string, v bigint").coalesce(1)
    specs = {"hll": HLL_INTS(12), "cms": CMS_INTS(), "bloom": BLOOM_INTS(5_000, 0.01)}
    want = build_sketches(df, {n: ("v", s) for n, s in specs.items()})
    for n, spec in specs.items():
        (r,) = build_sketch_grouped(df, ["g"], "v", spec).collect()
        assert r["g"] == "k" and r["rows"] == 1_600
        assert bytes(r["state"]) == want[n].to_bytes(), n

    nan = float("nan")
    keyed = spark.createDataFrame(
        [(nan, 1.0), (None, 2.0), (nan, 3.0), (1.0, 4.0), (None, 5.0), (nan, 6.0)],
        "k double, v double",
    )
    spark_groups = {
        "nan" if r["k"] is not None and math.isnan(r["k"]) else r["k"]: r["count"]
        for r in keyed.groupBy("k").count().collect()
    }
    assert spark_groups == {"nan": 3, None: 2, 1.0: 1}
    got = {}
    for r in build_sketch_grouped(keyed, ["k"], "v", TDIGEST(0.01)).collect():
        k = "nan" if r["k"] is not None and math.isnan(r["k"]) else r["k"]
        got[k] = (r["rows"], TDigest.from_bytes(bytes(r["state"])).n)
    assert got == {k: (c, c) for k, c in spark_groups.items()}


def test_weighted_pair_needs_a_weighted_spec(spark):
    """Only a spec with ``update_weighted`` (TDIGEST) takes a (value,
    weight) pair column; any other fails on the driver before a job runs."""
    df = spark.createDataFrame([(1.0, 2.0)], "v double, w double")
    with pytest.raises(ValueError, match="weighted"):
        build_sketch(df, ("v", "w"), HLL_INTS(12))
    with pytest.raises(ValueError, match="weighted"):
        build_sketch_grouped(df, ["v"], ("v", "w"), KLL_SPEC(200))
