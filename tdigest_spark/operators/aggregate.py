"""Two-phase mergeable sketch aggregation over Spark DataFrames.

This is the Spark-native re-expression of the reference's entire aggregate
lifecycle (/root/reference/tdigest.js push :82-91 / push_centroid :93-100 /
percentile :272-310): PySpark exposes no Python UDAF with a user merge phase,
so the mergeable-UDAF pattern is built explicitly (SURVEY.md §7.6):

  phase 1 (partial):  df.select(cols).mapInArrow(...)   — one serialized
      sketch state per input partition, built with vectorized numpy kernels
      over whole Arrow batches (no per-row Python, per BASELINE.json
      input_hint). ``array<T>`` columns are flattened JVM-side-cheap via the
      Arrow ListArray buffer — no explode, no row amplification, no shuffle.
  phase 2 (merge):    deterministic binary-tree fold over the partial states,
      either driver-side (states are O(1/delta) bytes — tiny) or as iterative
      grouped Spark rounds for very large partition counts
      (treeAggregate-style, per BASELINE.json north_star).

Every front end feeds the one batch kernel ``ingest_table``; grouped builds
reach it through the one key split ``ingest_grouped``. Values stay Arrow
until ``_column_values`` extracts them: no build here goes through pandas,
whose float64 coding of a nullable bigint would round values above 2**53.

Scale notes (100 TB / 1000 executors): phase 1 is embarrassingly parallel and
shuffle-free; the only data movement is #partitions × O(16 KB) states. The
fan-in path (``tree_merge_states``) keeps every round's group below
``fanout`` states so no single task ever materializes more than
fanout × state_size bytes.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Any, Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

__all__ = [
    "SketchSpec",
    "TDIGEST",
    "TDIGEST_DISCRETE",
    "AUTODIGEST",
    "HLL_INTS",
    "HLL_STRINGS",
    "CMS_INTS",
    "CMS_STRINGS",
    "BLOOM_INTS",
    "BLOOM_STRINGS",
    "DDSKETCH_SPEC",
    "KLL_SPEC",
    "MG_SPEC",
    "MOMENTS_SPEC",
    "BOTTOMK_INTS",
    "BOTTOMK_MD5",
    "BOTTOMK_STRINGS",
    "AMS_F2",
    "build_sketches",
    "build_sketch",
    "build_sketch_grouped",
    "build_weighted_digest",
    "build_weighted_digest_grouped",
    "partials_df",
    "merge_partials",
    "fold_states",
    "sorted_and_agg",
    "ingest_table",
    "ingest_grouped",
    "tree_merge_states",
]


@dataclass(frozen=True)
class SketchSpec:
    """A mergeable sketch kind: zero / vectorized batch update / merge /
    serde. ``update`` receives a numpy array of the column's (possibly
    flattened) values. ``update_agg``, when set, ingests pre-aggregated
    (unique_values, counts) — token columns are duplicate-heavy, and a
    shared np.unique per column replaces one radix sort per sketch."""

    name: str
    make: Callable[[], Any]
    from_bytes: Callable[[bytes], Any]
    update: Callable[[Any, np.ndarray], Any]
    update_agg: Callable[[Any, np.ndarray, np.ndarray], Any] | None = None
    # sketches that need the full multiset but tolerate (benefit from)
    # pre-sorted input — shares the column's single sort (KLL)
    update_sorted: Callable[[Any, np.ndarray], Any] | None = None
    # (values, weights) ingest: the only update a (value, weight) pair
    # column may feed (t-digest's push(x, n), tdigest.js:82-91)
    update_weighted: Callable[[Any, np.ndarray, np.ndarray], Any] | None = None

    def merge_bytes(self, a: bytes | None, b: bytes | None) -> bytes | None:
        if a is None:
            return b
        if b is None:
            return a
        sk = self.from_bytes(a)
        sk.merge(self.from_bytes(b))
        return sk.to_bytes()


def _mk_tdigest(delta: float = 0.01):
    from ..sketch.tdigest import TDigest

    return SketchSpec(
        name=f"tdigest(delta={delta})",
        make=lambda: TDigest(delta=delta),
        from_bytes=lambda b: TDigest.from_bytes(b),
        update=lambda sk, v: sk.push(v),
        update_agg=lambda sk, uv, uc: sk.push(uv, uc),
        update_weighted=lambda sk, v, w: sk.push(v, w),
    )


def _mk_autodigest(mode: str = "auto", delta: float = 0.01):
    from ..sketch.discrete import AutoDigest

    return SketchSpec(
        name=f"autodigest({mode})",
        make=lambda: AutoDigest(mode=mode, delta=delta),
        from_bytes=lambda b: AutoDigest.from_bytes(b),
        update=lambda sk, v: sk.push(v),
    )


def _mk_discrete():
    from ..sketch.discrete import DiscreteDigest

    return SketchSpec(
        name="discrete",
        make=lambda: DiscreteDigest(),
        from_bytes=lambda b: DiscreteDigest.from_bytes(b),
        update=lambda sk, v: sk.push(v),
        update_agg=lambda sk, uv, uc: sk.push(uv, uc),
    )


def _mk_discrete_str():
    from ..sketch.discrete import DiscreteDigest

    return SketchSpec(
        name="discrete_str",
        make=lambda: DiscreteDigest(is_string=True),
        from_bytes=lambda b: DiscreteDigest.from_bytes(b),
        update=lambda sk, v: sk.push(v),
    )


def _mk_hll(p: int = 14, strings: bool = False):
    from ..sketch.hll import HLL

    return SketchSpec(
        name=f"hll(p={p},{'str' if strings else 'int'})",
        make=lambda: HLL(p=p),
        from_bytes=lambda b: HLL.from_bytes(b),
        update=(
            (lambda sk, v: sk.update_strings(v))
            if strings
            else (lambda sk, v: sk.update_ints(v))
        ),
        update_agg=(
            None
            if strings
            else (lambda sk, uv, uc: sk.update_ints(uv, assume_unique=True))
        ),
    )


def _mk_cms(depth: int = 5, width: int = 8192, k_heavy: int = 64):
    from ..sketch.cms import CMS

    return SketchSpec(
        name=f"cms({depth}x{width})",
        make=lambda: CMS(depth=depth, width=width, k_heavy=k_heavy),
        from_bytes=lambda b: CMS.from_bytes(b),
        update=lambda sk, v: sk.update_ints(v),
        update_agg=lambda sk, uv, uc: sk.update_ints(uv, counts=uc),
    )


def _mk_cms_strings(depth: int = 5, width: int = 8192, k_heavy: int = 0):
    from ..sketch.cms import CMS

    return SketchSpec(
        name=f"cms_str({depth}x{width})",
        make=lambda: CMS(depth=depth, width=width, k_heavy=k_heavy),
        from_bytes=lambda b: CMS.from_bytes(b),
        update=lambda sk, v: sk.update_strings(v),
    )


def _mk_bloom(expected_items: int = 1_000_000, fpp: float = 0.01, strings=False):
    from ..sketch.bloom import BloomFilter

    return SketchSpec(
        name=f"bloom(n={expected_items},fpp={fpp})",
        make=lambda: BloomFilter(expected_items=expected_items, fpp=fpp),
        from_bytes=lambda b: BloomFilter.from_bytes(b),
        update=(
            (lambda sk, v: sk.add_strings(v))
            if strings
            else (lambda sk, v: sk.add_ints(v))
        ),
        update_agg=(
            None
            if strings
            else (lambda sk, uv, uc: sk.add_ints(uv, assume_unique=True))
        ),
    )


def _mk_ddsketch(alpha: float = 0.01):
    from ..sketch.ddsketch import DDSketch

    return SketchSpec(
        name=f"ddsketch(alpha={alpha})",
        make=lambda: DDSketch(alpha=alpha),
        from_bytes=lambda b: DDSketch.from_bytes(b),
        update=lambda sk, v: sk.update(v),
        update_agg=lambda sk, uv, uc: sk.update(uv, counts=uc),
    )


def _mk_mg(k: int = 64):
    from ..sketch.mg import MisraGries

    return SketchSpec(
        name=f"mg(k={k})",
        make=lambda: MisraGries(k=k),
        from_bytes=lambda b: MisraGries.from_bytes(b),
        update=lambda sk, v: sk.update(v),
        update_agg=lambda sk, uv, uc: sk.update_agg(uv, uc),
    )


def _mk_moments(k: int = 4):
    from ..sketch.moments import MomentsSketch

    return SketchSpec(
        name=f"moments(k={k})",
        make=lambda: MomentsSketch(k=k),
        from_bytes=lambda b: MomentsSketch.from_bytes(b),
        update=lambda sk, v: sk.update_ints(v),
        update_agg=lambda sk, uv, uc: sk.update_ints(uv, counts=uc),
    )


def _mk_kll(k: int = 200):
    from ..sketch.kll import KLL

    return SketchSpec(
        name=f"kll(k={k})",
        make=lambda: KLL(k=k),
        from_bytes=lambda b: KLL.from_bytes(b),
        update=lambda sk, v: sk.update(v),
        update_sorted=lambda sk, sv: sk.update(sv, assume_sorted=True),
    )


# default-parameter singletons (factories for custom params)
TDIGEST = _mk_tdigest
TDIGEST_DISCRETE = _mk_discrete
TDIGEST_DISCRETE_STR = _mk_discrete_str
AUTODIGEST = _mk_autodigest
HLL_INTS = lambda p=14: _mk_hll(p, strings=False)  # noqa: E731
HLL_STRINGS = lambda p=14: _mk_hll(p, strings=True)  # noqa: E731
CMS_INTS = _mk_cms
CMS_STRINGS = _mk_cms_strings
BLOOM_INTS = lambda n=1_000_000, fpp=0.01: _mk_bloom(n, fpp, False)  # noqa: E731
BLOOM_STRINGS = lambda n=1_000_000, fpp=0.01: _mk_bloom(n, fpp, True)  # noqa: E731
KLL_SPEC = _mk_kll
DDSKETCH_SPEC = _mk_ddsketch
MG_SPEC = _mk_mg
MOMENTS_SPEC = _mk_moments


def _column_values(col: pa.ChunkedArray | pa.Array) -> np.ndarray:
    """Arrow column -> flat numpy values. List columns are flattened through
    the Arrow offsets buffer (vectorized; null rows contribute nothing);
    full null-free list arrays take the zero-copy .values path."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
        if (
            col.offset == 0
            and col.null_count == 0
            and int(col.offsets[0].as_py()) == 0
            and len(col.values) == int(col.offsets[-1].as_py())
        ):
            col = col.values
        else:
            col = col.flatten()
    if col.null_count:
        col = col.drop_null()
    if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
        return np.asarray(col.to_pylist(), dtype=object)
    return col.to_numpy(zero_copy_only=False)


def _pair_values(
    vc: pa.ChunkedArray | pa.Array, wc: pa.ChunkedArray | pa.Array
) -> tuple[np.ndarray, np.ndarray]:
    """(value, weight) columns -> two aligned float64 arrays. Nulls drop
    JOINTLY: a row contributes only if both sides are present, or the
    arrays would misalign."""
    import pyarrow.compute as pc

    if isinstance(vc, pa.ChunkedArray):
        vc, wc = vc.combine_chunks(), wc.combine_chunks()
    if vc.null_count or wc.null_count:
        keep = pc.and_(vc.is_valid(), wc.is_valid())
        vc, wc = vc.filter(keep), wc.filter(keep)
    return (
        vc.to_numpy(zero_copy_only=False).astype(np.float64, copy=False),
        wc.to_numpy(zero_copy_only=False).astype(np.float64, copy=False),
    )


def _sketch_columns(sketches: dict[str, tuple[Any, SketchSpec]]) -> list[str]:
    """The columns a sketch map reads, sorted. A ``(value, weight)`` pair
    reads both, and only a spec with ``update_weighted`` may take one."""
    cols: set[str] = set()
    for n, (c, spec) in sketches.items():
        if isinstance(c, str):
            cols.add(c)
        elif spec.update_weighted is None:
            raise ValueError(
                f"sketch {n!r}: {spec.name} has no weighted update for {c}"
            )
        else:
            cols.update(c)
    return sorted(cols)


_BINCOUNT_MAX = 1 << 21  # counting-pass bound: 2M counts = 16 MB scratch


def sorted_and_agg(
    vals: np.ndarray, want_agg: bool, want_sorted: bool
) -> tuple[np.ndarray | None, tuple[np.ndarray, np.ndarray] | None]:
    """Shared (sorted, (unique, counts)) for one integer column batch.

    Duplicate-heavy bounded-range int columns (vocab token ids, lengths)
    take an O(n) ``np.bincount`` counting pass instead of the O(n log n)
    sort — measured ~5x on 50k-vocab token columns — and the sorted array,
    when a sketch needs the full multiset (KLL), is rebuilt bit-identically
    as ``np.repeat(unique, counts)``. Values outside the counting bound
    fall back to one shared ``np.sort``. Results are exactly those of the
    sort path, so states stay bit-identical either way."""
    if not (want_agg or want_sorted) or not vals.shape[0]:
        return None, None
    uv = uc = None
    if vals.dtype.kind in "iu":
        lo, hi = int(vals.min()), int(vals.max())
        if 0 <= lo and hi < _BINCOUNT_MAX:
            # bincount refuses the uint64->intp "safe" cast; the range
            # check above makes an explicit int64 view lossless
            cv = vals.astype(np.int64, copy=False) if vals.dtype.kind == "u" else vals
            cnt = np.bincount(cv)
            nz = np.flatnonzero(cnt)
            uv = nz.astype(vals.dtype, copy=False)
            uc = cnt[nz]
    if uv is None:
        sv = np.sort(vals)
        if want_agg:
            flags = np.r_[True, sv[1:] != sv[:-1]]
            idx = np.flatnonzero(flags)
            uv = sv[idx]
            uc = np.diff(np.r_[idx, sv.shape[0]])
        return sv, ((uv, uc) if want_agg else None)
    sv = np.repeat(uv, uc) if want_sorted else None
    return sv, ((uv, uc) if want_agg else None)


def ingest_table(
    sks: dict[str, Any],
    sketches: dict[str, tuple[Any, SketchSpec]],
    tbl: pa.Table | pa.RecordBatch,
) -> int:
    """The one per-batch ingest kernel behind every build front end
    (``partials_df``, the scan path, checkpointed builds, and every grouped
    build through ``ingest_grouped``): update each sketch ``sks[name]`` in
    place from one Arrow table or batch; returns the number of values
    extracted (a pair counts once per kept row).

    Each column is extracted once (``_column_values``) and each integer
    column is sorted or counted once (``sorted_and_agg``) for every sketch
    on it. A sketch then takes the cheapest form its spec has:
    ``update_agg`` (unique values, counts), else ``update_sorted`` (the
    shared sorted array), else ``update`` (raw values). A ``(value,
    weight)`` pair column is extracted jointly (``_pair_values``) and feeds
    ``update_weighted``."""
    vals: dict[str, np.ndarray] = {}
    pairs: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}
    for c, _ in sketches.values():
        if isinstance(c, str):
            if c not in vals:
                vals[c] = _column_values(tbl.column(c))
        elif c not in pairs:
            pairs[c] = _pair_values(tbl.column(c[0]), tbl.column(c[1]))
    prep: dict[str, tuple] = {}
    for c, v in vals.items():
        if v.dtype.kind in "iub" and v.shape[0]:
            on_c = [spec for col, spec in sketches.values() if col == c]
            prep[c] = sorted_and_agg(
                v,
                any(spec.update_agg is not None for spec in on_c),
                any(spec.update_sorted is not None for spec in on_c),
            )
    for n, (c, spec) in sketches.items():
        if c in pairs:
            if pairs[c][0].shape[0]:
                spec.update_weighted(sks[n], *pairs[c])
            continue
        if not vals[c].shape[0]:
            continue
        sv, agg = prep.get(c, (None, None))
        if spec.update_agg is not None and agg is not None:
            spec.update_agg(sks[n], *agg)
        elif spec.update_sorted is not None and sv is not None:
            spec.update_sorted(sks[n], sv)
        else:
            spec.update(sks[n], vals[c])
    return sum(v.shape[0] for v in vals.values()) + sum(
        v.shape[0] for v, _ in pairs.values()
    )


# one NaN object for every NaN group key: tuples compare items by identity
# first and NaN hashes by identity, so all NaN keys land in one group
_NAN = float("nan")


@dataclass
class _Group:
    """One group key's sketches and counts inside a grouped build's task."""

    sks: dict[str, Any]
    rows: int = 0
    values_seen: int = 0


def ingest_grouped(
    groups: dict[tuple, _Group],
    sketches: dict[str, tuple[Any, SketchSpec]],
    tbl: pa.Table | pa.RecordBatch,
    key_cols: list[str],
) -> None:
    """The one key split behind every grouped build (``build_sketch_grouped``
    and ``scan.build_sketch_grouped_scan``): feed each key's rows of ``tbl``
    to ``ingest_table``, accumulating into ``groups`` (key tuple -> its
    ``_Group``, created on first sight).

    Each key column is dictionary-encoded (a null key and a NaN key each get
    their own entry, as in Spark's groupBy), the codes are stable-sorted,
    and the sketched columns are reordered once with Arrow ``take``; each
    key's rows are then one contiguous slice, in input order. Keys come back
    as Python values of the column's Arrow type (``None`` for null)."""
    if tbl.num_rows == 0:
        return
    # no update_sorted: a key's slice is small, and KLL keeps a small batch
    # in arrival order, so a sorted feed would change its state
    sketches = {
        n: (c, replace(spec, update_sorted=None)) for n, (c, spec) in sketches.items()
    }
    codes, dicts = [], []
    for c in key_cols:
        keys = tbl.column(c)
        if isinstance(keys, pa.ChunkedArray):
            keys = keys.combine_chunks()
        if pa.types.is_dictionary(keys.type):  # e.g. written from categoricals
            keys = keys.dictionary_decode()
        enc = keys.dictionary_encode(null_encoding="encode")
        codes.append(enc.indices.to_numpy(zero_copy_only=False))
        dicts.append([_NAN if k != k else k for k in enc.dictionary.to_pylist()])
    order = np.lexsort(codes[::-1])  # stable; the first key column leads
    codes = [cd[order] for cd in codes]
    starts = np.zeros(len(order), dtype=bool)
    starts[0] = True
    for cd in codes:
        starts[1:] |= cd[1:] != cd[:-1]
    bounds = np.r_[np.flatnonzero(starts), len(order)].tolist()
    grouped = tbl.select(_sketch_columns(sketches)).take(order)
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        key = tuple(d[cd[lo]] for d, cd in zip(dicts, codes))
        g = groups.get(key)
        if g is None:
            g = groups[key] = _Group({n: spec.make() for n, (_, spec) in sketches.items()})
        g.values_seen += ingest_table(g.sks, sketches, grouped.slice(lo, hi - lo))
        g.rows += hi - lo


def partials_df(df: DataFrame, sketches: dict[str, tuple[Any, SketchSpec]]) -> DataFrame:
    """Phase 1: one row per input partition with a binary state per sketch
    plus lineage metrics (rows / values seen). Single pass over the data for
    all sketches (shared scan + shared Arrow transfer); every Arrow batch
    goes through ``ingest_table``, the kernel the scan path uses too. A
    ``(value, weight)`` pair column feeds the spec's ``update_weighted``."""
    cols = _sketch_columns(sketches)
    names = list(sketches.keys())
    sel = df.select(*cols)

    out_fields = [pa.field("rows", pa.int64()), pa.field("values_seen", pa.int64())]
    out_fields += [pa.field(f"state_{n}", pa.binary()) for n in names]
    out_schema = pa.schema(out_fields)

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sks = {n: spec.make() for n, (_, spec) in sketches.items()}
        rows = values_seen = 0
        for batch in batches:
            rows += batch.num_rows
            values_seen += ingest_table(sks, sketches, batch)
        arrays = [
            pa.array([rows], pa.int64()),
            pa.array([values_seen], pa.int64()),
        ]
        arrays += [pa.array([sks[n].to_bytes()], pa.binary()) for n in names]
        yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    schema_str = "rows long, values_seen long, " + ", ".join(
        f"state_{n} binary" for n in names
    )
    return sel.mapInArrow(build, schema_str)


def fold_states(states: list[bytes], spec: SketchSpec) -> bytes:
    """Deterministic balanced binary-tree fold of serialized states: sort
    by bytes first (result independent of collection order), then a fixed
    pairing tree (merge is associative-after-sort). The one fold used by
    every merge path — driver-side, per-key grouped folds, tree rounds."""
    states = sorted(states)
    while len(states) > 1:
        nxt = []
        for i in range(0, len(states), 2):
            if i + 1 < len(states):
                nxt.append(spec.merge_bytes(states[i], states[i + 1]))
            else:
                nxt.append(states[i])
        states = nxt
    return states[0] if states else spec.make().to_bytes()


def merge_partials(
    pdf_rows: list, names: list[str], specs: dict[str, SketchSpec]
) -> dict[str, bytes]:
    """Deterministic driver-side fold of collected partial rows (see
    ``fold_states``)."""
    return {
        n: fold_states([r[f"state_{n}"] for r in pdf_rows], specs[n])
        for n in names
    }


def build_sketches(
    df: DataFrame, sketches: dict[str, tuple[Any, SketchSpec]]
) -> dict[str, Any]:
    """One-pass build of several sketches over a DataFrame; returns
    deserialized final sketch objects keyed by name."""
    names = list(sketches.keys())
    specs = {n: spec for n, (_, spec) in sketches.items()}
    parts = partials_df(df, sketches)
    rows = parts.collect()
    merged = merge_partials(rows, names, specs)
    return {n: specs[n].from_bytes(merged[n]) for n in names}


def build_sketch(df: DataFrame, column: str | tuple[str, str], spec: SketchSpec) -> Any:
    return build_sketches(df, {"s": (column, spec)})["s"]


def build_weighted_digest(
    df: DataFrame, value_col: str, weight_col: str, delta: float = 0.01
) -> Any:
    """Distributed weighted t-digest — the reference's ``push(x, n)`` with
    n != 1 (tdigest.js:82-91): quantiles/CDF of the value column where each
    row carries ``weight_col`` mass; a row with a null on either side is
    dropped."""
    return build_sketch(df, (value_col, weight_col), _mk_tdigest(delta))


def build_weighted_digest_grouped(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    delta: float = 0.01,
) -> DataFrame:
    """Grouped form of the weighted ingest (VERDICT r3 item 6): one
    weighted t-digest per key through ``build_sketch_grouped``, so raw rows
    never shuffle and weighted quantile monitoring composes with the
    grouped shape at 100 TB (exchange = #partitions x #keys x state size).

    Returns DataFrame[group_cols..., state binary, rows long] — ``rows``
    counts the (value, weight) pairs with both sides non-null; states
    deserialize with ``TDigest.from_bytes``."""
    return build_sketch_grouped(
        df, group_cols, (value_col, weight_col), _mk_tdigest(delta)
    )


def tree_merge_states(
    states_df: DataFrame,
    spec: SketchSpec,
    state_col: str = "state",
    fanout: int = 16,
) -> bytes:
    """Scale path for very large partial counts: log-depth distributed
    rounds over serialized states (treeAggregate-style, per BASELINE.json
    north_star) — each round groups ~``fanout`` states per task and folds
    them, so the driver only ever receives O(1) states.

    Deterministic by construction, unlike a raw ``treeAggregate`` whose
    combiner order is scheduling-dependent: every round sorts states by
    bytes, assigns contiguous rank groups, and folds each group with the
    shared deterministic ``fold_states`` — t-digest/KLL merges are only
    associative within the error bound, so merge ORDER must be pinned for
    run-to-run reproducibility (states are O(16 KB)-O(1 MB); the extra
    sortBy shuffles touch only state bytes, never data rows)."""
    from pyspark import StorageLevel

    # persist the input states and each round's fold: sortBy (sampling
    # job) + zipWithIndex + count() + the final collect() each re-execute
    # their lineage otherwise, so the upstream partials build — including
    # its data scan — would run ~3x per round
    rdd = states_df.select(state_col).rdd.map(lambda r: bytes(r[0]))
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    n = rdd.count()
    if n == 0:
        rdd.unpersist(blocking=False)
        return spec.make().to_bytes()
    while n > fanout:
        folded = (
            rdd.sortBy(lambda b: b)
            .zipWithIndex()
            .map(lambda bi: (bi[1] // fanout, bi[0]))
            .groupByKey(numPartitions=max(1, n // fanout))
            .map(lambda kv: fold_states(list(kv[1]), spec))
        )
        folded.persist(StorageLevel.MEMORY_AND_DISK)
        n = folded.count()
        rdd.unpersist(blocking=False)
        rdd = folded
    out = fold_states(rdd.collect(), spec)
    rdd.unpersist(blocking=False)
    return out


def build_sketch_grouped(
    df: DataFrame,
    group_cols: list[str],
    column: str | tuple[str, str],
    spec: SketchSpec,
) -> DataFrame:
    """Grouped two-phase aggregate: one sketch per key. A mapInArrow pass
    keeps one sketch per (partition, key), fed through ``ingest_grouped``
    batch by batch; then ``groupBy(keys).applyInArrow`` folds each key's
    states with ``fold_states``. Raw rows never shuffle — at 100 TB the
    exchange moves #partitions × #keys × O(16 KB), not the data.

    Returns DataFrame[group_cols..., state binary, rows long]. Group keys
    keep their NATIVE Spark types; a null key and a NaN key are groups of
    their own, as in Spark's groupBy. ``rows`` counts every row of the key,
    null values included — for a ``(value, weight)`` pair ``column``, only
    the rows with both sides non-null."""
    sketches = {"s": (column, spec)}
    sel = df.select(*group_cols, *_sketch_columns(sketches))
    schema = (
        ", ".join(
            f"{c} {df.schema[c].dataType.simpleString()}" for c in group_cols
        )
        + ", state binary, rows long"
    )
    weighted = not isinstance(column, str)

    def partial(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        groups: dict[tuple, _Group] = {}
        for batch in batches:
            key_types = [batch.schema.field(c).type for c in group_cols]
            ingest_grouped(groups, sketches, batch, group_cols)
        if groups:
            out = [
                pa.array([k[i] for k in groups], t) for i, t in enumerate(key_types)
            ]
            out.append(
                pa.array([g.sks["s"].to_bytes() for g in groups.values()], pa.binary())
            )
            out.append(
                pa.array(
                    [g.values_seen if weighted else g.rows for g in groups.values()],
                    pa.int64(),
                )
            )
            yield pa.RecordBatch.from_arrays(out, names=[*group_cols, "state", "rows"])

    def final_merge(t: pa.Table) -> pa.Table:
        # shared deterministic balanced fold: O(log P) recompression depth
        # per key (a linear left fold recompresses O(P) times sequentially)
        merged = fold_states(t.column("state").to_pylist(), spec)
        return (
            t.select(group_cols)
            .slice(0, 1)
            .append_column("state", pa.array([merged], pa.binary()))
            .append_column("rows", pa.array([sum(t.column("rows").to_pylist())], pa.int64()))
        )

    return (
        sel.mapInArrow(partial, schema)
        .groupBy(*group_cols)
        .applyInArrow(final_merge, schema)
    )


def _mk_bottomk(k: int = 1024, strings: bool = False):
    from ..sketch.bottomk import BottomK

    return SketchSpec(
        name=f"bottomk(k={k},{'str' if strings else 'int'})",
        make=lambda: BottomK(k=k),
        from_bytes=lambda b: BottomK.from_bytes(b),
        update=(
            (lambda sk, v: sk.update_strings(v))
            if strings
            else (lambda sk, v: sk.update_ints(v))
        ),
    )


def _mk_bottomk_md5(k: int = 256):
    from ..sketch.bottomk import BottomK

    return SketchSpec(
        name=f"bottomk_md5(k={k})",
        make=lambda: BottomK(k=k),
        from_bytes=lambda b: BottomK.from_bytes(b),
        update=lambda sk, v: sk.update_md5_ints(v),
        update_agg=lambda sk, uv, uc: sk.update_md5_ints(uv, counts=uc),
    )


def _mk_ams(depth: int = 5, width: int = 1024):
    from ..sketch.ams import AMSF2

    return SketchSpec(
        name=f"ams_f2({depth}x{width})",
        make=lambda: AMSF2(depth=depth, width=width),
        from_bytes=lambda b: AMSF2.from_bytes(b),
        update=lambda sk, v: sk.update_ints(v),
        update_agg=lambda sk, uv, uc: sk.update_ints(uv, counts=uc),
    )


BOTTOMK_INTS = lambda k=1024: _mk_bottomk(k, strings=False)  # noqa: E731
BOTTOMK_STRINGS = lambda k=1024: _mk_bottomk(k, strings=True)  # noqa: E731
BOTTOMK_MD5 = _mk_bottomk_md5
AMS_F2 = _mk_ams
