"""The three workloads and their correctness checks.

Each workload is driven from one process as a closed loop with a single
caller: the next operation starts when the previous one has returned and
been checked. A workload provides

* ``prepare()`` - seeded inputs (cached, untimed, outside ``setup_s``);
* ``warm()``    - the one-time warm-up, inside ``setup_s``;
* ``op(i)``     - one operation, timed; returns what the program returned;
* ``check(out)`` - checks one operation's output, untimed; returns an
  :class:`OpResult`;
* ``finish()``  - end-of-run checks and accuracy, untimed;
* ``layers(ops)`` - per-layer metrics from a traced run.

Spans are recorded only around calls into the program's public functions;
in a traced run some of those functions are replaced, on their module, by
timing wrappers (``Tracer.wrap``) so that calls made inside the program
are timed too. Nothing in ``tdigest_spark`` is edited.
"""

from __future__ import annotations

import json
import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Any

import numpy as np

import inputs
from probes import Tracer, median

# paper / repo accuracy bounds: t-digest abs CDF error at delta=0.01
# (bench.py), KLL k=200 and HLL p=14 envelopes of the repo's own
# kll_rank_error_check / hll_distinct_check queries
TDIGEST_CDF_BOUND = 0.01
KLL_RANK_BOUND = 0.025
HLL_REL_BOUND = 0.025

SKETCH_NAMES = ["td_tokens", "td_ntok", "hll_tokens", "cms_tokens", "kll_tokens", "bloom_tokens"]

SUITE_QUERIES = [
    "q3_shipping_priority",
    "tdigest_quantity_quantiles",
    "tdigest_weighted_by_flag",
    "grouped_digest_functions",
    "sql_digest_surface",
    "kll_rank_error_check",
    "hll_distinct_check",
    "cms_topk_quantity",
    "bloom_partkey_membership",
]


def sketch_spec() -> dict:
    """bench.py's six-sketch spec."""
    from tdigest_spark.operators.aggregate import (
        BLOOM_INTS, CMS_INTS, HLL_INTS, KLL_SPEC, TDIGEST,
    )

    return {
        "td_tokens": ("tokens", TDIGEST(0.01)),
        "td_ntok": ("n_tok", TDIGEST(0.01)),
        "hll_tokens": ("tokens", HLL_INTS(14)),
        "cms_tokens": ("tokens", CMS_INTS(5, 16384, 64)),
        "kll_tokens": ("tokens", KLL_SPEC(200)),
        "bloom_tokens": ("tokens", BLOOM_INTS(60000, 0.01)),
    }


@dataclass
class OpResult:
    ok: bool
    tokens: int = 0
    why: str = ""


@dataclass
class Ctx:
    spark: Any
    tracer: Tracer
    work: Path
    seed: int
    cores: int


# --------------------------------------------------------------------------
# correctness checks (pure functions; perfbench/selftest.py feeds them
# wrong answers)
# --------------------------------------------------------------------------


def accuracy(td, kll, hll, values: np.ndarray, counts: np.ndarray,
             distinct: int | None = None) -> dict[str, float]:
    """Errors of the three sketches against an exact (value, count) table.

    * t-digest: max |cdf(v) - mid-rank(v)| over every distinct value.
    * KLL: on the grid p = 0.01..0.99, the distance from p to the exact
      rank interval [F(q-), F(q)] of the estimate q (0 when p falls inside,
      which a duplicate-heavy value makes common).
    * HLL: |estimate - distinct| / distinct, where ``distinct`` defaults
      to the number of values in the table.
    """
    v = values.astype(np.float64)
    c = counts.astype(np.float64)
    n = c.sum()
    cum = np.cumsum(c)
    mid = (cum - c / 2.0) / n
    td_err = float(np.max(np.abs(td.cdf(v) - mid)))

    grid = np.linspace(0.01, 0.99, 99)
    q = np.asarray(kll.quantile(grid), dtype=np.float64)
    idx = np.searchsorted(v, q, side="right")
    hi = np.where(idx > 0, cum[np.maximum(idx - 1, 0)], 0.0) / n
    at = (idx > 0) & (v[np.maximum(idx - 1, 0)] == q)
    lo = hi - np.where(at, c[np.maximum(idx - 1, 0)], 0.0) / n
    kll_err = float(np.max(np.maximum(0.0, np.maximum(lo - grid, grid - hi))))

    distinct = float(v.shape[0] if distinct is None else distinct)
    hll_err = float(abs(hll.estimate() - distinct) / distinct)
    return {"tdigest_cdf_err": td_err, "kll_rank_err": kll_err, "hll_rel_err": hll_err}


def accuracy_ok(acc: dict[str, float]) -> bool:
    return (
        acc["tdigest_cdf_err"] < TDIGEST_CDF_BOUND
        and acc["kll_rank_err"] < KLL_RANK_BOUND
        and acc["hll_rel_err"] < HLL_REL_BOUND
    )


def check_counts(sketches: dict, rows: int, tokens: int) -> str:
    """'' when the digests counted every row and token, else the reason."""
    if int(sketches["td_tokens"].n) != tokens:
        return f"td_tokens.n={sketches['td_tokens'].n} != {tokens} tokens"
    if int(sketches["td_ntok"].n) != rows:
        return f"td_ntok.n={sketches['td_ntok'].n} != {rows} rows"
    return ""


def check_grouped(groups: dict, tokens: int) -> str:
    from tdigest_spark.sources.sequence_table import SOURCES

    if not set(groups) <= set(SOURCES):
        return f"unexpected group keys {sorted(set(groups) - set(SOURCES))}"
    total = sum(int(d.n) for d in groups.values())
    if total != tokens:
        return f"grouped digests hold {total} != {tokens} tokens"
    return ""


def states(sketches: dict) -> dict[str, bytes]:
    return {n: sketches[n].to_bytes() for n in SKETCH_NAMES}


def check_rows_match(columns: list[str], rows: list, oracle: dict) -> str:
    """Result rows (already normalized and sorted) against an oracle."""
    if columns != oracle["columns"]:
        return f"columns {columns} != {oracle['columns']}"
    got = json.loads(json.dumps(rows))
    if len(got) != len(oracle["rows"]):
        return f"{len(got)} rows != {len(oracle['rows'])}"
    bad = sum(a != b for a, b in zip(got, oracle["rows"]))
    return f"{bad}/{len(got)} rows differ" if bad else ""


# --------------------------------------------------------------------------
# shared tracing of the scan path
# --------------------------------------------------------------------------


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def trace_scan_module(tr: Tracer) -> None:
    """Time parquet_splits, the partials collect, merge_partials and the
    grouped build inside ``operators.scan``; record task walls, collected
    bytes and final state sizes as counters."""
    from tdigest_spark.operators import scan

    scan.parquet_splits = tr.wrap("scan.splits", scan.parquet_splits)
    partials_rdd = scan.scan_partials_rdd

    def traced_partials_rdd(*args, **kwargs):
        rdd = partials_rdd(*args, **kwargs)
        rdd.collect = tr.wrap("scan.partials", rdd.collect)
        return rdd

    scan.scan_partials_rdd = traced_partials_rdd
    merge = scan.merge_partials

    def traced_merge(rows, names, specs):
        walls = [r["wall_ms"] for r in rows]
        tr.count("scan.task_wall_p50_ms", median(walls))
        tr.count("scan.task_wall_max_ms", max(walls))
        tr.count("scan.task_skew", max(walls) / max(median(walls), 1e-9))
        tr.count("scan.collect_bytes", sum(len(r[f"state_{n}"]) for r in rows for n in names))
        with tr.span("aggregate.fold"):
            merged = merge(rows, names, specs)
        for n, b in merged.items():
            tr.count(f"sketch.state_bytes.{n}", len(b))
        return merged

    scan.merge_partials = traced_merge
    scan.build_sketch_grouped_scan = tr.wrap("scan.grouped", scan.build_sketch_grouped_scan)


def scan_layers(tr: Tracer, ops: list[str]) -> dict[str, float]:
    span = lambda name, parent=None: tr.per_op_span_s(name, ops, parent)  # noqa: E731
    cnt = lambda name: median(tr.per_op_count(name, ops))  # noqa: E731
    splits = span("scan.splits", "scan.build")  # not the grouped build's
    partials = span("scan.partials")
    fold = span("aggregate.fold")
    walls = tr.per_op_count("scan.task_wall_max_ms", ops)
    out = {
        "scan.splits_s": median(splits),
        "scan.partials_s": median(partials),
        "scan.task_wall_p50_ms": cnt("scan.task_wall_p50_ms"),
        "scan.task_wall_max_ms": cnt("scan.task_wall_max_ms"),
        "scan.task_skew": cnt("scan.task_skew"),
        "scan.sched_gap_s": median(p - w / 1000.0 for p, w in zip(partials, walls)),
        "scan.collect_bytes": cnt("scan.collect_bytes"),
        "scan.grouped_s": median(span("scan.grouped")),
        "aggregate.fold_s": median(fold),
        # what build_sketches_scan spends besides splits, collect and fold:
        # the per-sketch from_bytes and the RDD set-up
        "sketch.from_bytes_s": median(
            b - s - p - f for b, s, p, f in zip(span("scan.build"), splits, partials, fold)
        ),
    }
    for n in SKETCH_NAMES:
        out[f"sketch.state_bytes.{n}"] = cnt(f"sketch.state_bytes.{n}")
    return out


# --------------------------------------------------------------------------
# kernel ledger: one in-process pass over a fixed subset of splits
# --------------------------------------------------------------------------


def kernel_ledger(splits: list, spec: dict, repeats: int = 3) -> dict[str, float]:
    """Per-stage seconds of the sketch kernels over ``splits``, in this
    process: decode, Arrow-to-numpy extract, the shared
    sort/count (``sorted_and_agg``), per-sketch update, serialize, and the
    driver-side fold of the per-split states. The dispatch mirrors
    ``scan_partials_rdd``. Medians over ``repeats`` passes."""
    import time

    import pyarrow.parquet as pq

    from tdigest_spark.operators.aggregate import _column_values, fold_states, sorted_and_agg

    names = list(spec)
    specs = {n: s for n, (_, s) in spec.items()}
    col_of = {n: c for n, (c, _) in spec.items()}
    cols = sorted(set(col_of.values()))
    passes = []
    for _ in range(repeats):
        t: dict[str, float] = {}

        def add(k, dt):
            t[k] = t.get(k, 0.0) + dt

        per_split_states = {n: [] for n in names}
        for sp in splits:
            t0 = time.perf_counter()
            tbl = pq.ParquetFile(sp.path).read_row_groups(
                list(sp.row_groups), columns=cols, use_threads=False
            )
            add("kernel.decode_s", time.perf_counter() - t0)
            t0 = time.perf_counter()
            vals = {c: _column_values(tbl.column(c)) for c in cols}
            add("kernel.extract_s", time.perf_counter() - t0)
            prep = {}
            t0 = time.perf_counter()
            for c in cols:
                if vals[c].dtype.kind in "iub" and vals[c].shape[0]:
                    prep[c] = sorted_and_agg(
                        vals[c],
                        any(specs[n].update_agg is not None for n in names if col_of[n] == c),
                        any(specs[n].update_sorted is not None for n in names if col_of[n] == c),
                    )
            add("kernel.sort_count_s", time.perf_counter() - t0)
            for n in names:
                sk = specs[n].make()
                c = col_of[n]
                sv, agg = prep.get(c, (None, None))
                t0 = time.perf_counter()
                if specs[n].update_agg is not None and agg is not None:
                    specs[n].update_agg(sk, *agg)
                elif specs[n].update_sorted is not None and sv is not None:
                    specs[n].update_sorted(sk, sv)
                else:
                    specs[n].update(sk, vals[c])
                add(f"kernel.update.{n}_s", time.perf_counter() - t0)
                t0 = time.perf_counter()
                per_split_states[n].append(sk.to_bytes())
                add(f"kernel.serialize.{n}_s", time.perf_counter() - t0)
        for n in names:
            t0 = time.perf_counter()
            fold_states(per_split_states[n], specs[n])
            add(f"kernel.merge.{n}_s", time.perf_counter() - t0)
        passes.append(t)
    return {k: median(p[k] for p in passes) for k in passes[0]}


# --------------------------------------------------------------------------
# token_build
# --------------------------------------------------------------------------


class TokenBuild:
    """One-pass six-sketch build through ``build_sketches_scan``, then one
    per-source grouped t-digest build through ``build_sketch_grouped_scan``,
    over a read-only Iceberg sequence table."""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.first_states: dict[str, bytes] | None = None
        self.last: dict | None = None

    def prepare(self) -> None:
        self.table = inputs.token_table(self.ctx.work / "inputs", self.ctx.seed, self.ctx.cores)
        self.spec = sketch_spec()

    def op(self, i: int):
        from tdigest_spark.operators import scan
        from tdigest_spark.operators.aggregate import TDIGEST
        from tdigest_spark.sources.iceberg import iceberg_scan_paths_static

        tr, spark, p = self.ctx.tracer, self.ctx.spark, self.ctx.cores
        with tr.span("iceberg.scan_paths"):
            files = iceberg_scan_paths_static(str(self.table["root"]))
        with tr.span("scan.build"):
            sk = scan.build_sketches_scan(
                spark, files, self.spec, target_rows_per_split=8192, partitions=p
            )
        groups = scan.build_sketch_grouped_scan(
            spark, files, "source", "tokens", TDIGEST(0.01),
            target_rows_per_split=8192, partitions=p,
        )
        return files, sk, groups

    def warm(self) -> None:
        self.check(self.op(-1))

    def check(self, out) -> OpResult:
        files, sk, groups = out
        self.files = files
        tokens = self.table["tokens"]
        why = check_counts(sk, self.table["rows"], tokens) or check_grouped(groups, tokens)
        st = states(sk)
        if self.first_states is None:
            self.first_states, self.last = st, sk
        elif st != self.first_states:
            why = why or "sketch states differ between identical builds"
        # two scans of the token column per op: the six-sketch build and
        # the grouped build
        return OpResult(ok=not why, tokens=2 * tokens, why=why)

    def finish(self) -> tuple[bool, dict[str, float], str]:
        if self.last is None:
            return False, {}, "no build completed"
        ex = self.table["exact"]
        acc = accuracy(self.last["td_tokens"], self.last["kll_tokens"],
                       self.last["hll_tokens"], ex["v"], ex["c"])
        ok = accuracy_ok(acc)
        return ok, acc, "" if ok else f"accuracy out of bounds: {acc}"

    def install_tracing(self) -> None:
        trace_scan_module(self.ctx.tracer)

    def layers(self, ops: list[str]) -> dict[str, float]:
        from tdigest_spark.operators.scan import parquet_splits

        tr = self.ctx.tracer
        out = scan_layers(tr, ops)
        out["iceberg.scan_paths_s"] = median(tr.per_op_span_s("iceberg.scan_paths", ops))
        # a fixed quarter of the table: every 8th split
        out.update(kernel_ledger(parquet_splits(self.files, 8192)[::8], self.spec))
        return out


# --------------------------------------------------------------------------
# append_maintain
# --------------------------------------------------------------------------


class AppendMaintain:
    """Append one batch through the ``iceberg_static`` writer, resolve the
    new snapshot, refresh the six sketches with ``CheckpointedBuild.run``
    (default arguments) over a checkpoint directory whose history grows
    with every operation."""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.rows = self.tokens = self.n_appended = 0
        self.last = None
        self.files: list[str] = []
        self.ckpt_batches: set[str] = set()

    def prepare(self) -> None:
        self.batches = inputs.append_batches(self.ctx.work / "inputs", self.ctx.seed, self.ctx.cores)
        run = self.ctx.work / "run" / "append_maintain"
        shutil.rmtree(run, ignore_errors=True)
        run.mkdir(parents=True)
        self.root = run / "table"
        self.ckpt = run / "checkpoint"
        self.spec = sketch_spec()

    def _cb(self, ckpt: Path):
        from tdigest_spark.plans.checkpoint import CheckpointedBuild

        cb = CheckpointedBuild(str(ckpt), self.spec)
        if self.ctx.tracer.enabled:
            cb.completed = self.ctx.tracer.wrap("checkpoint.completed", cb.completed)
        return cb

    def op(self, i: int):
        from tdigest_spark.sources.iceberg import iceberg_scan_paths_static

        tr, spark = self.ctx.tracer, self.ctx.spark
        b = self.batches[self.n_appended % len(self.batches)]
        with tr.span("datasource.write"):
            (
                spark.read.parquet(b["path"])
                .write.format("iceberg_static")
                .mode("append")
                .option("path", str(self.root))
                .save()
            )
        self.n_appended += 1
        self.rows += b["rows"]
        self.tokens += b["tokens"]
        with tr.span("iceberg.scan_paths"):
            files = iceberg_scan_paths_static(str(self.root))
        with tr.span("checkpoint.run"):
            sk = self._cb(self.ckpt).run(spark, files)
        return files, sk, b

    def warm(self) -> None:
        from tdigest_spark.sources.datasource import IcebergStaticDataSource

        self.ctx.spark.dataSource.register(IcebergStaticDataSource)
        self.check(self.op(-1))

    def check(self, out) -> OpResult:
        files, sk, b = out
        files_added = len(files) - len(self.files)
        self.files, self.last = files, sk
        why = check_counts(sk, self.rows, self.tokens)
        if self.ctx.tracer.enabled:
            self._count_checkpoint(files_added)
            for n, blob in states(sk).items():
                self.ctx.tracer.count(f"sketch.state_bytes.{n}", len(blob))
        return OpResult(ok=not why, tokens=b["tokens"], why=why)

    def _count_checkpoint(self, files_added: int) -> None:
        tr = self.ctx.tracer
        splits = {m["batch_key"]: m["n_splits"] for m in self._cb(self.ckpt).metrics()}
        scanned = sum(n for k, n in splits.items() if k not in self.ckpt_batches)
        self.ckpt_batches = set(splits)
        tr.count("checkpoint.files", len(splits))
        tr.count("checkpoint.splits_scanned", scanned)
        tr.count("checkpoint.rescan_ratio", scanned / max(files_added, 1))
        tr.count("checkpoint.bytes", _dir_bytes(self.ckpt))
        tr.count("iceberg.metadata_bytes", _dir_bytes(self.root / "metadata"))

    def finish(self) -> tuple[bool, dict[str, float], str]:
        import pyarrow.parquet as pq

        if self.last is None:
            return False, {}, "no refresh completed"
        why = ""
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in self.files)
        if rows != self.rows:
            why = f"table holds {rows} rows, {self.rows} appended"
        fresh_dir = self.ckpt.with_name("checkpoint-fresh")
        shutil.rmtree(fresh_dir, ignore_errors=True)
        fresh = self._cb(fresh_dir).run(self.ctx.spark, self.files)
        if states(fresh) != states(self.last):
            why = why or "refreshed states differ from a fresh build"
        ex = inputs.exact_token_counts(self.files)
        acc = accuracy(self.last["td_tokens"], self.last["kll_tokens"],
                       self.last["hll_tokens"], ex["v"], ex["c"])
        if not accuracy_ok(acc):
            why = why or f"accuracy out of bounds: {acc}"
        return not why, acc, why

    def install_tracing(self) -> None:
        from tdigest_spark.plans import checkpoint

        checkpoint.merge_partials = self.ctx.tracer.wrap("aggregate.fold", checkpoint.merge_partials)

    def layers(self, ops: list[str]) -> dict[str, float]:
        from tdigest_spark.operators.scan import parquet_splits

        tr = self.ctx.tracer
        per = lambda name: median(tr.per_op_span_s(name, ops))  # noqa: E731
        out = {
            "iceberg.scan_paths_s": per("iceberg.scan_paths"),
            "datasource.write_s": per("datasource.write"),
            "checkpoint.run_s": per("checkpoint.run"),
            "checkpoint.completed_s": per("checkpoint.completed"),
            "aggregate.fold_s": per("aggregate.fold"),
        }
        counted = ["checkpoint.files", "checkpoint.splits_scanned", "checkpoint.rescan_ratio",
                   "checkpoint.bytes", "iceberg.metadata_bytes"]
        for k in counted + [f"sketch.state_bytes.{n}" for n in SKETCH_NAMES]:
            out[k] = median(tr.per_op_count(k, ops))
        # a fixed subset: the first two batches of the pool
        out.update(kernel_ledger(
            parquet_splits([b["path"] for b in self.batches[:2]], 8192), self.spec
        ))
        return out


# --------------------------------------------------------------------------
# query_suite
# --------------------------------------------------------------------------


class QuerySuite:
    """Whole passes over nine ``queries()`` entries on TPC-H-shaped tables;
    each query runs after ``clearCache()`` and is collected and compared
    with its ``oracle_sql()`` answer."""

    # ops are single queries; run.py stops only at whole passes
    ops_per_pass = len(SUITE_QUERIES)

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        import __spark_entry__ as entry

        self.data = inputs.tpch_tables(self.ctx.work / "inputs", self.ctx.seed, SUITE_QUERIES)
        self.lineitem = f"{self.data['dir']}/lineitem.parquet"
        self.lineitem_rows = pq.ParquetFile(self.lineitem).metadata.num_rows
        qs = entry.queries()
        self.fns = {q: qs[q] for q in SUITE_QUERIES}

    def op(self, i: int, sf_dir: str | None = None):
        q = SUITE_QUERIES[i % len(SUITE_QUERIES)]
        spark = self.ctx.spark
        spark.catalog.clearCache()
        with self.ctx.tracer.span(f"query.{q}"):
            df = self.fns[q](spark, sf_dir or self.data["dir"])
            # collect, not count(): the check needs the rows, and count()
            # may prune computed columns
            rows = df.collect()
        return q, df.columns, rows

    def warm(self) -> None:
        # the first pass pays Python worker start-up and JIT compilation;
        # a small copy of the tables pays the same at a fraction of the scan
        for i in range(len(SUITE_QUERIES)):
            self.op(i, self.data["warm_dir"])

    def check(self, out) -> OpResult:
        from verify_oracles import norm

        q, columns, rows = out
        cols = sorted(columns)
        got = sorted((tuple(norm(r[c]) for c in cols) for r in rows), key=repr)
        why = check_rows_match(cols, got, self.data["oracle"][q])
        # one lineitem scan per query
        return OpResult(ok=not why, tokens=self.lineitem_rows, why=f"{q}: {why}" if why else "")

    def finish(self) -> tuple[bool, dict[str, float], str]:
        """Accuracy of the DataFrame front end (``partials_df`` through
        ``build_sketches``) on lineitem: t-digest and KLL on
        l_extendedprice, HLL on l_orderkey."""
        import duckdb

        from tdigest_spark.operators.aggregate import HLL_INTS, KLL_SPEC, TDIGEST, build_sketches

        sk = build_sketches(self.ctx.spark.read.parquet(self.lineitem), {
            "td": ("l_extendedprice", TDIGEST(0.01)),
            "kll": ("l_extendedprice", KLL_SPEC(200)),
            "hll": ("l_orderkey", HLL_INTS(14)),
        })
        con = duckdb.connect()
        try:
            ex = con.execute(
                "SELECT l_extendedprice AS v, COUNT(*) AS c FROM read_parquet(?) "
                "GROUP BY 1 ORDER BY 1", [self.lineitem]
            ).fetchnumpy()
            keys = con.execute(
                "SELECT COUNT(DISTINCT l_orderkey) FROM read_parquet(?)", [self.lineitem]
            ).fetchone()[0]
        finally:
            con.close()
        acc = accuracy(sk["td"], sk["kll"], sk["hll"], ex["v"], ex["c"], distinct=keys)
        ok = accuracy_ok(acc)
        return ok, acc, "" if ok else f"accuracy out of bounds: {acc}"

    def install_tracing(self) -> None:
        pass

    def layers(self, ops: list[str]) -> dict[str, float]:
        tr = self.ctx.tracer
        return {
            f"query.{q}_s": median(
                s["end"] - s["start"] for s in tr.spans
                if s["name"] == f"query.{q}" and s["op"] in ops
            )
            for q in SUITE_QUERIES
        }


WORKLOADS = {
    "token_build": TokenBuild,
    "append_maintain": AppendMaintain,
    "query_suite": QuerySuite,
}
