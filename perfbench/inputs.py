"""Seeded inputs and their exact answers, generated once per (workload,
seed) and cached under ``.perfbench/inputs``. Generation is never timed.

* ``token_table``: a read-only, Iceberg-committed sequence table written by
  ``generate_sequence_table`` in parallel shards, plus the exact token value
  counts (DuckDB) that the accuracy metrics compare against.
* ``append_batches``: the pool of small sequence batches that
  ``append_maintain`` appends one per operation.
* ``tpch_tables``: TPC-H-shaped ``customer``/``orders``/``lineitem`` at the
  sf0.1 shape of the repo's test data, plus each suite query's
  ``oracle_sql()`` answer computed by DuckDB.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np

# token_build: ~160k rows, 32 files, ~54M tokens (4 shards x 8 files)
TOKEN_SHARDS = 4
TOKEN_ROWS_PER_SHARD = 40_000
TOKEN_ROWS_PER_FILE = 5_000
# append_maintain: a pool of 10k-row (~3.4M token) batches, appended in turn
APPEND_BATCHES = 8
APPEND_BATCH_ROWS = 10_000
# query_suite: sf0.1 shape (sizes at scale 1.0); the warm-up pass runs on
# a copy at WARM_SCALE, since its cost is process start-up and JIT, not data
TPCH_CUSTOMERS = 15_000
TPCH_ORDERS = 150_000
TPCH_LINES_PER_ORDER = 4
TPCH_PARTS = 20_000
TPCH_SUPPLIERS = 1_000
WARM_SCALE = 0.02

KEEP_SEEDS = 12  # cached seeds kept per workload (~100 MB each for token_build)


def _cached(root: Path, build) -> Path:
    """Run ``build(root)`` once. A marker written last tells a finished
    input from one a killed run left half-written, which is rebuilt."""
    marker = root / "_DONE"
    if marker.exists():
        os.utime(root)
        return root
    shutil.rmtree(root, ignore_errors=True)
    root.mkdir(parents=True)
    build(root)
    marker.write_text("ok")
    siblings = sorted(
        (p for p in root.parent.iterdir() if p.is_dir()),
        key=lambda p: p.stat().st_mtime,
    )
    for old in siblings[:-KEEP_SEEDS]:
        shutil.rmtree(old, ignore_errors=True)
    return root


def _gen_shard(path: str, n_rows: int, seed: int, rows_per_file: int) -> None:
    from tdigest_spark.sources.sequence_table import generate_sequence_table

    generate_sequence_table(Path(path), n_rows=n_rows, seed=seed, rows_per_file=rows_per_file)


def _gen_parallel(jobs: list[tuple[str, int, int, int]], procs: int) -> list[list[str]]:
    """Run ``generate_sequence_table`` for each job, ``procs`` child
    processes at a time; returns each job's parquet files."""
    pending = list(jobs)
    running: list[subprocess.Popen] = []
    try:
        while pending or running:
            while pending and len(running) < procs:
                job = pending.pop(0)
                running.append(subprocess.Popen(
                    [sys.executable, __file__, *map(str, job)],
                ))
            proc = running.pop(0)
            if proc.wait() != 0:
                raise RuntimeError(f"input generation failed: {proc.args}")
    finally:
        for proc in running:
            proc.kill()
            proc.wait()
    return [sorted(str(p) for p in Path(job[0]).glob("*.parquet")) for job in jobs]


def exact_token_counts(files: list[str]) -> dict[str, np.ndarray]:
    """Exact (value, count) of every token in ``files``, plus the row count."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT u AS v, COUNT(*) AS c FROM (SELECT UNNEST(tokens) AS u "
            "FROM read_parquet(?)) GROUP BY u ORDER BY u",
            [files],
        ).fetchnumpy()
        n_rows = con.execute("SELECT COUNT(*) FROM read_parquet(?)", [files]).fetchone()[0]
    finally:
        con.close()
    return {
        "v": np.asarray(rows["v"], dtype=np.int64),
        "c": np.asarray(rows["c"], dtype=np.int64),
        "rows": np.int64(n_rows),
    }


def token_table(cache: Path, seed: int, procs: int) -> dict:
    """Iceberg sequence table for ``token_build``; returns its root, the
    exact token counts and the totals."""

    def build(root: Path) -> None:
        from tdigest_spark.sources import iceberg_write as W

        jobs = [
            (
                str(root / "data" / f"shard-{i}"),
                TOKEN_ROWS_PER_SHARD,
                seed * 1000 + i,
                TOKEN_ROWS_PER_FILE,
            )
            for i in range(TOKEN_SHARDS)
        ]
        files = [f for shard in _gen_parallel(jobs, procs) for f in shard]
        exact = exact_token_counts(files)
        np.savez(root / "exact.npz", **exact)
        W.create_table(root, ts_ms=0)
        W.append_snapshot(root, files, snapshot_id=1, ts_ms=0)

    root = _cached(cache / "token_build" / f"seed-{seed}", build)
    ex = np.load(root / "exact.npz")
    return {
        "root": root,
        "exact": {k: ex[k] for k in ex.files},
        "tokens": int(ex["c"].sum()),
        "rows": int(ex["rows"]),
    }


def append_batches(cache: Path, seed: int, procs: int) -> list[dict]:
    """The batch pool for ``append_maintain``: one parquet file per batch,
    with its row and token counts."""

    def build(root: Path) -> None:
        jobs = [
            (str(root / f"batch-{i:02d}"), APPEND_BATCH_ROWS, seed * 1000 + 500 + i,
             APPEND_BATCH_ROWS)
            for i in range(APPEND_BATCHES)
        ]
        _gen_parallel(jobs, procs)

    root = _cached(cache / "append_maintain" / f"seed-{seed}", build)
    import pyarrow.parquet as pq

    out = []
    for i in range(APPEND_BATCHES):
        (f,) = sorted((root / f"batch-{i:02d}").glob("*.parquet"))
        n_tok = pq.read_table(f, columns=["n_tok"]).column("n_tok")
        out.append({"path": str(f), "rows": len(n_tok),
                    "tokens": int(np.asarray(n_tok).sum())})
    return out


def _write_tpch(root: Path, seed: int, scale: float = 1.0) -> None:
    """customer/orders/lineitem with the sf0.1 test data's schema, value
    ranges and single-row-group layout. Every order, part and supplier key
    occurs in lineitem, so the distinct key sets (and with them the HLL
    estimates of hll_distinct_check) are the same for every seed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 0x7C9])

    def day_ts(first: str, last: str, n: int) -> pa.Array:
        lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
        days = rng.integers(0, (hi - lo).astype(np.int64) + 1, n)
        return pa.array((lo + days).astype("datetime64[us]"), pa.timestamp("us"))

    def pick(choices: list[str], n: int) -> pa.Array:
        return pa.array(np.asarray(choices)[rng.integers(0, len(choices), n)], pa.string())

    def cents(lo: int, hi: int, n: int) -> np.ndarray:
        return rng.integers(lo, hi + 1, n) / 100.0

    def write(name: str, cols: dict) -> None:
        tbl = pa.table(cols)
        pq.write_table(tbl, root / f"{name}.parquet", row_group_size=tbl.num_rows)

    root.mkdir(parents=True, exist_ok=True)
    nc = int(TPCH_CUSTOMERS * scale)
    write("customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(cents(-99985, 999980, nc)),
        "c_mktsegment": pick(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc),
    })
    no = int(TPCH_ORDERS * scale)
    write("orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no)),
        "o_orderstatus": pick(["F", "O", "P"], no),
        "o_totalprice": pa.array(cents(100191, 49999318, no)),
        "o_orderdate": day_ts("1995-01-01", "2001-08-01", no),
        "o_orderpriority": pick(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no),
    })
    nl = no * TPCH_LINES_PER_ORDER

    def every_key(n_keys: int) -> pa.Array:
        return pa.array(rng.permutation(np.arange(nl, dtype=np.int64) % n_keys))

    write("lineitem", {
        "l_orderkey": every_key(no),
        "l_partkey": every_key(int(TPCH_PARTS * scale)),
        "l_suppkey": every_key(int(TPCH_SUPPLIERS * scale)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(cents(90068, 10499991, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], nl),
        "l_linestatus": pick(["F", "O"], nl),
        "l_shipdate": day_ts("1995-01-02", "2001-11-04", nl),
    })


TPCH_TABLES = ["customer", "orders", "lineitem"]


def tpch_tables(cache: Path, seed: int, queries: list[str]) -> dict:
    """TPC-H-shaped tables for ``query_suite``, a small copy for its
    warm-up, and each query's oracle answer, normalized the way
    tools/verify_oracles.py compares them."""
    import duckdb

    import __spark_entry__ as entry
    from verify_oracles import norm

    def build(root: Path) -> None:
        _write_tpch(root, seed)
        _write_tpch(root / "warm", seed, WARM_SCALE)
        con = duckdb.connect()
        try:
            for t in TPCH_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{root / t}.parquet')"
                )
            sql = entry.oracle_sql()
            answers = {}
            for q in queries:
                rel = con.sql(sql[q])
                cols = sorted(rel.columns)
                idx = [rel.columns.index(c) for c in cols]
                rows = sorted(
                    (tuple(norm(r[i]) for i in idx) for r in rel.fetchall()), key=repr
                )
                answers[q] = {"columns": cols, "rows": rows}
        finally:
            con.close()
        (root / "oracle.json").write_text(json.dumps(answers))

    root = _cached(cache / "query_suite" / f"seed-{seed}", build)
    return {
        "dir": str(root),
        "warm_dir": str(root / "warm"),
        "oracle": json.loads((root / "oracle.json").read_text()),
    }


if __name__ == "__main__":
    _gen_shard(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
