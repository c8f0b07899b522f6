#!/usr/bin/env python3
"""Hands the benchmark's correctness checks right and wrong answers and
fails unless they accept the first and reject the second. No Spark.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import sys
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import numpy as np  # noqa: E402

import workloads as W  # noqa: E402
from tdigest_spark.sketch.hll import HLL  # noqa: E402
from tdigest_spark.sketch.kll import KLL  # noqa: E402
from tdigest_spark.sketch.tdigest import TDigest  # noqa: E402


def sketches(values: np.ndarray):
    td, kll, hll = TDigest(delta=0.01), KLL(200), HLL(14)
    td.push(values.astype(np.float64))
    kll.update(values)
    hll.update_ints(values)
    return td, kll, hll


def main() -> int:
    rng = np.random.default_rng(0)
    vals = (rng.zipf(1.3, 200_000) - 1) % 50_000
    uv, uc = np.unique(vals, return_counts=True)

    ok = W.accuracy(*sketches(vals), uv, uc)
    assert W.accuracy_ok(ok), ok
    # sketches of other data than the exact table describes
    wrong = W.accuracy(*sketches(vals + 7), uv, uc)
    assert not W.accuracy_ok(wrong), wrong
    # an HLL that missed half the distinct values
    td, kll, _ = sketches(vals)
    _, _, half = sketches(vals[np.isin(vals, uv[::2])])
    assert not W.accuracy_ok(W.accuracy(td, kll, half, uv, uc))

    sk = {"td_tokens": SimpleNamespace(n=100.0), "td_ntok": SimpleNamespace(n=3.0)}
    assert W.check_counts(sk, rows=3, tokens=100) == ""
    assert W.check_counts(sk, rows=3, tokens=101)
    assert W.check_counts(sk, rows=4, tokens=100)

    groups = {"web": SimpleNamespace(n=60.0), "code": SimpleNamespace(n=40.0)}
    assert W.check_grouped(groups, 100) == ""
    assert W.check_grouped(groups, 99)
    assert W.check_grouped({**groups, "spam": SimpleNamespace(n=0.0)}, 100)

    oracle = {"columns": ["k", "v"], "rows": [["a", 1.5], ["b", 2.0]]}
    assert W.check_rows_match(["k", "v"], [("a", 1.5), ("b", 2.0)], oracle) == ""
    assert W.check_rows_match(["k", "v"], [("a", 1.5), ("b", 2.5)], oracle)
    assert W.check_rows_match(["k", "v"], [("a", 1.5)], oracle)
    assert W.check_rows_match(["k", "w"], [("a", 1.5), ("b", 2.0)], oracle)

    # token_build's determinism check: a second build with other states
    ctx = W.Ctx(spark=None, tracer=None, work=HERE, seed=0, cores=1)
    tb = W.TokenBuild(ctx)
    tb.table = {"tokens": 100, "rows": 3}
    state = lambda b: SimpleNamespace(n=0, to_bytes=lambda: b)  # noqa: E731
    build = {n: state(b"x") for n in W.SKETCH_NAMES}
    build.update(td_tokens=SimpleNamespace(n=100.0, to_bytes=lambda: b"t"),
                 td_ntok=SimpleNamespace(n=3.0, to_bytes=lambda: b"n"))
    assert tb.check(([], build, groups)).ok
    assert tb.check(([], build, groups)).ok
    assert not tb.check(([], {**build, "cms_tokens": state(b"y")}, groups)).ok

    print("selftest ok: every check accepts the right answer and rejects the wrong ones")
    return 0


if __name__ == "__main__":
    sys.exit(main())
