#!/usr/bin/env python3
"""Collect and compare benchmark result sets.

    # run workloads x seeds, one result file per run
    python3 perfbench/compare.py collect OUT_DIR --seeds 1-10 [--workloads a,b] [--trace 0|1]
    # compare two sets: medians, quartiles and a verdict per metric
    python3 perfbench/compare.py diff BASE_DIR CHANGE_DIR
    # one set alone: medians, quartiles and spread (IQR / median)
    python3 perfbench/compare.py show DIR

Verdicts follow the benchmark's bounds (BENCHMARK.json):

* ``worse``      - the change's median is worse than the base median by more
                   than the metric's bound;
* ``better``     - the change wins at least 9 of 10 seed-paired runs (ties
                   count for neither) and the medians differ by more than the
                   base's own interquartile range;
* ``unresolved`` - the base's spread (IQR / median) is wider than the bound
                   and not every change run beats every base run;
* ``unchanged``  - otherwise.

Traced runs (``--trace 1``) give the per-layer table, and the tracing
overhead: the traced median op time against the untraced ``op_p50_s``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def load_bench() -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        "run_seconds": spec["run_seconds"],
        "e2e": {m["name"]: m for m in spec["end_to_end"]},
        "layers": {m["name"]: m for m in spec["per_layer"]},
    }


def parse_seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def collect(args) -> int:
    bench = load_bench()
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    workloads = args.workloads.split(",") if args.workloads else bench["workloads"]
    rc = 0
    for seed in parse_seeds(args.seeds):
        for w in workloads:
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                rc = 1
                continue
            res = json.loads(lines[-1])
            tag = "trace" if args.trace else "run"
            notes = [line for line in lines if line.startswith("# ")]
            (out / f"{w}.{tag}.seed{seed}.json").write_text(json.dumps(
                {"workload": w, "seed": seed, "trace": args.trace, "result": res, "notes": notes}
            ))
            print(f"{w} seed {seed} trace {args.trace}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}", flush=True)
    return rc


def load_set(d: Path) -> dict:
    """{(workload, trace): {seed: result}}"""
    runs: dict = {}
    for f in sorted(Path(d).glob("*.json")):
        r = json.loads(f.read_text())
        runs.setdefault((r["workload"], r["trace"]), {})[r["seed"]] = r["result"]
    return runs


def stats(xs: list[float]) -> tuple[float, float, float]:
    med = statistics.median(xs)
    if len(xs) < 2:
        return med, med, med
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3


def values(runs: dict, metric: str) -> dict[int, float]:
    return {s: r["metrics"][metric]["value"] for s, r in runs.items() if metric in r["metrics"]}


def verdict(base: dict[int, float], change: dict[int, float], bound: float, lower: bool) -> str:
    bm, bq1, bq3 = stats(list(base.values()))
    cm, _, _ = stats(list(change.values()))
    sign = 1.0 if lower else -1.0  # > 0 means worse
    worse = sign * (cm - bm) / abs(bm) if bm else 0.0
    spread = (bq3 - bq1) / abs(bm) if bm else 0.0
    beats = lambda c, b: sign * (c - b) < 0  # noqa: E731
    all_better = all(beats(c, b) for c in change.values() for b in base.values())
    if spread > bound and not all_better:
        return "unresolved"
    if worse > bound:
        return "worse"
    pairs = [(change[s], base[s]) for s in base if s in change]
    wins = sum(beats(c, b) for c, b in pairs)
    if pairs and wins >= 0.9 * len(pairs) and abs(cm - bm) > (bq3 - bq1):
        return "better"
    return "unchanged"


def fmt(x: float) -> str:
    return f"{x:.4g}"


def show(args) -> int:
    bench = load_bench()
    runs = load_set(Path(args.dir))
    for (w, trace), by_seed in sorted(runs.items()):
        specs = bench["layers"] if trace else bench["e2e"]
        fails = sum(r["failed"] for r in by_seed.values())
        tries = sum(r["attempted"] for r in by_seed.values())
        print(f"\n{w} ({'traced' if trace else 'untraced'}, {len(by_seed)} runs, "
              f"{fails}/{tries} ops failed, all correct: "
              f"{all(r['correct'] for r in by_seed.values())})")
        print(f"  {'metric':34} {'median':>11} {'q1':>11} {'q3':>11} {'spread':>7} {'bound':>6}")
        for name, spec in specs.items():
            xs = list(values(by_seed, name).values())
            if not any(xs):  # absent, or a layer this workload does not exercise
                continue
            m, q1, q3 = stats(xs)
            spread = (q3 - q1) / abs(m) if m else 0.0
            b = spec.get("bound")
            flag = " !" if b is not None and name != "setup_s" and spread > b / 3 else ""
            print(f"  {name:34} {fmt(m):>11} {fmt(q1):>11} {fmt(q3):>11} {spread:7.3f} "
                  f"{'' if b is None else b:>6}{flag}")
    overhead(runs)
    return 0


def overhead(runs: dict, label: str = "") -> None:
    for (w, trace), by_seed in sorted(runs.items()):
        plain = runs.get((w, 0))
        if not trace or not plain:
            continue
        t = statistics.median(values(by_seed, "trace.op_p50_s").values())
        u = statistics.median(values(plain, "op_p50_s").values())
        print(f"{label}{w}: tracing overhead {100 * (t / u - 1):+.1f}% "
              f"(traced op p50 {t:.4g} s over {len(by_seed)} runs, "
              f"untraced {u:.4g} s over {len(plain)} runs)")


def diff(args) -> int:
    bench = load_bench()
    base, change = load_set(Path(args.base)), load_set(Path(args.change))
    worse = 0
    for w in bench["workloads"]:
        b, c = base.get((w, 0)), change.get((w, 0))
        if not b or not c:
            continue
        print(f"\n{w}: end to end ({len(b)} base runs, {len(c)} change runs)")
        print(f"  {'metric':18} {'base med [q1,q3]':>30} {'change med [q1,q3]':>30} "
              f"{'delta':>8} {'bound':>6}  verdict")
        for name, spec in bench["e2e"].items():
            bv, cv = values(b, name), values(c, name)
            if not bv or not cv:
                continue
            (bm, b1, b3), (cm, c1, c3) = stats(list(bv.values())), stats(list(cv.values()))
            v = verdict(bv, cv, spec["bound"], spec["better"] == "lower")
            worse += v == "worse"
            print(f"  {name:18} {fmt(bm):>10} [{fmt(b1)},{fmt(b3)}]".ljust(52)
                  + f"{fmt(cm):>10} [{fmt(c1)},{fmt(c3)}]".ljust(32)
                  + f"{100 * (cm - bm) / bm if bm else 0:+7.1f}% {spec['bound']:>6}  {v}")
    for w in bench["workloads"]:
        b, c = base.get((w, 1)), change.get((w, 1))
        if not b or not c:
            continue
        print(f"\n{w}: per layer, traced ({len(b)} base runs, {len(c)} change runs)")
        for name in bench["layers"]:
            bv, cv = values(b, name), values(c, name)
            if not bv or not cv:
                continue
            bm, cm = statistics.median(bv.values()), statistics.median(cv.values())
            if bm == cm == 0:
                continue
            d = f"{100 * (cm - bm) / bm:+7.1f}%" if bm else "    new"
            print(f"  {name:40} {fmt(bm):>11} -> {fmt(cm):>11} {d}")
    overhead(base, "base ")
    overhead(change, "change ")
    return 1 if worse else 0


def main() -> int:
    ap = argparse.ArgumentParser(description="collect and compare benchmark result sets")
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("out")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--workloads", default="")
    c.add_argument("--trace", type=int, choices=(0, 1), default=0)
    s = sub.add_parser("show")
    s.add_argument("dir")
    d = sub.add_parser("diff")
    d.add_argument("base")
    d.add_argument("change")
    args = ap.parse_args()
    return {"collect": collect, "show": show, "diff": diff}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
