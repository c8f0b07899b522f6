#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload token_build --seed 1 --seconds 10 --trace 0

Starts one Spark session at ``local[<cores>]`` in this process, warms it up,
then runs the workload as a closed loop with one caller for ``--seconds``
(whole passes for ``query_suite``), checking every operation's output. The
last stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` - the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. See perfbench/README.md.
"""

import time

T_START = time.perf_counter()  # process start, before the heavy imports

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
DRIVER_MEM = "3g"  # the whole local-mode engine lives in this heap


def prepare_env() -> None:
    """Session sizing and scratch locations, all inside the checkout; must
    run before the JVM starts, which inherits this environment."""
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["TDIGEST_SPARK_CACHE"] = str(WORK / "cache")
    # Spark's Python workers import tdigest_spark from the checkout, not
    # from wherever this script was launched
    parts = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(parts)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    sys.path[:0] = [str(ROOT), str(ROOT / "tools"), str(HERE)]


def stop_spark(spark) -> None:
    """Stop the session and the JVM py4j started, and wait for both."""
    from pyspark import SparkContext

    from probes import wait_descendants_gone

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    if not wait_descendants_gone(60):
        print("warning: child processes still running after shutdown", file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "tdigest_spark" / "__init__.py").is_file():
        print(f"error: no tdigest_spark package under {ROOT}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    prepare_env()

    import numpy as np

    from probes import RssSampler, StageMetrics, Tracer, cpu_steal_ticks, median, tree_cpu
    from workloads import WORKLOADS, Ctx, OpResult

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(spark=None, tracer=tracer, work=WORK, seed=args.seed, cores=cores)
    wl = WORKLOADS[args.workload](ctx)

    t = time.perf_counter()
    wl.prepare()
    gen_s = time.perf_counter() - t

    from tdigest_spark.sources.tables import get_spark

    spark = get_spark(master=f"local[{cores}]", app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    try:
        if tracer.enabled:
            wl.install_tracing()
        stages = StageMetrics(spark) if tracer.enabled else None
        tracer.op = "warm"
        wl.warm()
        setup_s = time.perf_counter() - T_START - gen_s

        per_pass = getattr(wl, "ops_per_pass", 1)
        walls: list[float] = []
        results: list[OpResult] = []
        ops: list[str] = []
        stage_rows: list[dict] = []
        rss = RssSampler().start()
        cpu0 = tree_cpu()
        steal0 = cpu_steal_ticks()
        t_phase = time.perf_counter()
        i = 0
        while i == 0 or i % per_pass or time.perf_counter() - t_phase < args.seconds:
            op = f"op-{i}"
            tracer.op = op
            if stages is not None:
                stages.tag(op)
            t0 = time.perf_counter()
            try:
                out = wl.op(i)
            except Exception as e:  # an operation that fails counts, the run goes on
                walls.append(time.perf_counter() - t0)
                traceback.print_exc(file=sys.stderr)
                results.append(OpResult(ok=False, why=f"{type(e).__name__}: {e}"))
            else:
                walls.append(time.perf_counter() - t0)
                results.append(wl.check(out))
            if stages is not None:
                stage_rows.append(stages.collect(op))
            ops.append(op)
            i += 1
        cpu1 = tree_cpu()
        steal1 = cpu_steal_ticks()
        peak_rss_mb = rss.stop()
        tracer.op = "finish"

        final_ok, acc, final_why = wl.finish()
        failed = sum(not r.ok for r in results)
        for r in results:
            if not r.ok:
                print(f"check failed: {r.why}", file=sys.stderr)
        if not final_ok:
            print(f"final check failed: {final_why}", file=sys.stderr)

        n = len(walls)
        busy = sum(walls)
        cpu = {k: (cpu1[k] - cpu0[k]) / n for k in cpu0}
        if tracer.enabled:
            # a layer this workload does not exercise reads 0
            metrics = {m["name"]: 0.0 for m in spec["per_layer"]}
            metrics.update(wl.layers(ops))
            for k in stage_rows[0]:
                metrics[k] = median(row[k] for row in stage_rows)
            metrics.update({f"cpu.{k}_s": v for k, v in cpu.items()})
            metrics["trace.op_p50_s"] = median(walls)
            for k in ("tdigest_cdf_err", "kll_rank_err"):
                metrics[f"accuracy.{k}"] = acc.get(k, 0.0)
            tracer.dump(WORK / "traces" / f"{args.workload}-seed{args.seed}.jsonl")
        else:
            metrics = {
                "setup_s": setup_s,
                "op_p50_s": median(walls),
                "op_tail_s": float(np.percentile(walls, 90)),
                "ops_per_s": n / busy,
                "tokens_per_s": sum(r.tokens for r in results) / busy,
                "cpu_s_per_op": sum(cpu.values()),
                "peak_rss_mb": peak_rss_mb,
                # the other two accuracy figures move with the seed's data
                # by more than any usable bound; they are per-layer metrics
                "hll_rel_err": acc.get("hll_rel_err", 0.0),
            }
    finally:
        stop_spark(spark)

    print(
        f"# {args.workload} seed={args.seed} cores={cores} ops={n} failed={failed} "
        f"input_s={gen_s:.2f} op_tail_s=p90 of {n} ops "
        f"cpu_steal={100 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1):.1f}%"
    )
    print("# op wall times (s): " + " ".join(f"{w:.3f}" for w in walls))
    declared = spec["per_layer"] if tracer.enabled else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    print(json.dumps({
        "correct": failed == 0 and final_ok,
        "attempted": n,
        "failed": failed,
        "metrics": {
            k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
