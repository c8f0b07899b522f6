#!/usr/bin/env python
"""spark-submit entry point for the token sketch build (north_star: "runs
via spark-submit --py-files at N and 4N executors").

Usage (see tools/run_submit.sh):
    spark-submit --master local[2] --py-files tdigest_spark.zip \
        tools/submit_job.py <sequence_table_dir>

Prints one JSON line: {"tokens": N, "seconds": s, "tokens_per_sec": r,
"master": "...", "quantiles": {...}}.
"""

from __future__ import annotations

import json
import sys
import time


def main() -> None:
    from pyspark.sql import SparkSession

    # not get_spark: spark-submit has started the JVM already, so the
    # PYTHONPATH get_spark exports reaches no worker, and a --py-files
    # package is importable only after a task's setup_spark_files.
    # run_submit.sh puts the workers' start-up hook (tdigest_spark/
    # _worker_site, which keeps Spark's zips off their sys.path) on
    # spark.executorEnv.PYTHONPATH instead.
    spark = SparkSession.builder.appName("sketch-submit").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from tdigest_spark.operators.aggregate import HLL_INTS, TDIGEST
    from tdigest_spark.operators.scan import build_sketches_scan

    path = sys.argv[1]
    t0 = time.perf_counter()
    out = build_sketches_scan(
        spark,
        path,
        {
            "td_tokens": ("tokens", TDIGEST(0.01)),
            "td_ntok": ("n_tok", TDIGEST(0.01)),
            "hll_tokens": ("tokens", HLL_INTS(14)),
        },
        target_rows_per_split=8192,
    )
    dt = time.perf_counter() - t0
    d = out["td_tokens"]
    print(
        json.dumps(
            {
                "tokens": int(d.n),
                "seconds": round(dt, 3),
                "tokens_per_sec": round(d.n / dt),
                "master": spark.sparkContext.master,
                "quantiles": {
                    "ntok_p50": out["td_ntok"].quantile(0.5),
                    "ntok_p99": out["td_ntok"].quantile(0.99),
                    "tokens_p50": d.quantile(0.5),
                },
                "distinct_tokens_est": round(out["hll_tokens"].estimate()),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
