"""Isolated per-query timing: min-of-N through the noop sink.

Usage:
    python tools/qtime.py name [name ...]

Env: SPARK_GRAFT_SF_DIR (default sf0.1), QTIME_RUNS (default 5).
Same methodology as bench.py (warm-up sweep, noop sink, perf_counter)
but for a handful of queries in a fresh process — the isolated
measurement BENCH_DRIFT.md's adjudication rule asks for. Next to the
times it prints the Spark jobs the last timed run submitted while
building the plan (``fn_jobs``: schema inference, eager persists and
audits inside ``fn()``) and while executing it (``exec_jobs``), so
counters and min-of-N come from one command.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from olist_data_warehouse_spark.plans.queries import REGISTRY  # noqa: E402
from olist_data_warehouse_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("QTIME_RUNS", "5"))
    spark = get_spark("qtime")
    # job ids are dense and also count jobs submitted from other threads
    # (staging pools), which a job group would miss
    next_job = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # warm
        ts = []
        for _ in range(runs):
            t0 = time.perf_counter()
            j0 = next_job()
            df = REGISTRY[name].fn(spark, sf_dir)
            j1 = next_job()
            df.write.format("noop").mode("overwrite").save()
            ts.append(round(time.perf_counter() - t0, 3))
            fn_jobs, exec_jobs = j1 - j0, next_job() - j1
        print(
            f"QTIME {name} min={min(ts)} fn_jobs={fn_jobs} "
            f"exec_jobs={exec_jobs} raw={ts}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
