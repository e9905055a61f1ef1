#!/usr/bin/env python
"""Optimization measurement harness: plan captures and isolated timings.

Usage:
  python tools/measure.py plan  <suffix> q1 q2 ...   # capture explain("formatted") → plans/captures/<q>_<suffix>.txt
  python tools/measure.py time  <repeats> q1 q2 ...  # isolated noop-sink timings (min of N), labelled jobs,
                                                     # plus each repeat's build seconds and build jobs
  python tools/measure.py both  <suffix> q1 q2 ...   # plan + 2-repeat timing

Timings use the same methodology as bench.py (noop sink, warm session,
release_persisted between runs) at $SPARK_GRAFT_SF_DIR (default sf0.1).
The build phase is the `q_*` call until it returns its DataFrame; its
jobs (eager counts, collects, checkpoints, AQE stages they trigger) are
counted under a job group of their own.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xeloader_spark import queries as q
from xeloader_spark.operators.dedup import release_persisted
from xeloader_spark.plans.inspect import count_exchanges, physical_plan
from xeloader_spark.session import get_spark
from xeloader_spark.testing import jobs_in_group

# where `plan` writes its captures
PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "captures"
)


def main() -> None:
    mode = sys.argv[1]
    if mode in ("plan", "both"):
        suffix = sys.argv[2]
        names = sys.argv[3:]
        repeats = 2
    else:
        suffix = None
        repeats = int(sys.argv[2])
        names = sys.argv[3:]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="measure")
    spark.sparkContext.setLogLevel("ERROR")
    registry = q.all_queries()

    # warmup (same as bench.py: JVM + python workers)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    par = spark.sparkContext.defaultParallelism
    spark.range(par * 1000).repartition(par).mapInPandas(
        lambda b: b, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    os.makedirs(PLANS_DIR, exist_ok=True)
    out: dict[str, dict] = {}
    for name in names:
        fn = registry[name]
        row: dict = {}
        if mode in ("plan", "both"):
            df = fn(spark, sf_dir)
            plan = physical_plan(df)
            row["exchanges"] = count_exchanges(df)
            path = os.path.join(PLANS_DIR, f"{name}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            release_persisted()
        if mode in ("time", "both"):
            ts, builds = [], []
            for i in range(repeats):
                t0 = time.perf_counter()
                df, build_jobs = jobs_in_group(
                    spark, f"measure build: {name} #{i}", lambda: fn(spark, sf_dir)
                )
                builds.append({"s": round(time.perf_counter() - t0, 3), "jobs": build_jobs})
                spark.sparkContext.setJobDescription(f"measure: {name}")
                df.write.format("noop").mode("overwrite").save()
                ts.append(round(time.perf_counter() - t0, 3))
                release_persisted()
                spark.sparkContext.setJobDescription(None)
            row["times"] = ts
            row["min"] = min(ts)
            row["build"] = builds
        out[name] = row
        print(f"[measure] {name}: {row}", file=sys.stderr, flush=True)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
