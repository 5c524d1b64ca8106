"""Optimization-round profiler: time individual registry queries with
the bench's exact methodology (noop sink, median of reps, cache clearing
between reps) and dump their ``explain("formatted")`` plans.

Usage:
    python tools/profile_queries.py --round rNN [--reps N] [--tag before|after]
        [--plans] [--sf-dir DIR] query [query ...]

Prints one JSON line: {"queries": {name: median_sec}, "spread": {...},
"reps": N, "sf_dir": ...}. With --plans, writes
plans/<round>/<query>_<tag>.txt for each query.

This is a measurement tool only — the graded bench contract lives in
bench.py and is unchanged.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from lovdata_pipeline_spark.queries import QUERIES
from lovdata_pipeline_spark.session import get_spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--round", required=True, help="round tag, e.g. r15: plans go to plans/<round>/")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--plans", action="store_true")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    plans_dir = os.path.join(ROOT, "plans", args.round)
    spark = get_spark(f"profile_{args.round}")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup

    from lovdata_pipeline_spark.operators.packing import release_offsets_caches
    from lovdata_pipeline_spark.operators.textstats import release_textstats_caches

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in args.names:
        fn = QUERIES[name]
        if args.plans:
            os.makedirs(plans_dir, exist_ok=True)
            df = fn(spark, args.sf_dir)
            df.collect()  # run it so AdaptiveSparkPlan shows the FINAL plan
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            release_offsets_caches()
            release_textstats_caches()
            spark.catalog.clearCache()
        samples = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.time()
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
            release_offsets_caches()
            release_textstats_caches()
            spark.catalog.clearCache()
        s = sorted(samples)
        timings[name] = round(s[len(s) // 2], 3)
        spreads[name] = round(s[-1] - s[0], 3)
    print(json.dumps({"queries": timings, "spread": spreads, "reps": args.reps,
                      "sf_dir": args.sf_dir}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
