"""Optimization-round profiler: time individual registry queries with
bench.py's own timing protocol (its ``run_once`` rep — noop sink, caches
released between reps — and its ``_measure`` median and trimmed spread,
with extra reps while the spread exceeds the median) and dump their
``explain("formatted")`` plans.

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
import functools
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import _measure, release_caches, run_once
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
            release_caches(spark)
        spark.sparkContext.setJobDescription(f"profile:{name}")
        timings[name], spreads[name] = _measure(
            functools.partial(run_once, spark, fn, args.sf_dir), args.reps
        )
    print(json.dumps({"queries": timings, "spread": spreads, "reps": args.reps,
                      "sf_dir": args.sf_dir}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
