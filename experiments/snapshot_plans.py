#!/usr/bin/env python
"""Snapshot `.explain("formatted")` for many queries in ONE JVM.

    python experiments/snapshot_plans.py --tag r12 --suffix before name...

Plans land in ``plans/<tag>/<name>_<suffix>.txt`` (same files
measure_query.py writes; this is the fast bulk path when only the plan,
not the timing, is needed).
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--tag", default="r12")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)  # get_spark's master
    from map_reduce_framework_spark.session import get_spark

    spark = get_spark("snapshot-plans", shuffle_partitions=int(args.cpus))
    spark.sparkContext.setLogLevel("ERROR")
    from map_reduce_framework_spark import registry

    plan_dir = os.path.join(REPO, "plans", args.tag)
    os.makedirs(plan_dir, exist_ok=True)
    for name in args.names:
        try:
            df = registry.REGISTRY[name].fn(spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:
            print(f"{name}: FAILED {exc!r}", file=sys.stderr)
            continue
        path = os.path.join(plan_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"{name}: {path}")


if __name__ == "__main__":
    main()
