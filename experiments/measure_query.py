#!/usr/bin/env python
"""Per-query measurement harness for the optimization rounds (guide §1).

For each named query: fresh-JVM timing (min of reps, noop sink — same
session config and methodology as bench.py) plus `.explain("formatted")`
saved to ``plans/<tag>/<name>_<suffix>.txt``.  Usage::

    python experiments/measure_query.py --tag r12 --suffix before q1 q2 ...
    python experiments/measure_query.py --tag r12 --suffix before --plan-only q1

Timings append to ``experiments/measure_<tag>.jsonl`` so before/after
numbers stay on disk next to the plans the judge reads.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SNIPPET = """
import sys, json, time
sys.path.insert(0, {repo!r})
from map_reduce_framework_spark.session import get_spark
spark = get_spark("measure", shuffle_partitions={cpus})
spark.sparkContext.setLogLevel("ERROR")
from map_reduce_framework_spark import registry
spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
from pyspark.sql.functions import pandas_udf
_warm = pandas_udf(lambda s: s, "long")
spark.range(10_000).repartition({cpus}).select(_warm("id")).write.format("noop").mode("overwrite").save()
name = {name!r}
df = registry.REGISTRY[name].fn(spark, {sf_dir!r})
plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
with open({plan_path!r}, "w") as fh:
    fh.write(plan)
best = -1.0
if not {plan_only!r}:
    for _ in range({reps}):
        t0 = time.perf_counter()
        registry.REGISTRY[name].fn(spark, {sf_dir!r}).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best < 0 else min(best, dt)
print("MEASURED", json.dumps({{"name": name, "sec": round(best, 3)}}))
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--tag", default="r12")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plan-only", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    plan_dir = os.path.join(REPO, "plans", args.tag)
    os.makedirs(plan_dir, exist_ok=True)
    log_path = os.path.join(REPO, "experiments", f"measure_{args.tag}.jsonl")

    for name in args.names:
        plan_path = os.path.join(plan_dir, f"{name}_{args.suffix}.txt")
        code = SNIPPET.format(
            repo=REPO, cpus=args.cpus, name=name, sf_dir=args.sf_dir,
            plan_path=plan_path, reps=args.reps,
            plan_only=args.plan_only or "",
        )
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True,
            timeout=900, cwd=REPO,
            env={**os.environ, "SPARK_GRAFT_CPUS": str(args.cpus)},
        )
        sec = None
        for line in proc.stdout.splitlines():
            if line.startswith("MEASURED "):
                sec = json.loads(line.split(" ", 1)[1])["sec"]
        if sec is None:
            print(f"{name}: FAILED\n{proc.stderr[-2000:]}", file=sys.stderr)
            continue
        rec = {
            "name": name, "suffix": args.suffix, "sec": sec,
            "reps": args.reps, "sf_dir": args.sf_dir, "cpus": args.cpus,
            "wall": round(time.time() - t0, 1),
        }
        with open(log_path, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        print(json.dumps(rec))


if __name__ == "__main__":
    main()
