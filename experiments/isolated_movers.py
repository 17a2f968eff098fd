"""Isolated fresh-JVM re-measurement of in-suite timing movers (the
round-8 verification-record pattern, now a committed script).

For each query name passed on the command line (default: the carried
variance-watch items), a FRESH process/JVM with bench.py's exact
session config runs the query to the noop sink N reps and records the
cold first rep plus the steady state (min of the later reps). Run on
an IDLE box; in-suite bench numbers carry cross-query cache/GC
pressure that this isolates away.

Usage:  python experiments/isolated_movers.py [query ...]
Writes/merges experiments/isolated_r9.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

DEFAULT_QUERIES = ["part_kcore", "ann_recall_report"]
REPS = 4

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
from map_reduce_framework_spark.session import get_spark
spark = get_spark("isolated")
spark.sparkContext.setLogLevel("ERROR")
from map_reduce_framework_spark import registry
spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
fn = registry.REGISTRY[%(name)r].fn
ts = []
for rep in range(%(reps)d):
    t0 = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    ts.append(round(time.time() - t0, 3))
print("ISOLATED_JSON:" + json.dumps(ts))
"""


def measure(name: str, repo: str) -> dict:
    code = _CHILD % {"repo": repo, "name": name, "reps": REPS}
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=repo,
    )
    for line in out.stdout.splitlines():
        if line.startswith("ISOLATED_JSON:"):
            ts = json.loads(line[len("ISOLATED_JSON:") :])
            return {
                "reps": ts,
                "isolated_fresh_jvm_first_rep": ts[0],
                "isolated_fresh_jvm_steady": min(ts[1:]),
            }
    raise RuntimeError(f"{name}: no result\n{out.stdout}\n{out.stderr}")


def main() -> None:
    repo = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
    names = sys.argv[1:] or DEFAULT_QUERIES
    path = os.path.join(os.path.dirname(__file__), "isolated_r9.json")
    results = {}
    if os.path.exists(path):
        with open(path) as fh:
            results = json.load(fh)
    for name in names:
        results[name] = measure(name, repo)
        print(name, results[name])
        with open(path, "w") as fh:
            json.dump(results, fh, indent=1, sort_keys=True)
    print("wrote", path)


if __name__ == "__main__":
    main()
