"""Measure the Python worker's fixed cost per task in isolation.

Runs a stage of 256 identity ``mapInPandas`` tasks over one row each on a
``get_spark`` session: one warm-up rep, then 5 timed reps. The UDF does no
work, so the stage wall is the per-task cost of the Python worker path.
A probe task then reports, from inside a worker, how many
``zipimporter`` objects sit in ``sys.path_importer_cache``, the CPU of one
``importlib.invalidate_caches()`` call (Spark makes that call once per task
in ``pyspark/worker_util.py:setup_spark_files``) and whether pyspark
was imported from a zip.

Usage:
    python experiments/worker_fixed_cost.py --label change
    python experiments/worker_fixed_cost.py --label parent --engine <checkout>

``--engine`` is the checkout whose ``map_reduce_framework_spark`` is
measured (default: this one); the script runs from that directory, so the
workers import the same engine. Each run stores its record under
``--label`` in experiments/worker_fixed_cost.json, keeping the other
labels.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

TASKS = 256
REPS = 5
HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "worker_fixed_cost.json")


def identity(batches):
    yield from batches


def probe(batches):
    import importlib
    import os
    import sys
    import time
    import zipimport

    import pandas as pd
    import pyspark

    for _ in batches:
        pass
    t0 = time.process_time()
    importlib.invalidate_caches()
    cpu = time.process_time() - t0
    yield pd.DataFrame(
        {
            "zipimporters": [
                sum(
                    isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values()
                )
            ],
            "invalidate_cpu_s": [cpu],
            "pyspark_from_zip": [".zip" + os.sep in pyspark.__file__],
        }
    )


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--label", required=True, help="key of this run in the JSON")
    p.add_argument("--engine", default=os.path.dirname(os.path.dirname(OUT)))
    p.add_argument("--cpus", type=int, default=os.cpu_count())
    args = p.parse_args()

    engine = os.path.abspath(args.engine)
    os.chdir(engine)
    sys.path.insert(0, engine)
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    from map_reduce_framework_spark.session import get_spark

    spark = get_spark("worker-fixed-cost")
    spark.sparkContext.setLogLevel("ERROR")
    stage = spark.range(TASKS, numPartitions=TASKS).mapInPandas(identity, "id long")
    walls = []
    for rep in range(REPS + 1):
        t0 = time.perf_counter()
        stage.write.format("noop").mode("overwrite").save()
        if rep:  # rep 0 starts the daemon and forks the workers
            walls.append(round(time.perf_counter() - t0, 3))
    rows = (
        spark.range(args.cpus, numPartitions=args.cpus)
        .mapInPandas(
            probe, "zipimporters int, invalidate_cpu_s double, pyspark_from_zip boolean"
        )
        .collect()
    )
    spark.stop()

    record = {
        "master": f"local[{args.cpus}]",
        "tasks": TASKS,
        "wall_s": walls,
        "median_wall_s": statistics.median(walls),
        "worker_zipimporters": sorted({r.zipimporters for r in rows}),
        "invalidate_caches_cpu_s": statistics.median(
            r.invalidate_cpu_s for r in rows
        ),
        "pyspark_from_zip": sorted({r.pyspark_from_zip for r in rows}),
    }
    print(json.dumps(record, indent=1))
    results = {}
    if os.path.exists(OUT):
        with open(OUT) as f:
            results = json.load(f)
    results[args.label] = record
    with open(OUT, "w") as f:
        json.dump(results, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
