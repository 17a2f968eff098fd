"""Engine metrics surface (D8 parity).

The reference keeps a global metrics singleton (coordinator CPU, packet
counts, task durations, gossip counters -- utils/metrics.go:8-73) populated
by hand. Spark already measures all of this per task/stage/job; this module
exposes the engine-level view the reference's struct covered:

* ``snapshot(spark)``   -- point-in-time engine/cluster state as a small
                           DataFrame (the "metrics record").
* ``time_query(df)``    -- wall-clock + row count for one query, the unit
                           bench.py records per round (task-duration row).

Gossip counters live with the gossip simulator (experiments/
gossip_latency.py); failure-detection latency is measured there too.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession


def snapshot(spark: SparkSession) -> DataFrame:
    """Point-in-time metrics as DataFrame[metric, value] (strings, like the
    reference's formatted report)."""
    sc = spark.sparkContext
    rows: list[tuple[str, str]] = [
        ("app_id", str(sc.applicationId)),
        ("spark_version", str(spark.version)),
        ("master", str(sc.master)),
        ("default_parallelism", str(sc.defaultParallelism)),
        (
            "shuffle_partitions",
            str(spark.conf.get("spark.sql.shuffle.partitions", "")),
        ),
        ("aqe_enabled", str(spark.conf.get("spark.sql.adaptive.enabled", ""))),
    ]
    tracker = sc.statusTracker()
    rows.append(("active_jobs", str(len(tracker.getActiveJobsIds()))))
    rows.append(("active_stages", str(len(tracker.getActiveStageIds()))))
    execs = sc._jsc.sc().statusTracker().getExecutorInfos()
    rows.append(("executors", str(len(execs))))
    return spark.createDataFrame(rows, "metric string, value string")


def time_query(df: DataFrame) -> dict[str, float]:
    """Fully materialize ``df`` through the noop sink (no driver collect)
    and report wall seconds + output rows -- the makespan/task-duration
    unit the reference's benchmark harness records.

    The noop write evaluates every output column; a bare ``count()``
    would let Catalyst prune unevaluated projections, so projection-only
    queries (scalar suites, fingerprints) would time as near-zero. The
    row count is a cheap second action -- its plan reuses the shuffle
    files/exchange from the write where possible, and the timed window
    covers only the write."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    return {"rows": float(df.count()), "wall_s": round(wall, 4)}
