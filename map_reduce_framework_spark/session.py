"""SparkSession factory.

The reference's control plane (coordinator/worker heartbeats, timeout
re-execution, speculative backups -- go-map-reduce-framework/mr/coordinator.go,
mr/coordinator_tier.go) maps 1:1 onto Spark scheduler configuration, so the
"engine bootstrap" is just a well-configured session:

* Tier-1/2 timeout re-execution  -> spark.task.maxFailures (default 4)
* Tier-2 speculative execution   -> spark.speculation(.quantile=0.8)
  (reference threshold 0.8, go-map-reduce-framework/config/config.go:13-19)
* NReduce hash partitioning      -> spark.sql.shuffle.partitions
* stragglers / skew              -> AQE (runtime coalesce + skew-join split)
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "map-reduce-framework-spark",
    *,
    speculation: bool = False,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``speculation=True`` reproduces the reference's Tier-2 behavior
    (backup tasks at the 0.8 completion quantile).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Reliable df.checkpoint() files are NOT deleted by default, so
        # iterative operators routing rounds through stage_checkpoint
        # (CC, k-core, PageRank) would leak one full relation copy per
        # round into the checkpoint dir on clusters. Let the
        # ContextCleaner reap checkpoints whose RDDs are out of scope.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    if speculation:
        # Reference Tier 2: SpeculativeThreshold=0.8 (config/config.go:13-19).
        builder = (
            builder.config("spark.speculation", "true")
            .config("spark.speculation.quantile", "0.8")
            .config("spark.speculation.multiplier", "1.5")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stage_checkpoint(df, *, eager: bool = False):
    """Lineage-truncating stage boundary for iterative / multi-stage
    operators (k-core peeling rounds, PageRank's edge relation, the
    training-manifest flag relations) that is DURABLE when the session
    is configured for it:

    * checkpoint dir set (``SparkContext.setCheckpointDir`` -- on a
      real cluster, an HDFS/S3 path): reliable ``df.checkpoint()``,
      whose blocks live in replicated storage, so an executor loss
      mid-iteration recomputes nothing and loses nothing;
    * no checkpoint dir (local dev / the driver's vanilla session):
      ``df.localCheckpoint()``, whose blocks live unreplicated on
      executors -- fine single-JVM, where "executor loss" is process
      death anyway.

    Both truncate the logical plan identically (the reason these ops
    need a boundary at all: Catalyst re-optimizes an iterative self-
    join's exponentially nested lineage every round -- measured
    1.5 s -> 40 s/round by round 5 of k-core without truncation).
    ``eager=False`` defers materialization to the first action that
    touches the result, avoiding one wasted job when the caller's next
    step is a count() anyway.

    Cleanup: Spark leaves reliable checkpoint files on disk by default
    (``spark.cleaner.referenceTracking.cleanCheckpoints`` is false), so
    every to-fixpoint loop would leak one relation copy per round into
    the checkpoint dir. ``get_spark`` enables that cleaner; sessions
    built elsewhere must either set it too or sweep
    ``<checkpointDir>/<uuid>/rdd-*`` after the run (the conf is
    SparkContext-scoped and cannot be set at runtime, which is why
    ``normalize_runtime_conf`` cannot pin it)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def materialize_parallel(
    build_fns: Iterable[Callable[[], DataFrame]],
) -> list[DataFrame]:
    """Build and eagerly ``stage_checkpoint`` independent relations from
    a 4-thread driver pool; results come back in ``build_fns`` order.

    Each relation is a small independent job that leaves most of the
    cluster idle, and actions are only sequential because driver code
    calls them sequentially, so overlapping them shortens the query
    (``ann_recall_report``: 12.9 -> 8.4 s). Every relation must be
    deterministic, so scheduling order cannot change a row."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        return list(
            pool.map(lambda build: stage_checkpoint(build(), eager=True), build_fns)
        )


def shuffle_partitions(df_or_spark: DataFrame | SparkSession) -> int:
    """The session's shuffle parallelism: the partition count for
    explicit repartitions (AQE coalesces any excess). Spark always
    answers this key (200 when nobody set it), so there is no fallback."""
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def normalize_runtime_conf(spark: SparkSession) -> SparkSession:
    """Pin runtime confs our queries rely on, for sessions we didn't build
    (e.g. the verification driver's). Only mutable-at-runtime confs here.

    * UTC session timezone: keeps timestamp rendering engine-independent.
    * NTZ parquet inference: the testdata timestamps are timezone-naive;
      reading them as TIMESTAMP_NTZ matches DuckDB's interpretation exactly.
    """
    for key, value in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        # InferFiltersFromGenerate turns every explode(f(x)) into an extra
        # `size(f(x)) > 0` filter that predicate-pushdown then re-inlines
        # UNDER our repartition exchanges -- recomputing the (expensive)
        # array expression twice per row in the narrow pre-shuffle stage.
        # Generate already skips empty arrays; the inferred filter only
        # ever helps when the generator input is a stored column.
        # (3.4x on shingle explodes: 7.2s -> 2.1s at sf0.1.)
        (
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        ),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # conf not recognized / not runtime-mutable in this build
    return spark
