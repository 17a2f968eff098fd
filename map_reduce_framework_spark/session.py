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

The reference's workers pay their setup once and then loop for tasks
(mr/worker.go). Spark's Python workers are reused too, but each task
calls ``importlib.invalidate_caches()``, which on Python 3.11 re-reads
the central directory of every zip and jar left on the worker's
``sys.path``. ``get_spark`` therefore starts the workers through
``_worker_daemon``: it drops Spark's ``pyspark.zip``/py4j zips (so
pyspark is imported from its installed directory) and the Python-free
spark-core jar before running ``pyspark.daemon.manager()`` unchanged.
It leaves ``sys.path`` alone when the installed pyspark's version is
not the zip's or py4j would not import without the zips.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on: the
    local master's cores and the shuffle partitions of ``get_spark``."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "map-reduce-framework-spark",
    *,
    speculation: bool = False,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``speculation=True`` reproduces the reference's Tier-2 behavior
    (backup tasks at the 0.8 completion quantile). The driver heap is
    ``$SPARK_DRIVER_MEMORY``, else half of physical RAM capped at 8g, so
    the default fits the machine. Every session of the engine (tests,
    ``bench.py`` and its isolated reruns, ``experiments/measure_query.py``,
    the CLI) comes from here, so they all run the same engine.

    Python workers start through ``spark.python.daemon.module =
    map_reduce_framework_spark._worker_daemon``, so they import the
    installed pyspark instead of Spark's ``pyspark.zip`` and keep no
    archive on ``sys.path``: each task's ``invalidate_caches()`` then
    costs microseconds instead of about 0.1 CPU-s (256 one-row
    ``mapInPandas`` tasks on ``local[4]``: 9.0 s -> 3.3 s). The daemon
    leaves ``sys.path`` as Spark set it when the installed pyspark's
    version differs from the zip's, or py4j is not installed. Like the
    engine's UDF modules, the daemon module is imported from the
    worker's working directory or ``PYTHONPATH``.
    """
    cpus = default_cpus()
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    driver_memory = os.environ.get(
        "SPARK_DRIVER_MEMORY", f"{min(8192, ram_mb // 2)}m"
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory)
        .config(
            "spark.python.daemon.module",
            "map_reduce_framework_spark._worker_daemon",
        )
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
    step is a count() anyway. Under AQE the lazy call is not free: it
    plans the relation adaptively, which runs every shuffle map stage
    below it at call time (one SQL execution and one job for a
    ``groupBy``); the first action then runs only the final stage.

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


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    done: Callable[[DataFrame], bool],
) -> DataFrame:
    """Set ``state = stage_checkpoint(step(state))`` until ``done(state)``.

    ``done`` runs exactly one action, which also materializes the lazy
    checkpoint, so a round costs two SQL executions. It may be true only
    when ``step(state)`` would give back ``state``: the loop then ends on
    the round that reaches the fixpoint, not one round later."""
    while True:
        state = stage_checkpoint(step(state))
        if done(state):
            return state


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
        except AnalysisException:
            pass  # CANNOT_MODIFY_CONFIG: not runtime-mutable in this session
    return spark
