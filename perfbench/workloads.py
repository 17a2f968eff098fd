"""The benchmark's workloads: each is a closed loop of calls into the
engine, one call at a time, over one generated input set. A call takes
``(spark, input_dir)`` and returns the DataFrame whose rows are its
result; the benchmark forces it with the noop sink when timing and
collects it when checking against the DuckDB oracle.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import TYPE_CHECKING, Callable

if TYPE_CHECKING:  # pyspark's import belongs to the timed set-up
    from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Call:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    #: DuckDB SQL for the result, given the generated input's path.
    oracle: Callable[[str], str]


@dataclass(frozen=True)
class Workload:
    name: str
    tables: list[str]
    calls: Callable[[], list[Call]]
    #: Passes timed after the cold one. Every pass is measured; the count
    #: is fixed, so that a run does the same work on any machine, and set
    #: so that the passes span about half a minute: a shorter span lets
    #: the shared host's speed of the moment move a run's CPU figure.
    timed_passes: int


def _registered(name: str) -> Call:
    from map_reduce_framework_spark import registry

    q = registry.REGISTRY[name]
    return Call(name, q.fn, lambda _base: q.oracle)


# -- the generic MapReduce runner and its text sink: the write path --------

_MR_WC_SQL = r"""
    SELECT word AS key, CAST(count(*) AS VARCHAR) AS value
    FROM (
        SELECT unnest(regexp_split_to_array(content, '[^\p{{L}}]+')) AS word
        FROM read_text('{base}/mr/*.txt')
    )
    WHERE word <> ''
    GROUP BY word
"""

#: Where the last ``mr_wc`` call committed its output, read by the
#: benchmark after each pass.
WRITE_STATS: dict = {}


def _mr_wc(spark: SparkSession, d: str) -> DataFrame:
    """The reference's word count through the generic runner: one map
    task per text file (``mapInPandas``), ``n_reduce`` hash partitions,
    per-key reduce (``applyInPandas``), then the reference's
    ``mr-out-*`` text sink with its atomic task commit. Returns the
    committed lines read back as (key, value)."""
    from pyspark.sql import functions as F

    from map_reduce_framework_spark.operators.compat import (
        MapReduceJob,
        wc_map,
        wc_reduce,
    )
    from map_reduce_framework_spark.sources.io import read_wholetext, write_mr_text

    n_reduce = int(os.environ["SPARK_GRAFT_CPUS"])
    out = os.path.join(d, "mr-out")
    result = MapReduceJob(wc_map, wc_reduce, n_reduce=n_reduce).run(
        read_wholetext(spark, os.path.join(d, "mr")),
        name_col="path",
        contents_col="text",
    )
    write_mr_text(result, "key", "value", out)
    WRITE_STATS.update(out_dir=out, in_dir=os.path.join(d, "mr"))
    kv = F.split(F.col("value"), " ")
    return spark.read.text(out).select(
        kv[0].alias("key"), kv[1].alias("value")
    )


WORKLOADS = {
    w.name: w
    for w in [
        # JVM-only scans, joins, shuffles and codegen over the star
        # schema: no Python workers, no fixpoint loop, no writes -- the
        # workload that Python-kernel, fixpoint and write-path changes
        # must leave alone.
        Workload(
            "relational",
            ["customer", "orders", "lineitem", "documents"],
            lambda: [
                _registered(n)
                for n in ["wc", "q1_pricing_summary", "q3_top_orders"]
            ],
            timed_passes=8,
        ),
        # Driver-bound fixpoint rounds (MinHash near-dup clusters through
        # connected components, most of its jobs launched inside the
        # call), Python-worker map and reduce through the generic runner,
        # and the reference's mr-out text sink.
        Workload(
            "pipeline",
            ["documents"],
            lambda: [
                _registered("dedup_clusters"),
                Call("mr_wc", _mr_wc, lambda base: _MR_WC_SQL.format(base=base)),
            ],
            timed_passes=3,
        ),
    ]
}
