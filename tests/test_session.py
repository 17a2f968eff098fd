"""Session helpers shared by the operators."""

from __future__ import annotations

from map_reduce_framework_spark.session import (
    materialize_parallel,
    shuffle_partitions,
)

KEY = "spark.sql.shuffle.partitions"


def test_shuffle_partitions_reads_session_value(spark):
    old = spark.conf.get(KEY)
    try:
        spark.conf.set(KEY, "7")
        assert shuffle_partitions(spark) == 7
        assert shuffle_partitions(spark.range(1)) == 7
        # an unset key still answers Spark's default, so no fallback is needed
        spark.conf.unset(KEY)
        assert shuffle_partitions(spark) == 200
    finally:
        spark.conf.set(KEY, old)


def test_materialize_parallel_keeps_input_order(spark):
    sizes = [3, 1, 4, 1, 5, 9]
    out = materialize_parallel([lambda n=n: spark.range(n) for n in sizes])
    assert [df.count() for df in out] == sizes
    for df in out:
        assert "LogicalRDD" in df._jdf.queryExecution().logical().toString()
