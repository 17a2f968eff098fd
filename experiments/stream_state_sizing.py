#!/usr/bin/env python
"""Stream state-partition sizing experiment.

A Structured Streaming query's shuffle width fixes its state layout in
the checkpoint on first run -- it cannot be changed later, so it must be
sized to the stream's key cardinality and state volume, not inherited
from the batch shuffle width. Oversizing multiplies the per-micro-batch
state-store open/commit overhead (the stream-stream interval join keeps
4 state stores per partition per side).

This measures the bounded availableNow stream-stream interval join
(purchase x view within 1 hour, streaming/ops.py) at sf0.1 across state
partition widths, min of ``reps`` runs each, and verifies the emitted
row count is width-invariant. Writes experiments/stream_state_results.json.

Expected shape (recorded on this harness): 8 partitions ~3x faster than
32 at this state volume; on a real cluster the optimum shifts up with
key cardinality / peak state bytes per executor.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WIDTHS = [4, 8, 16, 32]
REPS = 2


def main() -> None:
    from map_reduce_framework_spark.session import get_spark
    from map_reduce_framework_spark.streaming import ops

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("stream-state-sizing")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10).count()  # session warmup

    results = []
    n_rows = None
    for width in WIDTHS:
        ops.STREAM_STATE_PARTITIONS = width
        best = None
        for _ in range(REPS):
            t0 = time.perf_counter()
            df = ops.q_purchase_view_join_stream(spark, sf_dir)
            n = df.count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            if n_rows is None:
                n_rows = n
            assert n == n_rows, f"row count changed at width {width}"
        results.append({"state_partitions": width, "sec": round(best, 3)})

    out = {
        "experiment": "stream_state_sizing",
        "query": "purchase_view_join_stream",
        "sf_dir": sf_dir,
        "reps": REPS,
        "timing": "min_of_reps",
        "rows": n_rows,
        "results": results,
    }
    path = os.path.join(os.path.dirname(__file__), "stream_state_results.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
