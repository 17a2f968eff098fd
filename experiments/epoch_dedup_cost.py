"""Measure per-wave cost of the epochal ingest with cross-epoch dedup
across ~30 waves, WITH vs WITHOUT size-tiered index compaction
(VERDICT r10 ask #1).

Drops W equal-size waves of documents into a growing source directory
and runs stream_ingest_epoch after each drop, twice: once with the
production EPOCH_INDEX_FANOUT (tiered merges bound the probe's read
set to ~fanout x log_fanout(epochs) parquet dirs) and once with
compaction disabled (fanout = 10^9: one index dir pair accretes per
epoch forever -- the classic streaming small-files failure mode).
Recorded per wave: wall seconds and the NUMBER OF INDEX DIRS the
probe reads (the listing/footer-overhead driver at thousands of
epochs; at 30 waves the wall difference is mostly noise, the dir
count is the scale signal).

Usage: python experiments/epoch_dedup_cost.py
Writes experiments/epoch_dedup_cost.json.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WAVES = 30


def _index_dirs_on_disk(work: str) -> int:
    """Index dirs present on DISK (not just probed): committed
    generations plus per-epoch index dirs that still exist -- the
    storage/directory-count signal the r12 retention horizon bounds
    (probe cost was already bounded by compaction; this column shows
    retention bounding what disk retains)."""
    import map_reduce_framework_spark.streaming.ops as ops

    n = 0
    gens_root = os.path.join(work, "dedup-index")
    if os.path.isdir(gens_root):
        n += sum(
            1
            for name in os.listdir(gens_root)
            if name.startswith("gen-") and not name.endswith(".staging")
        )
    for d in ops._committed_epoch_dirs(work):
        if os.path.isdir(os.path.join(d, "index", "bands")):
            n += 1
    return n


def run_mode(spark, docs, fanout: int, retain: int | None = None) -> list[dict]:
    import map_reduce_framework_spark.streaming.ops as ops

    scratch = tempfile.mkdtemp(prefix=f"epoch-cost-f{fanout}-r{retain}-")
    source = os.path.join(scratch, "source")
    work = os.path.join(scratch, "work")
    old = ops.EPOCH_INDEX_FANOUT
    waves = []
    try:
        ops.EPOCH_INDEX_FANOUT = fanout
        for wv in range(WAVES):
            docs.filter(f"doc_id % {WAVES} = {wv}").coalesce(1).write.mode(
                "append"
            ).parquet(source)
            t0 = time.perf_counter()
            d = ops.stream_ingest_epoch(
                spark, source, work, retain_epochs=retain
            )
            wall = round(time.perf_counter() - t0, 3)
            n_in = (
                spark.read.parquet(os.path.join(d, "input")).count()
                if d
                else 0
            )
            n_units = len(
                ops._live_index_units(work, ops._committed_epoch_dirs(work))
            )
            waves.append(
                {
                    "wave": wv,
                    "wall_sec": wall,
                    "n_docs_committed": n_in,
                    "index_dirs_live": n_units,
                    "index_dirs_on_disk": _index_dirs_on_disk(work),
                }
            )
            print(fanout, retain, waves[-1], flush=True)
    finally:
        ops.EPOCH_INDEX_FANOUT = old
    return waves


def main() -> None:
    from map_reduce_framework_spark.session import get_spark

    spark = get_spark("epoch-dedup-cost", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    n = docs.count()

    import map_reduce_framework_spark.streaming.ops as ops

    # warmup (Arrow workers + streaming machinery) on a throwaway dir
    warm = tempfile.mkdtemp(prefix="epoch-warm-")
    docs.limit(50).coalesce(1).write.mode("append").parquet(
        os.path.join(warm, "src")
    )
    ops.stream_ingest_epoch(
        spark, os.path.join(warm, "src"), os.path.join(warm, "w")
    )

    compacted = run_mode(spark, docs, ops.EPOCH_INDEX_FANOUT)
    uncompacted = run_mode(spark, docs, 10**9)
    # r12 retention horizon: same fanout, per-epoch index dirs GC'd
    # once generation-covered and older than the 8 newest epochs --
    # the dirs-ON-DISK column is the one this mode bounds
    retained = run_mode(spark, docs, ops.EPOCH_INDEX_FANOUT, retain=8)

    def tail_mean(waves, k=5):
        return round(sum(w["wall_sec"] for w in waves[-k:]) / k, 3)

    out = {
        "sf": 0.1,
        "total_docs": n,
        "n_waves": WAVES,
        "fanout": ops.EPOCH_INDEX_FANOUT,
        "retain_epochs": 8,
        "compacted": compacted,
        "uncompacted": uncompacted,
        "compacted_retain8": retained,
        "compacted_last_over_first": round(
            compacted[-1]["wall_sec"] / compacted[0]["wall_sec"], 2
        ),
        "compacted_tail_mean_sec": tail_mean(compacted),
        "uncompacted_tail_mean_sec": tail_mean(uncompacted),
        "retain8_tail_mean_sec": tail_mean(retained),
        "compacted_final_index_dirs": compacted[-1]["index_dirs_live"],
        "uncompacted_final_index_dirs": uncompacted[-1]["index_dirs_live"],
        "compacted_final_dirs_on_disk": compacted[-1]["index_dirs_on_disk"],
        "retain8_final_dirs_on_disk": retained[-1]["index_dirs_on_disk"],
    }
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "epoch_dedup_cost.json"
    )
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print("wrote", path)


if __name__ == "__main__":
    main()
