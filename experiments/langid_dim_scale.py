"""Measure the curation langid stage-parquet footprint (VERDICT r9
ask #7).

The composed curation run materializes the langid stage as the full
scores relation. Write langid_scores to parquet at sf0.01 and sf0.1 and
record bytes/doc -- confirming the stage parquet is doc_id-sized (5
scalar columns), never feature-sized.

The vector trainer's cost against DIM is measured by
experiments/langid_union_scale.py (part 1). The "wide" rows in
experiments/langid_dim_scale.json were measured by this script's earlier
first part on the dense DIM+1 trainer, which the sparse trainer replaced.

Usage: python experiments/langid_dim_scale.py
Writes experiments/langid_dim_scale.json; SCALE.md quotes it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from map_reduce_framework_spark.session import get_spark

    spark = get_spark("langid-dim-scale", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    from map_reduce_framework_spark.operators import langid

    sf01 = "/root/testdata/sf0.01"
    results: dict = {"stage_parquet": []}
    for sf_dir, sf in ((sf01, 0.01), ("/root/testdata/sf0.1", 0.1)):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        scores = langid.langid_scores(d)
        out = tempfile.mkdtemp(prefix="lid-stage-size-")
        scores.write.mode("overwrite").parquet(out)
        size = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(out)
            for f in fs
            if f.endswith(".parquet")
        )
        nd = d.count()
        results["stage_parquet"].append(
            {
                "sf": sf,
                "n_docs": nd,
                "bytes": size,
                "bytes_per_doc": round(size / nd, 1),
            }
        )
        print(results["stage_parquet"][-1], flush=True)
        shutil.rmtree(out, ignore_errors=True)

    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "langid_dim_scale.json"
    )
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
