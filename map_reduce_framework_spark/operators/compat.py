"""Generic MapReduce-compatibility runner (SURVEY.md §2.E last bullet).

The reference's entire app surface is a pair of plugin callables
(main/mrworker.go:34-51):

    Map(filename string, contents string) []KeyValue   # a UDTF
    Reduce(key string, values []string) string          # a UDAF

This runner executes arbitrary Python (map_fn, reduce_fn) pairs with the
same semantics on Spark:

* map      -> ``mapInPandas`` (Arrow-batched; one call per input batch,
              flatMap semantics)
* shuffle  -> ``repartition(n_reduce, key)`` -- the NReduce hash-partition
              step (mr/worker.go:78-81); which hash function routes a key
              is not semantically visible, so Spark's murmur3 replaces
              FNV-32a
* group    -> ``sortWithinPartitions(key)`` + one ``mapInPandas`` pass
              per reduce partition that calls Reduce once per run of
              equal keys -- the reference's sort-then-scan reduce
              (main/mrsequential.go:61,70-86, mr/worker.go:128-137)
* sink     -> sources.io.write_mr_text ("<key> <value>" lines, key-sorted
              per partition, atomic task commit)

The nine reference apps have native-DataFrame fast paths in
operators/apps.py; this path exists for *user-supplied* map/reduce code.
Python UDFs are the slow path by design -- anything expressible with
built-in functions should not go through here.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

MapFn = Callable[[str, str], list[tuple[str, str]]]
ReduceFn = Callable[[str, list[str]], str]

_KV_SCHEMA = StructType(
    [StructField("key", StringType()), StructField("value", StringType())]
)


#: Key of "no open run": unlike ``None``, it equals no key, so a run of
#: ``None`` keys is one group like any other.
_NO_RUN = object()


def scan_key_runs(
    batches: Iterator[pd.DataFrame],
    key_col: str,
    cols: Sequence[str],
    reduce_run: Callable[[object, list[list]], Iterable[tuple]],
    out_cols: Sequence[str],
) -> Iterator[pd.DataFrame]:
    """The reduce half of MapReduce over one partition sorted by
    ``key_col``: one pass over the Arrow batches, calling
    ``reduce_run(key, [values of each of cols])`` once per run of equal
    keys and emitting the rows it returns.

    A run may span batches; it stays open until a different key starts.
    The runs a batch completes are emitted right after it, so memory
    holds one batch plus the open run, never the whole partition."""
    open_key, open_run = _NO_RUN, [[] for _ in cols]
    for pdf in batches:
        if not len(pdf):
            continue
        keys = pdf[key_col].to_numpy()
        values = [pdf[c].tolist() for c in cols]
        starts = np.flatnonzero(keys[1:] != keys[:-1]) + 1
        bounds = [0, *starts.tolist(), len(keys)]
        out: list[tuple] = []
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            key = keys[lo]
            if key != open_key:
                if open_key is not _NO_RUN:
                    out.extend(reduce_run(open_key, open_run))
                open_key, open_run = key, [[] for _ in cols]
            for run_col, batch_col in zip(open_run, values):
                run_col.extend(batch_col[lo:hi])
        if out:
            yield pd.DataFrame.from_records(out, columns=out_cols)
    if open_key is not _NO_RUN:
        yield pd.DataFrame.from_records(
            list(reduce_run(open_key, open_run)), columns=out_cols
        )


class MapReduceJob:
    """Run a (map_fn, reduce_fn) pair over DataFrame[name, contents].

    >>> job = MapReduceJob(map_fn, reduce_fn, n_reduce=10)
    >>> out = job.run(df)           # DataFrame[key, value]
    """

    def __init__(self, map_fn: MapFn, reduce_fn: ReduceFn, n_reduce: int = 10):
        self.map_fn = map_fn
        self.reduce_fn = reduce_fn
        self.n_reduce = n_reduce

    def run(
        self,
        inputs: DataFrame,
        name_col: str = "name",
        contents_col: str = "contents",
    ) -> DataFrame:
        map_fn, reduce_fn = self.map_fn, self.reduce_fn

        def run_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out_k, out_v = [], []
                for name, contents in zip(pdf["name"], pdf["contents"]):
                    for k, v in map_fn(name, contents):
                        out_k.append(k)
                        out_v.append(v)
                yield pd.DataFrame({"key": out_k, "value": out_v})

        def reduce_run(key, cols: list[list]) -> list[tuple]:
            return [(key, reduce_fn(key, cols[0]))]

        def run_reduce(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            return scan_key_runs(
                batches, "key", ["value"], reduce_run, ["key", "value"]
            )

        mapped = (
            inputs.select(
                F.col(name_col).cast("string").alias("name"),
                F.col(contents_col).cast("string").alias("contents"),
            )
            .mapInPandas(run_map, schema=_KV_SCHEMA)
        )
        # NReduce hash partitioning (A3): the explicit repartition pins the
        # reducer count like NReduce does instead of inheriting
        # spark.sql.shuffle.partitions, and AQE does not coalesce it. The
        # sort is partition-local, so this is the job's only shuffle.
        return (
            mapped.repartition(self.n_reduce, "key")
            .sortWithinPartitions("key")
            .mapInPandas(run_reduce, schema=_KV_SCHEMA)
        )


# ---------------------------------------------------------------------------
# Python ports of the reference apps' plugin pairs (behavioral spec from
# SURVEY.md §2.B; used to validate the runner against the native library).
# ---------------------------------------------------------------------------

import re
from itertools import groupby

# Candidate runs: \w minus digits/underscore. This is a SUPERSET of Unicode
# letters -- Python \w is alnum-based, so Nl/No characters (Ⅻ, ½) slip in,
# unlike Go's unicode.IsLetter (category L only). _letter_runs() re-splits
# any non-alpha run; ASCII-letter runs (the common case) skip that path.
_WORDISH_RE = re.compile(r"[^\W\d_]+", re.UNICODE)


def _letter_runs(contents: str) -> list[str]:
    """Maximal runs of Unicode LETTERS (category L*), matching the native
    \\p{L}+ path and Go's unicode.IsLetter exactly: str.isalpha() is true
    precisely for L-category code points."""
    out: list[str] = []
    for run in _WORDISH_RE.findall(contents):
        if run.isalpha():
            out.append(run)
        else:  # rare: run contains Nl/No chars -- split on them
            out.extend(
                "".join(g) for isalpha, g in groupby(run, key=str.isalpha) if isalpha
            )
    return out


def wc_map(name: str, contents: str) -> list[tuple[str, str]]:
    """mrapps/wc.go:21-34 -- one ('word', '1') per letter-run occurrence."""
    return [(w, "1") for w in _letter_runs(contents)]


def wc_reduce(key: str, values: list[str]) -> str:
    """mrapps/wc.go:39-42 -- occurrence count as a decimal string."""
    return str(len(values))


def indexer_map(name: str, contents: str) -> list[tuple[str, str]]:
    """mrapps/indexer.go:21-32 -- per-document distinct words."""
    return [(w, name) for w in set(_letter_runs(contents))]


def indexer_reduce(key: str, values: list[str]) -> str:
    """mrapps/indexer.go:37-40 -- '<count> <doc1,doc2,...>' sorted."""
    return f"{len(values)} {','.join(sorted(values))}"


def crash_payload_map(name: str, contents: str) -> list[tuple[str, str]]:
    """mrapps/crash.go:37-50 payload (without the crashing)."""
    return [
        ("a", name),
        ("b", str(len(name))),
        ("c", str(len(contents))),
        ("d", "xyzzy"),
    ]


def crash_payload_reduce(key: str, values: list[str]) -> str:
    """mrapps/crash.go:51-57 -- sorted, space-joined values."""
    return " ".join(sorted(values))


def early_exit_map(name: str, contents: str) -> list[tuple[str, str]]:
    """mrapps/early_exit.go:18-24 -- one (filename, '1') per input."""
    return [(name, "1")]


def early_exit_reduce(key: str, values: list[str]) -> str:
    """mrapps/early_exit.go:27-35 -- per-file count; the reference's 3 s
    sleep on 'sherlock'/'tom' keys is a completion-barrier test device
    (the barrier itself is Spark's action semantics), not data logic."""
    return str(len(values))


def make_jobcount_fns(marker_dir: str) -> tuple[MapFn, ReduceFn]:
    """mrapps/jobcount.go:24-48 -- re-execution detector: every map
    invocation drops a marker file; reduce reports the marker count. With
    no failures the count must equal the input count exactly (no spurious
    re-execution); a retried task over-counts, which is the point.

    ``marker_dir`` must be a filesystem path all executors share (the
    reference relies on cwd the same way). The reference's random 2-5 s
    sleep exists to spread executions across workers; omitted here -- it
    probes the scheduler, not the dataflow.
    """
    import os
    import threading
    import uuid

    def jobcount_map(name: str, contents: str) -> list[tuple[str, str]]:
        fname = (
            f"mr-worker-jobcount-{os.getpid()}-{threading.get_ident()}"
            f"-{uuid.uuid4().hex}"
        )
        with open(os.path.join(marker_dir, fname), "w"):
            pass
        return [("a", "x")]

    def jobcount_reduce(key: str, values: list[str]) -> str:
        n = sum(
            1 for f in os.listdir(marker_dir) if f.startswith("mr-worker-jobcount-")
        )
        return str(n)

    return jobcount_map, jobcount_reduce


def timing_map(name: str, contents: str) -> list[tuple[str, str]]:
    """mrapps/mtiming.go:21-81 -- parallelism probe: each map invocation
    records its (start, end) wall-clock interval under a unique key. The
    reference counts concurrently-live sibling processes via marker files
    + kill(pid, 0); recording intervals and counting overlaps afterward
    measures the same quantity without the side-channel."""
    import os
    import threading
    import time

    start = time.time()
    time.sleep(0.3)
    end = time.time()
    key = f"times-{os.getpid()}-{threading.get_ident()}-{start:.9f}"
    return [(key, f"{start:.6f} {end:.6f}")]


def timing_reduce(key: str, values: list[str]) -> str:
    """mrapps/mtiming.go passthrough reduce (sorted for determinism)."""
    return " ".join(sorted(values))
