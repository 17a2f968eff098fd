"""The generic MapReduce-compat runner must reproduce the native
DataFrame library's results for the reference apps (the runner is the
slow path for user code; the native queries are the fast path)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_framework_spark.operators import apps, compat
from map_reduce_framework_spark.sources.io import load_table


@pytest.fixture(scope="module")
def doc_inputs(spark, sf_smoke):
    return load_table(spark, sf_smoke, "documents").select(
        F.col("doc_id").cast("string").alias("name"),
        F.col("text").alias("contents"),
    )


def _as_dict(df):
    return {r[0]: r[1] for r in df.collect()}


def test_compat_wc_matches_native(spark, sf_smoke, doc_inputs):
    job = compat.MapReduceJob(compat.wc_map, compat.wc_reduce, n_reduce=4)
    got = _as_dict(job.run(doc_inputs))
    native = apps.word_count(load_table(spark, sf_smoke, "documents"))
    want = {r["word"]: str(r["cnt"]) for r in native.collect()}
    assert got == want


def test_compat_indexer_matches_native(spark, sf_smoke, doc_inputs):
    job = compat.MapReduceJob(compat.indexer_map, compat.indexer_reduce, n_reduce=4)
    got = _as_dict(job.run(doc_inputs))
    native = apps.inverted_index(load_table(spark, sf_smoke, "documents"))
    want = {r["word"]: f"{r['n_docs']} {r['docs']}" for r in native.collect()}
    assert got == want


def test_compat_crash_payload_matches_native(spark, sf_smoke, doc_inputs):
    job = compat.MapReduceJob(
        compat.crash_payload_map, compat.crash_payload_reduce, n_reduce=2
    )
    got = _as_dict(job.run(doc_inputs))
    native = apps.crash_payload(load_table(spark, sf_smoke, "documents"))
    want = {r["key"]: r["joined"] for r in native.collect()}
    assert got == want


def test_letter_runs_excludes_nl_no_categories():
    """Go's unicode.IsLetter (and the native \\p{L}+ path) reject Nl/No
    characters like Ⅻ and ½, but Python's \\w-based classes accept them --
    the compat tokenizer must split on them, not absorb them."""
    assert compat._letter_runs("abⅫcd e½f gh") == ["ab", "cd", "e", "f", "gh"]
    assert compat._letter_runs("naïve — café's № 3") == [
        "naïve",
        "café",
        "s",
    ]
    assert compat.wc_map("d", "xⅫy") == [("x", "1"), ("y", "1")]


def test_compat_early_exit_matches_native(spark, sf_smoke, doc_inputs):
    """B9 through the runner: per-file count of 1 (each doc is one input),
    matching the native per_doc_count query."""
    job = compat.MapReduceJob(
        compat.early_exit_map, compat.early_exit_reduce, n_reduce=4
    )
    got = _as_dict(job.run(doc_inputs))
    native = apps.per_doc_count(load_table(spark, sf_smoke, "documents"))
    want = {r["doc"]: str(r["cnt"]) for r in native.collect()}
    assert got == want


def test_compat_jobcount_exact_executions(spark, doc_inputs, tmp_path):
    """B4 through the runner (mrapps/jobcount.go semantics + the
    tests/test-mr.sh:201-223 assertion): with no injected failures, map
    runs exactly once per input -- marker count == input count."""
    marker_dir = str(tmp_path)
    inputs = doc_inputs.limit(8).repartition(8).cache()
    n_inputs = inputs.count()
    map_fn, reduce_fn = compat.make_jobcount_fns(marker_dir)
    job = compat.MapReduceJob(map_fn, reduce_fn, n_reduce=1)
    got = _as_dict(job.run(inputs))
    inputs.unpersist()
    assert got == {"a": str(n_inputs)}


def test_compat_timing_concurrency(spark, doc_inputs):
    """B5/B6 through the runner (mrapps/mtiming.go assertion): at least
    two map invocations must overlap in wall-clock time on a parallel
    cluster -- the interval-overlap check from tests/test-mr.sh:147-174."""
    inputs = doc_inputs.limit(8).repartition(8)
    job = compat.MapReduceJob(compat.timing_map, compat.timing_reduce, n_reduce=2)
    rows = job.run(inputs).collect()
    intervals = sorted(
        tuple(float(x) for x in r["value"].split()) for r in rows
    )
    assert len(intervals) == 8
    max_live = live = 0
    points = sorted(
        [(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals],
        key=lambda p: (p[0], -p[1]),  # starts before ends at ties: overlap
    )
    for _, d in points:
        live += d
        max_live = max(max_live, live)
    assert max_live >= 2, intervals


def test_text_sink_roundtrip(spark, sf_smoke, doc_inputs, tmp_path):
    """A9 sink: '<key> <value>' lines, sorted-union comparable
    (tests/test-mr.sh:103 comparison convention)."""
    from map_reduce_framework_spark.sources.io import write_mr_text

    job = compat.MapReduceJob(compat.wc_map, compat.wc_reduce, n_reduce=2)
    out = job.run(doc_inputs)
    out_dir = str(tmp_path / "mr-out")
    write_mr_text(out, "key", "value", out_dir)
    lines = sorted(
        line
        for p in tmp_path.joinpath("mr-out").glob("part-*")
        for line in p.read_text().splitlines()
    )
    want = sorted(f"{r['key']} {r['value']}" for r in out.collect())
    assert lines == want


# -- the reduce's run scan: sort by key, one pass per reduce partition ----


def test_runs_straddling_arrow_batches_reduce_once(spark, sf_smoke):
    """With two records per Arrow batch nearly every key's values span
    several batches; the open run must be carried across the batch
    boundary, so each key is reduced exactly once with all its values."""
    docs = load_table(spark, sf_smoke, "documents").filter(F.col("doc_id") < 50)
    inputs = docs.select(
        F.col("doc_id").cast("string").alias("name"), F.col("text").alias("contents")
    )
    conf_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "2")
    try:
        job = compat.MapReduceJob(compat.wc_map, compat.wc_reduce, n_reduce=4)
        rows = job.run(inputs).collect()
    finally:
        if old is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, old)
    keys = [r[0] for r in rows]
    assert len(keys) == len(set(keys))
    want = {r["word"]: str(r["cnt"]) for r in apps.word_count(docs).collect()}
    assert max(int(v) for v in want.values()) > 2
    assert {r[0]: r[1] for r in rows} == want


def test_none_keys_form_one_group(spark, doc_inputs):
    """A None key is a key like any other: all its values reach one
    reduce call, and its run does not merge with a neighbouring one."""
    n_docs = doc_inputs.count()

    def map_fn(name, contents):
        return [(None, "1"), (None, "1"), ("a", "1")]

    job = compat.MapReduceJob(map_fn, compat.wc_reduce, n_reduce=3)
    rows = job.run(doc_inputs).collect()
    assert sorted(rows, key=lambda r: r[0] is None) == [
        ("a", str(n_docs)),
        (None, str(2 * n_docs)),
    ]


def test_more_reducers_than_keys(spark, sf_smoke, doc_inputs):
    """n_reduce above the number of distinct keys leaves reduce
    partitions empty; they emit nothing and the rest stay correct."""
    job = compat.MapReduceJob(
        compat.crash_payload_map, compat.crash_payload_reduce, n_reduce=16
    )
    got = _as_dict(job.run(doc_inputs))
    native = apps.crash_payload(load_table(spark, sf_smoke, "documents"))
    assert got == {r["key"]: r["joined"] for r in native.collect()}
    assert len(got) == 4
