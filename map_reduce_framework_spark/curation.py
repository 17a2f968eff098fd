"""Resumable end-to-end curation run (VERDICT r7 ask #2).

Every stage of the LLM curation recipe exists as an oracle-checked
operator (quality rules -> exact dedup -> near-dup dedup ->
decontamination -> leakage-safe split -> packing -> shard writer), and
``training_run_manifest`` computes the data card -- but a 100 TB
curation run is a multi-hour job, and a driver crash must not restart
it from stage 0. This module composes the stages into ONE resumable
job, ``run_curation``, driven by the job-manifest checkpoint
(control/checkpoint.py -- the Tier-3 machinery built for SURVEY §2.D5,
promoted to the data plane; reference behavior
go-map-reduce-framework/mr/coordinator_tier.go:262-298).

Resume protocol (per stage):

1. compute the stage relation and write it to
   ``<out>/stages/<name>.staging-<uuid>`` (Spark parquet write);
2. ``os.rename(staging, <out>/stages/<name>)`` -- atomic;
3. ``manifest.mark_done(name)`` -- atomic temp+rename JSON.

A crash before 2 leaves an orphaned staging dir (swept on the next
run). A crash between 2 and 3 leaves committed data the manifest does
not know about: the next run REMOVES it and recomputes -- every stage
is a deterministic pure function of the input table, so the redo
produces identical bytes and correctness never depends on which side
of the race the crash landed (write_training_shards has its own
intent-file redo log and is simply re-entered). A resumed run reads
completed stages from parquet and re-executes nothing.

Why materialized stage relations instead of stage_checkpoint: Spark's
reliable checkpoints survive executor loss but die with the
SparkContext; a DRIVER crash needs stage outputs in plain parquet that
a brand-new session can read. Each materialized relation is
doc_id-sized (the flags) or the final packed corpus -- the natural
stage boundaries a 100 TB pipeline would persist anyway.

The run ledger (one row per stage: docs + tokens surviving) is the
registered, oracle-checked surface: ``curation_run_ledger`` executes a
REAL run into a scratch directory and returns the ledger the committed
run recorded; the DuckDB oracle recomputes every stage count from the
raw table (the ``training_run_manifest`` chain extended with the
packed/shard accounting), so a sweep match certifies the composed run
end to end. Ledger token accounting: stages 0-5 count whitespace
tokens (the manifest convention); the ``packed_shards`` row counts
separator tokens (spaces + 1, the packing/shard-manifest convention) --
both engines apply the same rule.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .control.checkpoint import JobManifest
from .operators import dedup
from .operators.pipeline import (
    ORACLE_SQL as _PL_SQL,
    _exact_keeper_ids,
    _quality_pass_ids,
    leakage_safe_split,
)
from .operators.text_analysis import ngram_contamination, tokenize_ws
from .sources.shard_writer import (
    read_manifest,
    write_training_shards,
)

#: Stage names in execution order. ``extract`` (round 10: the run now
#: STARTS FROM RAW HTML -- VERDICT r9 ask #1) materializes the
#: documents relation from the crawl pages via the main-content
#: extractor; ``langid`` materializes the trained language scores
#: (round 9: the composed run COMPUTES language instead of trusting
#: the lang column); ``mixture`` applies the pred-lang sampling quota;
#: ``shards`` runs the crash-safe shard writer; ``ledger`` seals the
#: run.
CURATION_STAGES = [
    "extract",
    "quality",
    "exact_dedup",
    "near_dup_clusters",
    "decontaminate",
    "train_split",
    "langid",
    "mixture",
    "curated",
    "shards",
    "ledger",
]


class CurationInterrupted(RuntimeError):
    """Raised by the test-only ``fail_after`` fault injection."""


def _stage_dir(out_dir: str, name: str) -> str:
    return os.path.join(out_dir, "stages", name)


def _check_stage_list(out_dir: str) -> None:
    """Version guard: a run directory records the stage list it was
    built under (stages.json, atomic tmp+replace). Resuming under a
    DIFFERENT pipeline definition (stages added/removed/reordered --
    e.g. a pre-round-9 run under the langid+mixture pipeline) would
    silently reuse committed stages whose composed semantics changed,
    so the guard wipes the run and recomputes from stage 0 -- every
    stage is a deterministic pure function of the input, so a full redo
    is always correct, just not incremental."""
    path = os.path.join(out_dir, "stages.json")
    if os.path.exists(path):
        with open(path) as fh:
            recorded = json.load(fh)
        if recorded != CURATION_STAGES:
            shutil.rmtree(os.path.join(out_dir, "stages"), ignore_errors=True)
            os.makedirs(os.path.join(out_dir, "stages"), exist_ok=True)
            for entry in os.listdir(out_dir):
                if entry.startswith("shards"):
                    shutil.rmtree(
                        os.path.join(out_dir, entry), ignore_errors=True
                    )
            intent = os.path.join(out_dir, "shards.intent")
            if os.path.exists(intent):
                os.remove(intent)
            manifest_path = os.path.join(out_dir, "manifest.json")
            if os.path.exists(manifest_path):
                os.remove(manifest_path)
        else:
            return
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(CURATION_STAGES, fh)
    os.replace(tmp, path)


def _sweep_orphans(out_dir: str) -> None:
    stages = os.path.join(out_dir, "stages")
    if not os.path.isdir(stages):
        return
    for entry in os.listdir(stages):
        if ".staging-" in entry:
            shutil.rmtree(os.path.join(stages, entry), ignore_errors=True)


def _materialize(
    spark: SparkSession,
    manifest: JobManifest,
    out_dir: str,
    name: str,
    build: Callable[[], DataFrame],
    executed: dict,
    fail_after: str | None,
) -> DataFrame:
    """Run one stage under the resume protocol; returns the stage
    relation READ BACK from its committed parquet (so downstream
    stages consume identical bytes whether this run computed the stage
    or a previous one did)."""
    target = _stage_dir(out_dir, name)
    if manifest.is_done(name):
        executed[name] = "skipped"
        return spark.read.parquet(target)
    if os.path.isdir(target):
        # committed data the manifest never recorded (crash between
        # rename and mark_done): redo deterministically
        shutil.rmtree(target)
    staging = f"{target}.staging-{uuid.uuid4().hex}"
    build().write.mode("overwrite").parquet(staging)
    os.rename(staging, target)
    manifest.mark_done(name, force=True)
    executed[name] = "computed"
    if fail_after == name:
        raise CurationInterrupted(f"injected crash after stage {name}")
    return spark.read.parquet(target)


def run_curation(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    fail_after: str | None = None,
) -> dict:
    """Execute (or resume) the full curation run into ``out_dir``,
    STARTING FROM RAW CRAWL PAGES (doc_id, html, lang, source) --
    stage 0 is the main-content extractor (round 10). Returns
    {"executed": {stage: "computed"|"skipped"}, "ledger": [...]}.
    Idempotent: re-running after a crash at ANY stage boundary
    (including the new extract boundary) skips every committed stage
    and converges to the same bytes as an uninterrupted run
    (tests/test_round8_ops.py + test_round10_ops.py prove both)."""
    from .operators.html_extract import extracted_documents_from

    os.makedirs(os.path.join(out_dir, "stages"), exist_ok=True)
    _sweep_orphans(out_dir)
    _check_stage_list(out_dir)
    manifest = JobManifest(os.path.join(out_dir, "manifest.json"))
    manifest.set_phase("running")
    executed: dict = {}

    def stage(name, build):
        return _materialize(
            spark, manifest, out_dir, name, build, executed, fail_after
        )

    # stage 0: raw HTML -> the documents relation (text, n_chars
    # recomputed; lang/source passed through). Every later stage
    # consumes the COMMITTED extraction parquet, never the pages.
    documents = stage("extract", lambda: extracted_documents_from(pages))

    quality = stage("quality", lambda: _quality_pass_ids(documents))
    exact = stage("exact_dedup", lambda: _exact_keeper_ids(documents))
    clusters = stage(
        "near_dup_clusters", lambda: dedup.dedup_clusters(documents)
    )
    clean = stage(
        "decontaminate",
        lambda: ngram_contamination(documents)
        .filter(F.col("n_hit_grams") == 0)
        .select("doc_id"),
    )
    train = stage(
        "train_split",
        lambda: leakage_safe_split(documents, clusters=clusters)
        .filter(F.col("split") == "train")
        .select("doc_id"),
    )
    # round 9: language is COMPUTED, not trusted -- train the in-engine
    # classifier and materialize every doc's scores (the data card
    # relation), then apply the pred-lang sampling quota. Training is a
    # deterministic pure function of the input table, so the redo
    # protocol holds. Since round 10 the classifier trains on the
    # EXTRACTED text (the raw-table trace cache would be stale here),
    # and the trained scores are committed with the stage -- resume
    # never retrains.
    from .operators.langid import langid_quota_filter, langid_scores

    lid = stage(
        "langid",
        lambda: langid_scores(documents),
    )
    mix = stage("mixture", lambda: langid_quota_filter(lid))

    def _curated():
        drops = clusters.filter(~F.col("is_keeper")).select("doc_id")
        return (
            quality.join(exact, "doc_id")
            .join(drops, "doc_id", "left_anti")
            .join(clean, "doc_id")
            .join(train, "doc_id")
            .join(mix.select("doc_id"), "doc_id")
        )

    curated = stage("curated", _curated)

    shards_dir = os.path.join(out_dir, "shards")
    if manifest.is_done("shards"):
        executed["shards"] = "skipped"
    else:
        # write_training_shards carries its own intent-file redo log;
        # re-entering after any crash point inside it is safe
        write_training_shards(
            spark, documents.join(curated, "doc_id"), shards_dir
        )
        manifest.mark_done("shards", force=True)
        executed["shards"] = "computed"
        if fail_after == "shards":
            raise CurationInterrupted("injected crash after stage shards")

    ledger = stage(
        "ledger",
        lambda: _build_ledger(
            spark, pages, documents, quality, exact, clusters, clean,
            train, mix, shards_dir,
        ),
    )
    manifest.set_phase("done")
    return {
        "executed": executed,
        "ledger": [tuple(r) for r in ledger.orderBy("stage_idx").collect()],
    }


def _build_ledger(
    spark, pages, documents, quality, exact, clusters, clean, train,
    mix, shards_dir,
) -> DataFrame:
    """One row per stage: (stage_idx, stage, n_docs, n_tokens). Stage
    0 (``raw_pages``) counts the crawl pages and their raw-HTML
    whitespace tokens; stage 1 (``extracted``) restates the extraction
    output; stages 1-7 are the cumulative manifest stages over
    whitespace tokens of the EXTRACTED text (stage 7,
    ``langid_sampled``, is the pred-lang quota); the final
    ``packed_shards`` row restates the committed shard manifest
    (separator-token accounting) -- proof the written output matches
    the funnel's tail."""
    raw_pages = pages.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.coalesce(F.sum(F.size(tokenize_ws("html"))), F.lit(0))
        .cast("bigint")
        .alias("n_tokens"),
    ).selectExpr(
        "CAST(0 AS INT) AS stage_idx",
        "'raw_pages' AS stage",
        "n_docs",
        "n_tokens",
    )
    flags = (
        documents.select(
            "doc_id", F.size(tokenize_ws("text")).alias("n_tokens")
        )
        .join(quality.withColumn("q", F.lit(True)), "doc_id", "left")
        .join(exact.withColumn("e", F.lit(True)), "doc_id", "left")
        .join(
            clusters.filter(~F.col("is_keeper"))
            .select("doc_id")
            .withColumn("d", F.lit(True)),
            "doc_id",
            "left",
        )
        .join(clean.withColumn("c", F.lit(True)), "doc_id", "left")
        .join(train.withColumn("t", F.lit(True)), "doc_id", "left")
        .join(
            mix.select("doc_id").withColumn("s", F.lit(True)),
            "doc_id",
            "left",
        )
        .select(
            "n_tokens",
            F.coalesce("q", F.lit(False)).alias("q"),
            F.coalesce("e", F.lit(False)).alias("e"),
            F.coalesce("d", F.lit(False)).alias("d"),
            F.coalesce("c", F.lit(False)).alias("c"),
            F.coalesce("t", F.lit(False)).alias("t"),
            F.coalesce("s", F.lit(False)).alias("s"),
        )
    )
    thru_train = (
        F.col("q") & F.col("e") & ~F.col("d") & F.col("c") & F.col("t")
    )
    stages = [
        ("extracted", F.lit(True)),
        ("quality_pass", F.col("q")),
        ("exact_keeper", F.col("q") & F.col("e")),
        ("near_dup_keeper", F.col("q") & F.col("e") & ~F.col("d")),
        (
            "decontaminated",
            F.col("q") & F.col("e") & ~F.col("d") & F.col("c"),
        ),
        ("train_split", thru_train),
        ("langid_sampled", thru_train & F.col("s")),
    ]
    aggs = []
    for i, (_name, cond) in enumerate(stages):
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(f"nd{i}")
        )
        aggs.append(
            F.sum(F.when(cond, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias(f"nt{i}")
        )
    agg = flags.agg(*aggs)
    # the extraction funnel starts at stage_idx 1: raw_pages is 0
    stack_args = ", ".join(
        f"{i + 1}, '{name}', nd{i}, nt{i}"
        for i, (name, _c) in enumerate(stages)
    )
    funnel = agg.selectExpr(
        f"stack({len(stages)}, {stack_args}) "
        "AS (stage_idx, stage, n_docs, n_tokens)"
    )
    m = read_manifest(shards_dir)
    shard_row = spark.createDataFrame(
        [
            (
                len(stages) + 1,
                "packed_shards",
                m["total_docs"],
                m["total_tokens"],
            )
        ],
        "stage_idx int, stage string, n_docs bigint, n_tokens bigint",
    )
    return raw_pages.unionAll(
        funnel.select(
            F.col("stage_idx").cast("int").alias("stage_idx"),
            "stage",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
        )
    ).unionAll(shard_row)


def curation_run_ledger(
    spark: SparkSession,
    documents: DataFrame,
    scratch_dir: str,
) -> DataFrame:
    """The registered surface: synthesize the crafted crawl pages from
    the documents table (the html_extract pattern -- a pure function
    of the rows, so the DuckDB oracle rebuilds the exact same pages),
    run (or resume) the composed RAW-HTML curation job under
    ``scratch_dir``, and return its committed ledger. A repeated call
    is a pure read (every stage skips), so the driver's two executions
    per sweep cost one real run. The langid stage trains on the
    EXTRACTED text inside the run (committed with the stage), so the
    raw-table trace cache is deliberately not consulted."""
    from .operators.html_extract import synth_pages

    run_curation(spark, synth_pages(documents), scratch_dir)
    return spark.read.parquet(_stage_dir(scratch_dir, "ledger"))


def scratch_for(sf_dir: str) -> str:
    """The registered query's scratch dir, one per documents table in
    this process (sources.io.table_memo): repeated driver/bench/sweep
    calls resume the same committed run (pure reads), a regenerated
    table gets a fresh run."""
    import tempfile

    from .sources.io import table_memo

    return table_memo(
        sf_dir,
        "curation_run_ledger",
        lambda: tempfile.mkdtemp(prefix="mrfs-curation-run-"),
    )


def _ledger_sql() -> str:
    """DuckDB twin, from RAW HTML: rebuild the crafted pages from
    main.documents, SHADOW the ``documents`` view with the extraction
    chain (the _extracted_quality_sql pattern), then run the untouched
    training_run_manifest chain extended with the pred-lang quota
    stage (the full langid training trajectory re-derived as unrolled
    CTEs over the EXTRACTED text, then the stratified-sample threshold
    rule) and the packed_shards row -- the packing oracle run over the
    SAME curated subset the engine shards, counting separator tokens.
    A sweep hash match therefore certifies extraction, every funnel
    stage, langid training, the quota, and the packing, end to end
    from raw crawl bytes."""
    from .operators.langid import (
        LID_ITERS,
        LID_LR,
        _lid_chain_sql,
        _lid_scores_select,
    )
    from .operators.pipeline import _packing_sql
    from .operators.text_analysis import (
        ORACLE_SQL as _TA_SQL,
        SAMPLE_DEFAULT_THRESHOLD,
        SAMPLE_THRESHOLDS,
    )
    from .operators.dedup import ORACLE_SQL as _DD_SQL

    manifest_sql = _PL_SQL["training_run_manifest"]
    packed = _packing_sql(
        "length(text) - length(regexp_replace(text, ' ', '', 'g')) + 1",
        from_rel="curated_docs",
    )
    lid_ctes = (
        ",\n".join(_lid_chain_sql(LID_ITERS, LID_LR))
        + ","
        + _lid_scores_select(LID_ITERS)
    )
    quota_case = " ".join(
        f"WHEN pred_lang = '{lang}' THEN '{t}'"
        for lang, t in sorted(SAMPLE_THRESHOLDS.items())
    )
    from .operators.html_extract import (
        extracted_documents_sql,
        synth_html_expr,
    )

    ws_tokens = (
        "len(list_filter(regexp_split_to_array(text, '\\s+'), "
        "t -> t <> ''))"
    )
    ws_html_tokens = (
        "len(list_filter(regexp_split_to_array(html, '\\s+'), "
        "t -> t <> ''))"
    )
    return f"""
    WITH lg_pages AS (
        SELECT doc_id, {synth_html_expr()} AS html, lang, source
        FROM main.documents
    ),
    documents AS ({extracted_documents_sql('lg_pages')}),
    {lid_ctes},
    lg_quality AS (
        SELECT doc_id FROM ({_TA_SQL["quality_score"]}) WHERE keep
    ),
    lg_exact AS (
        SELECT doc_id FROM (
            SELECT doc_id, row_number() OVER (
                PARTITION BY md5(text) ORDER BY doc_id
            ) AS rn FROM documents
        ) WHERE rn = 1
    ),
    lg_drops AS (
        SELECT doc_id FROM ({_DD_SQL["dedup_clusters"]}) WHERE NOT is_keeper
    ),
    lg_clean AS (
        SELECT doc_id FROM ({_TA_SQL["ngram_contamination"]})
        WHERE n_hit_grams = 0
    ),
    lg_train AS (
        SELECT doc_id FROM ({_PL_SQL["leakage_safe_split"]})
        WHERE split = 'train'
    ),
    lg_quota AS (
        SELECT doc_id FROM lid_scores
        WHERE md5(CAST(doc_id AS VARCHAR)) < CASE {quota_case}
              ELSE '{SAMPLE_DEFAULT_THRESHOLD}' END
    ),
    curated_docs AS (
        SELECT d.* FROM documents d
        WHERE d.doc_id IN (SELECT doc_id FROM lg_quality)
          AND d.doc_id IN (SELECT doc_id FROM lg_exact)
          AND d.doc_id NOT IN (SELECT doc_id FROM lg_drops)
          AND d.doc_id IN (SELECT doc_id FROM lg_clean)
          AND d.doc_id IN (SELECT doc_id FROM lg_train)
          AND d.doc_id IN (SELECT doc_id FROM lg_quota)
    ),
    lg_packed AS ({packed})
    SELECT CAST(0 AS INT) AS stage_idx, 'raw_pages' AS stage,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(sum({ws_html_tokens}), 0) AS BIGINT) AS n_tokens
    FROM lg_pages
    UNION ALL
    SELECT CAST(stage_idx + 1 AS INT) AS stage_idx,
           CASE WHEN stage = 'raw' THEN 'extracted' ELSE stage END AS stage,
           n_docs, n_tokens
    FROM ({manifest_sql})
    UNION ALL
    SELECT CAST(7 AS INT) AS stage_idx, 'langid_sampled' AS stage,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(sum({ws_tokens}), 0) AS BIGINT) AS n_tokens
    FROM curated_docs
    UNION ALL
    SELECT CAST(8 AS INT) AS stage_idx, 'packed_shards' AS stage,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) AS n_tokens
    FROM lg_packed
    """


ORACLE_SQL: dict[str, str] = {}
ORACLE_SQL["curation_run_ledger"] = _ledger_sql()


def validate_run(spark: SparkSession, out_dir: str) -> dict:
    """Audit a committed run: manifest phase done, every stage parquet
    present, shard data matches its own manifest. Returns the run
    manifest state."""
    from .sources.shard_writer import validate_shards

    with open(os.path.join(out_dir, "manifest.json")) as fh:
        state = json.load(fh)
    if state.get("phase") != "done":
        raise RuntimeError(f"run not sealed: phase={state.get('phase')}")
    for name in CURATION_STAGES:
        if name == "shards":
            continue
        if not os.path.isdir(_stage_dir(out_dir, name)):
            raise RuntimeError(f"stage output missing: {name}")
    validate_shards(spark, os.path.join(out_dir, "shards"))
    return state
