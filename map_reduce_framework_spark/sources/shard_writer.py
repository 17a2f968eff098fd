"""Training-shard writer: the OUTPUT stage of a curation run (VERDICT
r6 ask #3). ``sequence_packing`` produces the packed relation and
``training_run_manifest`` the data card; this module materializes the
packed sequences as SIZE-BOUNDED shard files plus an atomic manifest,
with the same crash-safety discipline as the incremental-state writer
(temp + rename commit like ``mr_datasource``'s per-task files, intent
marker + orphan sweep like ``incremental.exactly_once_upsert``).

Sharding rule: within each (lang, shard) packing stream, sequence
``seq_id`` lands in shard file ``seq_id // SEQS_PER_SHARD`` -- so every
shard file holds at most ``SEQS_PER_SHARD`` sequences of at most
``PACK_BUDGET`` tokens each, i.e. at most ``SHARD_TOKEN_BUDGET`` tokens
(the bound can only be exceeded by a single oversized document, which
the packing already isolates in its own sequence; the accounting query
reports those honestly via ``within_budget``). The rule is pure
integer arithmetic on the packed relation, so the DuckDB oracle checks
it exactly and retries/re-runs produce byte-identical shard contents.

Commit protocol (single-writer, like incremental.py):

1. write data + ``_MANIFEST.json`` into ``<out>.staging-<uuid>``;
2. publish an INTENT file (``<out>.intent``, atomic tmp+replace)
   pointing at the staging dir;
3. ``os.rename(staging, out)`` -- atomic on one filesystem;
4. remove the intent.

A crash before 2 leaves an intent-less staging dir (garbage: swept on
the next run). A crash between 2 and 3 leaves intent+staging: the next
run REDOES the rename (the staged bytes are the final content -- a
redo log, exactly incremental.py's argument). A crash between 3 and 4
leaves intent + committed output: the intent is residue, cleared. A
re-run over a committed output is a NO-OP (the manifest is the
commit marker), so replays never duplicate shards.

100 TB notes: shard files are written by ONE task per
(lang, shard, shard_file) -- the repartition keys -- so output
parallelism is the shard count itself (at scale: raise N_PACK_SHARDS
so |langs| x |shards| x |files| >> executor count; see SCALE.md).
The manifest is one row per shard file (thousands of rows at 100 TB
-- driver-safe), and the data never moves through the driver.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.pipeline import (
    MIX_TEMP_ALPHA,
    N_PACK_SHARDS,
    PACK_BUDGET,
    _packing_sql,
    sequence_packing,
)

SEQS_PER_SHARD = 16
SHARD_TOKEN_BUDGET = SEQS_PER_SHARD * PACK_BUDGET

_MANIFEST = "_MANIFEST.json"


def packed_with_shard_files(documents: DataFrame) -> DataFrame:
    """The packed relation extended with its shard-file assignment:
    (lang, shard, shard_file, doc_id, n_tokens, seq_id, tok_offset)."""
    return sequence_packing(documents).withColumn(
        "shard_file", (F.col("seq_id") / SEQS_PER_SHARD).cast("bigint")
    )


def training_shard_accounting(documents: DataFrame) -> DataFrame:
    """Per-shard-file accounting -- the registered, oracle-checked view
    of what ``write_training_shards`` materializes: sequence / doc /
    token counts per shard file and the token-budget verdict.
    ``within_budget`` is false only when a shard contains a single
    oversized document (> PACK_BUDGET tokens alone in its sequence),
    which the bound intentionally lets through rather than truncating
    data silently."""
    p = packed_with_shard_files(documents)
    return (
        p.groupBy("lang", "shard", "shard_file")
        .agg(
            F.countDistinct("seq_id").cast("bigint").alias("n_seqs"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_doc_tokens"),
        )
        .select(
            "lang",
            "shard",
            "shard_file",
            "n_seqs",
            "n_docs",
            "n_tokens",
            (
                (F.col("n_seqs") <= SEQS_PER_SHARD)
                & (
                    (F.col("n_tokens") <= SHARD_TOKEN_BUDGET)
                    | (F.col("max_doc_tokens") > PACK_BUDGET)
                )
            ).alias("within_budget"),
        )
    )


ORACLE_SQL: dict[str, str] = {
    "training_shard_accounting": f"""
        WITH packed AS ({_packing_sql(
            "length(text) - length(regexp_replace(text, ' ', '', 'g')) + 1"
        )})
        SELECT lang, shard, seq_id // {SEQS_PER_SHARD} AS shard_file,
               CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               (count(DISTINCT seq_id) <= {SEQS_PER_SHARD}
                AND (sum(n_tokens) <= {SHARD_TOKEN_BUDGET}
                     OR max(n_tokens) > {PACK_BUDGET})) AS within_budget
        FROM packed
        GROUP BY lang, shard, seq_id // {SEQS_PER_SHARD}
    """,
}


def _intent_path(out_dir: str) -> str:
    return out_dir.rstrip("/") + ".intent"


def is_committed(out_dir: str) -> bool:
    """The manifest IS the commit marker: its presence means the rename
    in step 3 completed (it was staged before the intent existed)."""
    return os.path.isfile(os.path.join(out_dir, _MANIFEST))


def recover_shard_writes(out_dir: str) -> str | None:
    """Crash recovery for ``write_training_shards`` (run first, always):
    finishes a torn rename from a surviving intent, clears residue
    intents over committed output, and sweeps orphaned staging dirs.
    Returns "renamed" / "cleared" / None (nothing pending)."""
    out_dir = out_dir.rstrip("/")
    intent_path = _intent_path(out_dir)
    action = None
    if os.path.isfile(intent_path):
        with open(intent_path) as fh:
            staging = json.load(fh)["staging"]
        if os.path.isdir(staging) and not is_committed(out_dir):
            # torn between intent and rename: REDO the rename
            os.rename(staging, out_dir)
            action = "renamed"
        elif is_committed(out_dir):
            action = "cleared"  # torn between rename and intent removal
        else:
            raise RuntimeError(
                f"torn shard write: intent {intent_path} points at "
                f"missing staging dir {staging} and {out_dir} has no "
                "manifest; the staged shards were destroyed before the "
                "commit was known good"
            )
        os.remove(intent_path)
    # orphaned (intent-less) staging dirs are garbage from a crash
    # before intent publish -- same sweep rule as incremental.py
    parent = os.path.dirname(os.path.abspath(out_dir)) or "."
    prefix = os.path.basename(out_dir) + ".staging-"
    if os.path.isdir(parent):
        for name in os.listdir(parent):
            full = os.path.join(parent, name)
            if name.startswith(prefix) and os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
    return action


def write_training_shards(
    spark, documents: DataFrame, out_dir: str
) -> bool:
    """Materialize the packed corpus as size-bounded training shards
    under ``out_dir`` with an atomic manifest. Returns True when this
    call wrote the output, False when a committed output already
    existed (replay no-op). Crash-safe per the module docstring;
    idempotent: re-running after ANY crash point converges to exactly
    one committed copy, never duplicates."""
    out_dir = out_dir.rstrip("/")
    recover_shard_writes(out_dir)
    if is_committed(out_dir):
        return False

    staging = _stage_shards(spark, documents, out_dir)
    intent_path = _intent_path(out_dir)
    tmp = intent_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"staging": staging}, fh)
    os.replace(tmp, intent_path)  # atomic intent publish
    os.rename(staging, out_dir)  # atomic commit
    os.remove(intent_path)
    return True


def _stage_shards(spark, documents: DataFrame, out_dir: str) -> str:
    """Step 1: write shard data + manifest into a fresh staging dir.
    One writer task per (lang, shard, shard_file) -- the repartition
    keys -- so each shard file is one parquet file plus its partition
    path, and the manifest aggregates arrive as one row per shard."""
    staging = f"{out_dir}.staging-{uuid.uuid4().hex}"
    packed = packed_with_shard_files(documents)
    rows = packed.join(
        documents.select("doc_id", "text"), "doc_id"
    ).select(
        "lang", "shard", "shard_file",
        "seq_id", "tok_offset", "doc_id", "n_tokens", "text",
    )
    # the sort leads with the partitionBy columns: the writer's own
    # per-partition sort then finds the rows already ordered and keeps
    # (seq_id, tok_offset) order inside each shard file; sorting by
    # (seq_id, tok_offset) alone, the writer re-sorted by the partition
    # columns only and left row order to the shuffle's fetch order
    (
        rows.repartition("lang", "shard", "shard_file")
        .sortWithinPartitions(
            "lang", "shard", "shard_file", "seq_id", "tok_offset"
        )
        .write.mode("overwrite")
        .partitionBy("lang", "shard", "shard_file")
        .parquet(os.path.join(staging, "data"))
    )
    acc = [
        r.asDict()
        for r in training_shard_accounting(documents)
        .orderBy("lang", "shard", "shard_file")
        .collect()
    ]
    lang_tokens: dict = {}
    for r in acc:
        lang_tokens[r["lang"]] = lang_tokens.get(r["lang"], 0) + r["n_tokens"]
    manifest = {
        "format": "training-shards-v1",
        "pack_budget": PACK_BUDGET,
        "seqs_per_shard": SEQS_PER_SHARD,
        "shard_token_budget": SHARD_TOKEN_BUDGET,
        "n_shard_files": len(acc),
        "total_docs": sum(r["n_docs"] for r in acc),
        "total_tokens": sum(r["n_tokens"] for r in acc),
        # the mixture weights are COMMITTED with the shards (ADVICE r8
        # #4): load-time scheduling reuses these exact values instead of
        # re-deriving them through a possibly-different libm pow
        "mix_alpha": MIX_TEMP_ALPHA,
        "lang_weights": {
            lang: w
            for lang, w in sorted(
                _lang_weights(lang_tokens, MIX_TEMP_ALPHA).items()
            )
        },
        "shards": acc,
    }
    tmp = os.path.join(staging, _MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(staging, _MANIFEST))
    return staging


def read_manifest(out_dir: str) -> dict:
    with open(os.path.join(out_dir, _MANIFEST)) as fh:
        return json.load(fh)


# ---------------------------------------------------------------------------
# Mixture-aware shard READ side (VERDICT r7 ask #6): a deterministic
# interleave of committed shard files across languages, weighted by the
# same n^alpha temperature rule the data-mixture plan uses, with a
# resumable cursor. The scheduler is weighted fair queuing with integer
# virtual time: within each lang, shard file i (1-based, (shard,
# shard_file) order) is stamped vt = i * VT_SCALE // weight_q; the
# global read order sorts by (vt, lang, shard, shard_file). Larger
# weights yield denser stamps, so each language's files appear in
# proportion to its weight -- and the whole schedule is ONE closed-form
# SQL expression (no driver loop), hence oracle-checked exactly.
#
# Shard streams are (lang, shard)-keyed (the writer's partitioning), so
# the loader consumes the LANG-level temperature weights -- the same
# weight_q = floor(avail^alpha * 1e6 + 0.5) quantization as
# data_mixture_temperature_plan, computed over the packed token totals
# of the shards being scheduled. Scale: one row per shard file (~50k at
# 100 TB), so the global sort/window is driver-trivial by construction.
# ---------------------------------------------------------------------------

VT_SCALE = 1_000_000_000_000  # virtual-time fixed point


def _lang_weights(lang_tokens: dict, alpha: float) -> dict:
    """{lang: weight_q} with weight_q = floor(tokens^alpha * 1e6 + 0.5)
    evaluated by CPython math.pow -- the ONE libm shared by every
    consumer (engine plan literals, manifest commit, load-time
    scheduling; DuckDB's std::pow binds the same C library on this
    platform, which the sweep verifies)."""
    import math

    return {
        lang: math.floor(math.pow(float(t), alpha) * 1e6 + 0.5)
        for lang, t in lang_tokens.items()
    }


def shard_read_schedule(documents: DataFrame, alpha: float | None = None):
    """(pos, lang, shard, shard_file, n_seqs, n_tokens, vt, cum_tokens):
    the deterministic mixture-weighted read order of every shard file
    the writer would commit for this corpus. ``cum_tokens`` is the
    running token total in read order -- the consumed-token accounting
    a resumable loader checkpoints (cursor = pos)."""
    from pyspark.sql import Window
    from ..operators.pipeline import MIX_TEMP_ALPHA

    a = MIX_TEMP_ALPHA if alpha is None else alpha
    acc = training_shard_accounting(documents)
    # weight_q = floor(avail^alpha * 1e6 + 0.5) is evaluated by ONE libm
    # (CPython math.pow -> the platform C pow, the same library DuckDB's
    # std::pow binds), not three: JVM Math.pow is allowed 1 ulp of error
    # vs the correctly-rounded C pow, and a 1-ulp difference at a floor
    # boundary would flip weight_q and reorder the whole schedule
    # (ADVICE r8 #4). The per-lang collect is bounded-scalar by design
    # (|langs| rows, ~5 here, tens at 100 TB); the computed weights are
    # also committed into the shard manifest so load-time scheduling
    # reuses the exact on-disk values (_lang_weights / _stage_shards).
    lang_tokens = {
        r["lang"]: r["avail_tokens"]
        for r in acc.groupBy("lang")
        .agg(F.sum("n_tokens").alias("avail_tokens"))
        .collect()
    }
    spark = documents.sparkSession
    lw = spark.createDataFrame(
        sorted(_lang_weights(lang_tokens, a).items()),
        "lang string, weight_q bigint",
    )
    ranked = acc.join(F.broadcast(lw), "lang").withColumn(
        "i",
        F.row_number().over(
            Window.partitionBy("lang").orderBy("shard", "shard_file")
        ),
    )
    vt = F.expr(f"(i * CAST({VT_SCALE} AS BIGINT)) div weight_q")
    order = Window.orderBy("vt", "lang", "shard", "shard_file")
    return (
        ranked.withColumn("vt", vt)
        .withColumn("pos", F.row_number().over(order))
        .withColumn(
            "cum_tokens",
            F.sum("n_tokens").over(
                order.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .select(
            F.col("pos").cast("int").alias("pos"),
            "lang",
            "shard",
            "shard_file",
            "n_seqs",
            "n_tokens",
            "vt",
            F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        )
    )


def schedule_from_manifest(manifest: dict, alpha: float | None = None) -> list:
    """The same schedule computed from a COMMITTED shard manifest --
    what a training job holds at load time (no Spark, no corpus). Same
    arithmetic as shard_read_schedule; tests assert list-equality
    between the two paths. Returns [{pos, lang, shard, shard_file,
    n_seqs, n_tokens, vt, cum_tokens}, ...] in read order."""
    from ..operators.pipeline import MIX_TEMP_ALPHA

    a = MIX_TEMP_ALPHA if alpha is None else alpha
    shards = manifest["shards"]
    if a == manifest.get("mix_alpha") and "lang_weights" in manifest:
        # the committed values: a training job never re-derives weights
        # another machine's libm computed (ADVICE r8 #4)
        weight = manifest["lang_weights"]
    else:
        avail: dict = {}
        for s in shards:
            avail[s["lang"]] = avail.get(s["lang"], 0) + s["n_tokens"]
        weight = _lang_weights(avail, a)
    per_lang: dict = {}
    rows = []
    for s in sorted(
        shards, key=lambda s: (s["lang"], s["shard"], s["shard_file"])
    ):
        i = per_lang.get(s["lang"], 0) + 1
        per_lang[s["lang"]] = i
        rows.append(
            {
                "lang": s["lang"],
                "shard": s["shard"],
                "shard_file": s["shard_file"],
                "n_seqs": s["n_seqs"],
                "n_tokens": s["n_tokens"],
                "vt": i * VT_SCALE // weight[s["lang"]],
            }
        )
    rows.sort(key=lambda r: (r["vt"], r["lang"], r["shard"], r["shard_file"]))
    cum = 0
    for pos, r in enumerate(rows, start=1):
        cum += r["n_tokens"]
        r["pos"] = pos
        r["cum_tokens"] = cum
    return rows


def iter_training_shards(
    spark, out_dir: str, cursor: int = 0, alpha: float | None = None
):
    """The resumable loader: yield (entry, DataFrame) for every shard
    file AFTER ``cursor`` (a pos from a previous partial consumption)
    in mixture-schedule order. A training job checkpoints the last pos
    it finished; resuming with that cursor skips exactly the consumed
    shards -- no token skipped or repeated (tested). Each DataFrame is
    one shard file's packed rows in (seq_id, tok_offset) order."""
    manifest = read_manifest(out_dir)
    for entry in schedule_from_manifest(manifest, alpha):
        if entry["pos"] <= cursor:
            continue
        path = os.path.join(
            out_dir,
            "data",
            f"lang={entry['lang']}",
            f"shard={entry['shard']}",
            f"shard_file={entry['shard_file']}",
        )
        df = spark.read.parquet(path).orderBy("seq_id", "tok_offset")
        yield entry, df


ORACLE_SQL["shard_read_schedule"] = f"""
    WITH packed AS ({_packing_sql(
        "length(text) - length(regexp_replace(text, ' ', '', 'g')) + 1"
    )}),
    acc AS (
        SELECT lang, shard, seq_id // {SEQS_PER_SHARD} AS shard_file,
               CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM packed
        GROUP BY lang, shard, seq_id // {SEQS_PER_SHARD}
    ),
    lw AS (
        SELECT lang,
               CAST(floor(pow(CAST(sum(n_tokens) AS DOUBLE),
                              {MIX_TEMP_ALPHA!r}) * 1000000.0 + 0.5) AS BIGINT)
                   AS weight_q
        FROM acc GROUP BY lang
    ),
    ranked AS (
        SELECT a.*, lw.weight_q,
               row_number() OVER (
                   PARTITION BY a.lang ORDER BY a.shard, a.shard_file
               ) AS i
        FROM acc a JOIN lw USING (lang)
    ),
    stamped AS (
        SELECT lang, shard, shard_file, n_seqs, n_tokens,
               (i * CAST({VT_SCALE} AS BIGINT)) // weight_q AS vt
        FROM ranked
    )
    SELECT CAST(row_number() OVER w AS INT) AS pos,
           lang, shard, shard_file, n_seqs, n_tokens, vt,
           CAST(sum(n_tokens) OVER (
               ORDER BY vt, lang, shard, shard_file
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_tokens
    FROM stamped
    WINDOW w AS (ORDER BY vt, lang, shard, shard_file)
"""


def validate_shards(spark, out_dir: str) -> dict:
    """Audit a committed shard directory: recount the written parquet
    against the manifest (shard files, docs, tokens, per-shard rows)
    and raise on ANY divergence. Returns the manifest on success --
    the check a training job runs before trusting the data."""
    manifest = read_manifest(out_dir)
    data = spark.read.parquet(os.path.join(out_dir, "data"))
    got = {
        (r.lang, r.shard, r.shard_file): r
        for r in data.groupBy("lang", "shard", "shard_file")
        .agg(
            F.countDistinct("seq_id").cast("bigint").alias("n_seqs"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .collect()
    }
    want = {
        (s["lang"], s["shard"], s["shard_file"]): s
        for s in manifest["shards"]
    }
    if set(got) != set(want):
        raise RuntimeError(
            f"shard set mismatch: data has {len(got)} shard files, "
            f"manifest lists {len(want)}"
        )
    for key, w in want.items():
        g = got[key]
        if (g.n_seqs, g.n_docs, g.n_tokens) != (
            w["n_seqs"], w["n_docs"], w["n_tokens"],
        ):
            raise RuntimeError(f"shard {key} diverges from manifest")
    return manifest
