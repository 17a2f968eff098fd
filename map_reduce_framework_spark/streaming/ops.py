"""Structured Streaming surface.

The reference has no data-plane streaming (SURVEY.md §1.4) -- its only
stream is the control-plane gossip loop -- but the north-star engine needs
one (BASELINE.json): a 100 TB ingest pipeline is a stream of files. The
operators here are the *same declarative transforms* as the batch library,
bound to ``readStream`` sources with watermarks; at scale you point them at
a file/Kafka source and a real sink and they run incrementally with
checkpointed state.

Determinism contract for the oracle gate: each ``*_stream`` query reads the
bounded events table as a file stream, executes with
``trigger(availableNow=True)`` into a memory sink, and returns the final
table -- which must equal the batch answer, so the DuckDB oracles are exact.
Modes chosen accordingly:

* windowed / global aggregations run in **complete** mode (every window is
  in the final emission; append mode would hold back windows the watermark
  has not passed at end-of-stream);
* stateful dedup (``dropDuplicates``) runs in **append** mode (emits on
  first sight, so the end-of-stream table is the full distinct set).
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _shingle_sets, jaccard_pairs, lsh_bands
from ..sources.io import load_table, table_memo


def _as_stream_dir(path: str) -> str:
    """The file-stream source monitors a DIRECTORY (that is its contract:
    files arriving over time). The testdata table is a single parquet file,
    so stage a per-file symlink directory under /tmp -- zero copy, and at
    scale the real ingest directory takes this role."""
    if os.path.isdir(path):
        return path
    d = f"/tmp/mrfs-stream-{hashlib.md5(path.encode()).hexdigest()[:12]}"
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, os.path.basename(path))
    if not os.path.exists(link):
        os.symlink(path, link)
    return d


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table. Schema comes from a
    metadata-only batch read (streaming sources require one up front).

    ``ts`` is truncated nanos->micros like sources/io.py, but kept as a
    session-UTC TIMESTAMP: watermarks require TIMESTAMP, not TIMESTAMP_NTZ.
    Consumers cast results back to timestamp_ntz (exact under UTC)."""
    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The TIMESTAMP (LTZ) cast below only equals the batch reader's
    # TIMESTAMP_NTZ values when the session timezone is UTC; a non-UTC
    # session would silently shift streaming event times vs their batch
    # twins, so fail loudly instead.
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz not in ("UTC", "Etc/UTC", "GMT"):
        raise ValueError(
            f"read_events_stream requires a UTC session timezone, got {tz!r}"
        )
    schema = spark.read.parquet(path).schema
    raw = spark.readStream.schema(schema).parquet(_as_stream_dir(path))
    if schema["ts"].dataType.simpleString() == "bigint":
        ts = F.timestamp_micros(F.expr("ts div 1000"))
    else:
        ts = F.col("ts")
    return raw.withColumn("ts", ts.cast("timestamp"))


#: Stateful-stream shuffle width. A stream's state partition count is a
#: DURABLE design choice (frozen into the checkpoint on first run, cannot
#: change later), so it is sized to the stream's key cardinality and
#: throughput -- NOT inherited from the batch shuffle width. Oversizing
#: multiplies per-micro-batch state-store open/commit overhead: the
#: stream-stream interval join at sf0.1 runs 7.8s with 32 partitions and
#: 2.6s with 8 (4 state stores per partition per side). On a real
#: cluster size this to (peak state bytes / executor memory budget), and
#: revisit only via a fresh checkpoint.
STREAM_STATE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8")
)


def run_to_memory(
    stream_df: DataFrame, *, output_mode: str, name: str | None = None
) -> DataFrame:
    """Execute a bounded stream with availableNow into a memory sink and
    return the final result as a DataFrame. The memory sink is a test/
    verification device -- production callers writeStream to files/Kafka
    with a checkpointLocation instead (same plan, different sink).

    The shuffle width is pinned to STREAM_STATE_PARTITIONS for the run
    (read at query start, when the state layout is fixed) and restored
    after, so batch queries in the same session keep their own width."""
    spark = stream_df.sparkSession
    qname = name or f"mrfs_stream_{uuid.uuid4().hex[:12]}"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS)
    )
    try:
        query = (
            stream_df.writeStream.format("memory")
            .queryName(qname)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.table(qname)


def hourly_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour window counts per event_type with a 1-hour watermark.
    Works identically on a batch or streaming events DataFrame; the window
    struct is flattened to (window_start, window_end) for stable schemas."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            # ntz cast is exact under the pinned UTC session timezone and
            # keeps the schema identical to the batch events queries.
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def distinct_event_types(events: DataFrame) -> DataFrame:
    """Streaming stateful dedup: first occurrence of each event_type is
    emitted, state retains the seen-set (at scale: bound it with
    ``dropDuplicatesWithinWatermark``)."""
    return events.select("event_type").dropDuplicates(["event_type"])


def user_activity_totals(events: DataFrame) -> DataFrame:
    """Running per-user totals -- the classic continuously-updated aggregate
    (complete mode: the sink holds the latest full answer)."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        # count(DISTINCT) is unsupported in streaming aggs; size(collect_set)
        # is the exact, streaming-legal equivalent.
        F.size(F.collect_set("event_type")).alias("n_types"),
    )


def purchases_with_recent_views(
    purchases: DataFrame, views: DataFrame
) -> DataFrame:
    """Stream-stream interval join: every (purchase, view) pair for the
    same user with the view at most 1 hour before the purchase
    (inclusive both ends). Both sides carry a 1-hour watermark, so state
    for each side is bounded to the interval span plus the watermark --
    the canonical Structured Streaming join pattern (append-only output).

    On a bounded availableNow run the emitted set equals the batch inner
    join, so the DuckDB oracle is exact."""
    p = purchases.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", "1 hour")
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    ).withWatermark("v_ts", "1 hour")
    return (
        p.join(
            v,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("v_ts") <= F.col("p_ts"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "purchase_id",
            "user_id",
            F.col("p_ts").cast("timestamp_ntz").alias("purchase_ts"),
            "view_id",
            F.col("v_ts").cast("timestamp_ntz").alias("view_ts"),
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """Sliding-window counts: 2-hour windows every 1 hour, so each event
    lands in exactly two windows. Same shape at scale as the tumbling
    version -- state is (windows x types), bounded by the watermark."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def user_session_windows(events: DataFrame) -> DataFrame:
    """Native session windows (``session_window``): per-user sessions with
    a 30-minute inactivity gap, merged incrementally by the streaming
    state store. Window semantics: end = last event + gap, and a new event
    MERGES iff its ts < current end -- i.e. a gap of exactly 30:00 starts
    a new session (the oracle's islands formulation uses >= gap
    accordingly)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )


def enriched_segment_totals(
    events: DataFrame, customer: DataFrame
) -> DataFrame:
    """Stream-static broadcast enrichment -- the canonical streaming
    lookup join: every event resolves its user against the (static,
    broadcast) customer dimension, then aggregates per (segment, type).
    The static side is planned as a broadcast hash join per micro-batch:
    no stream-side state, no shuffle of the stream beyond the final
    aggregate -- at 100 TB/day this is the shape of every dimension
    lookup in an ingest pipeline (the dim refreshes by restarting the
    query or via Delta-style CDC; the plan is identical)."""
    return (
        events.join(
            F.broadcast(customer),
            events["user_id"] == customer["c_custkey"],
        )
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


def dedup_within_watermark(events: DataFrame) -> DataFrame:
    """Bounded-state streaming dedup: ``dropDuplicatesWithinWatermark``
    evicts seen-keys older than the watermark, so state is O(keys per
    watermark window) instead of O(all keys ever) -- the only dedup that
    survives an unbounded 100 TB/day stream. event_id is globally unique
    in this table, so the bounded-run output equals the full table and
    the oracle is exact."""
    return (
        events.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts").cast("timestamp_ntz").alias("ts"),
        )
    )


# -- registry-facing runners (spark, sf_dir) -> DataFrame -------------------


def user_cms_cells(events: DataFrame) -> DataFrame:
    """Count-min sketch of user activity built INCREMENTALLY over the
    stream: every event adds 1 to its user's D cells, the running
    (row_idx, col_idx) sums ARE the sketch. Because the sketch is a
    linear projection of the count vector (operators/sketch.py), the
    streaming aggregation state is exactly D*W counters regardless of
    user cardinality -- the bounded-state alternative to streaming
    count_distinct, and the md5 hash family keeps it deterministic, so
    unlike the HLL streams this one carries an EXACT oracle."""
    from ..functions.hashing import md5_long
    from ..operators.sketch import CMS_D, CMS_W

    coords = F.array(
        *[
            (md5_long(F.col("user_id"), seed=j) % CMS_W).cast("int")
            for j in range(CMS_D)
        ]
    )
    return (
        events.select(F.posexplode(coords).alias("row_idx", "col_idx"))
        .groupBy("row_idx", "col_idx")
        .agg(F.count("*").alias("cms_count"))
    )


def q_user_cms_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        user_cms_cells(read_events_stream(spark, sf_dir)),
        output_mode="complete",
    )


def q_events_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        hourly_counts(read_events_stream(spark, sf_dir)), output_mode="complete"
    )


def q_events_distinct_types_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        distinct_event_types(read_events_stream(spark, sf_dir)),
        output_mode="append",
    )


def q_user_activity_totals_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        user_activity_totals(read_events_stream(spark, sf_dir)),
        output_mode="complete",
    )


def q_purchase_view_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    return run_to_memory(
        purchases_with_recent_views(
            ev.filter(F.col("event_type") == "purchase"),
            ev.filter(F.col("event_type") == "view"),
        ),
        output_mode="append",
    )


def q_events_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        sliding_counts(read_events_stream(spark, sf_dir)), output_mode="complete"
    )


def q_user_session_windows_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        user_session_windows(read_events_stream(spark, sf_dir)),
        output_mode="complete",
    )


def q_events_enriched_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        enriched_segment_totals(
            read_events_stream(spark, sf_dir),
            load_table(spark, sf_dir, "customer"),
        ),
        output_mode="complete",
    )


def q_events_dedup_watermark_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        dedup_within_watermark(read_events_stream(spark, sf_dir)),
        output_mode="append",
    )


def batch_equivalent_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch twin of q_events_hourly_stream (stream/batch parity test)."""
    return hourly_counts(load_table(spark, sf_dir, "events"))


ORACLE_SQL: dict[str, str] = {
    "user_cms_stream": """
        WITH cellsq AS (
            SELECT t.j AS row_idx,
                   CAST(CAST(concat('0x', substr(md5(concat(t.j, ':',
                            CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT)
                        % 64 AS INT) AS col_idx
            FROM events, unnest([0, 1, 2, 3]) AS t(j)
        )
        SELECT row_idx, col_idx, CAST(count(*) AS BIGINT) AS cms_count
        FROM cellsq GROUP BY 1, 2
    """,
    "events_hourly_stream": """
        SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                   AS window_start,
               CAST(date_trunc('hour', CAST(ts AS TIMESTAMP))
                    + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
               event_type,
               count(*) AS n_events
        FROM events
        GROUP BY 1, 2, 3
    """,
    "events_distinct_types_stream": """
        SELECT DISTINCT event_type FROM events
    """,
    "purchase_view_join_stream": """
        SELECT p.event_id AS purchase_id, p.user_id,
               CAST(p.ts AS TIMESTAMP) AS purchase_ts,
               v.event_id AS view_id,
               CAST(v.ts AS TIMESTAMP) AS view_ts
        FROM events p
        JOIN events v
          ON p.user_id = v.user_id
         AND p.event_type = 'purchase' AND v.event_type = 'view'
         AND CAST(v.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
         AND CAST(v.ts AS TIMESTAMP)
             >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
    """,
    "user_activity_totals_stream": """
        SELECT user_id,
               count(*) AS n_events,
               count(DISTINCT event_type) AS n_types
        FROM events
        GROUP BY user_id
    """,
    "events_sliding_stream": """
        WITH e AS (
            SELECT event_type, CAST(ts AS TIMESTAMP) AS t FROM events
        ),
        w AS (
            SELECT event_type,
                   unnest([date_trunc('hour', t) - INTERVAL 1 HOUR,
                           date_trunc('hour', t)]) AS ws
            FROM e
        )
        SELECT ws AS window_start, ws + INTERVAL 2 HOUR AS window_end,
               event_type, count(*) AS n_events
        FROM w GROUP BY 1, 2, 3
    """,
    "user_session_windows_stream": """
        WITH base AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events
        ),
        flagged AS (
            SELECT user_id, t,
                   CASE WHEN lag(t) OVER w IS NULL
                          OR t - lag(t) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM base
            WINDOW w AS (PARTITION BY user_id ORDER BY t)
        ),
        sess AS (
            SELECT user_id, t,
                   sum(new_s) OVER (
                       PARTITION BY user_id ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS sid
            FROM flagged
        )
        SELECT user_id,
               min(t) AS session_start,
               max(t) + INTERVAL 30 MINUTE AS session_end,
               CAST(count(*) AS BIGINT) AS n_events
        FROM sess GROUP BY user_id, sid
    """,
    "events_dedup_watermark_stream": """
        SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        FROM events
    """,
    "events_enriched_stream": """
        SELECT c_mktsegment, event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   AS total_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY 1, 2
    """,
}


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table -- the streaming
    ingest shape of a curation pipeline (new document files arriving in
    a directory). No timestamp/watermark: the quality filter below is
    stateless."""
    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(_as_stream_dir(path))


def q_doc_quality_filter_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming curation ingest: the GPT-3 classifier+Pareto filter
    (quality_classifier_scores -- a pure Catalyst projection, so the
    SAME operator runs unchanged on the stream) applied per arriving
    document, keep-only, append mode. Stateless: no watermark, no state
    store; at scale this is the writeStream-to-table front of the
    curation pipeline, with the batch operator as its exact twin (the
    registered oracle IS the batch semantics, so the sweep proves
    stream==batch)."""
    from ..operators.text_analysis import quality_classifier_scores

    docs = read_documents_stream(spark, sf_dir)
    kept = quality_classifier_scores(docs).filter(F.col("keep"))
    return run_to_memory(kept, output_mode="append")


from ..operators.text_analysis import ORACLE_SQL as _TA_SQL  # noqa: E402

ORACLE_SQL["doc_quality_filter_stream"] = f"""
    SELECT doc_id, lang, z, p, pareto_x, keep
    FROM ({_TA_SQL["quality_classifier_scores"]})
    WHERE keep
"""


def q_dsir_score_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR deployed as a trained filter at ingest: the bucket-score LM
    is built ONCE from the batch corpus and shipped as a model artifact
    (<= 1025 scalars), then every arriving document is scored by the
    Arrow scorer -- per-row work only, no shuffle, no state store,
    append mode. Bit-identical to the distributed dsir_log_weights on
    the same corpus (integer sums are order-free), so the registered
    oracle -- the batch derivation -- proves stream==batch AND
    shipped-LM==distributed-LM in one hash."""
    from ..operators.text_analysis import dsir_lm_table, dsir_scorer_arrow
    from ..sources.io import load_table

    scores, default_s = dsir_lm_table(load_table(spark, sf_dir, "documents"))
    docs = read_documents_stream(spark, sf_dir)
    scored = docs.select(
        "doc_id",
        "lang",
        dsir_scorer_arrow(scores, default_s)("text").alias("sc"),
    ).select("doc_id", "lang", "sc.n_feats", "sc.logw")
    return run_to_memory(scored, output_mode="append")


from ..operators.text_analysis import ORACLE_SQL as _TA_SQL2  # noqa: E402

ORACLE_SQL["dsir_score_stream"] = _TA_SQL2["dsir_log_weights"]


def q_rule_filter_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL THREE published rule families at ingest: Gopher A1.1, the
    complete A1.2 repetition filter, and the C4 page rules, per
    arriving document, append mode, truly stateless. Possible because
    the round-6 A1.2 rewrite made the repetition filter a doc-local
    PROJECTION (per-doc shingle sort + run-length + coverage -- no
    groupBy), so the A1.1/C4 verdicts ride it as extra_exprs exactly
    like the batch rule_filter_funnel: one projection over the stream,
    no join, no state store, no watermark. The registered oracle
    composes the three batch oracles, so the sweep proves
    stream==batch for the whole rule family."""
    from ..operators.text_analysis import (
        c4_rule_exprs,
        gopher_repetition_filter,
        gopher_rule_exprs,
    )

    docs = read_documents_stream(spark, sf_dir)
    g = gopher_rule_exprs()
    c = c4_rule_exprs()
    verdicts = gopher_repetition_filter(
        docs,
        extra_exprs={
            "gopher_pass": g["gopher_pass"],
            "n_sentences": c["n_sentences"],
            "keep_doc": c["keep_doc"],
        },
    ).select(
        "doc_id", "gopher_pass", "n_sentences", "keep_doc", "repetition_pass"
    )
    return run_to_memory(verdicts, output_mode="append")


ORACLE_SQL["rule_filter_stream"] = f"""
    SELECT g.doc_id, g.gopher_pass, c.n_sentences, c.keep_doc,
           r.repetition_pass
    FROM ({_TA_SQL["gopher_quality_filter"]}) g
    JOIN ({_TA_SQL["c4_quality_filter"]}) c USING (doc_id)
    JOIN ({_TA_SQL["gopher_repetition_filter"]}) r USING (doc_id)
"""


def q_image_dhash_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hashing at ingest: the real-codec dHash
    pipeline (generate BMP -> decode -> resize -> 63-bit hash) runs
    per arriving document as a stateless Arrow map, append mode -- the
    front half of multimodal dedup running on the stream with the
    batch operator as its exact twin (the registered oracle is the
    batch pixel-math derivation, so the sweep proves stream==batch
    across the whole codec path)."""
    from ..operators.multimodal import image_dhash

    docs = read_documents_stream(spark, sf_dir)
    return run_to_memory(image_dhash(docs), output_mode="append")


def q_audio_features_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction at ingest: the real-codec WAV pipeline
    (generate PCM -> encode_wav -> decode_wav -> feature math) runs per
    arriving document as a stateless Arrow map, append mode -- the
    audio twin of image_dhash_stream, completing streaming ingest
    across all three modalities. The registered oracle is the batch
    md5-math derivation, so the sweep proves stream==batch across the
    whole codec path."""
    from ..operators.audio import audio_features

    docs = read_documents_stream(spark, sf_dir)
    return run_to_memory(audio_features(docs), output_mode="append")


def q_video_frame_dhash_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video keyframe hashing at ingest: the animated-GIF encode ->
    full animation decode -> per-frame dHash path per arriving
    document, stateless 1->many Arrow map, append mode. With image and
    audio ingest this makes the streaming front of multimodal dedup
    complete; the batch pixel-math oracle proves stream==batch."""
    from ..operators.multimodal import video_frame_dhash

    docs = read_documents_stream(spark, sf_dir)
    return run_to_memory(video_frame_dhash(docs), output_mode="append")


def q_langid_scores_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID at ingest -- the deployment shape a real curation
    run uses: the classifier trains OFFLINE on the batch table (the
    per-table trace memo the batch queries share), and the frozen
    weights score every arriving document as a stateless narrow
    projection, append mode.
    The registered oracle is the batch unrolled-CTE derivation, so the
    sweep proves stream scoring == batch scoring under the SAME trained
    weights, end to end through the hashed-feature path."""
    from ..operators.langid import _trace_for_table, langid_scores

    trace = _trace_for_table(spark, sf_dir)  # offline training, memoized
    docs = read_documents_stream(spark, sf_dir)
    return run_to_memory(langid_scores(docs, _trace=trace), output_mode="append")


from ..operators.audio import ORACLE_SQL as _AUD_SQL  # noqa: E402
from ..operators.langid import ORACLE_SQL as _LID_SQL  # noqa: E402
from ..operators.multimodal import ORACLE_SQL as _MM_SQL  # noqa: E402

ORACLE_SQL["image_dhash_stream"] = _MM_SQL["image_dhash"]
ORACLE_SQL["audio_features_stream"] = _AUD_SQL["audio_features"]
ORACLE_SQL["video_frame_dhash_stream"] = _MM_SQL["video_frame_dhash"]
ORACLE_SQL["langid_scores_stream"] = _LID_SQL["langid_scores"]


# ---------------------------------------------------------------------------
# Streaming tail of the pipeline (VERDICT r8 ask #5): availableNow
# micro-batches from the streaming rule scorer INTO the shard writer.
# Two commit layers compose, each already crash-proven on its own:
#
# 1. the INGEST leg -- the quality-rule scorer filters arriving
#    documents (stateless narrow projection, append mode) into a
#    parquet file sink. The file sink's _spark_metadata transaction log
#    gives exactly-once per micro-batch: a re-run after ANY crash
#    resumes from the checkpoint and never double-counts a file.
# 2. the SHARD leg -- once the bounded stream drains, the committed
#    ingest feeds write_training_shards, whose intent-file redo log
#    (staging -> intent -> rename -> clear) makes the shard commit
#    atomic and idempotent.
#
# A re-entered run therefore converges to exactly one committed shard
# directory whose bytes equal the batch writer's on the same filtered
# corpus -- the stream==batch proof the registered accounting query
# hashes (its oracle recomputes the packing over the quality-pass
# subset with no knowledge of streams, checkpoints, or sinks). At 100
# TB the same two legs run unbounded: the file stream watches the
# crawl drop directory, each micro-batch appends scored parquet, and a
# scheduled shard job packs completed partitions.
# ---------------------------------------------------------------------------


def stream_ingest_training_shards(
    spark: SparkSession, sf_dir: str, work_dir: str, *,
    source_dir: str | None = None,
) -> str:
    """Run (or resume) the streaming ingest -> shard pipeline under
    ``work_dir``; returns the committed shards directory. Idempotent:
    re-entering after a crash in either leg finishes exactly one copy.
    ``source_dir`` points the ingest at an arbitrary drop directory
    instead of the sf documents table; a drop of raw HTML pages
    (schema-detected by the ``html`` column) is extracted in the
    stream, the same stage-0 projection as the epoch leg (VERDICT r9
    ask #1's streaming leg)."""
    from ..operators.text_analysis import quality_keep_expr
    from ..sources.shard_writer import is_committed, write_training_shards

    shards = os.path.join(work_dir, "shards")
    if is_committed(shards):
        return shards
    ingest = os.path.join(work_dir, "ingest")
    ckpt = os.path.join(work_dir, "ingest-ckpt")
    if source_dir is not None:
        arriving = _arriving_stream(spark, source_dir)
    else:
        arriving = read_documents_stream(spark, sf_dir)
    kept = arriving.filter(quality_keep_expr())
    query = (
        kept.writeStream.format("parquet")
        .option("path", ingest)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    if os.path.isdir(ingest):
        drained = spark.read.parquet(ingest)
    else:
        # zero micro-batches committed (empty source, or a crash before
        # batch 0): the shard run still commits -- an EMPTY manifest,
        # the same degenerate-corpus convention as the ledger oracle's
        # COALESCE row
        schema = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).schema
        drained = spark.createDataFrame([], schema)
    write_training_shards(spark, drained, shards)
    return shards


def _manifest_accounting_df(spark: SparkSession, shards: str) -> DataFrame:
    """Per-shard-file accounting of a committed shard directory, read
    back from its manifest -- the ONE schema both registered ingest
    surfaces (documents drop + raw-HTML drop) return."""
    from ..sources.shard_writer import read_manifest

    m = read_manifest(shards)
    rows = [
        (
            s["lang"],
            s["shard"],
            s["shard_file"],
            s["n_seqs"],
            s["n_docs"],
            s["n_tokens"],
            s["within_budget"],
        )
        for s in m["shards"]
    ]
    return spark.createDataFrame(
        rows,
        "lang string, shard bigint, shard_file bigint, n_seqs bigint, "
        "n_docs bigint, n_tokens bigint, within_budget boolean",
    )


def q_shard_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered surface: per-shard-file accounting read back from
    the manifest the STREAMING pipeline committed. The oracle is the
    batch packing derivation over the quality-pass subset, so a sweep
    hash match proves stream ingest == batch curation down to every
    shard file's sequence/doc/token counts."""
    scratch = table_memo(
        sf_dir,
        "shard_ingest_stream",
        lambda: tempfile.mkdtemp(prefix="mrfs-stream-shards-"),
    )
    shards = stream_ingest_training_shards(spark, sf_dir, scratch)
    return _manifest_accounting_df(spark, shards)


def _shard_ingest_stream_sql() -> str:
    from ..operators.pipeline import PACK_BUDGET, _packing_sql
    from ..sources.shard_writer import SEQS_PER_SHARD, SHARD_TOKEN_BUDGET

    packed = _packing_sql(
        "length(text) - length(regexp_replace(text, ' ', '', 'g')) + 1",
        from_rel="si_kept",
    )
    return f"""
    WITH si_q AS (
        SELECT doc_id FROM ({_TA_SQL["quality_score"]}) WHERE keep
    ),
    si_kept AS (
        SELECT d.* FROM documents d
        WHERE d.doc_id IN (SELECT doc_id FROM si_q)
    ),
    si_packed AS ({packed})
    SELECT lang, shard, seq_id // {SEQS_PER_SHARD} AS shard_file,
           CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           (count(DISTINCT seq_id) <= {SEQS_PER_SHARD}
            AND (sum(n_tokens) <= {SHARD_TOKEN_BUDGET}
                 OR max(n_tokens) > {PACK_BUDGET})) AS within_budget
    FROM si_packed
    GROUP BY lang, shard, seq_id // {SEQS_PER_SHARD}
    """


ORACLE_SQL["shard_ingest_stream"] = _shard_ingest_stream_sql()


def q_shard_ingest_stream_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shard_ingest_stream's RAW-HTML twin (round 10): the drop
    directory holds crawl pages; the ingest stream extracts main
    content (stage 0) before the quality filter, and the committed
    shard manifest is accounted exactly like the batch path. The
    oracle shadows the documents view with the extraction chain and
    re-derives the packing -- a sweep hash match proves
    HTML -> extract -> quality -> pack -> shard-commit end to end in
    ONE registered number."""
    from ..operators.html_extract import synth_pages

    def build() -> str:
        scratch = tempfile.mkdtemp(prefix="mrfs-html-shards-")
        synth_pages(load_table(spark, sf_dir, "documents")).coalesce(
            1
        ).write.mode("append").parquet(os.path.join(scratch, "drop"))
        return scratch

    scratch = table_memo(sf_dir, "shard_ingest_stream_html", build)
    shards = stream_ingest_training_shards(
        spark,
        sf_dir,
        os.path.join(scratch, "work"),
        source_dir=os.path.join(scratch, "drop"),
    )
    return _manifest_accounting_df(spark, shards)


def _shard_ingest_stream_html_sql() -> str:
    from ..operators.html_extract import (
        extracted_documents_sql,
        synth_html_expr,
    )

    return f"""
    WITH sih_pages AS (
        SELECT doc_id, {synth_html_expr()} AS html, lang, source
        FROM main.documents
    ),
    documents AS ({extracted_documents_sql('sih_pages')})
    SELECT * FROM ({_shard_ingest_stream_sql()})
    """


ORACLE_SQL["shard_ingest_stream_html"] = _shard_ingest_stream_html_sql()


# ---------------------------------------------------------------------------
# EPOCHAL streaming ingest: the unbounded-corpus shape. A crawl drop
# directory grows over time; each availableNow drain picks up ONLY the
# new files (the stream checkpoint remembers processed files) and
# commits their quality-pass rows as the next EPOCH -- an independent,
# crash-safe shard directory. Round 10 closes two gaps the r9 verdict
# named: (1) the drop directory may now contain RAW HTML pages
# (doc_id, html, lang, source) -- the main-content extractor runs as
# a stateless projection inside the ingest stream, so the sink holds
# extracted documents (VERDICT r9 ask #1's streaming leg); (2) each
# wave is near-dup-checked AGAINST THE COMMITTED INDEX of all earlier
# epochs (the dedup_incremental band-index pattern) before packing --
# a wave-2 near-duplicate of a wave-1 document is dropped, and the
# survivors' band signatures + shingle sets are committed WITH the
# epoch (the same atomic rename), so the index append inherits the
# epoch's crash safety (VERDICT r9 ask #2). Training consumes epochs
# in order (iter_epoch_shards); no epoch is ever repacked, so the
# pipeline rides a continuously arriving corpus with bounded
# incremental work per wave: signatures are computed for the WAVE
# only, the index side is a pure parquet read, and the probe is a
# banded equi-join -- never a corpus rescan.
# ---------------------------------------------------------------------------

#: Exact-verify threshold of the cross-epoch near-dup check -- the
#: module-wide MinHash/LSH confirmation rule (operators/dedup.py).
EPOCH_DEDUP_THRESHOLD = 0.7


def _arriving_stream(
    spark: SparkSession,
    source_dir: str,
    *,
    is_raw_pages: bool | None = None,
) -> DataFrame:
    """File stream over a drop directory, with the ONE raw-page
    detection rule both ingest legs share: a source is raw crawl pages
    -- and gets the main-content extractor as a stateless projection
    (stage 0) -- only when its schema carries an ``html`` column AND
    no ``text`` column (ADVICE r10 #4: an already-extracted documents
    drop that happens to also carry html must NOT be silently
    re-extracted over its text). Callers that know the answer pass
    ``is_raw_pages`` explicitly; schema detection is only the
    default."""
    schema = spark.read.parquet(source_dir).schema
    arriving = spark.readStream.schema(schema).parquet(source_dir)
    if is_raw_pages is None:
        names = schema.fieldNames()
        is_raw_pages = "html" in names and "text" not in names
    if is_raw_pages:
        from ..operators.html_extract import extracted_documents_from

        arriving = extracted_documents_from(arriving)
    return arriving


#: Tiered-compaction fanout of the cross-epoch dedup index: when this
#: many live index units share a tier, they merge into ONE unit a tier
#: up. The probe therefore reads at most FANOUT-1 units per tier x
#: log_FANOUT(epochs) tiers -- listing/footer cost is O(log N) in
#: epoch count instead of O(N) (VERDICT r10 ask #1: the per-epoch dir
#: accretion was the classic streaming small-files killer), and total
#: rewrite work is O(N log N / FANOUT) amortized -- never the
#: O(N^2/K) of rewrite-the-one-big-generation-every-K.
EPOCH_INDEX_FANOUT = 8

#: Probe-horizon retention for per-epoch index dirs (VERDICT r11 ask
#: #3). Compaction bounds PROBE cost, but every epoch's own index dir
#: was retained forever to anchor history-subset probes -- ~2x index
#: storage plus unbounded directory count at thousands of epochs.
#: With a horizon H, an epoch's own index dir is GC'd once the epoch
#: is (a) covered by an accepted compaction generation AND (b) older
#: than the H newest epochs.  Full-corpus probes are unaffected
#: (generations carry the coverage); a history-subset probe whose
#: epochs all sit inside the horizon still resolves from the retained
#: dirs; one that needs a GC'd dir fails LOUDLY (RuntimeError via the
#: tombstone) instead of silently under-deduplicating.  None = retain
#: everything (the pre-r12 behavior and the default).
EPOCH_INDEX_RETAIN: int | None = None


def _live_index_units(work_dir: str, prev_dirs: list) -> list:
    """The dedup-index units the probe must read, resolved from disk:
    committed compaction GENERATIONS (newest first -- a generation
    whose covered-epoch set is a subset of newer generations' union is
    superseded, the torn-GC window of a crash between a compaction's
    commit rename and its input delete) plus every committed epoch's
    own index dir NOT covered by an accepted generation. ``prev_dirs``
    BOUNDS the probed corpus: a generation is accepted only when its
    covers sit entirely inside prev_dirs (review finding r11 -- a
    caller probing a history subset must not see later epochs folded
    into a generation; the covered epochs' own index dirs are never
    deleted, so the subset still resolves). Returns ``(index_dir,
    tier, covers, is_generation)`` tuples; covers are epoch basenames
    and are pairwise DISJOINT across accepted units (the invariant
    tiered merges preserve)."""
    prev_names = {os.path.basename(d) for d in prev_dirs}
    gens_root = os.path.join(work_dir, "dedup-index")
    gens = []
    if os.path.isdir(gens_root):
        for name in sorted(os.listdir(gens_root), reverse=True):
            if not name.startswith("gen-") or name.endswith(".staging"):
                continue
            d = os.path.join(gens_root, name)
            try:
                with open(os.path.join(d, "covers.json")) as fh:
                    meta = json.load(fh)
            except FileNotFoundError:
                continue
            gens.append((d, meta))
    units = []
    covered: set = set()
    for d, meta in gens:  # descending seq: newest shadows older
        cov = set(meta["covers"])
        if not cov <= prev_names:
            continue  # covers epochs outside the caller's bound
        if cov <= covered:
            continue  # superseded (crash before input GC)
        units.append((d, int(meta["tier"]), cov, True))
        covered |= cov
    for d in prev_dirs:
        base = os.path.basename(d)
        if base in covered:
            continue
        if os.path.exists(os.path.join(d, "index.tombstone")):
            # the probe NEEDS this epoch's own index (no accepted
            # generation covers it under the caller's bound) but the
            # retention horizon GC'd it: fail loudly -- silently
            # skipping would under-deduplicate (r12 retention rule)
            raise RuntimeError(
                f"history-subset probe needs epoch {base}'s own index, "
                "but it was garbage-collected under the "
                "EPOCH_INDEX_RETAIN probe horizon; re-run against the "
                "full corpus or raise the horizon"
            )
        if os.path.isdir(os.path.join(d, "index", "bands")):
            units.append((os.path.join(d, "index"), 0, {base}, False))
    return units


def _retain_epoch_indexes(work_dir: str, retain: int) -> int:
    """GC per-epoch index dirs past the probe horizon: an epoch older
    than the ``retain`` newest whose basename is covered by an
    ACCEPTED generation (full-corpus acceptance: subset rule over all
    committed epochs, superseded generations skipped) loses its own
    ``index`` dir.  Torn-GC discipline: the ``index.tombstone`` marker
    is committed FIRST (tmp + atomic replace), then the dir is
    removed; a crash in between leaves tombstone + dir, and the
    tombstone wins deterministically (the next call finishes the
    rmtree, probes never read a tombstoned dir).  Returns the number
    of index dirs collected; idempotent."""
    import shutil

    prev_dirs = _committed_epoch_dirs(work_dir)
    units = _live_index_units(work_dir, prev_dirs)
    gen_covered: set = set()
    for _, _, cov, is_gen in units:
        if is_gen:
            gen_covered |= cov
    protected = {
        os.path.basename(d)
        for d in prev_dirs[max(0, len(prev_dirs) - retain) :]
    }
    collected = 0
    for d in prev_dirs:
        base = os.path.basename(d)
        idx = os.path.join(d, "index")
        tomb = os.path.join(d, "index.tombstone")
        if os.path.exists(tomb):
            if os.path.isdir(idx):  # finish a torn GC
                shutil.rmtree(idx, ignore_errors=True)
            continue
        if base in protected or base not in gen_covered:
            continue
        if not os.path.isdir(idx):
            continue
        tmp = tomb + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"gc": "probe-horizon", "retain": retain}, fh)
        os.replace(tmp, tomb)
        shutil.rmtree(idx, ignore_errors=True)
        collected += 1
    return collected


def _committed_epoch_dirs(work_dir: str) -> list:
    return [
        os.path.join(work_dir, name)
        for name in sorted(os.listdir(work_dir))
        if name.startswith("epoch-") and not name.endswith(".staging")
    ]


def _compact_epoch_index(
    spark: SparkSession, work_dir: str, retain_epochs: int | None = None
) -> int:
    """Size-tiered merge of the cross-epoch dedup index (VERDICT r10
    ask #1): whenever EPOCH_INDEX_FANOUT live units share a tier, the
    oldest FANOUT of them are rewritten into one generation a tier up
    under the SAME commit discipline as epochs -- build into
    ``gen-N.staging``, one atomic rename commits bands + toks +
    covers.json together. Inputs that are generations are deleted
    after the commit (a crash in between leaves them superseded --
    harmless double-reads the subset rule in _live_index_units skips
    and the next compaction garbage-collects); inputs that are EPOCH
    index dirs are never touched (they are part of the epoch's own
    atomic commit) -- coverage makes the probe skip them. Returns the
    number of merges performed; idempotent on re-entry at any crash
    point."""
    import shutil

    gens_root = os.path.join(work_dir, "dedup-index")
    if os.path.isdir(gens_root):
        for name in os.listdir(gens_root):
            if name.endswith(".staging"):  # torn compaction: orphan
                shutil.rmtree(
                    os.path.join(gens_root, name), ignore_errors=True
                )
    merges = 0
    while True:
        prev_dirs = _committed_epoch_dirs(work_dir)
        units = _live_index_units(work_dir, prev_dirs)
        # GC generations superseded by the accepted set (torn-GC window)
        if os.path.isdir(gens_root):
            live = {d for d, _, _, is_gen in units if is_gen}
            for name in sorted(os.listdir(gens_root)):
                d = os.path.join(gens_root, name)
                if (
                    name.startswith("gen-")
                    and not name.endswith(".staging")
                    and d not in live
                ):
                    shutil.rmtree(d, ignore_errors=True)
        by_tier: dict[int, list] = {}
        for u in units:
            by_tier.setdefault(u[1], []).append(u)
        tier = next(
            (
                t
                for t in sorted(by_tier)
                if len(by_tier[t]) >= EPOCH_INDEX_FANOUT
            ),
            None,
        )
        if tier is None:
            if retain_epochs is None:
                retain_epochs = EPOCH_INDEX_RETAIN
            if retain_epochs is not None:
                _retain_epoch_indexes(work_dir, retain_epochs)
            return merges
        # deterministic pick: the FANOUT units covering the OLDEST epochs
        inputs = sorted(by_tier[tier], key=lambda u: min(u[2]))[
            :EPOCH_INDEX_FANOUT
        ]
        os.makedirs(gens_root, exist_ok=True)
        seqs = [
            int(n.split("-")[1])
            for n in os.listdir(gens_root)
            if n.startswith("gen-") and not n.endswith(".staging")
        ]
        gen_dir = os.path.join(gens_root, f"gen-{max(seqs, default=-1) + 1:05d}")
        staging = gen_dir + ".staging"
        for sub in ("bands", "toks"):
            spark.read.parquet(
                *[os.path.join(d, sub) for d, _, _, _ in inputs]
            ).write.mode("overwrite").parquet(os.path.join(staging, sub))
        covers = sorted(set().union(*[cov for _, _, cov, _ in inputs]))
        with open(os.path.join(staging, "covers.json"), "w") as fh:
            json.dump({"tier": tier + 1, "covers": covers}, fh)
        os.rename(staging, gen_dir)  # atomic: bands+toks+covers commit
        for d, _, _, is_gen in inputs:
            if is_gen:
                shutil.rmtree(d, ignore_errors=True)
        merges += 1


def _epoch_near_dup_drops(
    spark,
    work_dir: str,
    prev_dirs: list,
    batch_bands: DataFrame,
    batch_toks: DataFrame,
):
    """doc_ids of the wave with a confirmed (jaccard >= {thr})
    near-duplicate in ANY committed epoch's persisted band index.
    Linear in the wave: the wave's signatures/shingles arrive
    precomputed, the corpus side is read from the committed index
    parquet -- compacted generations plus uncovered epoch dirs, at
    most ~FANOUT x log_FANOUT(epochs) parquet dirs -- and the wave
    probes it through ``jaccard_pairs``."""
    index_dirs = [
        d for d, _, _, _ in _live_index_units(work_dir, prev_dirs)
    ]
    if not index_dirs:
        return None

    def index(sub):
        return spark.read.parquet(*[os.path.join(d, sub) for d in index_dirs])

    return (
        jaccard_pairs(
            batch_bands,
            batch_toks,
            index("bands"),
            index("toks"),
            EPOCH_DEDUP_THRESHOLD,
        )
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )


_epoch_near_dup_drops.__doc__ = _epoch_near_dup_drops.__doc__.format(
    thr=EPOCH_DEDUP_THRESHOLD
)


def _intra_wave_drops(batch_bands: DataFrame, batch_toks: DataFrame):
    """doc_ids dropped by the WITHIN-wave near-dup pass: a doc is
    dropped iff it confirms (jaccard >= {thr}) against ANY lower
    doc_id in the same wave -- the greedy keeper-is-min rule. For
    cliques this equals dedup_clusters' component-min keeper; for
    chains it drops every non-minimal member (conservative: a chain
    doc that only transitively near-dups the keeper still goes --
    duplicates are worse for training than a slightly smaller epoch).
    Greedy over CC here because the rule is single-pass, needs no
    iteration inside the ingest path, and is exactly expressible in
    the ledger oracle's SQL."""
    return (
        jaccard_pairs(
            batch_bands,
            batch_toks,
            batch_bands,
            batch_toks,
            EPOCH_DEDUP_THRESHOLD,
            self_join=True,
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )


_intra_wave_drops.__doc__ = _intra_wave_drops.__doc__.format(
    thr=EPOCH_DEDUP_THRESHOLD
)


def _write_epoch_index(
    staging: str, bands: DataFrame, toks: DataFrame, survivor_ids: DataFrame
) -> None:
    """Persist the epoch's contribution to the cross-epoch dedup index
    into the staging dir (committed atomically with the epoch rename):
    the wave's PRECOMPUTED band signatures / shingle sets filtered to
    the survivors -- signatures are a deterministic pure function of
    the text, so filtering the wave relations equals recomputing from
    the committed input, without a second shingle pass."""
    bands.join(survivor_ids, "doc_id").write.mode("overwrite").parquet(
        os.path.join(staging, "index", "bands")
    )
    toks.join(survivor_ids, "doc_id").write.mode("overwrite").parquet(
        os.path.join(staging, "index", "toks")
    )


def stream_ingest_epoch(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    *,
    retain_epochs: int | None = None,
) -> str | None:
    """Drain new files from ``source_dir`` (documents, or raw HTML
    pages -- detected by the schema), extract + quality-filter them in
    the stream, near-dup-check the wave against the committed epochs'
    band index, and commit the survivors as the next epoch; returns
    the committed epoch directory, or None when nothing new arrived.
    Idempotent: re-entry after a crash at any layer finishes exactly
    one epoch.  ``retain_epochs`` sets the probe-horizon retention of
    per-epoch index dirs (see EPOCH_INDEX_RETAIN; None = module
    default, which defaults to retain-everything)."""
    import shutil

    from ..operators.text_analysis import quality_keep_expr
    from ..sources.shard_writer import is_committed, write_training_shards

    os.makedirs(work_dir, exist_ok=True)
    # finish a torn epoch first: input committed but shards not
    for name in sorted(os.listdir(work_dir)):
        if name.startswith("epoch-") and not name.endswith(".staging"):
            d = os.path.join(work_dir, name)
            if os.path.isdir(os.path.join(d, "input")) and not is_committed(
                os.path.join(d, "shards")
            ):
                write_training_shards(
                    spark,
                    spark.read.parquet(os.path.join(d, "input")),
                    os.path.join(d, "shards"),
                )
                return d
        if name.endswith(".staging"):  # torn input write: orphan
            shutil.rmtree(os.path.join(work_dir, name), ignore_errors=True)

    ingest = os.path.join(work_dir, "ingest")
    ckpt = os.path.join(work_dir, "ingest-ckpt")
    kept = _arriving_stream(spark, source_dir).filter(quality_keep_expr())
    query = (
        kept.writeStream.format("parquet")
        .option("path", ingest)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    if not os.path.isdir(ingest):
        return None
    # Per-wave watermark: the new epoch's rows are exactly the sink
    # files COMMITTED to _spark_metadata (the transaction log -- orphan
    # part files from a crashed micro-batch are invisible) minus the
    # files earlier epochs recorded (epoch-*/ingest_files.json, written
    # atomically with the epoch). Work per wave is proportional to the
    # wave's own arrivals, not the accumulated corpus.
    committed_files = _committed_ingest_files(ingest)
    prev_dirs = [
        os.path.join(work_dir, name)
        for name in sorted(os.listdir(work_dir))
        if name.startswith("epoch-") and not name.endswith(".staging")
    ]
    consumed: set = set()
    for d in prev_dirs:
        with open(os.path.join(d, "ingest_files.json")) as fh:
            consumed.update(json.load(fh))
    for name in sorted(os.listdir(work_dir)):
        if name.startswith("consumed-") and name.endswith(".json"):
            with open(os.path.join(work_dir, name)) as fh:
                consumed.update(json.load(fh))
    new_files = sorted(set(committed_files) - consumed)
    if not new_files:
        return None
    new_rows = spark.read.parquet(
        *[os.path.join(ingest, f) for f in new_files]
    )
    if new_rows.isEmpty():
        return None
    # cross-epoch near-dup check: wave N vs the committed index of
    # waves 1..N-1 (VERDICT r9 ask #2). The wave is shingled ONCE and
    # its bands derive from the persisted shingle sets; both are
    # persisted for the two probes and the index write. No repartition:
    # the scan layout sets the index's file count.
    toks = _shingle_sets(new_rows).persist()
    bands = lsh_bands(toks).persist()
    survivors = None
    try:
        # within-wave pass first (greedy keeper-is-min); the
        # cross-epoch probe then runs over the INTRA SURVIVORS only
        # (an intra-dropped copy can never be a survivor, so probing
        # it against the index is wasted join + jaccard work)
        intra = _intra_wave_drops(bands, toks)
        surv_bands = bands.join(intra, "doc_id", "left_anti")
        surv_toks = toks.join(intra, "doc_id", "left_anti")
        survivors = new_rows.join(intra, "doc_id", "left_anti")
        drops = _epoch_near_dup_drops(
            spark, work_dir, prev_dirs, surv_bands, surv_toks
        )
        if drops is not None:
            survivors = survivors.join(drops, "doc_id", "left_anti")
        # persist: the survivor lineage (two anti-joins over the dedup
        # joins) is consumed up to four times below (isEmpty, input
        # write, two index writes) -- without the pin each action
        # would re-execute the joins
        survivors = survivors.persist()
        if survivors.isEmpty():
            # the whole wave near-duplicated earlier epochs: no epoch
            # dir (the ledger reports committed epochs only, matching
            # the oracle's nonempty-wave numbering), but the watermark
            # MUST advance or the files would be re-deduped forever --
            # a tombstone records them as consumed (atomic tmp+rename;
            # a crash before it just re-runs this dedup to the same
            # empty result)
            tomb = os.path.join(
                work_dir, f"consumed-{len(new_files):08d}-{new_files[0]}.json"
            )
            tmp = tomb + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(new_files, fh)
            os.replace(tmp, tomb)
            return None
        epoch_dir = os.path.join(work_dir, f"epoch-{len(prev_dirs):05d}")
        staging = epoch_dir + ".staging"
        survivors.write.mode("overwrite").parquet(
            os.path.join(staging, "input")
        )
        _write_epoch_index(
            staging, bands, toks, survivors.select("doc_id")
        )
        with open(os.path.join(staging, "ingest_files.json"), "w") as fh:
            json.dump(new_files, fh)
        os.rename(staging, epoch_dir)  # atomic input+index+watermark commit
    finally:
        bands.unpersist()
        toks.unpersist()
        if survivors is not None:
            survivors.unpersist()
    write_training_shards(
        spark,
        spark.read.parquet(os.path.join(epoch_dir, "input")),
        os.path.join(epoch_dir, "shards"),
    )
    # size-tiered index maintenance AFTER the epoch is fully committed:
    # a crash anywhere in compaction leaves a complete epoch, and the
    # next wave's compaction call converges (staging orphaned,
    # superseded generations skipped by the subset rule then GC'd)
    _compact_epoch_index(spark, work_dir, retain_epochs=retain_epochs)
    return epoch_dir


def _committed_ingest_files(ingest: str) -> list[str]:
    """Basenames of the data files the parquet file sink has COMMITTED
    and not since retired: replays the _spark_metadata batch logs in
    version order from the latest compact snapshot, honoring each
    SinkFileStatus ``action`` -- 'add' marks a file live, 'delete'
    (emitted by retention in compact files on long-running sinks)
    retires it (ADVICE r9 #4: treating every line as an add would
    resurrect retired files as committed inputs)."""
    meta = os.path.join(ingest, "_spark_metadata")
    if not os.path.isdir(meta):
        return []

    def batch_id(name: str) -> int:
        return int(name.split(".")[0])

    names = [
        n
        for n in os.listdir(meta)
        if not n.startswith(".") and n.split(".")[0].isdigit()
    ]
    compacts = [n for n in names if n.endswith(".compact")]
    if compacts:
        # a compact file snapshots the full live set up to its batch:
        # replay it plus every later delta
        start = max(batch_id(n) for n in compacts)
        names = [
            n
            for n in names
            if batch_id(n) > start
            or (batch_id(n) == start and n.endswith(".compact"))
        ]
    alive: dict[str, bool] = {}
    for name in sorted(names, key=batch_id):
        with open(os.path.join(meta, name)) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                path = entry.get("path")
                if not path:
                    continue
                base = os.path.basename(path)
                alive[base] = entry.get("action", "add") != "delete"
    return sorted(b for b, live in alive.items() if live)


def iter_epoch_shards(spark, work_dir: str, alpha: float | None = None):
    """Yield (epoch_dir, entry, DataFrame) across the COMMITTED epoch
    prefix in arrival order -- the resumable loader of a continuously-
    growing corpus (within each epoch, the mixture-weighted WFQ order).
    A torn epoch (input committed, shards not yet -- the crash window
    stream_ingest_epoch re-entry finishes) STOPS the iteration at the
    committed frontier rather than crashing or skipping past a gap."""
    from ..sources.shard_writer import is_committed, iter_training_shards

    for name in sorted(os.listdir(work_dir)):
        if not name.startswith("epoch-") or name.endswith(".staging"):
            continue
        d = os.path.join(work_dir, name)
        if not is_committed(os.path.join(d, "shards")):
            return  # the frontier: later epochs must not jump the gap
        for entry, df in iter_training_shards(
            spark, os.path.join(d, "shards"), alpha=alpha
        ):
            yield d, entry, df


def q_shard_epoch_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered surface: a deterministic two-wave arrival of RAW
    HTML PAGES (even doc_ids land first, odd doc_ids later) through
    the epochal ingest -- extraction in the stream, quality filter,
    cross-epoch near-dup check of wave 1 against wave 0's committed
    band index, packing; returns one accounting row per epoch from the
    COMMITTED manifests. The oracle recomputes extraction, the quality
    split, the MinHash band candidates + jaccard confirmation, and
    both epochs' packing from the parity rule alone -- a sweep hash
    match proves the growing-HTML-corpus path end to end."""
    from ..operators.html_extract import synth_pages
    from ..sources.shard_writer import read_manifest

    def build() -> str:
        # a FRESH dir per build, memoized only once both waves are in:
        # a crash mid-build must not poison later calls with a
        # half-built source (re-entry would skip ingestion or
        # duplicate waves)
        scratch = tempfile.mkdtemp(prefix="mrfs-epochs-")
        source = os.path.join(scratch, "source")
        work = os.path.join(scratch, "work")
        pages = synth_pages(load_table(spark, sf_dir, "documents"))
        pages.filter("doc_id % 2 = 0").coalesce(1).write.mode(
            "append"
        ).parquet(source)
        stream_ingest_epoch(spark, source, work)
        pages.filter("doc_id % 2 = 1").coalesce(1).write.mode(
            "append"
        ).parquet(source)
        stream_ingest_epoch(spark, source, work)
        return scratch

    work = os.path.join(table_memo(sf_dir, "shard_epoch_ledger", build), "work")
    rows = []
    for name in sorted(os.listdir(work)):
        if not name.startswith("epoch-") or name.endswith(".staging"):
            continue
        m = read_manifest(os.path.join(work, name, "shards"))
        rows.append(
            (
                int(name.split("-")[1]),
                m["total_docs"],
                m["total_tokens"],
                m["n_shard_files"],
            )
        )
    return spark.createDataFrame(
        rows,
        "epoch int, n_docs bigint, n_tokens bigint, n_shard_files bigint",
    )


def _shard_epoch_ledger_sql() -> str:
    from ..operators.dedup import _MINHASH_CTE, _SH
    from ..operators.html_extract import (
        extracted_documents_sql,
        synth_html_expr,
    )
    from ..operators.pipeline import _packing_sql
    from ..sources.shard_writer import SEQS_PER_SHARD

    ntok = "length(text) - length(regexp_replace(text, ' ', '', 'g')) + 1"
    # wave 0 = even quality-pass extracted docs minus WITHIN-wave
    # near-dups (greedy keeper-is-min); wave 1 = odd quality-pass
    # extracted docs minus within-wave near-dups minus confirmed
    # near-dups of wave-0 SURVIVORS (the committed band index holds
    # survivors only)
    parts = []
    for wave, extra in (
        (0, "AND d.doc_id NOT IN (SELECT doc_id FROM ep_intra0)"),
        (1, "AND d.doc_id NOT IN (SELECT doc_id FROM ep_intra1) "
            "AND d.doc_id NOT IN (SELECT doc_id FROM ep_cross1)"),
    ):
        packed = _packing_sql(ntok, from_rel=f"ep{wave}_docs")
        parts.append(f"""
    ep{wave}_docs AS (
        SELECT d.* FROM documents d
        WHERE d.doc_id % 2 = {wave}
          AND d.doc_id IN (SELECT doc_id FROM ep_q)
          {extra}
    ),
    ep{wave}_packed AS ({packed}),
    ep{wave}_row AS (
        SELECT CAST({wave} AS INT) AS wave,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT (lang, shard, seq_id // {SEQS_PER_SHARD}))
                    AS BIGINT) AS n_shard_files
        FROM ep{wave}_packed
    )""")
    # epochs number the NONEMPTY waves in arrival order (an all-empty
    # or all-deduped wave commits no epoch dir engine-side -- the
    # tombstone advances the watermark -- so it gets no epoch number)
    return f"""
    WITH ep_pages AS (
        SELECT doc_id, {synth_html_expr()} AS html, lang, source
        FROM main.documents
    ),
    documents AS ({extracted_documents_sql('ep_pages')}),
    ep_q AS (
        SELECT doc_id FROM ({_TA_SQL["quality_score"]}) WHERE keep
    ),{_MINHASH_CTE},
    ep_cand AS (
        SELECT DISTINCT a.doc_id AS lo, b.doc_id AS hi
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        WHERE a.doc_id IN (SELECT doc_id FROM ep_q)
          AND b.doc_id IN (SELECT doc_id FROM ep_q)
    ),
    ep_tsets AS (
        SELECT doc_id, list_sort({_SH}) AS toks FROM documents
    ),
    ep_pairs AS (
        SELECT lo, hi
        FROM ep_cand
        JOIN ep_tsets ta ON ta.doc_id = lo
        JOIN ep_tsets tb ON tb.doc_id = hi
        WHERE len(list_intersect(ta.toks, tb.toks))
                 / len(list_distinct(list_concat(ta.toks, tb.toks)))
              >= {EPOCH_DEDUP_THRESHOLD}
    ),
    ep_intra0 AS (
        SELECT DISTINCT hi AS doc_id FROM ep_pairs
        WHERE lo % 2 = 0 AND hi % 2 = 0
    ),
    ep_intra1 AS (
        SELECT DISTINCT hi AS doc_id FROM ep_pairs
        WHERE lo % 2 = 1 AND hi % 2 = 1
    ),
    ep_cross1 AS (
        SELECT DISTINCT CASE WHEN lo % 2 = 1 THEN lo ELSE hi END AS doc_id
        FROM ep_pairs
        WHERE (lo % 2) <> (hi % 2)
          AND (CASE WHEN lo % 2 = 0 THEN lo ELSE hi END)
              NOT IN (SELECT doc_id FROM ep_intra0)
    ),{",".join(parts)},
    ep_waves AS (
        SELECT * FROM ep0_row UNION ALL SELECT * FROM ep1_row
    )
    SELECT CAST(row_number() OVER (ORDER BY wave) - 1 AS INT) AS epoch,
           n_docs, n_tokens, n_shard_files
    FROM ep_waves
    WHERE n_docs > 0
    """


ORACLE_SQL["shard_epoch_ledger"] = _shard_epoch_ledger_sql()


def q_extract_text_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction at ingest: the crawl pipeline's step 0
    as a stateless narrow projection per arriving page, append mode --
    the SAME Catalyst expression chain as the batch operator, so the
    registered oracle (the batch derivation) proves stream == batch."""
    from ..operators.html_extract import extract_text

    docs = read_documents_stream(spark, sf_dir)
    return run_to_memory(extract_text(docs), output_mode="append")


from ..operators.html_extract import ORACLE_SQL as _HX_SQL  # noqa: E402

ORACLE_SQL["extract_text_stream"] = _HX_SQL["extract_text"]
