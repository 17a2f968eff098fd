"""To add a query, add one ``_TABLE`` entry: its name, its operator module,
its input tables, and ``fn=``/``oracle=``/constant keyword arguments only
where they differ from the defaults (``getattr(module, name)`` and
``module.ORACLE_SQL.get(name)``, None meaning a rows-only check).
A query of any other shape is an explicit ``(spark, sf_dir) -> DataFrame``
function passed to ``register``."""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import curation
from .operators import (apps, audio, clustering, dedup, fuzzy, graph, html_extract,
                        incremental, kv, langid, langid_union, layout,
                        mpeg_audio, multimodal, pipeline, reshape, similarity, sketch,
                        temporal, text_analysis, video_meta)
from .operators import relational as rel
from .session import normalize_runtime_conf
from .sources import shard_writer
from .sources.io import load_table, table_memo
from .streaming import ops as streaming_ops


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None


REGISTRY: dict[str, Query] = {}


def materialize_ctes(sql: str | None) -> str | None:
    """Add DuckDB's ``AS MATERIALIZED`` hint to every CTE of an oracle
    query (r13, guide §1 measure-first applied to the VERIFY side):
    DuckDB inlines CTEs by default, so the deeply composed funnel
    oracles re-evaluated shared relations per reference -- measured at
    sf0.001: curation_run_ledger 297 s -> 2.4 s, mmr_rerank_ann
    66 -> 0.8 s, shard_epoch_ledger 70 -> 0.7 s, training_run_manifest
    29 -> 0.6 s, every compared row identical (the hint changes
    evaluation strategy, never semantics). Applied at the registry
    boundary so the declared per-module ORACLE_SQL stays the readable
    spec; tests/oracle_util applies the same transform."""
    if not sql:
        return sql
    # lookahead pins the rewrite to CTE definitions (body starts with
    # SELECT/WITH/VALUES); named WINDOW clauses ("WINDOW w7 AS (...)")
    # share the "name AS (" shape but their body starts with
    # PARTITION/ORDER/frame keywords and must stay untouched
    return re.sub(
        r"(\w+) AS \((\s*)(?=SELECT|WITH|VALUES)",
        r"\1 AS MATERIALIZED (\2",
        sql,
        flags=re.IGNORECASE,
    )


def register(name: str, oracle: str | None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            normalize_runtime_conf(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = name
        wrapped.__doc__ = fn.__doc__
        REGISTRY[name] = Query(name, wrapped, materialize_ctes(oracle))
        return wrapped

    return deco


# (name, module, input tables[, overrides]): the query calls
# ``fn(*tables, **constant_kwargs)``.
_TABLE = [
    # MapReduce applications (SURVEY.md §2.B)
    ("wc", apps, "documents", dict(fn=apps.word_count)),
    ("wc_ws", apps, "documents", dict(fn=apps.word_count_ws)),
    ("inverted_index", apps, "documents"),
    ("crash_payload", apps, "documents"),
    ("per_doc_count", apps, "documents"),
    ("parallelism_probe", apps, "events"),
    # The salted two-phase aggregation must be output-identical to the
    # plain wc, so it shares wc's oracle -- the registered proof that the
    # skew rewrite preserves semantics.
    ("wc_salted", apps, "documents", dict(fn=apps.word_count_salted, oracle="wc")),
    # Relational suite (joins / windows / set ops / JSON / sessionization)
    ("q1_pricing_summary", rel, "lineitem"),
    ("q3_top_orders", rel, "customer orders lineitem"),
    ("q5_region_revenue", rel, "region nation customer supplier orders lineitem"),
    ("q4_order_priority", rel, "orders lineitem"),
    ("q7_volume_shipping", rel, "supplier lineitem orders customer nation"),
    ("q10_returned_items", rel, "customer orders lineitem nation"),
    ("q13_order_distribution", rel, "customer orders"),
    ("q14_promo_revenue", rel, "part lineitem"),
    ("top_supplier_revenue", rel, "supplier lineitem"),
    ("q2_min_cost_supplier", rel, "part supplier nation region lineitem"),
    ("q11_important_parts", rel, "supplier nation region lineitem"),
    ("q20_excess_suppliers", rel, "supplier nation region part lineitem"),
    ("q18_large_volume_customers", rel, "customer orders lineitem"),
    ("q8_market_share", rel, "part supplier lineitem orders customer nation region"),
    ("q9_product_profit", rel, "part supplier lineitem orders nation"),
    ("q12_shipping_delay", rel, "orders lineitem"),
    ("q16_supplier_part_variety", rel, "part lineitem"),
    ("q17_small_quantity_revenue", rel, "part lineitem"),
    ("q19_disjunctive_revenue", rel, "part lineitem"),
    ("q21_waiting_suppliers", rel, "supplier lineitem orders nation region"),
    ("q22_sales_opportunity", rel, "customer orders"),
    ("customers_without_orders", rel, "customer orders"),
    ("top_customers_per_segment", rel, "customer orders"),
    ("customer_running_totals", rel, "orders"),
    ("nation_set_ops", rel, "customer supplier nation"),
    ("events_hourly", rel, "events"),
    ("events_json_metrics", rel, "events"),
    ("user_sessions", rel, "events"),
    ("session_table", rel, "events"),
    ("user_tier_scd2", rel, "events"),
    ("user_recent_events", rel, "events"),
    ("revenue_rollup", rel, "orders customer nation"),
    ("order_priority_cube", rel, "orders"),
    ("scalar_function_suite", rel, "orders"),
    ("q6_forecast_revenue", rel, "lineitem"),
    ("part_revenue_by_brand", rel, "part lineitem"),
    ("events_value_percentiles", rel, "events"),
    ("revenue_grouping_sets", rel, "orders customer"),
    ("events_value_histogram", rel, "events"),
    ("customer_value_tiles", rel, "orders"),
    ("latest_event_per_user", rel, "events"),
    ("events_variant_metrics", rel, "events"),
    ("event_funnel", rel, "events"),
    ("event_transition_matrix", rel, "events"),
    ("weekly_retention_cohorts", rel, "events"),
    ("value_robust_stats", rel, "events"),
    ("value_gini_per_type", rel, "events"),
    ("value_k_correlation", rel, "events"),
    ("orders_profile", rel, "orders"),
    ("orders_profile_approx", rel, "orders"),
    ("daily_revenue_trend", rel, "orders"),
    ("daily_revenue_reconciliation", rel, "orders events"),
    # GK-sketch percentiles: merge order is partition-dependent =>
    # rows-only; rank-error envelope vs the exact twin pinned in
    # tests/test_round3_ops.py.
    ("events_value_percentiles_approx", rel, "events"),
    ("fk_integrity_audit", rel, "customer orders lineitem"),
    ("lineitem_checksum", rel, "lineitem"),
    ("part_affinity_rules", rel, "lineitem"),
    ("cohort_retention", temporal, "events"),
    ("events_asof_join", temporal, "events", dict(fn=temporal.events_asof_prior_view)),
    ("user_rolling_features", temporal, "events"),
    ("events_overlap_pairs", temporal, "events",
     dict(fn=temporal.interval_overlap_pairs)),
    ("user_daily_fill", temporal, "events", dict(fn=temporal.gapfill_daily)),
    ("events_anomaly_days", reshape, "events"),
    ("events_pivot", reshape, "events"),
    ("lineitem_unpivot", reshape, "lineitem"),
    ("orders_zorder_keys", layout, "orders"),
    ("fuzzy_part_pairs", fuzzy, "part", dict(fn=fuzzy.part_name_pairs)),
    # Incremental maintenance. Join-IVM is the four-term delta-join
    # identity J(A+dA, B+dB) = J(A,B) + J(dA,B) + J(A,dB) + J(dA,dB),
    # proven against the plain one-shot-join oracle by hash.
    ("incremental_daily_agg", incremental, "events"),
    ("incremental_join_maintenance", incremental, "orders lineitem"),
    # Sketch aggregates. The approximate twins use different hash
    # functions, so their estimates cannot hash-match DuckDB; they are
    # rows-only, with error and merge identity pinned in
    # tests/test_sketch.py.
    ("user_reach", sketch, "events", dict(fn=sketch.user_reach_exact)),
    ("user_reach_hll", sketch, "events"),
    ("user_reach_sketch", sketch, "events"),
    ("word_cms", sketch, "documents"),
    ("cms_heavy_hitters", sketch, "documents"),
    ("part_pagerank", graph, "lineitem"),
    ("part_kcore", graph, "lineitem"),
    ("part_triangle_counts", graph, "lineitem"),
    # Same shared-oracle trick as wc_salted for the iterative case:
    # PageRank with every per-iteration contribution aggregate salted
    # two-phase (hub nodes in a power-law graph otherwise pin one reducer)
    # must hash-match the plain PageRank under its unrolled-CTE oracle.
    ("part_pagerank_salted", graph, "lineitem", dict(oracle="part_pagerank")),
    # Text dedup
    ("exact_duplicates", dedup, "documents"),
    ("canonical_duplicates", dedup, "documents"),
    ("minhash_lsh_pairs", dedup, "documents"),
    ("simhash_signatures", dedup, "documents"),
    ("simhash_near_pairs", dedup, "documents"),
    ("source_overlap_report", dedup, "documents"),
    ("ngram_jaccard_pairs", dedup, "documents"),
    ("dedup_clusters", dedup, "documents"),
    ("boilerplate_chunks", dedup, "documents"),
    ("chunk_dedup_clean", dedup, "documents"),
    ("dedup_incremental", dedup, "documents"),
    ("dedup_ingest_replay", dedup, "documents"),
    ("dedup_method_agreement", dedup, "documents"),
    # Vector similarity and retrieval
    ("knn_brute_force", similarity, "embeddings"),
    ("ann_lsh", similarity, "embeddings"),
    ("ann_ivf", similarity, "embeddings"),
    ("top_similar_pairs", similarity, "embeddings"),
    ("ann_binary", similarity, "embeddings"),
    ("ann_recall_report", similarity, "embeddings documents"),
    ("hybrid_retrieval_rrf", similarity, "documents embeddings"),
    ("hybrid_retrieval_rrf_ann", similarity, "documents embeddings"),
    # Brute-force mmr_rerank is the exact-twin control of the ANN-backed
    # production path.
    ("mmr_rerank_ann", similarity, "documents embeddings"),
    ("mmr_rerank", similarity, "documents embeddings"),
    ("embedding_near_pairs", similarity, "embeddings"),
    ("embedding_dup_clusters", similarity, "embeddings"),
    ("hard_negative_mining", similarity, "embeddings"),
    # Clustering and product quantization
    ("kmeans_clusters", clustering, "embeddings", dict(fn=clustering.kmeans_lloyd)),
    ("kmeans_cluster_sizes", clustering, "embeddings"),
    ("pq_adc_topk", clustering, "embeddings"),
    ("embedding_whitening", clustering, "embeddings"),
    ("embedding_dim_stats", clustering, "embeddings"),
    ("ann_ivf_pq", clustering, "embeddings"),
    ("semdedup", clustering, "embeddings"),
    # Hashed document vectors, registered in atomic long form
    # (vec_id, d, val); the array form is the internal contract.
    ("doc_hash_embeddings", clustering, "documents",
     dict(fn=clustering.doc_hash_embeddings_long)),
    ("doc_semdedup", clustering, "documents"),
    ("ann_ivfadc", clustering, "embeddings"),
    ("ann_ivf_trained", clustering, "embeddings"),
    # Text analysis and data selection
    ("token_stats", text_analysis, "documents"),
    ("quality_score", text_analysis, "documents"),
    ("lang_id", text_analysis, "documents"),
    ("tfidf_top_terms", text_analysis, "documents"),
    ("bigram_stats", text_analysis, "documents"),
    ("stratified_sample", text_analysis, "documents"),
    ("quality_classifier_scores", text_analysis, "documents"),
    ("gopher_quality_filter", text_analysis, "documents"),
    ("duplicated_ngram_coverage", text_analysis, "documents"),
    ("exact_substr_dedup", text_analysis, "documents"),
    ("source_quality_report", text_analysis, "documents"),
    ("gopher_repetition_filter", text_analysis, "documents"),
    ("c4_quality_filter", text_analysis, "documents"),
    ("rule_filter_funnel", text_analysis, "documents"),
    # Full BPE tokenization is rows-only: merge replay is not SQL, and
    # the per-language fertility report aggregates it.
    ("bpe_tokenize_corpus", text_analysis, "documents"),
    ("bpe_fertility_by_lang", text_analysis, "documents"),
    # BPE round-trip identity, HASH-EXACT: encode + piece-concat decode
    # must reproduce the whitespace token join the oracle computes
    # without BPE.
    ("bpe_roundtrip_identity", text_analysis, "documents"),
    ("eval_neardup_contamination", text_analysis, "documents"),
    ("dsir_log_weights", text_analysis, "documents"),
    ("dsir_sample", text_analysis, "documents"),
    ("repetition_signals", text_analysis, "documents"),
    ("doc_chunks", text_analysis, "documents"),
    ("doc_commonness", text_analysis, "documents"),
    ("corpus_data_card", text_analysis, "documents"),
    ("bpe_top_merges", text_analysis, "documents"),
    ("ngram_contamination", text_analysis, "documents"),
    ("pii_scan", text_analysis, "documents"),
    ("pii_redact", text_analysis, "documents"),
    ("pii_doc_counts", text_analysis, "documents"),
    # CCNet head/middle/tail perplexity terciles, hash-exact via the
    # quantized-score policy (raw-double scorer stays rows-only).
    ("perplexity_buckets", text_analysis, "documents"),
    # Unigram-LM perplexity (CCNet-style quality): rows-only -- libm
    # log() ulps differ across engines, so the value contract is
    # pytest-pinned (1e-9 rel) instead of hash-matched.
    ("unigram_logprob_scores", text_analysis, "documents"),
    ("doc_fingerprints", text_analysis, "documents"),
    ("bm25_top_docs", text_analysis, "documents"),
    ("lang_temperature_plan", text_analysis, "documents"),
    ("lang_temperature_sample", text_analysis, "documents"),
    ("lang_confusion", text_analysis, "documents"),
    # HTML/markup -> text extraction: the crawl-intake edge.
    ("extract_text", html_extract, "documents"),
    ("extraction_report", html_extract, "documents"),
    ("extracted_quality_score", html_extract, "documents"),
    # Image and video perceptual hashes run the real codecs in Spark; the
    # oracle recomputes each hash from the pixel math alone, so equality
    # certifies the codec path end to end.
    ("image_dhash", multimodal, "documents"),
    ("image_text_dedup_agreement", multimodal, "documents"),
    ("image_dedup_clusters", multimodal, "documents"),
    ("image_dhash_pairs", multimodal, "documents"),
    # Image-dHash and text-MinHash find DISJOINT pair sets, so the dedup
    # decision clusters the UNION of both edge relations.
    ("cross_modal_dedup_clusters", multimodal, "documents"),
    ("multimodal_meta", multimodal, "documents"),
    ("multimodal_resize", multimodal, "documents"),
    # Fixed byte windows over the payload; the REAL video path is
    # video_frame_dhash.
    ("payload_byte_windows", multimodal, "documents"),
    ("video_frame_dhash", multimodal, "documents"),
    ("video_dedup_pairs", multimodal, "documents"),
    ("multimodal_dedup_agreement", multimodal, "documents"),
    # Baseline-JPEG codec proof: the oracle states the roundtrip identity
    # from md5 math without running JPEG; Spark earns the hash match by
    # actually encoding+decoding every document's image.
    ("jpeg_block_roundtrip", multimodal, "documents"),
    ("mjpeg_avi_frame_dhash", multimodal, "documents"),
    ("mjpeg_mp4_frame_dhash", multimodal, "documents"),
    ("codec_boundary_report", multimodal, "documents"),
    ("media_boundary_report", multimodal, "documents"),
    ("jpeg_progressive_roundtrip", multimodal, "documents"),
    ("jpeg_arith_roundtrip", multimodal, "documents"),
    ("jpeg_lossless_roundtrip", multimodal, "documents"),
    ("jpeg_12bit_roundtrip", multimodal, "documents"),
    ("jpeg_prog_arith_roundtrip", multimodal, "documents"),
    # Audio: real WAV/RIFF PCM (and FLAC) codec round trip; oracles
    # recompute features/fingerprints from md5 token bytes, certifying
    # the encoders and decoders end to end.
    ("audio_features", audio, "documents"),
    ("audio_features_flac", audio, "documents",
     dict(fn=audio.audio_features, codec="flac")),
    ("audio_features_flac_lpc", audio, "documents",
     dict(fn=audio.audio_features, codec="flac_lpc")),
    ("audio_features_flac_ms", audio, "documents",
     dict(fn=audio.audio_features, codec="flac_ms")),
    ("audio_features_wav_float", audio, "documents",
     dict(fn=audio.audio_features, codec="wav_float")),
    ("audio_fingerprints", audio, "documents"),
    ("audio_fingerprint_pairs", audio, "documents"),
    ("audio_fingerprints_robust", audio, "documents"),
    ("audio_robust_fp_pairs", audio, "documents"),
    # MPEG-1 audio: dependency-free Layer I/II codec + raw-bitstream
    # header walk; header-math columns oracle-exact, the lossy
    # reconstruction certified against pinned bounds (recon_ok).
    ("audio_features_mp1", mpeg_audio, "documents",
     dict(fn=mpeg_audio.audio_features_mpeg, layer=1)),
    ("audio_features_mp2", mpeg_audio, "documents",
     dict(fn=mpeg_audio.audio_features_mpeg, layer=2)),
    ("mpeg_stream_report", mpeg_audio, "documents"),
    ("video_meta_report", video_meta, "documents"),
    # Training-shard writer accounting: the oracle-checked view of what
    # sources/shard_writer.py materializes to disk.
    ("training_shard_accounting", shard_writer, "documents"),
    ("shard_read_schedule", shard_writer, "documents"),
    # End-to-end curation pipeline (composition showcase)
    ("training_run_manifest", pipeline, "documents"),
    ("clean_corpus", pipeline, "documents"),
    ("selection_method_agreement", pipeline, "documents"),
    ("data_mixture_plan", pipeline, "documents"),
    ("data_mixture_sample", pipeline, "documents"),
    ("data_mixture_temperature_plan", pipeline, "documents"),
    ("data_mixture_temperature_sample", pipeline, "documents"),
    # Shared-oracle twin (the wc_salted pattern): the 100 TB two-level
    # prefix-sum sample must hash-match the plain per-source-window form
    # under the SAME oracle.
    ("data_mixture_sample_scalable", pipeline, "documents",
     dict(oracle="data_mixture_sample")),
    ("data_mixture_realized", pipeline, "documents"),
    ("dedup_survivors", pipeline, "documents"),
    # The tokenized packing has its own oracle (same CTE, token counts
    # from token_stats instead of the separator heuristic).
    ("sequence_packing", pipeline, "documents"),
    ("sequence_packing_tokenized", pipeline, "documents"),
    ("corpus_split", pipeline, "documents"),
    ("leakage_safe_split", pipeline, "documents"),
    ("quality_deciles", pipeline, "documents"),
    ("curation_funnel", pipeline, "documents"),
    ("training_token_budget", pipeline, "documents"),
    # Dense global re-IDs: the window form is the semantic reference, and
    # the range-partition + offset form is the 100 TB plan, proven
    # bit-identical by sharing the window form's oracle.
    ("assign_doc_ids", pipeline, "documents"),
    ("assign_doc_ids_scalable", pipeline, "documents", dict(oracle="assign_doc_ids")),
]


def _bind(fn: Callable[..., DataFrame], tables: list[str], kwargs: dict):
    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(*(load_table(spark, sf_dir, t) for t in tables), **kwargs)

    return query


for _name, _mod, _tables, *_opts in _TABLE:
    _kwargs = dict(*_opts)
    _fn = _kwargs.pop("fn", None) or getattr(_mod, _name)
    _oracle = _mod.ORACLE_SQL.get(_kwargs.pop("oracle", _name))
    register(_name, _oracle)(_bind(_fn, _tables.split(), _kwargs))


# Structured Streaming queries (bounded availableNow runs; SURVEY.md §7)
# are (spark, sf_dir) functions already. The ingest streams carry their
# batch twin's oracle, so one hash proves stream == batch; user_cms_stream
# is the one approximate-family stream with an EXACT oracle (md5 hashes).
for _fn in (
    streaming_ops.q_events_hourly_stream,
    streaming_ops.q_events_distinct_types_stream,
    streaming_ops.q_user_activity_totals_stream,
    streaming_ops.q_purchase_view_join_stream,
    streaming_ops.q_events_sliding_stream,
    streaming_ops.q_user_session_windows_stream,
    streaming_ops.q_events_enriched_stream,
    streaming_ops.q_events_dedup_watermark_stream,
    streaming_ops.q_doc_quality_filter_stream,
    streaming_ops.q_dsir_score_stream,
    streaming_ops.q_rule_filter_stream,
    streaming_ops.q_image_dhash_stream,
    streaming_ops.q_audio_features_stream,
    streaming_ops.q_video_frame_dhash_stream,
    streaming_ops.q_langid_scores_stream,
    streaming_ops.q_shard_ingest_stream,
    streaming_ops.q_shard_ingest_stream_html,
    streaming_ops.q_shard_epoch_ledger,
    streaming_ops.q_user_cms_stream,
    streaming_ops.q_extract_text_stream,
):
    _name = _fn.__name__.removeprefix("q_")
    register(_name, streaming_ops.ORACLE_SQL[_name])(_fn)


# --------------------------------------------------------------------------
# Queries of other shapes
# --------------------------------------------------------------------------
@register("customers_with_big_orders", rel.ORACLE_SQL["customers_with_big_orders"])
def q_customers_with_big_orders(spark, sf_dir):
    return rel.customers_with_big_orders(
        spark,
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


@register("orders_vs_customer_avg", rel.ORACLE_SQL["orders_vs_customer_avg"])
def q_orders_vs_customer_avg(spark, sf_dir):
    return rel.orders_vs_customer_avg(spark, load_table(spark, sf_dir, "orders"))


@register("price_band_join", reshape.ORACLE_SQL["price_band_join"])
def q_price_band_join(spark, sf_dir):
    return reshape.price_band_join(spark, load_table(spark, sf_dir, "orders"))


# Versioned KV store fold (SURVEY.md §2.C) over the op log derived from
# events.
@register("kv_fold", kv.ORACLE_SQL["kv_fold"])
def q_kv_fold(spark, sf_dir):
    return kv.kv_fold(kv.kv_ops_from_events(load_table(spark, sf_dir, "events")))


@register("kv_final_state", kv.ORACLE_SQL["kv_final_state"])
def q_kv_final_state(spark, sf_dir):
    return kv.kv_final_state(kv.kv_ops_from_events(load_table(spark, sf_dir, "events")))


# Segmented fold shares kv_fold's recursive-CTE oracle: the bounded-memory
# rewrite (fixed-size history segments chained through a carried
# (value, version) state) must be row-identical to the monolithic replay.
@register("kv_fold_segmented", kv.ORACLE_SQL["kv_fold"])
def q_kv_fold_segmented(spark, sf_dir):
    return kv.kv_fold_segmented(
        kv.kv_ops_from_events(load_table(spark, sf_dir, "events"))
    )


@register("pq_codes", clustering.ORACLE_SQL["pq_codes"])
def q_pq_codes(spark, sf_dir):
    return clustering.serialize_codes(
        clustering.pq_codes(load_table(spark, sf_dir, "embeddings"))
    )


@register("pq_codes_trained", clustering.ORACLE_SQL["pq_codes_trained"])
def q_pq_codes_trained(spark, sf_dir):
    return clustering.serialize_codes(
        clustering.pq_codes_trained(load_table(spark, sf_dir, "embeddings"))
    )


# Trained language identification: hashed char-3-gram features through
# the integer-exact one-vs-rest logistic trainer; replaces the trusted
# corpus `lang` column with a computed prediction + an honest accuracy
# report. Every query reuses the per-table training trace.
@register("langid_train", langid.ORACLE_SQL["langid_train"])
def q_langid_train(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return langid.langid_train(docs, _trace=langid._trace_for_table(spark, sf_dir))


@register("langid_scores", langid.ORACLE_SQL["langid_scores"])
def q_langid_scores(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return langid.langid_scores(docs, _trace=langid._trace_for_table(spark, sf_dir))


@register("langid_accuracy", langid.ORACLE_SQL["langid_accuracy"])
def q_langid_accuracy(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return langid.langid_accuracy(docs, _trace=langid._trace_for_table(spark, sf_dir))


@register("langid_stratified_sample", langid.ORACLE_SQL["langid_stratified_sample"])
def q_langid_stratified_sample(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return langid.langid_stratified_sample(
        docs, _trace=langid._trace_for_table(spark, sf_dir)
    )


@register("langid_mixture_plan", langid.ORACLE_SQL["langid_mixture_plan"])
def q_langid_mixture_plan(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return langid.langid_mixture_plan(
        docs, _trace=langid._trace_for_table(spark, sf_dir)
    )


@register("langid_mixture_sample", langid.ORACLE_SQL["langid_mixture_sample"])
def q_langid_mixture_sample(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return langid.langid_mixture_sample(
        docs, _trace=langid._trace_for_table(spark, sf_dir)
    )


# The quality classifier trains through the same loop as langid, and its
# two queries share one trace per table the same way.
def _qct_trace(spark, sf_dir):
    return table_memo(
        sf_dir,
        ("quality_classifier", text_analysis.QCT_ITERS, text_analysis.QCT_LR),
        lambda: text_analysis.quality_classifier_train_trace(
            load_table(spark, sf_dir, "documents")
        ),
    )


@register("quality_classifier_train", text_analysis.ORACLE_SQL["quality_classifier_train"])
def q_quality_classifier_train(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.quality_classifier_train(docs, _trace=_qct_trace(spark, sf_dir))


@register(
    "quality_classifier_trained_scores",
    text_analysis.ORACLE_SQL["quality_classifier_trained_scores"],
)
def q_quality_classifier_trained_scores(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.quality_classifier_trained_scores(
        docs, _trace=_qct_trace(spark, sf_dir)
    )


# The sparse vector trainer (operators/langid_union.py) at two widths.
# Rows-only BY DESIGN: the unrolled training-trajectory oracle at these
# widths would be megabytes of SQL; correctness is carried by the
# bit-for-bit independent-Python pin (char-only and union features) plus
# dim=16 char-only equality to the hash-exact JVM trainer
# (tests/test_round10_ops.py::TestWideLangid,
# tests/test_round11_ops.py::TestUnionLangid).
@register("langid_scores_wide", None)
def q_langid_scores_wide(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return langid_union.langid_scores_wide_union(
        docs,
        dim=langid_union.WIDE_DIM,
        word_ngrams=(),
        _trained=langid_union.union_trained_for_table(
            spark, sf_dir, dim=langid_union.WIDE_DIM, word_ngrams=()
        ),
    )


@register("langid_scores_wide_union", None)
def q_langid_scores_wide_union(spark, sf_dir):
    # fastText-regime union: char-3 + word-1/word-2 grams hashed into
    # 65536 buckets
    docs = load_table(spark, sf_dir, "documents")
    return langid_union.langid_scores_wide_union(
        docs, _trained=langid_union.union_trained_for_table(spark, sf_dir)
    )


# Resumable end-to-end curation run: rules -> dedup -> decontamination ->
# split -> packing -> shard writer composed into ONE job under the
# job-manifest checkpoint; the registered query executes a REAL run into
# process-local scratch and returns its committed ledger.
@register("curation_run_ledger", curation.ORACLE_SQL["curation_run_ledger"])
def q_curation_run_ledger(spark, sf_dir):
    return curation.curation_run_ledger(
        spark, load_table(spark, sf_dir, "documents"), curation.scratch_for(sf_dir)
    )


# Sketch-merge identity as a registered query: two disjoint halves of the
# event log, sketched independently and unioned -- rows-only (sketch
# estimates use different hashes than DuckDB); equality with the
# whole-corpus sketch is pinned in tests/test_sketch.py.
@register("merged_reach", None)
def q_merged_reach(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return sketch.merged_reach(
        ev.filter(F.col("user_id") % 2 == 0),
        ev.filter(F.col("user_id") % 2 == 1),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
