"""Physical-plan quality gates: the properties that keep these queries fast
at 100 TB are asserted here so a refactor can't silently regress them.

Checks (per SURVEY.md §4.2 and the repo's scale notes):
* dimension joins broadcast (no sort-merge shuffle for small sides);
* filters reach the parquet scan (PushedFilters non-empty where expected);
* column pruning reaches the scan (ReadSchema contains only needed cols);
* no pairwise stage runs single-partition (the 1-file-scan trap);
* whole-stage codegen covers the relational pipelines.
"""

from __future__ import annotations

import re

import pytest

from map_reduce_framework_spark import registry

SF = "/root/testdata/sf0.001"


def _explain(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _formatted_plan(spark, name: str) -> str:
    return _explain(spark, registry.REGISTRY[name].fn(spark, SF))


@pytest.mark.parametrize(
    "name",
    [
        "q3_top_orders",
        "q5_region_revenue",
        "top_customers_per_segment",
        "q7_volume_shipping",
        "q10_returned_items",
    ],
)
def test_dimension_joins_broadcast(spark, name):
    plan = _formatted_plan(spark, name)
    assert "BroadcastHashJoin" in plan
    # At this SF every join should broadcast; no shuffle joins at all.
    assert "SortMergeJoin" not in plan


def test_q3_filters_push_to_scan(spark):
    plan = _formatted_plan(spark, "q3_top_orders")
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "l_shipdate" in pushed
    assert "o_orderdate" in pushed
    assert "c_mktsegment" in pushed


def test_q3_scans_prune_columns(spark):
    plan = _formatted_plan(spark, "q3_top_orders")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    li = next(s for s in schemas if "l_orderkey" in s)
    # lineitem has 10+ columns; the scan must read only the 4 used.
    assert sorted(c.split(":")[0] for c in li.split(",")) == [
        "l_discount",
        "l_extendedprice",
        "l_orderkey",
        "l_shipdate",
    ]


def test_q1_whole_stage_codegen(spark):
    """The scan->filter->project->partial-agg pipeline must fuse into
    generated code (an unfused interpreted pipeline is the 10x-slow path).
    AQE defers codegen until stage execution, so inspect with AQE off."""
    from map_reduce_framework_spark.operators import relational
    from map_reduce_framework_spark.sources.io import load_table

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = relational.q1_pricing_summary(load_table(spark, SF, "lineitem"))
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "codegen"
            )
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in plan
    assert "Found 0 WholeStageCodegen" not in plan


@pytest.mark.parametrize(
    "name", ["top_similar_pairs", "knn_brute_force", "minhash_lsh_pairs"]
)
def test_pairwise_stages_are_partitioned(spark, name):
    """The single-file parquet scan must not leak a 1-partition layout into
    the O(n^2)-ish stages (observed 13.5s -> 2.1s when fixed)."""
    plan = _formatted_plan(spark, name)
    assert "RoundRobinPartitioning" in plan or "Exchange hashpartitioning" in plan


def test_partitioned_source_prunes_partitions(spark, tmp_path):
    """A month-partitioned fact table must plan a month filter as
    PartitionFilters (directory pruning -- the scan never opens other
    months' files) rather than a post-scan Filter. This is the source
    layout the 100 TB story depends on."""
    from pyspark.sql import functions as F

    from map_reduce_framework_spark.sources.io import (
        load_table,
        orders_partitioned_by_month,
    )

    part = orders_partitioned_by_month(spark, SF, str(tmp_path / "orders_pm"))
    month = part.filter(F.col("o_month") == "1995-03")
    plan = month._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "o_month" in pf.group(1), plan
    # Pruning must not change results: counts match the unpartitioned scan.
    want = (
        load_table(spark, SF, "orders")
        .filter(F.date_format("o_orderdate", "yyyy-MM") == "1995-03")
        .count()
    )
    assert month.count() == want > 0


@pytest.mark.parametrize("name", ["kv_fold", "kv_final_state"])
def test_python_fold_stage_parallelism_is_pinned(spark, name):
    """The shuffle feeding the Python fold must be a USER-pinned
    repartition (REPARTITION_BY_NUM). With only ENSURE_REQUIREMENTS
    exchanges, AQE's byte-based coalescing collapses the small shuffle to
    one task and folds every key in it; the pin keeps the fold running
    in parallel, one task per reduce partition."""
    plan = _formatted_plan(spark, name)
    assert "REPARTITION_BY_NUM" in plan, plan


def _exchanges(plan: str) -> int:
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


@pytest.mark.parametrize("name", ["MapReduceJob", "kv_fold"])
def test_reduce_is_one_sort_and_run_scan(spark, name):
    """The reduce runs as the reference's sort-then-scan: one user-pinned
    hash shuffle, a partition-local sort and one MapInPandas pass per
    partition. The sort must add no shuffle, and the per-key
    FlatMapGroupsInPandas stage must not come back. kv_fold's op log
    brings one shuffle of its own (the pseq window), so the fold is
    checked as what it adds on top of that log."""
    from pyspark.sql import functions as F

    from map_reduce_framework_spark.operators import compat, kv
    from map_reduce_framework_spark.sources.io import load_table

    if name == "MapReduceJob":
        docs = load_table(spark, SF, "documents").select(
            F.col("doc_id").cast("string").alias("name"),
            F.col("text").alias("contents"),
        )
        job = compat.MapReduceJob(compat.wc_map, compat.wc_reduce, n_reduce=4)
        plan, base = _explain(spark, job.run(docs)), 0
    else:
        plan = _formatted_plan(spark, name)
        ops = kv.kv_ops_from_events(load_table(spark, SF, "events"))
        base = _exchanges(_explain(spark, ops))
    assert _exchanges(plan) == base + 1, plan
    assert plan.count("REPARTITION_BY_NUM") == _exchanges(plan), plan
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_interval_overlap_join_is_binned_equi(spark):
    """The self range join must run as an equi hash/merge join on
    (user_id, bucket) -- the binned plan -- never as a per-user
    nested-loop theta join (the thing that blows up on hot users at
    scale). The range predicate may only appear as a post-join filter."""
    plan = _formatted_plan(spark, "events_overlap_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_neardup_contamination_is_band_blocked(spark):
    """eval_neardup_contamination probes the eval docs against the
    training docs through the (band, sig) equi-join that every MinHash
    path shares -- never a cartesian/nested-loop eval x train sweep,
    which at 100 TB would pair every eval doc with the whole corpus."""
    plan = _formatted_plan(spark, "eval_neardup_contamination")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name", ["top_similar_pairs", "semdedup", "image_dhash_pairs"]
)
def test_pair_ops_have_no_unblocked_self_join(spark, name):
    """Pairwise operators must run their blocked plan: top_similar_pairs
    is LSH-blocked, semdedup is cluster-blocked (the k-means assignment
    IS the blocking). Every pairwise stage is an equi-join -- no
    cartesian/nested-loop all-pairs stage anywhere in the plan. (The
    tiny broadcast centroid cross joins inside kmeans are exempt: they
    pair |V| rows with K centroids, not |V| with |V| -- so the gate
    forbids CartesianProduct outright but allows BroadcastNestedLoopJoin
    only where kmeans' centroid relation is the build side.)"""
    plan = _formatted_plan(spark, name)
    assert "CartesianProduct" not in plan
    if name in ("top_similar_pairs", "image_dhash_pairs"):
        assert "BroadcastNestedLoopJoin" not in plan


def test_runtime_bloom_filter_prunes_selective_join(spark):
    """AQE runtime row-group pruning: a selective dimension filter joined
    against a big fact should inject a runtime filter (bloom or semi-join
    IN-list) into the fact scan -- at 100 TB this skips whole row groups
    server-side instead of filtering post-scan. Spark gates the rewrite on
    estimated sizes, so force the thresholds down for the assertion."""
    from pyspark.sql import functions as F

    from map_reduce_framework_spark.sources.io import load_table

    conf = spark.conf
    old = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "500MB",
        )
        # the test files are far below the 10GB default app-side scan
        # threshold -- zero it so size gating is out of the picture
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        # force the join itself to shuffle so the runtime filter is the
        # only pruning mechanism in play
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        lineitem = load_table(spark, SF, "lineitem")
        part = load_table(spark, SF, "part").filter(
            F.col("p_brand") == "Brand#11"
        )
        joined = lineitem.join(
            part, lineitem["l_partkey"] == part["p_partkey"]
        )
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert ("bloom_filter_agg" in plan) or ("might_contain" in plan), plan
    finally:
        for k, v in old.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


@pytest.mark.parametrize(
    "name",
    [
        "pq_codes",
        "pq_adc_topk",
        "kmeans_clusters",
        "ann_ivf_trained",
        "ann_binary",
    ],
)
def test_vector_ops_broadcast_small_sides(spark, name):
    """Codebooks/centroids/LUTs are tiny relations: every join in the
    vector operators must broadcast them -- a shuffle join would move the
    full vector corpus per iteration."""
    plan = _formatted_plan(spark, name)
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


@pytest.mark.parametrize("name", ["ann_ivf_pq", "ann_ivfadc"])
def test_ivf_pq_shuffles_only_the_index_build(spark, name):
    """ann_ivf_pq / ann_ivfadc may shuffle exactly ONCE as a join: codes
    x cells is two |V|-row relations equi-joined on vec_id (the
    index-build step a production system materializes offline into one
    table). Every query-path join (probes, LUT, codebook, centroids)
    must broadcast."""
    plan = _formatted_plan(spark, name)
    smj = len(re.findall(r"\(\d+\) SortMergeJoin", plan))
    shj = len(re.findall(r"\(\d+\) ShuffledHashJoin", plan))
    assert smj + shj <= 1, plan
    assert "CartesianProduct" not in plan


def test_user_rolling_features_single_shuffle(spark):
    """Both windows (7d range frame + lag) share the user_id partition:
    the plan must contain exactly one shuffle exchange."""
    plan = _formatted_plan(spark, "user_rolling_features")
    # count node section headers: "(n) Exchange" (tree lines repeat names)
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan


def test_grouping_sets_single_expand(spark):
    """GROUPING SETS must plan one Expand + one aggregate pass, not a
    union of four scans."""
    plan = _formatted_plan(spark, "revenue_grouping_sets")
    assert len(re.findall(r"\(\d+\) Expand\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Scan parquet\b", plan)) <= 2, plan


def test_orders_profile_approx_avoids_expand(spark):
    """The exact profile's six count_distincts force an Expand that
    replicates the scan ~7x before partial aggregation; the HLL++ twin
    must plan with NO Expand (sketches merge map-side), and its
    estimates must sit within HLL++ relative error of the exact counts."""
    plan = _formatted_plan(spark, "orders_profile_approx")
    assert "Expand" not in plan, plan
    exact_plan = _formatted_plan(spark, "orders_profile")
    assert "Expand" in exact_plan  # the contrast this test documents
    exact = {
        r.column: r.n_distinct
        for r in registry.REGISTRY["orders_profile"].fn(spark, SF).collect()
    }
    for r in registry.REGISTRY["orders_profile_approx"].fn(spark, SF).collect():
        assert r.n_distinct_approx == pytest.approx(
            exact[r.column], rel=0.12
        ), f"{r.column}: approx {r.n_distinct_approx} vs exact {exact[r.column]}"


def test_triangle_join_is_equi_only(spark):
    """The a<b<c wedge closure must plan as equi-joins -- a cartesian or
    nested-loop stage means the ordering predicate fell out of the join
    condition and the plan is O(n^2) at scale."""
    plan = _formatted_plan(spark, "part_triangle_counts")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_closure_has_no_forced_broadcast(spark):
    """The (a,c) closure join must NOT carry an unconditional broadcast
    hint: a forced F.broadcast(edge_list) ships the complete edge set to
    every executor and dies past the ~8 GB broadcast cap at 100 TB, and
    the hint bypasses AQE's size-based fallback. Size-conditional
    broadcasts chosen by Catalyst/AQE from runtime stats are fine (and
    expected at test SF) -- the gate is on the HINT in the logical plan,
    which is exactly the part that ignores data size."""
    df = registry.REGISTRY["part_triangle_counts"].fn(spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed
    assert "UnresolvedHint" not in analyzed, analyzed


def test_hybrid_ann_semantic_side_is_not_brute_force(spark):
    """The production hybrid's semantic ranking must come from the
    IVF-PQ path (ADC over PQ codes), never the brute-force scan: a
    full-embedding cosine top-k per probe reads the whole corpus per
    query at 100 TB. Plan markers: the ADC column is present, the
    brute-force twin's cosine column is absent, and the nested-loop
    joins are exactly the three tiny-broadcast ones (BM25's 1-row
    corpus stats, corpus x 16-centroid cell assignment, query x
    centroid probe selection) -- a fourth would be the full
    vectors x queries cross join sneaking back in."""
    plan = _formatted_plan(spark, "hybrid_retrieval_rrf_ann")
    assert "adc#" in plan, plan
    assert "cos#" not in plan, plan
    bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan))
    assert bnlj <= 3, plan
    # the exact twin documents the contrast
    twin = _formatted_plan(spark, "hybrid_retrieval_rrf")
    assert "cos#" in twin


@pytest.mark.parametrize(
    "name", ["gopher_repetition_filter", "rule_filter_funnel"]
)
def test_rule_filters_scan_corpus_once(spark, name):
    """The A1.2 repetition filter is one scan + one shuffle-free
    narrow projection: every measure is per-document, so the n-gram
    sort/run-length/coverage work is doc-local array arithmetic -- no
    distributed gram aggregate, no join back to the table. The funnel
    inherits it: A1.1 + C4 verdicts are extra columns in the SAME
    projection. Three scans for a 4-row report was the round-5 weak;
    the only exchanges allowed are the round-robin scan repartition
    (parallelism for few-file local scans) and, for the funnel, the
    final 4-row aggregate's."""
    plan = _formatted_plan(spark, name)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 2, plan


@pytest.mark.parametrize("name", ["corpus_data_card", "bpe_top_merges"])
def test_corpus_reports_scan_once(spark, name):
    """Corpus-wide report queries must read the documents table exactly
    once: a second scan (e.g. a 1-row total derived by re-running the
    aggregate subplan instead of a window over the tiny grouped
    relation) doubles the IO of a summary report at 100 TB."""
    plan = _formatted_plan(spark, name)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "CartesianProduct" not in plan


def test_unigram_lm_scoring_never_shuffles_token_stream(spark):
    """The LM scoring join must BROADCAST the capped vocabulary table:
    a shuffle join there repartitions every token OCCURRENCE on a Zipf
    key ('the' alone is a double-digit share of a web corpus). The only
    legal shuffles are the map-side-combined vocab aggregate and the
    doc-keyed final aggregate -- so the plan may contain no shuffle
    join of any kind."""
    plan = _formatted_plan(spark, "unigram_logprob_scores")
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_dsir_scoring_never_shuffles_feature_stream(spark):
    """dsir_log_weights meets the <=DSIR_BUCKETS-row score table through
    a BROADCAST join, like unigram_logprob_scores' capped LM: a shuffle
    join there would repartition every hashed-n-gram OCCURRENCE on the
    bucket key. Legal shuffles: the two map-side-combined bucket
    aggregates and the doc-keyed sum. The final left join back to
    documents is doc-keyed; at test SF AQE may pick any doc-keyed
    strategy for it, so the gate forbids shuffle joins on `bucket`
    specifically and requires the broadcast to be present."""
    plan = _formatted_plan(spark, "dsir_log_weights")
    assert "BroadcastHashJoin" in plan, plan
    for m in re.finditer(r"\(\d+\) (SortMergeJoin|ShuffledHashJoin)", plan):
        seg = plan[m.start() : m.start() + 200]
        assert "bucket" not in seg, plan


def test_chunk_dedup_hot_side_broadcasts(spark):
    """chunk_dedup_clean removes hot chunks via a broadcast anti-join:
    the corpus side must never shuffle on the chunk text."""
    plan = _formatted_plan(spark, "chunk_dedup_clean")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_bm25_stats_broadcast(spark):
    """The 1-row corpus stats join must broadcast, never shuffle."""
    plan = _formatted_plan(spark, "bm25_top_docs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_corpus_split_is_narrow(spark):
    """Split assignment is a pure projection: any Exchange in the plan
    means someone added a shuffle to what must be a free column at
    100 TB."""
    plan = _formatted_plan(spark, "corpus_split")
    assert "Exchange" not in plan, plan


def test_ingest_probe_is_equi_join(spark, tmp_path):
    """The ingest probe (new batch vs persisted band index) must plan as
    an equi-join on (band, sig) -- a nested-loop/cartesian stage means
    the join keys fell out and the probe is O(batch x corpus)."""
    from pyspark.sql import functions as F

    from map_reduce_framework_spark.operators.dedup import (
        ingest_batch,
        jaccard_pairs,
    )
    from map_reduce_framework_spark.sources.io import load_table

    docs = load_table(spark, SF, "documents")
    state = str(tmp_path / "state")
    ingest_batch(spark, state, docs.filter(F.col("doc_id") % 4 == 0), 0)
    # round 1's probe: the join ingest_batch runs, on its state tables
    index = spark.read.parquet(state + "/band_index")
    tokens = spark.read.parquet(state + "/tokens")
    probe = jaccard_pairs(
        index.filter(F.col("r") == 1),
        tokens,
        index.filter(F.col("r") < 1),
        tokens,
        0.7,
    )
    plan = probe._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scalable_id_assignment_avoids_global_sort(spark):
    """assign_doc_ids_scalable exists to kill the Exchange SinglePartition
    a global window forces; its plan must not contain one. The reference
    (window) form must -- otherwise this gate tests nothing."""
    plan = _formatted_plan(spark, "assign_doc_ids_scalable")
    assert "SinglePartition" not in plan, plan
    ref_plan = _formatted_plan(spark, "assign_doc_ids")
    assert "SinglePartition" in ref_plan, ref_plan


@pytest.mark.parametrize(
    "name", ["gopher_quality_filter", "c4_quality_filter"]
)
def test_rule_filters_are_shuffle_free_map_work(spark, name):
    """The rule filters (Gopher A1.1, C4 §2.2) must evaluate in ONE
    narrow projection over the scan: no Exchange, no join, no
    aggregate. At 100 TB this is the guarantee that rule filtering is
    scan-bound map work that composes into any pipeline without a
    stage boundary. (The projection itself is CodegenFallback --
    higher-order lambda expressions don't codegen -- but it stays
    fused over the scan.)"""
    plan = _formatted_plan(spark, name)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Aggregate" not in plan, plan


def test_classifier_training_pass_is_one_scan_no_join(spark):
    """Each logistic-regression training iteration is ONE map-side-
    combined 8-scalar aggregate over the narrow quantized-feature
    projection: no join, no doc-keyed shuffle, nothing but the scan's
    parallelism repartition and the final scalar-aggregate exchange.
    K iterations = K embarrassingly-parallel passes at 100 TB -- the
    plan gate pins that shape for the per-iteration job."""
    from map_reduce_framework_spark.operators import text_analysis as ta
    from map_reduce_framework_spark.sources.io import load_table

    docs = load_table(spark, SF, "documents")
    w = {ta.QCT_POS_LANG: [100, 200, 300, 400, 500, 600]}
    agg = ta._logistic_pass(ta._qct_features(docs), [ta.QCT_POS_LANG], w, 5)
    plan = agg._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 2, plan
    assert "HashAggregate" in plan, plan


@pytest.mark.parametrize(
    "name", ["data_mixture_sample", "data_mixture_realized"]
)
def test_data_mixture_doc_stream_joins_are_broadcast(spark, name):
    """The mixture sample joins the per-doc token stream against the
    |sources|-row plan (and, in the scalable twin, the tiny bucket-
    offset relation): every such join must BROADCAST the small side --
    a shuffle join would repartition the whole corpus on `source`
    (20 keys at 100 TB = catastrophic skew) just to attach 3 scalars."""
    plan = _formatted_plan(spark, name)
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_perplexity_buckets_never_shuffle_token_stream(spark):
    """Same contract as unigram_logprob_scores: the quantized LM is
    BROADCAST over the token stream (no shuffle join on the Zipf token
    key); the only exchanges are the vocab aggregate, the doc-keyed
    aggregate, and the per-lang ntile window over the tiny per-doc
    relation."""
    plan = _formatted_plan(spark, "perplexity_buckets")
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "image_dhash",
        "video_frame_dhash",
        "jpeg_block_roundtrip",
        "audio_features",
        "audio_fingerprints",
    ],
)
def test_codec_map_ops_parallelize_single_file_scans(spark, name):
    """r7 regression gate for the measured single-scan trap: one
    parquet file at test SF is ONE scan partition, which ran every
    pure-Python codec (GIF LZW, WAV, JPEG) single-threaded -- measured
    15.5s -> 1.5s (video_frame_dhash) and 38.8s -> 6.9s
    (video_dedup_pairs) at sf0.1 after the fix. The plan must contain
    the round-robin repartition that fans the (doc_id, text)
    projection out to session parallelism BEFORE the Arrow eval, and
    stay join-free map work."""
    plan = _formatted_plan(spark, name)
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan, plan
    assert "Join" not in plan, plan


@pytest.mark.parametrize(
    "name",
    ["video_dedup_pairs", "audio_fingerprint_pairs", "image_dhash_pairs"],
)
def test_media_pair_ops_are_banded_equi_joins(spark, name):
    """Every media near-dup pair relation joins on its blocking key
    (dHash band / window fingerprint) as an EQUI join -- never a
    cartesian or broadcast-nested-loop pairwise comparison."""
    plan = _formatted_plan(spark, name)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_cross_modal_union_has_no_cartesian(spark):
    """The cross-modal cluster relation unions two banded pair plans;
    the union must not introduce any pairwise-all join."""
    from map_reduce_framework_spark.operators.multimodal import (
        cross_modal_dedup_clusters,
    )
    from map_reduce_framework_spark.sources.io import load_table

    df = cross_modal_dedup_clusters(
        load_table(spark, SF, "documents")
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in plan, plan
