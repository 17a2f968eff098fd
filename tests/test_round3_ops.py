"""Round-3 operator tests: chunk-level corpus dedup (line-dedup proxy),
incremental aggregate maintenance, BM25 ranking, triangle counting.

Each gets a planted-fixture semantic pin; the cross-engine value-hash
check runs in the driver_sweep (tests/test_driver_canon.py) and the
per-query DuckDB oracle.
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from map_reduce_framework_spark.operators.dedup import (
    boilerplate_chunks,
    chunk_dedup_clean,
)
from map_reduce_framework_spark.operators.graph import part_triangle_counts
from map_reduce_framework_spark.operators.incremental import (
    incremental_daily_agg,
)
from map_reduce_framework_spark.operators.text_analysis import bm25_top_docs
from map_reduce_framework_spark.sources.io import load_table


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(rows)],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    )


BOILER = "cookie banner accept all terms of service apply"  # 8 tokens


def test_boilerplate_chunk_detected_and_removed(spark):
    """A chunk planted in 3 docs is flagged; unique text survives."""
    docs = _docs(
        spark,
        [
            BOILER + " unique alpha text one two three four five",
            BOILER + " other beta words six seven eight nine ten",
            BOILER + " third gamma copy ten eleven twelve thirteen fourteen",
            "completely unrelated document body with its own words here",
        ],
    )
    hot = {r.chunk: r for r in boilerplate_chunks(docs).collect()}
    assert BOILER in hot
    assert hot[BOILER].n_docs == 3 and hot[BOILER].n_occurrences == 3
    clean = {r.doc_id: r for r in chunk_dedup_clean(docs).collect()}
    for i in range(3):
        assert BOILER not in clean[i].text_clean
        assert clean[i].n_kept == clean[i].n_chunks - 1
    # untouched doc passes through verbatim (chunk reassembly is lossless)
    assert clean[3].text_clean == (
        "completely unrelated document body with its own words here"
    )
    assert clean[3].n_kept == clean[3].n_chunks


def test_chunk_dedup_clean_keeps_every_doc(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    out = chunk_dedup_clean(docs)
    assert out.count() == docs.count()


def test_chunk_dedup_clean_keeps_empty_docs(spark):
    """'Rewrite every document' includes documents with empty or
    whitespace-only text: they produce no chunks but must still appear
    in the output as (n_chunks=0, n_kept=0, '')."""
    docs = _docs(spark, ["real words here", "", "   "])
    got = {r.doc_id: r for r in chunk_dedup_clean(docs, min_docs=2).collect()}
    assert set(got) == {0, 1, 2}
    for empty_id in (1, 2):
        r = got[empty_id]
        assert (r.n_chunks, r.n_kept, r.text_clean) == (0, 0, "")
    assert got[0].n_chunks == 1 and got[0].text_clean == "real words here"


def test_chunk_reassembly_preserves_order(spark):
    """text_clean with no hot chunks is exactly the normalized text --
    the sort_array(struct(idx, chunk)) reassembly cannot reorder."""
    text = " ".join(f"w{i}" for i in range(37))  # 5 chunks, ragged tail
    docs = _docs(spark, [text])
    row = chunk_dedup_clean(docs, min_docs=2).collect()[0]
    assert row.text_clean == text
    assert row.n_chunks == 5 and row.n_kept == 5


def test_incremental_merge_equals_full_recompute(spark, sf_smoke):
    """The whole contract: state (< cutoff) + delta (>= cutoff) merged
    must be indistinguishable from the one-shot groupBy."""
    from map_reduce_framework_spark.operators.relational import dsum

    ev = load_table(spark, sf_smoke, "events")
    full = (
        ev.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", 2).alias("sum_value"),
            F.max("value").alias("max_value"),
        )
    )
    merged = incremental_daily_agg(ev)
    assert merged.count() == full.count()
    diff = merged.exceptAll(full)
    assert diff.count() == 0, diff.limit(5).collect()


def test_incremental_cutoff_splits_both_sides(spark, sf_smoke):
    """The fixture cutoff must leave real rows on both sides, or the
    merge test is vacuous."""
    from map_reduce_framework_spark.operators.incremental import CUTOFF

    ev = load_table(spark, sf_smoke, "events")
    cut = F.lit(CUTOFF).cast("timestamp_ntz")
    assert ev.filter(F.col("ts") < cut).count() > 0
    assert ev.filter(F.col("ts") >= cut).count() > 0


def test_bm25_prefers_heavy_tf_and_short_docs(spark):
    """Monotonicity pins: more term hits => higher score; same tf in a
    shorter doc => higher score (the b-normalization)."""
    filler = " ".join(itertools.repeat("filler", 40))
    docs = _docs(
        spark,
        [
            "spark spark spark " + filler,      # tf=3, long
            "spark " + filler,                  # tf=1, long
            "spark short doc",                  # tf=1, short
        ],
    )
    rows = {
        r.doc_id: r
        for r in bm25_top_docs(docs, terms=["spark"]).collect()
    }
    assert rows[0].score > rows[1].score          # tf dominance
    assert rows[2].score > rows[1].score          # length normalization
    # ranks are dense 1..3 and ordered by score
    by_rank = sorted(rows.values(), key=lambda r: r.rnk)
    assert [r.rnk for r in by_rank] == [1, 2, 3]
    assert by_rank[0].score >= by_rank[1].score >= by_rank[2].score


def test_bm25_df_discounts_common_terms(spark):
    """A term present in every doc gets a lower idf than a rare one with
    the same tf/dl."""
    docs = _docs(
        spark,
        [
            "common rare one two three four five six",
            "common one two three four five six seven",
            "common eight nine ten eleven twelve thirteen fourteen",
        ],
    )
    rows = bm25_top_docs(docs, terms=["common", "rare"]).collect()
    by_term = {(r.term, r.doc_id): r.score for r in rows}
    assert by_term[("rare", 0)] > by_term[("common", 0)]


def test_triangle_counts_on_known_graph(spark):
    """K4 plus a pendant edge: every K4 node sits in C(3,2)=3 triangles,
    the pendant in none. Orders encode one edge each (2-item baskets)."""
    edges = list(itertools.combinations([1, 2, 3, 4], 2)) + [(4, 5)]
    rows = []
    for ok, (a, b) in enumerate(edges):
        rows += [(ok, a, 1.0), (ok, b, 1.0)]
    li = spark.createDataFrame(
        rows, "l_orderkey bigint, l_partkey bigint, l_quantity double"
    )
    out = {r.part: r for r in part_triangle_counts(li).collect()}
    for n in (1, 2, 3):
        assert out[n].n_triangles == 3 and out[n].degree == 3
    assert out[4].n_triangles == 3 and out[4].degree == 4
    assert out[5].n_triangles == 0 and out[5].degree == 1


def test_triangle_total_matches_brute_force(spark, sf_smoke):
    """Sum of per-node counts == 3 * (brute-force triangle count) on the
    real co-purchase graph."""
    from map_reduce_framework_spark.operators.graph import (
        part_copurchase_edges,
    )

    li = load_table(spark, sf_smoke, "lineitem")
    es = {
        (r.src, r.dst)
        for r in part_copurchase_edges(li)
        .filter(F.col("src") < F.col("dst"))
        .collect()
    }
    nbrs: dict[int, set[int]] = {}
    for a, b in es:
        nbrs.setdefault(a, set()).add(b)
    brute = sum(
        1
        for a, bs in nbrs.items()
        for b in bs
        for c in nbrs.get(b, ())
        if (a, c) in es
    )
    total = (
        part_triangle_counts(li).agg(F.sum("n_triangles")).collect()[0][0]
    )
    assert total == 3 * brute


def test_cms_estimates_dominate_true_counts(spark, sf_smoke):
    """CMS one-sided error: estimate >= true count for every word, and
    min-over-rows never exceeds any single row's estimate."""
    from map_reduce_framework_spark.operators.sketch import (
        CMS_W,
        _word_counts,
        cms_heavy_hitters,
        word_cms,
    )

    docs = load_table(spark, sf_smoke, "documents")
    true = {r.word: r.cnt for r in _word_counts(docs).collect()}
    n_tokens = sum(true.values())
    sk = {(r.row_idx, r.col_idx): r.cms_count for r in word_cms(docs).collect()}
    # every cell is a sum over colliding words -> bounded by N
    assert all(0 < v <= n_tokens for v in sk.values())
    hh = {r.word: r.est_count for r in cms_heavy_hitters(docs).collect()}
    assert hh, "corpus has heavy hitters by construction"
    for word, est in hh.items():
        assert est >= true[word], f"{word}: est {est} < true {true[word]}"
        # CM guarantee (deterministic form): overestimate <= N - true
        assert est <= n_tokens
    # no true heavy hitter is missed (one-sided error)
    thr = n_tokens / 200
    missed = {w for w, c in true.items() if c >= thr} - set(hh)
    assert not missed, missed


def test_cms_sketch_is_mergeable(spark, sf_smoke):
    """Cell-wise sum of two halves' sketches == whole-corpus sketch (the
    sketch is a linear projection of the count vector)."""
    from map_reduce_framework_spark.operators.sketch import word_cms

    docs = load_table(spark, sf_smoke, "documents")
    whole = {
        (r.row_idx, r.col_idx): r.cms_count for r in word_cms(docs).collect()
    }
    merged: dict[tuple, int] = {}
    for half in (
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    ):
        for r in word_cms(half).collect():
            k = (r.row_idx, r.col_idx)
            merged[k] = merged.get(k, 0) + r.cms_count
    assert merged == whole


def test_temperature_plan_upsamples_low_resource_langs(spark, sf_smoke):
    """alpha=0.5 must give minority languages a larger share of the
    sample than of the corpus, and targets must sum to <= the budget."""
    from map_reduce_framework_spark.operators.text_analysis import (
        lang_temperature_plan,
        lang_temperature_sample,
    )

    docs = load_table(spark, sf_smoke, "documents")
    plan = {r.lang: r for r in lang_temperature_plan(docs).collect()}
    total_docs = sum(r.n_docs for r in plan.values())
    budget = total_docs // 2
    assert sum(r.target_docs for r in plan.values()) <= budget
    lo = min(plan.values(), key=lambda r: r.n_docs)
    hi = max(plan.values(), key=lambda r: r.n_docs)
    assert lo.n_docs < hi.n_docs, "fixture needs an imbalanced corpus"
    # sample share vs corpus share: minority up, majority down
    assert lo.target_docs / budget > lo.n_docs / total_docs
    assert hi.target_docs / budget < hi.n_docs / total_docs
    # the sample hits each target exactly (rank-based, not Bernoulli)
    got = (
        lang_temperature_sample(docs)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    for r in got:
        assert r.n == plan[r.lang].target_docs


def test_temperature_sample_is_stable_across_runs(spark, sf_smoke):
    from map_reduce_framework_spark.operators.text_analysis import (
        lang_temperature_sample,
    )

    docs = load_table(spark, sf_smoke, "documents")
    a = {(r.lang, r.doc_id) for r in lang_temperature_sample(docs).collect()}
    b = {
        (r.lang, r.doc_id)
        for r in lang_temperature_sample(
            docs.repartition(7)
        ).collect()
    }
    assert a == b, "selection must not depend on partition layout"


def test_dedup_incremental_finds_planted_corpus_dup(spark):
    """A batch doc (doc_id % 10 == 7) that clones a corpus doc must be
    flagged against it; batch-vs-batch pairs must NOT appear."""
    from map_reduce_framework_spark.operators.dedup import dedup_incremental

    base = " ".join(f"tok{i}" for i in range(40))
    other = " ".join(f"alt{i}" for i in range(40))
    docs = _docs_with_ids(
        spark,
        [
            (3, base),                      # corpus original
            (17, base + " tail"),           # batch near-clone of 3
            (27, other),                    # batch doc, unique vs corpus
            (37, other + " tail"),          # batch near-clone of 27 (batch-batch!)
            (5, "entirely different words " + " ".join(f"z{i}" for i in range(36))),
        ],
    )
    rows = dedup_incremental(docs).collect()
    got = {(r.batch_doc, r.corpus_doc) for r in rows}
    assert (17, 3) in got
    # 27/37 are a batch-batch near-pair: excluded by design
    assert all(c % 10 != 7 for _, c in got)
    assert all(b % 10 == 7 for b, _ in got)
    assert (37, 27) not in got


def _docs_with_ids(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in rows],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    )


def test_wc_salted_equals_plain_wc(spark, sf_smoke):
    from map_reduce_framework_spark.operators.apps import (
        word_count,
        word_count_salted,
    )

    docs = load_table(spark, sf_smoke, "documents")
    plain = word_count(docs)
    salted = word_count_salted(docs)
    assert salted.columns == plain.columns
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_approx_percentiles_within_rank_error(spark, sf_smoke):
    """GK accuracy=1000 bounds rank error at n/1000; with groups of a few
    thousand rows the estimate must sit within the exact p +/- a small
    rank window. Check value-domain proximity via the exact quantile at
    the rank bounds."""
    from map_reduce_framework_spark.operators.relational import (
        events_value_percentiles,
        events_value_percentiles_approx,
    )

    ev = load_table(spark, sf_smoke, "events")
    exact = {r.event_type: r for r in events_value_percentiles(ev).collect()}
    approx = {
        r.event_type: r
        for r in events_value_percentiles_approx(ev).collect()
    }
    vals = {
        t: sorted(
            x.value
            for x in ev.filter(F.col("event_type") == t)
            .select("value")
            .collect()
        )
        for t in exact
    }
    for t, ex in exact.items():
        n = ex.n
        for p, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            est = getattr(approx[t], col)
            lo_rank = max(0, int(p * n) - max(2, n // 1000) - 1)
            hi_rank = min(n - 1, int(p * n) + max(2, n // 1000) + 1)
            assert vals[t][lo_rank] <= est <= vals[t][hi_rank], (
                t, col, est, vals[t][lo_rank], vals[t][hi_rank]
            )


def test_user_cms_stream_equals_batch_sketch(spark, sf_smoke):
    """The streaming CMS (availableNow run) must equal the batch-computed
    sketch cell-for-cell -- and stays bounded at D*W cells."""
    from map_reduce_framework_spark.operators.sketch import CMS_D, CMS_W
    from map_reduce_framework_spark.streaming.ops import q_user_cms_stream

    got = {
        (r.row_idx, r.col_idx): r.cms_count
        for r in q_user_cms_stream(spark, sf_smoke).collect()
    }
    assert len(got) <= CMS_D * CMS_W
    from map_reduce_framework_spark.functions.hashing import md5_long
    from map_reduce_framework_spark.sources.io import load_table as _lt

    ev = _lt(spark, sf_smoke, "events")
    coords = F.array(
        *[
            (md5_long(F.col("user_id"), seed=j) % CMS_W).cast("int")
            for j in range(CMS_D)
        ]
    )
    batch = {
        (r.row_idx, r.col_idx): r.cms_count
        for r in ev.select(
            F.posexplode(coords).alias("row_idx", "col_idx")
        )
        .groupBy("row_idx", "col_idx")
        .agg(F.count("*").alias("cms_count"))
        .collect()
    }
    assert got == batch


def test_partitioned_state_merge_prunes_and_matches(spark, sf_smoke, tmp_path):
    """The persisted-state merge path: (1) result equals the full
    recompute; (2) the merge's scan of the state table carries
    PartitionFilters (untouched days never leave disk)."""
    from map_reduce_framework_spark.operators.incremental import (
        CUTOFF,
        incremental_daily_agg,
        materialize_daily_state,
        merge_delta_into_state,
    )

    ev = load_table(spark, sf_smoke, "events")
    state_dir = str(tmp_path / "daily_state")
    materialize_daily_state(ev, state_dir)
    delta = ev.filter(F.col("ts") >= F.lit(CUTOFF).cast("timestamp_ntz"))
    merged = merge_delta_into_state(spark, state_dir, delta)
    full = incremental_daily_agg(ev)  # already proven == full recompute
    assert merged.count() == full.count()
    assert merged.exceptAll(full).count() == 0
    # the touched-days scan must be partition-pruned (dynamic pruning
    # via the broadcast day_key join)
    plan = merged._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters" in plan or "dynamicpruning" in plan.lower(), plan


def test_dedup_incremental_persisted_index_roundtrip(spark, sf_smoke, tmp_path):
    """The production shape: corpus band signatures persisted to parquet
    once, read back as the index side. Joining the batch's live
    signatures against the persisted index must reproduce the in-plan
    dedup_incremental result exactly."""
    from map_reduce_framework_spark.operators.dedup import (
        INGEST_MOD,
        INGEST_REM,
        _shingle_sets,
        dedup_incremental,
        lsh_bands,
    )

    docs = load_table(spark, sf_smoke, "documents")
    is_batch = F.col("doc_id") % INGEST_MOD == INGEST_REM
    idx_dir = str(tmp_path / "lsh_index")
    lsh_bands(_shingle_sets(docs.filter(~is_batch))).write.mode(
        "overwrite"
    ).parquet(idx_dir)

    corpus_index = spark.read.parquet(idx_dir)
    batch_bands = lsh_bands(_shingle_sets(docs.filter(is_batch)))
    candidates = (
        batch_bands.select(F.col("doc_id").alias("batch_doc"), "band", "sig")
        .join(
            corpus_index.select(
                F.col("doc_id").alias("corpus_doc"),
                F.col("band").alias("band_c"),
                F.col("sig").alias("sig_c"),
            ),
            (F.col("band") == F.col("band_c"))
            & (F.col("sig") == F.col("sig_c")),
        )
        .select("batch_doc", "corpus_doc")
        .distinct()
    )
    got = {(r.batch_doc, r.corpus_doc) for r in candidates.collect()}
    # candidate supersets match: verified pairs of the in-plan op must
    # all be candidates of the persisted-index path
    verified = {
        (r.batch_doc, r.corpus_doc) for r in dedup_incremental(docs).collect()
    }
    assert verified <= got


def test_fk_audit_detects_planted_violations(spark):
    from map_reduce_framework_spark.operators.relational import (
        fk_integrity_audit,
    )

    cust = spark.createDataFrame(
        [(1, "a", 1, 0.0, "SEG")],
        "c_custkey bigint, c_name string, c_nationkey bigint, "
        "c_acctbal double, c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [(10, 1, "O", 5.0, "2024-01-01", "1-URGENT"),
         (11, 99, "O", 5.0, "2024-01-01", "1-URGENT")],   # orphan custkey
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    )
    li = spark.createDataFrame(
        [(10, 1, 1, 1, 5.0, 10.0, 0.1, 0.0, "N", "O", "2024-01-02"),
         (77, 1, 1, 1, -2.0, -1.0, 1.5, 0.0, "N", "O", "2024-01-02")],
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate string",
    )
    got = {r["check"]: r.n for r in fk_integrity_audit(cust, orders, li).collect()}
    assert got == {
        "orphan_lineitem_orderkey": 1,
        "orphan_order_custkey": 1,
        "nonpositive_quantity": 1,
        "negative_price": 1,
        "discount_out_of_range": 1,
    }


def test_fk_audit_clean_on_testdata(spark, sf_smoke):
    from map_reduce_framework_spark.operators.relational import (
        fk_integrity_audit,
    )

    got = {
        r["check"]: r.n
        for r in fk_integrity_audit(
            load_table(spark, sf_smoke, "customer"),
            load_table(spark, sf_smoke, "orders"),
            load_table(spark, sf_smoke, "lineitem"),
        ).collect()
    }
    assert set(got.values()) == {0}, got


def test_checksum_detects_single_row_change(spark, sf_smoke):
    """Flipping one row's quantity must change the checksum; permuting
    row order must not (the sum is order-independent)."""
    from map_reduce_framework_spark.operators.relational import (
        lineitem_checksum,
    )

    li = load_table(spark, sf_smoke, "lineitem")
    base = lineitem_checksum(li).collect()[0]
    perm = lineitem_checksum(li.orderBy(F.rand(seed=1))).collect()[0]
    assert (base.n_rows, base.checksum) == (perm.n_rows, perm.checksum)
    # collect the target row ONCE: limit(1) on an unordered frame is not
    # guaranteed to pick the same row across actions
    row = li.limit(1).collect()[0]
    mutated = li.withColumn(
        "l_quantity",
        F.when(
            (F.col("l_orderkey") == row.l_orderkey)
            & (F.col("l_linenumber") == row.l_linenumber),
            F.col("l_quantity") + 1,
        ).otherwise(F.col("l_quantity")),
    )
    got = lineitem_checksum(mutated).collect()[0]
    assert got.n_rows == base.n_rows and got.checksum != base.checksum


def test_streaming_incremental_state_maintenance(spark, sf_smoke, tmp_path):
    """End-to-end streaming warehouse maintenance: bootstrap the
    day-partitioned state from pre-cutoff history, stream the late
    events in multiple micro-batches, foreachBatch-merge each into the
    state with dynamic partition overwrite. The final state table must
    equal the full recompute."""
    from map_reduce_framework_spark.operators.incremental import (
        CUTOFF,
        apply_delta_in_place,
        incremental_daily_agg,
        materialize_daily_state,
    )

    ev = load_table(spark, sf_smoke, "events")
    state_dir = str(tmp_path / "state")
    materialize_daily_state(ev, state_dir)

    cut = F.lit(CUTOFF).cast("timestamp_ntz")
    src = str(tmp_path / "late_src")
    # several files -> several micro-batches with maxFilesPerTrigger=1
    ev.filter(F.col("ts") >= cut).repartition(3).write.parquet(src)
    late_schema = spark.read.parquet(src).schema

    def upsert(batch_df, batch_id):
        apply_delta_in_place(spark, state_dir, batch_df)

    q = (
        spark.readStream.schema(late_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not finish within 180s"

    final_state = spark.read.parquet(state_dir).select(
        "day",
        "event_type",
        "n_events",
        # persisted state keeps the sum as raw DECIMAL (exact across N
        # upserts); the query-facing cast to double happens once here
        F.col("sum_value").cast("double").alias("sum_value"),
        "max_value",
    )
    full = incremental_daily_agg(ev)
    assert final_state.count() == full.count()
    assert final_state.exceptAll(full).count() == 0, (
        final_state.exceptAll(full).limit(5).collect()
    )


def test_affinity_lift_on_planted_baskets(spark):
    """Parts 1,2 always co-occur (lift > 1); parts 1,9 never do. With 4
    baskets and p(1)=1, p(2)=0.75: lift(1,2) = 3*4/(4*3) = 1.0; planted
    exclusive pair (3,4) in 3 of 4 baskets has lift 4/3 > 1."""
    from map_reduce_framework_spark.operators.relational import (
        part_affinity_rules,
    )

    baskets = {
        0: [1, 2, 3, 4],
        1: [1, 2, 3, 4],
        2: [1, 2, 3, 4],
        3: [1, 9],
    }
    rows = [
        (ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "2024-01-01")
        for ok, parts in baskets.items()
        for pk in parts
    ]
    li = spark.createDataFrame(
        rows,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate string",
    )
    got = {
        (r.part_a, r.part_b): r
        for r in part_affinity_rules(li, min_pair=3).collect()
    }
    assert (1, 9) not in got            # below min_pair
    r34 = got[(3, 4)]
    assert r34.pair_n == 3 and r34.n_a == 3 and r34.n_b == 3
    assert abs(r34.lift - 4 / 3) < 1e-12
    assert abs(r34.confidence_a_to_b - 1.0) < 1e-12
    r12 = got[(1, 2)]
    assert abs(r12.lift - 1.0) < 1e-12  # part 1 in every basket


def test_lang_confusion_rows_cover_all_labels(spark, sf_smoke):
    from map_reduce_framework_spark.operators.text_analysis import (
        lang_confusion,
    )

    docs = load_table(spark, sf_smoke, "documents")
    rows = lang_confusion(docs).collect()
    labels = {r.labeled_lang for r in rows}
    assert labels == {r.lang for r in docs.select("lang").distinct().collect()}
    # row shares per labeled language sum to 1 (exact rational sums)
    from collections import defaultdict

    share = defaultdict(float)
    for r in rows:
        share[r.labeled_lang] += r.row_share
    for lang, s in share.items():
        assert abs(s - 1.0) < 1e-9, (lang, s)
