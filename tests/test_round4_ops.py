"""Round-4 additions: state-table compaction, exactly-once streaming
upsert (ledger + kill-and-restart), and the decimal-exact partial merge.

These extend the incremental-maintenance story of operators/incremental.py:
build (materialize) -> merge (upsert) -> maintain (compact), with the
streaming analog of the reference's crash-test protocol
(go-map-reduce-framework/tests/test-mr.sh crash section: kill workers
mid-job, re-run, output must equal the no-crash run).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_framework_spark.operators.incremental import (
    CUTOFF,
    applied_batch_ids,
    apply_delta_in_place,
    compact_state_table,
    exactly_once_upsert,
    incremental_daily_agg,
    materialize_daily_state,
    state_table_file_census,
)
from map_reduce_framework_spark.sources.io import load_table


def _read_state_final(spark, state_dir):
    return spark.read.parquet(state_dir).select(
        "day",
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        "max_value",
    )


def test_state_partials_stay_decimal(spark, sf_smoke, tmp_path):
    """The persisted partial must be raw DECIMAL -- a double round-trip
    between merges can drift 0.01 from the full recompute once
    |sum|*100 > 2^53."""
    ev = load_table(spark, sf_smoke, "events")
    state_dir = str(tmp_path / "state")
    materialize_daily_state(ev, state_dir)
    field = dict(
        (f.name, f.dataType.simpleString())
        for f in spark.read.parquet(state_dir).schema.fields
    )
    assert field["sum_value"].startswith("decimal"), field


def test_upsert_writes_one_file_per_touched_partition(spark, sf_smoke, tmp_path):
    """The at-source half of the small-file story: the upsert's
    repartition-by-day_key write must leave exactly ONE file in every
    partition it touches, no matter how wide the merge's shuffle ran."""
    ev = load_table(spark, sf_smoke, "events")
    state_dir = str(tmp_path / "state")
    materialize_daily_state(ev, state_dir)
    cut = F.lit(CUTOFF).cast("timestamp_ntz")
    late = ev.filter(F.col("ts") >= cut)
    apply_delta_in_place(spark, state_dir, late)
    touched = {
        r.day_key
        for r in late.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day_key"
            )
        )
        .distinct()
        .collect()
    }
    census = state_table_file_census(state_dir)
    for day in touched:
        assert census[day] == 1, (day, census)


def test_compaction_restores_one_file_per_partition(spark, sf_smoke, tmp_path):
    """Compaction over a fragmented table (an upstream writer left many
    small files per partition -- here a wide-shuffle bootstrap): hot
    partitions collapse to 1 file, cold partitions are never rewritten,
    query results are bit-identical."""
    from map_reduce_framework_spark.operators.incremental import (
        _daily_partials,
    )

    ev = load_table(spark, sf_smoke, "events")
    state_dir = str(tmp_path / "state")
    # fragmented bootstrap: 6 round-robin writer tasks, each emitting a
    # file into every day partition it holds rows for
    _daily_partials(ev).withColumn(
        "day_key", F.date_format("day", "yyyy-MM-dd")
    ).repartition(6).write.partitionBy("day_key").parquet(state_dir)

    census_before = state_table_file_census(state_dir)
    hot_days = {k for k, n in census_before.items() if n > 1}
    assert hot_days, census_before  # fixture must actually fragment
    before = {tuple(r) for r in _read_state_final(spark, state_dir).collect()}

    compacted = compact_state_table(spark, state_dir, max_files_per_partition=1)
    assert sorted(hot_days) == compacted

    census_after = state_table_file_census(state_dir)
    assert all(n == 1 for n in census_after.values()), census_after
    for day, n in census_before.items():
        if day not in hot_days:  # cold partitions: untouched
            assert census_after[day] == n
    after = {tuple(r) for r in _read_state_final(spark, state_dir).collect()}
    assert after == before

    # idempotent: a second pass finds nothing to do
    assert compact_state_table(spark, state_dir, max_files_per_partition=1) == []


def test_exactly_once_upsert_skips_replayed_batch(spark, sf_smoke, tmp_path):
    """The at-least-once hazard, directly: delivering the same
    (batch_df, batch_id) twice must apply it once. A bare
    apply_delta_in_place would double-count the delta."""
    ev = load_table(spark, sf_smoke, "events")
    state_dir = str(tmp_path / "state")
    materialize_daily_state(ev, state_dir)
    cut = F.lit(CUTOFF).cast("timestamp_ntz")
    late = ev.filter(F.col("ts") >= cut)

    assert exactly_once_upsert(spark, state_dir, late, batch_id=0) is True
    once = {tuple(r) for r in _read_state_final(spark, state_dir).collect()}
    # crash-replay: same batch id re-delivered
    assert exactly_once_upsert(spark, state_dir, late, batch_id=0) is False
    again = {tuple(r) for r in _read_state_final(spark, state_dir).collect()}
    assert again == once
    assert applied_batch_ids(state_dir) == {0}
    # and the applied-once state is the full recompute
    full = {tuple(r) for r in incremental_daily_agg(ev).collect()}
    assert once == full


def test_streaming_upsert_kill_and_restart(spark, sf_smoke, tmp_path):
    """Streaming analog of the reference's crash test: run the upsert
    stream over PART of the late data, 'crash' (stream ends; checkpoint
    kept), land the rest of the files, restart with the SAME checkpoint
    dir. The restarted run must process only the new batches (the
    checkpoint's commit log + the ledger make replays no-ops) and the
    final state must equal the single-run full recompute."""
    ev = load_table(spark, sf_smoke, "events")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "late_src")
    materialize_daily_state(ev, state_dir)
    cut = F.lit(CUTOFF).cast("timestamp_ntz")
    late = ev.filter(F.col("ts") >= cut)
    # deterministic halves by event id
    late.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    schema = spark.read.parquet(src).schema

    def upsert(batch_df, batch_id):
        exactly_once_upsert(spark, state_dir, batch_df, batch_id)

    def run_stream():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "stream did not finish in 180s"

    run_stream()  # first run: half the data, then "crash"
    ids_after_first = applied_batch_ids(state_dir)
    assert ids_after_first
    # second half lands while the stream is down
    late.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_stream()  # restart from the same checkpoint
    assert applied_batch_ids(state_dir) > ids_after_first

    final = {tuple(r) for r in _read_state_final(spark, state_dir).collect()}
    full = {tuple(r) for r in incremental_daily_agg(ev).collect()}
    assert final == full


def test_streaming_ingest_dedup_matches_replay(spark, sf_smoke, tmp_path):
    """ingest_batch as a foreachBatch body: stream the corpus in four
    batch files through the persisted band-index state. Whatever order
    the file source delivers batches, the UNDIRECTED cross-batch pair
    set is order-invariant and must equal the batch replay's."""
    from map_reduce_framework_spark.operators.dedup import (
        PAIRS_SCHEMA,
        dedup_ingest_replay,
        ingest_batch,
    )

    docs = load_table(spark, sf_smoke, "documents")
    src = str(tmp_path / "src")
    for b in range(4):
        docs.filter(F.col("doc_id") % 4 == b).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    state = str(tmp_path / "state")

    def upsert(batch_df, batch_id):
        ingest_batch(spark, state, batch_df, ingest_round=batch_id)

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "ingest stream did not finish in 300s"

    got = {
        frozenset((r.batch_doc, r.corpus_doc))
        for r in spark.read.schema(PAIRS_SCHEMA)
        .parquet(state + "/pairs")
        .collect()
    }
    want = {
        frozenset((r.batch_doc, r.corpus_doc))
        for r in dedup_ingest_replay(docs).collect()
    }
    assert got == want and want, (len(got), len(want))


def test_unigram_perplexity_matches_independent_reference(spark, sf_smoke):
    """Rows-only query's value contract: the per-doc average negative
    log2-prob must match an independently computed (DuckDB) reference to
    1e-9 relative -- the float-tolerance stand-in for the hash gate that
    libm ulp differences rule out."""
    import duckdb

    from map_reduce_framework_spark.operators.text_analysis import (
        unigram_logprob_scores,
    )

    docs = load_table(spark, sf_smoke, "documents")
    got = {
        r.doc_id: r for r in unigram_logprob_scores(docs).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_smoke}/documents.parquet'"
    )
    want = con.sql(
        r"""
        WITH toks AS (
            SELECT doc_id, unnest(list_filter(
                regexp_split_to_array(text, '\s+'), t -> t <> '')) AS tok
            FROM documents
        ),
        counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        tot AS (SELECT sum(c) AS total FROM counts)
        SELECT t.doc_id, count(*) AS n_tokens,
               avg(-(log2(c) - log2(total))) AS avg_nlp
        FROM toks t JOIN counts USING (tok) CROSS JOIN tot
        GROUP BY t.doc_id
        """
    ).fetchall()
    assert len(want) == len(got)
    for doc_id, n_tokens, avg_nlp in want:
        g = got[doc_id]
        assert g.n_tokens == n_tokens
        assert abs(g.avg_neg_log2_prob - avg_nlp) <= 1e-9 * max(
            1.0, abs(avg_nlp)
        ), (doc_id, g.avg_neg_log2_prob, avg_nlp)
        assert abs(g.ppl - 2.0**avg_nlp) <= 1e-6 * 2.0**avg_nlp


def test_join_ivm_cutoff_populates_all_four_terms(spark, sf_smoke):
    """The delta-join identity is only proven non-vacuously if every
    term J(A,B), J(dA,B), J(A,dB), J(dA,dB) contributes rows."""
    from map_reduce_framework_spark.operators.incremental import JOIN_CUTOFF

    o = load_table(spark, sf_smoke, "orders")
    li = load_table(spark, sf_smoke, "lineitem")
    cut = F.lit(JOIN_CUTOFF).cast("timestamp_ntz")
    a = o.filter(F.col("o_orderdate") < cut)
    da = o.filter(F.col("o_orderdate") >= cut)
    b = li.filter(F.col("l_shipdate") < cut)
    db = li.filter(F.col("l_shipdate") >= cut)
    for x, y in [(a, b), (da, b), (a, db), (da, db)]:
        assert (
            x.join(y, x["o_orderkey"] == y["l_orderkey"]).limit(1).count() == 1
        )


def test_curation_accounting_is_internally_consistent(spark, sf_smoke):
    """Cross-operator integration: the funnel's final stage, the cleaned
    corpus, and the token budget must all agree with each other, and the
    split assignment must partition the survivors."""
    from map_reduce_framework_spark.operators.pipeline import (
        clean_corpus,
        corpus_split,
        curation_funnel,
        training_token_budget,
    )

    docs = load_table(spark, sf_smoke, "documents")
    funnel = {r.stage: r.n_docs for r in curation_funnel(docs).collect()}
    cleaned = clean_corpus(docs).collect()
    budget = training_token_budget(docs).collect()

    assert funnel["raw"] == docs.count()
    # funnel is monotone non-increasing in stage order
    order = ["raw", "quality_pass", "exact_keeper", "near_dup_keeper"]
    vals = [funnel[s] for s in order]
    assert vals == sorted(vals, reverse=True)
    assert funnel["near_dup_keeper"] == len(cleaned)

    assert sum(r.n_docs for r in budget) == len(cleaned)
    assert sum(r.n_tokens for r in budget) == sum(r.n_tokens for r in cleaned)
    # split assignment covers every survivor exactly once
    splits = {r.doc_id: r.split for r in corpus_split(docs).collect()}
    assert all(r.doc_id in splits for r in cleaned)


def test_checksum_matches_independent_python(spark, sf_smoke):
    """Independent semantic check for the order-independent table
    checksum (its oracle mirrors the same md5/substr/sum expressions): a
    from-scratch Python computation over collected rows must reproduce
    n_rows and the exact decimal checksum string."""
    import hashlib as _hl
    from decimal import Decimal

    from map_reduce_framework_spark.operators.relational import (
        lineitem_checksum,
    )

    li = load_table(spark, sf_smoke, "lineitem")
    got = lineitem_checksum(li).collect()[0]

    rows = li.select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    ).collect()
    total = 0
    for r in rows:
        qty = Decimal(str(r.l_quantity)).quantize(Decimal("0.01"))
        canon = f"{r.l_orderkey}|{r.l_partkey}|{r.l_suppkey}|{qty}"
        total += int(_hl.md5(canon.encode()).hexdigest()[:15], 16)
    assert got.n_rows == len(rows)
    assert got.checksum == str(total)


def test_bm25_matches_independent_python(spark, sf_smoke):
    """Independent BM25 reimplementation (same k1/b and the rational idf,
    evaluated in the same expression order) over collected token lists
    must reproduce every (term, doc, score, rank) bit-for-bit."""
    from map_reduce_framework_spark.operators.text_analysis import (
        BM25_TERMS,
        BM25_TOPK,
        bm25_top_docs,
    )

    docs = load_table(spark, sf_smoke, "documents")
    got = sorted(tuple(r) for r in bm25_top_docs(docs).collect())

    toks = {
        r.doc_id: r.text.split() for r in docs.select("doc_id", "text").collect()
    }
    dl = {d: len(t) for d, t in toks.items()}
    n_docs = len(toks)
    sum_dl = sum(dl.values())
    avgdl = sum_dl / n_docs
    want = []
    for term in BM25_TERMS:
        tf = {
            d: sum(1 for w in t if w == term)
            for d, t in toks.items()
            if term in t
        }
        df = len(tf)
        idf = (n_docs - df + 0.5) / (df + 0.5)
        scored = []
        for d, f in tf.items():
            denom = f + 1.2 * (0.25 + 0.75 * (dl[d] / avgdl))
            scored.append((d, f, dl[d], idf * ((f * 2.2) / denom)))
        scored.sort(key=lambda x: (-x[3], x[0]))
        for rnk, (d, f, length, score) in enumerate(scored[:BM25_TOPK], 1):
            want.append((term, d, f, length, score, rnk))
    assert got == sorted(want)


def test_simhash_matches_independent_python(spark, sf_smoke):
    """Independent SimHash reimplementation: shingle (3-gram, distinct),
    hash each shingle to 60 md5 bits, vote per bit, fold the sign vector
    into a BIGINT -- from scratch, must equal every signature."""
    import hashlib as _hl

    from map_reduce_framework_spark.operators.dedup import (
        SIMHASH_BITS,
        simhash_signatures,
    )

    docs = load_table(spark, sf_smoke, "documents")
    got = {
        r.doc_id: r.simhash for r in simhash_signatures(docs).collect()
    }

    want = {}
    for r in docs.select("doc_id", "text").collect():
        toks = r.text.split()
        shingles = list(
            dict.fromkeys(
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            )
        )
        votes = [0] * SIMHASH_BITS
        for s in shingles:
            h = int(_hl.md5(f"0:{s}".encode()).hexdigest()[:15], 16)
            for j in range(SIMHASH_BITS):
                votes[j] += 1 if (h >> j) & 1 else -1
        sig = 0
        for j in range(SIMHASH_BITS):
            if votes[j] > 0:
                sig |= 1 << j
        if shingles:
            want[r.doc_id] = sig
    # docs with no shingles (under 3 tokens) emit no signature row
    assert got == want


def test_minhash_matches_independent_python(spark, sf_smoke):
    """Independent MinHash reimplementation: per doc, the minimum over
    distinct 3-gram shingles of each of the K/2 md5 digests' two 60-bit
    halves -- from scratch, must equal every component of every
    signature."""
    import hashlib as _hl

    from map_reduce_framework_spark.operators.dedup import (
        MINHASH_K,
        _shingle_sets,
        minhash_signatures,
    )

    docs = load_table(spark, sf_smoke, "documents")
    got = {
        r.doc_id: tuple(r[f"mh{i}"] for i in range(MINHASH_K))
        for r in minhash_signatures(_shingle_sets(docs)).collect()
    }

    want = {}
    for r in docs.select("doc_id", "text").collect():
        toks = r.text.split()
        shingles = list(
            dict.fromkeys(
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            )
        )
        if not shingles:
            continue
        comps = []
        for i in range(MINHASH_K // 2):
            hexes = [
                _hl.md5(f"{i}:{s}".encode()).hexdigest() for s in shingles
            ]
            # Spark: substring(h, 1, 15) and substring(h, 17, 15)
            comps.append(min(int(h[0:15], 16) for h in hexes))
            comps.append(min(int(h[16:31], 16) for h in hexes))
        want[r.doc_id] = tuple(comps)
    assert got == want


def test_tfidf_matches_independent_python(spark, sf_smoke):
    """Independent tf-idf reimplementation (tf * N / df in the same
    expression order, term-ascending tiebreak) must reproduce every
    (doc_id, term, tf, df, score, rnk) row bit-for-bit."""
    from map_reduce_framework_spark.operators.text_analysis import (
        tfidf_top_terms,
    )

    docs = load_table(spark, sf_smoke, "documents")
    got = sorted(tuple(r) for r in tfidf_top_terms(docs).collect())

    toks = {
        r.doc_id: r.text.split()
        for r in docs.select("doc_id", "text").collect()
    }
    n_docs = len(toks)
    tf: dict[tuple, int] = {}
    for d, t in toks.items():
        for w in t:
            tf[(d, w)] = tf.get((d, w), 0) + 1
    df: dict[str, int] = {}
    for (_d, w) in tf:
        df[w] = df.get(w, 0) + 1
    want = []
    per_doc: dict[int, list] = {}
    for (d, w), f in tf.items():
        per_doc.setdefault(d, []).append((w, f, f * n_docs / df[w]))
    for d, terms in per_doc.items():
        terms.sort(key=lambda x: (-x[2], x[0]))
        for rnk, (w, f, score) in enumerate(terms[:3], 1):
            want.append((d, w, f, df[w], score, rnk))
    assert got == sorted(want)
