"""Text-analysis operators for training-data pipelines (north-star
surface): language ID, quality scoring, token statistics, document
fingerprinting. Pure Catalyst expressions (one narrow projection or one
groupBy each, ratios as exact int/int double divisions, bit-identical
across engines) -- except ``doc_fingerprints``, whose per-shingle md5 runs
interpreted as a lambda HOF and is therefore Arrow-vectorized per SCALE.md
policy, with the JVM expression form kept as the parity reference.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import fingerprints_arrow, tokenize_ws, word_shingles
from ..session import shuffle_partitions

#: Tiny deterministic stopword profiles for the n-gram/stopword language
#: heuristic. Real pipelines plug in fastText-style models via the same
#: shape (token join + argmax); the heuristic keeps the operator
#: self-contained and oracle-checkable.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "fr": ["le", "la", "de", "et", "un"],
    "es": ["el", "la", "de", "y", "un"],
    "de": ["der", "die", "das", "und", "ein"],
    "zh": ["de", "le", "shi", "he", "zai"],
}

#: BPE-ish pretokenizer: letter runs, digit runs, single punctuation.
BPE_ISH_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n]"


def token_stats(documents: DataFrame) -> DataFrame:
    """Per-doc token accounting: whitespace tokens, BPE-ish tokens,
    distinct tokens, type/token ratio."""
    toks = tokenize_ws("text")
    return documents.select(
        "doc_id",
        F.size(toks).alias("n_tokens_ws"),
        F.regexp_count(F.col("text"), F.lit(BPE_ISH_RE)).alias("n_tokens_bpe"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("type_token_ratio"),
    )


def quality_keep_expr() -> F.Column:
    """quality_score's keep verdict as a standalone predicate over a
    raw documents row -- the streaming shard ingest filters on it
    WITHOUT dropping the document columns the shard writer needs."""
    toks = tokenize_ws("text")
    n_tok = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, b: a + b
    )
    digits = F.length(F.regexp_replace(F.col("text"), "[^0-9]", ""))
    return (
        (n_tok >= 10)
        & (sum_len / n_tok >= 2.0)
        & (digits / F.col("n_chars") < 0.3)
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Heuristic quality signals (Gopher/C4-style rules): length, mean
    token length, stopword ratio, digit/punct character ratios, and a
    boolean keep/drop verdict."""
    toks = tokenize_ws("text")
    n_tok = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, b: a + b
    )
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*LANG_PROFILES["en"]))
    )
    digits = F.length(F.regexp_replace(F.col("text"), "[^0-9]", ""))
    punct = F.length(F.regexp_replace(F.col("text"), "[a-zA-Z0-9 \\t\\n]", ""))
    return documents.select(
        "doc_id",
        F.col("n_chars").alias("n_chars"),
        n_tok.alias("n_tokens"),
        (sum_len / n_tok).alias("mean_token_len"),
        (stop_hits / n_tok).alias("stopword_ratio"),
        (digits / F.col("n_chars")).alias("digit_ratio"),
        (punct / F.col("n_chars")).alias("punct_ratio"),
        quality_keep_expr().alias("keep"),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Stopword-profile language ID: score = distinct-token overlap with
    each language profile; argmax with lexicographic tie-break. Join-free:
    the profiles are tiny and inlined as array literals."""
    toks = F.array_distinct(tokenize_ws("text"))
    scores = [
        F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
        ).alias(f"score_{lang}")
        for lang, words in sorted(LANG_PROFILES.items())
    ]
    scored = documents.select("doc_id", F.col("lang").alias("labeled_lang"), *scores)
    # argmax via greatest + chained when (ties -> lexicographically first)
    langs = sorted(LANG_PROFILES)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = None
    for lang in langs:
        cond = F.col(f"score_{lang}") == best
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    return scored.select(
        "doc_id",
        "labeled_lang",
        best.cast("int").alias("best_score"),
        pred.alias("pred_lang"),
    )


def lang_confusion(documents: DataFrame) -> DataFrame:
    """Language-ID evaluation: confusion matrix of labeled vs predicted
    language plus per-cell share of the labeled row -- the accuracy
    report that decides whether the classifier is good enough to drive
    `stratified_sample`/`lang_temperature_sample` quotas. |langs|^2
    output regardless of corpus size; one groupBy over the lang_id
    projection."""
    lid = lang_id(documents)
    totals = lid.groupBy("labeled_lang").agg(
        F.count("*").alias("n_labeled")
    )
    cells = lid.groupBy("labeled_lang", "pred_lang").agg(
        F.count("*").alias("n")
    )
    return cells.join(F.broadcast(totals), "labeled_lang").select(
        "labeled_lang",
        "pred_lang",
        "n",
        (F.col("n") / F.col("n_labeled")).alias("row_share"),
    )


def _fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition to session parallelism ONLY when the
    input has fewer splits than that (VERDICT r12 ask #6). The
    unconditional ``repartition(n)`` these call sites used is a
    REPARTITION_BY_NUM exchange AQE will NOT elide, so over a
    many-split scan (thousands of input splits at 100 TB) it
    re-shuffled every raw text byte for nothing; over the few-file
    local testdata it remains the parallelism fix it always was.
    Plan-shape-only change: round-robin placement never alters row
    content, and every consumer of these bases is row-order-
    insensitive. getNumPartitions is driver-side planning (no job);
    streaming inputs raise here and keep the unconditional exchange."""
    target = shuffle_partitions(df)
    try:
        if df.rdd.getNumPartitions() >= target:
            return df
    except Exception:
        pass
    return df.repartition(target)


def doc_fingerprints(documents: DataFrame) -> DataFrame:
    """Two content fingerprints per doc: the canonical token-set hash
    (order-insensitive) and the minimum 3-gram-shingle hash (winnowing-
    style, order-sensitive).

    Production path: one Arrow-vectorized pass per batch
    (``fingerprints_arrow``) -- the expression form runs interpreted
    ``transform(md5)`` per shingle and was the slowest bench row (7.8 s at
    sf0.1). ``doc_fingerprints_expr`` keeps the pure-JVM form; a parity
    test pins the two equal row-for-row.
    """
    fp = fingerprints_arrow(3)(F.col("text"))
    # repartition: the single-file scan would otherwise hash every shingle
    # of every doc in ONE task. Session shuffle parallelism; AQE coalesces.
    return _fan_out(documents).select(
        "doc_id",
        fp["set_fingerprint"].alias("set_fingerprint"),
        fp["min_shingle_fingerprint"].alias("min_shingle_fingerprint"),
    )


def doc_fingerprints_expr(documents: DataFrame) -> DataFrame:
    """Pure-JVM expression form of ``doc_fingerprints`` -- the shape the
    DuckDB oracle mirrors; kept as the parity reference for the Arrow
    production path."""
    toks = tokenize_ws("text")
    canon = F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " "))
    sh = word_shingles(toks, 3)
    min_shingle = F.array_min(F.transform(sh, lambda s: F.md5(s)))
    return _fan_out(documents).select(
        "doc_id",
        canon.alias("set_fingerprint"),
        min_shingle.alias("min_shingle_fingerprint"),
    )


def tfidf_top_terms(documents: DataFrame, k: int = 3) -> DataFrame:
    """Top-k characteristic terms per doc by a tf-idf-style score.

    score = tf * N / df -- the rational (log-free) idf variant, chosen so
    the score is a single int/int double division that is bit-identical
    across engines (ln() last-ulp behavior differs between libm and the
    JVM, which would break the value-hash oracle for equal-rank ties).

    Plan: explode -> (doc,term) tf aggregate -> term df aggregate ->
    equi-join tf x df on term -> per-doc top-k window. The df side is
    |vocabulary| rows -- usually broadcastable, but joined on term as a
    shuffle join here because a 100 TB corpus vocabulary (with typos and
    boilerplate) need not fit an executor. Ties rank by term ascending.
    """
    toks = tokenize_ws("text")
    tf = (
        documents.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = documents.agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        tf.join(df_, "term")
        .join(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * F.col("n_docs") / F.col("df"))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
    )


#: Fixed retrieval query for the registered bm25 ranking -- real systems
#: take the terms per request; the plan is term-count-independent.
BM25_TERMS = ["spark", "join", "stream"]
BM25_TOPK = 10


def bm25_top_docs(
    documents: DataFrame,
    terms: list[str] | None = None,
    k: int = BM25_TOPK,
) -> DataFrame:
    """Okapi BM25 ranking (Robertson & Walker SIGIR'94): top-``k`` docs
    per query term with k1=1.2, b=0.75.

    idf uses the log-free rational variant (N - df + 0.5)/(df + 0.5) for
    the same reason as tfidf_top_terms: ln() differs between libm and
    the JVM in the last ulp, which would break the cross-engine
    value-hash oracle; the ranking is order-equivalent since ln is
    monotone. Every fractional constant appears as the same double
    literal in both engines and the expression tree is parenthesized
    identically, so IEEE-754 correctly-rounded +-*/ makes the scores
    bit-identical.

    Plan: tokens filtered to the query terms BEFORE the (doc, term)
    count -- the exploded relation is |terms| x corpus hits, not the
    full posting list; df and the global avgdl are 1-row/tiny aggregates
    broadcast back; one window per term for the top-k. At 100 TB this is
    the query-time path over a precomputed (doc, term, tf, dl) index --
    the index build is the tf aggregate here."""
    terms = BM25_TERMS if terms is None else terms
    toks = tokenize_ws("text")
    dl = documents.select(
        "doc_id", F.size(toks).cast("bigint").alias("dl")
    )
    tf = (
        documents.select("doc_id", F.explode(toks).alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    stats = documents.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(toks).cast("bigint")).alias("sum_dl"),
    )
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    avgdl = F.col("sum_dl") / F.col("n_docs")
    denom = F.col("tf") + F.lit(1.2) * (
        F.lit(0.25) + F.lit(0.75) * (F.col("dl") / avgdl)
    )
    score = idf * ((F.col("tf") * F.lit(2.2)) / denom)
    w = Window.partitionBy("term").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        tf.join(dl, "doc_id")
        .join(df_, "term")
        .join(F.broadcast(stats))
        .withColumn("score", score)
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("term", "doc_id", "tf", "dl", "score", "rnk")
    )


def bigram_stats(documents: DataFrame, k: int = 20) -> DataFrame:
    """Corpus-wide top-k token bigrams: zip the token array against its
    own tail (pure codegen, no Python), explode, one count aggregate,
    global top-k. Ties break by bigram ascending."""
    toks = tokenize_ws("text")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        documents.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(k)
    )


def repetition_signals(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1:
    repetitious documents are low-quality): per doc --

    * ``dup_token_ratio``   1 - distinct/total tokens;
    * ``max_token_run``     longest run of one token repeated consecutively
      (gaps-and-islands: group on pos - rank-within-(doc,term));
    * ``top_bigram_ratio``  occurrences of the most frequent bigram / total
      bigrams (the Gopher top-2-gram fraction);
    * ``n_repeated_bigrams`` bigram occurrences beyond first use.

    Plan: one posexplode -> two groupBys keyed on doc_id (+ a window for
    the runs) -- everything shuffles on doc-local keys, so at 100 TB it
    scales with the corpus like any per-doc aggregate; no cross-doc joins.
    """
    toks = tokenize_ws("text")
    # repartition: the token explode runs in the scan task; a 1-file scan
    # would serialize it (same trap as doc_fingerprints).
    documents = _fan_out(documents)
    t = documents.select(
        "doc_id", F.posexplode(toks).alias("pos", "term")
    )
    w = Window.partitionBy("doc_id", "term").orderBy("pos")
    runs = (
        t.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "term", "grp")
        .agg(F.count("*").alias("run_len"))
        .groupBy("doc_id")
        .agg(F.max("run_len").cast("int").alias("max_token_run"))
    )
    tok = t.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("term").alias("n_distinct"),
    )
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = (
        documents.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.count("*").alias("n_distinct_bigrams"),
            F.max("c").alias("top_bigram_n"),
        )
    )
    return (
        tok.join(runs, "doc_id")
        .join(bg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (1 - F.col("n_distinct") / F.col("n_tokens")).alias(
                "dup_token_ratio"
            ),
            "max_token_run",
            F.coalesce(
                F.col("top_bigram_n") / F.col("n_bigrams"), F.lit(0.0)
            ).alias("top_bigram_ratio"),
            F.coalesce(
                F.col("n_bigrams") - F.col("n_distinct_bigrams"), F.lit(0)
            )
            .cast("bigint")
            .alias("n_repeated_bigrams"),
        )
    )


def doc_commonness(documents: DataFrame) -> DataFrame:
    """Unigram-LM commonness score: mean corpus frequency of a doc's
    tokens -- the cheap LM-quality proxy (very common-token docs are
    boilerplate; very rare-token docs are noise/garbage). Exactly
    sum(corpus_count(t) for t in doc) / (n_doc_tokens * N_corpus_tokens)
    -- integer sums with ONE final division, so the score is
    bit-identical cross-engine (no per-token float accumulation).

    Plan: explode -> corpus term counts (one groupBy) -> equi-join back
    on term -> per-doc sum. The term-count relation is |vocab| rows,
    joined as a shuffle join (a 100 TB vocabulary with typos need not
    broadcast)."""
    toks = tokenize_ws("text")
    t = _fan_out(documents).select(
        "doc_id", F.explode(toks).alias("term")
    )
    counts = t.groupBy("term").agg(F.count("*").alias("cnt"))
    total = t.groupBy().agg(F.count("*").alias("n_total"))
    return (
        t.join(counts, "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("cnt").alias("sum_cnt"),
        )
        .join(F.broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("sum_cnt")
                / (F.col("n_tokens") * F.col("n_total"))
            ).alias("commonness"),
        )
    )


CHUNK_CHARS = 256


def doc_chunks(documents: DataFrame) -> DataFrame:
    """Fixed-size document chunking (the RAG/context-window prep step) as
    a Python UDTF -- the modern form of the reference's plugin model,
    whose Map symbol IS a user-defined table function (one row in, many
    out; mr/worker.go:64, SURVEY.md §2.E). Chunk boundaries are plain
    character offsets so the DuckDB substring oracle is exact.

    UDTFs are the Python slow path (use explode/sequence for anything
    expressible in Catalyst -- this query's oracle shows the pure-SQL
    twin); they earn their keep when the per-row logic is genuinely
    imperative (tokenizer-aware splitting, sentence packing). Arrow
    transfer applies when spark.sql.execution.pythonUDTF.arrow.enabled
    is on; the lateral join parallelizes over the input partitioning."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx: int, chunk: string")
    class Chunker:
        def eval(self, text: str, n: int):
            if text is None:
                return
            for i in range(0, len(text), n):
                yield i // n, text[i : i + n]

    spark = documents.sparkSession
    spark.udtf.register("mrfs_chunker", Chunker)
    # fan-out: the UDTF runs in the scan's partitioning -- a 1-file
    # scan would push every doc through ONE Python worker (gated on
    # split count like every other raw-text fan-out).
    _fan_out(documents).createOrReplaceTempView("mrfs_chunk_docs")
    return spark.sql(
        f"""
        SELECT d.doc_id, c.chunk_idx,
               length(c.chunk) AS n_chars,
               md5(c.chunk) AS chunk_md5
        FROM mrfs_chunk_docs d,
             LATERAL mrfs_chunker(d.text, {CHUNK_CHARS}) c
        """
    )


#: Per-language md5-prefix sampling thresholds (hex string compare ==
#: uniform [0,1) threshold at 2-hex-digit resolution): en 75%, es 50%,
#: fr 25%, everything else 12.5%.
SAMPLE_THRESHOLDS: dict[str, str] = {"en": "c0", "es": "80", "fr": "40"}
SAMPLE_DEFAULT_THRESHOLD = "20"


def stratified_sample(documents: DataFrame) -> DataFrame:
    """Deterministic stratified sampling: keep a doc iff
    md5(doc_id) < per-stratum hex threshold.

    Hash-threshold sampling is the 100 TB-safe design: no driver-side
    rates, no RNG state, stable under retries/re-runs (a re-executed task
    selects the identical rows -- Bernoulli sampling with a seed is only
    stable per-partition-layout), and the same row set falls out of any
    engine that agrees on md5. The hex-string compare is an exact uniform
    threshold because md5 output is uniform in [0, 16^32).
    """
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    thr = None
    for lang, t in sorted(SAMPLE_THRESHOLDS.items()):
        cond = F.col("lang") == lang
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    thr = thr.otherwise(SAMPLE_DEFAULT_THRESHOLD)
    return documents.filter(h < thr).select(
        "doc_id", "lang", "source", "n_chars", h.alias("sample_key")
    )


#: Temperature-resampling exponent alpha = 0.5 (weight ~ n^alpha) and the
#: overall sample size (half the corpus). alpha < 1 upsamples low-resource
#: languages relative to proportional sampling -- the multilingual-LM
#: mixing rule (Lample & Conneau 2019 XLM sec 3.1; mC4/mT5, Xue et al.
#: 2021). Weights are quantized to 1e-6 fixed point so the per-language
#: targets are exact integer arithmetic in both engines.
TEMP_WEIGHT_SCALE = 1_000_000
TEMP_SAMPLE_DIV = 2.0


def _temperature_plan(documents: DataFrame) -> DataFrame:
    per = documents.groupBy("lang").agg(F.count("*").alias("n_docs"))
    per = per.withColumn(
        "weight_q",
        F.floor(F.sqrt(F.col("n_docs")) * F.lit(float(TEMP_WEIGHT_SCALE)))
        .cast("bigint"),
    )
    tot = per.agg(
        F.sum("n_docs").alias("total_docs"),
        F.sum("weight_q").alias("total_weight"),
    )
    budget = F.floor(F.col("total_docs") / F.lit(TEMP_SAMPLE_DIV)).cast(
        "bigint"
    )
    return per.join(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "weight_q",
        F.floor((budget * F.col("weight_q")) / F.col("total_weight"))
        .cast("bigint")
        .alias("target_docs"),
    )


def lang_temperature_plan(documents: DataFrame) -> DataFrame:
    """Per-language sampling plan for temperature resampling: weight
    ~ sqrt(n_lang) (alpha=0.5), normalized onto a half-corpus budget.

    Cross-engine exactness: sqrt is IEEE-754 correctly rounded in both
    engines, the weight is then floor-quantized to a BIGINT, and the
    target is integer x integer / integer with floor -- no accumulated
    float state anywhere. One tiny groupBy (|langs| rows) + a 1-row
    broadcast."""
    return _temperature_plan(documents)


def lang_temperature_sample(documents: DataFrame) -> DataFrame:
    """The actual resample: per language, keep the ``target_docs``
    first documents in deterministic md5(doc_id) order -- rank-based
    selection rather than threshold sampling, so the drawn set hits the
    target EXACTLY (threshold sampling only hits it in expectation) and
    is stable under retries/engines like stratified_sample.

    Plan: one window per language over (md5(doc_id), doc_id) + a
    broadcast join against the |langs|-row plan. The window sorts within
    each language partition -- at 100 TB, languages are the partition
    key, so skew toward the head language is the knob to watch (salt by
    md5 prefix and take per-salt quotas if one language dominates)."""
    plan = _temperature_plan(documents).select("lang", "target_docs")
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    ranked = documents.select(
        "lang",
        "doc_id",
        F.row_number().over(w).cast("int").alias("rnk"),
    )
    return ranked.join(F.broadcast(plan), "lang").filter(
        F.col("rnk") <= F.col("target_docs")
    ).select("lang", "doc_id", "rnk")


#: Eval-set membership for the contamination sweep: every ``EVAL_MOD``-th
#: doc plays the benchmark. Real pipelines substitute the actual eval
#: corpus -- the plan shape (tiny broadcast side vs linear corpus scan)
#: is the same.
EVAL_MOD = 50
CONTAM_N = 5


def ngram_contamination(
    documents: DataFrame,
    n: int = CONTAM_N,
    eval_mod: int = EVAL_MOD,
    eval_docs: DataFrame | None = None,
) -> DataFrame:
    """Benchmark-contamination sweep (the decontamination step every
    LLM training pipeline runs before training): for each training doc,
    how many of its distinct word ``n``-grams also appear in the eval
    set, and how many eval docs it collides with. Docs with
    ``contamination_ratio`` above threshold get dropped or the eval row
    gets discarded -- both policies start from exactly this table.

    Eval side: pass ``eval_docs`` (any relation with ``doc_id`` and
    ``text`` -- a real benchmark table loaded from its own parquet) to
    screen ``documents`` against it; with ``eval_docs=None`` the
    registered/oracled stand-in carves every ``eval_mod``-th doc out of
    the corpus to play the benchmark, same plan shape either way.

    Plan shape for 100 TB: eval sets are a few thousand docs, so their
    exploded n-gram relation BROADCASTS; the training corpus side is one
    linear scan + one doc-keyed aggregate. Nothing pairwise, no
    shuffle of corpus n-grams (the broadcast-hash join happens
    map-side; only per-doc partial counts move)."""

    from ..functions.text import distinct_word_shingles_arrow

    def _grams(df):
        # Arrow shingle kernel (r12, guide §4.2): the JVM form
        # array_distinct(word_shingles(...)) runs four nested
        # interpreted HOFs per row; dict.fromkeys preserves the same
        # first-occurrence order and explode order is irrelevant to the
        # aggregates below.
        return df.select(
            "doc_id",
            F.explode(distinct_word_shingles_arrow(n)(F.col("text"))).alias(
                "gram"
            ),
        )

    if eval_docs is not None:
        eval_grams = _grams(eval_docs).select(
            F.col("doc_id").alias("eval_id"), "gram"
        )
        corpus = _grams(documents)
    else:
        grams = _grams(documents)
        eval_grams = grams.filter(F.col("doc_id") % eval_mod == 0).select(
            F.col("doc_id").alias("eval_id"), "gram"
        )
        corpus = grams.filter(F.col("doc_id") % eval_mod != 0)
    # ONE corpus-gram pass (r12, guide §2.4): totals and hits previously
    # each re-evaluated the corpus gram subtree (narrow, so no exchange
    # reuse). A broadcast LEFT join keeps every (distinct) gram row --
    # n_grams = count_distinct(gram) is exact because the explode is
    # distinct per doc, hit counts ignore the NULLs of unmatched rows,
    # and a gram matching several eval docs duplicates rows without
    # changing any of the three distinct counts.
    joined = corpus.join(F.broadcast(eval_grams), "gram", "left")
    agg = joined.groupBy("doc_id").agg(
        F.count_distinct("gram").alias("n_grams"),
        F.count_distinct(
            F.when(F.col("eval_id").isNotNull(), F.col("gram"))
        ).alias("n_hit_grams"),
        F.count_distinct("eval_id").alias("n_eval_docs_hit"),
    )
    return agg.select(
        "doc_id",
        "n_grams",
        F.col("n_hit_grams").cast("bigint").alias("n_hit_grams"),
        F.col("n_eval_docs_hit").cast("bigint").alias("n_eval_docs_hit"),
        (F.col("n_hit_grams") / F.col("n_grams")).alias(
            "contamination_ratio"
        ),
    )


def eval_neardup_contamination(
    documents: DataFrame,
    threshold: float = 0.7,
    eval_mod: int = EVAL_MOD,
    eval_docs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate benchmark contamination: the leak
    ``ngram_contamination`` cannot see. Exact n-gram overlap misses the
    paraphrased / lightly-edited eval copy (a 0.8-Jaccard rewrite shares
    few exact 5-grams but is still memorizable), so production
    decontamination runs BOTH sweeps. For every eval doc: how many
    training docs sit within the MinHash near-dup band, and the worst
    (max) verified Jaccard among them.

    Eval side: pass ``eval_docs`` (``doc_id``/``text``, ids DISJOINT
    from the training corpus -- a real benchmark loaded from its own
    parquet) and the sweep unions it with ``documents`` before the
    banded pair stage, classifying pairs by broadcast eval-id lookup;
    with ``eval_docs=None`` the registered/oracled stand-in uses the
    same ``doc_id % eval_mod`` carve-out as the n-gram sweep.

    Scale shape: reuses ``minhash_lsh_pairs`` unchanged -- banded
    (band, sig) equi-join for candidates, exact Jaccard verify on
    candidates only, never all-pairs; the eval-vs-train orientation is
    a narrow post-filter on the already-verified pair relation (the
    external form broadcasts the |eval|-row id set), and the final
    report is one groupBy over |eval| keys."""
    from .dedup import minhash_lsh_pairs

    if eval_docs is not None:
        cols = ["doc_id", "text"]
        corpus = documents.select(*cols).unionByName(eval_docs.select(*cols))
        eval_ids = eval_docs.select(F.col("doc_id").alias("eval_id"))
        pairs = minhash_lsh_pairs(corpus, threshold)
        flagged = pairs.join(
            F.broadcast(eval_ids.withColumnRenamed("eval_id", "doc_a")).withColumn(
                "a_eval", F.lit(True)
            ),
            "doc_a",
            "left",
        ).join(
            F.broadcast(eval_ids.withColumnRenamed("eval_id", "doc_b")).withColumn(
                "b_eval", F.lit(True)
            ),
            "doc_b",
            "left",
        )
        a_eval = F.coalesce(F.col("a_eval"), F.lit(False))
        b_eval = F.coalesce(F.col("b_eval"), F.lit(False))
        spanning = flagged.filter(a_eval != b_eval).select(
            F.when(a_eval, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
                "eval_id"
            ),
            "jaccard",
        )
        eval_side = eval_ids
    else:
        pairs = minhash_lsh_pairs(documents, threshold)
        a_eval = F.col("doc_a") % eval_mod == 0
        b_eval = F.col("doc_b") % eval_mod == 0
        spanning = pairs.filter(a_eval != b_eval).select(
            F.when(a_eval, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
                "eval_id"
            ),
            "jaccard",
        )
        eval_side = documents.filter(F.col("doc_id") % eval_mod == 0).select(
            F.col("doc_id").alias("eval_id")
        )
    per_eval = spanning.groupBy("eval_id").agg(
        F.count("*").alias("n_train_twins"),
        F.max("jaccard").alias("max_jaccard"),
    )
    return eval_side.join(per_eval, "eval_id", "left").select(
        "eval_id",
        F.coalesce("n_train_twins", F.lit(0))
        .cast("bigint")
        .alias("n_train_twins"),
        F.coalesce("max_jaccard", F.lit(0.0)).alias("max_jaccard"),
        (F.coalesce("n_train_twins", F.lit(0)) > 0).alias("contaminated"),
    )


#: PII patterns, written to the common RE2/Java-regex subset so Spark's
#: regexp_count and DuckDB's regexp_extract_all agree token-for-token.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^ \t\n]+",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
    "phone": r"[0-9]{3}-[0-9]{3}-[0-9]{4}",
}


def pii_doc_counts(documents: DataFrame) -> DataFrame:
    """Per-document PII hit counts (one narrow projection, all JVM
    regexp_count -- no Python in the loop). The synthetic corpus contains
    no PII, so on testdata every count is an honest zero; the planted-
    document tests in tests/test_text_analysis prove detection."""
    return documents.select(
        "doc_id",
        "source",
        *[
            F.regexp_count(F.col("text"), F.lit(pat)).alias(f"n_{kind}")
            for kind, pat in sorted(PII_PATTERNS.items())
        ],
    )


def pii_scan(documents: DataFrame) -> DataFrame:
    """Corpus PII audit, per source: docs scanned, docs with any PII hit,
    and total hits per pattern class -- the report a data-governance
    review reads before a corpus ships. One scan + one tiny groupBy
    (|sources| rows); at 100 TB the per-doc regexp work dominates and is
    embarrassingly parallel."""
    per_doc = pii_doc_counts(documents)
    any_hit = sum(
        (F.col(f"n_{kind}") for kind in sorted(PII_PATTERNS)), F.lit(0)
    ) > 0
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(any_hit.cast("bigint")).alias("docs_with_pii"),
            *[
                F.sum(F.col(f"n_{kind}")).alias(f"total_{kind}")
                for kind in sorted(PII_PATTERNS)
            ],
        )
    )


def pii_redact(documents: DataFrame) -> DataFrame:
    """Redaction transform: every PII match replaced with a typed
    placeholder token, applied as a chain of JVM regexp_replace (one
    projection, codegen-friendly). Returns (doc_id, text_redacted,
    n_redactions)."""
    red = F.col("text")
    for kind, pat in sorted(PII_PATTERNS.items()):
        red = F.regexp_replace(red, pat, f"<{kind.upper()}>")
    n_red = sum(
        (
            F.regexp_count(F.col("text"), F.lit(pat))
            for pat in PII_PATTERNS.values()
        ),
        F.lit(0),
    )
    return documents.select(
        "doc_id",
        red.alias("text_redacted"),
        n_red.cast("bigint").alias("n_redactions"),
    )


_TOKS = r"list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')"
_DTOKS = f"list_distinct({_TOKS})"

_PROFILE_SQL = {
    lang: "[" + ",".join(f"'{w}'" for w in words) + "]"
    for lang, words in sorted(LANG_PROFILES.items())
}

_PII_SQL = {
    kind: f"CAST(len(regexp_extract_all(text, '{pat}')) AS INT)"
    for kind, pat in sorted(PII_PATTERNS.items())
}

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

ORACLE_SQL: dict[str, str] = {
    "bm25_top_docs": f"""
        WITH dls AS (
            SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS dl
            FROM documents
        ),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(dl) AS BIGINT) AS sum_dl
            FROM dls
        ),
        tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest({_TOKS}) AS term FROM documents)
            WHERE term IN ({_BM25_TERMS_SQL})
            GROUP BY doc_id, term
        ),
        dfs AS (
            SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM tf GROUP BY term
        ),
        scored AS (
            SELECT t.term, t.doc_id, t.tf, d.dl,
                   ((s.n_docs - f.df + CAST(0.5 AS DOUBLE))
                    / (f.df + CAST(0.5 AS DOUBLE)))
                   * ((t.tf * CAST(2.2 AS DOUBLE))
                      / (t.tf + CAST(1.2 AS DOUBLE)
                         * (CAST(0.25 AS DOUBLE)
                            + CAST(0.75 AS DOUBLE)
                              * (d.dl / (s.sum_dl / s.n_docs)))))
                       AS score
            FROM tf t
            JOIN dls d USING (doc_id)
            JOIN dfs f USING (term), stats s
        )
        SELECT term, doc_id, tf, dl, score,
               CAST(row_number() OVER (
                   PARTITION BY term ORDER BY score DESC, doc_id
               ) AS INT) AS rnk
        FROM scored
        QUALIFY rnk <= {BM25_TOPK}
    """,
    "ngram_contamination": f"""
        WITH g AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(w) - {CONTAM_N - 1}, 0) + 1),
                       i -> array_to_string(w[i:i+{CONTAM_N - 1}], ' '))))
                       AS gram
            FROM (SELECT doc_id, {_TOKS} AS w FROM documents)
        ),
        ev AS (
            SELECT doc_id AS eval_id, gram FROM g
            WHERE doc_id % {EVAL_MOD} = 0
        ),
        corpus AS (SELECT * FROM g WHERE doc_id % {EVAL_MOD} <> 0),
        hits AS (
            SELECT c.doc_id,
                   CAST(count(DISTINCT c.gram) AS BIGINT) AS n_hit_grams,
                   CAST(count(DISTINCT e.eval_id) AS BIGINT)
                       AS n_eval_docs_hit
            FROM corpus c JOIN ev e ON c.gram = e.gram
            GROUP BY c.doc_id
        ),
        tot AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
            FROM corpus GROUP BY doc_id
        )
        SELECT t.doc_id, t.n_grams,
               CAST(COALESCE(h.n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
               CAST(COALESCE(h.n_eval_docs_hit, 0) AS BIGINT)
                   AS n_eval_docs_hit,
               COALESCE(h.n_hit_grams, 0) / t.n_grams
                   AS contamination_ratio
        FROM tot t LEFT JOIN hits h USING (doc_id)
    """,
    "pii_doc_counts": f"""
        SELECT doc_id, source,
               {', '.join(f"{sql} AS n_{kind}" for kind, sql in _PII_SQL.items())}
        FROM documents
    """,
    "pii_scan": f"""
        WITH per_doc AS (
            SELECT doc_id, source,
                   {', '.join(f"{sql} AS n_{kind}" for kind, sql in _PII_SQL.items())}
            FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN {' + '.join(f'n_{k}' for k in sorted(PII_PATTERNS))} > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
               {', '.join(
                   f"CAST(sum(n_{kind}) AS BIGINT) AS total_{kind}"
                   for kind in sorted(PII_PATTERNS)
               )}
        FROM per_doc GROUP BY source
    """,
    "pii_redact": f"""
        SELECT doc_id,
               {"".join("regexp_replace(" for _ in PII_PATTERNS)}text{
                   "".join(
                       f", '{pat}', '<{kind.upper()}>', 'g')"
                       for kind, pat in sorted(PII_PATTERNS.items())
                   )
               } AS text_redacted,
               CAST({' + '.join(_PII_SQL[k] for k in sorted(PII_PATTERNS))}
                    AS BIGINT) AS n_redactions
        FROM documents
    """,
    "token_stats": f"""
        SELECT doc_id,
               CAST(len({_TOKS}) AS INT) AS n_tokens_ws,
               CAST(len(regexp_extract_all(text, '{BPE_ISH_RE.replace(chr(92) + 't', chr(9)).replace(chr(92) + 'n', chr(10))}')) AS INT) AS n_tokens_bpe,
               CAST(len({_DTOKS}) AS INT) AS n_distinct,
               len({_DTOKS}) / len({_TOKS}) AS type_token_ratio
        FROM documents
    """,
    "quality_score": f"""
        WITH t AS (
            SELECT doc_id, n_chars, text, {_TOKS} AS toks FROM documents
        ),
        m AS (
            SELECT doc_id, n_chars,
                   CAST(len(toks) AS INT) AS n_tokens,
                   list_sum(list_transform(toks, t -> length(t))) AS sum_len,
                   CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to'))) AS INT) AS stop_hits,
                   length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
                   length(regexp_replace(text, '[a-zA-Z0-9 \t\n]', '', 'g')) AS punct
            FROM t
        )
        SELECT doc_id, n_chars, n_tokens,
               sum_len / n_tokens AS mean_token_len,
               stop_hits / n_tokens AS stopword_ratio,
               digits / n_chars AS digit_ratio,
               punct / n_chars AS punct_ratio,
               (n_tokens >= 10 AND sum_len / n_tokens >= 2.0
                AND digits / n_chars < 0.3) AS keep
        FROM m
    """,
    "lang_id": f"""
        WITH scored AS (
            SELECT doc_id, lang AS labeled_lang,
                   {', '.join(
                       f"CAST(len(list_intersect({_DTOKS}, {_PROFILE_SQL[lang]})) AS BIGINT) AS score_{lang}"
                       for lang in sorted(LANG_PROFILES)
                   )}
            FROM documents
        )
        SELECT doc_id, labeled_lang,
               CAST(greatest({', '.join(f'score_{lang}' for lang in sorted(LANG_PROFILES))}) AS INT) AS best_score,
               CASE
                   {' '.join(
                       f"WHEN score_{lang} = greatest({', '.join(f'score_{l2}' for l2 in sorted(LANG_PROFILES))}) THEN '{lang}'"
                       for lang in sorted(LANG_PROFILES)
                   )}
               END AS pred_lang
        FROM scored
    """,
    "doc_fingerprints": f"""
        WITH t AS (
            SELECT doc_id, {_TOKS} AS w FROM documents
        )
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS set_fingerprint,
               list_min(list_transform(
                   list_transform(
                       range(1, greatest(len(w) - 2, 0) + 1),
                       i -> array_to_string(w[i:i+2], ' ')
                   ),
                   s -> md5(s)
               )) AS min_shingle_fingerprint
        FROM t
    """,
    "tfidf_top_terms": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS}) AS term FROM documents
        ),
        tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM toks GROUP BY doc_id, term
        ),
        dft AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
        ),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        scored AS (
            SELECT doc_id, term, tf, df,
                   tf * n_docs / df AS score,
                   CAST(row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY tf * n_docs / df DESC, term
                   ) AS INT) AS rnk
            FROM tf JOIN dft USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tf, df, score, rnk FROM scored WHERE rnk <= 3
    """,
    "bigram_stats": f"""
        WITH t AS (SELECT {_TOKS} AS w FROM documents),
        b AS (
            SELECT unnest(list_transform(
                range(1, greatest(len(w) - 1, 0) + 1),
                i -> w[i] || ' ' || w[i+1]
            )) AS bigram
            FROM t
        )
        SELECT bigram, CAST(count(*) AS BIGINT) AS n
        FROM b GROUP BY bigram
        ORDER BY n DESC, bigram
        LIMIT 20
    """,
    "doc_commonness": f"""
        WITH t AS (
            SELECT doc_id, unnest({_TOKS}) AS term FROM documents
        ),
        counts AS (
            SELECT term, CAST(count(*) AS BIGINT) AS cnt
            FROM t GROUP BY term
        ),
        total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM t)
        SELECT doc_id,
               count(*) AS n_tokens,
               CAST(sum(cnt) AS BIGINT)
                   / (count(*) * (SELECT n_total FROM total))
                   AS commonness
        FROM t JOIN counts USING (term)
        GROUP BY doc_id
    """,
    "doc_chunks": f"""
        SELECT doc_id,
               CAST(i AS INT) AS chunk_idx,
               length(substr(text, i*{CHUNK_CHARS}+1, {CHUNK_CHARS}))
                   AS n_chars,
               md5(substr(text, i*{CHUNK_CHARS}+1, {CHUNK_CHARS}))
                   AS chunk_md5
        FROM documents,
             unnest(range(0, CAST(ceil(length(text)/{CHUNK_CHARS}.0)
                                  AS BIGINT))) AS r(i)
    """,
    "repetition_signals": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        pos AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)+1),
                          i -> {{'pos': i, 'term': toks[i]}}),
                          recursive := true)
            FROM t
        ),
        runs AS (
            SELECT doc_id, CAST(max(run_len) AS INT) AS max_token_run
            FROM (
                SELECT doc_id, term, grp, count(*) AS run_len
                FROM (
                    SELECT doc_id, term,
                           pos - row_number() OVER (
                               PARTITION BY doc_id, term ORDER BY pos
                           ) AS grp
                    FROM pos
                ) GROUP BY doc_id, term, grp
            ) GROUP BY doc_id
        ),
        tok AS (
            SELECT doc_id, count(*) AS n_tokens,
                   count(DISTINCT term) AS n_distinct
            FROM pos GROUP BY doc_id
        ),
        bg AS (
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_bigrams,
                   count(*) AS n_distinct_bigrams,
                   max(c) AS top_bigram_n
            FROM (
                SELECT doc_id, bigram, count(*) AS c
                FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               range(1, greatest(len(toks) - 1, 0) + 1),
                               i -> toks[i] || ' ' || toks[i+1]
                           )) AS bigram
                    FROM t
                ) GROUP BY doc_id, bigram
            ) GROUP BY doc_id
        )
        SELECT tok.doc_id, n_tokens,
               1 - n_distinct / n_tokens AS dup_token_ratio,
               max_token_run,
               coalesce(top_bigram_n / n_bigrams, 0.0) AS top_bigram_ratio,
               CAST(coalesce(n_bigrams - n_distinct_bigrams, 0) AS BIGINT)
                   AS n_repeated_bigrams
        FROM tok JOIN runs USING (doc_id) LEFT JOIN bg USING (doc_id)
    """,
    "stratified_sample": f"""
        SELECT doc_id, lang, source, n_chars,
               md5(CAST(doc_id AS VARCHAR)) AS sample_key
        FROM documents
        WHERE md5(CAST(doc_id AS VARCHAR)) < CASE
            {' '.join(f"WHEN lang = '{lang}' THEN '{t}'" for lang, t in sorted(SAMPLE_THRESHOLDS.items()))}
            ELSE '{SAMPLE_DEFAULT_THRESHOLD}' END
    """,
}

_TEMP_PLAN_CTE = f"""
    perlang AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang
    ),
    weighted AS (
        SELECT lang, n_docs,
               CAST(floor(sqrt(n_docs) * CAST({TEMP_WEIGHT_SCALE} AS DOUBLE))
                    AS BIGINT) AS weight_q
        FROM perlang
    ),
    totals AS (
        SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs,
               CAST(sum(weight_q) AS BIGINT) AS total_weight
        FROM weighted
    ),
    lplan AS (
        SELECT lang, n_docs, weight_q,
               CAST(floor((CAST(floor(total_docs / CAST({TEMP_SAMPLE_DIV}
                                AS DOUBLE)) AS BIGINT) * weight_q)
                          / total_weight) AS BIGINT) AS target_docs
        FROM weighted, totals
    )
"""

ORACLE_SQL["lang_temperature_plan"] = f"""
    WITH {_TEMP_PLAN_CTE}
    SELECT lang, n_docs, weight_q, target_docs FROM lplan
"""

ORACLE_SQL["lang_temperature_sample"] = f"""
    WITH {_TEMP_PLAN_CTE},
    ranked AS (
        SELECT lang, doc_id,
               CAST(row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS INT) AS rnk
        FROM documents
    )
    SELECT r.lang, r.doc_id, r.rnk
    FROM ranked r JOIN lplan p USING (lang)
    WHERE r.rnk <= p.target_docs
"""

ORACLE_SQL["lang_confusion"] = f"""
    WITH scored2 AS (
        SELECT doc_id, lang AS labeled_lang,
               {', '.join(
                   f"CAST(len(list_intersect({_DTOKS}, {_PROFILE_SQL[lang]})) AS BIGINT) AS score_{lang}"
                   for lang in sorted(LANG_PROFILES)
               )}
        FROM documents
    ),
    lid AS (
        SELECT doc_id, labeled_lang,
               CASE
                   {' '.join(
                       f"WHEN score_{lang} = greatest({', '.join(f'score_{l2}' for l2 in sorted(LANG_PROFILES))}) THEN '{lang}'"
                       for lang in sorted(LANG_PROFILES)
                   )}
               END AS pred_lang
        FROM scored2
    ),
    totals AS (
        SELECT labeled_lang, CAST(count(*) AS BIGINT) AS n_labeled
        FROM lid GROUP BY labeled_lang
    ),
    cells AS (
        SELECT labeled_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
        FROM lid GROUP BY labeled_lang, pred_lang
    )
    SELECT c.labeled_lang, c.pred_lang, c.n, c.n / t.n_labeled AS row_share
    FROM cells c JOIN totals t USING (labeled_lang)
"""


#: Hard vocabulary cap for the broadcast LM table. 64k (count, token)
#: rows is single-digit MBs -- far under the broadcast threshold -- and
#: at test SFs it exceeds the whole >=2-count vocabulary, so the capped
#: scores are bit-identical to the full-LM reference the pytest pin
#: computes. OOV/tail tokens fall back to count 1 (see below).
LM_VOCAB_TOP_K = 1 << 16


def corpus_data_card(documents: DataFrame) -> DataFrame:
    """The dataset card a corpus release ships: per (source, lang) doc /
    exact-token / char counts, mean document length, and each cell's
    share of all corpus tokens. ONE map-side-combined aggregate over the
    corpus; the total comes from a global window over the already-tiny
    |sources| x |langs| relation, so the corpus is scanned once (a
    1-row-aggregate join would re-run the scan subplan). Token shares
    divide exact BIGINTs by one exact BIGINT total, so the report
    hash-matches despite being 'statistics'."""
    toks = F.size(tokenize_ws("text")).cast("bigint")
    per = documents.groupBy("source", "lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(toks).cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    return per.withColumn(
        "tot", F.sum("n_tokens").over(Window.partitionBy())
    ).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        "n_chars",
        (F.col("n_tokens") / F.col("n_docs")).alias("mean_doc_tokens"),
        (F.col("n_tokens") / F.col("tot")).alias("token_share"),
    )


ORACLE_SQL["corpus_data_card"] = f"""
    WITH per AS (
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens,
               CAST(sum(n_chars) AS BIGINT) AS n_chars
        FROM documents GROUP BY source, lang
    )
    SELECT source, lang, n_docs, n_tokens, n_chars,
           n_tokens / n_docs AS mean_doc_tokens,
           n_tokens / (CAST(sum(n_tokens) OVER () AS BIGINT)) AS token_share
    FROM per
"""


#: Pairs reported by bpe_top_merges.
BPE_TOP_K = 50


def bpe_top_merges(documents: DataFrame, top_k: int = BPE_TOP_K) -> DataFrame:
    """First BPE iteration (Sennrich et al., ACL 2016): the adjacent
    character-pair counts a byte-pair-encoding tokenizer trainer
    computes to pick its next merge, reported as the top-k pairs.

    THE scale trick (same as every real BPE trainer): pair counts are
    computed over the DISTINCT word vocabulary weighted by word
    frequency, never over the raw token stream -- the corpus collapses
    to |V| rows in one map-side-combined aggregate, and the pair
    explode + aggregate runs on that small relation. At 100 TB the
    token-stream shape would explode ~n_chars rows per document; this
    explodes ~word_len rows per DISTINCT word. Iterating merges would
    repeat the same dataflow on the re-segmented vocab (symbol arrays
    instead of strings); one iteration exercises the whole plan.

    Deterministic: exact BIGINT counts, (count desc, pair) ordering."""
    vocab = (
        documents.select(F.explode(tokenize_ws("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .filter(F.length("tok") >= 2)
    )
    pairs = (
        vocab.select(
            "c",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(tok) - 1),"
                    " i -> substring(tok, i, 2))"
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("c").cast("bigint").alias("n"))
    )
    # top-k first (TakeOrderedAndProject: per-partition heaps, no global
    # sort of the pair table), then rank the k surviving rows -- the
    # row_number window runs over top_k rows, not the full pair domain
    top = pairs.orderBy(F.col("n").desc(), "pair").limit(top_k)
    w = Window.orderBy(F.col("n").desc(), "pair")
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


ORACLE_SQL["bpe_top_merges"] = f"""
    WITH vocab AS (
        SELECT t AS tok, CAST(count(*) AS BIGINT) AS c
        FROM documents, unnest({_TOKS}) AS u(t)
        GROUP BY t
    ),
    pairs AS (
        SELECT substring(tok, i, 2) AS pair, CAST(sum(c) AS BIGINT) AS n
        FROM vocab, unnest(range(1, length(tok))) AS r(i)
        WHERE length(tok) >= 2
        GROUP BY 1
    )
    SELECT pair, n, rnk FROM (
        SELECT pair, n,
               CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rnk
        FROM pairs
    ) WHERE rnk <= {BPE_TOP_K}
"""


def unigram_logprob_scores(
    documents: DataFrame, vocab_top_k: int = LM_VOCAB_TOP_K
) -> DataFrame:
    """Per-document perplexity under the corpus's own unigram LM -- the
    CCNet-style (Wenzek et al. 2019) quality signal: text whose tokens
    are corpus-typical scores low, gibberish/outlier text scores high
    (real pipelines swap in a KenLM trained on a reference corpus; the
    dataflow is identical -- token score lookup + per-doc average).

    Returns (doc_id, n_tokens, avg_neg_log2_prob, ppl) where
    ppl = 2^avg. Plan shape at 100 TB: one token-count aggregate builds
    the LM (map-side combined -- the shuffle carries per-partition
    DISTINCT tokens, never the occurrence stream), the LM is df-capped
    and BROADCAST, and scoring is a broadcast left join the exploded
    docs stream through, then one doc-keyed aggregate. The earlier
    shape (toks JOIN counts ON tok) shuffled every token OCCURRENCE on
    a Zipf key -- at corpus scale the 'the' partition holds a
    double-digit share of all rows; gated out in tests/test_plans.py
    (no shuffle join anywhere in this plan).

    The cap is score-neutral by construction at the floor: OOV tokens
    score with count 1, and every count-1 token scores identically
    in or out of the table, so dropping the singleton tail (most of a
    web corpus's distinct tokens) changes nothing; the top-K bound
    (default 64k rows, single-digit MBs broadcast) then caps the
    2-and-up vocabulary, which at test SFs it never truncates -- the
    1e-9 independent-Python pin (tests/test_round4_ops.py) runs against
    the FULL-vocabulary reference and still holds. ``total`` stays the
    full corpus token count (computed before any cap).

    Registered rows-only: ln/log2 differ in final ulps between libm
    implementations, so a hash oracle would be flaky by construction;
    the value contract is pinned in pytest against an independently
    computed reference with 1e-9 relative tolerance
    (tests/test_round4_ops.py)."""
    toks = documents.select(
        "doc_id", F.explode(tokenize_ws("text")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").alias("total"))
    # score-neutral tail drop (c=1 scores exactly like OOV), then the
    # hard top-K bound. orderBy().limit() compiles to
    # TakeOrderedAndProject -- per-partition heaps of K, no global sort
    # of the vocabulary (a global row_number window would single-
    # partition the whole >=2-count vocab). Deterministic: the
    # (count desc, token) order is total.
    lm = (
        counts.filter(F.col("c") >= 2)
        .orderBy(F.col("c").desc(), F.col("tok"))
        .limit(vocab_top_k)
    )
    scored = (
        toks.join(F.broadcast(lm), "tok", "left")
        .join(F.broadcast(total))
        .select(
            "doc_id",
            (
                -(
                    F.log2(F.coalesce(F.col("c"), F.lit(1)))
                    - F.log2(F.col("total"))
                )
            ).alias("nlp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.avg("nlp").alias("avg_neg_log2_prob"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "avg_neg_log2_prob",
            F.pow(F.lit(2.0), F.col("avg_neg_log2_prob")).alias("ppl"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR: Data Selection via Importance Resampling (Xie et al., NeurIPS 2023).
# Select raw-corpus documents whose hashed-n-gram profile looks like a
# target domain. Here the target is the corpus's own lang='en' slice --
# real pipelines plug in a Wikipedia/books sample; the dataflow is
# identical (two tiny bucket LMs + a broadcast-scored doc stream).
# ---------------------------------------------------------------------------

#: Hashed feature-space size (the paper's bag of hashed n-grams).
DSIR_BUCKETS = 1024
#: Resample size for the Gumbel-top-k step.
DSIR_SAMPLE_K = 128
#: Fixed-point scale for quantized log2 scores. 1e-6 log2-units is far
#: below any meaningful importance difference and ~1e8 above libm's
#: cross-engine log2 ulp jitter, so floor(x*1e6 + 0.5) is bit-identical
#: in Spark and DuckDB (same trick as TEMP_WEIGHT_SCALE / the ADC
#: integer-mantissa oracles).
DSIR_SCALE = 1_000_000
#: Target-domain predicate: the slice whose distribution we resample
#: toward.
DSIR_TARGET_LANG = "en"


def _dsir_features(documents: DataFrame) -> DataFrame:
    """(doc_id, lang, bucket): one row per unigram+bigram occurrence,
    hashed into DSIR_BUCKETS via md5 (engine-portable, uniform).

    Production path is Arrow-vectorized (SCALE.md interpreted-HOF
    policy: the bigram-building ``concat(toks, word_shingles(toks, 2))``
    expression ran interpreted per row and was ~85% of the feature-stage
    cost); ``_dsir_features_expr`` keeps the pure-JVM expression form as
    the parity reference, pinned equal in
    tests/test_tokenizer_parity.py."""
    from ..functions.text import dsir_feature_buckets_arrow

    return documents.select(
        "doc_id",
        "lang",
        F.explode(dsir_feature_buckets_arrow(DSIR_BUCKETS)("text")).alias(
            "bucket"
        ),
    )


def _dsir_features_expr(documents: DataFrame) -> DataFrame:
    """Pure-JVM expression twin of ``_dsir_features`` (the form the
    DuckDB oracle mirrors) -- parity reference only."""
    toks = tokenize_ws("text")
    feats = F.concat(toks, word_shingles(toks, 2))
    return documents.select(
        "doc_id", "lang", F.explode(feats).alias("feat")
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("feat")), 1, 8), 16, 10).cast(
                "bigint"
            )
            % DSIR_BUCKETS
        ).alias("bucket"),
    )


def _dsir_bucket_scores(fb: DataFrame) -> DataFrame:
    """(bucket, s) where s = floor(DSIR_SCALE * log2 importance ratio
    + 0.5) under add-1 smoothing: ratio = p_target[b] / p_raw[b] with
    p[b] = (c_b + 1) / (T + B). Raw = the full corpus, so every bucket
    a document can produce is present (its own features are in the raw
    counts); smoothing only fills target-side zeros.

    ONE map-side-combined aggregate builds both LMs (raw and target
    counts as two conditional sums over the same pass -- the feature
    stream is traversed once here, not once per LM), and the corpus
    totals are derived from the <= DSIR_BUCKETS-row LM relation itself
    (a window-free broadcast cross of a 1-row aggregate), not from a
    third scan of the occurrence stream."""
    lm = fb.groupBy("bucket").agg(
        F.count("*").alias("cr"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("ct"),
    )
    totals = lm.agg(
        F.sum("cr").alias("tr"), F.sum("ct").alias("tt")
    )
    # ratio factors multiplied in DOUBLE (IEEE-deterministic in both
    # engines); the single transcendental (log2) is then quantized.
    ratio = (
        (F.col("ct") + F.lit(1)).cast("double")
        * (F.col("tr") + F.lit(DSIR_BUCKETS)).cast("double")
    ) / (
        (F.col("cr") + F.lit(1)).cast("double")
        * (F.col("tt") + F.lit(DSIR_BUCKETS)).cast("double")
    )
    return lm.join(F.broadcast(totals)).select(
        "bucket",
        F.floor(F.log2(ratio) * F.lit(float(DSIR_SCALE)) + F.lit(0.5))
        .cast("bigint")
        .alias("s"),
    )


def dsir_log_weights(documents: DataFrame) -> DataFrame:
    """Per-document DSIR importance weight (Xie et al. 2023): log2 of
    prod_b (p_target[b]/p_raw[b])^{n_b} over hashed unigram+bigram
    buckets, i.e. sum_b n_b * s_b in 1e-6 fixed point. Documents with
    no tokens keep weight 0 (empty product).

    Plan shape at 100 TB: the feature stream is traversed exactly
    TWICE -- once for the combined bucket-LM aggregate (raw + target
    counts in one map-side-combined pass; the shuffle carries
    per-partition distinct buckets, never the occurrence stream) and
    once for scoring; totals derive from the tiny LM relation. The
    score table broadcasts; the only large shuffle is the final
    doc_id-keyed sum. No Zipf-key join: features meet scores through a
    broadcast hash join exactly like unigram_logprob_scores' capped LM.
    (The DuckDB oracle deliberately keeps the naive two-LM-CTE
    formulation -- an independent derivation of the same counts.)

    Returns (doc_id, lang, n_feats, logw) -- logw = quantized-integer
    sum / 1e6, bit-identical across engines (hash-exact oracle)."""
    fb = _dsir_features(documents)
    scores = _dsir_bucket_scores(fb)
    per_doc = (
        fb.join(F.broadcast(scores), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_feats"),
            F.sum("s").alias("logw_q"),
        )
    )
    return (
        documents.select("doc_id", "lang")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("n_feats"), F.lit(0))
            .cast("bigint")
            .alias("n_feats"),
            (
                F.coalesce(F.col("logw_q"), F.lit(0))
                / F.lit(float(DSIR_SCALE))
            ).alias("logw"),
        )
    )


def dsir_sample(documents: DataFrame, k: int = DSIR_SAMPLE_K) -> DataFrame:
    """Gumbel-top-k importance RESAMPLING over dsir_log_weights -- the
    paper's sampling-without-replacement step, derandomized: u =
    md5(doc_id)-derived uniform in (0,1), key = logw + (-log2(-log2 u)).
    A log2-domain Gumbel is the ln-domain Gumbel scaled by 1/ln2 plus a
    constant shared by every doc, so the selected top-k set is exactly
    the paper's (monotone transform). Hash-threshold randomness for the
    same reason stratified_sample uses it: retry-stable, engine-portable,
    no RNG state at 100 TB.

    orderBy().limit(k) compiles to TakeOrderedAndProject (per-partition
    heaps of k, no global sort). Returns (doc_id, lang, logw, score,
    rnk); score is the fixed-point-exact Gumbel-perturbed key."""
    lw = dsir_log_weights(documents)
    # u = (first 13 md5 hex chars + 0.5) / 2^52: 52 bits fit a double
    # exactly, +0.5 and the power-of-two division are IEEE-exact, and u
    # is strictly inside (0, 1) -- no log2(0) pole even on an all-zero
    # digest prefix.
    u = (
        F.conv(
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 13
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2 ** 52))
    g_q = F.floor(
        -F.log2(-F.log2(u)) * F.lit(float(DSIR_SCALE)) + F.lit(0.5)
    ).cast("bigint")
    score_q = (
        F.floor(F.col("logw") * F.lit(float(DSIR_SCALE)) + F.lit(0.5))
        .cast("bigint")  # logw = logw_q/1e6; floor(x*1e6+0.5) recovers
        + g_q            # the integer exactly for |logw_q| < 2^52
    )
    return (
        lw.select(
            "doc_id",
            "lang",
            "logw",
            (score_q / F.lit(float(DSIR_SCALE))).alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
        .select(
            "doc_id",
            "lang",
            "logw",
            "score",
            F.row_number()
            .over(Window.orderBy(F.col("score").desc(), "doc_id"))
            .cast("int")
            .alias("rnk"),
        )
    )


_DSIR_CTE = f"""
    dsw AS (
        SELECT doc_id, lang, {_TOKS} AS w FROM documents
    ),
    dsfeats AS (
        SELECT doc_id, lang,
               unnest(list_concat(w,
                   list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                                  i -> w[i] || ' ' || w[i+1]))) AS feat
        FROM dsw
    ),
    dsfb AS (
        SELECT doc_id, lang,
               CAST(concat('0x', substr(md5(feat), 1, 8)) AS BIGINT)
                   % {DSIR_BUCKETS} AS bucket
        FROM dsfeats
    ),
    dsraw AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS cr
        FROM dsfb GROUP BY bucket
    ),
    dstgt AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS ct
        FROM dsfb WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket
    ),
    dstots AS (
        SELECT CAST(count(*) AS BIGINT) AS tr,
               CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS tt
        FROM dsfb
    ),
    dsscores AS (
        SELECT r.bucket,
               CAST(floor(log2(
                   (CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE)
                    * CAST(s.tr + {DSIR_BUCKETS} AS DOUBLE))
                   / (CAST(r.cr + 1 AS DOUBLE)
                      * CAST(s.tt + {DSIR_BUCKETS} AS DOUBLE))
               ) * {DSIR_SCALE}.0 + 0.5) AS BIGINT) AS s
        FROM dsraw r LEFT JOIN dstgt t USING (bucket), dstots s
    ),
    dsperdoc AS (
        SELECT f.doc_id,
               CAST(count(*) AS BIGINT) AS n_feats,
               CAST(sum(sc.s) AS BIGINT) AS logw_q
        FROM dsfb f JOIN dsscores sc USING (bucket)
        GROUP BY f.doc_id
    ),
    dslw AS (
        SELECT d.doc_id, d.lang,
               CAST(COALESCE(p.n_feats, 0) AS BIGINT) AS n_feats,
               COALESCE(p.logw_q, 0) / {DSIR_SCALE}.0 AS logw
        FROM documents d LEFT JOIN dsperdoc p USING (doc_id)
    )
"""

ORACLE_SQL["dsir_log_weights"] = f"""
    WITH {_DSIR_CTE}
    SELECT doc_id, lang, n_feats, logw FROM dslw
"""

ORACLE_SQL["dsir_sample"] = f"""
    WITH {_DSIR_CTE},
    keyed AS (
        SELECT doc_id, lang, logw,
               (CAST(floor(logw * {DSIR_SCALE}.0 + 0.5) AS BIGINT)
                + CAST(floor(
                    -log2(-log2(
                        (CAST(concat('0x',
                             substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                          AS BIGINT) + 0.5) / {float(2 ** 52)!r}
                    )) * {DSIR_SCALE}.0 + 0.5) AS BIGINT))
                   / {DSIR_SCALE}.0 AS score
        FROM dslw
    )
    SELECT doc_id, lang, logw, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
               AS rnk
    FROM keyed
    ORDER BY score DESC, doc_id
    LIMIT {DSIR_SAMPLE_K}
"""


# ---------------------------------------------------------------------------
# Classifier-based quality filtering (Brown et al. 2020, Appendix A; the
# GPT-3 / LLaMA data recipe): score every document with a linear
# quality model, then keep a document iff a Pareto(alpha) draw exceeds
# 1 - score -- which keeps most high-scoring documents while letting a
# long tail of low-scoring ones through (the paper's exact rule:
# ``np.random.pareto(9) > 1 - document_score``).
# ---------------------------------------------------------------------------

#: Stand-in linear-model weights over the quality_score feature vector
#: (stopword_ratio, mean_token_len, digit_ratio, punct_ratio, and a
#: length feature). Real pipelines train a fastText/logistic model on
#: labeled "reference domain vs crawl" data offline and plug the learned
#: weights into the same expression; the dataflow is identical.
QC_BIAS = -2.0
QC_W_STOP = 8.0
QC_W_MTL = 0.25
QC_W_DIGIT = -6.0
QC_W_PUNCT = -3.0
QC_W_LOGLEN = 0.15
#: The paper's Pareto shape.
QC_PARETO_ALPHA = 9.0


def quality_classifier_scores(documents: DataFrame) -> DataFrame:
    """Per-document linear quality score z, sigmoid probability p, a
    derandomized Pareto(9) draw, and the GPT-3 keep verdict
    ``pareto_x > 1 - p``.

    All features are exact int/int rational doubles (same definitions
    as quality_score); z = w.x + b is IEEE-deterministic. The two
    transcendentals (sigmoid's exp; the Pareto inverse-CDF pow) are
    quantized to 1e-6 fixed point, making the whole row hash-exact
    across engines (same policy as DSIR / TEMP_WEIGHT_SCALE). The
    Pareto draw derives from md5(doc_id) -- retry-stable, engine-
    portable, no RNG state (stratified_sample's argument). Tokenless
    documents score with zero features and are never kept: the keep
    verdict carries explicit n_chars > 0 AND n_tok > 0 conjuncts (the
    bias-only z = -2 still sigmoids to p ~ 0.119, which the luckiest
    ~0.3% of Pareto draws would otherwise clear; the n_tok conjunct
    also covers whitespace-only docs, which have characters but no
    tokens and would otherwise score on the char-ratio features
    alone).

    Pure Catalyst: one narrow projection, no joins, no shuffle."""
    toks = tokenize_ws("text")
    n_tok = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, b: a + b
    )
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*LANG_PROFILES["en"])))
    digits = F.length(F.regexp_replace(F.col("text"), "[^0-9]", ""))
    punct = F.length(F.regexp_replace(F.col("text"), "[a-zA-Z0-9 \\t\\n]", ""))
    empty = n_tok == 0
    z = F.when(F.col("n_chars") == 0, F.lit(QC_BIAS)).otherwise(
        F.lit(QC_BIAS)
        + F.lit(QC_W_STOP) * F.when(empty, 0.0).otherwise(stop_hits / n_tok)
        + F.lit(QC_W_MTL) * F.when(empty, 0.0).otherwise(sum_len / n_tok)
        + F.lit(QC_W_DIGIT) * (digits / F.col("n_chars"))
        + F.lit(QC_W_PUNCT) * (punct / F.col("n_chars"))
        + F.lit(QC_W_LOGLEN)
        * F.floor(F.log2(F.col("n_chars").cast("double")))
    )
    p_q = F.floor(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))))
        * F.lit(float(DSIR_SCALE))
        + F.lit(0.5)
    ).cast("bigint")
    u = (
        F.conv(
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 13
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2 ** 52))
    x_q = F.floor(
        (F.pow(u, F.lit(-1.0 / QC_PARETO_ALPHA)) - F.lit(1.0))
        * F.lit(float(DSIR_SCALE))
        + F.lit(0.5)
    ).cast("bigint")
    return (
        documents.select(
            "doc_id",
            "lang",
            F.col("n_chars"),
            n_tok.alias("n_tok"),
            z.alias("z"),
        )
        .select(
            "doc_id",
            "lang",
            "n_chars",
            "n_tok",
            "z",
            p_q.alias("p_q"),
            x_q.alias("x_q"),
        )
        .select(
            "doc_id",
            "lang",
            "z",
            (F.col("p_q") / F.lit(float(DSIR_SCALE))).alias("p"),
            (F.col("x_q") / F.lit(float(DSIR_SCALE))).alias("pareto_x"),
            (
                (F.col("x_q") > F.lit(DSIR_SCALE) - F.col("p_q"))
                & (F.col("p_q") > 0)
                & (F.col("n_chars") > 0)
                & (F.col("n_tok") > 0)
            ).alias("keep"),
        )
    )


ORACLE_SQL["quality_classifier_scores"] = f"""
    WITH qf AS (
        SELECT doc_id, lang, n_chars,
               {_TOKS} AS w,
               length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
               length(regexp_replace(text, '[a-zA-Z0-9 \t\n]', '', 'g'))
                   AS punct
        FROM documents
    ),
    feats AS (
        SELECT doc_id, lang, n_chars, len(w) AS n_tok,
               CASE WHEN n_chars = 0 THEN CAST({QC_BIAS} AS DOUBLE) ELSE
               CAST({QC_BIAS} AS DOUBLE)
               + CAST({QC_W_STOP} AS DOUBLE)
                 * (CASE WHEN len(w) = 0 THEN 0.0 ELSE
                    len(list_filter(w, t -> t IN ('the','a','of','and','to')))
                    / len(w) END)
               + CAST({QC_W_MTL} AS DOUBLE)
                 * (CASE WHEN len(w) = 0 THEN 0.0 ELSE
                    list_sum(list_transform(w, t -> length(t))) / len(w) END)
               + CAST({QC_W_DIGIT} AS DOUBLE) * (digits / n_chars)
               + CAST({QC_W_PUNCT} AS DOUBLE) * (punct / n_chars)
               + CAST({QC_W_LOGLEN} AS DOUBLE)
                 * floor(log2(CAST(n_chars AS DOUBLE)))
               END AS z
        FROM qf
    ),
    keyed AS (
        SELECT doc_id, lang, n_chars, n_tok, z,
               CAST(floor((1.0 / (1.0 + exp(-z))) * {DSIR_SCALE}.0 + 0.5)
                    AS BIGINT) AS p_q,
               CAST(floor(
                   (pow((CAST(concat('0x',
                            substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                         AS BIGINT) + 0.5) / {float(2 ** 52)!r},
                        {-1.0 / QC_PARETO_ALPHA!r}) - 1.0)
                   * {DSIR_SCALE}.0 + 0.5) AS BIGINT) AS x_q
        FROM feats
    )
    SELECT doc_id, lang, z,
           p_q / {DSIR_SCALE}.0 AS p,
           x_q / {DSIR_SCALE}.0 AS pareto_x,
           (x_q > {DSIR_SCALE} - p_q AND p_q > 0 AND n_chars > 0
            AND n_tok > 0) AS keep
    FROM keyed
"""


def dsir_lm_table(documents: DataFrame) -> tuple[dict, int]:
    """Collect the trained DSIR bucket-score LM as a plain dict plus the
    OOV-bucket default (add-1 smoothing with zero counts both sides:
    floor(1e6 * log2((tr+B)/(tt+B)))). <= DSIR_BUCKETS+1 scalars to the
    driver -- the model artifact a trained filter ships; same K-scalar
    collect budget as assign_doc_ids_scalable's offsets."""
    import math

    fb = _dsir_features(documents)
    scores = {
        r.bucket: r.s for r in _dsir_bucket_scores(fb).collect()
    }
    tr, tt = fb.groupBy().agg(
        F.count("*"),
        F.sum(F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)),
    ).collect()[0]
    default_s = math.floor(
        math.log2((tr + DSIR_BUCKETS) / (tt + DSIR_BUCKETS))
        * float(DSIR_SCALE)
        + 0.5
    )
    return scores, default_s


def dsir_scorer_arrow(scores: dict, default_s: int):
    """Arrow-vectorized DSIR scorer over a SHIPPED LM (dict closure):
    per document, (n_feats, logw) computed feature-by-feature with the
    same md5 bucketing and exact integer summation as the distributed
    dsir_log_weights -- bit-identical because integer addition is
    order-free and the final /1e6 is the same IEEE division. This is
    the scoring half of DSIR deployed as a trained filter (the LM is
    the model artifact; no shuffle, no state -- pure per-row work)."""
    from hashlib import md5

    from ..functions.text import _WS_RE

    def _score(text: pd.Series) -> pd.DataFrame:
        nf, lw = [], []
        for t in text:
            toks = [w for w in _WS_RE.split(t or "") if w]
            feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
            q = 0
            for ft in feats:
                b = (
                    int(md5(ft.encode("utf-8")).hexdigest()[:8], 16)
                    % DSIR_BUCKETS
                )
                q += scores.get(b, default_s)
            nf.append(len(feats))
            lw.append(q / float(DSIR_SCALE))
        return pd.DataFrame({"n_feats": nf, "logw": lw})

    return F.pandas_udf(_score, "n_feats bigint, logw double")


# --------------------------------------------------------------------------
# Gopher rule-based quality filter (Rae et al. 2021, "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher", App. A1.1)
# --------------------------------------------------------------------------

# The 8 stop words of Gopher rule 7 ("contains at least 2 of ...").
GOPHER_STOPWORDS = ["and", "be", "have", "of", "that", "the", "to", "with"]


def gopher_rule_exprs() -> dict:
    """The A1.1 rule columns as named expressions over an implicit
    `text` column -- shared by the batch filter and the streaming twin
    (rule_filter_stream) so both are the SAME single projection."""
    toks = tokenize_ws("text")
    lines = F.split(F.col("text"), "\n")
    n_words = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, b: a + b
    )
    n_lines = F.size(lines)
    n_sym = F.regexp_count(F.col("text"), F.lit("#")) + F.regexp_count(
        F.col("text"), F.lit(r"\.\.\.")
    )
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]")))
    n_ellipsis = F.size(F.filter(lines, lambda l: l.rlike(r"\.\.\.\s*$")))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    empty = n_words == 0
    mean_len = F.when(empty, F.lit(0.0)).otherwise(sum_len / n_words)
    sym_ratio = F.when(empty, F.lit(0.0)).otherwise(n_sym / n_words)
    alpha_ratio = F.when(empty, F.lit(0.0)).otherwise(n_alpha / n_words)
    bullet_ratio = n_bullet / n_lines
    ellipsis_ratio = n_ellipsis / n_lines
    ok_words = (n_words >= 50) & (n_words <= 100000)
    ok_mean = (mean_len >= 3.0) & (mean_len <= 10.0)
    ok_sym = sym_ratio <= 0.1
    ok_bullet = bullet_ratio < 0.9
    ok_ellipsis = ellipsis_ratio < 0.3
    ok_alpha = alpha_ratio > 0.8
    ok_stop = stop_hits >= 2
    return {
        "n_words": n_words,
        "mean_word_len": mean_len,
        "symbol_word_ratio": sym_ratio,
        "bullet_line_ratio": bullet_ratio,
        "ellipsis_line_ratio": ellipsis_ratio,
        "alpha_word_ratio": alpha_ratio,
        "stopword_hits": stop_hits,
        "ok_word_count": ok_words,
        "ok_mean_word_len": ok_mean,
        "ok_symbol_ratio": ok_sym,
        "ok_bullet_lines": ok_bullet,
        "ok_ellipsis_lines": ok_ellipsis,
        "ok_alpha_words": ok_alpha,
        "ok_stopwords": ok_stop,
        "gopher_pass": (
            ok_words
            & ok_mean
            & ok_sym
            & ok_bullet
            & ok_ellipsis
            & ok_alpha
            & ok_stop
        ),
    }


def gopher_quality_filter(documents: DataFrame) -> DataFrame:
    """Gopher rule-based document filter (Rae et al. 2021 App. A1.1),
    the canonical pre-classifier curation pass: per-doc signals for all
    seven published rules plus per-rule booleans and the AND verdict.

    Rules (published thresholds kept verbatim): 50 <= words <= 100k;
    3 <= mean word length <= 10; (# + '...') / words <= 0.1; < 90% of
    lines bullet-led; < 30% of lines ellipsis-terminated; > 80% of
    words contain an alphabetic char; >= 2 distinct hits in the 8-word
    stop list.

    Exactness: every ratio is int/int evaluated once in double with
    identical operand order in both engines; empty docs (0 words) pin
    ratios to 0.0 and fail the verdict instead of dividing by zero.
    Line splits keep trailing empties in both engines (Java split
    limit=-1 == DuckDB string_split), so line counts agree.

    Plan: single narrow projection -- no shuffle, no join, no UDF; all
    seven rules evaluate inside one whole-stage-codegen pass over the
    scan, so at 100 TB this is scan-bound map work that AQE cannot
    mis-plan. The stop list is an inlined 8-element array literal."""
    exprs = gopher_rule_exprs()
    return documents.select(
        "doc_id", *[c.alias(name) for name, c in exprs.items()]
    )


ORACLE_SQL["gopher_quality_filter"] = f"""
    WITH t AS (
        SELECT doc_id, text, {_TOKS} AS toks,
               string_split(text, chr(10)) AS lines
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(toks) AS INT) AS n_words,
               list_sum(list_transform(toks, x -> length(x))) AS sum_len,
               CAST(len(lines) AS INT) AS n_lines,
               CAST(len(regexp_extract_all(text, '#')) AS INT)
                   + CAST(len(regexp_extract_all(text, '\\.\\.\\.')) AS INT)
                   AS n_sym,
               CAST(len(list_filter(lines,
                   l -> regexp_matches(l, '^\\s*[-*•]'))) AS INT)
                   AS n_bullet,
               CAST(len(list_filter(lines,
                   l -> regexp_matches(l, '\\.\\.\\.\\s*$'))) AS INT)
                   AS n_ellipsis,
               CAST(len(list_filter(toks,
                   x -> regexp_matches(x, '[a-zA-Z]'))) AS INT) AS n_alpha,
               CAST(len(list_intersect(list_distinct(toks),
                   {GOPHER_STOPWORDS!r})) AS INT) AS stop_hits
        FROM t
    ),
    r AS (
        SELECT doc_id, n_words,
               CASE WHEN n_words = 0 THEN 0.0
                    ELSE sum_len / n_words END AS mean_word_len,
               CASE WHEN n_words = 0 THEN 0.0
                    ELSE n_sym / n_words END AS symbol_word_ratio,
               n_bullet / n_lines AS bullet_line_ratio,
               n_ellipsis / n_lines AS ellipsis_line_ratio,
               CASE WHEN n_words = 0 THEN 0.0
                    ELSE n_alpha / n_words END AS alpha_word_ratio,
               stop_hits
        FROM m
    )
    SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
           bullet_line_ratio, ellipsis_line_ratio, alpha_word_ratio,
           stop_hits AS stopword_hits,
           (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
           (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
               AS ok_mean_word_len,
           (symbol_word_ratio <= 0.1) AS ok_symbol_ratio,
           (bullet_line_ratio < 0.9) AS ok_bullet_lines,
           (ellipsis_line_ratio < 0.3) AS ok_ellipsis_lines,
           (alpha_word_ratio > 0.8) AS ok_alpha_words,
           (stop_hits >= 2) AS ok_stopwords,
           (n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_word_ratio <= 0.1
            AND bullet_line_ratio < 0.9
            AND ellipsis_line_ratio < 0.3
            AND alpha_word_ratio > 0.8
            AND stop_hits >= 2) AS gopher_pass
    FROM r
"""


# --------------------------------------------------------------------------
# Exact duplicated-substring coverage (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better" -- the ExactSubstr metric)
# --------------------------------------------------------------------------

DUP_COVERAGE_N = 5  # shingle width; Lee et al. use 50 BPE tokens at corpus scale


def duplicated_ngram_coverage(
    documents: DataFrame, n: int = DUP_COVERAGE_N
) -> DataFrame:
    """Per-doc fraction of token positions covered by an n-gram that
    occurs more than once in the corpus -- the ExactSubstr duplication
    metric of Lee et al. 2022: the suffix-array criterion re-expressed
    as shingle occurrence counts (a position is 'duplicated' iff some
    n-token window through it repeats, incl. within one doc).

    Plan: posexplode shingles (fan-out len-n+1 per doc) -> one groupBy
    gram with map-side combine to count occurrences -> semi-join the
    >=2-occurrence grams back (equi-key on the gram; at n>=5 the gram
    frequency tail is orders flatter than unigrams' Zipf, and ONLY
    duplicated grams re-join, so the shuffled candidate set shrinks
    with corpus cleanliness) -> bounded n-fold explode to positions ->
    per-doc distinct + count, doc_id-keyed. No all-pairs, no driver
    state; the heaviest relation is the shingle stream, linear in
    corpus tokens -- same budget every shingle-dedup op here pays.
    Output is |docs| rows regardless of volume."""
    toks = tokenize_ws("text")
    base = documents.select("doc_id", toks.alias("w"))
    totals = base.select("doc_id", F.size("w").alias("n_tokens"))
    pos = base.select(
        "doc_id",
        F.posexplode(word_shingles(F.col("w"), n)).alias("pos", "gram"),
    )
    dup_grams = (
        pos.groupBy("gram")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= 2)
        .select("gram")
    )
    covered = (
        pos.join(dup_grams, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup"))
    )
    ndp = F.coalesce(F.col("n_dup"), F.lit(0)).cast("bigint")
    cov = F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
        ndp / F.col("n_tokens")
    )
    return totals.join(covered, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        ndp.alias("n_dup_positions"),
        cov.alias("dup_coverage"),
        (cov >= 0.5).alias("mostly_dup"),
    )


ORACLE_SQL["duplicated_ngram_coverage"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    tot AS (SELECT doc_id, CAST(len(w) AS INT) AS n_tokens FROM t),
    gpos AS (
        SELECT doc_id, w,
               unnest(range(1,
                   greatest(len(w) - {DUP_COVERAGE_N - 1}, 0) + 1)) AS i
        FROM t
    ),
    g AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(w[i:i+{DUP_COVERAGE_N - 1}], ' ') AS gram
        FROM gpos
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    cov AS (
        SELECT DISTINCT doc_id, pos + off AS p
        FROM (SELECT g.doc_id, g.pos,
                     unnest(range(0, {DUP_COVERAGE_N})) AS off
              FROM g JOIN dup USING (gram))
    ),
    hits AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup
        FROM cov GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_tokens,
           CAST(COALESCE(h.n_dup, 0) AS BIGINT) AS n_dup_positions,
           CASE WHEN t.n_tokens = 0 THEN 0.0
                ELSE COALESCE(h.n_dup, 0) / t.n_tokens
           END AS dup_coverage,
           (CASE WHEN t.n_tokens = 0 THEN 0.0
                 ELSE COALESCE(h.n_dup, 0) / t.n_tokens
            END >= 0.5) AS mostly_dup
    FROM tot t LEFT JOIN hits h USING (doc_id)
"""


_ES_PACK = 2**32  # (doc_id, pos) packed into one BIGINT for a portable argmin


def exact_substr_dedup(
    documents: DataFrame, n: int = DUP_COVERAGE_N
) -> DataFrame:
    """ExactSubstr span REMOVAL (Lee et al. 2022 §4.1): rewrite each
    document with corpus-duplicated spans removed, keeping the FIRST
    occurrence -- the pipeline stage practitioners actually run, on top
    of the duplication metric duplicated_ngram_coverage computes.

    Semantics (the suffix-array criterion re-expressed on the shingle
    approximation, documented as such): an n-token window is duplicated
    iff its gram occurs >= 2 times in the corpus; the globally FIRST
    occurrence of each such gram (min over the packed doc_id * 2^32 +
    pos key -- portable across engines, exact while doc_id < 2^31 and
    docs < 2^32 tokens) is the keeper, every other occurrence is a
    span to remove. A token position is removed iff some NON-FIRST
    duplicated window covers it (union, exactly the positional reading
    of duplicated_ngram_coverage); the cleaned text is the surviving
    tokens joined by single spaces (whitespace is not reconstructed --
    the same token-stream approximation the shingles are built on).
    A verbatim copy of an earlier document therefore collapses to ''
    while the original survives untouched (planted-duplicate test).

    Plan: the same shingle stream duplicated_ngram_coverage pays --
    posexplode -> one gram aggregate with map-side combine (count +
    packed argmin) -> ONLY >=2x grams re-join the position stream
    (equi-key on the gram, shrinking with corpus cleanliness) ->
    bounded n-fold explode to covered positions -> distinct -> covered
    positions collected into ONE small array per doc (only duplicated
    positions ride the ObjectHashAggregate, not the token stream) ->
    one doc-keyed join back to the token-array relation, where the
    cleaned text is rebuilt DOC-LOCALLY (filter tokens whose index is
    outside the covered set, join with spaces). Rebuilding from the
    full exploded token stream instead (per-doc
    collect_list(struct(p, tok)) over every token) measured 7.2 s at
    sf0.1 vs 1.6 s for this shape -- the same
    non-primitive-aggregate-buffer trap the repetition filter hit. No
    all-pairs, no driver state; output is |docs| rows with the
    cleaned text column."""
    toks = tokenize_ws("text")
    base = _fan_out(documents).select(
        "doc_id", toks.alias("w")
    )
    pos = base.select(
        "doc_id",
        F.posexplode(word_shingles(F.col("w"), n)).alias("pos", "gram"),
    )
    key = F.col("doc_id") * F.lit(_ES_PACK) + F.col("pos")
    wins = (
        pos.select("gram", key.alias("k"))
        .groupBy("gram")
        .agg(F.count("*").alias("occ"), F.min("k").alias("first_k"))
        .filter(F.col("occ") >= 2)
        .select("gram", "first_k")
    )
    dup_occ = pos.join(wins, "gram").filter(key != F.col("first_k"))
    covered = (
        dup_occ.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("p"),
        )
        .distinct()
    )
    cov_arr = covered.groupBy("doc_id").agg(
        F.collect_list("p").alias("cov")
    )
    cov = F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    kept = F.filter(
        F.transform(
            "w",
            lambda t, i: F.when(~F.array_contains(cov, i), t),
        ),
        lambda t: t.isNotNull(),
    )
    return base.join(cov_arr, "doc_id", "left").select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_tokens"),
        F.size(cov).cast("bigint").alias("n_removed"),
        (F.size("w") - F.size(cov)).cast("bigint").alias("n_kept"),
        F.array_join(kept, " ").alias("cleaned_text"),
    )


ORACLE_SQL["exact_substr_dedup"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    tot AS (SELECT doc_id, CAST(len(w) AS INT) AS n_tokens FROM t),
    g AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(w[i:i+{DUP_COVERAGE_N - 1}], ' ') AS gram
        FROM (SELECT doc_id, w,
                     unnest(range(1,
                         greatest(len(w) - {DUP_COVERAGE_N - 1}, 0) + 1)) AS i
              FROM t)
    ),
    wins AS (
        SELECT gram, min(doc_id * {_ES_PACK} + pos) AS first_k
        FROM g GROUP BY gram HAVING count(*) >= 2
    ),
    dup AS (
        SELECT g.doc_id, g.pos
        FROM g JOIN wins USING (gram)
        WHERE g.doc_id * {_ES_PACK} + g.pos <> wins.first_k
    ),
    cov AS (
        SELECT DISTINCT doc_id, pos + off AS p
        FROM (SELECT doc_id, pos, unnest(range(0, {DUP_COVERAGE_N})) AS off
              FROM dup)
    ),
    rem AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
        FROM cov GROUP BY doc_id
    ),
    tokpos AS (
        SELECT doc_id, i - 1 AS p, w[i] AS tok
        FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM t)
    ),
    kept AS (
        SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.p)
                   AS cleaned_text
        FROM tokpos tp
        LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.p = tp.p
        WHERE cov.p IS NULL
        GROUP BY tp.doc_id
    )
    SELECT t.doc_id, t.n_tokens,
           CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed,
           CAST(t.n_tokens - COALESCE(r.n_removed, 0) AS BIGINT) AS n_kept,
           COALESCE(k.cleaned_text, '') AS cleaned_text
    FROM tot t
    LEFT JOIN rem r USING (doc_id)
    LEFT JOIN kept k USING (doc_id)
"""


def source_quality_report(documents: DataFrame) -> DataFrame:
    """Per-source curation audit -- the per-dump quality report a corpus
    owner reads before deciding which crawls/feeds to keep (the
    FineWeb/RefinedWeb-style dump triage): docs, Gopher-rule pass rate,
    exact token volume, and the share of tokens sitting under
    corpus-duplicated n-grams, one row per source.

    Composes two already-oracled sub-reports (gopher_quality_filter,
    duplicated_ngram_coverage) by doc_id equi-joins, then one map-side-
    combined groupBy(source). Every ratio divides exact BIGINT sums once
    in double, so the report hash-matches. At 100 TB: the joins carry
    doc_id keys (uniform), the output is |sources| rows, and the corpus
    is scanned twice (once per sub-report) -- the coverage pass cannot
    share the gopher scan because its shingle fan-out reshapes the rows.
    """
    d = documents.select("doc_id", "source")
    gq = gopher_quality_filter(documents).select("doc_id", "gopher_pass")
    cov = duplicated_ngram_coverage(documents).select(
        "doc_id", "n_tokens", "n_dup_positions"
    )
    joined = d.join(gq, "doc_id").join(cov, "doc_id")
    agg = joined.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("gopher_pass"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pass"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_dup_positions").cast("bigint").alias("n_dup_positions"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_pass",
        (F.col("n_pass") / F.col("n_docs")).alias("gopher_pass_rate"),
        "n_tokens",
        "n_dup_positions",
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(F.col("n_dup_positions") / F.col("n_tokens"))
        .alias("dup_token_share"),
    )


ORACLE_SQL["source_quality_report"] = f"""
    WITH gq AS ({ORACLE_SQL["gopher_quality_filter"]}),
    cov AS ({ORACLE_SQL["duplicated_ngram_coverage"]}),
    j AS (
        SELECT d.source, gq.gopher_pass, cov.n_tokens, cov.n_dup_positions
        FROM documents d
        JOIN gq USING (doc_id) JOIN cov USING (doc_id)
    ),
    agg AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN gopher_pass THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pass,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(sum(n_dup_positions) AS BIGINT) AS n_dup_positions
        FROM j GROUP BY source
    )
    SELECT source, n_docs, n_pass,
           n_pass / n_docs AS gopher_pass_rate,
           n_tokens, n_dup_positions,
           CASE WHEN n_tokens = 0 THEN 0.0
                ELSE n_dup_positions / n_tokens END AS dup_token_share
    FROM agg
"""


# --------------------------------------------------------------------------
# Gopher repetition-removal filter (Rae et al. 2021 App. A1.2) -- the
# companion to gopher_quality_filter's A1.1 rule set. repetition_signals
# samples these measures; this op implements the FULL published table.
# --------------------------------------------------------------------------

# (threshold, kind) per measure, verbatim from Rae et al. Table A1:
# fractions at or below the threshold pass.
GOPHER_REP_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top2_char_frac": 0.20,
    "top3_char_frac": 0.18,
    "top4_char_frac": 0.16,
    "dup5_char_frac": 0.15,
    "dup6_char_frac": 0.14,
    "dup7_char_frac": 0.13,
    "dup8_char_frac": 0.12,
    "dup9_char_frac": 0.11,
    "dup10_char_frac": 0.10,
}
_REP_PACK = 2**32  # (cnt, chars) packed into one BIGINT for a portable argmax

#: Output order of the 13 repetition fractions (the dict order the old
#: expression path used -- the verdict ANDs them all, so order only
#: fixes the output schema).
_REP_FRAC_NAMES = (
    "dup_line_frac",
    "dup_para_frac",
    "dup_line_char_frac",
    "dup_para_char_frac",
    "top2_char_frac",
    "top3_char_frac",
    "top4_char_frac",
    "dup5_char_frac",
    "dup6_char_frac",
    "dup7_char_frac",
    "dup8_char_frac",
    "dup9_char_frac",
    "dup10_char_frac",
)


def _rep_fracs_py(text):
    """The 13 A1.2 repetition fractions of one document, exactly as the
    DuckDB oracle (and the retired interpreted-HOF expression tree)
    defines them: integer numerators/denominators, one IEEE division
    each -- bit-equal by construction. NULL text yields NULLs (the
    expression path's NULL propagation).

    Vectorized per doc: tokens are dictionary-coded once; each n's gram
    multiset comes from one np.unique over the sliding code windows
    (exact grouping -- no hashing); gram char masses from a cumsum of
    token lengths; duplicated-window coverage from a difference-array
    union. Cost is O(L log L) per (doc, n) instead of the HOF tree's
    interpreted per-element lambda evaluation."""
    import numpy as np

    from ..functions.text import _WS_RE

    if text is None:
        return None
    toks = [t for t in _WS_RE.split(text) if t]
    lines = text.split("\n")
    paras = text.split("\n\n")
    len_t = len(text)

    def _dup_frac(xs):
        return (len(xs) - len(set(xs))) / len(xs) if xs else 0.0

    def _dup_chars(xs):
        return sum(map(len, xs)) - sum(len(x) for x in set(xs))

    out = [
        _dup_frac(lines),
        _dup_frac(paras),
        _dup_chars(lines) / len_t if len_t else 0.0,
        _dup_chars(paras) / len_t if len_t else 0.0,
    ]
    L = len(toks)
    if L:
        code: dict = {}
        codes = np.fromiter(
            (code.setdefault(tk, len(code)) for tk in toks),
            count=L,
            dtype=np.int64,
        )
        tlens = np.fromiter(
            (len(tk) for tk in toks), count=L, dtype=np.int64
        )
        clen = np.concatenate([[0], np.cumsum(tlens)])
    else:
        codes = tlens = clen = None
    tops: dict = {}
    dups: dict = {}
    for n in range(2, 11):
        G = L - n + 1
        if G <= 0:
            (tops if n <= 4 else dups)[n] = 0
            continue
        win = np.lib.stride_tricks.sliding_window_view(codes, n)
        uniq, inv, cnt = np.unique(
            win, axis=0, return_inverse=True, return_counts=True
        )
        inv = inv.reshape(-1)
        if n <= 4:
            # char mass of the gram at window i: token lengths in the
            # window + (n-1) joining spaces == len(' '.join(...))
            glen = (clen[n:] - clen[:-n]) + (n - 1)
            order = np.argsort(inv, kind="stable")
            firsts = order[
                np.searchsorted(inv[order], np.arange(len(cnt)))
            ]
            packed = cnt * _REP_PACK + cnt * glen[firsts]
            tops[n] = int(packed.max() % _REP_PACK)
        else:
            pos = np.flatnonzero(cnt[inv] >= 2)
            if len(pos) == 0:
                dups[n] = 0
                continue
            cov = np.zeros(L + 1, dtype=np.int64)
            cov[pos] += 1
            cov[pos + n] -= 1
            covered = np.cumsum(cov[:-1]) > 0
            tok_chars = int(tlens[covered].sum())
            adj = int((covered[:-1] & covered[1:]).sum())
            dups[n] = tok_chars + adj
    for k in (2, 3, 4):
        out.append(tops[k] / len_t if len_t else 0.0)
    for k in range(5, 11):
        out.append(dups[k] / len_t if len_t else 0.0)
    return out


def gopher_repetition_filter(
    documents: DataFrame, extra_exprs: dict | None = None
) -> DataFrame:
    """Gopher repetition-removal filter (Rae et al. 2021 App. A1.2),
    complete: duplicate line/paragraph fraction and character fraction,
    most-frequent {2,3,4}-gram character fraction, and duplicated
    {5..10}-gram character fraction, each against the published
    threshold, plus the AND verdict `repetition_pass`.

    Definitions (documented because the paper leaves them loose): an
    n-gram's character mass for the 'top' fractions is occurrences x
    length (spaces included; ties broken toward the larger character
    mass -- made portable/deterministic by taking max(cnt * 2^32 +
    chars), exact while per-doc char counts < 2^32). The 'dup'
    fractions are POSITIONAL coverage, matching the paper's "fraction
    of characters contained within duplicated n-grams" and the union
    reading duplicated_ngram_coverage uses: a token position is covered
    iff some >=2x n-gram passes through it; the numerator sums the
    lengths of covered tokens plus one joining space per ADJACENT pair
    of covered positions (the single-space mass of the duplicated
    windows; occurrence-summing instead would multi-count overlapping
    repeats and exceed 1.0). Denominator is length(text); empty docs
    pin fractions to 0.0 and pass (A1.1's word-count floor is the rule
    that kills them).

    `extra_exprs` (name -> Column over the raw `text`/`doc_id` row)
    rides the same projection and comes back as output columns -- how
    rule_filter_funnel gets all three rule families from ONE scan.

    Plan: every A1.2 measure is PER-DOCUMENT, so the whole filter is a
    single shuffle-free narrow pass -- no distributed n-gram aggregate
    at all. r12 optimization (guide §4.2): the per-doc measures moved
    from an interpreted-HOF expression tree (HOF lambdas have no
    codegen -- measured ~230 core-seconds at sf0.1) into ONE
    Arrow-batched mapInPandas kernel (`_rep_fracs_py`: dictionary-coded
    tokens, np.unique gram grouping, cumsum char masses, difference-
    array coverage -- ~9 core-seconds for the same corpus, bit-equal
    fractions pinned by tests/test_round5_ops.py's independent-Python
    axis). `extra_exprs` are evaluated as JVM expressions in the
    projection FEEDING the kernel and pass through it untouched, so the
    funnel still gets all three rule families from one scan (plan gate
    unchanged: 1 scan, 0 joins, the repartition exchange only). The
    only exchange is the round-robin repartition of the raw text so a
    few-file scan parallelizes (at 100 TB the scan has thousands of
    splits and AQE coalesces the no-op). Distributed designs measured
    and rejected in r5 (gram aggregate + join-back 9 s,
    collect_list(pos) 36 s, meta-through-aggregates 33 s) stay
    rejected."""
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    extra = dict(extra_exprs or {})
    base = _fan_out(documents).select(
        "doc_id",
        "text",
        *[c.alias(name) for name, c in extra.items()],
    )
    extra_fields = [
        f for f in base.schema.fields if f.name not in ("doc_id", "text")
    ]
    # doc_id keeps the INPUT column's type (ADVICE r12 #2: hardcoding
    # LongType silently cast/failed non-long doc_id pipelines at the
    # Arrow boundary; the retired expression path preserved it)
    doc_id_field = next(f for f in base.schema.fields if f.name == "doc_id")
    schema = StructType(
        [doc_id_field]
        + [StructField(nm, DoubleType()) for nm in _REP_FRAC_NAMES]
        + [StructField("repetition_pass", BooleanType())]
        + extra_fields
    )
    thresholds = [GOPHER_REP_THRESHOLDS[nm] for nm in _REP_FRAC_NAMES]

    def run(batches):
        for pdf in batches:
            stats = [_rep_fracs_py(t) for t in pdf["text"]]
            out = {"doc_id": pdf["doc_id"]}
            for i, nm in enumerate(_REP_FRAC_NAMES):
                out[nm] = [None if s is None else s[i] for s in stats]
            out["repetition_pass"] = [
                None
                if s is None
                else all(v <= thr for v, thr in zip(s, thresholds))
                for s in stats
            ]
            for f in extra_fields:
                out[f.name] = pdf[f.name]
            yield pd.DataFrame(out)

    return base.mapInPandas(run, schema=schema)


def _rep_gram_union_sql() -> str:
    selects = []
    for n in range(2, 11):
        selects.append(
            f"""SELECT doc_id, {n} AS n, i - 1 AS pos,
                   array_to_string(w[i:i+{n - 1}], ' ') AS gram
            FROM (SELECT doc_id, w,
                         unnest(range(1, greatest(len(w) - {n - 1}, 0) + 1))
                             AS i
                  FROM t)"""
        )
    return " UNION ALL ".join(selects)


ORACLE_SQL["gopher_repetition_filter"] = f"""
    WITH t AS (
        SELECT doc_id, text, length(text) AS len_t, {_TOKS} AS w,
               string_split(text, chr(10)) AS lines,
               string_split(text, chr(10) || chr(10)) AS paras
        FROM documents
    ),
    base AS (
        SELECT doc_id, len_t,
               CAST(len(lines) AS INT) AS n_lines,
               CAST(len(lines) - len(list_distinct(lines)) AS INT)
                   AS dup_lines,
               COALESCE(list_sum(list_transform(lines, x -> length(x))), 0)
                   - COALESCE(list_sum(list_transform(
                         list_distinct(lines), x -> length(x))), 0)
                   AS dup_line_chars,
               CAST(len(paras) AS INT) AS n_paras,
               CAST(len(paras) - len(list_distinct(paras)) AS INT)
                   AS dup_paras,
               COALESCE(list_sum(list_transform(paras, x -> length(x))), 0)
                   - COALESCE(list_sum(list_transform(
                         list_distinct(paras), x -> length(x))), 0)
                   AS dup_para_chars
        FROM t
    ),
    grams AS ({_rep_gram_union_sql()}),
    cnt AS (
        SELECT doc_id, n, gram, CAST(count(*) AS BIGINT) AS cnt,
               CAST(count(*) * length(gram) AS BIGINT) AS chars
        FROM grams GROUP BY doc_id, n, gram
    ),
    stats AS (
        SELECT doc_id, n,
               max(cnt * {_REP_PACK} + chars) AS packed
        FROM cnt WHERE n <= 4 GROUP BY doc_id, n
    ),
    pivtop AS (
        SELECT doc_id,
               {', '.join(
                   f"max(CASE WHEN n = {k} THEN packed % {_REP_PACK} END)"
                   f" AS top{k}_chars" for k in (2, 3, 4))}
        FROM stats GROUP BY doc_id
    ),
    dupg AS (SELECT doc_id, n, gram FROM cnt WHERE n >= 5 AND cnt >= 2),
    covered AS (
        SELECT DISTINCT doc_id, n, pos + off AS p
        FROM (SELECT g.doc_id, g.n, g.pos, unnest(range(0, g.n)) AS off
              FROM grams g JOIN dupg USING (doc_id, n, gram))
    ),
    tokpos AS (
        SELECT doc_id, i - 1 AS p, length(w[i]) AS tlen
        FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM t)
    ),
    cov2 AS (
        SELECT c.doc_id, c.n, tp.tlen,
               CASE WHEN c.p - lag(c.p) OVER (
                        PARTITION BY c.doc_id, c.n ORDER BY c.p) = 1
                    THEN 1 ELSE 0 END AS adj
        FROM covered c
        JOIN tokpos tp ON tp.doc_id = c.doc_id AND tp.p = c.p
    ),
    dupstats AS (
        SELECT doc_id, n,
               CAST(sum(tlen) + sum(adj) AS BIGINT) AS dup_chars
        FROM cov2 GROUP BY doc_id, n
    ),
    pivdup AS (
        SELECT doc_id,
               {', '.join(
                   f"max(CASE WHEN n = {k} THEN dup_chars END)"
                   f" AS dup{k}_chars" for k in range(5, 11))}
        FROM dupstats GROUP BY doc_id
    ),
    piv AS (
        SELECT b0.doc_id,
               {', '.join(f"pt.top{k}_chars" for k in (2, 3, 4))},
               {', '.join(f"pd.dup{k}_chars" for k in range(5, 11))}
        FROM base b0
        LEFT JOIN pivtop pt USING (doc_id)
        LEFT JOIN pivdup pd USING (doc_id)
    ),
    f AS (
        SELECT b.doc_id,
               CASE WHEN b.n_lines = 0 THEN 0.0
                    ELSE COALESCE(b.dup_lines, 0) / b.n_lines END
                   AS dup_line_frac,
               CASE WHEN b.n_paras = 0 THEN 0.0
                    ELSE COALESCE(b.dup_paras, 0) / b.n_paras END
                   AS dup_para_frac,
               CASE WHEN b.len_t = 0 THEN 0.0
                    ELSE COALESCE(b.dup_line_chars, 0) / b.len_t END
                   AS dup_line_char_frac,
               CASE WHEN b.len_t = 0 THEN 0.0
                    ELSE COALESCE(b.dup_para_chars, 0) / b.len_t END
                   AS dup_para_char_frac,
               {', '.join(
                   f"CASE WHEN b.len_t = 0 THEN 0.0"
                   f" ELSE COALESCE(p.top{k}_chars, 0) / b.len_t END"
                   f" AS top{k}_char_frac" for k in (2, 3, 4))},
               {', '.join(
                   f"CASE WHEN b.len_t = 0 THEN 0.0"
                   f" ELSE COALESCE(p.dup{k}_chars, 0) / b.len_t END"
                   f" AS dup{k}_char_frac" for k in range(5, 11))}
        FROM base b LEFT JOIN piv p USING (doc_id)
    )
    SELECT *,
           ({' AND '.join(
               f"{name} <= {thr}"
               for name, thr in GOPHER_REP_THRESHOLDS.items())})
               AS repetition_pass
    FROM f
"""


# --------------------------------------------------------------------------
# C4 cleaning rules (Raffel et al. 2020, "Exploring the Limits of
# Transfer Learning..." §2.2) -- the third canonical rule-filter family
# next to Gopher A1.1/A1.2.
# --------------------------------------------------------------------------


def c4_rule_exprs() -> dict:
    """The C4 §2.2 rule columns as named expressions over an implicit
    `text` column -- shared by the batch filter and rule_filter_stream
    (same single-projection discipline as gopher_rule_exprs)."""
    lines = F.split(F.col("text"), "\n")
    line_words = lambda l: F.size(  # noqa: E731
        F.filter(F.split(l, r"\s+"), lambda t: t != "")
    )
    keep_line = (
        lambda l: l.rlike(r'[.!?"]\s*$')  # noqa: E731
        & (line_words(l) >= 5)
        & ~F.lower(l).contains("javascript")
    )
    kept = F.filter(lines, keep_line)
    kept_text = F.array_join(kept, "\n")
    n_sentences = F.regexp_count(kept_text, F.lit(r"[.!?]"))
    has_lorem = F.lower(F.col("text")).contains("lorem ipsum")
    has_brace = F.col("text").contains("{")
    keep_doc = (n_sentences >= 3) & ~has_lorem & ~has_brace
    return {
        "n_lines": F.size(lines),
        "n_lines_kept": F.size(kept),
        "clean_text": kept_text,
        "n_sentences": n_sentences,
        "has_lorem_ipsum": has_lorem,
        "has_curly_brace": has_brace,
        "keep_doc": keep_doc,
    }


def c4_quality_filter(documents: DataFrame) -> DataFrame:
    """C4 page cleaning (Raffel et al. 2020 §2.2), line rules + page
    rules: keep only lines that end in terminal punctuation (. ! ? or
    closing quote), contain >= 5 words, and do not mention
    'javascript'; drop the whole page if it contains 'lorem ipsum' or
    a curly brace, or if fewer than 3 terminal-punctuated sentences
    survive. (The paper's span-level dedup is duplicated_ngram_coverage
    here; its bad-words list is license-encumbered and intentionally
    not shipped.)

    Output: per doc, the cleaned text (kept lines re-joined), line
    accounting, the page-rule flags, and keep_doc. Exactness: counts
    are ints, flags are pure string predicates -- no floats anywhere.

    Plan: one shuffle-free narrow projection (array filter + rejoin in
    the scan task), the same scan-bound budget as
    gopher_quality_filter -- at 100 TB these rule filters chain into
    one stage."""
    exprs = c4_rule_exprs()
    return documents.select(
        "doc_id", *[c.alias(name) for name, c in exprs.items()]
    )


ORACLE_SQL["c4_quality_filter"] = """
    WITH t AS (
        SELECT doc_id, text, string_split(text, chr(10)) AS lines
        FROM documents
    ),
    k AS (
        SELECT doc_id, text, lines,
               list_filter(lines, l ->
                   regexp_matches(l, '[.!?"]\\s*$')
                   AND len(list_filter(regexp_split_to_array(l, '\\s+'),
                           x -> x <> '')) >= 5
                   AND NOT contains(lower(l), 'javascript')) AS kept
        FROM t
    ),
    m AS (
        SELECT doc_id,
               CAST(len(lines) AS INT) AS n_lines,
               CAST(len(kept) AS INT) AS n_lines_kept,
               COALESCE(array_to_string(kept, chr(10)), '')
                   AS clean_text,
               CAST(len(regexp_extract_all(
                   COALESCE(array_to_string(kept, chr(10)), ''),
                   '[.!?]')) AS INT) AS n_sentences,
               contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
               contains(text, '{') AS has_curly_brace
        FROM k
    )
    SELECT doc_id, n_lines, n_lines_kept, clean_text, n_sentences,
           has_lorem_ipsum, has_curly_brace,
           (n_sentences >= 3 AND NOT has_lorem_ipsum
            AND NOT has_curly_brace) AS keep_doc
    FROM m
"""


def rule_filter_funnel(documents: DataFrame) -> DataFrame:
    """Cumulative survival through the three published rule families --
    raw -> Gopher A1.1 quality rules -> Gopher A1.2 repetition rules ->
    C4 page rules -- the 4-row kill-rate report for the rule-only
    (pre-classifier, pre-dedup) part of a curation pipeline.

    ONE corpus scan for all three families: the A1.1 verdict and the C4
    page verdict are shuffle-free expressions over the raw text, so
    they ride gopher_repetition_filter's scan projection as extra_exprs
    (carried through its doc-keyed aggregates in the metadata struct)
    and meet the A1.2 verdict without any doc_id join; one conditional
    aggregate stacks to 4 rows. At 100 TB that is 1 scan of the corpus
    where the naive three-filter join costs 3 (plan-gated in
    tests/test_plans.py)."""
    flags = gopher_repetition_filter(
        documents,
        extra_exprs={
            "gopher_pass": gopher_rule_exprs()["gopher_pass"],
            "keep_doc": c4_rule_exprs()["keep_doc"],
        },
    ).select("repetition_pass", "gopher_pass", "keep_doc")
    cnt = lambda x: F.sum(F.when(x, 1).otherwise(0)).cast("bigint")  # noqa: E731
    agg = flags.agg(
        F.count("*").cast("bigint").alias("raw"),
        cnt(F.col("gopher_pass")).alias("gopher_pass"),
        cnt(F.col("gopher_pass") & F.col("repetition_pass")).alias(
            "repetition_pass"
        ),
        cnt(
            F.col("gopher_pass")
            & F.col("repetition_pass")
            & F.col("keep_doc")
        ).alias("c4_pass"),
    )
    return agg.selectExpr(
        "stack(4, "
        "0, 'raw', raw, "
        "1, 'gopher_quality', gopher_pass, "
        "2, 'gopher_repetition', repetition_pass, "
        "3, 'c4_rules', c4_pass) "
        "AS (stage_idx, stage, n_docs)"
    ).select(
        F.col("stage_idx").cast("int").alias("stage_idx"),
        "stage",
        F.col("n_docs").cast("bigint").alias("n_docs"),
    )


ORACLE_SQL["rule_filter_funnel"] = f"""
    WITH g AS ({ORACLE_SQL["gopher_quality_filter"]}),
    r AS ({ORACLE_SQL["gopher_repetition_filter"]}),
    c AS ({ORACLE_SQL["c4_quality_filter"]}),
    flags AS (
        SELECT g.doc_id, g.gopher_pass, r.repetition_pass, c.keep_doc
        FROM g JOIN r USING (doc_id) JOIN c USING (doc_id)
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS raw,
               CAST(sum(CASE WHEN gopher_pass THEN 1 ELSE 0 END) AS BIGINT)
                   AS gp,
               CAST(sum(CASE WHEN gopher_pass AND repetition_pass
                        THEN 1 ELSE 0 END) AS BIGINT) AS rp,
               CAST(sum(CASE WHEN gopher_pass AND repetition_pass
                             AND keep_doc THEN 1 ELSE 0 END) AS BIGINT)
                   AS cp
        FROM flags
    )
    SELECT CAST(stage_idx AS INT) AS stage_idx, stage, n_docs
    FROM (
        SELECT 0 AS stage_idx, 'raw' AS stage, raw AS n_docs FROM agg
        UNION ALL
        SELECT 1, 'gopher_quality', gp FROM agg
        UNION ALL
        SELECT 2, 'gopher_repetition', rp FROM agg
        UNION ALL
        SELECT 3, 'c4_rules', cp FROM agg
    )
"""


# --------------------------------------------------------------------------
# Full BPE: train on the df-capped vocab, apply distributed (Sennrich
# et al. ACL 2016) -- completes the tokenizer story begun by
# bpe_top_merges (which exercises one training round distributed).
# --------------------------------------------------------------------------

BPE_TRAIN_MERGES = 60
BPE_VOCAB_CAP = 20000


def bpe_train(
    documents: DataFrame,
    n_merges: int = BPE_TRAIN_MERGES,
    vocab_cap: int = BPE_VOCAB_CAP,
) -> list[tuple[str, str]]:
    """Train a BPE merge list with the train-small / apply-distributed
    split every real tokenizer trainer uses: ONE map-side-combined word
    count over the corpus, the top-`vocab_cap` vocabulary collected
    (TakeOrderedAndProject -- per-partition heaps, never a global
    sort), then the merge loop runs in pure Python over the
    |V|-bounded Counter (the Zipf head carries ~all pair mass, which is
    why every production BPE trainer caps the vocab). The merge list is
    the model artifact -- K strings to the driver, same collect budget
    as dsir_lm_table / assign_doc_ids_scalable.

    Deterministic: exact integer pair counts; ties break toward the
    lexicographically smallest pair (same (count desc, pair) order as
    bpe_top_merges, whose rank-1 row equals this trainer's first merge
    whenever the vocab cap is not binding)."""
    rows = (
        documents.select(F.explode(tokenize_ws("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(vocab_cap)
        .collect()
    )
    vocab: dict[tuple[str, ...], int] = {}
    for r in rows:
        key = tuple(r.tok)
        vocab[key] = vocab.get(key, 0) + r.c
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pc: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + c
        if not pc:
            break
        (a, b) = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((a, b))
        merged = a + b
        new: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            k = tuple(out)
            new[k] = new.get(k, 0) + c
        vocab = new
    return merges


def bpe_encoder_arrow(merges: list[tuple[str, str]]):
    """Arrow-vectorized BPE application over a SHIPPED merge list: per
    word, greedily merge the lowest-rank adjacent pair until none
    applies (the standard rank-greedy application, equivalent to
    replaying the merges in training order). Pure per-row work -- no
    shuffle, no state; the distributed half of the train-small /
    apply-distributed split."""
    from ..functions.text import _WS_RE

    ranks = {m: i for i, m in enumerate(merges)}

    def _enc(text: pd.Series) -> pd.DataFrame:
        n_words, n_pieces = [], []
        for t in text:
            toks = [w for w in _WS_RE.split(t or "") if w]
            total = 0
            for w in toks:
                syms = list(w)
                while len(syms) >= 2:
                    best_rank, best_i = None, -1
                    for i in range(len(syms) - 1):
                        r = ranks.get((syms[i], syms[i + 1]))
                        if r is not None and (
                            best_rank is None or r < best_rank
                        ):
                            best_rank, best_i = r, i
                    if best_rank is None:
                        break
                    syms[best_i : best_i + 2] = [
                        syms[best_i] + syms[best_i + 1]
                    ]
                total += len(syms)
            n_words.append(len(toks))
            n_pieces.append(total)
        return pd.DataFrame({"n_words": n_words, "n_pieces": n_pieces})

    return F.pandas_udf(_enc, "n_words bigint, n_pieces bigint")


def bpe_tokenize_corpus(documents: DataFrame) -> DataFrame:
    """Tokenize the corpus with a corpus-trained BPE: per doc, word and
    piece counts plus chars-per-piece (the compression ratio a
    tokenizer report quotes). Registered rows-only (applying a merge
    list is not SQL-expressible); correctness is pinned by an
    independent sequential-replay reimplementation that must agree
    bit-for-bit, and by the trainer's first merge equalling
    bpe_top_merges' rank-1 row."""
    merges = bpe_train(documents)
    enc = bpe_encoder_arrow(merges)
    scored = documents.select(
        "doc_id", F.col("n_chars"), enc("text").alias("s")
    ).select("doc_id", "n_chars", "s.n_words", "s.n_pieces")
    return scored.select(
        "doc_id",
        "n_words",
        "n_pieces",
        F.when(F.col("n_pieces") == 0, F.lit(0.0))
        .otherwise(F.col("n_chars") / F.col("n_pieces"))
        .alias("chars_per_piece"),
    )


def bpe_fertility_by_lang(documents: DataFrame) -> DataFrame:
    """Per-language tokenizer report over the corpus-trained BPE: doc /
    word / piece totals, fertility (pieces per word) and compression
    (chars per piece) -- the table a tokenizer release quotes per
    language, and the signal that decides whether a vocab under-serves
    a language (fertility blowup => that language pays more sequence
    budget per sentence). One exact-integer groupBy over the per-doc
    ``bpe_tokenize_corpus`` rows (bit-for-bit pinned by its replay
    test); each ratio is a single double division of BIGINT sums, so
    the result is shuffle-order invariant. Rows-only registration for
    the same reason as the per-doc op: merge replay is not SQL."""
    scored = bpe_tokenize_corpus(documents)
    per_doc = scored.join(
        documents.select("doc_id", "lang", "n_chars"), "doc_id"
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("n_pieces").alias("n_pieces"),
        F.when(F.sum("n_words") == 0, F.lit(0.0))
        .otherwise(F.sum("n_pieces") / F.sum("n_words"))
        .alias("fertility"),
        F.when(F.sum("n_pieces") == 0, F.lit(0.0))
        .otherwise(F.sum("n_chars") / F.sum("n_pieces"))
        .alias("chars_per_piece"),
    )


def bpe_decoder_arrow(merges: list[tuple[str, str]]):
    """Arrow-vectorized encode-then-decode round trip over a SHIPPED
    merge list: each word is BPE-encoded with the same rank-greedy loop
    as bpe_encoder_arrow, then DECODED by concatenating its pieces, and
    the document is reassembled piece-by-piece. Going through the piece
    list for real is the point -- a broken merge application (lost or
    doubled characters, wrong piece boundaries) surfaces as a mangled
    reconstruction, not a silent count drift."""
    from ..functions.text import _WS_RE

    ranks = {m: i for i, m in enumerate(merges)}

    def _dec(text: pd.Series) -> pd.DataFrame:
        n_words, rebuilt = [], []
        for t in text:
            toks = [w for w in _WS_RE.split(t or "") if w]
            words = []
            for w in toks:
                syms = list(w)
                while len(syms) >= 2:
                    best_rank, best_i = None, -1
                    for i in range(len(syms) - 1):
                        r = ranks.get((syms[i], syms[i + 1]))
                        if r is not None and (
                            best_rank is None or r < best_rank
                        ):
                            best_rank, best_i = r, i
                    if best_rank is None:
                        break
                    syms[best_i : best_i + 2] = [
                        syms[best_i] + syms[best_i + 1]
                    ]
                words.append("".join(syms))  # decode = piece concat
            n_words.append(len(toks))
            rebuilt.append(" ".join(words))
        return pd.DataFrame({"n_words": n_words, "reconstructed": rebuilt})

    return F.pandas_udf(_dec, "n_words bigint, reconstructed string")


def bpe_roundtrip_identity(documents: DataFrame) -> DataFrame:
    """Driver-visible tokenizer correctness: encode every document with
    the corpus-trained BPE, decode by replaying piece concatenation,
    and return the reconstruction next to the word count. The DuckDB
    oracle computes what a correct round trip MUST equal -- the
    whitespace-normalized token join -- without running BPE at all, so
    the sweep's hash compare IS the identity proof (pure string concat,
    no floats): any lost/doubled character or wrong piece boundary in
    the encoder breaks the hash. Same train-small / apply-distributed
    plan as bpe_tokenize_corpus: K merges to the driver, one
    Arrow-batched projection, no shuffle."""
    merges = bpe_train(documents)
    dec = bpe_decoder_arrow(merges)
    return documents.select(
        "doc_id", dec("text").alias("s")
    ).select("doc_id", "s.n_words", "s.reconstructed")


ORACLE_SQL["bpe_roundtrip_identity"] = f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_words,
           array_to_string({_TOKS}, ' ') AS reconstructed
    FROM documents
"""


def _neardup_contam_sql() -> str:
    """Oracle for eval_neardup_contamination: the shared MinHash band +
    exact-Jaccard-verify CTEs, oriented eval-vs-train and aggregated per
    eval doc (deferred into a builder so the dedup import stays local)."""
    from . import dedup

    return f"""
    WITH {dedup._MINHASH_CTE},
    candidates AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    tsets AS (
        SELECT doc_id, list_sort({dedup._SH}) AS toks FROM documents
    ),
    verified AS (
        SELECT doc_a, doc_b,
               len(list_intersect(ta.toks, tb.toks))
                 / len(list_distinct(list_concat(ta.toks, tb.toks)))
                   AS jaccard
        FROM candidates
        JOIN tsets ta ON ta.doc_id = doc_a
        JOIN tsets tb ON tb.doc_id = doc_b
        WHERE len(list_intersect(ta.toks, tb.toks))
                 / len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.7
    ),
    spanning AS (
        SELECT CASE WHEN doc_a % {EVAL_MOD} = 0 THEN doc_a ELSE doc_b END
                   AS eval_id,
               jaccard
        FROM verified
        WHERE (doc_a % {EVAL_MOD} = 0) <> (doc_b % {EVAL_MOD} = 0)
    ),
    per_eval AS (
        SELECT eval_id, CAST(count(*) AS BIGINT) AS n_train_twins,
               max(jaccard) AS max_jaccard
        FROM spanning GROUP BY eval_id
    )
    SELECT d.doc_id AS eval_id,
           COALESCE(p.n_train_twins, 0) AS n_train_twins,
           COALESCE(p.max_jaccard, 0.0) AS max_jaccard,
           COALESCE(p.n_train_twins, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN per_eval p ON p.eval_id = d.doc_id
    WHERE d.doc_id % {EVAL_MOD} = 0
    """


ORACLE_SQL["eval_neardup_contamination"] = _neardup_contam_sql()


# ---------------------------------------------------------------------------
# In-engine TRAINED quality classifier (the training half of the GPT-3 /
# CCNet data recipe): full-batch logistic regression over the same
# interpretable feature vector quality_classifier_scores applies, fit
# DISTRIBUTED with weak "reference vs crawl" labels (here: target-language
# documents play the reference class, the DSIR convention). Every
# iteration is ONE map-side-combined 8-scalar aggregate over a narrow
# quantized-feature relation; the weight vector (6 scalars) broadcasts
# back as literals -- no doc-level shuffle anywhere, so at 100 TB the
# cost is K embarrassingly-parallel passes over ~56 bytes/doc.
#
# Bit-exactness policy: features, labels, probabilities, gradients, and
# weights all live in 1e-6 fixed point; every cross-engine sum is over
# BIGINTs and every float step is a single IEEE-determined expression
# (the one transcendental per step, sigmoid's exp, is quantized
# immediately, the DSIR/classifier policy). The DuckDB oracle re-derives
# the whole training trajectory independently as an unrolled CTE chain.
# ---------------------------------------------------------------------------

QCT_ITERS = 8
QCT_LR = 2.0
QCT_POS_LANG = DSIR_TARGET_LANG
# Unbounded features are squashed into [0, 1] before quantization so one
# global learning rate conditions all six coordinates (mean token length
# capped at QCT_MTL_CAP chars, log2 doc length at QCT_LOG_CAP bits).
QCT_MTL_CAP = 20.0
QCT_LOG_CAP = 32.0
_QCT_NAMES = ["bias", "stop", "mtl", "digit", "punct", "loglen"]


def _qct_features(documents: DataFrame) -> DataFrame:
    """Quantized training relation: (doc_id, yq, xq0..xq5), all BIGINT
    in 1e-6 fixed point. Same feature definitions as
    quality_classifier_scores (stopword ratio, mean token length, digit
    ratio, punct ratio, floor log2 length, plus the bias column); the
    quantization makes every downstream sum integer-exact."""
    toks = tokenize_ws("text")
    n_tok = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, b: a + b
    )
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*LANG_PROFILES["en"])))
    digits = F.length(F.regexp_replace(F.col("text"), "[^0-9]", ""))
    punct = F.length(F.regexp_replace(F.col("text"), "[a-zA-Z0-9 \\t\\n]", ""))
    empty = n_tok == 0
    nz = F.col("n_chars") == 0

    def q(x):
        return F.floor(x * F.lit(float(DSIR_SCALE)) + F.lit(0.5)).cast(
            "bigint"
        )

    return documents.select(
        "doc_id",
        F.when(F.col("lang") == QCT_POS_LANG, F.lit(DSIR_SCALE))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("yq"),
        F.lit(DSIR_SCALE).cast("bigint").alias("xq0"),
        q(F.when(empty, F.lit(0.0)).otherwise(stop_hits / n_tok)).alias(
            "xq1"
        ),
        q(
            F.when(empty, F.lit(0.0)).otherwise(
                F.least(
                    sum_len / n_tok / F.lit(QCT_MTL_CAP), F.lit(1.0)
                )
            )
        ).alias("xq2"),
        q(
            F.when(nz, F.lit(0.0)).otherwise(digits / F.col("n_chars"))
        ).alias("xq3"),
        q(
            F.when(nz, F.lit(0.0)).otherwise(punct / F.col("n_chars"))
        ).alias("xq4"),
        q(
            F.when(nz, F.lit(0.0)).otherwise(
                F.least(
                    F.floor(F.log2(F.col("n_chars").cast("double"))).cast(
                        "double"
                    )
                    / F.lit(QCT_LOG_CAP),
                    F.lit(1.0),
                )
            )
        ).alias("xq5"),
    )


def _qct_pq(w_q: list) -> "F.Column":
    """Quantized sigmoid probability under integer weights w_q: z =
    (sum_j wq_j * xq_j) / 1e12 (one BIGINT dot product, one IEEE
    division), pq = floor(1e6 / (1 + exp(-z)) + 0.5)."""
    dot = None
    for j, wq in enumerate(w_q):
        term = F.lit(int(wq)) * F.col(f"xq{j}")
        dot = term if dot is None else dot + term
    z = dot.cast("double") / F.lit(1e12)
    return (
        F.floor(
            F.lit(float(DSIR_SCALE)) / (F.lit(1.0) + F.exp(-z)) + F.lit(0.5)
        ).cast("bigint"),
        z,
    )


def quality_classifier_train_trace(
    documents: DataFrame, iters: int = QCT_ITERS, lr: float = QCT_LR
) -> tuple[list, list]:
    """Run the training loop; returns (trace_rows, final_w_q). Each
    trace row is (iter, avg_loss_before_update, w_bias..w_loglen after
    the update). K collect jobs x 8 scalars each -- the same capped
    driver-collect budget as the BPE merge table / DSIR bucket LM."""
    import math

    feats = _qct_features(documents)
    feats.persist()
    try:
        w_q = [0] * 6
        rows = []
        for t in range(1, iters + 1):
            pq, _z = _qct_pq(w_q)
            pc = F.least(
                F.greatest(pq, F.lit(1)), F.lit(DSIR_SCALE - 1)
            ).cast("double") / F.lit(float(DSIR_SCALE))
            nll = F.floor(
                -F.log(
                    F.when(F.col("yq") == DSIR_SCALE, pc).otherwise(
                        F.lit(1.0) - pc
                    )
                )
                * F.lit(float(DSIR_SCALE))
                + F.lit(0.5)
            ).cast("bigint")
            scored = feats.select(
                "yq", *[f"xq{j}" for j in range(6)], pq.alias("pq"),
                nll.alias("nllq"),
            )
            agg = scored.agg(
                *[
                    F.sum(
                        (F.col("pq") - F.col("yq")) * F.col(f"xq{j}")
                    ).alias(f"g{j}")
                    for j in range(6)
                ],
                F.sum("nllq").alias("nll"),
                F.count("*").alias("n"),
            ).collect()[0]
            n = agg["n"]
            if n == 0:
                break
            avg_loss = float(agg["nll"]) / (float(n) * 1e6)
            w_q = [
                wq
                - math.floor(
                    float(agg[f"g{j}"]) * lr / (float(n) * 1e6) + 0.5
                )
                for j, wq in enumerate(w_q)
            ]
            rows.append(
                (t, avg_loss, *[float(wq) / 1e6 for wq in w_q])
            )
        return rows, w_q
    finally:
        feats.unpersist()


def quality_classifier_train(
    documents: DataFrame, iters: int = QCT_ITERS, lr: float = QCT_LR
) -> DataFrame:
    """The training trajectory as a relation: one row per iteration with
    the average log-loss BEFORE that iteration's update and the weight
    vector AFTER it. The model artifact a curation run ships (and the
    driver hashes) -- monotone-decreasing avg_loss is the visible proof
    that distributed training actually descends."""
    rows, _ = quality_classifier_train_trace(documents, iters, lr)
    schema = (
        "iter int, avg_loss double, "
        + ", ".join(f"w_{nm} double" for nm in _QCT_NAMES)
    )
    return documents.sparkSession.createDataFrame(rows, schema)


def quality_classifier_trained_scores(
    documents: DataFrame, iters: int = QCT_ITERS, lr: float = QCT_LR
) -> DataFrame:
    """Apply the in-engine trained model to the corpus it was fit on:
    (doc_id, label_ref, z, p, keep) with keep = p > 1/2. One more
    narrow pass under literal weights -- train-K-passes,
    apply-one-pass, exactly the DSIR/BPE train/apply split."""
    _rows, w_q = quality_classifier_train_trace(documents, iters, lr)
    feats = _qct_features(documents)
    pq, z = _qct_pq(w_q)
    return feats.select(
        "doc_id",
        (F.col("yq") == DSIR_SCALE).alias("label_ref"),
        z.alias("z"),
        (pq.cast("double") / F.lit(float(DSIR_SCALE))).alias("p"),
        (pq > DSIR_SCALE // 2).alias("keep"),
    )


def _qct_sql(iters: int = QCT_ITERS, lr: float = QCT_LR) -> tuple[str, str]:
    """(trace_sql, scores_sql): the DuckDB re-derivation of the whole
    training trajectory as an unrolled CTE chain -- weights at step t
    are computed in SQL from step t-1, sharing nothing with the Spark
    loop but the published update rule."""
    S = DSIR_SCALE
    stop_sql = ", ".join(f"'{w}'" for w in LANG_PROFILES["en"])
    ctes = [
        f"""qctf AS (
        SELECT doc_id,
               CAST(CASE WHEN lang = '{QCT_POS_LANG}' THEN {S} ELSE 0 END
                    AS BIGINT) AS yq,
               CAST({S} AS BIGINT) AS xq0,
               CAST(floor((CASE WHEN len(w) = 0 THEN 0.0 ELSE
                    len(list_filter(w, t -> t IN ({stop_sql}))) / len(w)
                    END) * {S}.0 + 0.5) AS BIGINT) AS xq1,
               CAST(floor((CASE WHEN len(w) = 0 THEN 0.0 ELSE
                    least(list_sum(list_transform(w, t -> length(t)))
                          / len(w) / {QCT_MTL_CAP!r}, 1.0)
                    END) * {S}.0 + 0.5) AS BIGINT) AS xq2,
               CAST(floor((CASE WHEN n_chars = 0 THEN 0.0 ELSE
                    digits / n_chars END) * {S}.0 + 0.5) AS BIGINT) AS xq3,
               CAST(floor((CASE WHEN n_chars = 0 THEN 0.0 ELSE
                    punct / n_chars END) * {S}.0 + 0.5) AS BIGINT) AS xq4,
               CAST(floor((CASE WHEN n_chars = 0 THEN 0.0 ELSE
                    least(floor(log2(CAST(n_chars AS DOUBLE)))
                          / {QCT_LOG_CAP!r}, 1.0)
                    END) * {S}.0 + 0.5) AS BIGINT) AS xq5
        FROM (SELECT doc_id, lang, n_chars, {_TOKS} AS w,
                     length(regexp_replace(text, '[^0-9]', '', 'g'))
                         AS digits,
                     length(regexp_replace(text, '[a-zA-Z0-9 \t\n]', '',
                                           'g')) AS punct
              FROM documents)
    )""",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qctf)",
        "w0 AS (SELECT "
        + ", ".join(f"CAST(0 AS BIGINT) AS wq{j}" for j in range(6))
        + ")",
    ]
    dot = " + ".join(f"w.wq{j} * f.xq{j}" for j in range(6))
    pq_expr = (
        f"CAST(floor({S}.0 / (1.0 + exp(-(CAST(({dot}) AS DOUBLE) "
        f"/ 1000000000000.0))) + 0.5) AS BIGINT)"
    )
    pc = f"CAST(least(greatest(pq, 1), {S - 1}) AS DOUBLE) / {S}.0"
    for t in range(1, iters + 1):
        ctes.append(
            f"""p{t} AS (
        SELECT f.yq, {', '.join(f'f.xq{j}' for j in range(6))},
               {pq_expr} AS pq
        FROM qctf f CROSS JOIN w{t - 1} w
    )"""
        )
        ctes.append(
            f"""g{t} AS (
        SELECT {', '.join(
            f'CAST(sum((pq - yq) * xq{j}) AS BIGINT) AS g{j}'
            for j in range(6)
        )},
               CAST(sum(CAST(floor(-ln(CASE WHEN yq = {S} THEN {pc}
                    ELSE 1.0 - {pc} END) * {S}.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS nll
        FROM p{t}
    )"""
        )
        ctes.append(
            f"""w{t} AS (
        SELECT {', '.join(
            f'w.wq{j} - CAST(floor(CAST(g.g{j} AS DOUBLE) * {lr!r} '
            f'/ (CAST(nn.n AS DOUBLE) * {S}.0) + 0.5) AS BIGINT) AS wq{j}'
            for j in range(6)
        )}
        FROM w{t - 1} w CROSS JOIN g{t} g CROSS JOIN nn
    )"""
        )
        ctes.append(
            f"""r{t} AS (
        SELECT CAST({t} AS INT) AS iter,
               CAST(g.nll AS DOUBLE) / (CAST(nn.n AS DOUBLE) * {S}.0)
                   AS avg_loss,
               {', '.join(
                   f'w.wq{j} / {S}.0 AS w_{nm}'
                   for j, nm in enumerate(_QCT_NAMES)
               )}
        FROM w{t} w CROSS JOIN g{t} g CROSS JOIN nn
    )"""
        )
    with_block = "WITH " + ",\n    ".join(ctes)
    trace = (
        with_block
        + "\n    "
        + " UNION ALL ".join(f"SELECT * FROM r{t}" for t in range(1, iters + 1))
        + "\n    ORDER BY iter"
    )
    scores = (
        with_block
        + f"""
    SELECT doc_id, label_ref, z,
           pq / {S}.0 AS p, pq > {S // 2} AS keep
    FROM (
        SELECT f.doc_id, f.yq = {S} AS label_ref,
               CAST(({dot}) AS DOUBLE) / 1000000000000.0 AS z,
               {pq_expr} AS pq
        FROM qctf f CROSS JOIN w{iters} w
    )"""
    )
    return trace, scores


_QCT_TRACE_SQL, _QCT_SCORES_SQL = _qct_sql()
ORACLE_SQL["quality_classifier_train"] = _QCT_TRACE_SQL
ORACLE_SQL["quality_classifier_trained_scores"] = _QCT_SCORES_SQL


# ---------------------------------------------------------------------------
# CCNet perplexity buckets (Wenzek et al. 2019): split each language's
# documents into head/middle/tail thirds by LM perplexity -- the
# published recipe keeps 'head', inspects 'middle', drops 'tail'. The
# LM here is the corpus's own unigram model (unigram_logprob_scores'
# dataflow); real deployments swap in KenLM scores, the bucketing
# dataflow is identical.
#
# Unlike unigram_logprob_scores (rows-only: it returns raw doubles),
# the bucket relation is HASH-EXACT: each distinct token's neg-log2
# probability is quantized to 1e-6 fixed point immediately after the
# one transcendental (the DSIR_SCALE policy), per-doc totals are BIGINT
# sums, the per-doc average is integer division, and the tercile is
# ntile over the total (avg_q, doc_id) order -- deterministic in both
# engines.
# ---------------------------------------------------------------------------


def perplexity_buckets(documents: DataFrame) -> DataFrame:
    """(doc_id, lang, n_tokens, avg_nll_q, ppl_bucket) for every doc
    with at least one token. Plan shape at 100 TB: one map-side-
    combined vocab aggregate, scores broadcast over the DISTINCT-token
    relation (singletons fold to the constant log2(total) exactly like
    the df-capped LM, so the broadcast stays small under Zipf), one
    doc-keyed aggregate, then a per-lang ntile window over the tiny
    per-doc relation."""
    toks = documents.select(
        "doc_id", "lang", F.explode(tokenize_ws("text")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").alias("total"))
    lm = (
        counts.filter(F.col("c") >= 2)
        .crossJoin(F.broadcast(total))
        .select(
            "tok",
            F.floor(
                F.log2(F.col("total").cast("double") / F.col("c"))
                * F.lit(float(DSIR_SCALE))
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("sq"),
        )
    )
    singleton_sq = (
        F.floor(
            F.log2(F.col("total").cast("double"))
            * F.lit(float(DSIR_SCALE))
            + F.lit(0.5)
        )
        .cast("bigint")
    )
    per_doc = (
        toks.join(F.broadcast(lm), "tok", "left")
        .join(F.broadcast(total))
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("sq"), singleton_sq).alias("sq"),
        )
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("sq").alias("ssum"),
        )
        .withColumn("avg_nll_q", F.expr("ssum div n_tokens"))
    )
    w = Window.partitionBy("lang").orderBy("avg_nll_q", "doc_id")
    return per_doc.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.col("avg_nll_q").cast("bigint").alias("avg_nll_q"),
        F.when(F.ntile(3).over(w) == 1, "head")
        .when(F.ntile(3).over(w) == 2, "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


ORACLE_SQL["perplexity_buckets"] = f"""
    WITH ptoks AS (
        SELECT doc_id, lang, unnest({_TOKS}) AS tok FROM documents
    ),
    pcounts AS (SELECT tok, count(*) AS c FROM ptoks GROUP BY tok),
    ptot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM pcounts),
    pscore AS (
        SELECT tok,
               CAST(floor(log2(CAST(total AS DOUBLE) / c)
                    * {DSIR_SCALE}.0 + 0.5) AS BIGINT) AS sq
        FROM pcounts CROSS JOIN ptot WHERE c >= 2
    ),
    pdoc AS (
        SELECT t.doc_id, t.lang,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(coalesce(s.sq,
                   (SELECT CAST(floor(log2(CAST(total AS DOUBLE))
                        * {DSIR_SCALE}.0 + 0.5) AS BIGINT) FROM ptot)
               )) AS BIGINT) AS ssum
        FROM ptoks t LEFT JOIN pscore s ON t.tok = s.tok
        GROUP BY t.doc_id, t.lang
    ),
    pbuck AS (
        SELECT doc_id, lang, n_tokens,
               CAST(ssum // n_tokens AS BIGINT) AS avg_nll_q,
               ntile(3) OVER (
                   PARTITION BY lang ORDER BY ssum // n_tokens, doc_id
               ) AS nt
        FROM pdoc
    )
    SELECT doc_id, lang, n_tokens, avg_nll_q,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM pbuck
"""
