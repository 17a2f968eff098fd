"""In-engine TRAINED language identification (VERDICT r7 ask #1).

Every per-language operator in this engine (stratified sampling, data
mixture, fertility, packing streams) keys on the corpus's ``lang``
column -- trusted input. A real curation run's first text-analysis step
COMPUTES language: this module trains a multiclass (one-vs-rest)
logistic classifier over hashed character-3-gram features, fully
in-engine, and scores every document with a predicted language and a
confidence -- the fastText-style langid recipe (Joulin et al. 2017,
"Bag of Tricks for Efficient Text Classification": hashed n-gram
features + linear classifier) trained by the engine's one integer-exact
logistic loop, ``text_analysis._train_logistic``, which
``quality_classifier_train`` also runs: all features, labels,
probabilities, gradients and weights live in 1e-6 fixed point, every
cross-engine sum is over integers, and the one transcendental per step
(sigmoid's exp) is quantized immediately, so the DuckDB oracle
re-derives the whole training trajectory bit-exactly as an unrolled CTE
chain.

Features (the ``doc_hash_embeddings`` hashing trick, clustering.py,
applied to char n-grams): bucket(g) = md5('lid:' || g) % LID_DIM over
every character 3-gram g of the text; feature j = that bucket's share
of the doc's grams, quantized; plus a bias. The whole feature relation
is ONE shuffle-free narrow projection -- the bucket array is computed
once per doc (md5 per gram, let-bound so higher-order-function
references do not re-evaluate it) and the per-bucket counts are
doc-local array scans. Training is K passes x ONE map-side-combined
aggregate of |langs| x (LID_DIM + 2) + 1 scalars; the weight matrix
(85 ints) broadcasts back as literals. At 100 TB: K embarrassingly
parallel scans, no doc-level shuffle anywhere.

Honest note on the synthetic corpus: the testdata's documents draw one
shared vocabulary regardless of ``lang``, so text carries ~zero
language signal and the trained model converges to the class priors
(predicting the majority language everywhere) -- the registered
accuracy report SHOWS that honestly. tests/test_round8_ops.py plants a
corpus with real per-language marker words and proves the same trainer
separates languages and detects planted mislabels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text_analysis import (
    DSIR_SCALE,
    LANG_PROFILES,
    _sigmoid_q,
    _train_logistic,
)

LID_DIM = 16  # hashed char-3-gram buckets
LID_ITERS = 6
LID_LR = 4.0
LID_SEED = "lid"
LID_LANGS = sorted(LANG_PROFILES)  # the fixed class list (static oracle)

_S = DSIR_SCALE  # 1e-6 fixed point, shared with the quality classifier


def _lid_features(
    documents: DataFrame,
    *,
    parallel: bool = True,
    dim: int = LID_DIM,
    ngram: int = 3,
) -> DataFrame:
    """Quantized feature relation: (doc_id, lang, xq0..xq{LID_DIM}),
    all BIGINT in 1e-6 fixed point. xq0 = bias (1e6); xq{j+1} = share
    of the doc's char-3-grams hashing to bucket j.

    Shape: the expensive work (per-gram md5 + per-bucket counts) is ONE
    struct expression, let-bound via the array-transform idiom so the
    bucket array evaluates once per row, and emitted as a SINGLE
    aliased column in its own projection level. The xq columns extract
    its fields in a second projection -- CollapseProject refuses to
    inline a non-cheap alias referenced 16 times, so downstream
    consumers (the 5 per-class probability expressions reference every
    xq) can never trigger a whole-feature re-evaluation per reference
    (the measured HOF-inlining trap: 56 s -> 3 s at sf0.1). Narrow
    end to end; the only exchange is the round-robin repartition that
    spreads a single-file test scan across the cluster."""
    # Built as SQL strings, not Column DSL: the ~50 nested expression
    # nodes cost ~2.6 s of py4j round-trips per call through the DSL
    # and parse JVM-side in milliseconds (the same trade the trainer
    # loop makes).
    bucket = (
        f"CAST(CAST(CONV(SUBSTRING(MD5(CONCAT('{LID_SEED}:', g)), 1, "
        f"15), 16, 10) AS BIGINT) % {dim} AS INT)"
    )
    grams = (
        f"CASE WHEN LENGTH(text) >= {ngram} THEN TRANSFORM(SEQUENCE(1, "
        f"LENGTH(text) - {ngram - 1}), i -> SUBSTRING(text, i, {ngram})) "
        "ELSE CAST(ARRAY() AS ARRAY<STRING>) END"
    )
    ng = f"GREATEST(LENGTH(text) - {ngram - 1}, 0)"
    fields = []
    for j in range(dim):
        share = (
            f"CASE WHEN {ng} = 0 THEN 0.0D "
            f"ELSE SIZE(FILTER(b, v -> v = {j})) / {ng} END"
        )
        fields.append(
            f"'x{j}', CAST(FLOOR(({share}) * 1.0E6 + 0.5D) AS BIGINT)"
        )
    xs = (
        f"ELEMENT_AT(TRANSFORM(ARRAY(TRANSFORM({grams}, g -> {bucket})), "
        f"b -> NAMED_STRUCT({', '.join(fields)})), 1)"
    )
    base = documents
    if parallel:
        from .text_analysis import _fan_out

        # single parquet files scan as ONE partition: spread the
        # per-gram md5 work (SCALE.md's measured single-scan trap)
        base = _fan_out(documents)
    staged = base.selectExpr("doc_id", "lang", f"{xs} AS xs")
    return staged.selectExpr(
        "doc_id",
        "lang",
        f"CAST({_S} AS BIGINT) AS xq0",
        *[f"xs.x{j} AS xq{j + 1}" for j in range(dim)],
    )


def langid_train_trace(
    documents: DataFrame,
    iters: int = LID_ITERS,
    lr: float = LID_LR,
    *,
    dim: int = LID_DIM,
    ngram: int = 3,
) -> tuple[list, dict]:
    """Train the one-vs-rest model through the shared quantized
    logistic loop (text_analysis._train_logistic); returns (trace_rows,
    final weights {lang: [w_0..w_DIM]}). ALL classes train in the SAME
    aggregate: each iteration is one map-side-combined pass producing
    |langs| x (DIM + 2) + 1 scalars -- 5 binary classifiers for the
    price of one scan."""
    feats = _lid_features(documents, dim=dim, ngram=ngram)
    return _train_logistic(feats, LID_LANGS, dim, iters, lr)


def _trace_for_table(
    spark, sf_dir: str, iters: int = LID_ITERS, lr: float = LID_LR
):
    """The registered langid queries' shared trace: trained once per
    documents table (sources.io.table_memo), so a sweep pays one
    training, not one per query."""
    from ..sources.io import load_table, table_memo

    return table_memo(
        sf_dir,
        ("langid", iters, lr),
        lambda: langid_train_trace(
            load_table(spark, sf_dir, "documents"), iters, lr
        ),
    )


def _w_names() -> list[str]:
    return ["w_bias"] + [f"w_g{j:02d}" for j in range(LID_DIM)]


def langid_train(
    documents: DataFrame,
    iters: int = LID_ITERS,
    lr: float = LID_LR,
    _trace=None,
) -> DataFrame:
    """The training trajectory as a relation: one row per (iteration,
    language) with the class's average one-vs-rest log-loss BEFORE the
    update and its weight vector AFTER it. Monotone-decreasing
    avg_loss per class is the visible proof distributed multiclass
    training descends."""
    rows, _ = _trace or langid_train_trace(documents, iters, lr)
    schema = (
        "iter int, lang string, avg_loss double, "
        + ", ".join(f"{nm} double" for nm in _w_names())
    )
    return documents.sparkSession.createDataFrame(rows, schema)


def langid_scores(
    documents: DataFrame,
    iters: int = LID_ITERS,
    lr: float = LID_LR,
    _trace=None,
    *,
    dim: int = LID_DIM,
    ngram: int = 3,
) -> DataFrame:
    """Apply the trained one-vs-rest model to every document:
    (doc_id, labeled_lang, pred_lang, confidence, margin_q6) with
    pred_lang = argmax class probability (ties -> lexicographically
    first class, like lang_id), confidence = the winning class's
    quantized probability, margin_q6 = winner minus runner-up in 1e-6
    units. Train-K-passes, apply-one-pass; the apply is a single
    shuffle-free projection under literal weights."""
    _rows, w = _trace or langid_train_trace(
        documents, iters, lr, dim=dim, ngram=ngram
    )
    feats = _lid_features(documents, dim=dim, ngram=ngram)
    scored = feats.selectExpr(
        "doc_id",
        "lang",
        *[f"{_sigmoid_q(w[l])[0]} AS pq_{l}" for l in LID_LANGS],
    )
    best = F.greatest(*[F.col(f"pq_{l}") for l in LID_LANGS])
    pred = None
    for l in LID_LANGS:
        cond = F.col(f"pq_{l}") == best
        pred = F.when(cond, l) if pred is None else pred.when(cond, l)
    second = F.element_at(
        F.sort_array(
            F.array(*[F.col(f"pq_{l}") for l in LID_LANGS]), asc=False
        ),
        2,
    )
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("pred_lang"),
        (best.cast("double") / F.lit(float(_S))).alias("confidence"),
        (best - second).cast("bigint").alias("margin_q6"),
    )


def langid_accuracy(
    documents: DataFrame,
    iters: int = LID_ITERS,
    lr: float = LID_LR,
    _trace=None,
    *,
    dim: int = LID_DIM,
    ngram: int = 3,
) -> DataFrame:
    """The accuracy report vs the corpus labels: per labeled language,
    document count, trained-model hits, and accuracy. On the synthetic
    corpus this EXPOSES that text carries no language signal (the model
    predicts the majority class; accuracy == the en prior on en, 0
    elsewhere) -- exactly what a data card must say before per-language
    quotas are trusted to a classifier."""
    s = langid_scores(documents, iters, lr, _trace=_trace, dim=dim, ngram=ngram)
    return s.groupBy("labeled_lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(
            F.when(F.col("pred_lang") == F.col("labeled_lang"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_correct"),
        (
            F.sum(
                F.when(
                    F.col("pred_lang") == F.col("labeled_lang"), 1
                ).otherwise(0)
            )
            / F.count("*")
        ).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracles: the ENTIRE training trajectory re-derived as an
# unrolled CTE chain (the _qct_sql pattern, one-vs-rest over all five
# classes), sharing nothing with the Spark loop but the published
# update rule. Every w{t} CTE is MATERIALIZED (referenced twice:
# by p{t+1} and the final union) -- DuckDB inlines multiply-referenced
# CTEs otherwise, exploding the unrolled chain exponentially.
# ---------------------------------------------------------------------------


def _lid_feature_sql() -> str:
    """CTE text for ``lidf`` -- the DuckDB twin of _lid_features."""
    xq = []
    for j in range(LID_DIM):
        xq.append(
            f"CAST(floor((CASE WHEN ng = 0 THEN 0.0 ELSE "
            f"len(list_filter(b, v -> v = {j})) / ng END) * {_S}.0 "
            f"+ 0.5) AS BIGINT) AS xq{j + 1}"
        )
    bucket = (
        f"CAST(CAST(concat('0x', substr(md5(concat('{LID_SEED}:', "
        f"substr(text, CAST(i AS INT), 3))), 1, 15)) AS BIGINT) "
        f"% {LID_DIM} AS INT)"
    )
    return f"""lidf AS MATERIALIZED (
        SELECT doc_id, lang, CAST({_S} AS BIGINT) AS xq0,
               {', '.join(xq)}
        FROM (
            SELECT doc_id, lang,
                   greatest(length(text) - 2, 0) AS ng,
                   list_transform(
                       range(1, greatest(length(text) - 2, 0) + 1),
                       i -> {bucket}) AS b
            FROM documents)
    )"""


def _pq_sql(l: str) -> str:
    dot = " + ".join(
        f"w.w_{l}_{j} * f.xq{j}" for j in range(LID_DIM + 1)
    )
    return (
        f"CAST(floor({_S}.0 / (1.0 + exp(-(CAST(({dot}) AS DOUBLE) "
        f"/ 1000000000000.0))) + 0.5) AS BIGINT)"
    )


def _lid_chain_sql(iters: int, lr: float) -> list[str]:
    """The shared CTE chain: lidf, nn, w0, then (p{t}, g{t}, w{t}) per
    iteration. w{iters} holds the final weights and per-class losses."""
    ctes = [
        _lid_feature_sql(),
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lidf)",
        "w0 AS (SELECT "
        + ", ".join(
            f"CAST(0 AS BIGINT) AS w_{l}_{j}"
            for l in LID_LANGS
            for j in range(LID_DIM + 1)
        )
        + ")",
    ]
    for t in range(1, iters + 1):
        p_cols = [f"f.xq{j}" for j in range(LID_DIM + 1)]
        for l in LID_LANGS:
            p_cols.append(f"{_pq_sql(l)} AS pq_{l}")
            p_cols.append(
                f"CAST(CASE WHEN f.lang = '{l}' THEN {_S} ELSE 0 END "
                f"AS BIGINT) AS y_{l}"
            )
        ctes.append(
            f"p{t} AS (SELECT {', '.join(p_cols)} "
            f"FROM lidf f CROSS JOIN w{t - 1} w)"
        )
        g_cols = []
        for l in LID_LANGS:
            for j in range(LID_DIM + 1):
                g_cols.append(
                    f"CAST(sum((pq_{l} - y_{l}) * xq{j}) AS BIGINT) "
                    f"AS g_{l}_{j}"
                )
            pc = (
                f"CAST(least(greatest(pq_{l}, 1), {_S - 1}) AS DOUBLE) "
                f"/ {_S}.0"
            )
            g_cols.append(
                f"CAST(sum(floor(-ln(CASE WHEN y_{l} = {_S} THEN {pc} "
                f"ELSE 1.0 - ({pc}) END) * {_S}.0 + 0.5)) AS BIGINT) "
                f"AS nll_{l}"
            )
        ctes.append(f"g{t} AS (SELECT {', '.join(g_cols)} FROM p{t})")
        w_cols = []
        for l in LID_LANGS:
            for j in range(LID_DIM + 1):
                w_cols.append(
                    f"w.w_{l}_{j} - CAST(floor(CAST(g.g_{l}_{j} AS "
                    f"DOUBLE) * {lr!r} / (CAST(nn.n AS DOUBLE) * "
                    f"1000000.0) + 0.5) AS BIGINT) AS w_{l}_{j}"
                )
            w_cols.append(
                f"CAST(g.nll_{l} AS DOUBLE) / (CAST(nn.n AS DOUBLE) "
                f"* 1000000.0) AS loss_{l}"
            )
        ctes.append(
            f"w{t} AS MATERIALIZED (SELECT {', '.join(w_cols)} "
            f"FROM g{t} g CROSS JOIN w{t - 1} w CROSS JOIN nn)"
        )
    return ctes


def _lid_train_sql(iters: int = LID_ITERS, lr: float = LID_LR) -> str:
    ctes = _lid_chain_sql(iters, lr)
    names = _w_names()
    selects = []
    for t in range(1, iters + 1):
        for l in LID_LANGS:
            w_exprs = ", ".join(
                f"CAST(w_{l}_{j} AS DOUBLE) / 1000000.0 AS {names[j]}"
                for j in range(LID_DIM + 1)
            )
            selects.append(
                f"SELECT CAST({t} AS INT) AS iter, '{l}' AS lang, "
                f"loss_{l} AS avg_loss, {w_exprs} FROM w{t}"
            )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def _lid_scores_select(iters: int) -> str:
    """The scoring SELECT over lidf CROSS JOIN w{iters}."""
    pqs = ", ".join(f"{_pq_sql(l)} AS pq_{l}" for l in LID_LANGS)
    best = "greatest(" + ", ".join(f"pq_{l}" for l in LID_LANGS) + ")"
    pred = (
        "CASE "
        + " ".join(
            f"WHEN pq_{l} = {best} THEN '{l}'" for l in LID_LANGS
        )
        + " END"
    )
    lst = "[" + ", ".join(f"pq_{l}" for l in LID_LANGS) + "]"
    return f"""
    scored AS (
        SELECT f.doc_id, f.lang AS labeled_lang, {pqs}
        FROM lidf f CROSS JOIN w{iters} w
    ),
    lid_scores AS (
        SELECT doc_id, labeled_lang, {pred} AS pred_lang,
               CAST({best} AS DOUBLE) / {_S}.0 AS confidence,
               CAST({best} - (list_sort({lst}, 'DESC'))[2] AS BIGINT)
                   AS margin_q6
        FROM scored
    )"""


def _lid_scores_sql(iters: int = LID_ITERS, lr: float = LID_LR) -> str:
    ctes = _lid_chain_sql(iters, lr)
    return (
        "WITH "
        + ",\n".join(ctes)
        + ","
        + _lid_scores_select(iters)
        + "\nSELECT * FROM lid_scores"
    )


def _lid_accuracy_sql(iters: int = LID_ITERS, lr: float = LID_LR) -> str:
    ctes = _lid_chain_sql(iters, lr)
    return (
        "WITH "
        + ",\n".join(ctes)
        + ","
        + _lid_scores_select(iters)
        + f"""
    SELECT labeled_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN pred_lang = labeled_lang THEN 1 ELSE 0
                    END) AS BIGINT) AS n_correct,
           sum(CASE WHEN pred_lang = labeled_lang THEN 1 ELSE 0 END)
               / count(*) AS accuracy
    FROM lid_scores
    GROUP BY labeled_lang"""
    )


ORACLE_SQL: dict[str, str] = {
    "langid_train": _lid_train_sql(),
    "langid_scores": _lid_scores_sql(),
    "langid_accuracy": _lid_accuracy_sql(),
}


def langid_stratified_sample(
    documents: DataFrame,
    iters: int = LID_ITERS,
    lr: float = LID_LR,
    _trace=None,
) -> DataFrame:
    """``stratified_sample`` with the strata COMPUTED, not trusted:
    the same deterministic md5(doc_id) hash-threshold rule, but quotas
    key on the trained model's ``pred_lang`` -- the integration that
    makes every per-language quota downstream of in-engine langid
    (ask #1's point: a real corpus has no lang column). On the
    synthetic corpus the model predicts the majority class everywhere,
    so every doc competes under the 'en' threshold -- exactly what the
    data card must reveal before per-language quotas are trusted to
    this classifier (see langid_accuracy)."""
    from ..session import stage_checkpoint

    # Stage boundary BEFORE the quota filter: Catalyst pushes a filter
    # through projections by SUBSTITUTION, and this predicate references
    # pred_lang -> 5 pq expressions -> 85 occurrences of the whole
    # md5-per-gram feature subtree -- measured 5.3 MB plan / 29.6 MiB
    # task binary / executor heartbeat death without the boundary. A
    # real pipeline materializes scores once anyway (accuracy report,
    # sampling, and mixture all consume the same relation).
    s = stage_checkpoint(langid_scores(documents, iters, lr, _trace=_trace))
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    return s.filter(h < _quota_thr_expr()).select(
        "doc_id",
        "labeled_lang",
        "pred_lang",
        h.alias("sample_key"),
    )


def _quota_thr_expr() -> F.Column:
    """The per-language sample threshold as a CASE over pred_lang --
    the ONE definition of the quota rule (langid_stratified_sample,
    langid_quota_filter, and the curation mixture stage all filter
    md5(doc_id) < this)."""
    from .text_analysis import SAMPLE_DEFAULT_THRESHOLD, SAMPLE_THRESHOLDS

    thr = None
    for lang, t in sorted(SAMPLE_THRESHOLDS.items()):
        cond = F.col("pred_lang") == lang
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    return thr.otherwise(SAMPLE_DEFAULT_THRESHOLD)


def _lid_stratified_sql(iters: int = LID_ITERS, lr: float = LID_LR) -> str:
    from .text_analysis import SAMPLE_DEFAULT_THRESHOLD, SAMPLE_THRESHOLDS

    case = " ".join(
        f"WHEN pred_lang = '{lang}' THEN '{t}'"
        for lang, t in sorted(SAMPLE_THRESHOLDS.items())
    )
    ctes = _lid_chain_sql(iters, lr)
    return (
        "WITH "
        + ",\n".join(ctes)
        + ","
        + _lid_scores_select(iters)
        + f"""
    SELECT doc_id, labeled_lang, pred_lang,
           md5(CAST(doc_id AS VARCHAR)) AS sample_key
    FROM lid_scores
    WHERE md5(CAST(doc_id AS VARCHAR)) < CASE {case}
          ELSE '{SAMPLE_DEFAULT_THRESHOLD}' END"""
    )


ORACLE_SQL["langid_stratified_sample"] = _lid_stratified_sql()


def langid_quota_filter(scores: DataFrame) -> DataFrame:
    """The stratified-sample quota applied to a SCORES relation (the
    committed ``langid`` stage of a curation run): deterministic
    md5(doc_id) hash-threshold keyed on pred_lang, returning the kept
    (doc_id, pred_lang). Pure integer/hash arithmetic -- the mixture
    rule the curation run uses, chosen over the temperature rule for
    the composed pipeline because a FUNNEL stage must subsample (the
    temperature sample's n_repeats >= 1 never drops a document)."""
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    return scores.filter(h < _quota_thr_expr()).select("doc_id", "pred_lang")


# ---------------------------------------------------------------------------
# Pred-lang data mixture (VERDICT r8 ask #2): the n^alpha temperature
# mixture keyed on the TRAINED language, not the trusted ``lang``
# column -- the integration a real corpus needs (it has no lang
# column). Same integer plan arithmetic as data_mixture_temperature_*
# (pipeline.py), with strata = pred_lang. The engine joins the
# materialized scores relation back to the per-doc token/order keys --
# exactly what a production run does against the committed ``langid``
# stage parquet (run_curation); the join is a doc-level equi-join that
# AQE handles, and the downstream per-stratum prefix sum is the same
# 256-bucket-splittable window as data_mixture_sample_scalable.
# ---------------------------------------------------------------------------


def _lid_mix_rel(
    documents: DataFrame, iters: int, lr: float, _trace
) -> DataFrame:
    """(doc_id, pred_lang, n_tokens, h, b): the mixture relation under
    trained strata."""
    from ..session import stage_checkpoint
    from .pipeline import _mix_tok

    s = stage_checkpoint(
        langid_scores(documents, iters, lr, _trace=_trace)
    ).select("doc_id", "pred_lang")
    tok = _mix_tok(documents).select("doc_id", "n_tokens", "h", "b")
    return tok.join(s, "doc_id")


def langid_mixture_plan(
    documents: DataFrame,
    iters: int = LID_ITERS,
    lr: float = LID_LR,
    _trace=None,
) -> DataFrame:
    """(pred_lang, weight_q, n_docs, avail_tokens, alloc_tokens,
    full_epochs, remainder_tokens): the temperature mixture recipe over
    TRAINED language strata."""
    rel = _lid_mix_rel(documents, iters, lr, _trace)
    return _lid_plan_from_rel(rel)


def _lid_plan_from_rel(rel: DataFrame) -> DataFrame:
    """The plan aggregation over an already-built mixture relation --
    split out so langid_mixture_sample reuses ITS rel (one scores
    stage checkpoint per query, not two).

    weight_q = floor(tokens^alpha * 1e6 + 0.5) is computed by the ONE
    shared libm (_lang_weights, CPython math.pow) over the collected
    per-stratum totals -- the same committed-weights discipline as
    shard_read_schedule (ADVICE r8 #4 / r9 #2): JVM F.pow in the plan
    can differ from the oracle's C libm pow by 1 ulp exactly at a
    floor boundary and flip an allocation. The collect is bounded by
    the CLASS LIST (|LID_LANGS| rows), never the data."""
    from ..sources.shard_writer import _lang_weights
    from .pipeline import MIX_TEMP_ALPHA

    totals = (
        rel.groupBy("pred_lang")
        .agg(
            F.sum("n_tokens").alias("avail_tokens"),
            F.count("*").alias("n_docs"),
        )
        .collect()
    )
    avail = {r["pred_lang"]: int(r["avail_tokens"]) for r in totals}
    n_docs = {r["pred_lang"]: int(r["n_docs"]) for r in totals}
    wq = _lang_weights(avail, MIX_TEMP_ALPHA)
    grand_tokens = sum(avail.values())
    sum_wq = sum(wq.values())
    rows = []
    for lang in sorted(avail):
        # DuckDB `x // 0` / `x % 0` yield NULL -- degrade the same way
        # on zero-weight or zero-token strata instead of raising
        # ZeroDivisionError (ADVICE r10 #1): NULL alloc when sum_wq==0,
        # NULL epochs/remainder when avail_tokens==0, and NULL
        # propagates through both like the oracle's expression form.
        alloc = (
            (grand_tokens // 2) * wq[lang] // sum_wq if sum_wq else None
        )
        divisible = alloc is not None and avail[lang] != 0
        rows.append(
            (
                lang,
                wq[lang],
                n_docs[lang],
                avail[lang],
                alloc,
                alloc // avail[lang] if divisible else None,
                alloc % avail[lang] if divisible else None,
            )
        )
    return rel.sparkSession.createDataFrame(
        rows,
        "pred_lang string, weight_q bigint, n_docs bigint, "
        "avail_tokens bigint, alloc_tokens bigint, full_epochs bigint, "
        "remainder_tokens bigint",
    )


def langid_mixture_sample(
    documents: DataFrame,
    iters: int = LID_ITERS,
    lr: float = LID_LR,
    _trace=None,
) -> DataFrame:
    """(doc_id, pred_lang, n_tokens, n_repeats): the materialized mix
    under trained strata -- the deterministic (b, h, doc_id) remainder
    prefix of data_mixture_sample, partitioned by pred_lang."""
    from pyspark.sql import Window

    rel = _lid_mix_rel(documents, iters, lr, _trace)
    plan = _lid_plan_from_rel(rel).select(
        "pred_lang", "full_epochs", "remainder_tokens"
    )
    w = (
        Window.partitionBy("pred_lang")
        .orderBy("b", "h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scored = rel.join(F.broadcast(plan), "pred_lang").withColumn(
        "cum", F.sum("n_tokens").over(w)
    )
    n_rep = F.col("full_epochs") + F.when(
        F.col("cum") <= F.col("remainder_tokens"), F.lit(1)
    ).otherwise(F.lit(0))
    return scored.select(
        "doc_id",
        "pred_lang",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        n_rep.cast("bigint").alias("n_repeats"),
    ).where(F.col("n_repeats") > 0)


def _lid_mix_ctes(iters: int, lr: float) -> str:
    """lmix2 / ltot / lgrand / lplan CTE text over the lid_scores chain
    (DuckDB dialect)."""
    from .pipeline import MIX_BUCKETS, MIX_SALT, MIX_TEMP_ALPHA, _MIX_NTOK

    return f"""
    lmix AS (
        SELECT d.doc_id, s.pred_lang,
               CAST({_MIX_NTOK} AS BIGINT) AS n_tokens,
               CAST(concat('0x', substr(
                   md5('{MIX_SALT}:' || CAST(d.doc_id AS VARCHAR)),
                   1, 15)) AS BIGINT) AS h
        FROM documents d JOIN lid_scores s USING (doc_id)
    ),
    lmix2 AS (SELECT *, h % {MIX_BUCKETS} AS b FROM lmix),
    ltot AS (
        SELECT pred_lang,
               CAST(sum(n_tokens) AS BIGINT) AS avail_tokens,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(floor(pow(CAST(sum(n_tokens) AS DOUBLE),
                              {MIX_TEMP_ALPHA!r}) * 1000000.0 + 0.5)
                    AS BIGINT) AS weight_q
        FROM lmix2 GROUP BY pred_lang
    ),
    lgrand AS (
        SELECT CAST(sum(avail_tokens) AS BIGINT) AS grand_tokens,
               CAST(sum(weight_q) AS BIGINT) AS sum_wq
        FROM ltot
    ),
    lplan AS (
        SELECT t.pred_lang, t.weight_q, t.n_docs, t.avail_tokens,
               CAST((g.grand_tokens // 2) * t.weight_q // g.sum_wq
                    AS BIGINT) AS alloc_tokens,
               CAST(((g.grand_tokens // 2) * t.weight_q // g.sum_wq)
                    // t.avail_tokens AS BIGINT) AS full_epochs,
               CAST(((g.grand_tokens // 2) * t.weight_q // g.sum_wq)
                    % t.avail_tokens AS BIGINT) AS remainder_tokens
        FROM ltot t CROSS JOIN lgrand g
    )"""


def _lid_mixture_plan_sql(iters: int = LID_ITERS, lr: float = LID_LR) -> str:
    return (
        "WITH "
        + ",\n".join(_lid_chain_sql(iters, lr))
        + ","
        + _lid_scores_select(iters)
        + ","
        + _lid_mix_ctes(iters, lr)
        + """
    SELECT pred_lang, weight_q, n_docs, avail_tokens, alloc_tokens,
           full_epochs, remainder_tokens
    FROM lplan"""
    )


def _lid_mixture_sample_sql(
    iters: int = LID_ITERS, lr: float = LID_LR
) -> str:
    return (
        "WITH "
        + ",\n".join(_lid_chain_sql(iters, lr))
        + ","
        + _lid_scores_select(iters)
        + ","
        + _lid_mix_ctes(iters, lr)
        + """
    SELECT k.doc_id, k.pred_lang, k.n_tokens,
           CAST(p.full_epochs + CASE WHEN
               sum(k.n_tokens) OVER (
                   PARTITION BY k.pred_lang
                   ORDER BY k.b, k.h, k.doc_id
                   ROWS UNBOUNDED PRECEDING
               ) <= p.remainder_tokens THEN 1 ELSE 0 END
               AS BIGINT) AS n_repeats
    FROM lmix2 k JOIN lplan p USING (pred_lang)
    QUALIFY n_repeats > 0"""
    )


ORACLE_SQL["langid_mixture_plan"] = _lid_mixture_plan_sql()
ORACLE_SQL["langid_mixture_sample"] = _lid_mixture_sample_sql()
