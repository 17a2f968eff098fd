"""End-to-end training-data curation pipeline: the composition the engine
exists for. One declarative plan from raw documents to a cleaned corpus:

    1. quality gate      -- Gopher/C4-style heuristics (text_analysis)
    2. exact dedup       -- md5 groups, keeper = min doc_id (cheap pass)
    3. near-dup dedup    -- MinHash-LSH clusters, keeper = component min
                            (dedup_clusters: the expensive pass runs on
                            the already-thinned corpus at 100 TB; here it
                            runs on the full table so the oracle stays a
                            single composable SQL statement)

Output: one row per SURVIVING document with its post-clean bookkeeping
(lang, token count, which gates it passed through). Everything is a
composition of the already-oracle-checked operators -- the pipeline's own
oracle is their SQL composed in one WITH-chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import tokenize_ws
from ..session import shuffle_partitions, stage_checkpoint
from . import dedup, text_analysis


def _quality_pass_ids(documents: DataFrame) -> DataFrame:
    return (
        text_analysis.quality_score(documents)
        .filter(F.col("keep"))
        .select("doc_id")
    )


def _exact_keeper_ids(documents: DataFrame) -> DataFrame:
    """Exact-dup keeper: min doc_id per identical-text group (window
    top-1; singletons are trivially their own keeper)."""
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    return (
        documents.select("doc_id", F.md5("text").alias("text_hash"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )


def _near_dup_drop_ids(documents: DataFrame) -> DataFrame:
    """Near-dup cluster non-keepers (docs in no cluster stay)."""
    return (
        dedup.dedup_clusters(documents)
        .filter(~F.col("is_keeper"))
        .select("doc_id")
    )


def clean_corpus(documents: DataFrame) -> DataFrame:
    """documents -> (doc_id, lang, n_tokens) for docs that pass the quality
    gate, are their exact-dup group's keeper, and are their near-dup
    cluster's keeper."""
    return (
        documents.join(_quality_pass_ids(documents), "doc_id")
        .join(_exact_keeper_ids(documents), "doc_id")
        .join(_near_dup_drop_ids(documents), "doc_id", "left_anti")
        .select(
            "doc_id",
            "lang",
            F.size(tokenize_ws("text")).alias("n_tokens"),
        )
    )


def curation_funnel(documents: DataFrame) -> DataFrame:
    """The drop-accounting report every pipeline owner asks for: how many
    documents survive each curation stage (raw -> quality gate -> exact-
    dedup keeper -> near-dup keeper). Each stage count is CUMULATIVE
    (docs surviving every gate up to that point), so consecutive rows
    directly give each gate's kill rate.

    ONE pass: per-doc stage flags (three left joins against the
    already-oracle-checked gate relations, each evaluated once) feed a
    single aggregate of conditional counts, unstacked into the 4-row
    report. The earlier shape ran four cumulative-join COUNT JOBS, each
    re-evaluating every upstream gate -- at 100 TB that is 4 corpus
    scans (and 4 dedup passes) for a 4-row report; this is 1. The
    funnel's oracle composes the stage SQL unchanged."""
    quality = _quality_pass_ids(documents).withColumn("q", F.lit(True))
    exact = _exact_keeper_ids(documents).withColumn("e", F.lit(True))
    drops = _near_dup_drop_ids(documents).withColumn("d", F.lit(True))
    flags = (
        documents.select("doc_id")
        .join(quality, "doc_id", "left")
        .join(exact, "doc_id", "left")
        .join(drops, "doc_id", "left")
        .select(
            F.coalesce(F.col("q"), F.lit(False)).alias("q"),
            F.coalesce(F.col("e"), F.lit(False)).alias("e"),
            F.coalesce(F.col("d"), F.lit(False)).alias("d"),
        )
    )
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    agg = flags.agg(
        F.count("*").cast("bigint").alias("raw"),
        cnt(F.col("q")).alias("quality_pass"),
        cnt(F.col("q") & F.col("e")).alias("exact_keeper"),
        cnt(F.col("q") & F.col("e") & ~F.col("d")).alias("near_dup_keeper"),
    )
    return agg.selectExpr(
        "stack(4, "
        "0, 'raw', raw, "
        "1, 'quality_pass', quality_pass, "
        "2, 'exact_keeper', exact_keeper, "
        "3, 'near_dup_keeper', near_dup_keeper) "
        "AS (stage_idx, stage, n_docs)"
    ).select(
        F.col("stage_idx").cast("int").alias("stage_idx"),
        "stage",
        F.col("n_docs").cast("bigint").alias("n_docs"),
    )


def training_token_budget(documents: DataFrame) -> DataFrame:
    """THE number a pretraining run is planned around: surviving tokens
    per (lang, split) after the full curation pipeline -- clean_corpus
    composed with the deterministic corpus_split, aggregated. Exact
    BIGINT token sums; one groupBy over the (small) survivor relation."""
    cleaned = clean_corpus(documents)
    splits = corpus_split(documents).select("doc_id", "split")
    return (
        cleaned.join(splits, "doc_id")
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


_TOKS = r"list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')"

def dedup_survivors(documents: DataFrame) -> DataFrame:
    """Survivor selection -- the step after clustering: per near-dup
    cluster keep the highest-quality member (longest text, ties to the
    lowest doc_id) instead of the arbitrary min-id keeper; unclustered
    docs survive as 'unique'. One window over the (small) clustered
    subset + one left join back onto the corpus; the policy column is
    where real pipelines plug in model-based quality."""
    clusters = dedup.dedup_clusters(documents).select("doc_id", "cluster_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    ranked = (
        clusters.join(documents.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rnk", F.row_number().over(w))
        .select("doc_id", "cluster_id", "rnk")
    )
    return (
        documents.select("doc_id", "n_chars")
        .join(ranked, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            "cluster_id",
            (F.col("cluster_id").isNull() | (F.col("rnk") == 1)).alias(
                "kept"
            ),
            F.when(F.col("cluster_id").isNull(), "unique")
            .when(F.col("rnk") == 1, "best_in_cluster")
            .otherwise("duplicate")
            .alias("reason"),
        )
    )


#: Training-sequence token budget + shard fan-out for sequence_packing.
PACK_BUDGET = 128
N_PACK_SHARDS = 8

_PACK_SCHEMA = (
    "lang string, shard bigint, doc_id bigint, n_tokens bigint, "
    "seq_id bigint, tok_offset bigint"
)


def sequence_packing(
    documents: DataFrame,
    budget: int = PACK_BUDGET,
    shards: int = N_PACK_SHARDS,
    token_counts: DataFrame | None = None,
) -> DataFrame:
    """Greedy training-sequence packing -- the step that turns a cleaned
    corpus into fixed-budget LLM training sequences: within each
    (lang, shard) stream, docs are taken in doc_id order and appended to
    the current sequence until the next doc would overflow ``budget``
    tokens, which starts a new sequence. An oversized doc occupies a
    sequence alone (real pipelines then truncate or split it).

    Greedy fill is inherently sequential *within a stream*, so the
    parallel unit is the stream, not the doc: ``shards`` hash-splits
    each language so the packing of a 100 TB corpus runs
    |langs| x |shards| independent Arrow groups (at scale: thousands of
    shards; each group's state is one running counter, so memory is
    O(batch), not O(stream)). Packing runs per-group in doc_id order --
    deterministic, so retries produce identical sequences and the DuckDB
    recursive-CTE oracle is exact.

    Token accounting is PLUGGABLE: pass ``token_counts`` -- any
    (doc_id, n_tokens) relation, e.g. a real tokenizer's counts computed
    upstream (``sequence_packing_tokenized`` wires in token_stats'
    BPE-ish counts) -- and the packing joins it in; docs missing from
    the relation are dropped (they were never tokenized). Default is the
    separator count (spaces + 1): identical arithmetic in both engines,
    and at 100 TB the count comes free with ingest stats anyway."""
    import pandas as pd

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        seq, fill = 0, 0
        out = []
        for r in pdf.itertuples(index=False):
            if fill > 0 and fill + r.n_tokens > budget:
                seq += 1
                fill = 0
            out.append((r.lang, r.shard, r.doc_id, r.n_tokens, seq, fill))
            fill += r.n_tokens
        return pd.DataFrame(
            out,
            columns=[
                "lang", "shard", "doc_id", "n_tokens", "seq_id", "tok_offset",
            ],
        )

    if token_counts is not None:
        base = documents.select(
            "lang", (F.col("doc_id") % shards).alias("shard"), "doc_id"
        ).join(
            token_counts.select(
                "doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens")
            ),
            "doc_id",
        )
    else:
        base = documents.select(
            "lang",
            (F.col("doc_id") % shards).alias("shard"),
            "doc_id",
            (
                F.length("text")
                - F.length(F.regexp_replace(F.col("text"), " ", ""))
                + 1
            )
            .cast("bigint")
            .alias("n_tokens"),
        )
    return base.groupBy("lang", "shard").applyInPandas(
        _pack, schema=_PACK_SCHEMA
    )


def sequence_packing_tokenized(
    documents: DataFrame,
    budget: int = PACK_BUDGET,
    shards: int = N_PACK_SHARDS,
) -> DataFrame:
    """Sequence packing driven by a REAL tokenizer's counts: token_stats'
    BPE-ish pretokenizer (letter runs / digit runs / punctuation,
    text_analysis.BPE_ISH_RE) supplies n_tokens instead of the separator
    heuristic -- the production wiring where tokenization happens once
    upstream and every downstream consumer (packing, cost models,
    curriculum buckets) reuses the same counts."""
    from .text_analysis import token_stats

    counts = token_stats(documents).select(
        "doc_id", F.col("n_tokens_bpe").alias("n_tokens")
    )
    return sequence_packing(
        documents, budget=budget, shards=shards, token_counts=counts
    )


#: candidates -> connected components CTE chain shared by the cluster-
#: consuming oracles (built on dedup's MinHash band CTE).
_COMP_CTES = f"""
        candidates AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        ),
        tsets AS (
            SELECT doc_id, list_sort({dedup._SH}) AS toks FROM documents
        ),
        pairs AS (
            SELECT doc_a, doc_b
            FROM candidates
            JOIN tsets ta ON ta.doc_id = doc_a
            JOIN tsets tb ON tb.doc_id = doc_b
            WHERE len(list_intersect(ta.toks, tb.toks))
                     / len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.7
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ),
        nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
        reach(doc_id, root) AS (
            SELECT doc_id, doc_id FROM nodes
            UNION
            SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.doc_id
        ),
        comp AS (
            SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id
        )"""


def _packing_sql(n_tokens_sql: str, from_rel: str = "documents") -> str:
    """The greedy-fill recursive CTE, parameterized by the token-count
    expression -- shared by the separator-count and tokenizer-count
    packing oracles (only the accounting differs, never the fill rule).
    ``from_rel`` lets composed oracles pack a FILTERED corpus (the
    curation-run ledger packs only curated docs)."""
    return f"""
        WITH RECURSIVE base AS (
            SELECT lang, doc_id % {N_PACK_SHARDS} AS shard, doc_id,
                   CAST({n_tokens_sql} AS BIGINT) AS n_tokens,
                   row_number() OVER (
                       PARTITION BY lang, doc_id % {N_PACK_SHARDS}
                       ORDER BY doc_id
                   ) AS rn
            FROM {from_rel}
        ),
        st AS (
            SELECT lang, shard, CAST(0 AS BIGINT) AS rn,
                   CAST(NULL AS BIGINT) AS doc_id,
                   CAST(NULL AS BIGINT) AS n_tokens,
                   CAST(0 AS BIGINT) AS seq_id,
                   CAST(0 AS BIGINT) AS tok_offset,
                   CAST(0 AS BIGINT) AS fill_after
            FROM (SELECT DISTINCT lang, shard FROM base)
            UNION ALL
            SELECT b.lang, b.shard, b.rn, b.doc_id, b.n_tokens,
                   CASE WHEN st.fill_after > 0
                             AND st.fill_after + b.n_tokens > {PACK_BUDGET}
                        THEN st.seq_id + 1 ELSE st.seq_id END,
                   CASE WHEN st.fill_after > 0
                             AND st.fill_after + b.n_tokens > {PACK_BUDGET}
                        THEN 0 ELSE st.fill_after END,
                   CASE WHEN st.fill_after > 0
                             AND st.fill_after + b.n_tokens > {PACK_BUDGET}
                        THEN b.n_tokens
                        ELSE st.fill_after + b.n_tokens END
            FROM st JOIN base b
              ON b.lang = st.lang AND b.shard = st.shard
             AND b.rn = st.rn + 1
        )
        SELECT lang, shard, doc_id, n_tokens, seq_id, tok_offset
        FROM st WHERE rn >= 1
    """


def _bpe_count_sql() -> str:
    from .text_analysis import BPE_ISH_RE

    pattern = BPE_ISH_RE.replace(chr(92) + "t", chr(9)).replace(
        chr(92) + "n", chr(10)
    )
    return f"len(regexp_extract_all(text, '{pattern}'))"


#: Shared curation CTE chain (quality gate, exact keepers, near-dup
#: drops over the MinHash cluster graph) -- every curation-family oracle
#: composes on top of it.
_CLEAN_CTES = f"""
        WITH RECURSIVE {dedup._MINHASH_CTE},
        candidates AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        ),
        tsets AS (
            SELECT doc_id, list_sort({dedup._SH}) AS toks FROM documents
        ),
        pairs AS (
            SELECT doc_a, doc_b
            FROM candidates
            JOIN tsets ta ON ta.doc_id = doc_a
            JOIN tsets tb ON tb.doc_id = doc_b
            WHERE len(list_intersect(ta.toks, tb.toks))
                     / len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.7
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ),
        nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
        reach(doc_id, root) AS (
            SELECT doc_id, doc_id FROM nodes
            UNION
            SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.doc_id
        ),
        comp AS (
            SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id
        ),
        near_dup_drops AS (
            SELECT doc_id FROM comp WHERE doc_id <> cluster_id
        ),
        quality_pass AS (
            SELECT doc_id FROM (
                SELECT doc_id,
                       CAST(len({_TOKS}) AS INT) AS n_tokens,
                       list_sum(list_transform({_TOKS}, t -> length(t)))
                           AS sum_len,
                       length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
                       n_chars
                FROM documents
            )
            WHERE n_tokens >= 10 AND sum_len / n_tokens >= 2.0
              AND digits / n_chars < 0.3
        ),
        exact_keepers AS (
            SELECT doc_id FROM (
                SELECT doc_id,
                       row_number() OVER (
                           PARTITION BY md5(text) ORDER BY doc_id
                       ) AS rn
                FROM documents
            ) WHERE rn = 1
        )
"""


ORACLE_SQL: dict[str, str] = {
    "sequence_packing": _packing_sql(
        "length(text) - length(regexp_replace(text, ' ', '', 'g')) + 1"
    ),
    "sequence_packing_tokenized": _packing_sql(_bpe_count_sql()),
    "dedup_survivors": f"""
        WITH RECURSIVE {dedup._MINHASH_CTE},
        {_COMP_CTES},
        ranked AS (
            SELECT c.doc_id, c.cluster_id,
                   row_number() OVER (
                       PARTITION BY c.cluster_id
                       ORDER BY d.n_chars DESC, c.doc_id
                   ) AS rnk
            FROM comp c JOIN documents d USING (doc_id)
        )
        SELECT d.doc_id, d.n_chars, r.cluster_id,
               (r.cluster_id IS NULL OR r.rnk = 1) AS kept,
               CASE WHEN r.cluster_id IS NULL THEN 'unique'
                    WHEN r.rnk = 1 THEN 'best_in_cluster'
                    ELSE 'duplicate' END AS reason
        FROM documents d LEFT JOIN ranked r USING (doc_id)
    """,
    "clean_corpus": _CLEAN_CTES + f"""
        SELECT d.doc_id, d.lang, CAST(len({_TOKS}) AS INT) AS n_tokens
        FROM documents d
        JOIN quality_pass USING (doc_id)
        JOIN exact_keepers USING (doc_id)
        WHERE d.doc_id NOT IN (SELECT doc_id FROM near_dup_drops)
    """,
    "curation_funnel": _CLEAN_CTES + """
        SELECT * FROM (
            SELECT CAST(0 AS INT) AS stage_idx, 'raw' AS stage,
                   CAST(count(*) AS BIGINT) AS n_docs FROM documents
            UNION ALL
            SELECT 1, 'quality_pass', CAST(count(*) AS BIGINT)
            FROM quality_pass
            UNION ALL
            SELECT 2, 'exact_keeper', CAST(count(*) AS BIGINT)
            FROM quality_pass JOIN exact_keepers USING (doc_id)
            UNION ALL
            SELECT 3, 'near_dup_keeper', CAST(count(*) AS BIGINT)
            FROM quality_pass q JOIN exact_keepers USING (doc_id)
            WHERE q.doc_id NOT IN (SELECT doc_id FROM near_dup_drops)
        )
    """,
}


#: Deterministic split fractions (percent) + salt version. Changing the
#: salt reshuffles every assignment -- version it like a schema.
SPLIT_SALT = "corpus-split:v1"
VAL_PCT = 5
TEST_PCT = 5


def corpus_split(
    documents: DataFrame, val_pct: int = VAL_PCT, test_pct: int = TEST_PCT
) -> DataFrame:
    """Deterministic train/val/test assignment -- the split step every
    training pipeline needs and naive `rand()` gets wrong twice (not
    reproducible across runs; not stable when the corpus grows). The
    bucket is a salted 60-bit md5 of the doc_id mod 100, so:

    * assignment is a pure function of (salt, doc_id): re-runs, retries,
      and engine swaps agree (the DuckDB oracle is exact);
    * growing the corpus never reassigns an existing doc (no eval-set
      contamination from a re-shuffle);
    * fractions hold in expectation per stratum since md5 is uniform.

    Narrow (no shuffle, no Python): at 100 TB this is a free column on
    ingest. Returns (doc_id, lang, split_bucket, split)."""
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(SPLIT_SALT + ":"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < test_pct, "test")
        .when(bucket < test_pct + val_pct, "val")
        .otherwise("train")
    )
    return documents.select(
        "doc_id",
        "lang",
        bucket.alias("split_bucket"),
        split.alias("split"),
    )


#: Leakage-safe split salt -- distinct from SPLIT_SALT so the two
#: registered split assignments are visibly independent functions.
LEAK_SPLIT_SALT = "leakage-safe-split:v1"


def leakage_safe_split(
    documents: DataFrame,
    val_pct: int = VAL_PCT,
    test_pct: int = TEST_PCT,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Near-dup-aware train/val/test split: every member of a near-dup
    cluster is assigned the SAME split, so an eval document can never
    have a training-set near twin. ``corpus_split`` hashes raw doc_ids
    -- reproducible, but it happily puts two 0.9-Jaccard copies on
    opposite sides of the train/test fence (the classic eval-leak that
    inflates benchmark numbers); this op hashes the cluster
    REPRESENTATIVE (component-min doc_id from ``dedup_clusters``;
    unclustered docs represent themselves), which closes the leak by
    construction.

    Scale shape: the clustering is the SAME job the dedup stage of the
    pipeline already runs (banded LSH candidates -> exact verify ->
    O(log n)-round components, never all-pairs) -- a curation pipeline
    gets this split for one extra LEFT JOIN on doc_id plus a narrow
    salted-md5 map. Stability: a doc's split moves only if its cluster
    representative changes, i.e. exactly when new near-duplicates merge
    clusters -- which is the one case where re-splitting is the CORRECT
    behavior (the old split had become leaky).

    ``clusters``: pass a precomputed dedup_clusters relation to share
    the (expensive) clustering with other pipeline stages -- the
    training_run_manifest checkpoints one clustering and feeds both its
    near-dup stage and this split."""
    if clusters is None:
        clusters = dedup.dedup_clusters(documents)
    clusters = clusters.select("doc_id", "cluster_id")
    grp = (
        documents.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("group_id"),
        )
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(LEAK_SPLIT_SALT + ":"),
                        F.col("group_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < test_pct, "test")
        .when(bucket < test_pct + val_pct, "val")
        .otherwise("train")
    )
    return grp.select(
        "doc_id",
        "group_id",
        bucket.alias("split_bucket"),
        split.alias("split"),
    )


def quality_deciles(documents: DataFrame) -> DataFrame:
    """Per-language curriculum buckets: ntile(10) over document length
    (deterministic doc_id tiebreak), aggregated to one row per
    (lang, decile) with doc counts and the length range -- the table a
    curriculum scheduler samples from (short-to-long ordering, or
    quality-ascending once a model-based score replaces n_chars; the
    dataflow is one window + one groupBy either way)."""
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = documents.select(
        "doc_id", "lang", "n_chars", F.ntile(10).over(w).alias("decile")
    )
    return ranked.groupBy("lang", "decile").agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


ORACLE_SQL["training_token_budget"] = _CLEAN_CTES + f"""
    , survivors AS (
        SELECT d.doc_id, d.lang, CAST(len({_TOKS}) AS INT) AS n_tokens
        FROM documents d
        JOIN quality_pass USING (doc_id)
        JOIN exact_keepers USING (doc_id)
        WHERE d.doc_id NOT IN (SELECT doc_id FROM near_dup_drops)
    ),
    sp AS (
        SELECT doc_id,
               CASE WHEN b < {TEST_PCT} THEN 'test'
                    WHEN b < {TEST_PCT + VAL_PCT} THEN 'val'
                    ELSE 'train' END AS split
        FROM (
            SELECT doc_id,
                   CAST(concat('0x', substr(
                       md5('{SPLIT_SALT}:' || CAST(doc_id AS VARCHAR)),
                       1, 15)) AS BIGINT) % 100 AS b
            FROM documents
        )
    )
    SELECT s.lang, sp.split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(s.n_tokens) AS BIGINT) AS n_tokens
    FROM survivors s JOIN sp USING (doc_id)
    GROUP BY 1, 2
"""

ORACLE_SQL["corpus_split"] = f"""
    WITH b AS (
        SELECT doc_id, lang,
               CAST(concat('0x', substr(
                   md5('{SPLIT_SALT}:' || CAST(doc_id AS VARCHAR)),
                   1, 15)) AS BIGINT) % 100 AS split_bucket
        FROM documents
    )
    SELECT doc_id, lang, split_bucket,
           CASE WHEN split_bucket < {TEST_PCT} THEN 'test'
                WHEN split_bucket < {TEST_PCT + VAL_PCT} THEN 'val'
                ELSE 'train' END AS split
    FROM b
"""

ORACLE_SQL["leakage_safe_split"] = f"""
    WITH RECURSIVE {dedup._MINHASH_CTE},
    {_COMP_CTES},
    grp AS (
        SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS group_id
        FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    b AS (
        SELECT doc_id, group_id,
               CAST(concat('0x', substr(
                   md5('{LEAK_SPLIT_SALT}:' || CAST(group_id AS VARCHAR)),
                   1, 15)) AS BIGINT) % 100 AS split_bucket
        FROM grp
    )
    SELECT doc_id, group_id, split_bucket,
           CASE WHEN split_bucket < {TEST_PCT} THEN 'test'
                WHEN split_bucket < {TEST_PCT + VAL_PCT} THEN 'val'
                ELSE 'train' END AS split
    FROM b
"""

ORACLE_SQL["quality_deciles"] = """
    WITH r AS (
        SELECT lang, n_chars,
               ntile(10) OVER (
                   PARTITION BY lang ORDER BY n_chars, doc_id
               ) AS decile
        FROM documents
    )
    SELECT lang, CAST(decile AS INT) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM r GROUP BY lang, decile
"""


def assign_doc_ids(documents: DataFrame) -> DataFrame:
    """Stable dense re-IDs 0..n-1 by a deterministic content order
    (md5(text), doc_id) -- the ingest step that turns arbitrary upstream
    ids into a compact contiguous space. THIS form is the semantic
    reference: one global window, which Spark executes as a
    single-partition sort -- fine for the oracle, fatal at 100 TB. The
    production twin ``assign_doc_ids_scalable`` computes the identical
    mapping with range partitioning + per-partition offsets and is
    registered under this query's oracle (same shared-oracle discipline
    as wc_salted / part_pagerank_salted)."""
    w = Window.orderBy(F.md5("text"), "doc_id")
    return documents.select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("bigint").alias("new_id"),
    )


def assign_doc_ids_scalable(documents: DataFrame) -> DataFrame:
    """The 100 TB form of dense global IDs -- no global sort, no
    single-partition stage:

      1. range-partition on the order key (each partition holds a
         contiguous key range; boundary placement comes from sampling
         and need NOT be deterministic -- see below);
      2. count rows per partition: K scalars to the driver, prefix-sum
         into per-partition offsets;
      3. id = offset[partition] + (rank within partition) - 1, a window
         partitioned BY partition id -- parallel, no global exchange.

    The output is boundary-independent: a row's id is exactly the number
    of keys ordered before it, however the sampler placed the cuts, so
    this is bit-identical to the global-window form -- proven by sharing
    its oracle. The materialization (localCheckpoint) pins one boundary
    sample + partition assignment across the two passes."""
    spark = documents.sparkSession
    n = shuffle_partitions(spark)
    keyed = (
        documents.select("doc_id", F.md5("text").alias("k"))
        .repartitionByRange(n, "k", "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = sorted(
        (r.pid, r.n)
        for r in keyed.groupBy("pid").agg(F.count("*").alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    off = spark.createDataFrame(offsets, "pid int, off bigint")
    w = Window.partitionBy("pid").orderBy("k", "doc_id")
    return (
        keyed.join(F.broadcast(off), "pid")
        .select(
            "doc_id",
            (F.col("off") + F.row_number().over(w) - 1)
            .cast("bigint")
            .alias("new_id"),
        )
    )


ORACLE_SQL["assign_doc_ids"] = """
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY md5(text), doc_id) - 1
                AS BIGINT) AS new_id
    FROM documents
"""


def selection_method_agreement(documents: DataFrame) -> DataFrame:
    """Data-SELECTION detector comparison -- the selection-side analog of
    dedup.dedup_method_agreement: per document, does the Gopher-style
    heuristic gate (quality_score.keep), the GPT-3-style classifier +
    Pareto rule (quality_classifier_scores.keep), and DSIR's Gumbel-
    top-k resample (dsir_sample membership) agree on keeping it? One
    row per method pair: (method_a, method_b, n_a, n_b, n_both).

    The three selectors embody the three published families (rules /
    trained classifier / importance resampling); disagreement counts
    are the first thing a curation review asks for. Plan shape: each
    method's subplan is its registered production plan unchanged; the
    per-doc flags join on doc_id keys; the report is ONE aggregate over
    the flags relation (six conditional sums), unstacked into three
    rows -- no per-pair jobs. The corpus IS read once per method (the
    three selectors are deliberately the registered plans, not a fused
    rewrite) -- at 100 TB each selector's scores would already be
    materialized columns and the flags join reads those tables, so the
    multi-scan is a test-SF artifact of composing live subplans, not
    the production cost."""
    h = text_analysis.quality_score(documents).select(
        "doc_id", F.col("keep").alias("h")
    )
    c = text_analysis.quality_classifier_scores(documents).select(
        "doc_id", F.col("keep").alias("c")
    )
    s = (
        text_analysis.dsir_sample(documents)
        .select("doc_id")
        .withColumn("s", F.lit(True))
    )
    flags = (
        documents.select("doc_id")
        .join(h, "doc_id", "left")
        .join(c, "doc_id", "left")
        .join(s, "doc_id", "left")
        .select(
            F.coalesce(F.col("h"), F.lit(False)).alias("h"),
            F.coalesce(F.col("c"), F.lit(False)).alias("c"),
            F.coalesce(F.col("s"), F.lit(False)).alias("s"),
        )
    )

    def cnt(col):
        return F.sum(col.cast("int")).cast("bigint")

    agg = flags.agg(
        cnt(F.col("h")).alias("na_h"),
        cnt(F.col("c")).alias("na_c"),
        cnt(F.col("s")).alias("na_s"),
        cnt(F.col("h") & F.col("c")).alias("nb_hc"),
        cnt(F.col("h") & F.col("s")).alias("nb_hs"),
        cnt(F.col("c") & F.col("s")).alias("nb_cs"),
    )
    return agg.select(
        F.expr(
            "stack(3, "
            "'heuristic', 'classifier', na_h, na_c, nb_hc, "
            "'heuristic', 'dsir', na_h, na_s, nb_hs, "
            "'classifier', 'dsir', na_c, na_s, nb_cs"
            ") as (method_a, method_b, n_a, n_b, n_both)"
        )
    )


ORACLE_SQL["selection_method_agreement"] = f"""
    WITH hq AS (
        SELECT doc_id, keep FROM ({text_analysis.ORACLE_SQL['quality_score']})
    ),
    cq AS (
        SELECT doc_id, keep
        FROM ({text_analysis.ORACLE_SQL['quality_classifier_scores']})
    ),
    dq AS (
        SELECT doc_id FROM ({text_analysis.ORACLE_SQL['dsir_sample']})
    ),
    selflags AS (
        SELECT d.doc_id,
               COALESCE(h.keep, false) AS h,
               COALESCE(c.keep, false) AS c,
               (dd.doc_id IS NOT NULL) AS s
        FROM documents d
        LEFT JOIN hq h USING (doc_id)
        LEFT JOIN cq c USING (doc_id)
        LEFT JOIN dq dd USING (doc_id)
    ),
    selagg AS (
        SELECT CAST(sum(CASE WHEN h THEN 1 ELSE 0 END) AS BIGINT) AS na_h,
               CAST(sum(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS na_c,
               CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS na_s,
               CAST(sum(CASE WHEN h AND c THEN 1 ELSE 0 END) AS BIGINT)
                   AS nb_hc,
               CAST(sum(CASE WHEN h AND s THEN 1 ELSE 0 END) AS BIGINT)
                   AS nb_hs,
               CAST(sum(CASE WHEN c AND s THEN 1 ELSE 0 END) AS BIGINT)
                   AS nb_cs
        FROM selflags
    )
    SELECT 'heuristic' AS method_a, 'classifier' AS method_b,
           na_h AS n_a, na_c AS n_b, nb_hc AS n_both FROM selagg
    UNION ALL
    SELECT 'heuristic', 'dsir', na_h, na_s, nb_hs FROM selagg
    UNION ALL
    SELECT 'classifier', 'dsir', na_c, na_s, nb_cs FROM selagg
"""


# ---------------------------------------------------------------------------
# Data-mixture materialization: the "recipe table" step of a pretraining
# run (LLaMA-style per-source sampling proportions; Muennighoff 2023
# data-constrained epoching for sources smaller than their allocation).
# Given per-source weights and a total token budget T, each source is
# allocated floor(T * w_s / sum_w) tokens; a source smaller than its
# allocation repeats whole epochs (alloc // avail) and fills the
# remainder with a deterministic salted-hash-ordered prefix, so re-runs,
# engine swaps, and corpus growth never reshuffle an existing epoch.
#
# Scale shape: the plan is a 1-aggregate |sources|-row relation; the
# sample needs one cumulative sum per source. The registered form uses a
# per-source window (fine up to the point where one source outgrows a
# task); data_mixture_sample_scalable is the 100 TB form -- a two-level
# prefix sum (256 hash buckets per source: bucket totals are a tiny
# windowed relation, doc-level windows run per (source, bucket)) that is
# provably identical because the bucket id leads the sort key.
# ---------------------------------------------------------------------------

MIX_SALT = "data-mixture:v1"
#: Sources src0..src{MIX_CURATED_BELOW-1} play the "curated" class and
#: get MIX_W_CURATED x the sampling weight of the rest -- with the /2
#: total budget this puts curated sources just over one full epoch
#: (exercising the epoch-repeat path) and the rest on prefix sampling.
MIX_CURATED_BELOW = 5
MIX_W_CURATED = 4
MIX_W_BASE = 1
MIX_BUCKETS = 256

_MIX_NTOK = (
    "(length(text) - length(regexp_replace(text, ' ', '', 'g')) + 1)"
)


def _mix_tok(documents: DataFrame) -> DataFrame:
    """Per-doc mixture relation: (doc_id, source, n_tokens, h, b) with
    the separator token count (packing's accounting), a salted 60-bit
    md5 order key, and its leading 256-way bucket."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(MIX_SALT + ":"), F.col("doc_id").cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return documents.select(
        "doc_id",
        "source",
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), " ", ""))
            + 1
        )
        .cast("bigint")
        .alias("n_tokens"),
        h.alias("h"),
        (h % MIX_BUCKETS).alias("b"),
    )


def _mix_weight() -> F.Column:
    return (
        F.when(
            F.substring(F.col("source"), 4, 10).cast("int")
            < MIX_CURATED_BELOW,
            F.lit(MIX_W_CURATED),
        )
        .otherwise(F.lit(MIX_W_BASE))
        .cast("bigint")
    )


def data_mixture_plan(documents: DataFrame) -> DataFrame:
    """The mixture recipe: one row per source with its weight, available
    tokens, integer allocation alloc = (T * w) div sum_w under the
    T = total_tokens div 2 budget, and the epoch split alloc = 
    full_epochs * avail + remainder. Pure BIGINT arithmetic end to end
    (hash-exact oracle); one narrow aggregate + a 1-row cross join."""
    tok = _mix_tok(documents)
    totals = tok.groupBy("source").agg(
        F.sum("n_tokens").alias("avail_tokens"),
        F.count("*").alias("n_docs"),
    )
    totals = totals.withColumn("weight", _mix_weight())
    grand = totals.agg(
        F.sum("avail_tokens").alias("grand_tokens"),
        F.sum("weight").alias("sum_w"),
    )
    return (
        totals.crossJoin(F.broadcast(grand))
        .withColumn(
            "alloc_tokens",
            F.expr(
                "(grand_tokens div 2) * weight div sum_w"
            ).cast("bigint"),
        )
        .select(
            "source",
            "weight",
            "n_docs",
            "avail_tokens",
            "alloc_tokens",
            F.expr("alloc_tokens div avail_tokens")
            .cast("bigint")
            .alias("full_epochs"),
            (F.col("alloc_tokens") % F.col("avail_tokens")).alias(
                "remainder_tokens"
            ),
        )
    )


def data_mixture_sample(documents: DataFrame) -> DataFrame:
    """Materialized mixture: (doc_id, source, n_tokens, n_repeats) for
    every doc that appears at least once in the training mix --
    n_repeats = full_epochs (+1 if the doc lands in the remainder
    prefix: cumulative tokens in (b, h, doc_id) order within its source
    stay <= remainder_tokens). Deterministic pure function of
    (salt, doc_id), so the mix is reproducible and append-stable."""
    tok = _mix_tok(documents)
    plan = data_mixture_plan(documents).select(
        "source", "full_epochs", "remainder_tokens"
    )
    w = (
        Window.partitionBy("source")
        .orderBy("b", "h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scored = tok.join(F.broadcast(plan), "source").withColumn(
        "cum", F.sum("n_tokens").over(w)
    )
    n_rep = F.col("full_epochs") + F.when(
        F.col("cum") <= F.col("remainder_tokens"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        scored.select(
            "doc_id",
            "source",
            "n_tokens",
            n_rep.cast("bigint").alias("n_repeats"),
        )
        .where(F.col("n_repeats") > 0)
    )


def data_mixture_sample_scalable(documents: DataFrame) -> DataFrame:
    """The 100 TB form of data_mixture_sample, bit-identical output:
    the per-source prefix sum is split into a bucket level (256 bucket
    token totals per source -- a tiny windowed relation that yields each
    bucket's starting offset) and a doc level (windows partitioned by
    (source, bucket), so no single task ever sees more than ~1/256 of a
    source). Identical because the bucket id LEADS the (b, h, doc_id)
    sort key: doc-level cum = bucket offset + intra-bucket cum."""
    tok = _mix_tok(documents)
    plan = data_mixture_plan(documents).select(
        "source", "full_epochs", "remainder_tokens"
    )
    bw = (
        Window.partitionBy("source")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        tok.groupBy("source", "b")
        .agg(F.sum("n_tokens").alias("b_tokens"))
        .withColumn(
            "b_offset",
            F.coalesce(F.sum("b_tokens").over(bw), F.lit(0)),
        )
        .select("source", "b", "b_offset")
    )
    dw = (
        Window.partitionBy("source", "b")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scored = (
        tok.join(F.broadcast(offsets), ["source", "b"])
        .join(F.broadcast(plan), "source")
        .withColumn(
            "cum", F.col("b_offset") + F.sum("n_tokens").over(dw)
        )
    )
    n_rep = F.col("full_epochs") + F.when(
        F.col("cum") <= F.col("remainder_tokens"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        scored.select(
            "doc_id",
            "source",
            "n_tokens",
            n_rep.cast("bigint").alias("n_repeats"),
        )
        .where(F.col("n_repeats") > 0)
    )


def data_mixture_realized(documents: DataFrame) -> DataFrame:
    """Budget-adherence report: per source, allocated vs realized
    tokens (sum n_repeats * n_tokens over the sample) and the shortfall.
    The invariant a recipe consumer checks: 0 <= shortfall < the first
    unselected doc's token count -- i.e. the greedy prefix fills the
    remainder as far as doc granularity allows."""
    plan = data_mixture_plan(documents)
    got = (
        data_mixture_sample(documents)
        .groupBy("source")
        .agg(
            F.sum(F.col("n_repeats") * F.col("n_tokens")).alias(
                "realized_tokens"
            ),
            F.count("*").alias("n_sampled_docs"),
        )
    )
    return (
        plan.join(F.broadcast(got), "source", "left")
        .select(
            "source",
            "alloc_tokens",
            F.coalesce("realized_tokens", F.lit(0))
            .cast("bigint")
            .alias("realized_tokens"),
            F.coalesce("n_sampled_docs", F.lit(0))
            .cast("bigint")
            .alias("n_sampled_docs"),
            (
                F.col("alloc_tokens")
                - F.coalesce("realized_tokens", F.lit(0))
            )
            .cast("bigint")
            .alias("shortfall_tokens"),
        )
    )


_MIX_TOK_SQL = f"""
    mixtok AS (
        SELECT doc_id, source,
               CAST({_MIX_NTOK} AS BIGINT) AS n_tokens,
               CAST(concat('0x', substr(
                   md5('{MIX_SALT}:' || CAST(doc_id AS VARCHAR)),
                   1, 15)) AS BIGINT) AS h
        FROM documents
    ),
    mixtok2 AS (
        SELECT *, h % {MIX_BUCKETS} AS b FROM mixtok
    ),
    mixtotals AS (
        SELECT source,
               CAST(sum(n_tokens) AS BIGINT) AS avail_tokens,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(CASE WHEN TRY_CAST(substr(source, 4) AS INT)
                              < {MIX_CURATED_BELOW}
                         THEN {MIX_W_CURATED} ELSE {MIX_W_BASE} END
                    AS BIGINT) AS weight
        FROM mixtok2 GROUP BY source
    ),
    mixgrand AS (
        SELECT CAST(sum(avail_tokens) AS BIGINT) AS grand_tokens,
               CAST(sum(weight) AS BIGINT) AS sum_w
        FROM mixtotals
    ),
    mixplan AS (
        SELECT t.source, t.weight, t.n_docs, t.avail_tokens,
               CAST((g.grand_tokens // 2) * t.weight // g.sum_w
                    AS BIGINT) AS alloc_tokens,
               CAST(((g.grand_tokens // 2) * t.weight // g.sum_w)
                    // t.avail_tokens AS BIGINT) AS full_epochs,
               CAST(((g.grand_tokens // 2) * t.weight // g.sum_w)
                    % t.avail_tokens AS BIGINT) AS remainder_tokens
        FROM mixtotals t CROSS JOIN mixgrand g
    ),
    mixsample AS (
        SELECT k.doc_id, k.source, k.n_tokens,
               CAST(p.full_epochs + CASE WHEN
                   sum(k.n_tokens) OVER (
                       PARTITION BY k.source
                       ORDER BY k.b, k.h, k.doc_id
                       ROWS UNBOUNDED PRECEDING
                   ) <= p.remainder_tokens THEN 1 ELSE 0 END
                   AS BIGINT) AS n_repeats
        FROM mixtok2 k JOIN mixplan p ON k.source = p.source
    )
"""

ORACLE_SQL["data_mixture_plan"] = f"""
    WITH {_MIX_TOK_SQL.strip()}
    SELECT source, weight, n_docs, avail_tokens, alloc_tokens,
           full_epochs, remainder_tokens
    FROM mixplan
"""

ORACLE_SQL["data_mixture_sample"] = f"""
    WITH {_MIX_TOK_SQL.strip()}
    SELECT doc_id, source, n_tokens, n_repeats
    FROM mixsample WHERE n_repeats > 0
"""

ORACLE_SQL["data_mixture_realized"] = f"""
    WITH {_MIX_TOK_SQL.strip()},
    mixgot AS (
        SELECT source,
               CAST(sum(n_repeats * n_tokens) AS BIGINT)
                   AS realized_tokens,
               CAST(count(*) AS BIGINT) AS n_sampled_docs
        FROM mixsample WHERE n_repeats > 0 GROUP BY source
    )
    SELECT p.source, p.alloc_tokens,
           CAST(coalesce(g.realized_tokens, 0) AS BIGINT)
               AS realized_tokens,
           CAST(coalesce(g.n_sampled_docs, 0) AS BIGINT)
               AS n_sampled_docs,
           CAST(p.alloc_tokens - coalesce(g.realized_tokens, 0)
                AS BIGINT) AS shortfall_tokens
    FROM mixplan p LEFT JOIN mixgot g ON p.source = g.source
"""


# ---------------------------------------------------------------------------
# Temperature-flattened mixture: the multilingual-sampling weighting
# (p_s proportional to n_s^alpha, alpha < 1 -- XLM/mT5 style) applied at
# the SOURCE level: big dumps are down-weighted, small curated feeds
# up-weighted, smoothly instead of by a handrule. Shares every stage of
# the curated-weights mixture (same token relation, same epoch split,
# same deterministic remainder prefix); only the weight column changes:
# wq_s = floor(avail_s^alpha * 1e6 + 0.5) -- one transcendental per
# SOURCE (20 rows), quantized immediately, the DSIR fixed-point policy.
# ---------------------------------------------------------------------------

MIX_TEMP_ALPHA = 0.3


def data_mixture_temperature_plan(
    documents: DataFrame, alpha: float = MIX_TEMP_ALPHA
) -> DataFrame:
    """Mixture recipe under n^alpha weights: (source, weight_q, n_docs,
    avail_tokens, alloc_tokens, full_epochs, remainder_tokens)."""
    tok = _mix_tok(documents)
    totals = tok.groupBy("source").agg(
        F.sum("n_tokens").alias("avail_tokens"),
        F.count("*").alias("n_docs"),
    )
    totals = totals.withColumn(
        "weight_q",
        F.floor(
            F.pow(F.col("avail_tokens").cast("double"), F.lit(alpha))
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("bigint"),
    )
    grand = totals.agg(
        F.sum("avail_tokens").alias("grand_tokens"),
        F.sum("weight_q").alias("sum_wq"),
    )
    return (
        totals.crossJoin(F.broadcast(grand))
        .withColumn(
            "alloc_tokens",
            F.expr("(grand_tokens div 2) * weight_q div sum_wq").cast(
                "bigint"
            ),
        )
        .select(
            "source",
            "weight_q",
            "n_docs",
            "avail_tokens",
            "alloc_tokens",
            F.expr("alloc_tokens div avail_tokens")
            .cast("bigint")
            .alias("full_epochs"),
            (F.col("alloc_tokens") % F.col("avail_tokens")).alias(
                "remainder_tokens"
            ),
        )
    )


def data_mixture_temperature_sample(
    documents: DataFrame, alpha: float = MIX_TEMP_ALPHA
) -> DataFrame:
    """The sampled mix under temperature weights -- same deterministic
    (b, h, doc_id) remainder prefix as data_mixture_sample."""
    tok = _mix_tok(documents)
    plan = data_mixture_temperature_plan(documents, alpha).select(
        "source", "full_epochs", "remainder_tokens"
    )
    w = (
        Window.partitionBy("source")
        .orderBy("b", "h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scored = tok.join(F.broadcast(plan), "source").withColumn(
        "cum", F.sum("n_tokens").over(w)
    )
    n_rep = F.col("full_epochs") + F.when(
        F.col("cum") <= F.col("remainder_tokens"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        scored.select(
            "doc_id",
            "source",
            "n_tokens",
            n_rep.cast("bigint").alias("n_repeats"),
        )
        .where(F.col("n_repeats") > 0)
    )


_MIX_TEMP_SQL = f"""
    mixtotals_t AS (
        SELECT source,
               CAST(sum(n_tokens) AS BIGINT) AS avail_tokens,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(floor(pow(CAST(sum(n_tokens) AS DOUBLE),
                              {MIX_TEMP_ALPHA!r}) * 1000000.0 + 0.5)
                    AS BIGINT) AS weight_q
        FROM mixtok2 GROUP BY source
    ),
    mixgrand_t AS (
        SELECT CAST(sum(avail_tokens) AS BIGINT) AS grand_tokens,
               CAST(sum(weight_q) AS BIGINT) AS sum_wq
        FROM mixtotals_t
    ),
    mixplan_t AS (
        SELECT t.source, t.weight_q, t.n_docs, t.avail_tokens,
               CAST((g.grand_tokens // 2) * t.weight_q // g.sum_wq
                    AS BIGINT) AS alloc_tokens,
               CAST(((g.grand_tokens // 2) * t.weight_q // g.sum_wq)
                    // t.avail_tokens AS BIGINT) AS full_epochs,
               CAST(((g.grand_tokens // 2) * t.weight_q // g.sum_wq)
                    % t.avail_tokens AS BIGINT) AS remainder_tokens
        FROM mixtotals_t t CROSS JOIN mixgrand_t g
    )
"""

_MIX_BASE_CTES = _MIX_TOK_SQL[: _MIX_TOK_SQL.index(",\n    mixtotals")]

ORACLE_SQL["data_mixture_temperature_plan"] = f"""
    WITH {_MIX_BASE_CTES.strip()},
    {_MIX_TEMP_SQL.strip()}
    SELECT source, weight_q, n_docs, avail_tokens, alloc_tokens,
           full_epochs, remainder_tokens
    FROM mixplan_t
"""

ORACLE_SQL["data_mixture_temperature_sample"] = f"""
    WITH {_MIX_BASE_CTES.strip()},
    {_MIX_TEMP_SQL.strip()}
    SELECT k.doc_id, k.source, k.n_tokens,
           CAST(p.full_epochs + CASE WHEN
               sum(k.n_tokens) OVER (
                   PARTITION BY k.source
                   ORDER BY k.b, k.h, k.doc_id
                   ROWS UNBOUNDED PRECEDING
               ) <= p.remainder_tokens THEN 1 ELSE 0 END
               AS BIGINT) AS n_repeats
    FROM mixtok2 k JOIN mixplan_t p ON k.source = p.source
    QUALIFY n_repeats > 0
"""


def training_run_manifest(documents: DataFrame) -> DataFrame:
    """The data card for a full training run: cumulative doc AND token
    accounting through every major curation stage --

        raw -> quality gate -> exact-dedup keeper -> near-dup keeper
            -> decontaminated (zero eval n-gram hits)
            -> train split (leakage-safe)

    -- one row per stage (stage_idx, stage, n_docs, n_tokens). Same
    one-pass shape as curation_funnel: five per-doc flag relations
    (each the already-oracle-checked operator) left-join the corpus
    once, a single conditional aggregate produces all six rows; at
    100 TB this is one pass over the flags, never a scan per stage.
    The decontamination stage uses the registered stand-in eval set
    (docs absent from the contamination relation ARE the eval docs, so
    they drop out of the training manifest there by construction).

    Cost = ~the sum of its stages (clean bench: 7.1 s at sf0.1, vs
    ~8 s summing its component queries' own clean-bench entries): the
    checkpoints keep the fused plan from recomputing the clustering or
    the contamination gram explode -- without them the inlined subplans
    re-evaluate shared fragments -- so the data card costs one pipeline
    pass, not a pass per stage."""
    from .text_analysis import ngram_contamination

    # Every flag relation is checkpointed before the final join: each
    # is doc_id-sized (tiny), but INLINING five operator subplans into
    # one fused plan makes Catalyst recompute shared fragments (the
    # clustering feeds two stages, contamination's gram explode appears
    # twice). At 100 TB these checkpoints are the natural stage
    # boundaries a pipeline materializes anyway -- and stage_checkpoint
    # makes them RELIABLE (replicated storage) when the session has a
    # checkpoint dir, so losing an executor mid-manifest does not
    # recompute five stages.
    def _stage(df):
        return stage_checkpoint(df)

    quality = _stage(
        _quality_pass_ids(documents).withColumn("q", F.lit(True))
    )
    exact = _stage(
        _exact_keeper_ids(documents).withColumn("e", F.lit(True))
    )
    shared_clusters = stage_checkpoint(dedup.dedup_clusters(documents))
    drops = _stage(
        shared_clusters.filter(~F.col("is_keeper"))
        .select("doc_id")
        .withColumn("d", F.lit(True))
    )
    clean = _stage(
        ngram_contamination(documents)
        .filter(F.col("n_hit_grams") == 0)
        .select("doc_id")
        .withColumn("c", F.lit(True))
    )
    train = _stage(
        leakage_safe_split(documents, clusters=shared_clusters)
        .filter(F.col("split") == "train")
        .select("doc_id")
        .withColumn("t", F.lit(True))
    )
    flags = (
        documents.select(
            "doc_id", F.size(tokenize_ws("text")).alias("n_tokens")
        )
        .join(quality, "doc_id", "left")
        .join(exact, "doc_id", "left")
        .join(drops, "doc_id", "left")
        .join(clean, "doc_id", "left")
        .join(train, "doc_id", "left")
        .select(
            "n_tokens",
            F.coalesce("q", F.lit(False)).alias("q"),
            F.coalesce("e", F.lit(False)).alias("e"),
            F.coalesce("d", F.lit(False)).alias("d"),
            F.coalesce("c", F.lit(False)).alias("c"),
            F.coalesce("t", F.lit(False)).alias("t"),
        )
    )
    stages = [
        ("raw", F.lit(True)),
        ("quality_pass", F.col("q")),
        ("exact_keeper", F.col("q") & F.col("e")),
        ("near_dup_keeper", F.col("q") & F.col("e") & ~F.col("d")),
        (
            "decontaminated",
            F.col("q") & F.col("e") & ~F.col("d") & F.col("c"),
        ),
        (
            "train_split",
            F.col("q")
            & F.col("e")
            & ~F.col("d")
            & F.col("c")
            & F.col("t"),
        ),
    ]
    aggs = []
    for i, (_name, cond) in enumerate(stages):
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0))
            .cast("bigint")
            .alias(f"nd{i}")
        )
        aggs.append(
            F.sum(F.when(cond, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias(f"nt{i}")
        )
    agg = flags.agg(*aggs)
    stack_args = ", ".join(
        f"{i}, '{name}', nd{i}, nt{i}" for i, (name, _c) in enumerate(stages)
    )
    return agg.selectExpr(
        f"stack({len(stages)}, {stack_args}) "
        "AS (stage_idx, stage, n_docs, n_tokens)"
    ).select(
        F.col("stage_idx").cast("int").alias("stage_idx"),
        "stage",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
    )


def _manifest_sql() -> str:
    from .text_analysis import ORACLE_SQL as _TA_SQL

    from .dedup import ORACLE_SQL as _DD_SQL

    stages = [
        ("raw", "TRUE"),
        ("quality_pass", "q"),
        ("exact_keeper", "q AND e"),
        ("near_dup_keeper", "q AND e AND NOT d"),
        ("decontaminated", "q AND e AND NOT d AND c"),
        ("train_split", "q AND e AND NOT d AND c AND t"),
    ]
    rows = " UNION ALL ".join(
        f"""SELECT CAST({i} AS INT) AS stage_idx, '{name}' AS stage,
               CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_docs,
               CAST(sum(CASE WHEN {cond} THEN n_tokens ELSE 0 END)
                   AS BIGINT) AS n_tokens
        FROM mf_flags"""
        for i, (name, cond) in enumerate(stages)
    )
    return f"""
    WITH mf_quality AS (
        SELECT doc_id FROM ({_TA_SQL["quality_score"]}) WHERE keep
    ),
    mf_exact AS (
        SELECT doc_id FROM (
            SELECT doc_id, row_number() OVER (
                PARTITION BY md5(text) ORDER BY doc_id
            ) AS rn FROM documents
        ) WHERE rn = 1
    ),
    mf_drops AS (
        SELECT doc_id FROM ({_DD_SQL["dedup_clusters"]}) WHERE NOT is_keeper
    ),
    mf_clean AS (
        SELECT doc_id FROM ({_TA_SQL["ngram_contamination"]})
        WHERE n_hit_grams = 0
    ),
    mf_train AS (
        SELECT doc_id FROM ({ORACLE_SQL["leakage_safe_split"]})
        WHERE split = 'train'
    ),
    mf_flags AS (
        SELECT d.doc_id,
               len(list_filter(regexp_split_to_array(d.text, '\\s+'),
                               t -> t <> '')) AS n_tokens,
               d.doc_id IN (SELECT doc_id FROM mf_quality) AS q,
               d.doc_id IN (SELECT doc_id FROM mf_exact) AS e,
               d.doc_id IN (SELECT doc_id FROM mf_drops) AS d,
               d.doc_id IN (SELECT doc_id FROM mf_clean) AS c,
               d.doc_id IN (SELECT doc_id FROM mf_train) AS t
        FROM documents d
    )
    {rows}
"""


ORACLE_SQL["training_run_manifest"] = _manifest_sql()
