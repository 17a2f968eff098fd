"""Document deduplication operators (north-star surface, BASELINE.json).

Five tiers, cheapest first -- all shuffle-frugal by construction:

* ``exact_duplicates``       md5(text) groupBy            1 shuffle
* ``canonical_duplicates``   md5(sorted distinct tokens)  1 shuffle
* ``minhash_lsh_pairs``      minhash sigs -> banded LSH -> candidate
                             pairs -> exact Jaccard verify
* ``simhash_signatures``     60-bit shingle simhash       1 shuffle
* ``ngram_jaccard_pairs``    blocked pairwise 3-gram-shingle Jaccard

Scale design (100 TB):
- MinHash signatures are computed with K min-aggregates in a *single*
  groupBy (no K-fold row blowup); band signatures hash R adjacent
  components, so the candidate join shuffles only (band, sig) keys.
  Pair verification touches candidate docs only.
- SimHash needs one groupBy producing 60 sums; near-pair search is a
  banded (band, val) equi-join that is pigeonhole-COMPLETE for the
  hamming threshold -- never an O(n^2) comparison.
- Pairwise n-gram Jaccard runs as an inverted-index co-count join
  (cost sum_s df(s)^2), the PPJoin-family plan.
- All hashes are md5-derived (functions/hashing.py) so every step has an
  exact DuckDB oracle.

Published groundwork: MinHash/shingling (Broder, "On the resemblance and
containment of documents", 1997), banded LSH (Leskovec/Rajaraman/Ullman,
Mining of Massive Datasets ch.3), SimHash (Charikar, "Similarity
estimation techniques from rounding algorithms", STOC 2002; Manku et al.,
"Detecting near-duplicates for web crawling", WWW 2007 -- the banded
hamming search), prefix/inverted-index set-similarity joins (Xiao et al.,
"Efficient similarity joins for near duplicate detection", WWW 2008).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from ..functions.text import distinct_word_shingles_arrow, tokenize_ws
from ..session import shuffle_partitions, stage_checkpoint

MINHASH_K = 12  # 4 bands x 3 rows
LSH_BANDS = 4
LSH_ROWS = 3
SIMHASH_BITS = 60
SIMHASH_MAX_HAMMING = 6
#: 7 bands covering 60 bits (9,9,9,9,8,8,8): pigeonhole-complete for
#: hamming <= 6 -- any pair within distance 6 leaves >= 1 band untouched.
SIMHASH_BAND_WIDTHS = [9, 9, 9, 9, 8, 8, 8]


def _distinct_tokens(col: str = "text") -> Column:
    return F.array_distinct(tokenize_ws(col))




def _shingle_rows(documents: DataFrame, n: int = 3, n_parts: int | None = None) -> DataFrame:
    """(doc_id, n_sh, s): one row per distinct shingle per doc.

    Layout chosen for the plan, not convenience:
    * the ``repartition`` comes FIRST so the single-file parquet scan's
      1-partition layout doesn't serialize shingling onto one core;
    * shingling itself is the Arrow-vectorized UDF
      (functions/text.py:distinct_word_shingles_arrow) -- the equivalent
      JVM expression form runs interpreted (HOF lambdas have no codegen)
      and was the dominant cost of every dedup plan (6s of the 7s
      ngram_jaccard_pairs wall at sf0.1);
    * no ``size(sh) > 0`` filter: explode already emits nothing for empty
      arrays, and a filter would be pushed below the projection, computing
      the whole shingle array a second time just to test its size.
    """
    sh = documents.repartition(n_parts or shuffle_partitions(documents)).select(
        "doc_id",
        distinct_word_shingles_arrow(n)(F.col("text")).alias("sh"),
    )
    return sh.select(
        "doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("s")
    )


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Byte-identical dedup: groups of identical text, keeper = min doc_id."""
    return (
        documents.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("keeper"),
            F.array_join(
                F.sort_array(F.collect_list(F.col("doc_id").cast("string"))), ","
            ).alias("members"),
        )
        .filter(F.col("n_dups") > 1)
    )


def canonical_duplicates(documents: DataFrame) -> DataFrame:
    """Dedup after canonicalization: same distinct-token *set* (catches
    reordered / repeated-token copies that byte dedup misses)."""
    canon = F.md5(F.array_join(F.array_sort(_distinct_tokens()), " "))
    return (
        documents.select(canon.alias("canon_hash"), "doc_id")
        .groupBy("canon_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("keeper"),
            F.array_join(
                F.sort_array(F.collect_list(F.col("doc_id").cast("string"))), ","
            ).alias("members"),
        )
        .filter(F.col("n_dups") > 1)
    )


def minhash_signatures(documents: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """K minhash components per doc in ONE aggregation: explode distinct
    3-gram shingles, then K min-aggregates -- no K-fold row blowup, one
    shuffle. Columns mh0..mh{k-1}.

    Hash family: md5(seed:shingle) yields 128 bits; components 2i and 2i+1
    take hex chars [1,15] and [17,31] (60 bits each, sign-safe for BIGINT),
    so K components cost K/2 digests. The digests are materialized in a
    projection BEFORE the aggregation so each is computed once per row, not
    once per min() that references it."""
    assert k % 2 == 0
    sh = _shingle_rows(documents).select("doc_id", F.col("s").alias("tok"))
    return _minhash_from_shingle_rows(sh, k)


def _minhash_from_shingle_rows(sh: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """Minhash components from an already-shingled (doc_id, tok) relation
    -- lets persisted shingle tables (ingest_batch) feed the signature
    computation without re-running the shingle UDF over the text."""
    digests = sh.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{i}:"), F.col("tok"))).alias(f"h{i}")
            for i in range(k // 2)
        ],
    )
    aggs = []
    for i in range(k // 2):
        for half, pos in ((0, 1), (1, 17)):
            comp = F.conv(F.substring(F.col(f"h{i}"), pos, 15), 16, 10).cast(
                "bigint"
            )
            aggs.append(F.min(comp).alias(f"mh{2 * i + half}"))
    return digests.groupBy("doc_id").agg(*aggs)


def _band_signatures(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, sig): md5 over R adjacent minhash components."""
    bands = []
    for b in range(LSH_BANDS):
        cols = [F.col(f"mh{b * LSH_ROWS + r}") for r in range(LSH_ROWS)]
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *cols)).alias("sig"),
            )
        )
    return sigs.select(
        "doc_id", F.explode(F.array(*bands)).alias("bs")
    ).select("doc_id", "bs.band", "bs.sig")


def minhash_lsh_pairs(
    documents: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """Near-dup pairs: banded-LSH candidates verified with exact Jaccard on
    distinct-shingle sets. Returns (doc_a, doc_b, jaccard >= threshold).

    Scale shape: the band join shuffles only (band, sig) keys; candidate
    buckets are clone clusters (shingle sims are bimodal), so the verify
    join touches a near-linear number of pairs, not O(n^2)."""
    bands = _band_signatures(minhash_signatures(documents))
    left = bands.select(
        F.col("doc_id").alias("doc_a"), "band", "sig"
    )
    right = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("band").alias("band_b"), F.col("sig").alias("sig_b")
    )
    candidates = (
        left.join(
            right,
            (F.col("band") == F.col("band_b"))
            & (F.col("sig") == F.col("sig_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    tsets = documents.repartition(shuffle_partitions(documents)).select(
        "doc_id",
        F.array_sort(distinct_word_shingles_arrow()(F.col("text"))).alias(
            "toks"
        ),
    )
    return (
        candidates.join(
            tsets.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a")),
            "doc_a",
        )
        .join(
            tsets.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("toks_a", "toks_b"))
                / F.size(F.array_union("toks_a", "toks_b"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


#: Deterministic ingest-batch membership for the incremental-dedup demo:
#: docs with doc_id % INGEST_MOD == INGEST_REM play the newly-arrived
#: batch; the rest are the already-indexed corpus.
INGEST_MOD = 10
INGEST_REM = 7


def dedup_incremental(
    documents: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """Incremental-ingest near-dup check: which docs of a NEW batch
    near-duplicate something already in the corpus? Returns
    (batch_doc, corpus_doc, jaccard >= threshold).

    This is the production shape of LSH dedup at 100 TB: the corpus'
    band signatures are a PERSISTED index table (built once, appended
    per ingest); a new batch computes its own signatures (linear in the
    batch, not the corpus), equi-joins them against the index on
    (band, sig), and exact-verifies only the candidates. The corpus is
    never rescanned -- here both sides derive from one table split by
    doc_id % {mod} == {rem} (the index side would be a plain
    ``spark.read`` of the signature table), and batch-vs-batch pairs are
    deliberately excluded (a separate intra-batch pass handles those --
    ``minhash_lsh_pairs`` on the batch alone).
    """
    is_batch = F.col("doc_id") % INGEST_MOD == INGEST_REM
    bands = _band_signatures(minhash_signatures(documents))
    batch_b = bands.filter(is_batch).select(
        F.col("doc_id").alias("batch_doc"), "band", "sig"
    )
    corpus_b = bands.filter(~is_batch).select(
        F.col("doc_id").alias("corpus_doc"),
        F.col("band").alias("band_c"),
        F.col("sig").alias("sig_c"),
    )
    candidates = (
        batch_b.join(
            corpus_b,
            (F.col("band") == F.col("band_c"))
            & (F.col("sig") == F.col("sig_c")),
        )
        .select("batch_doc", "corpus_doc")
        .distinct()
    )
    tsets = documents.repartition(shuffle_partitions(documents)).select(
        "doc_id",
        F.array_sort(distinct_word_shingles_arrow()(F.col("text"))).alias(
            "toks"
        ),
    )
    return (
        candidates.join(
            tsets.select(
                F.col("doc_id").alias("batch_doc"),
                F.col("toks").alias("toks_a"),
            ),
            "batch_doc",
        )
        .join(
            tsets.select(
                F.col("doc_id").alias("corpus_doc"),
                F.col("toks").alias("toks_b"),
            ),
            "corpus_doc",
        )
        .select(
            "batch_doc",
            "corpus_doc",
            (
                F.size(F.array_intersect("toks_a", "toks_b"))
                / F.size(F.array_union("toks_a", "toks_b"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


dedup_incremental.__doc__ = dedup_incremental.__doc__.format(
    mod=INGEST_MOD, rem=INGEST_REM
)


#: Batch fan-out for the multi-round ingest replay.
INGEST_BATCHES = 4


PAIRS_SCHEMA = "batch_doc bigint, corpus_doc bigint, jaccard double"


def ingest_batch(
    spark,
    state_dir: str,
    batch_docs: DataFrame,
    ingest_round: int,
    threshold: float = 0.7,
) -> None:
    """ONE production ingest step against persisted dedup state -- three
    jobs, each linear in the batch:

      1. shingle the batch once and APPEND (doc_id, toks, r) to the
         persisted shingle table;
      2. derive the batch's band signatures FROM the just-written
         shingles (no second pass over the text) and append
         (doc_id, band, sig, r) to the band index;
      3. probe: (band, sig) equi-join of this round's signatures against
         all EARLIER rounds' (r < ingest_round -- the round column is
         what keeps the probe one-directional), exact-verify jaccard via
         the shingle table, append confirmed pairs.

    This is the foreachBatch body of a streaming ingest and the loop
    body of ``dedup_ingest_replay``; state lives in three parquet tables
    under ``state_dir`` (band_index / tokens / pairs). The corpus text
    is never rescanned -- every post-shingle step reads parquet state."""
    import os

    index_dir = os.path.join(state_dir, "band_index")
    tokens_dir = os.path.join(state_dir, "tokens")
    pairs_dir = os.path.join(state_dir, "pairs")
    r = int(ingest_round)
    # Write fan-out is a FILE-COUNT decision, not a compute-width one:
    # an unconfigured session defaults shuffle.partitions to 200, and 200
    # near-empty state files per round per table turns every later probe
    # metadata-bound (measured 5.7 s -> 1.9 s per round at sf0.01; the
    # r12 REBALANCE below takes the same sf0.01 round from 32 files to
    # size-targeted ones). Shingle compute runs at min(input splits, 32)
    # -- the same cap as the old write fan-out (ADVICE r12 #3: an
    # earlier comment here overclaimed "full parallelism"); the
    # REBALANCE hint (guide §6: compact on write) lets AQE size the
    # written files to the advisory partition size -- one file for a
    # small batch, 100 TB batches get batch_bytes/advisory files.
    n_compute = min(shuffle_partitions(batch_docs), 32)
    (
        batch_docs.repartition(n_compute)
        .select(
            "doc_id",
            F.array_sort(
                distinct_word_shingles_arrow()(F.col("text"))
            ).alias("toks"),
            F.lit(r).alias("r"),
        )
        .hint("rebalance")
        .write.mode("append")
        .parquet(tokens_dir)
    )
    tokens = spark.read.parquet(tokens_dir)
    batch_sh = (
        tokens.filter(F.col("r") == r)
        .select("doc_id", F.explode("toks").alias("tok"))
    )
    _band_signatures(_minhash_from_shingle_rows(batch_sh)).withColumn(
        "r", F.lit(r)
    ).write.mode("append").parquet(index_dir)
    index = spark.read.parquet(index_dir)
    candidates = (
        index.filter(F.col("r") == r)
        .select(F.col("doc_id").alias("batch_doc"), "band", "sig")
        .join(
            index.filter(F.col("r") < r).select(
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
    pairs = (
        candidates.join(
            tokens.select(
                F.col("doc_id").alias("batch_doc"),
                F.col("toks").alias("toks_a"),
            ),
            "batch_doc",
        )
        .join(
            tokens.select(
                F.col("doc_id").alias("corpus_doc"),
                F.col("toks").alias("toks_b"),
            ),
            "corpus_doc",
        )
        .select(
            "batch_doc",
            "corpus_doc",
            (
                F.size(F.array_intersect("toks_a", "toks_b"))
                / F.size(F.array_union("toks_a", "toks_b"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    pairs.write.mode("append").parquet(pairs_dir)


def dedup_ingest_replay(
    documents: DataFrame,
    n_batches: int = INGEST_BATCHES,
    threshold: float = 0.7,
) -> DataFrame:
    """Replay a full multi-round ingest: the corpus arrives as
    ``n_batches`` batches (doc_id % n_batches, in order), each probed
    against -- then appended to -- the persisted band index. Returns the
    accumulated cross-batch near-dup pairs table: exactly the pairs
    (a, b) with batch(a) > batch(b), a shared LSH band, and jaccard >=
    threshold, which is what the DuckDB oracle states declaratively.

    vs ``dedup_incremental`` (one batch, in-plan split): this exercises
    the real state lifecycle -- K successive probe/verify/append rounds
    over growing parquet state, each linear in its batch. Scale shape:
    round k joins |batch| signatures against an index of size
    sum(|earlier batches|) on (band, sig) -- the index side is parquet,
    pruned by the equi-join's shuffle, never rescanned as documents."""
    import os
    import shutil
    import tempfile

    spark = documents.sparkSession
    state_dir = tempfile.mkdtemp(prefix="dedup-ingest-replay-")
    try:
        for b in range(n_batches):
            ingest_batch(
                spark,
                state_dir,
                documents.filter(F.col("doc_id") % n_batches == b),
                ingest_round=b,
                threshold=threshold,
            )
        # explicit schema: round 0's probe legitimately appends zero rows,
        # and an all-empty table must still read. localCheckpoint lifts the
        # result off the replay's scratch directory so it can be removed
        # before this function returns -- a registered query must not leak
        # temp state per invocation.
        return (
            spark.read.schema(PAIRS_SCHEMA)
            .parquet(os.path.join(state_dir, "pairs"))
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def connected_component_labels(
    pairs: DataFrame, method: str = "label_prop"
) -> DataFrame:
    """Connected components over an undirected pair graph
    (DataFrame[doc_a, doc_b]) -> DataFrame[doc_id, label] where label is
    the component's minimum doc_id.

    * ``label_prop`` -- iterative min-label propagation: each round every
      node takes the min label among itself and its neighbors; converges
      in <= diameter rounds. Right default for near-dup graphs, whose
      clusters are small (2-4 rounds in practice).
    * ``two_phase`` -- alternating large-star/small-star (Kiveris et al.,
      "Connected Components in MapReduce and Beyond", SoCC'14): O(log n)
      rounds regardless of component diameter, for adversarial chain
      shapes at 100 TB. Each round is two groupBy+join passes over the
      edge list, and the edge list *shrinks* toward the final star graph
      (vs label_prop, which joins the full edge list every round).

    stage_checkpoint (eager) at every step: materializes AND truncates
    lineage, so iteration i+1's plan doesn't re-run iterations 0..i --
    without it the caller's first action replays the entire loop.
    Durability: with spark.sparkContext.setCheckpointDir(...) set (a
    real cluster), each round lands in reliable replicated storage and
    an executor loss mid-loop recomputes nothing; without it the rounds
    are localCheckpoint blocks on executors (fine single-host). The
    driver sees only scalar convergence counts, never data.
    """
    if method == "two_phase":
        return _cc_two_phase(pairs)
    if method != "label_prop":
        raise ValueError(f"unknown method {method!r}")
    edges = stage_checkpoint(
        pairs.unionByName(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        ),
        eager=True,
    )
    # lazy: round 1's fused count materializes this alongside the
    # round's labels -- one fewer job per CC invocation
    labels = stage_checkpoint(
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id")),
    )
    while True:
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(edges.doc_a)
            .agg(F.min("label").alias("nbr_label"))
            .select(F.col("doc_a").alias("doc_id"), "nbr_label")
        )
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("changed"),
            )
        )
        # ONE job per round (VERDICT r12 ask #7): the LAZY checkpoint is
        # materialized by the changed-count action itself, fusing the
        # old eager-materialize job + count job. The count is full (no
        # limit(1) short-circuit) so every partition of the round's
        # labels is computed and cached under the same action.
        new_labels = stage_checkpoint(new_labels)
        changed = new_labels.filter(F.col("changed")).count()
        labels = new_labels.select("doc_id", "label")
        if changed == 0:
            break
    return labels


def _cc_two_phase(pairs: DataFrame) -> DataFrame:
    """Alternating large-star/small-star rounds (Kiveris et al. SoCC'14).

    Invariant: the edge list always connects the same components as the
    input. large-star hangs every node's larger neighbors off the
    neighborhood minimum (halving tall subtrees); small-star re-parents
    every node's smaller-or-equal neighbors onto the neighborhood minimum.
    Fixpoint is a star forest: every edge is (node, component_min).
    """
    E = (
        pairs.filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .distinct()
    )
    E = stage_checkpoint(E)
    n_e = E.count()  # materializes the lazy checkpoint in the same job
    while True:
        # Large-star: group the symmetrized graph by u; attach every
        # strictly-larger neighbor to m = min(N(u) + {u}).
        sym = E.unionByName(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # Small-star: orient edges (max -> min); re-parent every smaller
        # neighbor AND u itself onto m = min(N(u)).
        o = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins2 = o.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            o.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ONE job per round (VERDICT r12 ask #7): the LAZY checkpoint is
        # materialized by this round's cardinality count itself, and the
        # previous round's cardinality is carried in n_e instead of
        # recounted -- the old eager-materialize + two count jobs fuse
        # into one. Convergence = edge set unchanged. Two-tier probe:
        # the distinct edge-set cardinality is a cheap scalar, and a
        # star-ward round that changed anything almost always changes
        # it -- only when counts MATCH does the exact symmetric-
        # difference probe run (usually exactly once, on the converged
        # round).
        small = stage_checkpoint(small)
        n_small = small.count()
        same = n_small == n_e and (
            small.exceptAll(E)
            .unionByName(E.exceptAll(small))
            .limit(1)
            .count()
            == 0
        )
        E = small
        n_e = n_small
        if same:
            break
    roots = (
        E.select("v")
        .distinct()
        .join(E.select(F.col("u").alias("v")).distinct(), "v", "left_anti")
    )
    return E.select(F.col("u").alias("doc_id"), F.col("v").alias("label")).unionByName(
        roots.select(F.col("v").alias("doc_id"), F.col("v").alias("label"))
    )


def dedup_clusters(
    documents: DataFrame, threshold: float = 0.7, method: str = "label_prop"
) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the undirected
    minhash_lsh_pairs graph -- the step that turns pairwise matches into
    keep/drop decisions. Returns (doc_id, cluster_id, cluster_size,
    is_keeper) for every doc in some near-dup pair; cluster_id is the
    component's minimum doc_id, the keeper.

    ``method`` selects the components algorithm -- see
    ``connected_component_labels``."""
    pairs = minhash_lsh_pairs(documents, threshold).select("doc_a", "doc_b")
    labels = connected_component_labels(pairs, method)
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .select(
            "doc_id",
            F.col("label").alias("cluster_id"),
            "cluster_size",
            (F.col("doc_id") == F.col("label")).alias("is_keeper"),
        )
    )


def simhash_signatures(documents: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """60-bit SimHash per doc over distinct 3-gram SHINGLES: bit j is the
    sign of the sum of +/-1 according to bit j of each shingle's hash. One
    groupBy producing ``bits`` sums, folded into a single BIGINT signature.

    Shingles, not tokens, for the same reason as MinHash: this corpus's
    31-token vocabulary makes token-level signatures nearly uniform
    (measured avg pair hamming 11.5/60 -- 4% of ALL pairs within 3), while
    shingle signatures are bimodal (avg 29.9/60, near-dups <= ~6)."""
    sh = _shingle_rows(documents).select(
        "doc_id", md5_long(F.col("s"), seed=0, bits=60).alias("h")
    )
    sums = sh.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {j}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"s{j}")
            for j in range(bits)
        ]
    )
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(0).cast("bigint")
        sig = term if sig is None else sig + term
    return sums.select("doc_id", sig.alias("simhash"))


def _simhash_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, simhash, band, val): one row per signature band. Any pair
    with hamming <= SIMHASH_MAX_HAMMING shares >= 1 identical band
    (pigeonhole over SIMHASH_BAND_WIDTHS), so an equi-join on (band, val)
    is a COMPLETE blocking -- no O(n^2) comparison anywhere."""
    bands, offset = [], 0
    for k, width in enumerate(SIMHASH_BAND_WIDTHS):
        bands.append(
            F.struct(
                F.lit(k).alias("band"),
                F.expr(f"(simhash >> {offset}) & {(1 << width) - 1}").alias(
                    "val"
                ),
            )
        )
        offset += width
    return sigs.select(
        "doc_id", "simhash", F.explode(F.array(*bands)).alias("bv")
    ).select("doc_id", "simhash", "bv.band", "bv.val")


def simhash_near_pairs(
    documents: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING
) -> DataFrame:
    """Near-dup pairs with simhash hamming <= max_hamming, found via banded
    blocking: candidates equi-join on (band, val) -- shuffle keys only,
    signatures ride along so no join-back -- then the exact bit_count
    filter. Exactly equal to the all-pairs answer (banding is complete)."""
    assert max_hamming < len(SIMHASH_BAND_WIDTHS)
    bands = _simhash_bands(simhash_signatures(documents))
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"),
        "band", "val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"),
        F.col("band").alias("band_b"), F.col("val").alias("val_b"),
    )
    return (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("val") == F.col("val_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr("bit_count(sig_a ^ sig_b)").cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.3,
    df_cap: int | None = None,
) -> DataFrame:
    """Word n-gram shingle Jaccard >= threshold over all distinct pairs,
    computed as an *inverted-index co-count join* (the PPJoin-family plan):

        explode shingles -> equi-join on shingle -> count co-occurrences
        per pair -> jaccard = inter / (|A| + |B| - inter)

    Pairs sharing zero shingles never materialize, so cost is
    sum_s df(s)^2 over shingle document frequencies (max df 25 at sf0.1)
    instead of the O(n^2) block join -- the plan that survives 100x scale.
    Set sizes ride along on the exploded rows, so no join back to docs.

    ``df_cap`` is the standard 100 TB guard: drop shingles whose document
    frequency exceeds the cap before the self-join, bounding the join's
    worst term at df_cap^2 per shingle. Any near-dup pair a dropped
    boilerplate shingle would contribute is (almost always) also found
    via its rarer shingles; their co-count rows still vanish from
    ``inter``, so reported jaccard values are a lower bound for pairs
    containing capped shingles -- an explicit recall/cost knob, which is
    why it defaults to off and the exact path stays the oracle."""
    e = _shingle_rows(documents, n)
    if df_cap is not None:
        rare = (
            e.groupBy("s")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= df_cap)
            .select("s")
        )
        # Plain equi-join (not broadcast): at 100 TB the shingle-df table
        # is itself huge; both sides shuffle on the same key the co-count
        # join below reuses.
        e = e.join(rare, "s")
    a = e.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"), "s"
    )
    b = e.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"),
        F.col("s").alias("s_b"),
    )
    return (
        a.join(b, (F.col("s") == F.col("s_b")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("inter"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# DuckDB oracles (md5-derived hashing makes every step SQL-expressible)
# ---------------------------------------------------------------------------

_TOKS = r"list_distinct(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> ''))"
_MEMBERS = "string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR))"

# Distinct 3-gram word shingles, DuckDB-side (w[i:i+2] is the inclusive
# 3-element slice starting at i).
_SH = r"""list_distinct(list_transform(
        range(1, greatest(len(list_filter(regexp_split_to_array(text, '\s+'),
                                          t -> t <> '')) - 2, 0) + 1),
        i -> array_to_string(list_filter(regexp_split_to_array(text, '\s+'),
                                         t -> t <> '')[i:i+2], ' ')))"""

_MINHASH_CTE = f"""
    toks AS (
        SELECT doc_id, unnest({_SH}) AS tok FROM documents
    ),
    sigs AS (
        SELECT doc_id,
               {', '.join(
                   f"min(CAST(concat('0x', substr(md5(concat('{i}:', tok)), {pos}, 15)) AS BIGINT))"
                   f" AS mh{2 * i + half}"
                   for i in range(MINHASH_K // 2)
                   for half, pos in ((0, 1), (1, 17))
               )}
        FROM toks GROUP BY doc_id
    ),
    bands AS (
        {' UNION ALL '.join(
            f"SELECT doc_id, {b} AS band, "
            f"md5(concat_ws(',', mh{b*LSH_ROWS}, mh{b*LSH_ROWS+1}, mh{b*LSH_ROWS+2})) AS sig "
            f"FROM sigs"
            for b in range(LSH_BANDS)
        )}
    )
"""

_SIMHASH_CTE = f"""
    stoks AS (
        SELECT doc_id, unnest({_SH}) AS tok FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(concat('0:', tok)), 1, 15)) AS BIGINT) AS h
        FROM stoks
    ),
    sums AS (
        SELECT doc_id,
               {', '.join(
                   f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
                   for j in range(SIMHASH_BITS)
               )}
        FROM hashed GROUP BY doc_id
    ),
    simsigs AS (
        SELECT doc_id,
               {' + '.join(
                   f"(CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
                   for j in range(SIMHASH_BITS)
               )} AS simhash
        FROM sums
    )
"""

CHUNK_W = 8
CHUNK_MIN_DOCS = 3


def _doc_chunk_rows(documents: DataFrame, w: int = CHUNK_W) -> DataFrame:
    """(doc_id, chunk_idx, chunk): each doc's token stream cut into
    fixed-width ``w``-token chunks, order-preserving. Pure codegen
    (transform + slice over the token array -- no Python, no token-level
    explode)."""
    toks = tokenize_ws("text")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(w))).cast("int")
    chunks = F.when(F.size(toks) > 0, F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * w + 1, w), " "),
    )).otherwise(F.array().cast("array<string>"))
    return documents.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk")
    )


def boilerplate_chunks(
    documents: DataFrame, w: int = CHUNK_W, min_docs: int = CHUNK_MIN_DOCS
) -> DataFrame:
    """Corpus-wide repeated-segment census: ``w``-token chunks appearing
    in >= ``min_docs`` distinct documents, with doc and occurrence
    counts -- the boilerplate table line-level dedup removes.

    This is the *line dedup* step of CCNet (Wenzek et al. 2019) and
    RefinedWeb (Penedo et al. 2023): repeated lines across a web corpus
    are navigation chrome/cookie banners, and dropping them beats
    document-level dedup for boilerplate. The driver's synthetic corpus
    has no newlines, so a fixed 8-token chunk stands in for the line --
    the plan shape (segment -> corpus-wide count -> threshold) is
    identical.

    Scale: one corpus-linear chunk pass + ONE groupBy on the chunk text
    (map-side partial counts; at 100 TB, group on md5(chunk) and keep an
    exemplar via min(chunk) to shuffle 16-byte keys instead of strings).
    """
    return (
        _doc_chunk_rows(documents, w)
        .groupBy("chunk")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def chunk_dedup_clean(
    documents: DataFrame, w: int = CHUNK_W, min_docs: int = CHUNK_MIN_DOCS
) -> DataFrame:
    """Rewrite every document with corpus-boilerplate chunks removed:
    (doc_id, n_chunks, n_kept, text_clean), text order preserved.

    Plan: chunk rows -> left_anti against the (broadcast) hot-chunk set
    -> one doc-keyed groupBy that reassembles the surviving chunks via
    sort_array(collect_list(struct(idx, chunk))) -- the collect is
    bounded by document length, never by corpus size. The hot set is
    tiny relative to the corpus (it is the HAVING >= min_docs tail of a
    power law), hence the explicit broadcast; if a pathological corpus
    overflows it, drop the hint and AQE falls back to a shuffle
    anti-join with the same semantics."""
    ch = _doc_chunk_rows(documents, w)
    hot = boilerplate_chunks(documents, w, min_docs).select("chunk")
    kept = ch.join(F.broadcast(hot), "chunk", "left_anti")
    reassembled = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("chunk_idx", "chunk"))
                ),
                lambda x: x["chunk"],
            ),
            " ",
        ).alias("text_clean"),
    )
    totals = ch.groupBy("doc_id").agg(F.count("*").alias("n_chunks"))
    # Anchor on `documents`, not on the chunk rows: a document whose text
    # is empty/whitespace-only produces NO chunks and would silently
    # vanish from a totals-anchored output -- the contract is "rewrite
    # EVERY document", so empty docs emit (n_chunks=0, n_kept=0, '').
    return (
        documents.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_chunks"), F.lit(0))
            .cast("bigint")
            .alias("n_chunks"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
        )
    )


#: Plain (order-preserving, non-distinct) whitespace tokens -- dedup's
#: _TOKS is list_distinct()'d for set-similarity and must NOT be used for
#: positional chunking.
_SEQ_TOKS = r"list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')"

_CHUNK_CTE = f"""
    tdocs AS (SELECT doc_id, {_SEQ_TOKS} AS w FROM documents),
    chs AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, CAST(ceil(len(w) / {CHUNK_W}.0) AS BIGINT) + 1),
                   i -> struct_pack(
                       chunk_idx := CAST(i - 1 AS INT),
                       chunk := array_to_string(
                           w[((i-1)*{CHUNK_W}+1):((i-1)*{CHUNK_W}+{CHUNK_W})],
                           ' '))
               )) AS c
        FROM tdocs
    ),
    chv AS (SELECT doc_id, c.chunk_idx AS chunk_idx, c.chunk AS chunk FROM chs)
"""

ORACLE_SQL: dict[str, str] = {
    "boilerplate_chunks": f"""
        WITH {_CHUNK_CTE}
        SELECT chunk,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_occurrences
        FROM chv
        GROUP BY chunk
        HAVING count(DISTINCT doc_id) >= {CHUNK_MIN_DOCS}
    """,
    "chunk_dedup_clean": f"""
        WITH {_CHUNK_CTE},
        hot AS (
            SELECT chunk FROM chv GROUP BY chunk
            HAVING count(DISTINCT doc_id) >= {CHUNK_MIN_DOCS}
        ),
        kept AS (
            SELECT * FROM chv
            WHERE chunk NOT IN (SELECT chunk FROM hot)
        ),
        totals AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
            FROM chv GROUP BY doc_id
        ),
        keptagg AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_kept,
                   string_agg(chunk, ' ' ORDER BY chunk_idx) AS text_clean
            FROM kept GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(t.n_chunks, 0) AS BIGINT) AS n_chunks,
               CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
               COALESCE(k.text_clean, '') AS text_clean
        FROM documents d
        LEFT JOIN totals t USING (doc_id)
        LEFT JOIN keptagg k USING (doc_id)
    """,
    "dedup_clusters": f"""
        WITH RECURSIVE {_MINHASH_CTE},
        candidates AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        ),
        tsets AS (
            SELECT doc_id, list_sort({_SH}) AS toks FROM documents
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
        sized AS (
            SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id
        )
        SELECT c.doc_id, c.cluster_id, s.cluster_size,
               c.doc_id = c.cluster_id AS is_keeper
        FROM comp c JOIN sized s USING (cluster_id)
    """,

    "exact_duplicates": f"""
        SELECT md5(text) AS text_hash,
               CAST(count(*) AS BIGINT) AS n_dups,
               min(doc_id) AS keeper,
               {_MEMBERS} AS members
        FROM documents
        GROUP BY md5(text)
        HAVING count(*) > 1
    """,
    "canonical_duplicates": f"""
        SELECT md5(array_to_string(list_sort({_TOKS}), ' ')) AS canon_hash,
               CAST(count(*) AS BIGINT) AS n_dups,
               min(doc_id) AS keeper,
               {_MEMBERS} AS members
        FROM documents
        GROUP BY 1
        HAVING count(*) > 1
    """,
    "minhash_lsh_pairs": f"""
        WITH {_MINHASH_CTE},
        candidates AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        ),
        tsets AS (
            SELECT doc_id, list_sort({_SH}) AS toks FROM documents
        )
        SELECT doc_a, doc_b,
               len(list_intersect(ta.toks, tb.toks))
                 / len(list_distinct(list_concat(ta.toks, tb.toks))) AS jaccard
        FROM candidates
        JOIN tsets ta ON ta.doc_id = doc_a
        JOIN tsets tb ON tb.doc_id = doc_b
        WHERE len(list_intersect(ta.toks, tb.toks))
                 / len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.7
    """,
    "dedup_incremental": f"""
        WITH {_MINHASH_CTE},
        cand AS (
            SELECT DISTINCT nb.doc_id AS batch_doc, cb.doc_id AS corpus_doc
            FROM bands nb JOIN bands cb
              ON nb.band = cb.band AND nb.sig = cb.sig
            WHERE nb.doc_id % {INGEST_MOD} = {INGEST_REM}
              AND cb.doc_id % {INGEST_MOD} <> {INGEST_REM}
        ),
        tsets2 AS (
            SELECT doc_id, list_sort({_SH}) AS toks FROM documents
        )
        SELECT batch_doc, corpus_doc,
               len(list_intersect(ta.toks, tb.toks))
                 / len(list_distinct(list_concat(ta.toks, tb.toks))) AS jaccard
        FROM cand
        JOIN tsets2 ta ON ta.doc_id = batch_doc
        JOIN tsets2 tb ON tb.doc_id = corpus_doc
        WHERE len(list_intersect(ta.toks, tb.toks))
                 / len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.7
    """,
    "dedup_ingest_replay": f"""
        WITH {_MINHASH_CTE},
        cand AS (
            SELECT DISTINCT nb.doc_id AS batch_doc, cb.doc_id AS corpus_doc
            FROM bands nb JOIN bands cb
              ON nb.band = cb.band AND nb.sig = cb.sig
            WHERE nb.doc_id % {INGEST_BATCHES} > cb.doc_id % {INGEST_BATCHES}
        ),
        tsets2 AS (
            SELECT doc_id, list_sort({_SH}) AS toks FROM documents
        )
        SELECT batch_doc, corpus_doc,
               len(list_intersect(ta.toks, tb.toks))
                 / len(list_distinct(list_concat(ta.toks, tb.toks))) AS jaccard
        FROM cand
        JOIN tsets2 ta ON ta.doc_id = batch_doc
        JOIN tsets2 tb ON tb.doc_id = corpus_doc
        WHERE len(list_intersect(ta.toks, tb.toks))
                 / len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.7
    """,
    "simhash_signatures": f"""
        WITH {_SIMHASH_CTE}
        SELECT doc_id, simhash FROM simsigs
    """,
    "simhash_near_pairs": f"""
        WITH {_SIMHASH_CTE}
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM simsigs a JOIN simsigs b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """,
    "ngram_jaccard_pairs": f"""
        WITH sh AS (
            SELECT doc_id, {_SH} AS sh FROM documents
        ),
        nonempty AS (SELECT * FROM sh WHERE len(sh) > 0)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.sh, b.sh))
                 / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        FROM nonempty a JOIN nonempty b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh))
                 / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3
    """,
}


def dedup_method_agreement(documents: DataFrame) -> DataFrame:
    """Detector-comparison report -- the dedup analog of
    similarity.ann_recall_report: for each pair of near-dup detectors
    (MinHash-LSH @ jaccard>=0.7, SimHash @ hamming<=6, n-gram Jaccard
    @ >=0.3), how many pairs each finds and how many they agree on.
    One row per method pair: (method_a, method_b, n_a, n_b, n_both).

    The three detectors trade recall/precision/cost differently (banded
    signatures vs hamming blocks vs inverted-index co-counts); this
    report makes the trade a driver-checkable artifact instead of
    folklore. Each method's subplan is its registered production plan
    unchanged and evaluated ONCE: the three pair sets union into a
    flagged relation, one (doc_a, doc_b)-keyed aggregate ORs the flags,
    and one tiny aggregate takes the six conditional sums -- the
    per-method-pair join-and-count jobs of the naive form (each
    detector run twice, 9 jobs) collapse into a single pass over pair
    keys, which are tiny relative to the corpus."""
    flagged = None
    for name, pairs in (
        ("mh", minhash_lsh_pairs(documents)),
        ("sh", simhash_near_pairs(documents)),
        ("ng", ngram_jaccard_pairs(documents)),
    ):
        p = pairs.select(
            "doc_a",
            "doc_b",
            F.lit(name == "mh").alias("mh"),
            F.lit(name == "sh").alias("sh"),
            F.lit(name == "ng").alias("ng"),
        )
        flagged = p if flagged is None else flagged.unionByName(p)
    flags = flagged.groupBy("doc_a", "doc_b").agg(
        F.max("mh").alias("mh"),
        F.max("sh").alias("sh"),
        F.max("ng").alias("ng"),
    )

    def cnt(col):
        return F.sum(col.cast("int")).cast("bigint")

    agg = flags.agg(
        cnt(F.col("mh")).alias("n_mh"),
        cnt(F.col("sh")).alias("n_sh"),
        cnt(F.col("ng")).alias("n_ng"),
        cnt(F.col("mh") & F.col("sh")).alias("n_mh_sh"),
        cnt(F.col("mh") & F.col("ng")).alias("n_mh_ng"),
        cnt(F.col("sh") & F.col("ng")).alias("n_sh_ng"),
    )
    return agg.select(
        F.expr(
            "stack(3, "
            "'minhash', 'simhash', n_mh, n_sh, n_mh_sh, "
            "'minhash', 'ngram', n_mh, n_ng, n_mh_ng, "
            "'simhash', 'ngram', n_sh, n_ng, n_sh_ng"
            ") as (method_a, method_b, n_a, n_b, n_both)"
        )
    )


def _build_method_agreement_sql() -> str:
    subq = {
        "minhash": ORACLE_SQL["minhash_lsh_pairs"],
        "simhash": ORACLE_SQL["simhash_near_pairs"],
        "ngram": ORACLE_SQL["ngram_jaccard_pairs"],
    }
    names = list(subq)
    rows = []
    for i in range(len(names)):
        for j in range(i + 1, len(names)):
            a, b = names[i], names[j]
            rows.append(
                f"""
        SELECT '{a}' AS method_a, '{b}' AS method_b,
               (SELECT CAST(count(*) AS BIGINT) FROM p_{a}) AS n_a,
               (SELECT CAST(count(*) AS BIGINT) FROM p_{b}) AS n_b,
               (SELECT CAST(count(*) AS BIGINT)
                FROM p_{a} x JOIN p_{b} y USING (doc_a, doc_b)) AS n_both
        """
            )
    ctes = ",".join(
        f"p_{n} AS (SELECT doc_a, doc_b FROM ({sql}))"
        for n, sql in subq.items()
    )
    return "WITH " + ctes + " UNION ALL ".join(rows)


ORACLE_SQL["dedup_method_agreement"] = _build_method_agreement_sql()


def source_overlap_report(documents: DataFrame) -> DataFrame:
    """Cross-source near-duplicate provenance: for every (ordered)
    source pair, how many MinHash-LSH near-dup pairs straddle them --
    the governance report that tells a curation run which feeds are
    re-crawling each other (and how much of the intra-source count is
    self-duplication). Pure composition: the banded pair relation join
    documents' source column twice (broadcast-sized key map at the
    report stage), one aggregate -- no new pairwise work."""
    pairs = minhash_lsh_pairs(documents, 0.7).select("doc_a", "doc_b")
    src = documents.select("doc_id", "source")
    tagged = (
        pairs.join(
            src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "source", "source_a"
            ),
            "doc_a",
        )
        .join(
            src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "source", "source_b"
            ),
            "doc_b",
        )
        .select(
            F.least("source_a", "source_b").alias("source_lo"),
            F.greatest("source_a", "source_b").alias("source_hi"),
        )
    )
    return tagged.groupBy("source_lo", "source_hi").agg(
        F.count("*").alias("n_pairs")
    )


ORACLE_SQL["source_overlap_report"] = f"""
    WITH mp AS ({ORACLE_SQL["minhash_lsh_pairs"]}),
    tagged AS (
        SELECT least(sa.source, sb.source) AS source_lo,
               greatest(sa.source, sb.source) AS source_hi
        FROM mp
        JOIN documents sa ON mp.doc_a = sa.doc_id
        JOIN documents sb ON mp.doc_b = sb.doc_id
    )
    SELECT source_lo, source_hi, CAST(count(*) AS BIGINT) AS n_pairs
    FROM tagged GROUP BY source_lo, source_hi
"""
