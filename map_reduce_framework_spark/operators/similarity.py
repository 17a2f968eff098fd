"""Similarity search over the embeddings table (array<float> column).

North-star operators (BASELINE.json): the reference has no vector surface,
but a 100 TB training-data pipeline needs ANN. The family: exact
``knn_brute_force`` (validation), ``ann_lsh`` (hyperplane blocking),
``ann_ivf`` (first-N coarse cells), ``ann_ivf_trained``
(Lloyd-trained cells, clustering.py), ``ann_ivf_pq`` (trained cells +
product-quantized ADC, clustering.py), with ``ann_recall_report``
pinning each variant's recall@k against exact as a registered query.
The two archetypes in detail:

* ``knn_brute_force`` -- exact top-k per query vector. The query side is
  tiny and broadcast; the candidate scan is embarrassingly parallel and
  the per-partition top-k is cut down by the rank filter after a single
  shuffle on q_id. This is the *oracle* path: at 100 TB you run it only
  to validate the ANN path on samples.
* ``ann_lsh`` -- random-hyperplane (SimHash-for-vectors) bucketing with
  L independent hash tables: each table hashes with its own small set of
  deterministic +/-1 hyperplanes -> bucket id; a candidate is any vector
  sharing a bucket with the query in >=1 table, then exact cosine over
  the (deduped) candidates. Recall ~ 1-(1-p^r)^L where p = 1-angle/pi;
  tune (r planes/table, L tables) per data scale: more planes = finer
  buckets = less compute, lower recall; more tables buy recall back.

All cosines are computed as sequential left-to-right double sums, which
are bit-identical between Spark's ``aggregate`` HOF and DuckDB's
``list_dot_product`` (verified empirically: 0 mismatching bits over 4000
pairs), so ranking needs no rounding -- only a vec_id tiebreak for the
(measure-zero) case of exactly equal cosines.

Hyperplane signs derive from md5 in *Python* and are embedded as literals
in both the Spark plan and the oracle SQL, so both engines see the exact
same planes.

Published groundwork: random-hyperplane LSH (Charikar, STOC 2002;
Indyk/Motwani, "Approximate nearest neighbors", STOC 1998), IVF coarse
quantization (Jegou/Douze/Schmid, "Product quantization for nearest
neighbor search", TPAMI 2011 -- the inverted-file layer, without PQ).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType
from pyspark.sql.window import Window

from ..functions.vector import as_double, dot
from ..session import materialize_parallel, shuffle_partitions, stage_checkpoint

DIM = 64
N_TABLES = 6
PLANES_PER_TABLE = 4




def _normed(embeddings: DataFrame, n_parts: int | None = None) -> DataFrame:
    """(vec_id, v: array<double>, nrm), round-robin repartitioned.

    Two perf-critical properties for every pairwise consumer:
    * the norm is computed ONCE per vector, so each pair later needs a
      single dot product (bit-identical to computing sqrt(dot(v,v)) inside
      the pair -- same expression, same order);
    * the single-file parquet scan is REPARTITIONED: BroadcastNestedLoopJoin
      keeps the stream side's partitioning, so without this every pairwise
      stage collapses to ONE task (observed 13.5s -> 2.1s on 2M pairs).
      On a real cluster this is the difference between 1 and N executors
      doing the O(n^2/2) work."""
    v = as_double(F.col("embedding"))
    return (
        embeddings.repartition(n_parts or shuffle_partitions(embeddings))
        .select("vec_id", v.alias("v"), F.sqrt(dot(v, v)).alias("nrm"))
    )


def _plane_sign(p: int, i: int) -> float:
    h = hashlib.md5(f"plane:{p}:{i}".encode()).hexdigest()
    return 1.0 if int(h[0], 16) % 2 == 0 else -1.0


#: Deterministic +/-1 hyperplanes; table t uses planes
#: [t*PLANES_PER_TABLE, (t+1)*PLANES_PER_TABLE).
PLANE_SIGNS: list[list[float]] = [
    [_plane_sign(p, i) for i in range(DIM)]
    for p in range(N_TABLES * PLANES_PER_TABLE)
]


def knn_brute_force(
    embeddings: DataFrame, n_queries: int = 8, k: int = 10
) -> DataFrame:
    """Exact cosine top-k: the first ``n_queries`` vec_ids against the full
    table. Returns (q_id, vec_id, cos, rnk)."""
    e = _normed(embeddings)
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (dot(F.col("qv"), F.col("v"))
             / (F.col("qn") * F.col("nrm"))).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def table_bucket_expr(vec_col, table: int):
    """Bucket id for one LSH table: PLANES_PER_TABLE sign bits.

    Pure-JVM reference form of the bucket semantics (what the DuckDB oracle
    SQL mirrors); the production path is the vectorized ``lsh_buckets``
    below, tested equal to this expression."""
    bucket = F.lit(0).cast("bigint")
    for r in range(PLANES_PER_TABLE):
        signs = PLANE_SIGNS[table * PLANES_PER_TABLE + r]
        # True array Literal (one constant node) -- F.array(*lits) would be
        # a 64-child CreateArray re-evaluated per row.
        plane = F.lit(signs)
        bucket = bucket + F.when(dot(vec_col, plane) > 0, F.lit(1 << r)).otherwise(0)
    return bucket


@F.pandas_udf(ArrayType(LongType()))
def _bucket_ids_all_tables(emb: pd.Series) -> pd.Series:
    """All N_TABLES bucket ids per vector in one numpy matmul per Arrow
    batch: (B x 64) @ (64 x 24) then 4 sign bits per table.

    Why not the JVM expression: 24 separate HOF ``aggregate(zip_with(...))``
    dots run interpreted (HOFs have no codegen) and CollapseProject inlines
    the float->double array cast into every one of them -- measured ~1 ms/row
    at dim 64, which at 100 TB is the difference between an O(n) narrow
    stage and a new bottleneck. One vectorized matmul per batch is ~1000x.

    Oracle safety: bucket bits only need the SIGN of each dot. Measured on
    the driver's testdata (sf0.001/0.01/0.1): min |dot| >= 3.3e-6 while
    numpy-vs-sequential summation differed by 0.0, so no summation order
    can flip a bit vs the sequential-sum DuckDB oracle."""
    if len(emb) == 0:
        return pd.Series([], dtype=object)
    V = np.asarray(emb.to_list(), dtype=np.float64)
    D = V @ _SIGNS_T  # B x (N_TABLES * PLANES_PER_TABLE)
    bits = (D > 0).astype(np.int64)
    out = np.zeros((V.shape[0], N_TABLES), dtype=np.int64)
    for t in range(N_TABLES):
        for r in range(PLANES_PER_TABLE):
            out[:, t] |= bits[:, t * PLANES_PER_TABLE + r] << r
    return pd.Series(list(out))


_SIGNS_T = np.array(PLANE_SIGNS, dtype=np.float64).T  # 64 x 24


def lsh_buckets(embeddings: DataFrame) -> DataFrame:
    """(vec_id, table, bucket) -- the scale path's blocking structure:
    one row per vector per hash table. Narrow (no shuffle beyond the scan
    repartition); bucket hashing is Arrow-vectorized."""
    return (
        embeddings.repartition(shuffle_partitions(embeddings))
        .select(
            "vec_id",
            F.posexplode(_bucket_ids_all_tables(F.col("embedding"))).alias(
                "tbl", "bucket"
            ),
        )
    )


def ann_lsh(embeddings: DataFrame, n_queries: int = 8, k: int = 5) -> DataFrame:
    """Approximate top-k: candidates share a bucket with the query in any
    of the L hash tables; exact cosine over the deduped candidate set.
    Returns (q_id, vec_id, cos, rnk); recall vs knn_brute_force tested."""
    e = _normed(embeddings)
    buckets = lsh_buckets(embeddings)
    # Probe buckets come from a scan of ONLY the query vectors -- deriving
    # them by filtering `buckets` would duplicate the full bucket-table
    # subplan (hash every vector twice).
    qb = lsh_buckets(embeddings.filter(F.col("vec_id") < n_queries)).select(
        F.col("vec_id").alias("q_id"),
        F.col("tbl").alias("q_tbl"),
        F.col("bucket").alias("q_bucket"),
    )
    candidates = (
        buckets.join(
            F.broadcast(qb),
            (F.col("tbl") == F.col("q_tbl"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "vec_id")
        .distinct()
    )
    scored = (
        candidates.join(e, "vec_id")
        .join(
            # candidates only carry q_id < n_queries: broadcast just those
            # vectors (broadcasting the full table is fatal at 100 TB).
            F.broadcast(
                e.filter(F.col("vec_id") < n_queries).select(
                    F.col("vec_id").alias("q_id"),
                    F.col("v").alias("qv"),
                    F.col("nrm").alias("qn"),
                )
            ),
            "q_id",
        )
        .select(
            "q_id",
            "vec_id",
            (dot(F.col("qv"), F.col("v"))
             / (F.col("qn") * F.col("nrm"))).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def top_similar_pairs(embeddings: DataFrame, top_n: int = 20) -> DataFrame:
    """Embedding-cosine near-duplicate surface: globally most-similar
    distinct pairs, **LSH-blocked** (the production plan).

    Candidate pairs are vectors sharing a bucket in >=1 of the L hash
    tables -- a banded *equi-join* on (table, bucket), never an all-pairs
    self-join. Exact cosine runs over the deduped candidate set only,
    then a global top-N. Cost is sum over buckets of |bucket|^2 instead
    of n^2: with r sign bits per table the expected bucket fraction is
    2^-r of the data, and genuinely-similar pairs (the ones that can
    reach the top-N) collide with probability 1-(1-p^r)^L, p = 1-theta/pi
    (Charikar 2002). Recall vs the exact all-pairs ranking is pinned by
    tests/test_llm_ops.py.

    ``all_similar_pairs`` below keeps the exact O(n^2) form as the
    sample-validation oracle path (run it on samples, never the corpus).
    """
    return (
        _pair_cosines(embeddings, _lsh_candidate_pairs(embeddings))
        .orderBy(F.col("cos").desc(), F.col("id_a"), F.col("id_b"))
        .limit(top_n)
    )


def _lsh_candidate_pairs(embeddings: DataFrame) -> DataFrame:
    """Distinct candidate pairs sharing an LSH bucket in >=1 table -- the
    banded equi-join at the heart of every embedding near-dup plan."""
    buckets = lsh_buckets(embeddings)
    return (
        buckets.alias("x")
        .join(
            buckets.alias("y"),
            (F.col("x.tbl") == F.col("y.tbl"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("id_a"), F.col("y.vec_id").alias("id_b")
        )
        .distinct()
    )


def _pair_cosines(embeddings: DataFrame, candidates: DataFrame) -> DataFrame:
    """Exact cosine for each candidate (id_a, id_b) pair -- two equi-joins
    against the normed vectors, cost |candidates| not n^2."""
    e = _normed(embeddings)
    a = e.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (dot(F.col("va"), F.col("vb"))
             / (F.col("na") * F.col("nb"))).alias("cos"),
        )
    )


#: Cosine threshold for the embedding near-duplicate surface. The synthetic
#: embeddings are near-uniform (max pair cosine ~0.5 at sf0.01), so 0.4
#: yields a small-but-real pair set; production corpora with planted
#: near-dups would run ~0.9.
NEAR_DUP_COS = 0.4


def embedding_near_pairs(
    embeddings: DataFrame, threshold: float = NEAR_DUP_COS
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS at a fixed threshold: LSH
    bucket blocking (equi-join, never all-pairs), exact cosine over the
    candidate set, threshold filter. Returns (id_a, id_b, cos).

    Recall is the LSH collision probability at the threshold angle
    (Charikar 2002); the oracle mirrors the same blocking, so correctness
    is exact while recall is tested separately against all-pairs."""
    return _pair_cosines(embeddings, _lsh_candidate_pairs(embeddings)).filter(
        F.col("cos") >= threshold
    )


def embedding_dup_clusters(
    embeddings: DataFrame, threshold: float = NEAR_DUP_COS
) -> DataFrame:
    """Embedding-cosine near-duplicate CLUSTERS: connected components over
    the ``embedding_near_pairs`` graph, via the O(log n)
    large-star/small-star method (``connected_component_labels``
    method='two_phase') -- the adversarial-diameter-safe path, exercised
    here as a production query. Returns (vec_id, cluster_id, cluster_size,
    is_keeper); cluster_id is the component minimum, the keeper."""
    from .dedup import connected_component_labels

    pairs = embedding_near_pairs(embeddings, threshold).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    labels = connected_component_labels(pairs, method="two_phase")
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("doc_id").alias("vec_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
        (F.col("doc_id") == F.col("label")).alias("is_keeper"),
    )


def all_similar_pairs(embeddings: DataFrame, top_n: int = 20) -> DataFrame:
    """Exact all-pairs cosine top-N: O(n^2) **by design** -- the
    sample-validation oracle for ``top_similar_pairs`` (same role
    ``knn_brute_force`` plays for the ANN paths). Never registered as a
    production query; the recall test runs it at test scale only."""
    e = _normed(embeddings)
    a = e.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot(F.col("va"), F.col("vb"))
             / (F.col("na") * F.col("nb"))).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("id_a"), F.col("id_b"))
        .limit(top_n)
    )


N_CENTROIDS = 16
N_PROBE = 4


def _cells(e: DataFrame, cent) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine, centroid-id
    tiebreak). Window argmin instead of min_by so the reduction order is
    identical in DuckDB."""
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cent_id",
        (dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))).alias(
            "cos_c"
        ),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_c").desc(), F.col("cent_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cent_id").alias("cell"))
    )


def ann_ivf(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_centroids: int = N_CENTROIDS,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize vectors into centroid cells,
    probe the ``n_probe`` nearest cells per query, exact cosine inside the
    probed cells only.

    Deterministic coarse quantizer: the first ``n_centroids`` vectors serve
    as centroids (at 100 TB: k-means|| over a sample -- the cell-assignment
    /probe/verify dataflow below is unchanged, only the centroid table
    swaps). Compute shape: assignment is |V| x C broadcast dots (linear,
    embarrassingly parallel); search touches ~n_probe/C of the data --
    the fraction IS the recall/compute dial."""
    e = _normed(embeddings)
    cent = _normed(embeddings.filter(F.col("vec_id") < n_centroids)).select(
        F.col("vec_id").alias("cent_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    cells = _cells(e, cent)
    # Query-side: the n_probe nearest centroids per query vector
    # (normed from a filtered scan, not a filter over the full normed plan).
    q = _normed(embeddings.filter(F.col("vec_id") < n_queries))
    q_scored = q.crossJoin(F.broadcast(cent)).select(
        F.col("vec_id").alias("q_id"),
        "cent_id",
        (dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))).alias(
            "cos_c"
        ),
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("cos_c").desc(), F.col("cent_id"))
    probes = (
        q_scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("q_id", F.col("cent_id").alias("cell"))
    )
    candidates = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    scored = (
        candidates.join(e, "vec_id")
        .join(
            # candidates only carry q_id < n_queries: broadcast just those
            # vectors (broadcasting the full table is fatal at 100 TB).
            F.broadcast(
                e.filter(F.col("vec_id") < n_queries).select(
                    F.col("vec_id").alias("q_id"),
                    F.col("v").alias("qv"),
                    F.col("nrm").alias("qn"),
                )
            ),
            "q_id",
        )
        .select(
            "q_id",
            "vec_id",
            (dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias(
                "cos"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def ann_recall_report(
    embeddings: DataFrame, documents: DataFrame | None = None
) -> DataFrame:
    """Recall@k of every ANN variant against the exact brute-force
    ranking on the fixed query set -- the accuracy/cost trade as a
    first-class, driver-checkable relation instead of a pytest-only
    number. One row per variant: (variant, k, n_queries, n_hits,
    recall); n_hits counts (q_id, vec_id) pairs the variant shares with
    the exact top-k at ITS k, so recall = n_hits / (n_queries * k).
    Everything is deterministic (both rankings tiebreak on vec_id), so
    the report carries an exact DuckDB oracle.

    Scale: this is a validation query -- at 100 TB you run it on a query
    sample; each variant's subplan is the registered production plan
    unchanged, and the semi join + count adds one broadcast-size
    exchange per variant."""
    from .clustering import (
        PQ_TOPK,
        ann_ivf_pq,
        ann_ivf_trained,
        ann_ivfadc,
    )

    # r13 (VERDICT r12 ask #5): every variant function is UNCHANGED --
    # each branch is still the registered production plan -- but the
    # report feeds them ONE materialized embeddings view instead of 7
    # independent parquet subtrees (the before plan carried 128 `Scan
    # parquet` nodes and 4441 plan lines; Catalyst planning alone was a
    # visible share of the wall), and each branch's tiny (q_id, vec_id)
    # pick list is eagerly checkpointed, so the final union plans and
    # schedules 8 small independent jobs instead of one enormous DAG.
    # Materialization happens inside the query run (stage_checkpoint,
    # not cross-run caching), exactly like the Lloyd/MMR boundaries.
    emb = stage_checkpoint(
        embeddings.select("vec_id", "embedding"), eager=True
    )
    variant_defs = [
        ("ann_lsh", lambda: ann_lsh(emb), 5),
        ("ann_ivf", lambda: ann_ivf(emb), 5),
        ("ann_ivf_trained", lambda: ann_ivf_trained(emb), 5),
        ("ann_ivf_pq", lambda: ann_ivf_pq(emb), PQ_TOPK),
        ("ann_ivfadc", lambda: ann_ivfadc(emb), PQ_TOPK),
        ("ann_binary", lambda: ann_binary(emb), BQ_K),
    ]
    n_queries = 8
    max_k = max(k for _, _, k in variant_defs)
    # one brute-force pass at the largest k; exact top-k' for any k' <= k
    # is its rnk <= k' prefix (same ordering), so the O(n) scan runs once.
    # The branches are INDEPENDENT small jobs, so they are built and
    # materialized concurrently.
    exact_all, *branches = materialize_parallel(
        [
            lambda: knn_brute_force(emb, n_queries=n_queries, k=max_k).select(
                "q_id", "vec_id", "rnk"
            )
        ]
        + [
            lambda build=build: build().select("q_id", "vec_id")
            for _, build, _ in variant_defs
        ]
    )
    out = None
    for (name, _, k), df in zip(variant_defs, branches):
        exact = exact_all.filter(F.col("rnk") <= k).select("q_id", "vec_id")
        hits = df.join(exact, ["q_id", "vec_id"], "left_semi")
        rep = hits.agg(F.count("*").alias("n_hits")).select(
            F.lit(name).alias("variant"),
            F.lit(k).cast("int").alias("k"),
            F.lit(n_queries).cast("int").alias("n_queries"),
            F.col("n_hits").cast("bigint").alias("n_hits"),
            (F.col("n_hits") / F.lit(n_queries * k))
            .cast("double")
            .alias("recall"),
        )
        out = rep if out is None else out.unionByName(rep)
    if documents is not None:
        # fused-recall row: the ANN-backed hybrid's top-10 doc list vs
        # the brute-force hybrid's (the exact twin) -- pins the quality
        # of the production RAG entry point, not just raw ANN recall
        # both hybrids in ONE final action (not checkpointed apart):
        # their identical bm25 subtrees keep sharing exchanges there
        exact_h = (
            hybrid_retrieval_rrf(documents, emb)
            .filter(F.col("fused_rnk") <= 10)
            .select("doc_id")
        )
        ann_h = (
            hybrid_retrieval_rrf_ann(documents, emb)
            .filter(F.col("fused_rnk") <= 10)
            .select("doc_id")
        )
        rep = (
            ann_h.join(exact_h, "doc_id", "left_semi")
            .agg(F.count("*").alias("n_hits"))
            .select(
                F.lit("hybrid_rrf_ann").alias("variant"),
                F.lit(10).cast("int").alias("k"),
                F.lit(1).cast("int").alias("n_queries"),
                F.col("n_hits").cast("bigint").alias("n_hits"),
                (F.col("n_hits") / F.lit(10)).cast("double").alias("recall"),
            )
        )
        out = out.unionByName(rep)
    return out


#: Standard RRF dampening constant (Cormack/Clarke/Buettcher SIGIR'09).
RRF_K = 60


def hybrid_retrieval_rrf(
    documents: DataFrame, embeddings: DataFrame
) -> DataFrame:
    """Hybrid retrieval -- the RAG-stack fusion step: a lexical ranking
    (BM25 for the fixed probe term) and a semantic ranking (exact cosine
    neighbors of the fixed probe vector) merged by reciprocal rank
    fusion, score(d) = sum over rankers of 1/(RRF_K + rank_r(d))
    (Cormack et al. 2009). Docs found by only one ranker keep that
    single term -- the standard treatment.

    Exactness: ranks are INTs, each 1/(60+r) is one correctly-rounded
    IEEE division, the two-term sum has a fixed order, ties break on
    doc_id -- hash-exact against the composed oracle. The final window
    is global but runs over <= 2k fused rows (top-k lists, not corpora),
    so the SinglePartition stage is bounded by k, never by data size."""
    from .text_analysis import bm25_top_docs

    lex = (
        bm25_top_docs(documents)
        .filter(F.col("term") == "spark")
        .select("doc_id", F.col("rnk").alias("lex_rnk"))
    )
    sem = knn_brute_force(embeddings, n_queries=1, k=10).select(
        F.col("vec_id").alias("doc_id"),
        F.col("rnk").alias("sem_rnk"),
    )
    return _rrf_fuse(lex, sem)


def _rrf_fuse(lex: DataFrame, sem: DataFrame) -> DataFrame:
    """RRF over two (doc_id, *_rnk) top-k lists: full-outer align, sum
    1/(RRF_K + rank) per present ranker, global rank over <= |lex|+|sem|
    fused rows (bounded by the two k's, never by corpus size)."""
    fused = lex.join(sem, "doc_id", "full_outer")
    term = lambda c: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(RRF_K) + F.col(c)), F.lit(0.0)
    )
    scored = fused.select(
        "doc_id",
        "lex_rnk",
        "sem_rnk",
        (term("lex_rnk") + term("sem_rnk")).alias("rrf_score"),
    )
    w = Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
    return scored.withColumn(
        "fused_rnk", F.row_number().over(w).cast("int")
    )


def hybrid_retrieval_rrf_ann(
    documents: DataFrame, embeddings: DataFrame
) -> DataFrame:
    """The PRODUCTION hybrid: same RRF fusion as ``hybrid_retrieval_rrf``
    but the semantic ranking comes from ``ann_ivf_pq`` (probed IVF cells,
    ADC over PQ codes -- clustering.py:561) instead of a brute-force
    scan + global top-k of the whole embedding table per query. At
    100 TB the brute-force twin reads every vector per probe; this one
    touches ~N_PROBE/N_CELLS of the (much smaller) PQ-codes relation and
    zero raw vectors, with every query-path join a broadcast
    (gated: tests/test_plans.py asserts no cosine ranking and at most
    the BM25 stats nested-loop join in the plan).

    The brute-force form stays registered as the exact/oracle twin, and
    ``ann_recall_report`` pins the fused list's overlap with it -- the
    same accuracy/cost discipline as user_reach vs user_reach_hll.

    Exactness: ann_ivf_pq's ADC ranking is itself deterministic
    (integer-mantissa summation, vec_id tiebreak), so the fused report
    carries a full hash-exact DuckDB oracle, not a rows-only check."""
    from .clustering import ann_ivf_pq
    from .text_analysis import bm25_top_docs

    lex = (
        bm25_top_docs(documents)
        .filter(F.col("term") == "spark")
        .select("doc_id", F.col("rnk").alias("lex_rnk"))
    )
    sem = ann_ivf_pq(embeddings, n_queries=1, k=10).select(
        F.col("vec_id").alias("doc_id"),
        F.col("rnk").alias("sem_rnk"),
    )
    return _rrf_fuse(lex, sem)


def _signs_sql(signs: list[float]) -> str:
    return "[" + ",".join(f"{s:.1f}" for s in signs) + "]::DOUBLE[]"


def _table_bucket_sql(vcol: str, table: int) -> str:
    terms = [
        f"(CASE WHEN list_dot_product({vcol}, "
        f"{_signs_sql(PLANE_SIGNS[table * PLANES_PER_TABLE + r])}) > 0 "
        f"THEN CAST({1 << r} AS BIGINT) ELSE 0 END)"
        for r in range(PLANES_PER_TABLE)
    ]
    return "(" + " + ".join(terms) + ")"


_BUCKETS_CTE = f"""
        e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))) AS nrm
            FROM embeddings
        ),
        buckets AS (
            {' UNION ALL '.join(
                f"SELECT vec_id, {t} AS tbl, {_table_bucket_sql('v', t)} AS bucket FROM e"
                for t in range(N_TABLES)
            )}
        )
"""


_COS = "list_dot_product({a}, {b}) / ({na} * {nb})"


def _knn_sql(k: int) -> str:
    """Exact-top-k oracle, parameterized so the recall report can pin
    each variant against the exact ranking at its own k."""
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))) AS nrm
            FROM embeddings
        ),
        q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < 8),
        scored AS (
            SELECT q_id, vec_id,
                   {_COS.format(a='qv', b='v', na='qn', nb='nrm')} AS cos
            FROM e CROSS JOIN q WHERE vec_id <> q_id
        ),
        ranked AS (
            SELECT q_id, vec_id, cos,
                   CAST(row_number() OVER (
                       PARTITION BY q_id ORDER BY cos DESC, vec_id
                   ) AS INT) AS rnk
            FROM scored
        )
        SELECT * FROM ranked WHERE rnk <= {k}
    """


def _recall_row_sql(name: str, variant_sql: str, k: int, n_queries: int = 8) -> str:
    return f"""
        SELECT '{name}' AS variant, CAST({k} AS INT) AS k,
               CAST({n_queries} AS INT) AS n_queries,
               CAST(count(*) AS BIGINT) AS n_hits,
               CAST(count(*) AS DOUBLE) / {n_queries * k} AS recall
        FROM ({variant_sql}) a
        JOIN ({_knn_sql(k)}) x
          ON a.q_id = x.q_id AND a.vec_id = x.vec_id
    """


_IVF_CTES = f"""
        e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))) AS nrm
            FROM embeddings
        ),
        cent AS (
            SELECT vec_id AS cent_id, v AS cv, nrm AS cn
            FROM e WHERE vec_id < {N_CENTROIDS}
        ),
        assign AS (
            SELECT vec_id, cent_id,
                   row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY list_dot_product(v, cv) / (nrm * cn) DESC,
                                cent_id
                   ) AS rn
            FROM e CROSS JOIN cent
        ),
        cells AS (
            SELECT vec_id, cent_id AS cell FROM assign WHERE rn = 1
        ),
        probes AS (
            SELECT q_id, cell FROM (
                SELECT e.vec_id AS q_id, cent_id AS cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_dot_product(v, cv) / (nrm * cn) DESC,
                                    cent_id
                       ) AS rn
                FROM e CROSS JOIN cent WHERE e.vec_id < 8
            ) WHERE rn <= {N_PROBE}
        ),
        candidates AS (
            SELECT DISTINCT p.q_id, c.vec_id
            FROM cells c JOIN probes p ON c.cell = p.cell
            WHERE c.vec_id <> p.q_id
        ),
        scored AS (
            SELECT c.q_id, c.vec_id,
                   list_dot_product(qe.v, ce.v) / (qe.nrm * ce.nrm) AS cos
            FROM candidates c
            JOIN e ce ON ce.vec_id = c.vec_id
            JOIN e qe ON qe.vec_id = c.q_id
        ),
        ranked AS (
            SELECT q_id, vec_id, cos,
                   CAST(row_number() OVER (
                       PARTITION BY q_id ORDER BY cos DESC, vec_id
                   ) AS INT) AS rnk
            FROM scored
        )
"""


ORACLE_SQL: dict[str, str] = {
    "ann_ivf": f"""
        WITH {_IVF_CTES}
        SELECT * FROM ranked WHERE rnk <= 5
    """,

    "knn_brute_force": _knn_sql(10),
    "ann_lsh": f"""
        WITH {_BUCKETS_CTE},
        qb AS (
            SELECT vec_id AS q_id, tbl AS q_tbl, bucket AS q_bucket
            FROM buckets WHERE vec_id < 8
        ),
        candidates AS (
            SELECT DISTINCT qb.q_id, b.vec_id
            FROM buckets b JOIN qb
              ON b.tbl = qb.q_tbl AND b.bucket = qb.q_bucket
             AND b.vec_id <> qb.q_id
        ),
        scored AS (
            SELECT c.q_id, c.vec_id,
                   {_COS.format(a='qe.v', b='ce.v', na='qe.nrm', nb='ce.nrm')} AS cos
            FROM candidates c
            JOIN e ce ON ce.vec_id = c.vec_id
            JOIN e qe ON qe.vec_id = c.q_id
        ),
        ranked AS (
            SELECT q_id, vec_id, cos,
                   CAST(row_number() OVER (
                       PARTITION BY q_id ORDER BY cos DESC, vec_id
                   ) AS INT) AS rnk
            FROM scored
        )
        SELECT * FROM ranked WHERE rnk <= 5
    """,
    "top_similar_pairs": f"""
        WITH {_BUCKETS_CTE},
        cand AS (
            SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
            FROM buckets x JOIN buckets y
              ON x.tbl = y.tbl AND x.bucket = y.bucket
             AND x.vec_id < y.vec_id
        )
        SELECT c.id_a, c.id_b,
               {_COS.format(a='a.v', b='b.v', na='a.nrm', nb='b.nrm')} AS cos
        FROM cand c
        JOIN e a ON a.vec_id = c.id_a
        JOIN e b ON b.vec_id = c.id_b
        ORDER BY cos DESC, id_a, id_b
        LIMIT 20
    """,
    "embedding_near_pairs": f"""
        WITH {_BUCKETS_CTE},
        cand AS (
            SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
            FROM buckets x JOIN buckets y
              ON x.tbl = y.tbl AND x.bucket = y.bucket
             AND x.vec_id < y.vec_id
        )
        SELECT c.id_a, c.id_b,
               {_COS.format(a='a.v', b='b.v', na='a.nrm', nb='b.nrm')} AS cos
        FROM cand c
        JOIN e a ON a.vec_id = c.id_a
        JOIN e b ON b.vec_id = c.id_b
        WHERE {_COS.format(a='a.v', b='b.v', na='a.nrm', nb='b.nrm')} >= {NEAR_DUP_COS}
    """,
    "embedding_dup_clusters": f"""
        WITH RECURSIVE {_BUCKETS_CTE},
        cand AS (
            SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
            FROM buckets x JOIN buckets y
              ON x.tbl = y.tbl AND x.bucket = y.bucket
             AND x.vec_id < y.vec_id
        ),
        pairs AS (
            SELECT c.id_a, c.id_b
            FROM cand c
            JOIN e a ON a.vec_id = c.id_a
            JOIN e b ON b.vec_id = c.id_b
            WHERE {_COS.format(a='a.v', b='b.v', na='a.nrm', nb='b.nrm')} >= {NEAR_DUP_COS}
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs
        ),
        nodes AS (SELECT DISTINCT src AS vec_id FROM edges),
        reach(vec_id, root) AS (
            SELECT vec_id, vec_id FROM nodes
            UNION
            SELECT ed.dst, r.root FROM reach r JOIN edges ed ON ed.src = r.vec_id
        ),
        comp AS (
            SELECT vec_id, min(root) AS cluster_id FROM reach GROUP BY vec_id
        ),
        sized AS (
            SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id
        )
        SELECT c.vec_id, c.cluster_id, s.cluster_size,
               c.vec_id = c.cluster_id AS is_keeper
        FROM comp c JOIN sized s USING (cluster_id)
    """,
}


def _build_recall_report_sql() -> str:
    """Requires the hybrid oracle builders below -- called after their
    defs (the final ORACLE_SQL['ann_recall_report'] assignment sits past
    the hybrid section)."""
    from .clustering import ORACLE_SQL as _CL_SQL

    hybrid_row = f"""
        SELECT 'hybrid_rrf_ann' AS variant, CAST(10 AS INT) AS k,
               CAST(1 AS INT) AS n_queries,
               CAST(count(*) AS BIGINT) AS n_hits,
               CAST(count(*) AS DOUBLE) / 10 AS recall
        FROM (SELECT doc_id FROM ({_build_hybrid_rrf_ann_sql()})
              WHERE fused_rnk <= 10) a
        JOIN (SELECT doc_id FROM ({_build_hybrid_rrf_sql()})
              WHERE fused_rnk <= 10) x USING (doc_id)
    """
    from .clustering import PQ_TOPK

    return " UNION ALL ".join(
        [
            _recall_row_sql("ann_lsh", ORACLE_SQL["ann_lsh"], 5),
            _recall_row_sql("ann_ivf", ORACLE_SQL["ann_ivf"], 5),
            _recall_row_sql(
                "ann_ivf_trained", _CL_SQL["ann_ivf_trained"], 5
            ),
            _recall_row_sql("ann_ivf_pq", _CL_SQL["ann_ivf_pq"], PQ_TOPK),
            _recall_row_sql("ann_ivfadc", _CL_SQL["ann_ivfadc"], PQ_TOPK),
            _recall_row_sql("ann_binary", ORACLE_SQL["ann_binary"], BQ_K),
            hybrid_row,
        ]
    )


def _build_hybrid_rrf_sql(sem_sql: str | None = None) -> str:
    from .text_analysis import ORACLE_SQL as _TA_SQL

    if sem_sql is None:  # exact twin: brute-force cosine ranking
        sem_sql = f"""
            SELECT vec_id AS doc_id, rnk AS sem_rnk
            FROM ({_knn_sql(10)}) WHERE q_id = 0
        """
    return f"""
        WITH lex AS (
            SELECT doc_id, rnk AS lex_rnk
            FROM ({_TA_SQL['bm25_top_docs']}) WHERE term = 'spark'
        ),
        sem AS ({sem_sql}),
        f AS (
            SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
                   l.lex_rnk, s.sem_rnk,
                   COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + l.lex_rnk),
                            CAST(0.0 AS DOUBLE))
                   + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + s.sem_rnk),
                              CAST(0.0 AS DOUBLE)) AS rrf_score
            FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
        )
        SELECT doc_id, lex_rnk, sem_rnk, rrf_score,
               CAST(row_number() OVER (
                   ORDER BY rrf_score DESC, doc_id
               ) AS INT) AS fused_rnk
        FROM f
    """


ORACLE_SQL["hybrid_retrieval_rrf"] = _build_hybrid_rrf_sql()


def _build_hybrid_rrf_ann_sql() -> str:
    from .clustering import ORACLE_SQL as _CL_SQL

    return _build_hybrid_rrf_sql(
        f"""
            SELECT vec_id AS doc_id, rnk AS sem_rnk
            FROM ({_CL_SQL['ann_ivf_pq']}) WHERE q_id = 0
        """
    )


ORACLE_SQL["hybrid_retrieval_rrf_ann"] = _build_hybrid_rrf_ann_sql()
# ann_recall_report's oracle is assigned at the END of the module: its
# builder also needs ann_binary's SQL, defined at the bottom.


MMR_LAMBDA = 0.5
MMR_K = 5


def mmr_rerank(
    documents: DataFrame,
    embeddings: DataFrame,
    k: int = MMR_K,
    lam: float = MMR_LAMBDA,
    _hybrid=None,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98) over the hybrid-RRF candidate list: greedily pick the item
    maximizing lam * relevance - (1-lam) * max-cosine-to-already-picked,
    trading relevance against diversity -- the last step of a retrieval
    stack before the context window.

    Greedy selection is inherently sequential in k, so the k rounds
    chain SYMBOLICALLY (k joined subtrees, like kmeans_lloyd) -- no
    driver collect; every per-round relation is bounded by the
    candidate-list size, never the corpus. Candidates without an
    embedding row (possible where the docs table outgrows the embeddings
    table) are excluded up front -- diversity is undefined without a
    vector. Exact: cosines are sequential-sum doubles, lam terms are
    fixed-order IEEE arithmetic, ties break on doc_id; the DuckDB oracle
    unrolls the same k rounds as chained CTEs."""
    cand = (
        (_hybrid or hybrid_retrieval_rrf)(documents, embeddings)
        .select("doc_id", "rrf_score")
    )
    e = _normed(embeddings)
    # ce/sims are <= 2k-row relations but their LINEAGE is the whole
    # hybrid pipeline (BM25 + brute-force kNN); without materializing
    # them here, every one of the k greedy rounds re-embeds that full
    # subplan and the final union's plan is O(k^2) copies of it
    # (measured 60.9 s -> ~3 s at sf0.1). Same checkpoint discipline as
    # the CC rounds in dedup.py.
    ce = cand.join(
        e.select(F.col("vec_id").alias("doc_id"), "v", "nrm"), "doc_id"
    ).localCheckpoint()
    a = ce.select(
        F.col("doc_id").alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = ce.select(
        F.col("doc_id").alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    sims = (
        a.join(b, F.col("id_a") != F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            ).alias("cos"),
        )
        .localCheckpoint()
    )
    remaining = ce.select("doc_id", "rrf_score")
    selected_ids = None
    picks = []
    for i in range(k):
        if selected_ids is None:
            mmr = remaining.select(
                "doc_id",
                (F.lit(lam) * F.col("rrf_score")).alias("mmr_score"),
            )
        else:
            maxsim = (
                sims.join(
                    selected_ids.select(F.col("doc_id").alias("id_b")),
                    "id_b",
                )
                .groupBy("id_a")
                .agg(F.max("cos").alias("ms"))
                .select(F.col("id_a").alias("doc_id"), "ms")
            )
            mmr = remaining.join(maxsim, "doc_id", "left").select(
                "doc_id",
                (
                    F.lit(lam) * F.col("rrf_score")
                    - F.lit(1 - lam)
                    * F.coalesce(F.col("ms"), F.lit(0.0))
                ).alias("mmr_score"),
            )
        pick = (
            mmr.orderBy(F.col("mmr_score").desc(), F.col("doc_id"))
            .limit(1)
            .select(
                "doc_id",
                F.lit(i + 1).cast("int").alias("pick_order"),
                "mmr_score",
            )
        )
        # 1-row checkpoint per greedy round (r12): round i's maxsim and
        # remaining chains reference every earlier pick -- without the
        # checkpoint the final 5-row union re-evaluates each round's
        # TakeOrdered subplan O(k) times (k^2 tiny jobs). Values are
        # identical; the checkpoint is one row.
        pick = stage_checkpoint(pick)
        picks.append(pick)
        picked_id = pick.select("doc_id")
        selected_ids = (
            picked_id
            if selected_ids is None
            else selected_ids.unionByName(picked_id)
        )
        remaining = remaining.join(picked_id, "doc_id", "left_anti")
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


def mmr_rerank_ann(
    documents: DataFrame,
    embeddings: DataFrame,
    k: int = MMR_K,
    lam: float = MMR_LAMBDA,
) -> DataFrame:
    """MMR re-ranking over the PRODUCTION hybrid's candidates
    (hybrid_retrieval_rrf_ann: BM25 + IVF-PQ fusion) -- the last step
    of the retrieval stack with every stage scale-safe: no stage scans
    the full embedding table per query. Same greedy selection, same
    bounded per-round relations; only the candidate source differs,
    so the brute-force mmr_rerank stays as the exact-twin control."""
    return mmr_rerank(
        documents, embeddings, k, lam, _hybrid=hybrid_retrieval_rrf_ann
    )


def _build_mmr_sql(
    k: int = MMR_K, lam: float = MMR_LAMBDA, hybrid: str | None = None
) -> str:
    hybrid = hybrid or _build_hybrid_rrf_sql()
    parts = [
        f"fz AS (SELECT doc_id, rrf_score FROM ({hybrid}))",
        """er2 AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS rv,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))) AS nrm
            FROM embeddings
        )""",
        """ce AS (
            SELECT fz.doc_id, fz.rrf_score, er2.rv, er2.nrm
            FROM fz JOIN er2 ON er2.vec_id = fz.doc_id
        )""",
        """sims AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   list_dot_product(a.rv, b.rv) / (a.nrm * b.nrm) AS cos
            FROM ce a JOIN ce b ON a.doc_id <> b.doc_id
        )""",
    ]
    for i in range(1, k + 1):
        if i == 1:
            parts.append(
                f"""m1 AS (
                SELECT doc_id,
                       CAST({lam} AS DOUBLE) * rrf_score AS mmr_score
                FROM ce
            )"""
            )
        else:
            sel = " UNION ALL ".join(
                f"SELECT doc_id FROM s{j}" for j in range(1, i)
            )
            parts.append(
                f"""m{i} AS (
                SELECT c.doc_id,
                       CAST({lam} AS DOUBLE) * c.rrf_score
                       - CAST({1 - lam} AS DOUBLE) * COALESCE((
                             SELECT max(s.cos) FROM sims s
                             WHERE s.id_a = c.doc_id
                               AND s.id_b IN ({sel})
                         ), CAST(0 AS DOUBLE)) AS mmr_score
                FROM ce c WHERE c.doc_id NOT IN ({sel})
            )"""
            )
        parts.append(
            f"""s{i} AS (
            SELECT doc_id, CAST({i} AS INT) AS pick_order, mmr_score
            FROM m{i} ORDER BY mmr_score DESC, doc_id LIMIT 1
        )"""
        )
    final = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, k + 1))
    return "WITH " + ",\n".join(parts) + "\n" + final


ORACLE_SQL["mmr_rerank"] = _build_mmr_sql()
ORACLE_SQL["mmr_rerank_ann"] = _build_mmr_sql(hybrid=_build_hybrid_rrf_ann_sql())


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive training (DPR, Karpukhin et al.
# EMNLP 2020 sec 3.2; ANCE, Xiong et al. ICLR 2021): per anchor, the
# highest-ranked retrieval results that are NOT near-duplicates of it.
# ---------------------------------------------------------------------------

#: Negatives emitted per anchor, and the ANN candidate pool they are
#: drawn from (pool > k so the dup-band filter cannot starve the list).
HARD_NEG_K = 5
HARD_NEG_POOL = 20


def hard_negative_mining(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = HARD_NEG_K,
    pool: int = HARD_NEG_POOL,
    dup_tau: float = NEAR_DUP_COS,
) -> DataFrame:
    """ANCE-style hard negatives: for each anchor, rank the corpus with
    the production ANN plan (ann_ivf -- probed cells only, never a full
    scan), DROP candidates above the near-duplicate cosine band
    (cos >= dup_tau: those are positives/dups and would poison the
    contrastive loss), and keep the top-k of what remains -- maximally
    confusable true negatives. This is the retrieval-side half of the
    DPR/ANCE training loop, expressed as the existing ANN subplan + a
    band filter + a per-anchor re-rank window over <= pool rows.

    Returns (q_id, vec_id, cos, neg_rnk). Plan properties are
    ann_ivf's, unchanged (the added window runs over pool rows per
    anchor)."""
    cands = ann_ivf(embeddings, n_queries=n_queries, k=pool)
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    return (
        cands.filter(F.col("cos") < F.lit(dup_tau))
        .select("q_id", "vec_id", "cos")
        .withColumn("neg_rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("neg_rnk") <= k)
    )


ORACLE_SQL["hard_negative_mining"] = f"""
    WITH {_IVF_CTES}
    SELECT q_id, vec_id, cos,
           CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY cos DESC, vec_id
           ) AS INT) AS neg_rnk
    FROM ranked
    WHERE rnk <= {HARD_NEG_POOL} AND cos < {NEAR_DUP_COS}
    QUALIFY neg_rnk <= {HARD_NEG_K}
"""


# ---------------------------------------------------------------------------
# Binary (sign) quantization ANN: each vector compresses to DIM sign
# bits (64 dims -> two 32-bit words, 32x smaller than float32), the
# shortlist is ranked by Hamming distance -- pure integer xor/popcount,
# the cheapest possible first pass over a 100 TB embedding store -- and
# only the shortlist is reranked with exact cosine. The asymmetric
# trade (scan bits, rerank floats) is the same play as IVFADC, with an
# even smaller code and no codebook to train.
# ---------------------------------------------------------------------------

BQ_SHORTLIST = 32
BQ_K = 5


def binary_sign_codes(embeddings: DataFrame) -> DataFrame:
    """(vec_id, b0, b1): DIM sign bits packed into two 32-bit words
    (sign taken on the raw float component -- invariant under the
    double widening, so Spark and the SQL oracle agree bit-for-bit)."""

    def word(lo: int) -> F.Column:
        w = F.lit(0).cast("bigint")
        for i in range(32):
            w = w + F.when(
                F.element_at(F.col("embedding"), lo + i + 1) > 0,
                F.lit(1 << i).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        return w

    return embeddings.select(
        "vec_id", word(0).alias("b0"), word(32).alias("b1")
    )


def ann_binary(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = BQ_K,
    shortlist: int = BQ_SHORTLIST,
) -> DataFrame:
    """Approximate cosine top-k via sign codes: Hamming-rank the whole
    table against each query's code (broadcast, integer-only), keep the
    top ``shortlist``, exact-cosine rerank only those. Returns
    (q_id, vec_id, cos, rnk) -- same shape as every other ANN variant,
    so it slots into ann_recall_report."""
    codes = binary_sign_codes(embeddings)
    qc = codes.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("b0").alias("qb0"),
        F.col("b1").alias("qb1"),
    )
    ham = (
        codes.crossJoin(F.broadcast(qc))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (
                F.bit_count(F.col("b0").bitwiseXOR(F.col("qb0")))
                + F.bit_count(F.col("b1").bitwiseXOR(F.col("qb1")))
            ).alias("ham"),
        )
    )
    ws = Window.partitionBy("q_id").orderBy("ham", "vec_id")
    short = (
        ham.withColumn("srnk", F.row_number().over(ws))
        .filter(F.col("srnk") <= shortlist)
        .select("q_id", "vec_id")
    )
    e = _normed(embeddings)
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        short.join(e, "vec_id")
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id",
            "vec_id",
            (
                dot(F.col("qv"), F.col("v"))
                / (F.col("qn") * F.col("nrm"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
    )


def _bq_word_sql(lo: int) -> str:
    terms = [
        f"(CASE WHEN embedding[{lo + i + 1}] > 0 "
        f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(32)
    ]
    return "(" + " + ".join(terms) + ")"


ORACLE_SQL["ann_binary"] = f"""
    WITH bq_codes AS (
        SELECT vec_id, {_bq_word_sql(0)} AS b0, {_bq_word_sql(32)} AS b1
        FROM embeddings
    ),
    bq_q AS (
        SELECT vec_id AS q_id, b0 AS qb0, b1 AS qb1
        FROM bq_codes WHERE vec_id < 8
    ),
    bq_short AS (
        SELECT q_id, vec_id FROM (
            SELECT c.q_id, c.vec_id,
                   row_number() OVER (
                       PARTITION BY c.q_id ORDER BY c.ham, c.vec_id
                   ) AS srnk
            FROM (
                SELECT q.q_id, b.vec_id,
                       bit_count(xor(b.b0, q.qb0))
                           + bit_count(xor(b.b1, q.qb1)) AS ham
                FROM bq_codes b CROSS JOIN bq_q q
                WHERE b.vec_id <> q.q_id
            ) c
        ) WHERE srnk <= {BQ_SHORTLIST}
    ),
    bq_e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings
    ),
    bq_qv AS (
        SELECT vec_id AS q_id, v AS qv, nrm AS qn
        FROM bq_e WHERE vec_id < 8
    )
    SELECT q_id, vec_id, cos, rnk FROM (
        SELECT s.q_id, s.vec_id,
               {_COS.format(a='qv', b='v', na='qn', nb='nrm')} AS cos,
               CAST(row_number() OVER (
                   PARTITION BY s.q_id
                   ORDER BY {_COS.format(a='qv', b='v', na='qn', nb='nrm')}
                            DESC, s.vec_id
               ) AS INT) AS rnk
        FROM bq_short s
        JOIN bq_e e ON e.vec_id = s.vec_id
        JOIN bq_qv q ON q.q_id = s.q_id
    ) WHERE rnk <= {BQ_K}
"""


# ann_binary's SQL is defined above (after the first report build), so
# the recall-ladder oracle is rebuilt here to include its row.
ORACLE_SQL["ann_recall_report"] = _build_recall_report_sql()
