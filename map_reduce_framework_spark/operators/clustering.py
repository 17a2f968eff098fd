"""K-means clustering over the embeddings table (Lloyd's algorithm).

The reference has no vector surface; a 100 TB training-data pipeline
clusters embeddings constantly (corpus bucketing, IVF codebook training,
semantic dedup prefiltering). This is Lloyd's algorithm (Lloyd, IEEE
Trans. Inf. Theory 1982) expressed as pure dataflow:

* assignment = broadcast cross join of the (tiny) centroid relation
  against the vector relation + one argmin window -- at scale this is a
  map-only stage (centroids broadcast), linear in |V|;
* update = posexplode to (cluster, pos, component) + one groupBy
  aggregate -- one shuffle of k*dim*parallelism partial sums, NOT the
  raw data (map-side combine does the heavy lifting);
* iterations chain symbolically in one DataFrame plan (no driver
  collect; the plan for ``iters`` rounds is ``iters`` joined subtrees).

Cross-engine determinism (the DuckDB oracle hash-matches exactly):

* input components are fixed-point quantized to 1e-6
  (``floor(x*1e6 + 0.5)/1e6``) -- floor avoids round()'s half-up-vs-
  half-even ambiguity between engines;
* cluster means are computed as exact BIGINT sums of the recovered
  integer mantissas divided once in IEEE double (``s / (n*1e6)``):
  sums < 2^53 stay exact, the single division is correctly rounded in
  both engines, so centroids are bit-identical doubles with no decimal
  casts anywhere;
* squared L2 distance is ``dot(v,v) - 2*dot(v,c) + dot(c,c)`` with the
  same sequential left-to-right dot both sides (see functions/vector.py);
  ties break on cluster id.

Empty clusters drop out (standard Lloyd's behavior) -- both engines
simply lose that centroid row, so the plans stay aligned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vector import as_double, dot
from ..session import shuffle_partitions, stage_checkpoint

K = 8
ITERS = 2
DIM = 64
SCALE = 1_000_000


def _quantized(embeddings: DataFrame, n_parts: int) -> DataFrame:
    """(vec_id, v): components fixed-point quantized to 1/SCALE."""
    v = F.transform(
        as_double(F.col("embedding")),
        lambda x: F.floor(x * SCALE + F.lit(0.5)) / SCALE,
    )
    return embeddings.repartition(n_parts).select("vec_id", v.alias("v"))


def _assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest centroid per vector by squared L2; ties -> lowest cid."""
    dist = (
        dot(F.col("v"), F.col("v"))
        - 2 * dot(F.col("v"), F.col("cv"))
        + dot(F.col("cv"), F.col("cv"))
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    return (
        vectors.join(F.broadcast(centroids))
        .select("vec_id", "v", "cid", dist.alias("dist"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .drop("rnk")
    )


def _update(assigned: DataFrame) -> DataFrame:
    """New centroid relation (cid, cv) = component-wise mean per cluster,
    via exact integer sums (see module docstring)."""
    mantissa = F.floor(F.col("x") * SCALE + F.lit(0.5)).cast("bigint")
    sums = (
        assigned.select("vec_id", "cid", F.posexplode("v").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(F.sum(mantissa).alias("s"), F.count("*").alias("n"))
    )
    mean = F.col("s") / (F.col("n") * F.lit(float(SCALE)))
    return (
        sums.select("cid", "pos", mean.alias("m"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda st: st["m"],
            ).alias("cv")
        )
    )


def kmeans_lloyd(
    embeddings: DataFrame, k: int = K, iters: int = ITERS
) -> DataFrame:
    """``iters`` Lloyd rounds from deterministic seeds (vec_id < k), then
    a final assignment pass. Returns (vec_id, cluster, dist)."""
    n_parts = shuffle_partitions(embeddings)
    vectors = _quantized(embeddings, n_parts)
    cents = vectors.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("v").alias("cv")
    )
    for _ in range(iters):
        cents = _update(_assign(vectors, cents))
    cents = stage_checkpoint(cents)
    final = _assign(vectors, cents)
    return final.select(
        "vec_id", F.col("cid").alias("cluster"), F.col("dist").alias("dist")
    )


def kmeans_cluster_sizes(embeddings: DataFrame) -> DataFrame:
    """Cluster cardinality + mean squared distance (inertia per cluster) --
    the compact summary a codebook-training job reports."""
    a = kmeans_lloyd(embeddings)
    return (
        a.groupBy("cluster")
        .agg(
            F.count("*").alias("n_vectors"),
            (
                F.sum(F.floor(F.col("dist") * SCALE + F.lit(0.5)).cast("bigint"))
                / (F.count("*") * F.lit(float(SCALE)))
            ).alias("mean_sq_dist"),
        )
    )


def embedding_dim_stats(embeddings: DataFrame) -> DataFrame:
    """Per-dimension corpus statistics (mean/var/min/max) -- the
    normalization precursor every embedding pipeline computes before
    whitening, outlier clipping, or quantizer training. One posexplode +
    one groupBy on dimension index: at 100 TB this shuffles DIM partial
    aggregates per input partition (map-side combined), never the vectors.

    Mean and E[x^2] go through the integer-mantissa trick (scales 1e6 /
    1e12); variance = E[x^2] - mean^2 evaluated in that exact expression
    order both engines. The per-row mantissas are BIGINT but the SUMS
    accumulate as DECIMAL(38,0) (DuckDB: native HUGEINT): a bigint sum of
    1e12-scaled squares wraps silently past ~9.2M magnitude-1 rows, far
    below the 100 TB target; 38 digits cover ~1e26 rows. The final
    decimal->double conversion is correctly rounded in both engines (the
    sums are integers -- no fractional-decimal ulp trap)."""
    x = F.col("x")
    xi = F.floor(x * SCALE + F.lit(0.5)).cast("bigint")
    x2i = F.floor(x * x * F.lit(1e12) + F.lit(0.5)).cast("bigint")
    mean = F.col("s") / (F.col("n") * F.lit(float(SCALE)))
    ex2 = F.col("s2") / (F.col("n") * F.lit(1e12))
    return (
        embeddings.select(
            F.posexplode(as_double(F.col("embedding"))).alias("pos", "x")
        )
        .groupBy("pos")
        .agg(
            F.count("*").alias("n"),
            F.sum(xi.cast("decimal(38,0)")).alias("s"),
            F.sum(x2i.cast("decimal(38,0)")).alias("s2"),
            F.min("x").alias("mn"),
            F.max("x").alias("mx"),
        )
        .select(
            "pos",
            "n",
            mean.alias("mean"),
            (ex2 - mean * mean).alias("var"),
            F.col("mn").alias("min_x"),
            F.col("mx").alias("max_x"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (Jegou/Douze/Schmid, TPAMI 2011): compress each
# vector to M subspace codes; approximate distances by summing per-
# subspace lookup distances (ADC). The 100 TB ANN recipe is IVF (see
# operators/similarity.py ann_ivf) + PQ: the codes table is ~64x smaller
# than the raw vectors and the ADC scan never touches them.
# ---------------------------------------------------------------------------

M_SUB = 8  # subspaces of DIM/M_SUB = 8 dims each
K_CODES = 16  # codewords per subspace (deterministic: vec_id < 16)
N_PQ_QUERIES = 8
PQ_TOPK = 10


def _subvectors(vectors: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(id, m, sub): explode each vector into its M_SUB subvectors."""
    d = DIM // M_SUB
    subs = F.array(
        *[F.slice(F.col("v"), m * d + 1, d) for m in range(M_SUB)]
    )
    return vectors.select(
        id_col, F.posexplode(subs).alias("m", "sub")
    )


def _sqdist(a, b):
    return dot(a, a) - 2 * dot(a, b) + dot(b, b)


def pq_codes(embeddings: DataFrame) -> DataFrame:
    """Encode every vector as M_SUB codes: per subspace, the codeword
    (subvector of the first K_CODES vectors) with minimum squared L2.

    Plan shape: broadcast the (K_CODES * M_SUB)-row codebook against the
    exploded subvector relation, window-argmin per (vec_id, subspace),
    regroup to one codes array per vector -- two narrow shuffles keyed by
    vec_id, linear in |V|, nothing pairwise."""
    n_parts = shuffle_partitions(embeddings)
    vectors = embeddings.repartition(n_parts).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    cb = (
        _subvectors(vectors.filter(F.col("vec_id") < K_CODES))
        .select(
            F.col("m").alias("cb_m"),
            F.col("vec_id").cast("int").alias("code"),
            F.col("sub").alias("cw"),
        )
    )
    w = Window.partitionBy("vec_id", "m").orderBy("dist", "code")
    return (
        _subvectors(vectors)
        .join(F.broadcast(cb), F.col("m") == F.col("cb_m"))
        .select(
            "vec_id",
            "m",
            "code",
            _sqdist(F.col("sub"), F.col("cw")).alias("dist"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "code"))),
                lambda st: st["code"],
            ).alias("codes")
        )
    )


def pq_adc_topk(
    embeddings: DataFrame,
    n_queries: int = N_PQ_QUERIES,
    k: int = PQ_TOPK,
) -> DataFrame:
    """Asymmetric-distance top-k: exact query subvectors against the PQ
    codes of the corpus. adc = sum over subspaces of ||q_sub - cw[code]||^2,
    with each term fixed-point quantized to 1e-12 and summed as exact
    BIGINTs (the DECIMAL route is NOT cross-engine-safe here: DuckDB's
    DECIMAL(28,15)->DOUBLE cast is off by one ulp from Spark's for full-
    mantissa values; integer sums + one IEEE division are bit-identical).

    At scale the per-(query, subspace, codeword) distance table is
    n_queries * M_SUB * K_CODES rows -- broadcast it against the codes
    relation; the scan is linear in |codes| and touches no raw vectors."""
    n_parts = shuffle_partitions(embeddings)
    vectors = embeddings.repartition(n_parts).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    cb = (
        _subvectors(vectors.filter(F.col("vec_id") < K_CODES))
        .select(
            F.col("m").alias("cb_m"),
            F.col("vec_id").cast("int").alias("code"),
            F.col("sub").alias("cw"),
        )
    )
    # per-query lookup table: distance from each query subvector to each
    # codeword (tiny: n_queries * M_SUB * K_CODES rows)
    lut = (
        _subvectors(
            vectors.filter(F.col("vec_id") < n_queries).select(
                F.col("vec_id").alias("q_id"), "v"
            ),
            id_col="q_id",
        )
        .select(F.col("q_id"), F.col("m").alias("q_m"), F.col("sub").alias("qsub"))
        .join(F.broadcast(cb), F.col("q_m") == F.col("cb_m"))
        .select(
            "q_id",
            F.col("q_m").alias("m"),
            "code",
            _sqdist(F.col("qsub"), F.col("cw")).alias("d"),
        )
    )
    codes = pq_codes(embeddings).select(
        "vec_id", F.posexplode("codes").alias("m", "code")
    )
    w = Window.partitionBy("q_id").orderBy("adc", "vec_id")
    return (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("q_id") != F.col("vec_id"))
        .groupBy("q_id", "vec_id")
        .agg(
            (
                F.sum(
                    F.floor(F.col("d") * F.lit(1e12) + F.lit(0.5)).cast(
                        "bigint"
                    )
                )
                / F.lit(1e12)
            ).alias("adc")
        )
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("q_id", "vec_id", "adc", "rnk")
    )


def _train_codebook(subs: DataFrame, cb: DataFrame) -> DataFrame:
    """One Lloyd update of a PQ codebook, all subspaces at once (the
    subspace index m is a key column, so one assignment join + one mean
    aggregate trains every subspace codebook simultaneously). Input
    subvectors must be fixed-point quantized so the means are exact
    integer sums (same discipline as kmeans_lloyd)."""
    d = DIM // M_SUB
    w = Window.partitionBy("vec_id", "m").orderBy("dist", "code")
    assigned = (
        subs.join(F.broadcast(cb), F.col("m") == F.col("cb_m"))
        .select(
            "vec_id",
            "m",
            "code",
            "sub",
            _sqdist(F.col("sub"), F.col("cw")).alias("dist"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
    )
    mantissa = F.floor(F.col("x") * SCALE + F.lit(0.5)).cast("bigint")
    sums = (
        assigned.select("m", "code", F.posexplode("sub").alias("pos", "x"))
        .groupBy("m", "code", "pos")
        .agg(F.sum(mantissa).alias("s"), F.count("*").alias("n"))
    )
    mean = F.col("s") / (F.col("n") * F.lit(float(SCALE)))
    return (
        sums.select("m", "code", "pos", mean.alias("mv"))
        .groupBy("m", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                lambda st: st["mv"],
            ).alias("cw")
        )
        .select(F.col("m").alias("cb_m"), "code", "cw")
    )


def pq_codes_trained(embeddings: DataFrame, iters: int = 1) -> DataFrame:
    """PQ encoding against a k-means-TRAINED codebook: seed with the
    first-K_CODES subvectors, run ``iters`` Lloyd updates per subspace
    (one joint dataflow -- subspace is a key, not a loop), then encode.
    Lloyd's descent guarantees total quantization distortion is
    non-increasing vs the untrained codebook (pinned in tests). Input
    vectors are fixed-point quantized so the trained centroids are
    bit-identical cross-engine."""
    n_parts = shuffle_partitions(embeddings)
    vectors = _quantized(embeddings, n_parts)
    subs = _subvectors(vectors)
    cb = subs.filter(F.col("vec_id") < K_CODES).select(
        F.col("m").alias("cb_m"),
        F.col("vec_id").cast("int").alias("code"),
        F.col("sub").alias("cw"),
    )
    # NOT checkpointed (r12, measured): at iters=1 the training pass and
    # the final encode SHARE the subvector repartition exchange within
    # one action (ReuseExchange); a checkpoint boundary splits them into
    # separate jobs that each pay the exchange -- 2.6 s -> 4.6 s at
    # sf0.1. Deep loops (kmeans_lloyd, ann_ivf_trained) go the other
    # way; see their post-loop centroid checkpoints (one truncation
    # after the whole Lloyd loop, not one per round).
    for _ in range(iters):
        cb = _train_codebook(subs, cb)
    w = Window.partitionBy("vec_id", "m").orderBy("dist", "code")
    return (
        subs.join(F.broadcast(cb), F.col("m") == F.col("cb_m"))
        .select(
            "vec_id",
            "m",
            "code",
            _sqdist(F.col("sub"), F.col("cw")).alias("dist"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "code"))),
                lambda st: st["code"],
            ).alias("codes"),
            (
                F.sum(
                    F.floor(F.col("dist") * F.lit(1e12) + F.lit(0.5)).cast(
                        "bigint"
                    )
                )
                / F.lit(1e12)
            ).alias("distortion"),
        )
    )


def embedding_whitening(embeddings: DataFrame) -> DataFrame:
    """Apply the standardization that ``embedding_dim_stats`` computes:
    z = (x - mean) / sqrt(var) per (vector, dimension), long form. The
    normalize-before-index step of every embedding pipeline.

    Plan shape: the stats relation is DIM rows -- broadcast; the apply
    side is one posexplode projection, so the whole transform is
    map-only after the (tiny) stats aggregation. Determinism: mean/var
    are exact (integer-mantissa sums), and subtract/divide/sqrt are
    single IEEE ops evaluated in the same order both engines."""
    stats = embedding_dim_stats(embeddings).select("pos", "mean", "var")
    x = embeddings.select(
        "vec_id",
        F.posexplode(as_double(F.col("embedding"))).alias("pos", "x"),
    )
    z = F.when(
        F.col("var") > 0,
        (F.col("x") - F.col("mean")) / F.sqrt(F.col("var")),
    ).otherwise(F.lit(0.0))
    return x.join(F.broadcast(stats), "pos").select(
        "vec_id", "pos", z.alias("z")
    )


def serialize_codes(df: DataFrame) -> DataFrame:
    """Registered/exported form of a PQ-codes relation: the ``codes``
    int array is joined to a comma-separated string so the output schema
    is atomic (hashable by pandas-based comparators, writable to CSV-ish
    sinks). Internal consumers (``pq_adc_topk``, ``ann_ivf_pq``) keep the
    array form and ``posexplode`` it."""
    return df.select(
        *[
            F.array_join(
                F.transform(c, lambda x: x.cast("string")), ","
            ).alias(c)
            if c == "codes"
            else F.col(c)
            for c in df.columns
        ]
    )


N_CELLS = 16
N_PROBE = 4


#: Probed cells per query for the trained-centroid IVF (of K=8 cells:
#: scan fraction = 2/8 = 25%, matching ann_ivf's n_probe/n_centroids).
T_PROBE = 2


def ann_ivf_trained(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_probe: int = T_PROBE,
) -> DataFrame:
    """IVF ANN over TRAINED centroids -- the declared 100 TB coarse
    quantizer: ``similarity.ann_ivf`` uses the first N vectors as cells
    (deterministic but arbitrary); this variant runs the exact-arithmetic
    Lloyd loop (same quantized-mantissa discipline as ``kmeans_lloyd``,
    so the oracle unrolls it as chained CTEs) and partitions the corpus
    by the LEARNED cells. Cell assignment and probe ranking use squared
    L2 in the quantized space (consistent with training); final scoring
    is exact cosine over the raw vectors, identical to every other ANN
    variant so ``ann_recall_report`` compares like with like.

    Honesty note on this corpus: the synthetic embeddings are
    near-uniform, so learned cells have nothing to learn -- the recall
    report measures 0.90 here vs 0.925 for the arbitrary first-N
    quantizer at the same 25% scan fraction (8 cells/2 probes vs
    16/4). On a real clustered corpus the learned quantizer is the one
    that holds up; what this variant contributes NOW is the full
    trained-coarse-quantizer pipeline with exact-arithmetic training
    that the oracle can unroll and hash-check end to end."""
    n_parts = shuffle_partitions(embeddings)
    vectors = _quantized(embeddings, n_parts)
    cents = vectors.filter(F.col("vec_id") < K).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("v").alias("cv")
    )
    for _ in range(ITERS):
        cents = _update(_assign(vectors, cents))
    cents = stage_checkpoint(cents)
    cells = _assign(vectors, cents).select("vec_id", "cid")
    dist = (
        dot(F.col("v"), F.col("v"))
        - 2 * dot(F.col("v"), F.col("cv"))
        + dot(F.col("cv"), F.col("cv"))
    )
    wq = Window.partitionBy("q_id").orderBy("dist", "cid")
    probes = (
        vectors.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("q_id"), "v")
        .join(F.broadcast(cents))
        .select("q_id", "cid", dist.alias("dist"))
        .withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= n_probe)
        .select("q_id", "cid")
    )
    candidates = (
        cells.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    raw = as_double(F.col("embedding"))
    er = embeddings.repartition(n_parts).select(
        "vec_id", raw.alias("rv"), F.sqrt(dot(raw, raw)).alias("nrm")
    )
    scored = (
        candidates.join(er, "vec_id")
        .join(
            F.broadcast(
                er.filter(F.col("vec_id") < n_queries).select(
                    F.col("vec_id").alias("q_id"),
                    F.col("rv").alias("qv"),
                    F.col("nrm").alias("qn"),
                )
            ),
            "q_id",
        )
        .select(
            "q_id",
            "vec_id",
            (dot(F.col("qv"), F.col("rv")) / (F.col("qn") * F.col("nrm"))).alias(
                "cos"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
    )


def ann_ivf_pq(
    embeddings: DataFrame,
    n_queries: int = N_PQ_QUERIES,
    k: int = PQ_TOPK,
) -> DataFrame:
    """IVF-PQ: the 100 TB ANN recipe (Jegou et al., TPAMI 2011). The
    corpus is bucketed into N_CELLS coarse cells (nearest of 16
    deterministic centroids); a query probes its N_PROBE nearest cells
    and ranks ONLY those cells' vectors, by ADC over their PQ codes --
    so the scan touches ~N_PROBE/N_CELLS of the codes relation and zero
    raw vectors. This variant skips residual encoding (IVFADC encodes
    residuals; same dataflow, different codebook inputs).

    Every join broadcasts a tiny relation (centroids, codebook, query
    LUT, probe list); the only large relation is the codes table,
    scanned once. Recall < pq_adc_topk's (probing misses cells) which is
    itself < exact -- the recall ladder is pinned in tests."""
    n_parts = shuffle_partitions(embeddings)
    vectors = embeddings.repartition(n_parts).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    cents = vectors.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").cast("int").alias("cell"), F.col("v").alias("cv")
    )
    celld = _sqdist(F.col("v"), F.col("cv")).alias("cdist")
    wcell = Window.partitionBy("vec_id").orderBy("cdist", "cell")
    cells = (
        vectors.join(F.broadcast(cents))
        .select("vec_id", "cell", celld)
        .withColumn("rnk", F.row_number().over(wcell))
        .filter(F.col("rnk") == 1)
        .select("vec_id", "cell")
    )
    wprobe = Window.partitionBy("q_id").orderBy("cdist", "cell")
    probes = (
        vectors.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("q_id"), "v")
        .join(F.broadcast(cents))
        .select("q_id", "cell", celld)
        .withColumn("rnk", F.row_number().over(wprobe))
        .filter(F.col("rnk") <= N_PROBE)
        .select("q_id", "cell")
    )
    cb = _subvectors(vectors.filter(F.col("vec_id") < K_CODES)).select(
        F.col("m").alias("cb_m"),
        F.col("vec_id").cast("int").alias("code"),
        F.col("sub").alias("cw"),
    )
    lut = (
        _subvectors(
            vectors.filter(F.col("vec_id") < n_queries).select(
                F.col("vec_id").alias("q_id"), "v"
            ),
            id_col="q_id",
        )
        .select(F.col("q_id"), F.col("m").alias("q_m"), F.col("sub").alias("qsub"))
        .join(F.broadcast(cb), F.col("q_m") == F.col("cb_m"))
        .select(
            "q_id",
            F.col("q_m").alias("m"),
            "code",
            _sqdist(F.col("qsub"), F.col("cw")).alias("d"),
        )
    )
    codes = pq_codes(embeddings).select(
        "vec_id", F.posexplode("codes").alias("m", "code")
    )
    cand = codes.join(cells, "vec_id").join(
        F.broadcast(probes), "cell"
    )
    w = Window.partitionBy("q_id").orderBy("adc", "vec_id")
    return (
        cand.join(F.broadcast(lut), ["q_id", "m", "code"])
        .filter(F.col("q_id") != F.col("vec_id"))
        .groupBy("q_id", "vec_id")
        .agg(
            (
                F.sum(
                    F.floor(F.col("d") * F.lit(1e12) + F.lit(0.5)).cast(
                        "bigint"
                    )
                )
                / F.lit(1e12)
            ).alias("adc")
        )
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("q_id", "vec_id", "adc", "rnk")
    )


def ann_ivfadc(
    embeddings: DataFrame,
    n_queries: int = N_PQ_QUERIES,
    k: int = PQ_TOPK,
) -> DataFrame:
    """IVFADC proper (Jegou et al., TPAMI 2011, Fig. 5): the RESIDUAL-
    encoded variant ann_ivf_pq's docstring points at. Vectors are
    assigned to coarse cells and the PQ codes encode the residual
    v - centroid(cell) rather than the raw vector; at query time each
    probed cell gets its own lookup table built from the query's
    residual against THAT cell's centroid. On clustered corpora with
    k-means-trained codebooks residuals concentrate near the origin and
    the same codebook budget quantizes them finer (the paper's result);
    on this repo's deliberately isotropic synthetic embeddings with the
    deterministic first-K_CODES codebook the advantage does NOT
    materialize (recall 0.275 vs ann_ivf_pq's 0.3625 at sf0.001) --
    both numbers are pinned side by side in ann_recall_report so the
    trade-off is measured, not asserted.

    Plan shape is ann_ivf_pq's: every query-path relation broadcasts
    (centroids; per-(query, probed-cell) LUT = n_queries * N_PROBE *
    M_SUB * K_CODES rows); the one large relation is the residual-codes
    table, scanned once and pre-filtered to probed cells. Codebook
    convention matches the repo's deterministic choice: codewords are
    the residual subvectors of the first K_CODES vectors."""
    n_parts = shuffle_partitions(embeddings)
    d = DIM // M_SUB
    vectors = embeddings.repartition(n_parts).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    cents = vectors.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").cast("int").alias("cell"), F.col("v").alias("cv")
    )
    celld = _sqdist(F.col("v"), F.col("cv")).alias("cdist")
    wcell = Window.partitionBy("vec_id").orderBy("cdist", "cell")
    # cell assignment, centroid kept for the residual
    res = (
        vectors.join(F.broadcast(cents))
        .select("vec_id", "v", "cell", "cv", celld)
        .withColumn("rnk", F.row_number().over(wcell))
        .filter(F.col("rnk") == 1)
        .select(
            "vec_id",
            "cell",
            F.zip_with("v", "cv", lambda a, b: a - b).alias("r"),
        )
    )
    rsub = F.array(*[F.slice(F.col("r"), m * d + 1, d) for m in range(M_SUB)])
    rsubs = res.select(
        "vec_id", "cell", F.posexplode(rsub).alias("m", "sub")
    )
    rcb = rsubs.filter(F.col("vec_id") < K_CODES).select(
        F.col("m").alias("cb_m"),
        F.col("vec_id").cast("int").alias("code"),
        F.col("sub").alias("cw"),
    )
    wcode = Window.partitionBy("vec_id", "m").orderBy("dist", "code")
    rcodes = (
        rsubs.join(F.broadcast(rcb), F.col("m") == F.col("cb_m"))
        .select(
            "vec_id",
            "cell",
            "m",
            "code",
            _sqdist(F.col("sub"), F.col("cw")).alias("dist"),
        )
        .withColumn("rnk", F.row_number().over(wcode))
        .filter(F.col("rnk") == 1)
        .select("vec_id", "cell", "m", "code")
    )
    # query side: probe N_PROBE cells, one residual LUT per (q, cell)
    wprobe = Window.partitionBy("q_id").orderBy("cdist", "cell")
    probes = (
        vectors.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("q_id"), "v")
        .join(F.broadcast(cents))
        .select("q_id", "v", "cell", "cv", celld)
        .withColumn("rnk", F.row_number().over(wprobe))
        .filter(F.col("rnk") <= N_PROBE)
        .select(
            "q_id",
            "cell",
            F.zip_with("v", "cv", lambda a, b: a - b).alias("qr"),
        )
    )
    qsub = F.array(
        *[F.slice(F.col("qr"), m * d + 1, d) for m in range(M_SUB)]
    )
    lut = (
        probes.select("q_id", "cell", F.posexplode(qsub).alias("m", "qsub"))
        .join(F.broadcast(rcb), F.col("m") == F.col("cb_m"))
        .select(
            "q_id",
            "cell",
            "m",
            "code",
            _sqdist(F.col("qsub"), F.col("cw")).alias("d"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("adc", "vec_id")
    return (
        rcodes.join(F.broadcast(lut), ["cell", "m", "code"])
        .filter(F.col("q_id") != F.col("vec_id"))
        .groupBy("q_id", "vec_id")
        .agg(
            (
                F.sum(
                    F.floor(F.col("d") * F.lit(1e12) + F.lit(0.5)).cast(
                        "bigint"
                    )
                )
                / F.lit(1e12)
            ).alias("adc")
        )
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("q_id", "vec_id", "adc", "rnk")
    )


# ---------------------------------------------------------------------------
# DuckDB oracles: the same computation unrolled as chained CTEs.
# ---------------------------------------------------------------------------

def _e_cte(src: str = "embeddings") -> str:
    """Quantized-vector CTE over any (vec_id, embedding) relation --
    parameterized so derived embedding sources (doc_hash_embeddings)
    reuse the identical k-means oracle machinery."""
    return f"""
        e AS (
            SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> floor(x*{SCALE} + 0.5)/{SCALE}) AS v
            FROM {src}
        )"""


_E = _e_cte()

_DIST = (
    "list_dot_product({v}, {v}) - 2*list_dot_product({v}, {c})"
    " + list_dot_product({c}, {c})"
)


def _assign_cte(name: str, cents: str) -> str:
    d = _DIST.format(v="e.v", c="c.cv")
    return f"""
        {name}_all AS (
            SELECT e.vec_id, e.v, c.cid, {d} AS dist,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {d}, c.cid
                   ) AS rnk
            FROM e CROSS JOIN {cents} c
        ),
        {name} AS (SELECT vec_id, v, cid, dist FROM {name}_all WHERE rnk = 1)"""


def _update_cte(name: str, assigned: str) -> str:
    return f"""
        {name}_sums AS (
            SELECT cid, pos, CAST(sum(xi) AS BIGINT) AS s, count(*) AS n
            FROM (
                SELECT cid,
                       unnest(list_transform(range(1, {DIM}+1),
                              i -> {{'pos': i,
                                     'xi': CAST(floor(v[i]*{SCALE} + 0.5) AS BIGINT)}}),
                              recursive := true)
                FROM {assigned}
            )
            GROUP BY cid, pos
        ),
        {name} AS (
            SELECT cid, list(s / (n * {SCALE}.0) ORDER BY pos) AS cv
            FROM {name}_sums GROUP BY cid
        )"""


def _kmeans_ctes(
    src: str = "embeddings", prelude: str = "", k: int = K
) -> str:
    parts = ([prelude] if prelude else []) + [
        _e_cte(src),
        "c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv"
        f" FROM e WHERE vec_id < {k})",
    ]
    cents = "c0"
    for it in range(ITERS):
        parts.append(_assign_cte(f"a{it}", cents))
        parts.append(_update_cte(f"c{it + 1}", f"a{it}"))
        cents = f"c{it + 1}"
    parts.append(_assign_cte("afinal", cents))
    return "WITH " + ",".join(parts)


_D_SUB = DIM // M_SUB

_PQ_DIST = _DIST.format(v="s.sub", c="c.cw")

_PQ_BASE = f"""
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
        subs AS (
            SELECT vec_id,
                   unnest(list_transform(range(0, {M_SUB}),
                          m -> {{'m': m,
                                 'sub': v[m*{_D_SUB}+1 : m*{_D_SUB}+{_D_SUB}]}}),
                          recursive := true)
            FROM e
        ),
        cb AS (
            SELECT m AS cb_m, CAST(vec_id AS INT) AS code, sub AS cw
            FROM subs WHERE vec_id < {K_CODES}
        ),
        dists AS (
            SELECT s.vec_id, s.m, c.code, {_PQ_DIST} AS dist,
                   row_number() OVER (
                       PARTITION BY s.vec_id, s.m
                       ORDER BY {_PQ_DIST}, c.code
                   ) AS rnk
            FROM subs s JOIN cb c ON s.m = c.cb_m
        ),
        codes AS (
            SELECT vec_id, list(code ORDER BY m) AS codes
            FROM dists WHERE rnk = 1 GROUP BY vec_id
        )"""

_SUBDIST = (
    "list_dot_product({s}, {s}) - 2*list_dot_product({s}, {c})"
    " + list_dot_product({c}, {c})"
)

_PQT_ASSIGN = f"""
            SELECT s.vec_id, s.m, c.code, s.sub,
                   {_SUBDIST.format(s='s.sub', c='c.cw')} AS dist,
                   row_number() OVER (
                       PARTITION BY s.vec_id, s.m
                       ORDER BY {_SUBDIST.format(s='s.sub', c='c.cw')}, c.code
                   ) AS rnk
            FROM subsq s JOIN {{cb}} c ON s.m = c.cb_m"""

ORACLE_SQL: dict[str, str] = {
    "pq_codes_trained": f"""
        WITH eq AS (
            SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> floor(x*{SCALE} + 0.5)/{SCALE}) AS v
            FROM embeddings
        ),
        subsq AS (
            SELECT vec_id,
                   unnest(list_transform(range(0, {M_SUB}),
                          m -> {{'m': m,
                                 'sub': v[m*{_D_SUB}+1 : m*{_D_SUB}+{_D_SUB}]}}),
                          recursive := true)
            FROM eq
        ),
        cbq0 AS (
            SELECT m AS cb_m, CAST(vec_id AS INT) AS code, sub AS cw
            FROM subsq WHERE vec_id < {K_CODES}
        ),
        a0 AS (
            SELECT vec_id, m, code, sub FROM (
                {_PQT_ASSIGN.format(cb='cbq0')}
            ) WHERE rnk = 1
        ),
        s0 AS (
            SELECT m, code, pos, CAST(sum(xi) AS BIGINT) AS s,
                   count(*) AS n
            FROM (
                SELECT m, code,
                       unnest(list_transform(range(1, {_D_SUB}+1),
                              i -> {{'pos': i,
                                     'xi': CAST(floor(sub[i]*{SCALE} + 0.5)
                                                AS BIGINT)}}),
                              recursive := true)
                FROM a0
            ) GROUP BY m, code, pos
        ),
        cbq1 AS (
            SELECT m AS cb_m, code,
                   list(s / (n * {SCALE}.0) ORDER BY pos) AS cw
            FROM s0 GROUP BY m, code
        ),
        afin AS (
            SELECT vec_id, m, code, dist FROM (
                {_PQT_ASSIGN.format(cb='cbq1')}
            ) WHERE rnk = 1
        )
        SELECT vec_id,
               array_to_string(list(code ORDER BY m), ',') AS codes,
               CAST(sum(CAST(floor(dist*1000000000000.0 + 0.5) AS BIGINT))
                    AS BIGINT) / 1000000000000.0 AS distortion
        FROM afin GROUP BY vec_id
    """,
    "embedding_dim_stats": f"""
        WITH x AS (
            SELECT unnest(list_transform(
                       range(1, {DIM}+1),
                       i -> {{'pos': i-1,
                              'x': CAST(embedding AS DOUBLE[])[i]}}),
                       recursive := true)
            FROM embeddings
        ),
        agg AS (
            SELECT pos, count(*) AS n,
                   sum(CAST(floor(x*{SCALE} + 0.5) AS BIGINT)) AS s,
                   sum(CAST(floor(x*x*1000000000000.0 + 0.5) AS BIGINT))
                       AS s2,
                   min(x) AS mn, max(x) AS mx
            FROM x GROUP BY pos
        )
        SELECT pos, n,
               s / (n * {SCALE}.0) AS mean,
               s2 / (n * 1000000000000.0)
                   - (s / (n * {SCALE}.0)) * (s / (n * {SCALE}.0)) AS var,
               mn AS min_x, mx AS max_x
        FROM agg
    """,
    "pq_codes": f"""
        WITH {_PQ_BASE}
        SELECT vec_id, array_to_string(codes, ',') AS codes FROM codes
    """,
    "embedding_whitening": f"""
        WITH x AS (
            SELECT vec_id,
                   unnest(list_transform(
                       range(1, {DIM}+1),
                       i -> {{'pos': i-1,
                              'x': CAST(embedding AS DOUBLE[])[i]}}),
                       recursive := true)
            FROM embeddings
        ),
        agg AS (
            SELECT pos, count(*) AS n,
                   sum(CAST(floor(x*{SCALE} + 0.5) AS BIGINT)) AS s,
                   sum(CAST(floor(x*x*1000000000000.0 + 0.5) AS BIGINT))
                       AS s2
            FROM x GROUP BY pos
        ),
        stats AS (
            SELECT pos,
                   s / (n * {SCALE}.0) AS mean,
                   s2 / (n * 1000000000000.0)
                       - (s / (n * {SCALE}.0)) * (s / (n * {SCALE}.0))
                       AS var
            FROM agg
        )
        SELECT x.vec_id, x.pos,
               CASE WHEN st.var > 0
                    THEN (x.x - st.mean) / sqrt(st.var)
                    ELSE 0.0 END AS z
        FROM x JOIN stats st USING (pos)
    """,
    "ann_ivf_pq": f"""
        WITH {_PQ_BASE},
        cents AS (
            SELECT CAST(vec_id AS INT) AS cell, v AS cv
            FROM e WHERE vec_id < {N_CELLS}
        ),
        cells AS (
            SELECT vec_id, cell FROM (
                SELECT e.vec_id, c.cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_DIST.format(v='e.v', c='c.cv')}, c.cell
                       ) AS rnk
                FROM e CROSS JOIN cents c
            ) WHERE rnk = 1
        ),
        probes AS (
            SELECT q_id, cell FROM (
                SELECT e.vec_id AS q_id, c.cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_DIST.format(v='e.v', c='c.cv')}, c.cell
                       ) AS rnk
                FROM e CROSS JOIN cents c
                WHERE e.vec_id < {N_PQ_QUERIES}
            ) WHERE rnk <= {N_PROBE}
        ),
        lut AS (
            SELECT s.vec_id AS q_id, s.m, c.code, {_PQ_DIST} AS d
            FROM subs s JOIN cb c ON s.m = c.cb_m
            WHERE s.vec_id < {N_PQ_QUERIES}
        ),
        ex AS (
            SELECT vec_id,
                   unnest(list_transform(range(1, {M_SUB}+1),
                          i -> {{'m': i-1, 'code': codes[i]}}),
                          recursive := true)
            FROM codes
        ),
        adc AS (
            SELECT l.q_id, x.vec_id,
                   CAST(sum(CAST(floor(l.d * 1000000000000.0 + 0.5)
                                 AS BIGINT)) AS BIGINT)
                       / 1000000000000.0 AS adc
            FROM ex x
            JOIN cells ce ON x.vec_id = ce.vec_id
            JOIN probes p ON ce.cell = p.cell
            JOIN lut l ON x.m = l.m AND x.code = l.code
                       AND l.q_id = p.q_id
            WHERE l.q_id <> x.vec_id
            GROUP BY 1, 2
        )
        SELECT q_id, vec_id, adc, rnk FROM (
            SELECT q_id, vec_id, adc,
                   CAST(row_number() OVER (
                       PARTITION BY q_id ORDER BY adc, vec_id
                   ) AS INT) AS rnk
            FROM adc
        ) WHERE rnk <= {PQ_TOPK}
    """,
    "pq_adc_topk": f"""
        WITH {_PQ_BASE},
        lut AS (
            SELECT s.vec_id AS q_id, s.m, c.code, {_PQ_DIST} AS d
            FROM subs s JOIN cb c ON s.m = c.cb_m
            WHERE s.vec_id < {N_PQ_QUERIES}
        ),
        ex AS (
            SELECT vec_id,
                   unnest(list_transform(range(1, {M_SUB}+1),
                          i -> {{'m': i-1, 'code': codes[i]}}),
                          recursive := true)
            FROM codes
        ),
        adc AS (
            SELECT l.q_id, x.vec_id,
                   CAST(sum(CAST(floor(l.d * 1000000000000.0 + 0.5)
                                 AS BIGINT)) AS BIGINT)
                       / 1000000000000.0 AS adc
            FROM ex x JOIN lut l ON x.m = l.m AND x.code = l.code
            WHERE l.q_id <> x.vec_id
            GROUP BY 1, 2
        )
        SELECT q_id, vec_id, adc, rnk FROM (
            SELECT q_id, vec_id, adc,
                   CAST(row_number() OVER (
                       PARTITION BY q_id ORDER BY adc, vec_id
                   ) AS INT) AS rnk
            FROM adc
        ) WHERE rnk <= {PQ_TOPK}
    """,
    "kmeans_clusters": f"""
        {_kmeans_ctes()}
        SELECT vec_id, cid AS cluster, dist FROM afinal
    """,
    "kmeans_cluster_sizes": f"""
        {_kmeans_ctes()}
        SELECT cid AS cluster, count(*) AS n_vectors,
               CAST(sum(CAST(floor(dist*{SCALE} + 0.5) AS BIGINT)) AS BIGINT)
                   / (count(*) * {SCALE}.0) AS mean_sq_dist
        FROM afinal GROUP BY cid
    """,
}


ORACLE_SQL["ann_ivf_trained"] = f"""
    {_kmeans_ctes()},
    cells AS (SELECT vec_id, cid FROM afinal),
    probes AS (
        SELECT q_id, cid FROM (
            SELECT e.vec_id AS q_id, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_DIST.format(v='e.v', c='c.cv')}, c.cid
                   ) AS rnk
            FROM e CROSS JOIN c{ITERS} c WHERE e.vec_id < 8
        ) WHERE rnk <= {T_PROBE}
    ),
    er AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS rv,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings
    ),
    cand AS (
        SELECT DISTINCT p.q_id, cl.vec_id
        FROM cells cl JOIN probes p ON cl.cid = p.cid
        WHERE cl.vec_id <> p.q_id
    ),
    scored AS (
        SELECT c.q_id, c.vec_id,
               list_dot_product(qe.rv, ce.rv) / (qe.nrm * ce.nrm) AS cos
        FROM cand c
        JOIN er ce ON ce.vec_id = c.vec_id
        JOIN er qe ON qe.vec_id = c.q_id
    ),
    ranked AS (
        SELECT q_id, vec_id, cos,
               CAST(row_number() OVER (
                   PARTITION BY q_id ORDER BY cos DESC, vec_id
               ) AS INT) AS rnk
        FROM scored
    )
    SELECT * FROM ranked WHERE rnk <= 5
"""


_RESID = f"list_transform(range(1, {DIM}+1), i -> {{v}}[i] - {{c}}[i])"

ORACLE_SQL["ann_ivfadc"] = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cents AS (
        SELECT CAST(vec_id AS INT) AS cell, v AS cv
        FROM e WHERE vec_id < {N_CELLS}
    ),
    assigned AS (
        SELECT vec_id, cell,
               {_RESID.format(v='v', c='cv')} AS r
        FROM (
            SELECT e.vec_id, e.v, c.cell, c.cv,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_DIST.format(v='e.v', c='c.cv')}, c.cell
                   ) AS rnk
            FROM e CROSS JOIN cents c
        ) WHERE rnk = 1
    ),
    rsubs AS (
        SELECT vec_id, cell,
               unnest(list_transform(range(0, {M_SUB}),
                      m -> {{'m': m,
                             'sub': r[m*{_D_SUB}+1 : m*{_D_SUB}+{_D_SUB}]}}),
                      recursive := true)
        FROM assigned
    ),
    rcb AS (
        SELECT m AS cb_m, CAST(vec_id AS INT) AS code, sub AS cw
        FROM rsubs WHERE vec_id < {K_CODES}
    ),
    rcodes AS (
        SELECT vec_id, cell, m, code FROM (
            SELECT s.vec_id, s.cell, s.m, c.code,
                   row_number() OVER (
                       PARTITION BY s.vec_id, s.m
                       ORDER BY {_SUBDIST.format(s='s.sub', c='c.cw')}, c.code
                   ) AS rnk
            FROM rsubs s JOIN rcb c ON s.m = c.cb_m
        ) WHERE rnk = 1
    ),
    probes AS (
        SELECT q_id, cell,
               {_RESID.format(v='qv', c='cv')} AS qr
        FROM (
            SELECT e.vec_id AS q_id, e.v AS qv, c.cell, c.cv,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_DIST.format(v='e.v', c='c.cv')}, c.cell
                   ) AS rnk
            FROM e CROSS JOIN cents c
            WHERE e.vec_id < {N_PQ_QUERIES}
        ) WHERE rnk <= {N_PROBE}
    ),
    qsubs AS (
        SELECT q_id, cell,
               unnest(list_transform(range(0, {M_SUB}),
                      m -> {{'m': m,
                             'sub': qr[m*{_D_SUB}+1 : m*{_D_SUB}+{_D_SUB}]}}),
                      recursive := true)
        FROM probes
    ),
    lut AS (
        SELECT s.q_id, s.cell, s.m, c.code,
               {_SUBDIST.format(s='s.sub', c='c.cw')} AS d
        FROM qsubs s JOIN rcb c ON s.m = c.cb_m
    ),
    adc AS (
        SELECT l.q_id, x.vec_id,
               CAST(sum(CAST(floor(l.d * 1000000000000.0 + 0.5)
                             AS BIGINT)) AS BIGINT)
                   / 1000000000000.0 AS adc
        FROM rcodes x
        JOIN lut l ON x.cell = l.cell AND x.m = l.m AND x.code = l.code
        WHERE l.q_id <> x.vec_id
        GROUP BY 1, 2
    )
    SELECT q_id, vec_id, adc, rnk FROM (
        SELECT q_id, vec_id, adc,
               CAST(row_number() OVER (
                   PARTITION BY q_id ORDER BY adc, vec_id
               ) AS INT) AS rnk
        FROM adc
    ) WHERE rnk <= {PQ_TOPK}
"""


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al., arXiv:2303.09540): semantic deduplication via
# k-means prefiltering + within-cluster cosine pruning.
# ---------------------------------------------------------------------------

#: Within-cluster cosine threshold. The synthetic embeddings are
#: near-uniform (max pair cosine ~0.5 at sf0.01; see NEAR_DUP_COS in
#: similarity.py), so 0.4 yields a small-but-real duplicate set;
#: production corpora run ~0.95+.
SEMDEDUP_TAU = 0.4


def semdedup(
    embeddings: DataFrame, tau: float = SEMDEDUP_TAU, k: int = K
) -> DataFrame:
    """SemDeDup: cluster embeddings with k-means, then inside each
    cluster drop every vector that has a cosine-near-duplicate ranked
    ahead of it. The paper's keep-rule is "keep the example FARTHEST
    from the centroid" (sec 3: low-similarity-to-centroid examples
    generalize better), so x is a duplicate iff some same-cluster y has
    cos(x, y) >= tau and (y.dist > x.dist, ties to lower vec_id).

    Spark-first plan: the pairwise stage is an equi-join on the cluster
    id -- the clustering IS the blocking, cost sum_c |c|^2 instead of
    n^2, exactly the paper's reason for clustering first. ``k`` is the
    scale knob and must GROW with the corpus (the paper runs K=50k on
    LAION): size k ~ n / target_cluster_size so the expected per-
    cluster quadratic cost stays bounded per task; the registered
    test-SF query keeps the exact-oracle default K=8. One shuffle keys
    the vector relation by cluster; skewed clusters fall to AQE
    skew-join.
    Cosines reuse the raw-vector norms (computed once per vector);
    kmeans assignment comes from the exact-arithmetic kmeans_lloyd, so
    every value is IEEE-deterministic (+,-,*,/,sqrt are correctly
    rounded -- no libm transcendentals anywhere) and the oracle
    hash-matches the full output table.

    Returns (vec_id, cluster, cdist, is_dup) for EVERY vector;
    survivors = filter(~is_dup)."""
    a = kmeans_lloyd(embeddings, k=k)
    n_parts = shuffle_partitions(embeddings)
    raw = embeddings.repartition(n_parts).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    raw = raw.select(
        "vec_id", "v", F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm")
    )
    # NOT checkpointed: the assigned relation feeds three references
    # (both pair-join sides + the output), but materializing it measured
    # SLOWER (4.9 s -> 5.8 s at sf0.1) -- the kmeans subtree is cheap
    # relative to the pair join, and the block-store write isn't free.
    # doc_semdedup checkpoints one level lower (the embedding relation)
    # where recompute is genuinely expensive.
    m = a.join(raw, "vec_id").select("vec_id", "cluster", "dist", "v", "nrm")
    x = m.select(
        F.col("vec_id").alias("x_id"),
        F.col("cluster").alias("x_cluster"),
        F.col("dist").alias("x_dist"),
        F.col("v").alias("x_v"),
        F.col("nrm").alias("x_nrm"),
    )
    y = m.select(
        F.col("vec_id").alias("y_id"),
        F.col("cluster").alias("y_cluster"),
        F.col("dist").alias("y_dist"),
        F.col("v").alias("y_v"),
        F.col("nrm").alias("y_nrm"),
    )
    cos = dot(F.col("x_v"), F.col("y_v")) / (
        F.col("x_nrm") * F.col("y_nrm")
    )
    dominated = (
        x.join(
            y,
            (F.col("x_cluster") == F.col("y_cluster"))
            & (F.col("x_id") != F.col("y_id")),
        )
        .filter(
            (cos >= F.lit(tau))
            & (
                (F.col("y_dist") > F.col("x_dist"))
                | (
                    (F.col("y_dist") == F.col("x_dist"))
                    & (F.col("y_id") < F.col("x_id"))
                )
            )
        )
        .select(F.col("x_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        m.join(dominated, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.col("dist").alias("cdist"),
            F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
        )
    )


def _semdedup_sql(
    src: str = "embeddings",
    prelude: str = "",
    tau: float = SEMDEDUP_TAU,
    k: int = K,
) -> str:
    """Full SemDeDup oracle over any (vec_id, embedding) relation;
    ``prelude`` injects extra leading CTEs (the doc-embedding builder
    for doc_semdedup); ``tau`` mirrors the Spark-side threshold."""
    return f"""
    {_kmeans_ctes(src, prelude, k)},
    er AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS rv,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM {src}
    ),
    sm AS (
        SELECT a.vec_id, a.cid AS cluster, a.dist, er.rv, er.nrm
        FROM afinal a JOIN er USING (vec_id)
    ),
    sdropped AS (
        SELECT DISTINCT x.vec_id
        FROM sm x JOIN sm y
          ON x.cluster = y.cluster AND x.vec_id <> y.vec_id
        WHERE list_dot_product(x.rv, y.rv) / (x.nrm * y.nrm)
                  >= {tau}
          AND (y.dist > x.dist
               OR (y.dist = x.dist AND y.vec_id < x.vec_id))
    )
    SELECT m.vec_id, m.cluster, m.dist AS cdist,
           (d.vec_id IS NOT NULL) AS is_dup
    FROM sm m LEFT JOIN sdropped d USING (vec_id)
"""


ORACLE_SQL["semdedup"] = _semdedup_sql()


# ---------------------------------------------------------------------------
# Feature-hashed document embeddings (Weinberger et al., ICML 2009
# "Feature Hashing for Large Scale Multitask Learning") + SemDeDup run
# end-to-end ON THE TEXT CORPUS. The embeddings table is a standalone
# synthetic fixture; this pair connects documents -> vectors -> the
# whole ANN/semantic-dedup stack with a deterministic, oracle-checkable
# "embedder" (real pipelines swap in a learned encoder behind the same
# (vec_id, embedding) contract).
# ---------------------------------------------------------------------------


def doc_hash_embeddings(documents: DataFrame, dim: int = DIM) -> DataFrame:
    """(vec_id, embedding): the hashing-trick bag-of-words vector of
    every document -- each token occurrence adds +-1 (sign = parity of
    the 9th md5 hex digit) to dimension md5[:8] % dim. Signed hashing
    keeps the inner product an unbiased kernel estimate (Weinberger
    2009, Lemma 2), which is exactly what the downstream cosine ops
    consume. Integer counts cast to double, so values are IEEE-exact in
    both engines (hash-exact oracle).

    Plan: explode -> one (doc_id, dim)-keyed map-side-combined sum ->
    one doc-keyed densify (map lookup over a sequence literal, pure
    JVM). Zero-vector documents (sign-cancelled or tokenless) are
    dropped -- cosine is undefined for them; both engines apply the
    same filter."""
    from ..functions.text import tokenize_ws

    toks = documents.select(
        "doc_id", F.explode(tokenize_ws("text")).alias("tok")
    )
    h = F.md5(F.col("tok"))
    bucket = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % dim
    ).cast("int")
    sign = F.when(
        F.conv(F.substring(h, 9, 1), 16, 10).cast("bigint") % 2 == 0, 1
    ).otherwise(-1)
    sparse = (
        toks.select("doc_id", bucket.alias("d"), sign.alias("sgn"))
        .groupBy("doc_id", "d")
        .agg(F.sum("sgn").cast("double").alias("val"))
    )
    m = F.map_from_entries(F.collect_list(F.struct("d", "val")))
    dense = sparse.groupBy("doc_id").agg(m.alias("m")).select(
        F.col("doc_id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("m"), i.cast("int")), F.lit(0.0)
            ),
        ).alias("embedding"),
    )
    return dense.filter(
        F.exists(F.col("embedding"), lambda x: x != F.lit(0.0))
    )


def doc_hash_embeddings_long(documents: DataFrame, dim: int = DIM) -> DataFrame:
    """Driver-facing form of ``doc_hash_embeddings``: the dense vector
    unrolled to (vec_id, d, val) rows -- registered queries must emit
    atomic columns (the scoring driver's pandas canonicalizer cannot
    hash array cells; see tests/test_driver_canon.py). The array form
    stays the internal contract ``doc_semdedup`` consumes."""
    return doc_hash_embeddings(documents, dim).select(
        "vec_id", F.posexplode("embedding").alias("d", "val")
    )


#: Within-cluster cosine threshold for TEXT hash embeddings. Shared
#: token mass (stopwords) gives unrelated documents substantial cosine
#: under bag-of-words hashing -- at 0.4 (the isotropic-synthetic-vector
#: default) 4992/5000 docs flag as dups, i.e. vacuous, and even 0.9
#: still flags 22%. 0.95 isolates true near-duplicates (263/5000 at
#: sf0.1, in line with the corpus's planted-dup rate; the production
#: guidance in SEMDEDUP_TAU's note says the same).
DOC_SEMDEDUP_TAU = 0.95
#: Cluster count for the 5000-doc corpus: the paper's k ~ n /
#: target_cluster_size rule (~78 docs/cluster). k=8 left ~625-doc
#: blocks whose quadratic pair stage dominated (29 s -> 7 s at sf0.1).
DOC_SEMDEDUP_K = 64


def doc_semdedup(
    documents: DataFrame,
    tau: float = DOC_SEMDEDUP_TAU,
    k: int = DOC_SEMDEDUP_K,
) -> DataFrame:
    """SemDeDup end-to-end on the TEXT corpus: hash-embed every
    document (doc_hash_embeddings), then run the identical
    cluster-blocked semantic dedup -- the full Abbas et al. pipeline
    with a deterministic embedder in place of the neural one. Returns
    (vec_id, cluster, cdist, is_dup) keyed by doc_id; plan properties
    (blocked pair join, broadcast centroids) are semdedup's, unchanged.

    The embedding relation is localCheckpointed first: the symbolic
    kmeans plan references its input ~8 times (2 Lloyd rounds + final
    assignment + the pair join's two sides), each reference otherwise
    recomputing the tokenize->hash->densify subtree (~1.7 s/pass at
    sf0.1). This is also the production shape -- pipelines persist the
    embedding table once and index it, never re-embed per stage (same
    policy as mmr_rerank's per-round checkpoint). k defaults to
    DOC_SEMDEDUP_K (the paper's k ~ n/target_cluster_size sizing; see
    the constant's note for the measured 4x effect of blocking width),
    tau to the text-calibrated DOC_SEMDEDUP_TAU."""
    emb = doc_hash_embeddings(documents).localCheckpoint()
    return semdedup(emb, tau=tau, k=k)


_DOC_EMB_PRELUDE = f"""
    dhe_sparse AS (
        SELECT doc_id,
               CAST(CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
                    % {DIM} AS INT) AS d,
               CAST(sum(CASE WHEN CAST(concat('0x', substr(md5(tok), 9, 1))
                                       AS BIGINT) % 2 = 0
                             THEN 1 ELSE -1 END) AS DOUBLE) AS val
        FROM (SELECT doc_id, unnest(list_filter(
                  regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS tok
              FROM documents)
        GROUP BY 1, 2
    ),
    dhe AS (
        SELECT doc_id AS vec_id, embedding FROM (
            SELECT g.doc_id, list(COALESCE(s.val, 0.0) ORDER BY g.d)
                       AS embedding
            FROM (SELECT ids.doc_id, r.range AS d
                  FROM (SELECT DISTINCT doc_id FROM dhe_sparse) ids
                  CROSS JOIN range(0, {DIM}) r) g
            LEFT JOIN dhe_sparse s ON s.doc_id = g.doc_id AND s.d = g.d
            GROUP BY g.doc_id
        )
        WHERE len(list_filter(embedding, x -> x <> 0.0)) > 0
    )"""

ORACLE_SQL["doc_hash_embeddings"] = f"""
    WITH {_DOC_EMB_PRELUDE}
    SELECT vec_id, CAST(r.range AS INT) AS d,
           embedding[r.range + 1] AS val
    FROM dhe CROSS JOIN range(0, {DIM}) r
"""

ORACLE_SQL["doc_semdedup"] = _semdedup_sql(
    "dhe", _DOC_EMB_PRELUDE, tau=DOC_SEMDEDUP_TAU, k=DOC_SEMDEDUP_K
)
