"""Graph analytics as iterative dataflow: PageRank over the part
co-purchase graph.

The reference has no graph surface at all; connected components
(operators/dedup.py) covers the clustering half of the standard graph
toolkit, and PageRank covers the iterative-propagation half -- the same
shape as label propagation, HITS, or belief propagation: a loop of
(join rank to edges -> shuffle partial contributions -> aggregate),
chained symbolically like kmeans_lloyd (no driver-side collect).

100 TB design notes:
* The edge build is the market-basket self-join on l_orderkey -- the
  join key is the order, which is high-cardinality and well distributed,
  so the shuffle is balanced; per-order fan-out is (items per order)^2,
  bounded by basket size, not corpus size.
* Each iteration shuffles (node, partial-contribution) pairs with
  map-side combine -- the textbook Pregel step expressed as groupBy.
* Ranks are fixed-point quantized (1e-12) after every iteration, so the
  DuckDB unrolled-CTE oracle is hash-exact despite 3 rounds of IEEE
  arithmetic (same discipline as kmeans/PQ, see SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import fixpoint, stage_checkpoint
from .skew import salted_aggregate

PR_ITERS = 3
PR_DAMPING = 0.85
PR_SCALE = int(1e12)


def _quant(col):
    """floor(x * 1e12 + 0.5) / 1e12 -- cross-engine-identical rounding."""
    return (
        F.floor(col * F.lit(float(PR_SCALE)) + F.lit(0.5)).cast("bigint")
        / F.lit(float(PR_SCALE))
    )


def part_copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct directed edges between parts appearing in the same order
    (both directions, so the graph is symmetric and has no dangling
    nodes -- every node with an in-edge has an out-edge)."""
    po = lineitem.select("l_orderkey", "l_partkey").distinct()
    return (
        po.alias("a")
        .join(po.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )


def part_pagerank(
    lineitem: DataFrame,
    iters: int = PR_ITERS,
    damping: float = PR_DAMPING,
    salt_contribs: int | None = None,
) -> DataFrame:
    """PageRank over the part co-purchase graph: ``iters`` power
    iterations from the uniform vector, teleport probability
    ``1 - damping``. Returns (part, out_degree, pagerank) -- the
    "centrality of this product in the purchase graph" ranking a
    recommender bootstrap uses.

    Every per-iteration rank is quantized to 1e-12 (see module
    docstring); the contribution term floor(pr/deg * 1e12 + 0.5) sums
    as exact BIGINTs, so partial-aggregation order cannot perturb the
    result."""
    # edges feed every iteration's contribution join plus the degree
    # aggregate; without a checkpoint the market-basket self-join
    # re-executes iters+1 times (measured 6.8 s -> ~3 s at sf0.1).
    # stage_checkpoint: reliable checkpoint() when a checkpoint dir is
    # configured (cluster), localCheckpoint() otherwise (local dev).
    edges = stage_checkpoint(part_copurchase_edges(lineitem))
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    n_nodes = deg.agg(F.count("*").alias("n"))
    # init: pr = quant(1/N), attached to every node via 1-row broadcast
    pr = deg.join(F.broadcast(n_nodes)).select(
        "src",
        "deg",
        "n",
        _quant(F.lit(1.0) / F.col("n")).alias("pr"),
    )
    for _ in range(iters):
        pairs = edges.join(pr, "src").select(
            "dst",
            F.floor(
                F.col("pr") / F.col("deg") * F.lit(float(PR_SCALE))
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("c"),
        )
        if salt_contribs:
            # Two-phase salted aggregate (operators/skew.py): a power-law
            # hub's in-edges spread over n_salt reducers in phase 1, the
            # n_salt partials merge in phase 2. The contribution is an
            # exact BIGINT sum, so the rewrite is output-identical --
            # proven by registering the salted twin under the plain
            # query's oracle (registry pattern of wc_salted).
            contrib = salted_aggregate(
                pairs,
                ["dst"],
                partials=[F.sum("c").alias("cp")],
                merges=[F.sum("cp").alias("s")],
                n_salt=salt_contribs,
            )
        else:
            contrib = pairs.groupBy("dst").agg(F.sum("c").alias("s"))
        base = pr.select("src", "deg", "n")
        pr = (
            base.join(contrib, base["src"] == contrib["dst"], "left")
            .select(
                "src",
                "deg",
                "n",
                _quant(
                    F.lit(1.0 - damping) / F.col("n")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("s"), F.lit(0))
                        / F.lit(float(PR_SCALE))
                    )
                ).alias("pr"),
            )
        )
    return pr.select(
        F.col("src").alias("part"),
        F.col("deg").alias("out_degree"),
        F.col("pr").alias("pagerank"),
    )


def part_pagerank_salted(
    lineitem: DataFrame,
    iters: int = PR_ITERS,
    damping: float = PR_DAMPING,
    n_salt: int = 16,
) -> DataFrame:
    """Skew-resilient PageRank: identical semantics to ``part_pagerank``
    (shares its oracle in the registry), with every per-iteration
    contribution aggregate salted two-phase. On a power-law graph the
    ``groupBy(dst)`` concentrates a hub node's entire in-neighborhood on
    one reducer; the salt caps any single reducer's share of a hot node
    at ~1/n_salt of its in-degree. Exact BIGINT sums make the rewrite
    bit-identical, not just approximately equal."""
    return part_pagerank(
        lineitem, iters=iters, damping=damping, salt_contribs=n_salt
    )


def part_triangle_counts(lineitem: DataFrame) -> DataFrame:
    """Per-node triangle participation over the part co-purchase graph:
    (part, degree, n_triangles) -- the local clustering signal
    recommender/community pipelines compute next to PageRank.

    Algorithm: canonical undirected edges (src < dst), then the ordered
    wedge join -- E(a,b) |> E(b,c) gives wedges a<b<c, closed by an
    equi-join back onto E(a,c). Ordering each triangle a<b<c counts it
    exactly once and cuts the wedge relation 6x vs the naive directed
    join; the join keys (b, then (a,c)) are plain equi-keys, so all
    three steps are shuffle hash joins -- never a cross product. Cost is
    sum_b deg_lo(b)^2 (wedges through each node's lower-ordered
    neighbors), the node-ordering bound of Schank & Wagner 2005 / Suri
    & Vassilvitskii WWW'11 (MapReduce triangle counting). The order used
    HERE is plain part-id; the stronger degree-keyed orientation
    (orient every edge toward its higher-(degree,id) endpoint, bounding
    out-degrees at O(sqrt m)) was built and measured at sf0.1:
    bit-identical output, warm-run parity (11.6 s vs 11.2 s -- the
    co-purchase degree distribution is not hub-skewed enough for the
    ordering to matter, and the two degree-attach joins eat the wedge
    savings). It remains the documented upgrade if a 100 TB corpus
    shows hub skew: swap the canonical (a < b) predicate for the
    (deg, id) comparison, nothing else changes.

    Per-node counts: each closed triangle contributes one row to each of
    its three corners (explode of a 3-element array, bounded fan-out).
    """
    # Canonical edges built directly (a < b in the basket self-join) --
    # half the distinct's input vs deriving them from the symmetric edge
    # set. e feeds four branches (two wedge sides, the closure, the
    # degree count) but is deliberately NOT checkpointed: a checkpoint
    # hides the edge relation's runtime size from AQE (checkpoint scans
    # carry no shuffle statistics), which forces the closure join to
    # sort-merge even when the edge list is broadcast-sized -- measured
    # 10.9 s -> 6.3 s at sf0.1 by deleting it. Within the single action
    # a consumer runs, the branches share the distinct's exchange via
    # exchange reuse, so the self-join is not re-executed per branch.
    po = lineitem.select("l_orderkey", "l_partkey").distinct()
    e = (
        po.alias("x")
        .join(po.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("src"),
            F.col("y.l_partkey").alias("dst"),
        )
        .distinct()
    )
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    # Closure join: NO broadcast hint. A forced F.broadcast(ac) pins the
    # complete edge list into every executor and dies when the edge list
    # outgrows the ~8 GB broadcast cap at 100 TB -- the one scale-killer
    # flagged in round 3. The join is a plain equi-join on (a, c), so the
    # size decision belongs to AQE: at small SF the runtime shuffle stats
    # put `ac` under the adaptive broadcast threshold and AQE installs the
    # same broadcast plan (wedges generated AND closed in one stage, never
    # shuffled); past the threshold it stays a shuffle hash/sort-merge
    # join on the (a, c) equi-key -- never a cross product, and the
    # Suri-Vassilvitskii orientation bound on the wedge count still holds.
    # tests/test_plans.py gates the absence of the unconditional hint.
    # Measurement note (round 5): earlier count()-based timings of this
    # query were invalid -- count() lets Catalyst ELIMINATE the left
    # join onto the triangle counts (right side duplicate-free, columns
    # unused), so they measured only the degree aggregate. Honest
    # full-materialization (noop-sink) cost at sf0.1 is ~6-11 s: 1.2M
    # canonical edges -> 49M wedges -> 1.9M triangles, wedge+closure
    # dominated, and the closure broadcast-vs-shuffle choice is AQE's.
    # The adjacency-list alternative (collect sorted up-neighbor arrays,
    # array_intersect per edge -- emits triangles directly, no wedge
    # relation) was tried and REJECTED: each edge row carries both
    # endpoints' full neighbor arrays, so the joins move the same
    # sum(deg^2) payload as the wedge shuffle but as per-row array
    # copies -- it GC-stalled at sf0.1 where this form completes. Rows
    # beat fat arrays here.
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    per_node = (
        tri.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias(
                "node"
            )
        )
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    ends = e.select(F.col("src").alias("node")).unionAll(
        e.select(F.col("dst").alias("node"))
    )
    deg = ends.groupBy("node").agg(F.count("*").alias("degree"))
    return deg.join(per_node, "node", "left").select(
        F.col("node").alias("part"),
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0))
        .cast("bigint")
        .alias("n_triangles"),
    )


_PR_EDGES = """
        po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey <> b.l_partkey
        ),
        deg AS (
            SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY src
        ),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg)"""


def _pr_iter_sql(prev: str, out: str, damping: float) -> str:
    return f"""
        c{out} AS (
            SELECT e.dst,
                   CAST(sum(CAST(floor(p.pr / p.deg * 1000000000000.0 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS s
            FROM edges e JOIN {prev} p ON e.src = p.src
            GROUP BY e.dst
        ),
        {out} AS (
            SELECT p.src, p.deg, p.n,
                   CAST(floor(({1.0 - damping} / p.n
                         + {damping} * (COALESCE(c.s, 0)
                                        / 1000000000000.0))
                        * 1000000000000.0 + 0.5) AS BIGINT)
                       / 1000000000000.0 AS pr
            FROM {prev} p LEFT JOIN c{out} c ON c.dst = p.src
        )"""


def pagerank_oracle_sql(
    iters: int = PR_ITERS, damping: float = PR_DAMPING
) -> str:
    steps = "".join(
        "," + _pr_iter_sql(f"pr{i}", f"pr{i + 1}", damping)
        for i in range(iters)
    )
    return f"""
        WITH {_PR_EDGES},
        pr0 AS (
            SELECT d.src, d.deg, nn.n,
                   CAST(floor(1.0 / nn.n * 1000000000000.0 + 0.5) AS BIGINT)
                       / 1000000000000.0 AS pr
            FROM deg d, nn
        ){steps}
        SELECT src AS part, deg AS out_degree, pr AS pagerank
        FROM pr{iters}
    """


ORACLE_SQL: dict[str, str] = {
    "part_pagerank": pagerank_oracle_sql(),
    "part_triangle_counts": """
        WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey
        ),
        tri AS (
            SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
            FROM e e1
            JOIN e e2 ON e1.dst = e2.src
            JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
        ),
        corners AS (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ),
        pern AS (
            SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
            FROM corners GROUP BY node
        ),
        ends AS (
            SELECT src AS node FROM e UNION ALL SELECT dst FROM e
        ),
        deg AS (
            SELECT node, CAST(count(*) AS BIGINT) AS degree
            FROM ends GROUP BY node
        )
        SELECT d.node AS part, d.degree,
               CAST(COALESCE(p.n_triangles, 0) AS BIGINT) AS n_triangles
        FROM deg d LEFT JOIN pern p USING (node)
    """,
}


# ---------------------------------------------------------------------------
# k-core decomposition (Matula-Beck peeling; distributed form follows
# Montresor et al. 2011): repeatedly delete vertices whose degree in the
# SURVIVING subgraph is below k, until a fixpoint. Reference parity:
# another classic iterative-refinement graph kernel alongside PageRank /
# triangles / connected components.
#
# k is ADAPTIVE -- one plus the 5th-percentile degree of the full graph
# -- so the operator does real multi-round peeling at every SF instead
# of hardcoding a threshold the data outgrows. Each round is one
# degree aggregate + two semi-joins on a shrinking edge set, run by
# session.fixpoint, which stops on the first round whose edges all have
# degree >= k (measured: 5 rounds at sf0.01). The DuckDB oracle unrolls
# KCORE_ORACLE_ROUNDS idempotent rounds (a converged round is a no-op,
# so any round count >= the fixpoint is exact). The loop-control
# scalars (k, the per-round stop test) are the audited K-scalar driver
# collects, same category as the CC round count.
# ---------------------------------------------------------------------------

KCORE_PCT = 0.05
KCORE_ORACLE_ROUNDS = 10


def _degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy("src").agg(F.count("*").alias("deg"))


def _kcore_peel(edges: DataFrame, k: int) -> DataFrame:
    """One peeling round: keep the edges whose ends both have degree
    >= k in ``edges``."""
    keep = _degrees(edges).filter(F.col("deg") >= k).select("src")
    return (
        edges.join(keep, "src")
        .join(keep.withColumnRenamed("src", "dst"), "dst")
        .select("src", "dst")
    )


def _kcore_done(edges: DataFrame, k: int) -> bool:
    """True iff every vertex of ``edges`` has degree >= k, which on a
    symmetric edge set is exactly when ``_kcore_peel`` keeps them all."""
    return _degrees(edges).filter(F.col("deg") < k).isEmpty()


def part_kcore(lineitem: DataFrame) -> DataFrame:
    """(part, core_degree, k): the vertices of the copurchase graph's
    adaptive k-core with their degree inside the core. Peeling runs to
    an exact fixpoint; every arithmetic step is integer."""
    # lazy: k's percentile pass materializes it, and round 1 reads it
    # instead of rebuilding the market-basket self-join
    edges = stage_checkpoint(part_copurchase_edges(lineitem))
    k = int(
        _degrees(edges)
        .agg(
            (
                F.floor(F.expr(f"percentile(deg, {KCORE_PCT})"))
                .cast("bigint")
                + F.lit(1)
            ).alias("k")
        )
        .collect()[0]["k"]
    )
    core = fixpoint(
        edges, lambda e: _kcore_peel(e, k), lambda e: _kcore_done(e, k)
    )
    return _degrees(core).select(
        F.col("src").alias("part"),
        F.col("deg").cast("bigint").alias("core_degree"),
        F.lit(k).cast("bigint").alias("k"),
    )


def _kcore_sql(rounds: int = KCORE_ORACLE_ROUNDS) -> str:
    """Unrolls ``rounds + 1`` peeling rounds and ASSERTS convergence:
    the final round must be a no-op (|ke_N| == |ke_{N+1}|, and a peel
    round never adds edges, so equal counts == identical relations), or
    the query fails loudly via DuckDB ``error()`` instead of silently
    hash-mismatching against Spark's exact fixpoint -- a graph needing
    more rounds than the unroll now reports itself as such (round-6
    ADVICE)."""
    ctes = [
        """ke0 AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey <> b.l_partkey
    )""",
        f"""kk AS MATERIALIZED (
        SELECT CAST(floor(quantile_cont(deg, {KCORE_PCT})) AS BIGINT) + 1
               AS k
        FROM (SELECT count(*) AS deg FROM ke0 GROUP BY src)
    )""",
    ]
    for r in range(1, rounds + 2):
        ctes.append(
            f"""kv{r} AS MATERIALIZED (
        SELECT src AS v FROM ke{r - 1} GROUP BY src
        HAVING count(*) >= (SELECT k FROM kk)
    )"""
        )
        ctes.append(
            f"""ke{r} AS MATERIALIZED (
        SELECT e.src, e.dst
        FROM ke{r - 1} e
        JOIN kv{r} a ON e.src = a.v
        JOIN kv{r} b ON e.dst = b.v
    )"""
        )
    ctes.append(
        f"""kconv AS MATERIALIZED (
        SELECT CASE WHEN (SELECT count(*) FROM ke{rounds})
                       = (SELECT count(*) FROM ke{rounds + 1})
                    THEN 1
                    ELSE error('part_kcore oracle: {rounds}-round unroll '
                               'did not reach the peeling fixpoint; '
                               'raise KCORE_ORACLE_ROUNDS')
               END AS converged
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT src AS part, CAST(count(*) AS BIGINT) AS core_degree,
           (SELECT k FROM kk) AS k
    FROM ke{rounds + 1}, kconv GROUP BY src, kconv.converged"""
    )


ORACLE_SQL["part_kcore"] = _kcore_sql()
