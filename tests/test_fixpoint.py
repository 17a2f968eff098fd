"""``session.fixpoint`` and the three loops it drives (CC ``label_prop``
and ``two_phase``, k-core peeling).

* Each stop test is exact: on every state a loop visits, from its input
  on, ``done(E)`` holds exactly when ``step(E) == E``, so the loop ends
  on the round that reaches the fixpoint, never early and never one
  round late. Checked for two_phase's star-forest test on every graph of
  ``test_cc_property._graphs()`` and for k-core's degree test on a small
  copurchase graph.
* Census: a round costs two SQL executions, the lazy checkpoint (under
  AQE it runs the round's shuffle map stages when it is called) and the
  stop test's one action, on top of a fixed count before the loop.

States are inline VALUES relations rather than ``createDataFrame``
lists: no Python worker round trip per state, about 1.7x faster on
``local[4]``.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

from map_reduce_framework_spark import session
from map_reduce_framework_spark.operators import dedup, graph
from tests.test_cc_property import _graphs

# order -> parts. Orders 12-14 hang the path 4-16-17-18 off the rest,
# so part_kcore's own k (2) peels it one part per round for three rounds;
# k=4 peels for four rounds to a 46-edge core, k=5 to nothing.
BASKETS = {
    0: [4, 5], 1: [15, 10, 9, 1], 2: [0, 14, 13, 7], 3: [7, 3, 11],
    4: [15, 6, 10], 5: [7, 10], 6: [12, 11], 7: [2, 15],
    8: [1, 4, 12, 0], 9: [15, 9, 11], 10: [13, 6, 11], 11: [14, 15, 2, 5],
    12: [16, 4], 13: [17, 16], 14: [18, 17],
}
CHAIN = [(i, i + 1) for i in range(4)]


def _frame(spark, rows, a: str, b: str):
    """Integer pairs as a BIGINT (a, b) VALUES relation."""
    values = ", ".join(f"({x}, {y})" for x, y in sorted(rows)) or "(0, 0)"
    df = spark.sql(
        f"SELECT CAST(c0 AS BIGINT) AS {a}, CAST(c1 AS BIGINT) AS {b} "
        f"FROM VALUES {values} AS t(c0, c1)"
    )
    return df if rows else df.limit(0)


def _baskets(spark):
    rows = [(o, p) for o, parts in BASKETS.items() for p in parts]
    return _frame(spark, rows, "l_orderkey", "l_partkey")


def _on_pool(fn, items) -> list:
    """``fn`` over ``items`` on a 4-thread pool: the checks are small
    jobs, and running them side by side about halves the wall time on
    ``local[4]``."""
    with ThreadPoolExecutor(max_workers=4) as pool:
        return list(pool.map(fn, items))


def test_star_forest_test_is_exact(spark):
    """Every graph of ``_graphs()``, ids offset so no two share a node.
    A round never joins across components, so one ``_star_round`` over
    the graphs' union gives each graph's own round; the stop test runs
    on each graph alone."""
    off = 1000
    graphs = _graphs()
    states = {
        g: {(max(a, b) + g * off, min(a, b) + g * off) for a, b in edges}
        for g, (_, edges) in enumerate(graphs)
    }
    while states:
        union = _frame(spark, set().union(*states.values()), "u", "v")
        stepped = {tuple(r) for r in dedup._star_round(union).collect()}
        stops = _on_pool(
            lambda cur: dedup._is_star_forest(_frame(spark, cur, "u", "v")),
            states.values(),
        )
        for (g, cur), stop in zip(list(states.items()), stops):
            nxt = {e for e in stepped if e[0] // off == g}
            assert stop == (nxt == cur), graphs[g][0]
            states[g] = nxt
            if stop:
                del states[g]


def test_kcore_degree_test_is_exact(spark):
    edges = graph.part_copurchase_edges(_baskets(spark)).select("src", "dst")
    start = {tuple(r) for r in edges.collect()}

    def check(k):
        cur = start
        while True:
            E = _frame(spark, cur, "src", "dst")
            nxt = {tuple(r) for r in graph._kcore_peel(E, k).collect()}
            stop = graph._kcore_done(E, k)
            assert stop == (nxt == cur), k
            if stop:
                return
            cur = nxt

    _on_pool(check, (2, 4, 5))


def _executions(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


@pytest.mark.parametrize(
    "module, build, before, rounds",
    [
        pytest.param(
            dedup,
            lambda s: dedup.connected_component_labels(
                _frame(s, CHAIN, "doc_a", "doc_b")
            ),
            1,
            5,
            id="label_prop",
        ),
        pytest.param(
            dedup,
            lambda s: dedup.connected_component_labels(
                _frame(s, CHAIN, "doc_a", "doc_b"), "two_phase"
            ),
            0,
            2,
            id="two_phase",
        ),
        pytest.param(
            graph, lambda s: graph.part_kcore(_baskets(s)), 2, 3, id="kcore"
        ),
    ],
)
def test_fixpoint_census(spark, monkeypatch, module, build, before, rounds):
    """SQL executions while a query is built: ``before`` ahead of the
    loop (label_prop's eager edges checkpoint; k-core's lazy edges
    checkpoint and its k collect) and exactly two per round."""
    seen = {"rounds": 0}

    def counted(state, step, done):
        def counted_done(s):
            seen["rounds"] += 1
            return done(s)

        n0 = _executions(spark)
        out = session.fixpoint(state, step, counted_done)
        seen["loop"] = _executions(spark) - n0
        return out

    monkeypatch.setattr(module, "fixpoint", counted)
    n0 = _executions(spark)
    build(spark)
    total = _executions(spark) - n0
    got = (seen["rounds"], seen["loop"], total - seen["loop"])
    assert got == (rounds, 2 * rounds, before)
