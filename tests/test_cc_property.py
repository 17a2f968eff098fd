"""Property test for connected-components: both the min-label-propagation
and the large-star/small-star (Kiveris et al. SoCC'14) implementations must
produce the exact min-id component labeling of a union-find oracle, on
random graphs across densities and on adversarial shapes (long chains --
the diameter case two-phase exists for -- stars, disjoint pairs, an
empty graph and self-loops)."""

from __future__ import annotations

import random

import pytest

from map_reduce_framework_spark.operators.dedup import (
    connected_component_labels,
)


def _union_find_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id labeling: union by min above keeps roots minimal
    return {x: find(x) for x in parent}


def _graphs() -> list[tuple[str, list[tuple[int, int]]]]:
    cases: list[tuple[str, list[tuple[int, int]]]] = [
        ("chain_40", [(i, i + 1) for i in range(40)]),
        ("chain_rev", [(i + 1, i) for i in range(40)]),
        ("star", [(0, i) for i in range(1, 30)]),
        ("inverted_star", [(i, 99) for i in range(1, 30)]),
        ("pairs", [(2 * i, 2 * i + 1) for i in range(20)]),
        ("two_chains_bridge", [(i, i + 1) for i in range(15)]
         + [(100 + i, 101 + i) for i in range(15)] + [(7, 107)]),
        ("empty", []),
        ("self_loops", [(1, 1), (2, 2), (3, 3)]),
        ("loops_on_chain", [(i, i + 1) for i in range(5)] + [(0, 0), (3, 3)]),
        # no v is also a u, but u = 5 has two edges: not a star forest
        ("two_edge_fan", [(5, 1), (5, 2)]),
        ("already_star", [(i, 0) for i in range(1, 10)]),
    ]
    for seed, n, m in [(1, 50, 30), (2, 50, 80), (3, 120, 60), (4, 30, 200)]:
        rng = random.Random(seed)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        cases.append((f"random_s{seed}", edges))
    return cases


@pytest.mark.parametrize("method", ["label_prop", "two_phase"])
def test_cc_matches_union_find(spark, method):
    for name, edges in _graphs():
        want = _union_find_labels(edges)
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r["doc_id"]: r["label"]
            for r in connected_component_labels(df, method).collect()
        }
        assert got == want, (method, name)
