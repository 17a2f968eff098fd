"""Registry fingerprint: pins the registered names, their callables'
names and every oracle's SQL (after ``materialize_ctes``) byte for byte,
so a change to how queries are declared cannot silently add, drop or
alter a query. No Spark session is needed."""

from __future__ import annotations

import hashlib
import json

from map_reduce_framework_spark.registry import REGISTRY

# sha256 of json.dumps(sorted([name, oracle] for every registered query))
ORACLE_FINGERPRINT = (
    "d132b23ff98eb670ea2da7be973952096bb38db1b20879e5441a28933708f357"
)


def test_registry_fingerprint():
    assert len(REGISTRY) == 255
    assert [n for n, q in REGISTRY.items() if q.fn.__name__ != n] == []
    blob = json.dumps(sorted([n, q.oracle] for n, q in REGISTRY.items()))
    assert hashlib.sha256(blob.encode()).hexdigest() == ORACLE_FINGERPRINT
