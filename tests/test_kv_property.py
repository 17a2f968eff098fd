"""Property-based differential test for the versioned-KV fold (the
porcupine-linearizability analog of SURVEY.md §5.1.6, adapted to the
deterministic batch setting): for ANY op log, the distributed
sort-then-scan fold must agree with the sequential in-process
KVStore model (which implements srv/server.go:39-88 semantics directly)."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from map_reduce_framework_spark.operators import kv

# (key, op, value, version_arg) generators: few keys -> long per-key
# histories; version args biased to hit OK, ErrVersion, and ErrNoKey arms.
_OPS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.sampled_from(["get", "put"]),
        st.text(alphabet="xyz", min_size=1, max_size=3),
        st.integers(min_value=0, max_value=4),
    ),
    min_size=1,
    max_size=40,
)


def _model_replay(ops):
    """Sequential oracle: per-key version-checked fold, mirroring
    srv/server.go Get (39-52) and Put (59-88)."""
    state: dict[str, tuple[str, int]] = {}
    out = []
    for op_id, (key, op, value, varg) in enumerate(ops):
        cur_value, cur_version = state.get(key, (None, 0))
        if op == "get":
            if cur_version == 0:
                out.append((op_id, key, "get", kv.ERR_NO_KEY, None, 0))
            else:
                out.append((op_id, key, "get", kv.OK, cur_value, cur_version))
        else:
            if varg == cur_version:
                state[key] = (value, cur_version + 1)
                out.append((op_id, key, "put", kv.OK, value, cur_version + 1))
            else:
                err = kv.ERR_NO_KEY if cur_version == 0 else kv.ERR_VERSION
                out.append((op_id, key, "put", err, None, cur_version))
    return sorted(out)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(ops=_OPS)
def test_kv_fold_matches_sequential_model(spark, ops):
    pdf = pd.DataFrame(
        {
            "op_id": range(len(ops)),
            "key": [o[0] for o in ops],
            "op": [o[1] for o in ops],
            "value": [o[2] if o[1] == "put" else None for o in ops],
            "version_arg": [o[3] if o[1] == "put" else None for o in ops],
        }
    )
    df = spark.createDataFrame(
        pdf.astype(
            {
                "op_id": "int64",
                "key": "string",
                "op": "string",
                "value": "object",
                "version_arg": "object",
            }
        )
    )
    got = sorted(tuple(r) for r in kv.kv_fold(df).collect())
    assert got == _model_replay(ops)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(ops=_OPS)
def test_kv_fold_segmented_matches_sequential_model(spark, ops):
    """The bounded-memory segmented fold must replay ANY log exactly:
    segment_size=5 forces multi-round chaining on these 40-op histories,
    exercising the carried-state handoff between rounds."""
    pdf = pd.DataFrame(
        {
            "op_id": range(len(ops)),
            "key": [o[0] for o in ops],
            "op": [o[1] for o in ops],
            "value": [o[2] if o[1] == "put" else None for o in ops],
            "version_arg": [o[3] if o[1] == "put" else None for o in ops],
        }
    )
    df = spark.createDataFrame(
        pdf.astype(
            {
                "op_id": "int64",
                "key": "string",
                "op": "string",
                "value": "object",
                "version_arg": "object",
            }
        )
    )
    got = sorted(
        tuple(r) for r in kv.kv_fold_segmented(df, segment_size=5).collect()
    )
    assert got == _model_replay(ops)
