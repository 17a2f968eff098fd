"""Versioned key-value semantics (reference ``srv/`` surface, SURVEY.md §2.C).

The reference is an RPC server with optimistic-concurrency Put
(srv/server.go:39-88): Get returns (value, version) or ErrNoKey; Put
installs a new key iff the client supplies version 0 (new version 1),
and overwrites iff the supplied version equals the current one
(increment), else ErrVersion / ErrNoKey. Because a version is the count
of successful puts, "absent" <=> version 0, so the whole rule collapses
to: a put succeeds iff version_arg == current_version.

Batch-relational reproduction (the driver has no RPC network):

* ``kv_ops_from_events`` derives a deterministic operation log from the
  driver's events table (FIXTURES.md §2 -- op_id gives the total order).
* ``kv_fold`` replays the log per key and emits each op's outcome.
  Keys are independent, so the fold distributes perfectly: one
  applyInPandas group per key, sequential only *within* a key -- the
  same parallelism an actual sharded KV store would have at 100 TB.
  The DuckDB oracle replays the identical log with a recursive CTE.

``KVStore`` / ``SpinLock`` give the in-process API parity (clerk
retry/ErrMaybe model srv/client.go:56-91, lock CAS loop
srv/lock/lock.go:24-70) -- exercised by property tests, not Spark.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from ..session import shuffle_partitions

OK = "OK"
ERR_NO_KEY = "ErrNoKey"
ERR_VERSION = "ErrVersion"
ERR_MAYBE = "ErrMaybe"


def kv_ops_from_events(events: DataFrame) -> DataFrame:
    """Deterministic op log: view/click -> get, purchase/signup/error -> put.
    version_arg tracks ~1/3 of the put sequence so the fold produces a
    realistic mix of OK / ErrVersion / ErrNoKey outcomes; every 7th put
    retries the stale version 0.

    One key per user (15/150/1500 keys at sf0.001/0.01/0.1): the key
    space -- and therefore the fold's parallelism -- scales with the
    data, like a real sharded store. Sequential work is only ever the
    ~67-op history *within* one key."""
    base = events.select(
        F.col("event_id").alias("op_id"),
        (F.col("user_id") % 10).cast("int").alias("client_id"),
        F.concat(F.lit("k"), F.col("user_id").cast("string")).alias("key"),
        F.when(F.col("event_type").isin("view", "click"), F.lit("get"))
        .otherwise(F.lit("put"))
        .alias("op"),
        F.when(
            F.col("event_type").isin("view", "click"), F.lit(None).cast("string")
        )
        .otherwise(F.concat(F.lit("v"), F.col("event_id").cast("string")))
        .alias("value"),
    )
    # User-pinned shuffle width: the pseq window and the downstream Python
    # fold both need hash(key) partitioning; pinning the ONE shuffle here
    # keeps it a single exchange AND stops AQE's byte-based coalescing
    # from collapsing the tiny shuffle to 1 task -- the fold's cost is
    # per-GROUP Python overhead, which AQE cannot see (measured 7.3 s ->
    # 1.2 s at sf0.1 when the fold ran at 1 vs 32 tasks).
    n = shuffle_partitions(events)
    puts = base.filter(F.col("op") == "put").repartition(n, "key").withColumn(
        "pseq", F.row_number().over(Window.partitionBy("key").orderBy("op_id"))
    )
    puts = puts.select(
        "op_id",
        "client_id",
        "key",
        "op",
        "value",
        F.when(F.col("pseq") % 7 == 0, F.lit(0).cast("bigint"))
        .otherwise(F.expr("(pseq - 1) div 3"))
        .alias("version_arg"),
    )
    gets = base.filter(F.col("op") == "get").withColumn(
        "version_arg", F.lit(None).cast("bigint")
    )
    return puts.unionByName(gets)


_FOLD_SCHEMA = StructType(
    [
        StructField("op_id", LongType()),
        StructField("key", StringType()),
        StructField("op", StringType()),
        StructField("err", StringType()),
        StructField("result_value", StringType()),
        StructField("result_version", LongType()),
    ]
)


def _fold_one_key(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("op_id")
    cur_value, cur_version = None, 0
    out = []
    for r in pdf.itertuples(index=False):
        if r.op == "get":
            if cur_version == 0:
                out.append((r.op_id, r.key, "get", ERR_NO_KEY, None, 0))
            else:
                out.append((r.op_id, r.key, "get", OK, cur_value, cur_version))
        else:
            if r.version_arg == cur_version:
                cur_value, cur_version = r.value, cur_version + 1
                out.append((r.op_id, r.key, "put", OK, cur_value, cur_version))
            else:
                err = ERR_NO_KEY if cur_version == 0 else ERR_VERSION
                out.append((r.op_id, r.key, "put", err, None, cur_version))
    return pd.DataFrame(out, columns=[f.name for f in _FOLD_SCHEMA.fields])


def kv_fold(ops: DataFrame) -> DataFrame:
    """Replay the op log per key: one Arrow-batched group per key, keys in
    parallel. Returns one outcome row per op.

    The explicit ``repartition(n, key)`` pins the shuffle width feeding
    the Python stage. Without it AQE's byte-based coalescing sees a tiny
    shuffle (a few MB) and collapses it to ONE partition -- correct for
    JVM operators, but the cost here is per-GROUP Python overhead, which
    AQE cannot see: measured 7.3 s -> 1.2 s at sf0.1 (1500 keys folded in
    1 task vs 32). groupBy reuses this hash partitioning, so it is still
    a single shuffle."""
    n = shuffle_partitions(ops)
    return (
        ops.repartition(n, "key")
        .groupBy("key")
        .applyInPandas(_fold_one_key, schema=_FOLD_SCHEMA)
    )


_SEG_SCHEMA = StructType(
    _FOLD_SCHEMA.fields
    + [StructField("row_kind", StringType())]  # 'out' per-op | 'state' carry
)


def _fold_segment(state_pdf: pd.DataFrame, ops_pdf: pd.DataFrame) -> pd.DataFrame:
    """Fold one segment of one key's history from the carried-in state.
    Emits one 'out' row per op plus exactly one 'state' row holding the
    (value, version) pair the next segment starts from."""
    if len(state_pdf):
        srow = state_pdf.iloc[0]
        key = srow.key
        cur_value = None if pd.isna(srow.result_value) else srow.result_value
        cur_version = int(srow.result_version)
    else:  # key first appears in this segment
        key = ops_pdf.iloc[0].key
        cur_value, cur_version = None, 0
    out = []
    for r in ops_pdf.sort_values("op_id").itertuples(index=False):
        if r.op == "get":
            if cur_version == 0:
                out.append((r.op_id, key, "get", ERR_NO_KEY, None, 0, "out"))
            else:
                out.append(
                    (r.op_id, key, "get", OK, cur_value, cur_version, "out")
                )
        else:
            if r.version_arg == cur_version:
                cur_value, cur_version = r.value, cur_version + 1
                out.append(
                    (r.op_id, key, "put", OK, cur_value, cur_version, "out")
                )
            else:
                err = ERR_NO_KEY if cur_version == 0 else ERR_VERSION
                out.append((r.op_id, key, "put", err, None, cur_version, "out"))
    out.append((None, key, None, None, cur_value, cur_version, "state"))
    return pd.DataFrame(out, columns=[f.name for f in _SEG_SCHEMA.fields])


def kv_fold_segmented(ops: DataFrame, segment_size: int = 64) -> DataFrame:
    """``kv_fold`` for histories larger than executor memory: each key's
    op log is cut into fixed-size segments; round k cogroups segment k
    with the carried (value, version) state and folds it, so a task ever
    holds ``segment_size`` ops -- not the key's full history. Rounds are
    driver-chained like the connected-components loop (dedup.py), with a
    localCheckpoint per round to truncate lineage. The CAS transition is
    a function (value, version) -> (value, version), so chaining segment
    folds in key order reproduces the monolithic fold exactly -- proven
    by registering this under kv_fold's recursive-CTE oracle and by the
    random-log property test (tests/test_kv_property.py).

    Cost model at 100 TB: rounds = ceil(max ops per key / segment_size);
    each round is one cogroup shuffle of (state ~ |keys| rows) against
    (segment ~ |keys| * segment_size rows). Parallelism stays per-key in
    every round; memory per task is O(segment_size)."""
    n = shuffle_partitions(ops)
    # key-pinned shuffle width, same rationale as kv_fold: the per-round
    # cost is per-GROUP Python overhead, which AQE's byte-based coalescing
    # cannot see -- without the pin the tiny cogroup shuffles collapse to
    # 1 task (measured 11.2 s -> ~4 s at sf0.1 across 2 rounds).
    seqd = ops.repartition(n, "key").withColumn(
        "__seq",
        F.row_number().over(Window.partitionBy("key").orderBy("op_id")),
    ).withColumn(
        "__seg", ((F.col("__seq") - 1) / F.lit(segment_size)).cast("int")
    )
    seqd = seqd.localCheckpoint(eager=True)
    # one scalar to the driver: how many rounds to chain (the checkpoint
    # above already materialized the window, so this is a cheap max)
    n_segs = seqd.agg(F.max("__seg")).collect()[0][0]
    if n_segs is None:
        return ops.sparkSession.createDataFrame([], _FOLD_SCHEMA)
    state = (
        seqd.select("key")
        .distinct()
        .select(
            F.lit(None).cast("long").alias("op_id"),
            "key",
            F.lit(None).cast("string").alias("op"),
            F.lit(None).cast("string").alias("err"),
            F.lit(None).cast("string").alias("result_value"),
            F.lit(0).cast("long").alias("result_version"),
        )
    )
    out_parts = []
    for k in range(int(n_segs) + 1):
        seg = seqd.filter(F.col("__seg") == k).drop("__seq", "__seg")
        # EAGER checkpoint: each round's lineage must be truncated
        # before the next round builds on it. A lazy checkpoint defers
        # truncation to the final action, so a deep history (rounds ~
        # max-ops-per-key / segment_size) accretes the whole chain into
        # one task closure -- StackOverflowError in task serialization
        # at ~75 rounds (caught by the hot-key memory-bound test).
        folded = (
            state.repartition(n, "key")
            .groupby("key")
            .cogroup(seg.repartition(n, "key").groupby("key"))
            .applyInPandas(_fold_segment, schema=_SEG_SCHEMA)
            .localCheckpoint(eager=True)
        )
        out_parts.append(
            folded.filter(F.col("row_kind") == "out").drop("row_kind")
        )
        state = folded.filter(F.col("row_kind") == "state").drop("row_kind")
    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.unionByName(p)
    return out


def kv_final_state(ops: DataFrame) -> DataFrame:
    """The kv(key, value, version) table after replaying the whole log =
    last successful put per key.

    Gets never mutate state, so the fold runs over the puts only -- the
    filter lands on the scan and cuts the Arrow traffic + Python loop to
    the put fraction of the log (~1/3 here; far less in read-heavy logs)."""
    folded = kv_fold(ops.filter(F.col("op") == "put"))
    w = Window.partitionBy("key").orderBy(F.col("op_id").desc())
    return (
        folded.filter((F.col("op") == "put") & (F.col("err") == OK))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "key",
            F.col("result_value").alias("value"),
            F.col("result_version").alias("version"),
        )
    )


# Shared op-log SQL (mirrors kv_ops_from_events exactly).
_OPS_SQL = """
    base AS (
        SELECT event_id AS op_id,
               CAST(user_id % 10 AS INT) AS client_id,
               'k' || CAST(user_id AS VARCHAR) AS key,
               CASE WHEN event_type IN ('view','click') THEN 'get' ELSE 'put' END AS op,
               CASE WHEN event_type IN ('view','click') THEN NULL
                    ELSE 'v' || CAST(event_id AS VARCHAR) END AS value
        FROM events
    ),
    puts AS (
        SELECT *, row_number() OVER (PARTITION BY key ORDER BY op_id) AS pseq
        FROM base WHERE op = 'put'
    ),
    ops AS (
        SELECT op_id, client_id, key, op, value,
               CASE WHEN pseq % 7 = 0 THEN CAST(0 AS BIGINT)
                    ELSE (pseq - 1) // 3 END AS version_arg
        FROM puts
        UNION ALL
        SELECT op_id, client_id, key, op, value, CAST(NULL AS BIGINT)
        FROM base WHERE op = 'get'
    ),
    seqd AS (
        SELECT *, row_number() OVER (PARTITION BY key ORDER BY op_id) AS seq
        FROM ops
    ),
    st AS (
        SELECT key, CAST(0 AS BIGINT) AS seq,
               CAST(NULL AS VARCHAR) AS cur_value, CAST(0 AS BIGINT) AS cur_version,
               CAST(NULL AS BIGINT) AS op_id, CAST(NULL AS VARCHAR) AS op,
               CAST(NULL AS VARCHAR) AS err, CAST(NULL AS VARCHAR) AS result_value,
               CAST(NULL AS BIGINT) AS result_version
        FROM (SELECT DISTINCT key FROM ops)
        UNION ALL
        SELECT o.key, o.seq,
               CASE WHEN o.op = 'put' AND o.version_arg = st.cur_version
                    THEN o.value ELSE st.cur_value END,
               CASE WHEN o.op = 'put' AND o.version_arg = st.cur_version
                    THEN st.cur_version + 1 ELSE st.cur_version END,
               o.op_id, o.op,
               CASE
                   WHEN o.op = 'get' AND st.cur_version = 0 THEN 'ErrNoKey'
                   WHEN o.op = 'get' THEN 'OK'
                   WHEN o.version_arg = st.cur_version THEN 'OK'
                   WHEN st.cur_version = 0 THEN 'ErrNoKey'
                   ELSE 'ErrVersion'
               END,
               CASE
                   WHEN o.op = 'get' AND st.cur_version > 0 THEN st.cur_value
                   WHEN o.op = 'put' AND o.version_arg = st.cur_version THEN o.value
                   ELSE NULL
               END,
               CASE
                   WHEN o.op = 'get' THEN st.cur_version
                   WHEN o.version_arg = st.cur_version THEN st.cur_version + 1
                   ELSE st.cur_version
               END
        FROM st JOIN seqd o ON o.key = st.key AND o.seq = st.seq + 1
    )
"""

ORACLE_SQL: dict[str, str] = {
    "kv_fold": f"""
        WITH RECURSIVE {_OPS_SQL}
        SELECT op_id, key, op, err, result_value, result_version
        FROM st WHERE seq >= 1
    """,
    "kv_final_state": f"""
        WITH RECURSIVE {_OPS_SQL}
        SELECT key, result_value AS value, result_version AS version
        FROM (
            SELECT key, result_value, result_version,
                   row_number() OVER (PARTITION BY key ORDER BY op_id DESC) AS rn
            FROM st WHERE seq >= 1 AND op = 'put' AND err = 'OK'
        ) WHERE rn = 1
    """,
}


# ---------------------------------------------------------------------------
# In-process API parity: KVStore + clerk ErrMaybe model + spin lock
# ---------------------------------------------------------------------------


@dataclass
class KVStore:
    """Single-node versioned store with the reference's Put/Get semantics
    (srv/server.go:39-88). Thread-safety is the caller's concern, matching
    the mutex-per-call server."""

    _data: dict[str, tuple[str, int]] = field(default_factory=dict)

    def get(self, key: str) -> tuple[str | None, int, str]:
        if key not in self._data:
            return None, 0, ERR_NO_KEY
        value, version = self._data[key]
        return value, version, OK

    def put(self, key: str, value: str, version: int) -> str:
        if key not in self._data:
            if version == 0:
                self._data[key] = (value, 1)
                return OK
            return ERR_NO_KEY
        _, cur = self._data[key]
        if version == cur:
            self._data[key] = (value, cur + 1)
            return OK
        return ERR_VERSION


class Clerk:
    """At-least-once client wrapper: on a resent put, ErrVersion is
    ambiguous (the first try may have applied) and degrades to ErrMaybe
    (srv/client.go:56-91, modeled in models/kv.go:51-69).

    The network model matches labrpc's lossy channel in BOTH directions
    (srv/labrpc/labrpc.go:1-50): ``drop_request`` loses the RPC before the
    server sees it (no apply at all), ``drop_reply`` loses the response
    after the server applied, and ``delay`` injects bounded latency
    around the server call (under concurrency this is what reordering
    looks like observationally -- other clients' ops slip between apply
    and reply). A clerk cannot distinguish the two loss directions (both
    are timeouts), so ANY resend makes a later ErrVersion ambiguous ->
    ErrMaybe, even when the drop was request-side and the put definitely
    never applied."""

    def __init__(self, store: KVStore, drop_reply=None, drop_request=None, delay=None):
        self._store = store
        self._drop_reply = drop_reply or (lambda: False)
        self._drop_request = drop_request or (lambda: False)
        self._delay = delay or (lambda: None)

    def get(self, key: str) -> tuple[str | None, int, str]:
        while True:
            self._delay()
            if self._drop_request():
                continue  # request lost in flight: server never saw it
            result = self._store.get(key)
            self._delay()
            if not self._drop_reply():
                return result

    def put(self, key: str, value: str, version: int) -> str:
        first_try = True
        while True:
            self._delay()
            if self._drop_request():
                # Lost before the server: nothing applied, but the clerk
                # only sees a timeout -- the resend is still "a resend".
                first_try = False
                continue
            err = self._store.put(key, value, version)
            self._delay()
            delivered = not self._drop_reply()
            if delivered:
                if err == ERR_VERSION and not first_try:
                    return ERR_MAYBE
                return err
            first_try = False


class SpinLock:
    """CAS spin lock over a KV key (srv/lock/lock.go:24-70): acquire loops
    Get -> Put(owner, version); release CASes back to 'free'."""

    FREE = "free"

    def __init__(self, clerk: Clerk | KVStore, lock_key: str, owner_id: str):
        self._kv = clerk
        self._key = lock_key
        self._owner = owner_id

    def try_acquire(self) -> bool:
        value, version, err = self._kv.get(self._key)
        if err == ERR_NO_KEY:
            put_err = self._kv.put(self._key, self._owner, 0)
        elif value == self._owner:
            return True  # already held (srv/lock/lock.go:36-38)
        elif value != self.FREE:
            return False
        else:
            put_err = self._kv.put(self._key, self._owner, version)
        if put_err == OK:
            return True
        if put_err == ERR_MAYBE:
            # ErrMaybe is genuinely ambiguous: it covers BOTH "my put
            # applied but the reply was lost" AND "my first attempt was
            # lost and a competing client CASed the lock in between" --
            # treating it as acquired lets two clients hold the lock.
            # The reference trusts only rpc.OK and otherwise loops back
            # through a confirming Get (srv/lock/lock.go Acquire); we
            # resolve the ambiguity the same way.
            value, _, get_err = self._kv.get(self._key)
            return get_err == OK and value == self._owner
        return False

    def acquire(self, max_spins: int = 1_000_000) -> None:
        for _ in range(max_spins):
            if self.try_acquire():
                return
        raise TimeoutError("lock acquire exceeded max_spins")

    def release(self) -> None:
        value, version, err = self._kv.get(self._key)
        if err == OK and value == self._owner:
            self._kv.put(self._key, self.FREE, version)
