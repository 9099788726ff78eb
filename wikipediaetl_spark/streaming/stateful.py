"""Custom stateful streaming operator via applyInPandasWithState.

The reference's only custom state is the Redis seen-set and the x-retry-count
header; dropDuplicates and retry_queue_step cover those. This module covers
the *arbitrary* keyed-state axis (SURVEY.md §2.9 [E]): a per-user running
(count, cents-sum, max) maintained across micro-batches with explicit
GroupState — the Spark-native form of "stateful consumer with a side
store". The sum is held in integer cents, so the fold is order-independent
and oracle-checkable. Two forms: ``running_user_stats_exact`` keys the
state per user (the documented per-key path, which per-user timeouts need)
and ``running_user_stats_exact_sharded`` keys it per shard of users (the
scale form q149 runs).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from wikipediaetl_spark.functions.fixedpoint import scaled_long_np

EXACT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)

EXACT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("cents", T.LongType()),
        T.StructField("mx", T.DoubleType()),
    ]
)


# Per-group output template: this function runs ONCE PER KEY PER BATCH, so
# its constant costs multiply by key cardinality. The dict-of-lists
# pd.DataFrame constructor measures 365 µs; copying a prebuilt one-row
# frame and writing cells via .iat is 65 µs (5.6×) — at 100k+ keys per
# batch that constructor WAS the operator (measured r6, BENCH_NOTES.md q149).
_EXACT_OUT_TMPL = pd.DataFrame(
    {"user_id": [0], "n_events": [0], "total_cents": [0], "max_value": [0.0]}
)


def _update_exact(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Order-independent state transition: the running sum is kept in integer
    cents (each value grid-quantized ONCE on arrival), so the fold result is
    identical under any micro-batch/row arrival order — the property that
    makes the operator's output oracle-checkable and replay-stable.

    Hot-path discipline (r6): numpy on the extracted array, never pandas
    Series reductions (3-5× slower per call), and the output row comes from
    the module-level template — see _EXACT_OUT_TMPL."""
    import numpy as np

    n, cents, mx = state.get if state.exists else (0, 0, float("-inf"))
    for pdf in batches:
        v = pdf["value"].to_numpy()
        n += v.size
        cents += int(scaled_long_np(v, 100).sum())
        m = v.max()
        if m > mx:
            mx = float(m)
    state.update((n, cents, mx))
    out = _EXACT_OUT_TMPL.copy()
    out.iat[0, 0] = key[0]
    out.iat[0, 1] = n
    out.iat[0, 2] = cents
    out.iat[0, 3] = mx
    yield out


def running_user_stats_exact(events_stream: DataFrame) -> DataFrame:
    """Per-user running (count, cents-sum, max) in GroupState, one state
    row per user; each batch emits the key's updated totals (update mode).

    State is partitioned by key in the state store — scale-out is by key
    hash, same as any keyed agg; no driver state."""
    return (
        events_stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_exact,
            outputStructType=EXACT_OUTPUT_SCHEMA,
            stateStructType=EXACT_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------------
# Micro-sharded state: the scale form of Python keyed state (r6).
#
# applyInPandasWithState pays a CONSTANT cost per state key per batch —
# Python dispatch, a one-row Arrow output frame, a state-store get/commit.
# With per-user keys that constant multiplies by |users| (800k at the 400x
# fixture) and becomes the whole operator: the JVM twin (q164) runs the
# identical semantics at scan speed. Sharding keys by pmod(user_id, S)
# turns 800k groups into S groups whose state is the ARRAYS of their users'
# triples, so the per-key constant is paid S times, the per-user work is
# vectorized numpy (sort + reduceat), and the emitted update rows are
# unchanged (one row per user touched in the batch — the same update-mode
# contract). The trade documented for 100 TB: shard state must fit one
# state row (~users_per_shard x 24 bytes — pick S so shards hold ~1e2-1e4
# users), and per-user timeouts/eviction are no longer expressible — use
# the per-key form when they are needed (both are kept and tested).
# --------------------------------------------------------------------------

SHARDED_STATE_SCHEMA = T.StructType(
    [
        T.StructField("users", T.ArrayType(T.LongType())),
        T.StructField("ns", T.ArrayType(T.LongType())),
        T.StructField("cents", T.ArrayType(T.LongType())),
        T.StructField("mxs", T.ArrayType(T.DoubleType())),
    ]
)


def _update_exact_sharded(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Shard transition: fold the batch's per-user (n, cents, max) into the
    shard's sorted state arrays; emit one updated row per touched user.
    Same order-independent integer algebra as ``_update_exact``."""
    import numpy as np

    pdfs = list(batches)
    u = np.concatenate([p["user_id"].to_numpy() for p in pdfs])
    val = np.concatenate([p["value"].to_numpy() for p in pdfs])
    cents_in = scaled_long_np(val, 100)
    order = np.argsort(u, kind="stable")
    u, val, cents_in = u[order], val[order], cents_in[order]
    uniq, starts = np.unique(u, return_index=True)
    b_n = np.diff(np.append(starts, u.size)).astype("int64")
    b_cents = np.add.reduceat(cents_in, starts)
    b_mx = np.maximum.reduceat(val, starts)

    if state.exists:
        s_users, s_ns, s_cents, s_mxs = (
            np.asarray(a, dtype=d)
            for a, d in zip(state.get, ("int64", "int64", "int64", "float64"))
        )
    else:
        s_users = np.empty(0, dtype="int64")
        s_ns = np.empty(0, dtype="int64")
        s_cents = np.empty(0, dtype="int64")
        s_mxs = np.empty(0, dtype="float64")

    pos = np.searchsorted(s_users, uniq)
    if s_users.size:
        safe = np.minimum(pos, s_users.size - 1)
        found = (pos < s_users.size) & (s_users[safe] == uniq)
    else:
        found = np.zeros(uniq.size, dtype=bool)
    fpos = pos[found]
    s_ns[fpos] += b_n[found]
    s_cents[fpos] += b_cents[found]
    s_mxs[fpos] = np.maximum(s_mxs[fpos], b_mx[found])
    new = ~found
    if new.any():
        npos = pos[new]
        s_users = np.insert(s_users, npos, uniq[new])
        s_ns = np.insert(s_ns, npos, b_n[new])
        s_cents = np.insert(s_cents, npos, b_cents[new])
        s_mxs = np.insert(s_mxs, npos, b_mx[new])
    state.update((s_users.tolist(), s_ns.tolist(), s_cents.tolist(), s_mxs.tolist()))

    out_pos = np.searchsorted(s_users, uniq)  # post-insert positions
    yield pd.DataFrame(
        {
            "user_id": uniq,
            "n_events": s_ns[out_pos],
            "total_cents": s_cents[out_pos],
            "max_value": s_mxs[out_pos],
        }
    )


def running_user_stats_exact_sharded(
    events_stream: DataFrame, n_shards: int = 4096
) -> DataFrame:
    """``running_user_stats_exact`` with micro-sharded state (see module
    note): identical emitted rows, per-batch cost O(S + batch log batch)
    instead of O(|users|) constants.

    SIZING RULE for ``n_shards`` (VERDICT r6 #8, the documented scale
    knob). Two per-batch costs trade against each other:

      - per-SHARD constant: Python dispatch + Arrow frames + store commit,
        ~0.4-0.5 ms per touched shard per batch → cost ≈ 0.5 ms · S;
      - per-shard STATE REWRITE: GroupState serializes the WHOLE shard
        state on update — 4 arrays × 8 B ≈ 32 B/user, so cost scales with
        users_per_shard = U/S (plus the numpy fold, linear in U/S).

    Total ≈ a·S + b·U/S, minimized at S* ≈ sqrt(b/a)·sqrt(U); in practice
    the curve is FLAT near the optimum, so target ~100-500 users/shard
    and round to a power of two: U=800k → S=4096 (195 users/shard ≈ 6 KB
    state/row). MEASURED at the 400× fixture (BENCH_NOTES.md r6 q149,
    800k users, 40M rows, best-of-2): S=512 → 6.15 s, S=4096 →
    4.94 s, S=32768 → 7.38 s — ±8× around the rule's choice costs ≤1.5×,
    the wrong EXTREMES cost the operator (S=U degenerates to the 39 s
    per-user form; S≲cores loses all parallelism and makes shard state
    exceed comfortable single-commit size). State-store parallelism
    (shuffle partitions) should be ≥ cores and ≤ S; shards hash-spread
    across partitions evenly since the key is pmod(user_id)."""
    from pyspark.sql import functions as F

    return (
        events_stream.select("user_id", "value")
        .withColumn("_shard", F.pmod(F.col("user_id"), F.lit(n_shards)))
        .groupBy("_shard")
        .applyInPandasWithState(
            _update_exact_sharded,
            outputStructType=EXACT_OUTPUT_SCHEMA,
            stateStructType=SHARDED_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
