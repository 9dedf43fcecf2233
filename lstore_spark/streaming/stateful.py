"""Custom stateful streaming operator (SURVEY.md §2.9): per-user running
aggregate held in explicit GroupState via applyInPandasWithState — the
Structured-Streaming form of an lstore consumer keeping per-key state
while following the log.

The update function is defined *nested* so cloudpickle ships it by value
to Python workers (a module-level reference would require the package on
the worker path).

Scale: state is keyed by user_id → sharded across executors by the
groupBy shuffle; each micro-batch touches only keys present in the batch.
With real unbounded streams add a timeout/TTL policy (GroupStateTimeout)
so abandoned keys age out — here the bounded availableNow drain keeps
state finite by construction.  The TTL path itself is exercised with
EventTimeTimeout sessionization in tests/test_stateful.py: state
expires when the watermark passes last_event + gap, and the emitted
sessions are asserted equal to the batch gaps-and-islands twin below
the final watermark.

Hash-parity discipline (VERDICT r6 #4 — this key was the last streaming
operator with only rows-only driver evidence): float accumulation order
inside GroupState is batch-arrival order, which no oracle can replicate,
so the state holds the sum as an EXACT 1e8-scaled int64 (the numerics.py
decimal discipline moved into the state store).  Integer addition is
order-independent, per-user scaled sums stay far below 2^53, and the
final scaled-int → double conversion is then a single correctly-rounded
IEEE divide both engines perform identically.

Spark 4's successor API (``transformWithStateInPandas`` +
StatefulProcessor) was probed in this environment and fails at stream
start: its driver-side runner needs the ``google.protobuf`` Python
package, which is broken in this container and cannot be installed
(STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE / ImportError
'descriptor').  applyInPandasWithState is the supported stateful path
here; the processor shape ports 1:1 when protobuf is available.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..registry import query
from .events import _events_stream, run_available_now

OUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("sum_v8", LongType()),
])
STATE_SCHEMA = StructType([
    StructField("n", LongType()),
    StructField("s8", LongType()),
])


# ONE definition of the 1e8-scaled exact-int value and its oracle text
# (review r13, the _attribution_slices lesson): both streaming paths and
# both oracles MUST share the scaling grain, or editing one silently
# breaks the hash-certified GroupState == JVM equality.
_V8_SCALE = 100_000_000


def _v8_col():
    """value as exact 1e8-scaled int64, computed JVM-side in decimal."""
    return (F.col("value").cast("decimal(30,8)")
            * F.lit(_V8_SCALE)).cast("long").alias("v8")


_RUNAGG_ORACLE = f"""
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(CAST(value AS DECIMAL(30,8)) * {_V8_SCALE} AS BIGINT))
            AS DOUBLE) / {_V8_SCALE}.0 AS sum_value
FROM events
GROUP BY user_id
"""


def running_user_agg_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events stream → per-user (count, exact scaled sum) maintained in
    GroupState; emits the updated running totals each micro-batch
    (update mode).  ``v8`` arrives pre-scaled (value as 1e-8 units,
    computed JVM-side in exact decimal) so the Python state update is
    pure int64 arithmetic — order-independent and overflow-safe."""
    import pandas as pd  # local so the closure is self-contained

    def update(key, pdfs, state):
        (user_id,) = key
        n, s8 = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            s8 += int(pdf["v8"].sum())
        state.update((n, s8))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "sum_v8": [s8]})

    return (
        _events_stream(spark, sf_dir)
        .select("user_id", _v8_col())
        .groupBy("user_id")
        .applyInPandasWithState(
            update, OUT_SCHEMA, STATE_SCHEMA, "update",
            GroupStateTimeout.NoTimeout)
    )


@query(
    "q_stream_apply_state",
    oracle=_RUNAGG_ORACLE,
)
def q_stream_apply_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the stateful running aggregate with availableNow; the LAST
    emitted row per user (n_events strictly increases, so max_by is
    tie-free) must equal the batch groupBy over the whole log — which is
    exactly what the oracle computes, making the GroupState path itself
    hash-certified, not just rows-counted.  Equivalence to the batch
    twin is additionally pytest-asserted in tests/test_stateful.py."""
    drained = run_available_now(
        running_user_agg_stream(spark, sf_dir),
        "q_stream_apply_state_sink", mode="update")
    final = drained.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_v8", "n_events").alias("sum_v8"))
    # scaled-int → double: per-user |sum|·1e8 « 2^53, so the cast is
    # exact and the single divide is correctly rounded in both engines
    return final.select(
        "user_id", "n_events",
        (F.col("sum_v8").cast("double") / F.lit(float(_V8_SCALE)))
        .alias("sum_value"))


def running_user_agg_stream_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JVM-native scale path for the same running aggregate
    (VERDICT r11 #5): an UNWINDOWED streaming ``groupBy(user).agg`` in
    update mode.  Semantically identical emissions to the GroupState
    form — each micro-batch emits the updated per-user running totals
    for the keys it touched — but the state lives in the JVM state
    store (HashAggregate + StateStoreSave), no Python workers, no Arrow
    transfer, no per-key pandas frames.  The 1000× A/B (shapes
    ``runagg`` in scripts/stream_state_r11_1000x.json vs ``runagg_jvm``
    in scripts/stream_state_r12_1000x.json) measures the difference
    over the 100M-event census; BASELINE.md / README record the
    numbers.  Exactness discipline is unchanged: the
    sum accumulates as the 1e8-scaled int64 computed JVM-side, so the
    result is order-independent and oracle-hashable.

    Reach for ``running_user_agg_stream`` (applyInPandasWithState) only
    when the per-key state machine genuinely needs custom Python logic
    (model scoring, non-associative transitions); for anything a
    built-in aggregate can express, this form IS the production path —
    state bound is still key cardinality, not time."""
    return (
        _events_stream(spark, sf_dir)
        .select("user_id", _v8_col())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("v8").alias("sum_v8"))
    )


@query(
    "q_stream_runagg_jvm",
    oracle=_RUNAGG_ORACLE,
)
def q_stream_runagg_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the JVM-shape running aggregate with availableNow (update
    mode) and keep each user's LAST emission — the same final-totals
    contract and the same oracle as ``q_stream_apply_state``, so the
    two paths are hash-certified EQUAL to each other via the shared
    oracle (plus directly asserted in tests/test_stateful.py).  This is
    the documented scale path: at the 100M-event 1000× census the
    Python GroupState form walls at ~768 s while this compiles to a
    plain stateful HashAggregate."""
    drained = run_available_now(
        running_user_agg_stream_jvm(spark, sf_dir),
        "q_stream_runagg_jvm_sink", mode="update")
    final = drained.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_v8", "n_events").alias("sum_v8"))
    return final.select(
        "user_id", "n_events",
        (F.col("sum_v8").cast("double") / F.lit(float(_V8_SCALE)))
        .alias("sum_value"))
