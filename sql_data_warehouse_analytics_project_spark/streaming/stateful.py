"""Custom stateful streaming operators (``applyInPandasWithState``) — the
escape hatch for semantics the built-in windowed/session aggregations
can't express (SURVEY.md §2.13 north-star note). State lives in the state
store per group key, survives across micro-batches via the checkpoint,
and is evicted by processing-time timeout.

The kernel also runs on a BATCH DataFrame via ``applyInPandas`` with the
same per-group logic (minus state), preserving the module's batch/stream
parity invariant.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: output: one row per user per micro-batch with lifetime running totals
COUNTER_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("batch_events", T.LongType()),
    ]
)

_STATE_SCHEMA = "n LONG, total DOUBLE"


def _counter_kernel(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Accumulate (count, value-sum) per user across micro-batches."""
    if state.hasTimedOut:
        # idle user evicted: emit nothing, drop state
        state.remove()
        return
    n, total = state.get if state.exists else (0, 0.0)
    batch_n = 0
    for pdf in batches:
        batch_n += len(pdf)
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, float(total)))
    state.setTimeoutDuration(60 * 60 * 1000)  # evict after 1h idle
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total],
            "batch_events": [batch_n],
        }
    )


def stateful_user_counters(events: DataFrame) -> DataFrame:
    """Per-user lifetime running counters over a stream: state persists
    across micro-batches (checkpointed), idle users time out after 1h.
    Output mode must be ``update``. Input needs (user_id, value). The
    processing-time timeout makes Spark schedule no-data batches, so a
    ``trigger(availableNow=True)`` query ends only with
    ``spark.sql.streaming.noDataMicroBatches.enabled`` set to false."""
    return events.groupBy("user_id").applyInPandasWithState(
        _counter_kernel,
        outputStructType=COUNTER_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def batch_user_counters(events: DataFrame) -> DataFrame:
    """Batch twin of ``stateful_user_counters`` — same totals a stream
    converges to after all data is processed, as one plain aggregation
    (no state store needed when the data is bounded)."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("value").cast("double")).alias("total_value"),
    )
