"""Custom stateful streaming operator: per-key running totals via
``applyInPandasWithState``.

The pattern the built-in windowed aggregations can't express: arbitrary
per-key state carried across micro-batches (running counters, novelty
detection, custom sketches).  State lives in Spark's state store
(checkpointed, recovered on restart); the kernel sees Arrow batches per
key and a typed GroupState handle.

Operator: ``running_user_totals`` — for each ``user_id``, the cumulative
event count and exact decimal value sum over the whole stream, emitted
(update mode) every time the key appears in a batch.  The batch analog is
a plain groupBy-sum, which is what the equivalence test checks.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from ..util import python_task

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),  # exact: value × 100
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)


@python_task
def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # money in integer cents: float sums would drift across batches
        cents += int(round(pdf["value"].mul(100).round().sum())) if len(pdf) else 0
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Stateful per-user running totals over a stream (update mode)."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
