"""Custom stateful streaming operators via ``applyInPandasWithState``.

Everything else in the engine uses built-in stateful operators
(windows, session windows, dropDuplicates); this module is the escape
hatch for semantics the built-ins can't express — here a per-key
running counter with explicit GroupState, the canonical shape for
custom accumulators (rate trackers, per-key circuit breakers, the
reference's swap-and-reset counters if one wanted processing-time
fidelity).

Scale notes: state lives in the state store (RocksDB-backed on a real
cluster), partitioned by the grouping key — the shuffle is the same
one a groupBy costs; timeouts bound state growth. Arrow moves the
per-group batches; per-row Python cost is amortized over the batch.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

RUNNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("sv", DoubleType())]
)


def _update_running(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, sv = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        sv += float(pdf["value"].fillna(0.0).sum())
    state.update((n, sv))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [sv]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum(value)) maintained in explicit
    GroupState; emits the current total once per micro-batch per key.
    After a bounded (availableNow) replay the final row per key equals
    the batch aggregate — the equivalence the tests/oracle assert."""
    # only value is read; other columns would cross the Arrow boundary
    return events.select("user_id", "value").groupBy(
        "user_id"
    ).applyInPandasWithState(
        _update_running,
        outputStructType=RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

