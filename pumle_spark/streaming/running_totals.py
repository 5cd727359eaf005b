"""Arbitrary stateful streaming: a per-user running spend/count tracker on
applyInPandasWithState (GroupState, Arrow-batched, update mode).

One state tuple (total_micro, n_events) per user, updated every
micro-batch, the updated row emitted downstream (update semantics — the
sink always holds each user's latest running total). It backs the
driver-gated ``stream_running_totals_final``.

Determinism: per-batch input order does not matter (sum and count are
commutative), so unlike the sessionizer there is NO cross-batch ordering
contract; totals are exact integer micro-units.

Scale: state is O(1) per user key, partitioned by the state store across
executors exactly like the watermarked aggregations in pipeline.py; the
batch twin (events_user_activity-style rollup) is the correctness anchor
in tests/test_round5_ops.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

OUTPUT_SCHEMA = "user_id bigint, total_micro bigint, n_events bigint"
_STATE_SCHEMA = "total bigint, n bigint"


def running_totals_apws(events: DataFrame) -> DataFrame:
    """events: streaming DF with (user_id bigint, vmic bigint). Returns the
    per-user running (total_micro, n_events) stream in update mode. State
    restore across batches is the point — the driver-gated query stages
    input as two files and forces two micro-batches so batch-2 totals MUST
    fold batch-1 state. GroupState speaks Arrow to the JVM, so the worker
    needs no protobuf."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def handle(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        total, n = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            total += int(pdf["vmic"].sum())
            n += len(pdf)
        state.update((int(total), int(n)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "total_micro": [total], "n_events": [n]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        handle,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
