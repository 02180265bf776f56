"""Custom stateful streaming operator (§2c charter:
applyInPandasWithState): an error-burst detector the built-in windowed
aggregations cannot express — it must emit an alert exactly once per
burst, at the moment the burst crosses the threshold, carrying running
state (count + burst-open flag) across micro-batches per key.

State contract per user_id: (burst_start_epoch_s, n_errors, alerted).
An error event extends the current burst if it is within GAP_SEC of the
burst start; otherwise a new burst opens. When a burst reaches
THRESHOLD errors and has not alerted yet, one alert row is emitted.
State for quiet users is dropped by an event-time timeout at the last
event's ts + GAP_SEC, under a GAP_SEC watermark. Expiry cannot change
any alert: an event later than that opens a new burst anyway, and an
earlier one is behind the watermark. Being event-time, the timeout
also lets an availableNow query end once its input is consumed.

Scale: state is O(1) per active user; Spark shuffles by user_id once
and the state store holds only open bursts — the design survives
arbitrarily many users because idle state expires.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

if TYPE_CHECKING:
    import pandas as pd

THRESHOLD = 3
GAP_SEC = 300

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("burst_start", TimestampType()),
        StructField("n_errors", IntegerType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("burst_start_s", LongType()),
        StructField("n_errors", IntegerType()),
        StructField("alerted", IntegerType()),
    ]
)


def _detect(
    key: tuple[Any, ...],
    batches: Iterator["pd.DataFrame"],
    state: GroupState,
) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    if state.hasTimedOut:
        state.remove()
        yield pd.DataFrame(columns=["user_id", "burst_start", "n_errors"])
        return

    (user_id,) = key
    burst_start_s, n_errors, alerted = state.get if state.exists else (0, 0, 0)

    alerts: list[tuple[int, int, int]] = []
    ts_all = sorted(
        int(t)
        for pdf in batches
        for t in (pdf["ts"].astype("int64") // 1_000_000_000)
    )
    for t in ts_all:
        if burst_start_s == 0 or t - burst_start_s > GAP_SEC:
            burst_start_s, n_errors, alerted = t, 1, 0
        else:
            n_errors += 1
        if n_errors >= THRESHOLD and not alerted:
            alerted = 1
            alerts.append((user_id, burst_start_s, n_errors))

    state.update((burst_start_s, n_errors, alerted))
    state.setTimeoutTimestamp((ts_all[-1] + GAP_SEC) * 1000)
    yield pd.DataFrame(
        {
            "user_id": [a[0] for a in alerts],
            "burst_start": [pd.Timestamp(a[1], unit="s") for a in alerts],
            "n_errors": [a[2] for a in alerts],
        }
    )


def error_burst_alerts(events: DataFrame) -> DataFrame:
    """Streaming: one alert per (user, burst) when THRESHOLD errors land
    within GAP_SEC. `events` needs (user_id, ts, event_type) and must be
    a streaming DataFrame (applyInPandasWithState requires one). An
    error more than GAP_SEC older than the latest error seen in an
    earlier micro-batch is behind the watermark and dropped as late."""
    errors = events.filter(F.col("event_type") == "error").select("user_id", "ts")
    return (
        errors.withWatermark("ts", f"{GAP_SEC} seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _detect,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
