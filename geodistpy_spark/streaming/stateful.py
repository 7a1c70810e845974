"""Custom stateful streaming operators (applyInPandasWithState).

The reference has no streaming surface; the engine adds the canonical
custom-stateful shape the north star names: incremental sessionization
with explicit per-key state, Arrow-batched (never per-row Python).

State per user: (session_start_s, last_ts_s, n_events). A session
closes when the next event arrives more than ``gap`` after the last one
(closed sessions are emitted immediately, in-batch) or when the
event-time watermark passes last_ts + gap (timeout emission). Output
rows: (user_id, session_start, session_end, n_events).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_OUTPUT = StructType([
    StructField("user_id", StringType()),
    StructField("session_start", TimestampType()),
    StructField("session_end", TimestampType()),
    StructField("n_events", IntegerType()),
])
_STATE = StructType([
    StructField("start_s", LongType()),
    StructField("last_s", LongType()),
    StructField("n", IntegerType()),
])


def _sessionize_fn(gap_s: int):
    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        user = key[0]
        closed: list[tuple[int, int, int]] = []
        if state.hasTimedOut:
            if state.exists:
                start_s, last_s, n = state.get
                closed.append((start_s, last_s, n))
            state.remove()
        else:
            if state.exists:
                start_s, last_s, n = state.get
            else:
                start_s = last_s = -1
                n = 0
            ts_all = pd.concat([p["ts"] for p in pdfs]).sort_values()
            for t in (ts_all.astype("int64") // 1_000_000_000).tolist():
                if start_s < 0:
                    start_s, last_s, n = t, t, 1
                elif t - last_s > gap_s:
                    closed.append((start_s, last_s, n))
                    start_s, last_s, n = t, t, 1
                else:
                    # cross-batch late arrival (t < last_s but above the
                    # watermark) must not move the session anchor
                    # BACKWARD — later gap checks would compare against
                    # the stale anchor and mis-split
                    start_s = min(start_s, t)
                    last_s, n = max(last_s, t), n + 1
            state.update((start_s, last_s, n))
            # close the open session once event time passes last + gap
            state.setTimeoutTimestamp((last_s + gap_s) * 1000)
        if closed:
            yield pd.DataFrame({
                "user_id": [user] * len(closed),
                "session_start": pd.to_datetime([c[0] for c in closed], unit="s"),
                "session_end": pd.to_datetime([c[1] for c in closed], unit="s"),
                "n_events": pd.array([c[2] for c in closed], dtype="int32"),
            })

    return fn


def _parse_gap(gap: str) -> int:
    unit = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
            "hour": 3600, "hours": 3600}
    qty, u = gap.split()
    return int(qty) * unit[u]


def stream_sessionize(events: DataFrame, gap: str = "30 minutes",
                      watermark: str = "1 hour",
                      user_col: str = "user_id", ts_col: str = "ts") -> DataFrame:
    """Streaming sessionization with explicit per-user state.

    ``events`` is a streaming DataFrame with (user_col, ts_col [, ...]).
    Returns an append-mode stream of CLOSED sessions. Sessions split by
    a >``gap`` quiet period close in-batch; the trailing open session
    closes when the watermark passes its last event + gap (event-time
    timeout), so state is bounded by the number of concurrently-active
    users (the 100 TB contract: state size ~ active keys, not history).
    """
    gap_s = _parse_gap(gap)
    prepped = (
        events.select(F.col(user_col).cast("string").alias("user_id"),
                      F.col(ts_col).cast("timestamp").alias("ts"))
        .withWatermark("ts", watermark)
    )
    return (
        prepped.groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn(gap_s), _OUTPUT, _STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
