"""Streaming alert suppression — keyed TTL state.

Reference: `alert/AlertSuppressor.java` (ValueState + expiry timer:
emit first alert per key, drop repeats until expiry),
`alert/AlertSuppressorCount.java:26-36` (re-emit when count changes),
`alert/AlertSuppressorSession.java:41-112` (TTL extended per arrival).

Each suppressor has one Spark form:
- T1 `suppress_stream`: `dropDuplicatesWithinWatermark`, the built-in
  streaming dedup with state TTL'd by the watermark; exactly
  AlertSuppressor semantics when the suppression window equals the
  watermark delay. Zero custom state code, scales via the state store.
- T2 `suppress_count_stream` and T3 `suppress_session_stream`:
  `applyInPandasWithState` (GroupState with an event-time timeout —
  the Python form of `mapGroupsWithState`), for the count-change
  re-emit and sliding-TTL transitions.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.windows import duration_micros, spark_interval


def suppress_stream(
    alerts: DataFrame,
    key_cols: list[str],
    expiry: str = "15 minutes",
    ts_col: str = "timestamp",
) -> DataFrame:
    """T1 AlertSuppressor: first alert per key within the expiry
    horizon. State GC is driven by the event-time watermark."""
    return alerts.withWatermark(
        ts_col, spark_interval(expiry)
    ).dropDuplicatesWithinWatermark(key_cols)


def _suppress_count_fn(ts_col: str, count_col: str, ttl_ms: int):
    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        last_count = state.get[0] if state.exists else None
        out = []
        last_ts_ms = 0
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col)
            for _, row in pdf.iterrows():
                c = int(row[count_col])
                last_ts_ms = max(last_ts_ms, int(row[ts_col].value // 1_000_000))
                if last_count is None or c != last_count:
                    out.append(row)
                    last_count = c
        state.update((last_count,))
        # event-time TTL: expire `ttl` past the newest event for the key,
        # GC'd by the watermark (deterministic — the reference's
        # processing-time timer is wall-clock; SURVEY §7 hard part 3).
        # The timestamp must sit ahead of the current watermark or Spark
        # rejects it, hence the max().
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(last_ts_ms + ttl_ms, wm_ms + 1))
        if out:
            yield pd.DataFrame(out)

    return fn


def suppress_count_stream(
    alerts: DataFrame,
    key_cols: list[str],
    count_col: str = "count",
    ts_col: str = "timestamp",
    expiry: str = "15 minutes",
) -> DataFrame:
    """T2 AlertSuppressorCount: suppress repeats per key but re-emit
    when the count metadata changes; state expires `expiry` past the
    key's newest event (event-time TTL driven by the watermark — the
    reference's processing-time timer made event-time-deterministic
    per SURVEY §7)."""
    ttl_ms = duration_micros(expiry) // 1000
    out_schema = alerts.schema
    state_schema = T.StructType([T.StructField("last_count", T.LongType())])
    return (
        alerts.withWatermark(ts_col, spark_interval(expiry))
        .groupBy(*key_cols)
        .applyInPandasWithState(
            _suppress_count_fn(ts_col, count_col, ttl_ms),
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _suppress_session_fn(ts_col: str, ttl_ms: int):
    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        alive = state.exists
        out = []
        last_ts_ms = 0
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col)
            for _, row in pdf.iterrows():
                last_ts_ms = max(last_ts_ms, int(row[ts_col].value // 1_000_000))
                if not alive:
                    out.append(row)
                    alive = True
        state.update((last_ts_ms,))
        # session semantics: EVERY arrival extends the TTL, so a key
        # that keeps alerting stays suppressed until it goes quiet for
        # a full `ttl` (AlertSuppressorSession.java:41-112)
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(last_ts_ms + ttl_ms, wm_ms + 1))
        if out:
            yield pd.DataFrame(out)

    return fn


def suppress_session_stream(
    alerts: DataFrame,
    key_cols: list[str],
    ts_col: str = "timestamp",
    expiry: str = "15 minutes",
) -> DataFrame:
    """T3 AlertSuppressorSession: emit the first alert per key, then
    suppress while the key stays active — each arrival pushes the
    expiry out by `expiry` (sliding TTL), unlike T1's fixed horizon
    (`alert/AlertSuppressorSession.java:41-112`). Event-time timeout
    per SURVEY §7 hard part 3."""
    ttl_ms = duration_micros(expiry) // 1000
    state_schema = T.StructType([T.StructField("last_seen_ms", T.LongType())])
    return (
        alerts.withWatermark(ts_col, spark_interval(expiry))
        .groupBy(*key_cols)
        .applyInPandasWithState(
            _suppress_session_fn(ts_col, ttl_ms),
            outputStructType=alerts.schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
