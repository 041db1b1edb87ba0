"""Early-firing accumulating panes for session windows (W2).

Reference: `httprequest/HTTPRequest.java:151-163`
(KeyAndWindowForSessionsFireEarly — session windows with
`AfterProcessingTime.pastFirstElementInPane().plusDelayOf(
paneFiringDelaySeconds)` early firings and accumulatingFiredPanes) and
`customs/CustomsWindow.java:26-37` (the fixed-window analog, which the
built-in update-mode windowed aggregation already covers).

The reference's pane CADENCE is processing-time and therefore
non-deterministic; what IS deterministic — and what its own tests
assert (`TestPerEndpointErrorRateAnalysis.java:483-566` expects the
count-7 pane then the count-18 pane, batch boundaries pinned by
TestStream.addElements) — is the pane SEQUENCE per arrival order. This
operator reproduces exactly that: one accumulating pane per
micro-batch for every session the batch touched. Beam's TestStream
`addElements(...)/advanceWatermarkTo(...)` structure maps 1:1 onto a
file-per-batch source with `maxFilesPerTrigger=1`, which is how the
golden replays drive it.

Sessions use BEAM boundary semantics (delta == gap splits), like every
other session operator in this engine (`windows.beam_session_gap`).
Late events that bridge two open sessions merge them, and the merged
session's next pane carries the combined count — Beam's merging-window
accumulation. State is GC'd by an event-time timeout one gap past the
key's newest event; panes are emitted on ARRIVAL, so the timeout never
produces output and the watermark only bounds state size.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.windows import duration_micros, spark_interval


def _pane_fn(ts_col: str, gap_ms: int):
    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        sessions = (
            [
                [state.get[0][i], state.get[1][i], state.get[2][i], False]
                for i in range(len(state.get[0]))
            ]
            if state.exists
            else []
        )
        for pdf in pdfs:
            for t in sorted(
                int(v.value // 1_000_000) for v in pdf[ts_col]
            ):
                sessions.append([t, t, 1, True])
        # merge sorted-by-start intervals with the BEAM rule: next
        # interval joins the current group iff its start is strictly
        # inside (group_last, group_last + gap) — delta == gap splits
        sessions.sort(key=lambda s: (s[0], s[1]))
        merged: list[list] = []
        for s, l, c, new in sessions:
            if merged and s < merged[-1][1] + gap_ms:
                m = merged[-1]
                m[1] = max(m[1], l)
                m[2] += c
                m[3] = m[3] or new
            else:
                merged.append([s, l, c, new])
        state.update(
            (
                [m[0] for m in merged],
                [m[1] for m in merged],
                [m[2] for m in merged],
            )
        )
        if merged:
            wm_ms = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(
                max(max(m[1] for m in merged) + gap_ms, wm_ms + 1)
            )
        out = [
            {
                "session_start": pd.Timestamp(m[0], unit="ms"),
                "latest_ts": pd.Timestamp(m[1], unit="ms"),
                "n_events": m[2],
            }
            for m in merged
            if m[3]  # pane only for sessions this batch touched
        ]
        if out:
            df = pd.DataFrame(out)
            df.insert(0, "key", str(key[0]))
            yield df

    return fn


def session_fire_early_panes(
    events: DataFrame,
    key_col: str,
    ts_col: str = "timestamp",
    gap: str = "1 minute",
) -> DataFrame:
    """Accumulating early-firing panes over gap-sessions: per
    micro-batch, every session the batch touched re-emits its current
    (session_start, latest_ts, n_events) — the deterministic
    event-order image of the reference's
    KeyAndWindowForSessionsFireEarly + accumulatingFiredPanes
    (`HTTPRequest.java:151-163`). Callers pre-filter/pre-project the
    monitored rows and post-filter panes by their alert threshold,
    exactly like the heuristics the reference feeds from this
    transform.

    Scale shape: state per key is the open-session interval list
    (bounded by activity within one gap horizon — idle sessions GC at
    the event-time timeout), panes are emitted map-side per group, and
    the only shuffle is the groupBy key. The micro-batch IS the pane
    trigger, so pane cost amortizes with batch size instead of firing
    per element.
    """
    gap_ms = duration_micros(gap) // 1000
    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("latest_ts", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("starts", T.ArrayType(T.LongType())),
            T.StructField("lasts", T.ArrayType(T.LongType())),
            T.StructField("counts", T.ArrayType(T.LongType())),
        ]
    )
    return (
        events.withWatermark(ts_col, spark_interval(gap))
        .groupBy(key_col)
        .applyInPandasWithState(
            _pane_fn(ts_col, gap_ms),
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
