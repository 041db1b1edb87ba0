"""The window vocabulary: one duration parser and one windowed aggregate.

Reference windows: fixed 1/5/10/15-minute windows, sliding 30m/15m and
2h/1h, session gaps of 45m/15m/120m/120s and the suppressor expiries
(`httprequest/HTTPRequest.java:82-165`, `customs/CustomsWindow.java:26-37`,
`postprocessing/AlertSummary.java:461-492`, `alert/AlertSuppressor*.java`).

Spark has each of these as a grouping expression (`F.window`,
`F.session_window`) or a watermark delay, and this is the one module
that builds them: `time_window` (fixed or sliding) and `gap_session`.
Every operator that needs the span as a number (a session break
condition, a state TTL, an interval bound) gets it from
`duration_micros`, and every window and watermark gets it from
`spark_interval`, the same span in microseconds, because Spark's own
interval parser rejects spellings `duration_micros` accepts (a
decimal quantity is valid there for seconds only). `windowed_agg` is
the one per-key windowed aggregate and `windowed_counts` its count
case; their `window_start` column makes downstream joins
window-aligned by construction, the reference's "main and side input
window must align" invariant (`customs/CustomsWindow.java:14-17`).
"""

from __future__ import annotations

import re
from fractions import Fraction

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_UNIT_MICROS = {
    "week": 604_800_000_000, "day": 86_400_000_000, "hour": 3_600_000_000,
    "minute": 60_000_000, "min": 60_000_000, "second": 1_000_000,
    "sec": 1_000_000, "millisecond": 1_000, "microsecond": 1,
}
_PART = r"(\d+(?:\.\d*)?|\.\d+)\s*([a-z]+?)s?\b"


def duration_micros(s: str) -> int:
    """A duration string -> whole microseconds.

    Accepts one or more `<quantity> <unit>` parts ("45 minutes",
    "1.5 hours", "2 hours 30 mins", "120 Seconds"): the quantity is an
    integer or a decimal, the unit a singular or plural
    week/day/hour/minute/min/second/sec/millisecond/microsecond, in any
    case. Raises ValueError naming the input for anything else, and
    for a span that is not a positive whole number of microseconds.
    """
    text = str(s).strip().lower()
    if not re.fullmatch(rf"(?:{_PART}\s*)+", text):
        raise ValueError(f"cannot parse duration: {s!r}")
    total = Fraction(0)
    for qty, unit in re.findall(_PART, text):
        if unit not in _UNIT_MICROS:
            raise ValueError(f"cannot parse duration: {s!r} (unit {unit!r})")
        total += Fraction(qty) * _UNIT_MICROS[unit]
    if total <= 0 or total.denominator != 1:
        raise ValueError(f"duration is not a positive whole microsecond count: {s!r}")
    return int(total)


def spark_interval(s: str) -> str:
    """`s` as the interval string Spark reads the same way: its
    `duration_micros` in whole microseconds. Spark's own parser
    rejects decimal and unspaced spellings ("1.5 hours", "90min"), so
    every `F.window` and `withWatermark` gets this form."""
    return f"{duration_micros(s)} microseconds"


def time_window(ts, duration: str, slide: str | None = None) -> Column:
    """A fixed window of `duration` over timestamp column `ts`, or a
    sliding one when `slide` is given."""
    return F.window(
        ts, spark_interval(duration), None if slide is None else spark_interval(slide)
    )


def beam_session_gap(gap: str) -> Column:
    """Beam-exact session gap for Spark's session_window.

    Beam merges two events into one session only when their interval
    windows OVERLAP — inter-event delta strictly LESS than the gap
    (`org.apache.beam.sdk.transforms.windowing.IntervalWindow
    .intersects`: `!(start >= o.end || end <= o.start)`); Spark's
    session_window also merges at delta == gap. Found by replaying
    `TestPerEndpointErrorRateAnalysis.java:340-384` (stream3), whose
    fixture places errors exactly 60 s apart around a 1-minute gap —
    Beam splits them into sessions of 3 and 2 (no alert), Spark merged
    them into 5 (alert). Subtracting one microsecond (the timestamp
    resolution) makes Spark reproduce Beam's boundary exactly:
    delta == gap splits, delta == gap - 1us merges. Session window
    `end` then reads gap-1us after the last event instead of gap,
    matching every catalog oracle (their lag-based break condition is
    `delta >= gap`).

    session_window requires CalendarIntervalType (interval arithmetic
    yields DayTimeIntervalType, which it rejects), so the gap is
    re-emitted through make_interval, its seconds written from integer
    microseconds. The minimum gap is 2 microseconds: a 1 microsecond
    gap leaves a zero-length session, and Spark drops every row of it.
    """
    micros = duration_micros(gap)
    if micros < 2:
        raise ValueError(
            f"session gap {gap!r} is below the 2 microsecond minimum"
        )
    secs, frac = divmod(micros - 1, 1_000_000)
    return F.expr(f"make_interval(0,0,0,0,0,0,{secs}.{frac:06d})")


def gap_session(ts, gap: str) -> Column:
    """A session window over timestamp column `ts` that closes after
    `gap` of inactivity, with Beam's boundary (`beam_session_gap`)."""
    return F.session_window(ts, beam_session_gap(gap))


def windowed_agg(df: DataFrame, keys: list, window: Column, *aggs: Column) -> DataFrame:
    """`aggs` per (window, *keys) group, for a `time_window` or a
    `gap_session`. Returns (window_start, window_end, *keys, *aggs).

    Batch and streaming share this plan: the window is a grouping
    expression, so the same code runs under readStream with a
    watermark. Partial aggregation (map-side combine) is Spark's
    default hash aggregate, equivalent to Beam's CombineFn
    partial/final split.
    """
    agg = df.groupBy(window, *keys).agg(*aggs)
    w, *rest = agg.columns
    return agg.select(
        F.col(w)["start"].alias("window_start"),
        F.col(w)["end"].alias("window_end"),
        *rest,
    )


def windowed_counts(
    df: DataFrame,
    key: str,
    ts: str = "ts",
    duration: str = "1 minute",
    count_alias: str = "n",
    slide: str | None = None,
) -> DataFrame:
    """Count.perElement within fixed windows, or sliding ones when
    `slide` is given — the shared first stage of the rate heuristics
    (`ThresholdAnalysis.java:88-104` etc.) and the alert-summary panes.
    Returns (window_start, key, count_alias).
    """
    return windowed_agg(
        df, [key], time_window(ts, duration, slide), F.count(F.lit(1)).alias(count_alias)
    ).drop("window_end")
