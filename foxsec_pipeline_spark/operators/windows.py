"""The window vocabulary: one duration parser and one windowed count.

Reference windows: fixed 1/5/10/15-minute windows, sliding 30m/15m and
2h/1h, session gaps of 45m/15m/120m/120s and the suppressor expiries
(`httprequest/HTTPRequest.java:82-165`, `customs/CustomsWindow.java:26-37`,
`postprocessing/AlertSummary.java:461-492`, `alert/AlertSuppressor*.java`).

Spark has each of these as a grouping expression (`F.window`,
`F.session_window`) or a watermark delay. Every operator that needs
the span as a number (a session gap, a session break condition, a
state TTL, an interval bound) gets it from `duration_micros`, and
every window and watermark gets it from `spark_interval`, the same
span in microseconds, because Spark's own interval parser rejects
spellings `duration_micros` accepts (a decimal quantity is valid
there for seconds only). `windowed_counts` is the one fixed/sliding
per-key count; its `window_start` column makes downstream joins
window-aligned by construction, the reference's "main and side input
window must align" invariant (`customs/CustomsWindow.java:14-17`).
"""

from __future__ import annotations

import re
from fractions import Fraction

from pyspark.sql import DataFrame
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

    Partial aggregation (map-side combine) is Spark's default hash
    aggregate, equivalent to Beam's CombineFn partial/final split.
    """
    return (
        df.groupBy(
            F.window(
                ts,
                spark_interval(duration),
                None if slide is None else spark_interval(slide),
            ).alias("window"),
            F.col(key),
        )
        .agg(F.count(F.lit(1)).alias(count_alias))
        .select(
            F.col("window.start").alias("window_start"),
            F.col(key),
            F.col(count_alias),
        )
    )
