"""Windowing helpers — the reference's window vocabulary on Spark.

Reference: fixed 1/5/10/15-min windows, sliding 30m/15m and 2h/1h,
session windows with 45m/15m/120m/120s gaps, global re-window
(`window/GlobalTriggers.java:29-39`, `httprequest/HTTPRequest.java:82-165`,
`customs/CustomsWindow.java:26-37`, `postprocessing/AlertSummary.java:461-492`).

Spark already has all of these as built-in grouping expressions
(`F.window`, `F.session_window`); these helpers standardize the output
column names (`window_start`, `window_end`) so downstream joins are
window-aligned by construction — the reference's "main and side input
window must align" invariant (`customs/CustomsWindow.java:14-17`)
becomes a join key here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fixed_window(ts: str | Column = "ts", duration: str = "1 minute") -> Column:
    """Fixed (tumbling) event-time window, e.g. FixedWindows.of(1 min)."""
    return F.window(ts, duration)


def sliding_window(
    ts: str | Column = "ts", duration: str = "30 minutes", slide: str = "15 minutes"
) -> Column:
    """Sliding window, e.g. AlertSummary's 30m-every-15m comparison panes."""
    return F.window(ts, duration, slide)


def session_win(ts: str | Column = "ts", gap: str = "45 minutes") -> Column:
    """Session window with inactivity gap (Sessions.withGapDuration),
    with BEAM boundary semantics: delta == gap splits (see
    `heuristics.beam_session_gap` — Spark's native session_window
    merges at exact equality, Beam and every catalog oracle split)."""
    from .heuristics import beam_session_gap

    return F.session_window(
        ts, beam_session_gap(gap) if isinstance(gap, str) else gap
    )


def windowed_counts(
    df: DataFrame,
    key: str,
    ts: str = "ts",
    duration: str = "1 minute",
    count_alias: str = "n",
) -> DataFrame:
    """Count.perElement within fixed windows — the shared first stage of
    the rate heuristics (`ThresholdAnalysis.java:88-104` etc.).

    Partial aggregation (map-side combine) is Spark's default hash
    aggregate, equivalent to Beam's CombineFn partial/final split.
    """
    return (
        df.groupBy(F.window(ts, duration).alias("window"), F.col(key))
        .agg(F.count(F.lit(1)).alias(count_alias))
        .select(
            F.col("window.start").alias("window_start"),
            F.col(key),
            F.col(count_alias),
        )
    )
