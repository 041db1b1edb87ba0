"""Alert-volume summary / anomaly comparison operators.

Reference: `postprocessing/AlertSummary.java:109-148,427-514` — count
alerts per classifier per 15-min block, then compare adjacent blocks
via sliding windows (30m-every-15m, 2h-every-1h) and alert on
percentage increase/decrease beyond thresholds.

Spark shape: one `windows.windowed_counts`, then `lag` over the
window-start sequence per classifier (adjacent-pane compare without a
self-join); the sliding panes are `windowed_counts(..., slide=...)`.
Both are single-shuffle plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .windows import time_window, windowed_counts


def summary_delta(
    df: DataFrame,
    classifier: str,
    ts: str = "ts",
    duration: str = "15 minutes",
    warn_pct: float = 50.0,
) -> DataFrame:
    """Adjacent-block percentage change per classifier; emit rows
    whose truncated |%change| is STRICTLY greater than warn_pct —
    the reference computes `(int) increase > pi`
    (AlertSummary.java:360-374), so an exact-boundary change (e.g.
    10 -> 5 at a 50 threshold) does NOT fire; golden-verified on
    alertsummary_buffer1 in tests/test_reference_goldens.py.

    Uses lag over ordered window starts. Note: blocks with zero
    events don't materialize (the reference's panes behave the same
    way for discarding-mode comparisons); the previous non-empty
    block is the comparison base.
    """
    counts = windowed_counts(df, classifier, ts, duration)
    w = Window.partitionBy(classifier).orderBy("window_start")
    delta = counts.select(
        "window_start",
        F.col(classifier),
        "n",
        F.lag("n").over(w).alias("prev_n"),
    ).where(F.col("prev_n").isNotNull())
    pct = (F.col("n") - F.col("prev_n")) * 100.0 / F.col("prev_n")
    # int-truncate like the reference's (int) cast, then strict >
    return delta.where(
        F.floor(F.abs(pct)).cast("long") > F.lit(int(warn_pct))
    ).select(
        "window_start", F.col(classifier), "n", "prev_n", F.round(pct, 6).alias("pct_change")
    )


def source_correlation(
    df: DataFrame,
    group_col: str,
    addr_col: str,
    alerted_predicate,
    min_addresses: int = 5,
    min_ratio: float = 0.9,
) -> DataFrame:
    """Grouped-source correlation (`SourceCorrelation.java:202-294`):
    within each group (reference: ISP), count distinct addresses and
    the distinct addresses that alerted; emit groups where ≥
    min_addresses and alerted-ratio ≥ min_ratio.

    One aggregation with two conditional distinct counts — the
    reference's union+Distinct+GBK collapses into a single shuffle.
    """
    agg = df.groupBy(group_col).agg(
        F.countDistinct(addr_col).alias("n_addr"),
        F.countDistinct(F.when(alerted_predicate, F.col(addr_col))).alias("n_alerted"),
    )
    ratio = F.col("n_alerted") / F.col("n_addr")
    return agg.where(
        (F.col("n_addr") >= F.lit(int(min_addresses))) & (ratio >= F.lit(float(min_ratio)))
    ).select(group_col, "n_addr", "n_alerted", F.round(ratio, 6).alias("alerted_ratio"))


def classifier_rollup(
    df: DataFrame,
    ts: str = "ts",
    duration: str = "15 minutes",
    levels: tuple[str, ...] = ("resource", "category"),
) -> DataFrame:
    """A8 AlertSummary's classifier hierarchy (global / per-resource /
    per-category counts per block — AlertSummary.java:109-148 runs one
    CombineFn per classifier) as ONE grouping-sets aggregation: every
    level shares a single shuffle and the map-side partial agg, with
    `grouping_id` discriminating the levels. The Spark-first shape for
    "count at N granularities of the same stream".

    Returns (window_start, level columns..., grouping_level, n) where
    NULL level columns mean "aggregated over" (standard grouping-sets
    semantics, identical in the DuckDB oracle).
    """
    w = time_window(ts, duration)["start"].alias("window_start")
    sets = ", ".join(
        "(" + ", ".join(["window_start"] + list(levels[:i])) + ")"
        for i in range(len(levels) + 1)
    )
    proj = df.select(w, *levels)
    cols = ", ".join(levels)
    # no-arg grouping_id: Spark requires the argument list to match ALL
    # grouping columns; window_start is in every set so its bit is
    # always 0 and the value equals grouping_id(<levels...>).
    # The input is passed as a parameterized-SQL DataFrame reference —
    # no catalog temp view, so concurrent callers / user views of the
    # same name can't collide and nothing leaks into the session.
    return df.sparkSession.sql(
        f"""
        SELECT window_start, {cols},
               CAST(grouping_id() AS BIGINT) AS grouping_level,
               count(*) AS n
        FROM {{rollup_in}}
        GROUP BY GROUPING SETS ({sets})
        """,
        rollup_in=proj,
    )
