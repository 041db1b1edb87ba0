"""Time-series joins the DataFrame API lacks as primitives, built the
way they must be built at 100 TB: as-of join, bucketed interval join,
and rolling range-frame aggregates.

These generalize shapes the reference computes imperatively inside
per-key DoFn state (`customs/CustomsVelocity.java` carries the
previous login forward; `heuristics/` fold sessions row by row): the
Spark-first form keeps them declarative so Catalyst plans the shuffle
and AQE handles skew.

Scale rules encoded here:
- an as-of join is NEVER a range join: union the tagged streams and
  carry the last snapshot forward with one window pass (one shuffle
  on the key, no pair explosion, no sort-merge range scan);
- an interval join is NEVER an inequality join: a non-equi condition
  plans as BroadcastNestedLoopJoin/cartesian. Bucketize time so it
  becomes an equi-join on (key, bucket) plus a cheap residual filter
  — with interval length <= bucket width each interval spans at most
  2 buckets (bounded explode) and each (point, interval) pair meets
  exactly once (a point lives in exactly one bucket);
- rolling aggregates use window RANGE frames over integer epoch
  micros — Spark evaluates them in one pass per partition, and the
  frame semantics (inclusive bound, all peers of the current
  timestamp) match ANSI RANGE exactly, so results are
  oracle-reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .windows import duration_micros


def asof_join(
    points: DataFrame,
    snapshots: DataFrame,
    key: str,
    ts: str = "ts",
    value_col: str = "value",
    out_col: str = "asof_value",
) -> DataFrame:
    """For each point row, attach the value of the latest snapshot row
    with the same key and snapshot ts <= point ts (ASOF LEFT JOIN).

    Plan: tag both inputs, union, one window over (key) ordered by
    (ts, tag) — snapshots sort before points at the same timestamp,
    so an exactly-simultaneous snapshot is visible to the point
    (matching SQL ASOF's >=) — then last(value, ignorenulls) carries
    the snapshot forward and a filter keeps the point rows. One
    shuffle on the key; no range join, no per-pair work; memory is
    O(1) per row (running last, not a collected list).

    Snapshots are deduplicated to one row per (key, ts) by max value
    first — duplicate simultaneous snapshots would otherwise make the
    carried value order-dependent.
    """
    snap = (
        snapshots.groupBy(F.col(key), F.col(ts))
        .agg(F.max(F.col(value_col)).alias("__sv"))
        .select(
            F.col(key),
            F.col(ts).alias("__ts"),
            F.lit(0).alias("__tag"),
            F.col("__sv"),
            F.lit(None).cast("long").alias("__pid"),
        )
    )
    pts = points.select(
        F.col(key),
        F.col(ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        F.lit(None).cast(snap.schema["__sv"].dataType).alias("__sv"),
        F.col("event_id").alias("__pid"),
    )
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("__ts").asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = snap.unionByName(pts).withColumn(
        "__asof", F.last("__sv", ignorenulls=True).over(w)
    )
    return merged.where(F.col("__tag") == 1).select(
        F.col("__pid").alias("event_id"),
        F.col(key),
        F.col("__ts").alias(ts),
        F.col("__asof").alias(out_col),
    )


def interval_count_join(
    intervals: DataFrame,
    points: DataFrame,
    key: str,
    ts: str = "ts",
    length: str = "30 minutes",
    bucket_micros: int = 30 * 60 * 1_000_000,
) -> DataFrame:
    """Per interval-opening row, count point rows of the same key
    inside [open_ts, open_ts + length) — the interval join, bucketized
    so it stays an equi-join.

    Each interval [t, t+L) with L <= bucket width spans at most two
    buckets: floor(t/B) and floor((t+L)/B) (sequence explode, bounded
    fan-out 2). Each point lives in exactly ONE bucket, so a
    qualifying (interval, point) pair meets exactly once — no
    dedup/distinct needed after the residual filter. Intervals with
    zero matches are restored by a left join of the base intervals
    against the counts (coalesce 0), preserving LEFT JOIN ... COUNT
    semantics.
    """
    iv = intervals.select(
        F.col("event_id").alias("__iid"),
        F.col(key),
        F.col(ts).alias("__open"),
        F.unix_micros(F.col(ts)).alias("__o_us"),
    ).withColumn(
        "__close_us",
        F.col("__o_us") + F.lit(duration_micros(length)),
    )
    iv_b = iv.withColumn(
        "__bkt",
        F.explode(
            F.sequence(
                F.floor(F.col("__o_us") / bucket_micros),
                F.floor((F.col("__close_us") - 1) / bucket_micros),
            )
        ),
    )
    pt = points.select(
        F.col(key),
        F.unix_micros(F.col(ts)).alias("__p_us"),
    ).withColumn("__bkt", F.floor(F.col("__p_us") / bucket_micros))
    hits = (
        iv_b.join(pt, [key, "__bkt"])
        .where(
            (F.col("__p_us") >= F.col("__o_us"))
            & (F.col("__p_us") < F.col("__close_us"))
        )
        .groupBy("__iid")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        iv.join(hits, "__iid", "left")
        .select(
            F.col("__iid").alias("event_id"),
            F.col(key),
            F.col("__open").alias(ts),
            F.coalesce(F.col("__n"), F.lit(0)).alias("n_points"),
        )
    )


def rolling_counts(
    df: DataFrame,
    key: str,
    ts: str = "ts",
    value_col: str = "value",
    window_micros: int = 3_600_000_000,
) -> DataFrame:
    """Per row: count and exact money-sum of the same key's rows in
    the trailing window (RANGE frame, inclusive lower bound, peers of
    the current timestamp included — ANSI semantics on both engines).
    The value sum goes through integer cents (round half-up once per
    row, summed exactly) so shuffled partial aggregation and the
    oracle's sequential sum agree bit-for-bit."""
    w = (
        Window.partitionBy(key)
        .orderBy(F.unix_micros(F.col(ts)))
        .rangeBetween(-int(window_micros), 0)
    )
    cents = F.round(F.col(value_col) * 100).cast("long")
    return df.select(
        F.col("event_id"),
        F.col(key),
        F.col(ts),
        F.count(F.lit(1)).over(w).alias("n_trailing"),
        (F.sum(cents).over(w) / 100.0).alias("value_trailing"),
    )
