"""Skew-resistant aggregation — two-phase salted combines.

The reference's per-IP counters hit the same wall every log pipeline
does: one hot source (a scanner, a megaproxy) concentrates a window's
rows on one reducer. Beam leaned on Dataflow's dynamic work rebalancing
plus `Reshuffle`; the Spark-first answer is (1) AQE skew handling where
a join is involved, and (2) explicit salting for pure aggregations:
shard each key into `salt` sub-keys, partially aggregate, then combine
the shards. Two shuffles, but the first spreads the hot key across
`salt` reducers — worst-reducer load drops by ~salt×.

Results are bit-identical to the unsalted aggregate for any
commutative-associative agg (count/sum/min/max), which the
`salted_hard_limit` catalog query proves against the same DuckDB
oracle as the unsalted plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .windows import time_window, windowed_agg


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Fan a narrow input out across the cluster before expensive
    per-row compute — the Beam `Reshuffle` anti-fusion analog
    (`gatekeeper/ETDTransforms.java:295-298` breaks step fusion the
    same way).

    A scan's parallelism is its split count; parquet row groups are
    the atomic split, so a single-row-group file runs every fused
    map-side expression on ONE core no matter the cluster size
    (measured: the whole MinHash signature pipeline at sf0.1 ran
    1-of-32 threads — 4.7 s for work that takes 0.3 s spread). A
    100 TB table scans as thousands of splits, so this is a no-op
    there (and must be: an unconditional repartition would shuffle
    the full corpus). Round-robin placement only — content-level
    results are unchanged.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    # big-input short circuit from Catalyst's own size estimate: an
    # input whose optimized-plan sizeInBytes already exceeds target x
    # maxPartitionBytes scans at least `target` splits, so spread is a
    # no-op — decided WITHOUT the plan-to-RDD conversion that
    # df.rdd.getNumPartitions() forces (driver-side planning cost that
    # repeats per call site and grows with plan width at 100 TB).
    # Small inputs fall through to the exact partition-count check,
    # where the RDD conversion is cheap.
    try:
        raw_size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        size = int(raw_size if isinstance(raw_size, int) else raw_size.toString())
        raw = str(
            df.sparkSession.conf.get(
                "spark.sql.files.maxPartitionBytes", "134217728b"
            )
        )
        max_part = int("".join(c for c in raw if c.isdigit()) or "134217728")
        if size >= target * max_part:
            return df
    except Exception:
        pass  # estimate unavailable -> exact check below
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def salted_windowed_counts(
    df: DataFrame,
    key: str,
    ts: str = "ts",
    duration: str = "1 minute",
    salt: int = 16,
    salt_source: Column | None = None,
) -> DataFrame:
    """Per-(window, key) counts via salted two-phase aggregation.

    `salt_source` defaults to a deterministic row attribute spread
    (crc32 of the row's monotonically varying columns is NOT available
    generically, so callers pass one — e.g. an event id); determinism
    keeps tests/oracles exact. spark_partition_id() is the
    non-deterministic production alternative.
    """
    s = (
        (salt_source % salt)
        if salt_source is not None
        else (F.spark_partition_id() % salt)
    )
    partial = windowed_agg(
        df, [key, s.alias("__salt")], time_window(ts, duration),
        F.count(F.lit(1)).alias("__pn"),
    )
    return partial.groupBy("window_start", key).agg(F.sum("__pn").alias("n"))
