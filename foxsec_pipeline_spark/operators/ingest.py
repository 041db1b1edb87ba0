"""Ingestion / serving-layer operators: CDC changelog apply,
replay-window dedup, deterministic order-statistic sampling, fixed
histograms, and full sessionization.

These are the warehouse-maintenance jobs that sit between the event
pipeline and its BigQuery-shaped sink (`output/CompositeOutput.java:
86-105` in the reference ships events/alerts to a warehouse; these
operators are what the warehouse side runs to keep serving tables
current). All are declarative single-shuffle DataFrame plans:

- CDC apply and keep-latest dedup use `max_by` over a struct ordering
  key — a HASH aggregation (map-side partial, no sort), not a
  row_number window: at 100 TB the difference is a per-partition sort
  per key-group vs a streaming hash update per row.
- The quantile sample is a bottom-k-by-hash order statistic computed
  in TWO bounded phases (per-salt top-k, then final top-k over ≤
  salt_buckets*k survivors) so no window partition ever exceeds a few
  thousand rows regardless of group skew; the final selection is
  byte-deterministic, which an engine-native sampler or
  percentile_approx is not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cdc_apply_latest(
    changelog: DataFrame,
    key_cols: list[str],
    op_col: str,
    delete_op: str,
    seq_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """Apply a CDC changelog (Debezium-style I/U/D stream) to produce
    the current snapshot: latest-wins per key by the (total) ordering
    `seq_cols`, rows whose final op is `delete_op` disappear.

    One shuffle on the key, hash-agg only (max_by over a struct
    ordering — no sort, map-side partials absorb per-key fan-in).
    `seq_cols` must be a total order per key (ts + unique id) or
    latest-wins is engine-dependent.
    """
    last = F.expr(
        f"max_by(struct({', '.join([op_col, *value_cols, *seq_cols])}), "
        f"struct({', '.join(seq_cols)}))"
    ).alias("__last")
    agg = changelog.groupBy(*key_cols).agg(
        last, F.count(F.lit(1)).alias("n_changes")
    )
    return agg.where(F.col(f"__last.{op_col}") != delete_op).select(
        *key_cols,
        *[F.col(f"__last.{c}").alias(c) for c in value_cols],
        *[F.col(f"__last.{c}").alias(c) for c in seq_cols],
        "n_changes",
    )


def dedup_keep_latest(
    df: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    keep_cols: list[str],
) -> DataFrame:
    """Replay/retry dedup: one row per key, the latest by `seq_cols`,
    plus how many duplicates were dropped — the batch twin of
    streaming `dropDuplicatesWithinWatermark` (the key typically
    includes a time bucket so state stays bounded; see the catalog
    entry). Hash-agg, one shuffle, no sort.
    """
    last = F.expr(
        f"max_by(struct({', '.join(dict.fromkeys([*keep_cols, *seq_cols]))}), "
        f"struct({', '.join(seq_cols)}))"
    ).alias("__last")
    agg = df.groupBy(*key_cols).agg(last, F.count(F.lit(1)).alias("__n"))
    out_cols = [c for c in dict.fromkeys([*keep_cols, *seq_cols])]
    return agg.select(
        *key_cols,
        *[F.col(f"__last.{c}").alias(c) for c in out_cols],
        (F.col("__n") - 1).alias("n_dups"),
    )


def bottomk_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int = 200,
    salt_buckets: int = 32,
) -> DataFrame:
    """Deterministic uniform sample per group: the k rows with the
    smallest md5(id) — a mergeable bottom-k order-statistic sketch
    (the hash is the random draw, so the sample is identical across
    engines, retries, and partitionings; `rand()` is none of those).

    Two-phase selection keeps every window partition bounded: phase 1
    takes the per-(group, salt) bottom-k (partitions ≤ group_rows /
    salt_buckets), phase 2 takes the bottom-k of the ≤ salt_buckets*k
    survivors. The result is exactly the global per-group bottom-k —
    a survivor of phase 2 must survive its phase-1 bucket.
    """
    h = F.md5(F.col(id_col).cast("string"))
    salt = (
        F.conv(F.substring(h, 9, 4), 16, 10).cast("long")
        % F.lit(int(salt_buckets))
    )
    w1 = Window.partitionBy(group_col, "__salt").orderBy("__h", id_col)
    w2 = Window.partitionBy(group_col).orderBy("__h", id_col)
    return (
        df.withColumn("__h", h)
        .withColumn("__salt", salt)
        .withColumn("__rn1", F.row_number().over(w1))
        .where(F.col("__rn1") <= k)
        .withColumn("__rn", F.row_number().over(w2))
        .where(F.col("__rn") <= k)
        .drop("__h", "__salt", "__rn1", "__rn")
    )


def sample_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    k: int = 200,
    n_quantiles: int = 10,
) -> DataFrame:
    """Approximate per-group quantiles from the deterministic bottom-k
    sample: quantile q_d (d = 1..n-1) is the sample value at the
    LOWER rank 1 + floor((n_s - 1) * d / n) — explicit rank selection,
    never an interpolating built-in (those differ across engines).
    Accuracy is the standard sample-quantile bound (±O(1/sqrt(k)) in
    rank); the win over percentile_approx is bit-exact determinism
    and mergeability. Output: (group, quantile, value_cents, n_sample).
    """
    samp = bottomk_sample(df, group_col, id_col, k=k)
    wv = Window.partitionBy(group_col).orderBy(value_col, id_col)
    ranked = (
        samp.withColumn("__vr", F.row_number().over(wv))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy(group_col)))
    )
    deciles = ranked.sparkSession.range(1, n_quantiles).select(
        F.col("id").alias("quantile")
    )
    return (
        ranked.join(
            F.broadcast(deciles),
            F.col("__vr")
            == F.expr(f"((__n - 1) * quantile) div {int(n_quantiles)} + 1"),
        )
        .select(
            F.col(group_col),
            "quantile",
            F.round(F.col(value_col) * 100).cast("long").alias("value_cents"),
            F.col("__n").cast("long").alias("n_sample"),
        )
    )


def histogram_fixed_width(
    df: DataFrame,
    group_col: str,
    value_col: str,
    width: float,
) -> DataFrame:
    """Fixed-width histogram per group with a cumulative count: bucket
    = floor(value / width). One partial-agged shuffle on
    (group, bucket); the cumulative window runs over the tiny
    aggregated output (buckets per group = value_range / width), not
    the input. Integer cents throughout.
    """
    bucket = F.floor(F.col(value_col) / F.lit(float(width)))
    agg = (
        df.groupBy(F.col(group_col), bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col(value_col) * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
    )
    wc = (
        Window.partitionBy(group_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return agg.select(
        group_col,
        "bucket",
        (F.col("bucket") * int(round(width * 100))).alias("bucket_lo_cents"),
        "n",
        "sum_cents",
        F.sum("n").over(wc).alias("cum_n"),
    )


def sessionize_full(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    page_col: str,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Gap-based sessionization with per-session landing/exit pages —
    the clickstream shape (`customs/CustomsSessions` analog with page
    attribution). lag -> new-session flag -> running sum = session
    number; first/last page via ordered window; every window shares
    the ONE shuffle + sort on the key (Catalyst reuses the exchange
    and the sort order across the lag, cumsum, and first/last passes).
    Output: one row per session with start/end/duration_sec/n_events/
    landing/exit.

    Boundary: a new session starts only when the delta to the previous
    event EXCEEDS `gap_seconds` (`>`), so delta == gap merges. The
    other session operators (`windows.gap_session`,
    `customs.sessionize`, `streaming.panes`) split at delta == gap, as
    Beam does; this one keeps its clickstream oracle's convention.
    """
    wo = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    new_s = F.when(
        F.col("__prev").isNull()
        | (
            F.unix_micros(F.col(ts_col)) - F.unix_micros(F.col("__prev"))
            > gap_seconds * 1_000_000
        ),
        1,
    ).otherwise(0)
    ws = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged = (
        df.withColumn("__prev", F.lag(ts_col).over(wo))
        .withColumn("__new", new_s)
        .withColumn("session_n", F.sum("__new").over(ws))
    )
    wsess = Window.partitionBy(key_col, "session_n").orderBy(ts_col, id_col)
    wall = wsess.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    with_pages = tagged.withColumn(
        "landing", F.first(page_col).over(wsess)
    ).withColumn("exit", F.last(page_col).over(wall))
    return (
        with_pages.groupBy(key_col, "session_n", "landing", "exit")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn(
            "duration_sec",
            F.expr(
                "(unix_micros(session_end) - unix_micros(session_start)) "
                "div 1000000"
            ),
        )
    )


def countmin_cells(
    items: DataFrame,
    item_col: str = "item",
    depth: int = 4,
    width: int = 128,
) -> DataFrame:
    """Build a Count-Min sketch (Cormode & Muthukrishnan 2005) over an
    item stream as a (row, col) -> count cell table: for each of
    `depth` hash rows, an item lands in column
    md5(row || '|' || item) % width and every cell is a plain SUM.

    The sketch is a pure hash-aggregation — map-side combinable and
    mergeable across partitions/days by cell-wise addition, which is
    the only sketch shape that works at 100 TB (the d*w counter grid
    is a few KB regardless of stream size, so it broadcasts; cf. the
    same posture as the Bloom decontamination filter). The md5-derived
    hash family is engine-portable, so an external system can probe
    the same sketch bytes.
    """
    rows = F.explode(
        F.sequence(F.lit(0), F.lit(int(depth) - 1))
    ).alias("cm_row")
    cells = (
        items.select(F.col(item_col).alias("_item"), rows)
        .select(
            "cm_row",
            F.expr(
                f"cast(conv(substring(md5(concat(cast(cm_row as string), "
                f"'|', _item)), 1, 8), 16, 10) as bigint) % {int(width)}"
            ).alias("cm_col"),
        )
        .groupBy("cm_row", "cm_col")
        .agg(F.count(F.lit(1)).alias("cm_count"))
    )
    return cells


def countmin_estimate(
    probes: DataFrame,
    cells: DataFrame,
    item_col: str = "item",
    depth: int = 4,
    width: int = 128,
) -> DataFrame:
    """Point-query the Count-Min sketch for each probe item: the
    estimate is min over rows of the item's cell count (missing cell
    => 0). The classic guarantee holds by construction: estimate >=
    true count, and overshoot <= eps*N with probability 1-delta for
    w = ceil(e/eps), d = ceil(ln 1/delta).

    Scale: the probe side joins against the d*w-cell table — tiny, so
    it broadcasts; one row per (probe, row) before the min-agg."""
    p = probes.select(
        F.col(item_col).alias("_item"),
        F.explode(F.sequence(F.lit(0), F.lit(int(depth) - 1))).alias(
            "cm_row"
        ),
    ).select(
        "_item",
        "cm_row",
        F.expr(
            f"cast(conv(substring(md5(concat(cast(cm_row as string), "
            f"'|', _item)), 1, 8), 16, 10) as bigint) % {int(width)}"
        ).alias("cm_col"),
    )
    joined = p.join(F.broadcast(cells), ["cm_row", "cm_col"], "left")
    return (
        joined.groupBy("_item")
        .agg(
            F.min(F.coalesce("cm_count", F.lit(0).cast("long"))).alias(
                "cm_estimate"
            )
        )
        .select(F.col("_item").alias(item_col), "cm_estimate")
    )


def ivm_merge_agg(view: DataFrame, delta: DataFrame, keys: list[str]) -> DataFrame:
    """Incremental view maintenance for self-maintainable aggregates:
    merge a materialized aggregate view with a (pre-aggregated)
    insert-only delta WITHOUT rescanning the base table.

    Both inputs carry the same schema: ``keys`` + the aggregate
    columns ``n_events`` (count), ``sum_cents`` (sum), ``min_cents``
    / ``max_cents`` (insert-only min/max — maintainable because
    inserts can only tighten them; under deletes min/max stop being
    self-maintainable and need the full-recompute path). The merge is
    one full-outer join on the GROUPING KEYS — view-dimension sized,
    never fact-dimension — with null-safe aggregate combination.

    At 100 TB this is the serving-table refresh shape: the nightly
    view is KEY-dimension KBs/MBs, the delta is one partition of new
    facts, and the merge never touches historical facts again.
    """
    v = view.select(
        *[F.col(k).alias(f"__vk_{k}") for k in keys],
        F.col("n_events").alias("__vn"),
        F.col("sum_cents").alias("__vs"),
        F.col("min_cents").alias("__vmin"),
        F.col("max_cents").alias("__vmax"),
    )
    d = delta.select(
        *[F.col(k).alias(f"__dk_{k}") for k in keys],
        F.col("n_events").alias("__dn"),
        F.col("sum_cents").alias("__ds"),
        F.col("min_cents").alias("__dmin"),
        F.col("max_cents").alias("__dmax"),
    )
    cond = None
    for k in keys:
        c = F.col(f"__vk_{k}").eqNullSafe(F.col(f"__dk_{k}"))
        cond = c if cond is None else (cond & c)
    merged = v.join(d, cond, "full_outer")
    out_keys = [
        F.coalesce(F.col(f"__vk_{k}"), F.col(f"__dk_{k}")).alias(k)
        for k in keys
    ]
    return merged.select(
        *out_keys,
        (F.coalesce(F.col("__vn"), F.lit(0))
         + F.coalesce(F.col("__dn"), F.lit(0))).cast("long").alias("n_events"),
        (F.coalesce(F.col("__vs"), F.lit(0))
         + F.coalesce(F.col("__ds"), F.lit(0))).cast("long").alias("sum_cents"),
        F.least(
            F.coalesce(F.col("__vmin"), F.col("__dmin")),
            F.coalesce(F.col("__dmin"), F.col("__vmin")),
        ).cast("long").alias("min_cents"),
        F.greatest(
            F.coalesce(F.col("__vmax"), F.col("__dmax")),
            F.coalesce(F.col("__dmax"), F.col("__vmax")),
        ).cast("long").alias("max_cents"),
    )
