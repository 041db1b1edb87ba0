"""Catalog tranche: ingestion & serving shapes — CDC
changelog apply, replay-window dedup, deterministic quantile
sampling, fixed-width histograms, ROLLUP readouts, URL
canonicalization, full clickstream sessionization, time-of-day pivot
matrices, and infrastructure co-occurrence correlation.

These complete the warehouse side of the reference's pipeline: the
event stream lands in a warehouse (`output/CompositeOutput.java:
86-105`), and these are the maintenance/readout jobs that run there.
Determinism discipline matches the rest of the catalog: money through
integer cents, ratios as integer ppm, orderings carry an event_id
tie-break, deterministic md5 draws instead of rand(), and every
floating column is rounded identically on both engines.

Scale notes per query live in the `doc=`; the tranche-wide posture:
every query is ONE shuffle on its natural key (hash-agg where the
semantics allow, window only where order is the semantics), windows
only ever run over bounded partitions or post-aggregation outputs,
and the one self-join (co-occurrence) is keyed so its fan-out equals
the output's information content.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import normalize_url
from ..operators.ingest import (
    cdc_apply_latest,
    dedup_keep_latest,
    histogram_fixed_width,
    sample_quantiles,
    sessionize_full,
)
from ..session import load_tables
from .catalog import register


def _events(spark, sf_dir):
    return load_tables(spark, sf_dir, "events")["events"]


@register(
    "cdc_merge_upserts",
    """
WITH ranked AS (
  SELECT user_id, event_type, value, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_changes
  FROM events
)
SELECT user_id,
       CAST(round(value * 100) AS BIGINT) AS value_cents,
       ts, n_changes
FROM ranked WHERE rn = 1 AND event_type <> 'error'
""",
    doc="CDC changelog apply (Debezium-style latest-wins snapshot): "
        "the events stream read as a changelog keyed on user_id — "
        "'error' rows are delete markers, everything else upserts; "
        "the snapshot is the latest surviving row per key plus a "
        "change count. Spark plan is a HASH aggregation (max_by over "
        "the (ts, event_id) struct ordering, map-side partials) — "
        "one shuffle, NO per-key sort; the oracle's row_number "
        "formulation is the same function computed the slow way. "
        "At 100 TB this is how a serving table is rebuilt from a log "
        "compaction: partition-parallel, no row-at-a-time MERGE",
)
def q_cdc_merge_upserts(spark, sf_dir):
    ev = _events(spark, sf_dir)
    snap = cdc_apply_latest(
        ev,
        key_cols=["user_id"],
        op_col="event_type",
        delete_op="error",
        seq_cols=["ts", "event_id"],
        value_cols=["value"],
    )
    return snap.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        "ts",
        "n_changes",
    )


@register(
    "window_dedup_latest",
    """
WITH b AS (
  SELECT user_id, event_type, event_id, ts, value,
         epoch_us(ts) // 600000000 AS bucket_id
  FROM events
), r AS (
  SELECT user_id, event_type, bucket_id, event_id, ts,
         row_number() OVER (PARTITION BY user_id, event_type, bucket_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id, event_type, bucket_id)
           AS n
  FROM b
)
SELECT user_id, event_type, bucket_id,
       event_id AS last_event_id, ts AS last_ts, n - 1 AS n_dups
FROM r WHERE rn = 1 AND n > 1
""",
    doc="replay dedup within a 10-minute bucket: retried/replayed "
        "deliveries of the same logical event (same user, same type, "
        "same time bucket) collapse to the latest copy, reporting how "
        "many were dropped — the batch twin of streaming "
        "dropDuplicatesWithinWatermark, where the time bucket is what "
        "bounds state. Hash-agg (max_by), one shuffle on the "
        "(user, type, bucket) key, output restricted to keys that "
        "actually had duplicates",
)
def q_window_dedup_latest(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "bucket_id", F.expr("unix_micros(ts) div 600000000")
    )
    out = dedup_keep_latest(
        ev,
        key_cols=["user_id", "event_type", "bucket_id"],
        seq_cols=["ts", "event_id"],
        keep_cols=["event_id", "ts"],
    )
    return out.where(F.col("n_dups") > 0).select(
        "user_id", "event_type", "bucket_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        "n_dups",
    )


@register(
    "approx_quantile_sketch",
    """
WITH h AS (
  SELECT event_type, event_id, value,
         md5(event_id::VARCHAR) AS hh
  FROM events
), samp AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY hh, event_id) AS rn
  FROM h
), s AS (
  SELECT event_type, value, event_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS vr,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM samp WHERE rn <= 200
), d AS (SELECT unnest(range(1, 10)) AS quantile)
SELECT s.event_type, d.quantile,
       CAST(round(s.value * 100) AS BIGINT) AS value_cents,
       s.n AS n_sample
FROM s JOIN d ON s.vr = ((s.n - 1) * d.quantile) // 10 + 1
""",
    doc="deterministic quantile sketch: per-group deciles from the "
        "bottom-200-by-md5(id) sample — a mergeable order-statistic "
        "sketch whose draw is the hash, so the result is bit-identical "
        "across engines, retries, and partitionings (percentile_approx "
        "and rand()-samples are neither). Spark computes the bottom-k "
        "in TWO bounded phases (per-salt top-k, then top-k of the "
        "<=32*200 survivors) so no window partition scales with group "
        "size; the oracle's single window is the same selection. "
        "Quantiles by explicit LOWER-rank selection, never an "
        "interpolating builtin. Accuracy vs exact deciles is "
        "measured in tests/test_ingest_ops.py",
)
def q_approx_quantile_sketch(spark, sf_dir):
    return sample_quantiles(
        _events(spark, sf_dir),
        group_col="event_type",
        value_col="value",
        id_col="event_id",
        k=200,
        n_quantiles=10,
    )


@register(
    "value_histogram",
    """
WITH agg AS (
  SELECT event_type, CAST(floor(value / 25.0) AS BIGINT) AS bucket,
         count(*) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents
  FROM events GROUP BY 1, 2
)
SELECT event_type, bucket, bucket * 2500 AS bucket_lo_cents, n,
       sum_cents,
       CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bucket
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
FROM agg
""",
    doc="fixed-width histogram + CDF per event_type: one partial-agged "
        "shuffle on (type, bucket) — the map side collapses each "
        "partition to at most n_types*n_buckets rows, so shuffle bytes "
        "are O(buckets) not O(rows); the cumulative window runs over "
        "the tiny aggregated output. The at-scale readout behind every "
        "latency/value dashboard",
)
def q_value_histogram(spark, sf_dir):
    return histogram_fixed_width(
        _events(spark, sf_dir),
        group_col="event_type",
        value_col="value",
        width=25.0,
    )


@register(
    "order_rollup_revenue",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       count(*) AS n_orders,
       CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
""",
    doc="ROLLUP grouping-sets aggregation: revenue by "
        "(status, priority) with per-status subtotals and a grand "
        "total in ONE pass — Spark expands the grouping sets before "
        "the exchange, so the three granularities cost one shuffle, "
        "not three jobs; grouping_id disambiguates NULL-as-rolled-up "
        "from NULL-in-data on both engines (bit order: first grouping "
        "column is the MSB in Spark AND DuckDB/Postgres)",
)
def q_order_rollup_revenue(spark, sf_dir):
    o = load_tables(spark, sf_dir, "orders")["orders"]
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "revenue_cents"
            ),
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


@register(
    "url_normalize_stats",
    """
WITH raw AS (
  SELECT user_id, event_id,
         'HTTP://Shop-' || (user_id % 3)::VARCHAR || '.Example.COM'
         || CASE WHEN event_id % 2 = 0 THEN ':80' ELSE '' END
         || '/' || CASE WHEN event_id % 4 = 0 THEN '/' ELSE '' END
         || event_type
         || CASE WHEN event_id % 3 = 0 THEN '/' ELSE '' END
         || '?utm_source=' || (event_id % 7)::VARCHAR
         || CASE WHEN event_id % 5 = 0 THEN '#top' ELSE '' END AS url
  FROM events
), norm AS (
  SELECT user_id,
         regexp_replace(lower(regexp_extract(url, '^([^/]*//[^/?#]*)', 1)),
                        ':(80|443)$', '')
         || regexp_replace(
              regexp_replace(
                regexp_extract(url, '^[^/]*//[^/?#]*(/[^?#]*)', 1),
                '/{2,}', '/', 'g'),
              '/$', '') AS url
  FROM raw
)
SELECT url, count(*) AS n_requests,
       count(DISTINCT user_id) AS n_users
FROM norm GROUP BY url
""",
    doc="URL canonicalization + per-URL traffic counts — the "
        "normalization the reference applies when splitting "
        "requestUrl into host/path legs (parser/Normalized.java:48, "
        "469-478; consumed by httprequest/HTTPRequest.java:128 and "
        "the path/host standard filters): lowercase scheme+host, drop "
        "default ports, drop query+fragment, collapse duplicate "
        "slashes, strip trailing slash. Raw URLs are synthesized "
        "deterministically from the events table (the corpus has no "
        "URL column) with every normalization case exercised. Pure "
        "string expressions -> whole-stage codegen; one agg shuffle "
        "on the normalized key",
)
def q_url_normalize_stats(spark, sf_dir):
    ev = _events(spark, sf_dir)
    raw = ev.select(
        "user_id",
        F.concat(
            F.lit("HTTP://Shop-"),
            (F.col("user_id") % 3).cast("string"),
            F.lit(".Example.COM"),
            F.when(F.col("event_id") % 2 == 0, ":80").otherwise(""),
            F.lit("/"),
            F.when(F.col("event_id") % 4 == 0, "/").otherwise(""),
            F.col("event_type"),
            F.when(F.col("event_id") % 3 == 0, "/").otherwise(""),
            F.lit("?utm_source="),
            (F.col("event_id") % 7).cast("string"),
            F.when(F.col("event_id") % 5 == 0, "#top").otherwise(""),
        ).alias("url"),
    )
    return (
        raw.select("user_id", normalize_url(F.col("url")).alias("url"))
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "sessionize_clickstream",
    """
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_ts
  FROM events
), f AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                 THEN 1 ELSE 0 END AS new_s
  FROM o
), s AS (
  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
              AS session_n
  FROM f
), p AS (
  SELECT *,
         first_value(event_type) OVER w AS landing,
         last_value(event_type) OVER
           (PARTITION BY user_id, session_n ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS exit
  FROM s
  WINDOW w AS (PARTITION BY user_id, session_n ORDER BY ts, event_id)
)
SELECT user_id, session_n, landing, exit,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000
         AS duration_sec
FROM p GROUP BY user_id, session_n, landing, exit
""",
    doc="full clickstream sessionization (30-min gap) with per-session "
        "landing/exit pages, duration, and size — the per-session "
        "readout the reference's session heuristics summarize "
        "(`customs/CustomsSessions`, `HTTPRequest` session legs) plus "
        "the page attribution a product-analytics pipeline adds. ONE "
        "shuffle + sort on user_id serves the lag, the session-number "
        "cumsum, and the first/last-page windows (same partitioning + "
        "ordering -> Catalyst reuses the exchange and sort); the final "
        "agg is 1:1 with sessions",
)
def q_sessionize_clickstream(spark, sf_dir):
    out = sessionize_full(
        _events(spark, sf_dir),
        key_col="user_id",
        ts_col="ts",
        id_col="event_id",
        page_col="event_type",
        gap_seconds=1800,
    )
    return out.select(
        "user_id", "session_n", "landing", "exit",
        "session_start", "session_end", "n_events", "duration_sec",
    )


@register(
    "pivot_event_matrix",
    """
SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hour,
       count(*) FILTER (WHERE event_type = 'click')    AS click,
       count(*) FILTER (WHERE event_type = 'view')     AS view,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
       count(*) FILTER (WHERE event_type = 'error')    AS error,
       count(*) AS total,
       (count(*) FILTER (WHERE event_type = 'purchase') * 1000000)
         // count(*) AS purchase_ppm
FROM events GROUP BY 1
""",
    doc="time-of-day x event-type activity matrix via pivot with an "
        "EXPLICIT value list (groupBy(hour).pivot(type, [...])): the "
        "explicit list keeps the plan a single-pass pivot aggregation "
        "— without it Spark runs an extra distinct job to discover "
        "columns, a full scan at 100 TB; with it the pivot is one "
        "partial-agged shuffle on 24 keys. Conversion share as "
        "integer ppm",
)
def q_pivot_event_matrix(spark, sf_dir):
    ev = _events(spark, sf_dir)
    types = ["click", "view", "purchase", "signup", "error"]
    piv = (
        ev.groupBy(F.hour("ts").cast("long").alias("hour"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    piv = piv.select(
        "hour",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in types],
    )
    total = sum((F.col(t) for t in types[1:]), F.col(types[0]))
    return piv.withColumn("total", total).withColumn(
        "purchase_ppm", F.expr("(purchase * 1000000) div total")
    )


@register(
    "suspicious_ip_cooccurrence",
    """
WITH base AS (
  SELECT DISTINCT
         CAST(regexp_extract(props, '([0-9]+)', 1) AS INTEGER) AS ip,
         user_id, date_trunc('hour', ts) AS hw
  FROM events
), multi AS (
  SELECT ip FROM base GROUP BY ip HAVING count(*) >= 2
), capped AS (
  SELECT ip, user_id, hw FROM (
    SELECT b.ip, b.user_id, b.hw,
           row_number() OVER (PARTITION BY b.user_id, b.hw
                              ORDER BY b.ip) AS rn
    FROM base b JOIN multi USING (ip)
  ) WHERE rn <= 64
)
SELECT a.ip AS ip_a, b.ip AS ip_b, count(*) AS n_shared,
       count(DISTINCT a.user_id) AS n_users
FROM capped a JOIN capped b ON a.user_id = b.user_id AND a.hw = b.hw
                            AND a.ip < b.ip
GROUP BY 1, 2 HAVING count(*) >= 2
""",
    doc="infrastructure co-occurrence: pairs of source addresses (the "
        "payload's k field as the address id) that act on the SAME "
        "user within the SAME hour, counted across (user, hour) cells "
        "— shared-botnet/proxy-cluster detection, the pairwise "
        "generalization of the reference's source correlator "
        "(`SourceCorrelation.java` family). Two bounds keep the "
        "per-cell pair fan-out from exploding on a credential-stuffed "
        "account that sees 1e4-1e5 distinct addresses in one hour: "
        "(1) a LOSSLESS pre-filter — an address in "
        "fewer than 2 distinct (user,hour) cells can never reach a "
        "pair with n_shared >= 2, so singleton-cell addresses (the "
        "overwhelming majority under skew) are dropped by a cheap "
        "semi-join BEFORE pair generation; (2) a deterministic per-"
        "cell cap — row_number over (user,hour) ordered by ip keeps "
        "at most 64 addresses per cell, turning the worst-case cell "
        "from 1e10 pairs into <=2016. The cap's dropped mass is "
        "observable via cooccurrence_cell_overflow(). One distinct "
        "shuffle, one ip-keyed agg + semi-join, one window pass, one "
        "equi-join shuffle — every stage bounded",
)
def q_suspicious_ip_cooccurrence(spark, sf_dir):
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    base = ev.select(
        F.regexp_extract("props", r"([0-9]+)", 1).cast("int").alias("ip"),
        "user_id",
        F.date_trunc("hour", "ts").alias("hw"),
    ).distinct()
    # lossless: HAVING n_shared >= 2 needs each pair ip in >= 2 cells.
    # Expressed as an unordered window count (one ip shuffle of base)
    # instead of groupBy + semi-join (two) — result-identical to the
    # oracle's GROUP BY ... HAVING >= 2 semi-join formulation
    w_ip = Window.partitionBy("ip")
    filt = (
        base.withColumn("__cells", F.count(F.lit(1)).over(w_ip))
        .where(F.col("__cells") >= 2)
        .drop("__cells")
    )
    # deterministic per-cell cap: linear window pass, bounds the
    # quadratic self-join fan-out at 64*63/2 pairs per cell; the
    # (user_id, hw) partitioning carries into the self-join keys so
    # the pair join reuses this exchange
    w = Window.partitionBy("user_id", "hw").orderBy("ip")
    capped = (
        filt.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 64)
        .drop("rn")
    )
    a = capped.alias("a")
    b = capped.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.hw") == F.col("b.hw"))
        & (F.col("a.ip") < F.col("b.ip")),
    )
    return (
        pairs.groupBy(
            F.col("a.ip").alias("ip_a"), F.col("b.ip").alias("ip_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.countDistinct(F.col("a.user_id")).alias("n_users"),
        )
        .where(F.col("n_shared") >= 2)
    )


def cooccurrence_cell_overflow(spark, sf_dir, cap: int = 64):
    """Companion observability query for `suspicious_ip_cooccurrence`:
    the (user, hour) cells whose distinct-address count exceeds the
    per-cell cap, with the dropped-address mass — run it to log what
    the cap discarded instead of paying an extra action in the hot
    path."""
    ev = _events(spark, sf_dir)
    base = ev.select(
        F.regexp_extract("props", r"([0-9]+)", 1).cast("int").alias("ip"),
        "user_id",
        F.date_trunc("hour", "ts").alias("hw"),
    ).distinct()
    return (
        base.groupBy("user_id", "hw")
        .agg(F.count(F.lit(1)).alias("n_addrs"))
        .where(F.col("n_addrs") > cap)
        .select(
            "user_id", "hw", "n_addrs",
            (F.col("n_addrs") - cap).alias("n_dropped"),
        )
    )


@register(
    "seasonal_anomaly",
    """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS window_start,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), prof AS (
  SELECT event_type, CAST(extract(hour FROM window_start) AS BIGINT) AS hod,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(c * c) AS BIGINT) AS ss
  FROM hourly GROUP BY 1, 2
)
SELECT h.event_type, h.window_start, h.c AS n_events,
       p.n AS n_baseline_windows,
       (p.n * h.c > p.s)
         AND ((p.n * h.c - p.s) * (p.n * h.c - p.s)
              > 9 * (p.n * p.ss - p.s * p.s)) AS flagged
FROM hourly h
JOIN prof p ON h.event_type = p.event_type
           AND CAST(extract(hour FROM h.window_start) AS BIGINT) = p.hod
""",
    doc="seasonal-baseline anomaly detection: each (event_type, hour) "
        "window is compared against the hour-of-day seasonal profile "
        "built from ALL observed windows of that type — the cross-"
        "window generalization of within-window threshold analysis "
        "(a 3 a.m. burst that would be normal at noon flags; a noon "
        "burst does not). The 3-sigma test runs ENTIRELY in integer "
        "arithmetic — (n*c - s)^2 > 9*(n*ss - s^2) is the population "
        "z-test cleared of divisions — so no float accumulation-order "
        "hazard exists between engines. Scale: one hourly hash-agg, "
        "one tiny profile agg (types x 24 rows) broadcast back onto "
        "the windows; both map-side-combined",
)
def q_seasonal_anomaly(spark, sf_dir):
    ev = _events(spark, sf_dir)
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("window_start")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    prof = (
        hourly.groupBy(
            "event_type", F.hour("window_start").cast("long").alias("hod")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("s"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
        )
    )
    h = hourly.withColumn("hod", F.hour("window_start").cast("long"))
    dev = F.col("n") * F.col("c") - F.col("s")
    var_n2 = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    return (
        h.join(F.broadcast(prof), ["event_type", "hod"])
        .select(
            "event_type", "window_start",
            F.col("c").alias("n_events"),
            F.col("n").alias("n_baseline_windows"),
            ((dev > 0) & (dev * dev > 9 * var_n2)).alias("flagged"),
        )
    )


@register(
    "data_quality_checks",
    """
WITH ev AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (user_id IS NULL) AS BIGINT) AS n_null_user,
         CAST(date_diff('day', CAST(min(ts) AS DATE),
                        CAST(max(ts) AS DATE)) AS BIGINT) AS span_days
  FROM events
), ord AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_keys,
         CAST(count(*) FILTER (o.o_orderstatus NOT IN ('O', 'F', 'P'))
              AS BIGINT) AS n_bad_status,
         CAST(count(*) FILTER (c.c_custkey IS NULL) AS BIGINT) AS n_orphans
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
), li AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (l_quantity < 1 OR l_quantity > 50)
              AS BIGINT) AS n_qty_bad,
         CAST(count(*) FILTER (l_discount < 0 OR l_discount > 0.1)
              AS BIGINT) AS n_disc_bad
  FROM lineitem
)
SELECT 'events' AS table_name, 'null_user_id' AS check_name,
       CAST(n_null_user * 1000000 // n AS BIGINT) AS metric,
       n_null_user * 1000 <= n AS passed FROM ev
UNION ALL
SELECT 'events', 'freshness_span_days', span_days,
       span_days BETWEEN 1 AND 400 FROM ev
UNION ALL
SELECT 'orders', 'unique_orderkey',
       CAST((n - n_keys) * 1000000 // n AS BIGINT), n = n_keys FROM ord
UNION ALL
SELECT 'orders', 'fk_customer',
       CAST(n_orphans * 1000000 // n AS BIGINT), n_orphans = 0 FROM ord
UNION ALL
SELECT 'orders', 'accepted_status',
       CAST(n_bad_status * 1000000 // n AS BIGINT), n_bad_status = 0
FROM ord
UNION ALL
SELECT 'lineitem', 'quantity_range',
       CAST(n_qty_bad * 1000000 // n AS BIGINT), n_qty_bad = 0 FROM li
UNION ALL
SELECT 'lineitem', 'discount_range',
       CAST(n_disc_bad * 1000000 // n AS BIGINT), n_disc_bad = 0 FROM li
""",
    doc="declarative data-quality/constraint suite (the Deequ-style "
        "expectation run a warehouse executes after every load): "
        "completeness (null ppm), uniqueness (dup-key ppm), "
        "referential integrity (orphan FK ppm via one broadcast left "
        "join), accepted-value sets, numeric range conformance, and "
        "freshness span — each table computes ALL its checks in ONE "
        "aggregation pass (the FILTER-clause multi-agg), then the "
        "single-row aggregates unpivot to (table, check, metric, "
        "passed) rows. Scale: one pass per table, map-side combined; "
        "the FK probe broadcasts the dimension; no check adds a "
        "second scan of any fact table",
)
def q_data_quality_checks(spark, sf_dir):
    t = load_tables(spark, sf_dir, "events", "orders", "customer",
                    "lineitem")
    ev = t["events"].agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("user_id").isNull(), 1)).alias("n_null_user"),
        F.datediff(F.max("ts").cast("date"), F.min("ts").cast("date"))
        .cast("long").alias("span_days"),
    )
    ordc = (
        t["orders"]
        .join(
            F.broadcast(t["customer"].select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("o_orderkey").alias("n_keys"),
            F.count(
                F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
            ).alias("n_bad_status"),
            F.count(F.when(F.col("c_custkey").isNull(), 1)).alias(
                "n_orphans"
            ),
        )
    )
    li = t["lineitem"].agg(
        F.count(F.lit(1)).alias("n"),
        F.count(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
        ).alias("n_qty_bad"),
        F.count(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1
            )
        ).alias("n_disc_bad"),
    )

    def checks(agg, rows):
        return agg.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(tbl).alias("table_name"),
                        F.lit(chk).alias("check_name"),
                        metric.cast("long").alias("metric"),
                        passed.alias("passed"),
                    )
                    for tbl, chk, metric, passed in rows
                ])
            ).alias("c")
        ).select("c.*")

    ev_checks = checks(ev, [
        ("events", "null_user_id",
         F.expr("(n_null_user * 1000000) div n"),
         F.col("n_null_user") * 1000 <= F.col("n")),
        ("events", "freshness_span_days", F.col("span_days"),
         F.col("span_days").between(1, 400)),
    ])
    ord_checks = checks(ordc, [
        ("orders", "unique_orderkey",
         F.expr("((n - n_keys) * 1000000) div n"),
         F.col("n") == F.col("n_keys")),
        ("orders", "fk_customer",
         F.expr("(n_orphans * 1000000) div n"), F.col("n_orphans") == 0),
        ("orders", "accepted_status",
         F.expr("(n_bad_status * 1000000) div n"),
         F.col("n_bad_status") == 0),
    ])
    li_checks = checks(li, [
        ("lineitem", "quantity_range",
         F.expr("(n_qty_bad * 1000000) div n"), F.col("n_qty_bad") == 0),
        ("lineitem", "discount_range",
         F.expr("(n_disc_bad * 1000000) div n"), F.col("n_disc_bad") == 0),
    ])
    return ev_checks.unionByName(ord_checks).unionByName(li_checks)


@register(
    "skew_diagnosis",
    """
WITH kc AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows FROM events
  GROUP BY user_id
), ranked AS (
  SELECT user_id, n_rows,
         row_number() OVER (ORDER BY n_rows, user_id) AS rk,
         count(*) OVER () AS nk,
         CAST(sum(n_rows) OVER () AS BIGINT) AS total
  FROM kc
), stats AS (
  SELECT max(n_rows) AS max_count,
         CAST(max(CASE WHEN rk = (nk + 1) // 2 THEN n_rows END)
              AS BIGINT) AS p50_count,
         CAST(max(CASE WHEN rk = (nk * 99 + 99) // 100 THEN n_rows END)
              AS BIGINT) AS p99_count,
         max(total) AS total
  FROM ranked
)
SELECT k.user_id, k.n_rows,
       CAST(k.n_rows * 1000000 // s.total AS BIGINT) AS share_ppm,
       s.p50_count, s.p99_count,
       CAST(k.n_rows * 100 // s.p50_count AS BIGINT) AS skew_ratio_x100,
       CAST((k.n_rows + s.p99_count - 1) // s.p99_count AS BIGINT)
         AS salt_factor
FROM kc k CROSS JOIN stats s
ORDER BY k.n_rows DESC, k.user_id LIMIT 10
""",
    doc="join/agg skew diagnosis — the pre-flight a pipeline runs "
        "before keying a 100 TB shuffle on a column: per-key row "
        "counts, the LOWER-rank p50/p99 of the count distribution "
        "(explicit row_number rank — interpolating percentiles are "
        "not cross-engine stable), each hot key's share and "
        "skew-ratio vs the median, and the recommended salt factor "
        "ceil(hot/p99) that `operators/skew.salted_agg` would need "
        "to level the worst reducer down to a p99-sized partition. "
        "Scale: one hash-agg on the key (map-side combined); all "
        "ranking/statistics run over the DISTINCT-KEY table, not the "
        "rows; top-10 via TakeOrdered",
)
def q_skew_diagnosis(spark, sf_dir):
    ev = _events(spark, sf_dir)
    kc = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    w = Window.orderBy("n_rows", "user_id")
    ranked = kc.select(
        "user_id",
        "n_rows",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("nk"),
        F.sum("n_rows").over(Window.partitionBy()).cast("long")
        .alias("total"),
    )
    stats = ranked.agg(
        F.max("n_rows").alias("max_count"),
        F.max(
            F.when(F.col("rk") == F.expr("(nk + 1) div 2"), F.col("n_rows"))
        ).cast("long").alias("p50_count"),
        F.max(
            F.when(
                F.col("rk") == F.expr("(nk * 99 + 99) div 100"),
                F.col("n_rows"),
            )
        ).cast("long").alias("p99_count"),
        F.max("total").alias("total"),
    )
    return (
        kc.crossJoin(F.broadcast(stats))
        .select(
            "user_id",
            "n_rows",
            F.expr("(n_rows * 1000000) div total").alias("share_ppm"),
            "p50_count",
            "p99_count",
            F.expr("(n_rows * 100) div p50_count").alias("skew_ratio_x100"),
            F.expr("(n_rows + p99_count - 1) div p99_count").alias(
                "salt_factor"
            ),
        )
        .orderBy(F.col("n_rows").desc(), "user_id")
        .limit(10)
    )


def _interleave_bits_sql(ucol: str, hcol: str, bits: int, shift) -> str:
    """Morton/Z-order bit interleave as a pure integer expression,
    rendered for either engine via the `shift` dialect hook."""
    terms = []
    for i in range(bits):
        terms.append(shift(ucol, i, 2 * i + 1))
        terms.append(shift(hcol, i, 2 * i))
    return " + ".join(terms)


_Z_SPARK = _interleave_bits_sql(
    "un", "hn", 8,
    lambda c, i, o: f"shiftleft(shiftright({c}, {i}) & 1, {o})",
)
_Z_DUCK = _interleave_bits_sql(
    "un", "hn", 8,
    lambda c, i, o: f"((({c} >> {i}) & 1) << {o})",
)


@register(
    "zorder_layout_stats",
    f"""
WITH base AS (
  SELECT user_id AS u,
         CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS h
  FROM events
), ext AS (
  SELECT min(u) AS umin, max(u) AS umax, min(h) AS hmin, max(h) AS hmax
  FROM base
), norm AS (
  SELECT CAST((b.u - e.umin) * 256 // (e.umax - e.umin + 1) AS BIGINT)
           AS un,
         CAST((b.h - e.hmin) * 256 // (e.hmax - e.hmin + 1) AS BIGINT)
           AS hn
  FROM base b CROSS JOIN ext e
), keyed AS (
  SELECT un, hn,
         CAST(({_Z_DUCK}) >> 10 AS BIGINT) AS z_bucket,
         CAST(hn // 4 AS BIGINT) AS t_bucket
  FROM norm
), per AS (
  SELECT layout, bucket,
         CAST(max(un) - min(un) + 1 AS BIGINT) AS u_ext,
         CAST(max(hn) - min(hn) + 1 AS BIGINT) AS h_ext
  FROM (
    SELECT 'zorder' AS layout, z_bucket AS bucket, un, hn FROM keyed
    UNION ALL
    SELECT 'time', t_bucket, un, hn FROM keyed
  ) GROUP BY layout, bucket
)
SELECT layout, CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(u_ext) * 1000000 // (count(*) * 256) AS BIGINT)
         AS avg_user_extent_ppm,
       CAST(sum(h_ext) * 1000000 // (count(*) * 256) AS BIGINT)
         AS avg_time_extent_ppm
FROM per GROUP BY layout
""",
    doc="data-layout optimizer readout: events keyed by the Morton/"
        "Z-order interleave of (user, hour) vs a plain time ordering, "
        "then per-file (bucket) min/max extents of BOTH dimensions — "
        "exactly the statistics a parquet/iceberg reader prunes "
        "files with. The readout quantifies why multi-dimension "
        "clustering matters at 100 TB: time-sorted files have a "
        "full-width user extent (every user-filtered query touches "
        "every file), Z-ordered files bound BOTH extents near "
        "sqrt(full), so point/range filters on either dimension "
        "prune ~7/8 of files. Pure integer bit math (identical "
        "shift/mask expression both engines), two tiny scalar "
        "broadcasts (dim extents), one hash-agg per layout over the "
        "bucketed rows; buckets come from the z-value's TOP BITS — "
        "no range-partition pass needed",
)
def q_zorder_layout_stats(spark, sf_dir):
    ev = _events(spark, sf_dir)
    base = ev.select(
        F.col("user_id").alias("u"),
        F.expr("unix_micros(ts) div 3600000000").alias("h"),
    )
    ext = base.agg(
        F.min("u").alias("umin"), F.max("u").alias("umax"),
        F.min("h").alias("hmin"), F.max("h").alias("hmax"),
    )
    norm = base.crossJoin(F.broadcast(ext)).select(
        F.expr("((u - umin) * 256) div (umax - umin + 1)").alias("un"),
        F.expr("((h - hmin) * 256) div (hmax - hmin + 1)").alias("hn"),
    )
    keyed = norm.select(
        "un", "hn",
        F.expr(f"shiftright({_Z_SPARK}, 10)").cast("long").alias("z_bucket"),
        F.expr("hn div 4").cast("long").alias("t_bucket"),
    )
    tagged = keyed.select(
        F.lit("zorder").alias("layout"),
        F.col("z_bucket").alias("bucket"), "un", "hn",
    ).unionByName(
        keyed.select(
            F.lit("time").alias("layout"),
            F.col("t_bucket").alias("bucket"), "un", "hn",
        )
    )
    per = tagged.groupBy("layout", "bucket").agg(
        (F.max("un") - F.min("un") + 1).cast("long").alias("u_ext"),
        (F.max("hn") - F.min("hn") + 1).cast("long").alias("h_ext"),
    )
    return per.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.expr("(sum(u_ext) * 1000000) div (count(*) * 256)").cast("long")
        .alias("avg_user_extent_ppm"),
        F.expr("(sum(h_ext) * 1000000) div (count(*) * 256)").cast("long")
        .alias("avg_time_extent_ppm"),
    )


@register(
    "hourly_trend_slopes",
    """
WITH hourly AS (
  SELECT event_type,
         CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS eh,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), xs AS (
  SELECT event_type, y,
         eh - min(eh) OVER (PARTITION BY event_type) AS x
  FROM hourly
), s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM xs GROUP BY 1
)
SELECT event_type, n AS n_windows,
       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
       (n * sxy - sx * sy > 0) AS rising,
       CAST((n * sxy - sx * sy) * 1000000
            // greatest(n * sxx - sx * sx, 1) AS BIGINT)
         AS slope_uppm
FROM s
""",
    doc="per-type volume trend: ordinary-least-squares slope of hourly "
        "event counts over time, carried as the EXACT integer rational "
        "(n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) — numerator, denominator, "
        "sign, and a micro-units-per-hour readout all in int64, so no "
        "float accumulation-order hazard exists between engines (the "
        "same discipline as seasonal_anomaly's divisionless z-test). "
        "The capacity-planning / abuse-ramp readout. Scale: one "
        "hourly hash-agg (map-side combined) then ALL regression "
        "sums over the tiny (type x hours) table; the per-type min() "
        "window runs on that table too, never the raw rows",
)
def q_hourly_trend_slopes(spark, sf_dir):
    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("eh"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    xs = hourly.select(
        "event_type",
        "y",
        (
            F.col("eh")
            - F.min("eh").over(Window.partitionBy("event_type"))
        ).alias("x"),
    )
    s = xs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        "event_type",
        F.col("n").alias("n_windows"),
        num.cast("long").alias("slope_num"),
        den.cast("long").alias("slope_den"),
        (num > 0).alias("rising"),
    ).withColumn(
        "slope_uppm",
        F.expr("(slope_num * 1000000) div greatest(slope_den, 1)"),
    )


_IVM_CUTOFF = "2024-01-16 00:00:00"


@register(
    "ivm_incremental_agg",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS min_cents,
       CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS max_cents
FROM events GROUP BY event_type
""",
    doc="incremental view maintenance, driver-gated as an ALGEBRAIC "
        "IDENTITY: the Spark side maintains the per-type revenue view "
        "incrementally — base view aggregated over facts BEFORE the "
        "cutoff, insert-only delta aggregated over facts after, then "
        "operators/ingest.ivm_merge_agg combines them with ONE "
        "full-outer join on the grouping keys (view-dimension sized, "
        "historical facts never rescanned) — while the oracle "
        "recomputes the view from scratch. The hash-match therefore "
        "PROVES merge == recompute for the self-maintainable "
        "aggregate set (count/sum always; min/max under insert-only "
        "deltas — deletes would force the recompute path, documented "
        "on the operator). At 100 TB this is the serving-table "
        "refresh: the view is key-dimension KBs, the delta is one "
        "ingest batch, and refresh cost is O(delta + view), not "
        "O(history)",
)
def q_ivm_incremental_agg(spark, sf_dir):
    from ..operators.ingest import ivm_merge_agg

    ev = _events(spark, sf_dir).select(
        "event_type",
        "ts",
        F.expr("cast(round(value * 100) as bigint)").alias("cents"),
    )

    def agg(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.min("cents").cast("long").alias("min_cents"),
            F.max("cents").cast("long").alias("max_cents"),
        )

    base = agg(ev.where(F.expr(f"ts < timestamp'{_IVM_CUTOFF}'")))
    delta = agg(ev.where(F.expr(f"ts >= timestamp'{_IVM_CUTOFF}'")))
    return ivm_merge_agg(base, delta, keys=["event_type"])
