"""Catalog tranche: relational subquery shapes and event-analytics
rollups a reference user runs for ad-hoc investigation — correlated
scalar subqueries, HAVING-semijoins, NOT-IN anti joins with a scalar
threshold, funnel/cohort session analytics, and time-series
resampling with forward fill.

The reference exposes its data through BigQuery for exactly this kind
of follow-on SQL (`output/CompositeOutput.java` writes alert/event
tables for analysts); these queries prove the engine side can run the
same investigation shapes natively, with the scalar-subquery
thresholds decorrelated into broadcast joins instead of per-row
re-aggregation.

Cross-engine determinism notes (the recurring trap in this tranche):
scalar thresholds derived from float averages are compared via exact
integer cross-multiplication (``x*count > sum``) so a one-ulp
difference in a float division can never flip a boundary row between
Spark and the DuckDB oracle; money flows through integer cents.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..session import load_tables
from .catalog import register


@register(
    "small_lot_revenue",
    """
WITH j AS (
  SELECT p_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#2'
), a AS (
  SELECT p_partkey, sum(CAST(l_quantity AS BIGINT)) AS s, count(*) AS c
  FROM j GROUP BY 1
)
SELECT count(*) AS n_lots,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / 7.0
         AS avg_yearly
FROM j JOIN a USING (p_partkey)
WHERE CAST(l_quantity AS BIGINT) * 5 * c < s
""",
    doc="TPC-H Q17-shaped: correlated scalar subquery (per-part 20%% "
        "of average quantity) decorrelated into one grouped agg + a "
        "broadcast join back onto the same filtered fact slice — the "
        "fact table is scanned once for both roles via the shared "
        "brand-filtered projection. The 0.2*avg comparison runs as "
        "exact integer cross-multiplication (qty*5*count < sum), so "
        "no float-division ulp can flip a boundary row between "
        "engines; revenue in integer cents",
)
def q_small_lot_revenue(spark, sf_dir):
    t = load_tables(spark, sf_dir, "lineitem", "part")
    brand_parts = (
        t["part"].where(F.col("p_brand") == "Brand#2").select("p_partkey")
    )
    j = (
        t["lineitem"]
        .join(F.broadcast(brand_parts), F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "l_quantity", "l_extendedprice")
    )
    per_part = j.groupBy("p_partkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("__s"),
        F.count(F.lit(1)).alias("__c"),
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        j.join(F.broadcast(per_part), "p_partkey")
        .where(F.col("l_quantity").cast("long") * 5 * F.col("__c") < F.col("__s"))
        .agg(
            F.count(F.lit(1)).alias("n_lots"),
            (F.sum(cents) / 100.0 / 7.0).alias("avg_yearly"),
        )
    )


@register(
    "large_order_customers",
    """
WITH big AS (
  -- outer CAST: DuckDB widens sum(BIGINT) to HUGEINT (int128), which the
  -- driver's value-hash canonicalizes differently from int64 even when
  -- every value is equal — force it back to BIGINT
  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY 1
  HAVING sum(CAST(l_quantity AS BIGINT)) > 300
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       CAST(round(o_totalprice * 100) AS BIGINT) AS total_price_cents,
       total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN big ON o_orderkey = big.l_orderkey
""",
    doc="TPC-H Q18-shaped: IN-over-grouped-HAVING. The qualifying-order "
        "set is aggregated once (one shuffle on orderkey), is tiny by "
        "construction (large orders are rare), and broadcasts into "
        "orders; the resulting handful of rows then broadcasts into "
        "customer — the big tables are never shuffled for the joins. "
        "Quantities via integer sums, price via integer cents",
)
def q_large_order_customers(spark, sf_dir):
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    ob = t["orders"].join(
        F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey")
    )
    return (
        t["customer"]
        .join(F.broadcast(ob), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            # exact integer cents in the FINAL projection too (not just
            # the aggregates): a trailing double column is the one
            # surface where two engines' float formatting can diverge
            # under value-hash comparison even when every value is equal
            F.round(F.col("o_totalprice") * 100).cast("long")
            .alias("total_price_cents"),
            "total_qty",
        )
    )


@register(
    "dormant_customer_balance",
    """
WITH pos AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer WHERE c_acctbal > 0
), t AS (
  SELECT sum(cents) AS s, count(*) AS c FROM pos
)
SELECT c_nationkey, count(*) AS numcust, sum(cents) / 100.0 AS totacctbal
FROM pos, t
WHERE cents * c > s
  AND c_custkey NOT IN
      (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY 1
""",
    doc="TPC-H Q22-shaped: scalar AVG subquery + NOT IN anti join. The "
        "above-average-balance threshold is an exact integer "
        "cross-multiply (cents*count > sum) against a single "
        "broadcast-scalar row, and NOT IN compiles to a broadcast "
        "LEFT ANTI join (exact because o_custkey is never NULL); the "
        "customer scan is never shuffled",
)
def q_dormant_customer_balance(spark, sf_dir):
    t = load_tables(spark, sf_dir, "customer", "orders")
    pos = (
        t["customer"]
        .where(F.col("c_acctbal") > 0)
        .select(
            "c_custkey", "c_nationkey",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        )
    )
    scalar = pos.agg(
        F.sum("cents").alias("__s"), F.count(F.lit(1)).alias("__c")
    )
    urgent = (
        t["orders"]
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        pos.crossJoin(F.broadcast(scalar))
        .where(F.col("cents") * F.col("__c") > F.col("__s"))
        .join(F.broadcast(urgent), F.col("c_custkey") == F.col("o_custkey"),
              "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("cents") / 100.0).alias("totacctbal"),
        )
    )


@register(
    "funnel_conversion",
    """
WITH stages AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY 1
)
SELECT date_trunc('day', t_view) AS cohort_day,
       count(*) AS n_view,
       count(CASE WHEN t_click > t_view THEN 1 END) AS n_view_click,
       count(CASE WHEN t_click > t_view AND t_purchase > t_click THEN 1 END)
         AS n_full_funnel
FROM stages
WHERE t_view IS NOT NULL
GROUP BY 1
""",
    doc="ordered funnel (view -> click -> purchase) per first-view-day "
        "cohort: one grouped conditional-min pass collapses each "
        "user's history to three stage timestamps (map-side partial "
        "min), then a ~#days-row rollup — the classic event-analytics "
        "shape the reference's BigQuery consumers run on exported "
        "events, expressed as two hash aggregations and zero joins",
)
def q_funnel_conversion(spark, sf_dir):
    ev = load_tables(spark, sf_dir, "events")["events"]

    def stage_min(etype):
        return F.min(F.when(F.col("event_type") == etype, F.col("ts")))

    stages = ev.groupBy("user_id").agg(
        stage_min("view").alias("t_view"),
        stage_min("click").alias("t_click"),
        stage_min("purchase").alias("t_purchase"),
    )
    return (
        stages.where(F.col("t_view").isNotNull())
        .groupBy(F.date_trunc("day", "t_view").alias("cohort_day"))
        .agg(
            F.count(F.lit(1)).alias("n_view"),
            F.count(F.when(F.col("t_click") > F.col("t_view"), 1))
            .alias("n_view_click"),
            F.count(
                F.when(
                    (F.col("t_click") > F.col("t_view"))
                    & (F.col("t_purchase") > F.col("t_click")),
                    1,
                )
            ).alias("n_full_funnel"),
        )
    )


@register(
    "retention_cohorts",
    """
WITH firsts AS (
  SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
  FROM events GROUP BY 1
)
SELECT cohort_day,
       date_diff('day', cohort_day, date_trunc('day', e.ts)) AS day_offset,
       count(DISTINCT e.user_id) AS active_users
FROM events e JOIN firsts USING (user_id)
GROUP BY 1, 2
""",
    doc="retention cohort matrix: first-seen day x day-offset x "
        "distinct active users. The per-user firsts table is tiny "
        "relative to events (one row per user) and broadcasts; the "
        "distinct-user count partial-aggregates map-side on "
        "(cohort, offset, user) before the final shuffle",
)
def q_retention_cohorts(spark, sf_dir):
    ev = load_tables(spark, sf_dir, "events")["events"]
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("cohort_day")
    )
    return (
        ev.join(F.broadcast(firsts), "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(
                F.to_date(F.date_trunc("day", "ts")), F.to_date("cohort_day")
            ).cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@register(
    "timeseries_resample",
    """
WITH sel AS (
  SELECT * FROM events WHERE user_id % 10 = 0
), u AS (
  SELECT user_id, date_trunc('hour', min(ts)) AS t0, max(ts) AS t1
  FROM sel GROUP BY 1
), grid AS (
  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS grid_ts
  FROM u
), b AS (
  SELECT user_id, date_trunc('hour', ts) AS h,
         max(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM sel GROUP BY 1, 2
)
SELECT g.user_id, g.grid_ts,
       last_value(b.cents IGNORE NULLS)
         OVER (PARTITION BY g.user_id ORDER BY g.grid_ts) / 100.0
         AS filled_value
FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.h = g.grid_ts
""",
    doc="time-series resampling with forward fill: per entity, an "
        "hourly grid spanning its own activity range "
        "(sequence+explode — the grid is generated, never stored), a "
        "bucket aggregate joined onto the grid, and gaps filled by "
        "last-non-null carried forward in ONE window pass per key. "
        "This is the gap-filling shape behind every downstream "
        "rate-of-change metric; the window is the same per-key-ordered "
        "pass the as-of join uses, so state is O(1) per row. Value "
        "picked per bucket = max cents (deterministic cross-engine); "
        "user_id %% 10 keeps the demo slice small while the plan is "
        "shape-identical at any fan-out",
)
def q_timeseries_resample(spark, sf_dir):
    ev = load_tables(spark, sf_dir, "events")["events"].where(
        F.col("user_id") % 10 == 0
    )
    u = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.max("ts").alias("t1"),
    )
    grid = u.select(
        "user_id",
        F.explode(
            F.sequence("t0", "t1", F.expr("interval 1 hour"))
        ).alias("grid_ts"),
    )
    b = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.max(F.round(F.col("value") * 100).cast("long")).alias("cents"))
        .withColumnRenamed("user_id", "__bu")
    )
    w = Window.partitionBy("user_id").orderBy("grid_ts")
    return (
        grid.join(
            b,
            (grid["user_id"] == b["__bu"]) & (b["h"] == grid["grid_ts"]),
            "left",
        )
        .select("user_id", "grid_ts", "cents")
        .select(
            "user_id", "grid_ts",
            (F.last("cents", ignorenulls=True).over(w) / 100.0)
            .alias("filled_value"),
        )
    )
