"""Query catalog: every SURVEY §2 operator exposed as a named query
over the driver's testdata tables, with a DuckDB oracle.

Contract (driver): ``queries()[name](spark, sf_dir) -> DataFrame`` and
``oracle_sql()[name]`` = ANSI SQL DuckDB runs on the same parquet.
Column names/types and values must match (order-insensitive hash), so
every computed column is aliased identically on both sides, float
aggregates are rounded, and cross-engine-hashing uses md5 (portable)
rather than engine-native hashes.

The catalog is the engine's public query surface; each entry's doc
cites the reference operator it exercises.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..filters.event_filter import compile_event_filter
from ..functions.geo import geo_velocity
from ..functions.net import cidr_in_any
from ..functions.text import levenshtein_ratio
from ..operators import (
    cosine_topk,
    detect_nat,
    endpoint_abuse_analysis,
    endpoint_sequence_abuse,
    error_rate_analysis,
    exact_dedup,
    fingerprint,
    hard_limit_analysis,
    language_id,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    per_endpoint_error_rate,
    quality_score,
    session_analysis,
    session_limit_analysis,
    simhash,
    source_correlation,
    status_code_rate_analysis,
    summary_delta,
    text_stats,
    threshold_analysis,
    ua_blocklist_analysis,
    windowed_counts,
)
from ..session import load_tables


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        _REGISTRY[name] = QuerySpec(name, fn, oracle, doc)
        return fn

    return deco


def registry() -> dict[str, QuerySpec]:
    from . import (  # noqa: F401  (register tranches)
        catalog_composed,
        catalog_corpus,
        catalog_curation,
        catalog_customs,
        catalog_data,
        catalog_detectors,
        catalog_ingest,
        catalog_mining,
        catalog_pipeline,
        catalog_quality,
        catalog_relational,
        catalog_relational2,
        catalog_timeseries,
        catalog_warehouse,
    )

    return dict(_REGISTRY)


def _events(spark, sf_dir):
    return load_tables(spark, sf_dir, "events")["events"]


def _docs(spark, sf_dir):
    return load_tables(spark, sf_dir, "documents")["documents"]


# ---------------------------------------------------------------------------
# Detection heuristics (SURVEY §2.3 A1/A2 family) over the events table
# ---------------------------------------------------------------------------

@register(
    "threshold_analysis",
    """
WITH counts AS (
  SELECT date_trunc('hour', ts) AS window_start, user_id, count(*) AS event_count
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT window_start, count(*) AS stats_count, avg(event_count) AS stats_mean
  FROM counts GROUP BY 1
)
SELECT c.window_start, c.user_id, c.event_count AS count,
       round(s.stats_mean, 6) AS mean
FROM counts c JOIN stats s USING (window_start)
WHERE s.stats_mean >= 1.0 AND s.stats_count >= 1
  AND c.event_count >= s.stats_mean * 2.0
""",
    doc="ThresholdAnalysis.java:88-199 — per-key count vs window mean "
        "side-input; >= at the threshold per ThresholdAnalysis.java:152",
)
def q_threshold(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return threshold_analysis(
        ev, key="user_id", ts="ts", duration="1 hour",
        required_minimum_average=1.0, threshold_modifier=2.0, min_clients=1,
    )


@register(
    "hard_limit_analysis",
    """
SELECT date_trunc('hour', ts) AS window_start, user_id, count(*) AS count
FROM events GROUP BY 1, 2 HAVING count(*) > 2
""",
    doc="HardLimitAnalysis.java:92-130 — fixed per-key count limit",
)
def q_hard_limit(spark, sf_dir):
    return hard_limit_analysis(
        _events(spark, sf_dir), key="user_id", ts="ts", duration="1 hour", max_count=2
    )


@register(
    "error_rate_analysis",
    """
SELECT date_trunc('day', ts) AS window_start, user_id, count(*) AS error_count
FROM events WHERE event_type = 'error'
GROUP BY 1, 2 HAVING count(*) > 2
""",
    doc="ErrorRateAnalysis.java:62-84 — per-key client-error count threshold",
)
def q_error_rate(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return error_rate_analysis(
        ev, key="user_id", error_predicate=F.col("event_type") == "error",
        ts="ts", duration="1 day", max_errors=2,
    )


@register(
    "status_code_rate_analysis",
    """
SELECT date_trunc('day', ts) AS window_start, user_id,
       count(*) AS matched
FROM events WHERE event_type = 'error'
GROUP BY 1, 2 HAVING count(*) > 3
""",
    doc="heuristics/StatusCodeRateAnalysis.java:66-117 — count of "
        "matching events per key-window over a fixed threshold "
        "(reference semantics are a COUNT despite the transform "
        "name; golden-verified against the reference's own fixture "
        "in tests/test_reference_goldens.py)",
)
def q_status_rate(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return status_code_rate_analysis(
        ev, key="user_id", match_predicate=F.col("event_type") == "error",
        ts="ts", duration="1 day", max_count=3,
    )


@register(
    "detect_nat",
    """
SELECT date_trunc('hour', ts) AS window_start, user_id,
       count(DISTINCT event_type) AS n_distinct
FROM events GROUP BY 1, 2 HAVING count(DISTINCT event_type) >= 3
""",
    doc="DetectNat.java:100-152 — distinct-diversity count per key (UA-per-IP analog)",
)
def q_detect_nat(spark, sf_dir):
    return detect_nat(
        _events(spark, sf_dir), key="user_id", diversity_col="event_type",
        ts="ts", duration="1 hour", min_distinct=3,
    )


@register(
    "endpoint_sequence_abuse",
    """
WITH tagged AS (
  SELECT user_id, ts,
         CASE WHEN event_type = 'purchase' THEN 'b'
              WHEN event_type = 'view' THEN 'a' END AS tag
  FROM events WHERE event_type IN ('view', 'purchase')
), paired AS (
  SELECT user_id, ts, tag,
         lag(tag) OVER (PARTITION BY user_id ORDER BY ts, tag) AS prev_tag,
         lag(ts)  OVER (PARTITION BY user_id ORDER BY ts, tag) AS prev_ts
  FROM tagged
)
SELECT user_id, count(*) AS pair_count
FROM paired
WHERE tag = 'b' AND prev_tag = 'a'
  AND ts <= prev_ts + INTERVAL 7200 SECONDS
GROUP BY user_id HAVING count(*) >= 2
""",
    doc="EndpointSequenceAbuse.java:146-270 — A-then-B-within-delta pair counting",
)
def q_endpoint_sequence(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return endpoint_sequence_abuse(
        ev, key="user_id",
        first_predicate=F.col("event_type") == "view",
        second_predicate=F.col("event_type") == "purchase",
        ts="ts", max_delta_ms=7_200_000, min_pairs=2,
    )


@register(
    "session_analysis",
    """
WITH d AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 2 HOURS THEN 1 ELSE 0 END AS brk
  FROM events
), s AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
)
SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts, count(*) AS n_events
FROM s GROUP BY user_id, sid
""",
    doc="HTTPRequest.java:96-165 — session windows (45m gap family) via session_window",
)
def q_session_analysis(spark, sf_dir):
    return session_analysis(_events(spark, sf_dir), key="user_id", ts="ts", gap="2 hours")


@register(
    "endpoint_abuse_analysis",
    """
WITH d AS (
  SELECT user_id, ts, event_type,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 2 HOURS THEN 1 ELSE 0 END AS brk
  FROM events
), s AS (
  SELECT user_id, ts, event_type,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
), agg AS (
  SELECT user_id, sid, min(ts) AS first_ts,
         max(CASE WHEN event_type IN ('click', 'view') THEN ts END)
           AS latest_ts,
         count(*) AS n_events,
         count(*) FILTER (WHERE event_type = 'click') AS c_click,
         count(*) FILTER (WHERE event_type = 'view') AS c_view
  FROM s GROUP BY user_id, sid
)
SELECT user_id, first_ts, latest_ts, n_events,
       greatest(c_click, c_view) AS top_count,
       CASE WHEN c_view >= c_click THEN 'view' ELSE 'click' END AS top_endpoint
FROM agg
WHERE n_events = c_click + c_view AND greatest(c_click, c_view) >= 2
""",
    doc="EndpointAbuseAnalysis.java:134-277 — per-session endpoint "
        "counts + basic-variance suppression (sessions touching any "
        "non-monitored endpoint are real clients and drop out, "
        ":157-201) + top pick; golden-verified on the reference's "
        "endpointabuse fixture",
)
def q_endpoint_abuse(spark, sf_dir):
    return endpoint_abuse_analysis(
        _events(spark, sf_dir), key="user_id", endpoint_col="event_type",
        monitored=["click", "view"], ts="ts", gap="2 hours", min_count=2,
    )


# ---------------------------------------------------------------------------
# Summary / correlation (SURVEY §2.3 A8/A9/A11, §2.5 W9)
# ---------------------------------------------------------------------------

@register(
    "alert_summary_delta",
    """
WITH counts AS (
  SELECT date_trunc('day', ts) AS window_start, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
), d AS (
  SELECT window_start, event_type, n,
         lag(n) OVER (PARTITION BY event_type ORDER BY window_start) AS prev_n
  FROM counts
)
SELECT window_start, event_type, n, prev_n,
       round((n - prev_n) * 100.0 / prev_n, 6) AS pct_change
FROM d WHERE prev_n IS NOT NULL
  AND CAST(floor(abs((n - prev_n) * 100.0 / prev_n)) AS BIGINT) > 10
""",
    doc="postprocessing/AlertSummary.java:360-374 — adjacent-block %delta; "
        "the truncate-then-strictly-greater boundary semantics are the "
        "reference's `(int) increase > pi` (golden-verified)",
)
def q_summary_delta(spark, sf_dir):
    return summary_delta(
        _events(spark, sf_dir), classifier="event_type", ts="ts",
        duration="1 day", warn_pct=10.0,
    )


@register(
    "alert_summary_sliding",
    """
SELECT ws AS window_start, event_type, count(*) AS n
FROM (
  SELECT event_type,
         unnest([date_trunc('day', ts) - INTERVAL 1 DAY,
                 date_trunc('day', ts)]) AS ws
  FROM events
) GROUP BY 1, 2
""",
    doc="AlertSummary.java:461-492 — sliding-window (2d every 1d) counts",
)
def q_summary_sliding(spark, sf_dir):
    return windowed_counts(
        _events(spark, sf_dir), key="event_type", ts="ts",
        duration="2 days", slide="1 day",
    )


@register(
    "source_correlation",
    """
WITH agg AS (
  SELECT user_id % 10 AS isp,
         count(DISTINCT user_id) AS n_addr,
         count(DISTINCT CASE WHEN event_type = 'error' THEN user_id END) AS n_alerted
  FROM events GROUP BY 1
)
SELECT isp, n_addr, n_alerted,
       round(n_alerted * 1.0 / n_addr, 6) AS alerted_ratio
FROM agg WHERE n_addr >= 5 AND n_alerted * 1.0 / n_addr >= 0.9
""",
    doc="SourceCorrelation.java:202-294 — per-ISP alerted-address ratio",
)
def q_source_correlation(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn("isp", F.col("user_id") % 10)
    return source_correlation(
        ev, group_col="isp", addr_col="user_id",
        alerted_predicate=F.col("event_type") == "error",
        min_addresses=5, min_ratio=0.9,
    )


# ---------------------------------------------------------------------------
# Predicate DSL + filters (SURVEY §2.2 P1-P7)
# ---------------------------------------------------------------------------

EVENT_FILTER_SPEC = {
    "rules": [
        {
            "types": ["error", "purchase"],
            "matchers": [{"field": "value", "op": "range", "min": 2.0, "max": 18.0}],
            "except": [
                {"matchers": [{"field": "user_id", "op": "range", "min": 0, "max": 9}]}
            ],
        },
        {
            "types": ["signup"],
            "matchers": [{"field": "props", "op": "contains", "value": "9"}],
        },
    ]
}


@register(
    "event_filter_dsl",
    """
SELECT event_id, user_id, event_type, value
FROM events
WHERE (event_type IN ('error', 'purchase')
       AND value >= 2.0 AND value <= 18.0
       AND NOT (user_id >= 0 AND user_id <= 9))
   OR (event_type = 'signup' AND props LIKE '%9%')
""",
    doc="parser/EventFilter.java:72-88 — JSON predicate DSL -> Column compiler",
)
def q_event_filter(spark, sf_dir):
    ev = _events(spark, sf_dir)
    pred = compile_event_filter(EVENT_FILTER_SPEC, type_field="event_type")
    return ev.where(pred).select("event_id", "user_id", "event_type", "value")


@register(
    "cidr_exclusion",
    """
WITH ips AS (
  SELECT event_id, user_id,
         '10.' || (user_id % 32) || '.0.1' AS ip
  FROM events
)
SELECT event_id, user_id, ip FROM ips
WHERE NOT (
  (CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
   + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
   + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
   + CAST(string_split(ip, '.')[4] AS BIGINT))
  BETWEEN 167772160 AND 168820735)
""",
    doc="CidrUtil.java:126-185 / InetRadix.java — CIDR exclusion as integer SQL (10.0.0.0/12)",
)
def q_cidr_exclusion(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id",
        F.concat(F.lit("10."), (F.col("user_id") % 32).cast("string"), F.lit(".0.1")).alias("ip"),
    )
    return ev.where(~cidr_in_any(F.col("ip"), ["10.0.0.0/12"]))


# ---------------------------------------------------------------------------
# Scalar-function-driven detectors (SURVEY §2.9)
# ---------------------------------------------------------------------------

@register(
    "geo_velocity",
    """
WITH located AS (
  SELECT user_id, ts,
         ((event_id * 37) % 18000) / 100.0 - 90.0 AS lat,
         ((event_id * 73) % 36000) / 100.0 - 180.0 AS lon
  FROM events
), p AS (
  SELECT user_id, ts, lat, lon,
         lag(lat) OVER w AS prev_lat, lag(lon) OVER w AS prev_lon,
         lag(ts) OVER w AS prev_ts
  FROM located WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), d AS (
  SELECT user_id, ts,
         2.0 * 6371.0 * asin(sqrt(
            pow(sin((radians(lat) - radians(prev_lat)) / 2), 2)
            + cos(radians(prev_lat)) * cos(radians(lat))
              * pow(sin((radians(lon) - radians(prev_lon)) / 2), 2))) AS km,
         (epoch_us(ts) - epoch_us(prev_ts)) / 3600000000.0 AS hours
  FROM p WHERE prev_ts IS NOT NULL
)
SELECT user_id, ts, round(km, 3) AS km, round(km / hours, 3) AS kmh
FROM d WHERE km >= 50.0 AND km / hours > 800.0
""",
    doc="GeoUtil.java:36-51 + AuthStateModel.java:392 — haversine geo-velocity",
)
def q_geo_velocity(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        "user_id", "ts",
        (((F.col("event_id") * 37) % 18000) / 100.0 - 90.0).alias("lat"),
        (((F.col("event_id") * 73) % 36000) / 100.0 - 180.0).alias("lon"),
    )
    return geo_velocity(ev, key="user_id", max_kmh=800.0, min_km=50.0)


@register(
    "alert_summary_rollup",
    """
WITH a AS (
  SELECT date_trunc('hour', ts) AS window_start,
         'res-' || (user_id % 3) AS resource,
         event_type AS category
  FROM events
)
SELECT window_start, resource, category,
       CAST(grouping_id(resource, category) AS BIGINT) AS grouping_level,
       count(*) AS n
FROM a
GROUP BY GROUPING SETS ((window_start), (window_start, resource),
                        (window_start, resource, category))
""",
    doc="A8 AlertSummary classifier hierarchy (global / per-resource / "
        "per-category block counts, AlertSummary.java:109-148) as ONE "
        "grouping-sets aggregation — every classifier level shares a "
        "single shuffle + map-side partial agg instead of one CombineFn "
        "per level; grouping_id discriminates levels",
)
def q_alert_summary_rollup(spark, sf_dir):
    from ..operators.summary import classifier_rollup

    ev = _events(spark, sf_dir).select(
        "ts",
        F.concat(F.lit("res-"), (F.col("user_id") % 3).cast("string")).alias(
            "resource"
        ),
        F.col("event_type").alias("category"),
    )
    return classifier_rollup(ev, ts="ts", duration="1 hour",
                             levels=("resource", "category"))


@register(
    "auth_state_decision",
    """
WITH e AS (
  SELECT user_id AS identity, ts, event_id,
         'ip-' || CAST((event_id * 11) % 7 AS VARCHAR) AS source_address,
         ((event_id * 37) % 18000) / 100.0 - 90.0 AS lat,
         ((event_id * 73) % 36000) / 100.0 - 180.0 AS lon
  FROM events WHERE event_type IN ('click', 'view')
), k AS (
  SELECT *, lag(ts) OVER (PARTITION BY identity, source_address
                          ORDER BY ts, event_id) AS prev_ip_ts
  FROM e
), p AS (
  SELECT *, lag(ts) OVER w AS prev_ts,
         lag(lat) OVER w AS prev_lat, lag(lon) OVER w AS prev_lon
  FROM k WINDOW w AS (PARTITION BY identity ORDER BY ts, event_id)
), d AS (
  SELECT identity, ts, source_address,
         prev_ip_ts IS NOT NULL
           AND epoch_us(ts) - epoch_us(prev_ip_ts) <= 864000000000 AS known_ip,
         prev_ts,
         CASE WHEN prev_ts IS NOT NULL THEN
           2.0 * 6371.0 * asin(sqrt(
             pow(sin((radians(lat) - radians(prev_lat)) / 2), 2)
             + cos(radians(prev_lat)) * cos(radians(lat))
               * pow(sin((radians(lon) - radians(prev_lon)) / 2), 2))) END AS km,
         CASE WHEN prev_ts IS NOT NULL
              THEN (epoch_us(ts) - epoch_us(prev_ts)) / 3600000000.0 END AS hours
  FROM p
)
SELECT identity, ts AS timestamp, source_address, known_ip,
       CASE WHEN known_ip THEN 'info'
            WHEN prev_ts IS NULL THEN 'info'
            WHEN km > 800.0 * hours THEN 'critical'
            ELSE 'warn' END AS severity,
       round(CASE WHEN NOT known_ip THEN km END, 3) AS km_from_last
FROM d
""",
    doc="T4/J5 AuthProfile.java:567-766 StateAnalyze severity decision "
        "tree as a DECLARATIVE batch twin (two lag windows: known-IP "
        "recency per (identity, ip), geo-velocity vs latest prior "
        "login) — upgrades the stateful operator's semantics from "
        "pytest-only to driver-oracle-verified; the streaming twin is "
        "auth_state_analyze (applyInPandasWithState)",
)
def q_auth_state_decision(spark, sf_dir):
    from ..streaming.state import auth_state_decision_batch

    ev = _events(spark, sf_dir).where(
        F.col("event_type").isin("click", "view")
    ).select(
        F.col("user_id").alias("identity"),
        F.col("ts").alias("timestamp"),
        "event_id",
        F.concat(F.lit("ip-"), ((F.col("event_id") * 11) % 7).cast("string"))
        .alias("source_address"),
        (((F.col("event_id") * 37) % 18000) / 100.0 - 90.0).alias("lat"),
        (((F.col("event_id") * 73) % 36000) / 100.0 - 180.0).alias("lon"),
    )
    return auth_state_decision_batch(ev, max_kmh=800.0, prune_age_days=10.0)


@register(
    "levenshtein_similarity",
    """
SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
       levenshtein(a.p_name, b.p_name) AS distance,
       round(levenshtein(a.p_name, b.p_name) * 1.0
             / greatest(length(a.p_name), length(b.p_name)), 6) AS ratio
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE a.p_name <> b.p_name
  AND levenshtein(a.p_name, b.p_name) * 1.0
      / greatest(length(a.p_name), length(b.p_name)) <= 0.25
""",
    doc="CustomsAccountCreationDist.java:56-126 + StringDistance.java:22-63 — "
        "in-group Levenshtein-ratio similarity pairs",
)
def q_levenshtein(spark, sf_dir):
    # repartition the 1-row-group local scan so the post-broadcast-join
    # Levenshtein evaluation parallelizes (see SCALE.md self-join notes)
    part = load_tables(spark, sf_dir, "part")["part"].repartition(
        spark.sparkContext.defaultParallelism
    )
    a = part.select(
        F.col("p_partkey").alias("part_a"), F.col("p_brand").alias("brand_a"),
        F.col("p_name").alias("name_a"),
    )
    b = part.select(
        F.col("p_partkey").alias("part_b"), F.col("p_brand").alias("brand_b"),
        F.col("p_name").alias("name_b"),
    )
    ratio = levenshtein_ratio(F.col("name_a"), F.col("name_b"))
    return (
        a.join(b, (F.col("brand_a") == F.col("brand_b")) & (F.col("part_a") < F.col("part_b")))
        .where((F.col("name_a") != F.col("name_b")) & (ratio <= 0.25))
        .select(
            "part_a", "part_b",
            F.levenshtein("name_a", "name_b").alias("distance"),
            F.round(ratio, 6).alias("ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Suppression (T1-T3) batch analog
# ---------------------------------------------------------------------------

@register(
    "session_limit_analysis",
    """
WITH d AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 2 HOURS THEN 1 ELSE 0 END AS brk
  FROM events
), s AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
)
SELECT user_id, min(ts) AS first_ts, count(*) AS n_events
FROM s GROUP BY user_id, sid HAVING count(*) > 3
""",
    doc="SessionLimitAnalysis.java:136-230 — fixed per-session volume limit "
        "(threshold tuned so sf0.01 produces non-vacuous output)",
)
def q_session_limit(spark, sf_dir):
    return session_limit_analysis(
        _events(spark, sf_dir), key="user_id", ts="ts", gap="2 hours",
        monitor=4,  # reference >=-semantics; == the oracle's count(*) > 3
    )


@register(
    "per_endpoint_error_rate",
    """
WITH e AS (
  SELECT user_id, ts, event_type FROM events WHERE event_type IN ('error', 'purchase')
), d AS (
  SELECT user_id, ts, event_type,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts)
                   >= INTERVAL 4 HOURS THEN 1 ELSE 0 END AS brk
  FROM e
), s AS (
  SELECT user_id, ts, event_type,
         sum(brk) OVER (PARTITION BY user_id, event_type ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
)
SELECT user_id, event_type, min(ts) AS first_ts, count(*) AS error_count
FROM s GROUP BY user_id, event_type, sid HAVING count(*) > 2
""",
    doc="PerEndpointErrorRateAnalysis.java:153-220 — per-session "
        "per-endpoint error counting (error-session gap family; threshold "
        "tuned so sf0.01 produces non-vacuous output)",
)
def q_per_endpoint_error_rate(spark, sf_dir):
    return per_endpoint_error_rate(
        _events(spark, sf_dir),
        key="user_id",
        endpoint_col="event_type",
        error_predicate=F.col("event_type").isin("error", "purchase"),
        ts="ts",
        gap="4 hours",
        max_errors=2,
    )


@register(
    "ua_blocklist",
    """
WITH e AS (
  SELECT user_id, ts,
         CASE WHEN user_id % 4 = 0 THEN 'curl/7.88'
              WHEN user_id % 4 = 1 THEN 'Mozilla/5.0 (X11; Linux)'
              WHEN user_id % 4 = 2 THEN 'sqlmap/1.7-dev'
              ELSE 'python-requests/2.31' END AS user_agent
  FROM events
)
SELECT date_trunc('day', ts) AS window_start, user_id,
       count(*) AS n_matched, min(user_agent) AS sample_user_agent
FROM e
WHERE regexp_matches(user_agent, '^curl/') OR regexp_matches(user_agent, 'sqlmap')
GROUP BY 1, 2
""",
    doc="UserAgentBlocklistAnalysis.java:95-110 — blocklist regex file as a "
        "constant-folded OR of rlike tests before the shuffle",
)
def q_ua_blocklist(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "user_agent",
        F.when(F.col("user_id") % 4 == 0, "curl/7.88")
        .when(F.col("user_id") % 4 == 1, "Mozilla/5.0 (X11; Linux)")
        .when(F.col("user_id") % 4 == 2, "sqlmap/1.7-dev")
        .otherwise("python-requests/2.31"),
    )
    return ua_blocklist_analysis(
        ev, key="user_id", ua_col="user_agent",
        patterns=["^curl/", "sqlmap"], ts="ts", duration="1 day",
    )


@register(
    "alert_suppression",
    """
WITH ranked AS (
  SELECT user_id, event_type, ts, event_id,
         row_number() OVER (PARTITION BY user_id, event_type,
                                         date_trunc('day', ts)
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type = 'error'
)
SELECT user_id, event_type, ts, event_id
FROM ranked WHERE rn = 1
""",
    doc="alert/AlertSuppressor.java — first-per-key-within-expiry; batch analog of "
        "keyed TTL state (streaming twin in streaming/suppress.py)",
)
def q_alert_suppression(spark, sf_dir):
    ev = _events(spark, sf_dir).where(F.col("event_type") == "error")
    w = Window.partitionBy(
        "user_id", "event_type", F.date_trunc("day", F.col("ts"))
    ).orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "ts", "event_id")
    )
