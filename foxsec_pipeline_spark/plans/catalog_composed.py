"""Catalog tranche 5: composed pipeline legs — side-view exclusion
joins, parse-filter chains, global stats, identity resolution. These
exercise the reference's cross-operator wiring (the per-pipeline DAG
glue), not just single operators.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.identity import IdentityManager
from ..functions.net import cidr_in_any
from ..operators import detect_nat, per_key_stats, windowed_counts
from ..session import load_tables
from .catalog import register


def _events(spark, sf_dir):
    return load_tables(spark, sf_dir, "events")["events"]


@register(
    "threshold_with_nat_exclusion",
    """
WITH counts AS (
  SELECT date_trunc('day', ts) AS window_start, user_id, count(*) AS n
  FROM events GROUP BY 1, 2
), nat AS (
  SELECT date_trunc('day', ts) AS window_start, user_id
  FROM events GROUP BY 1, 2 HAVING count(DISTINCT event_type) >= 5
)
SELECT c.window_start, c.user_id, c.n AS count
FROM counts c
LEFT JOIN nat ON c.window_start = nat.window_start AND c.user_id = nat.user_id
WHERE nat.user_id IS NULL AND c.n > 6
""",
    doc="J2 DetectNat.java:64-69 + ThresholdAnalysis.java:136-153 — the "
        "NAT side-view becomes a window-aligned LEFT ANTI join: keys the "
        "NAT detector flagged are excluded from rate alerting",
)
def q_threshold_nat_exclusion(spark, sf_dir):
    ev = _events(spark, sf_dir)
    counts = windowed_counts(ev, key="user_id", ts="ts", duration="1 day")
    nat = detect_nat(
        ev, key="user_id", diversity_col="event_type",
        ts="ts", duration="1 day", min_distinct=5,
    ).select("window_start", "user_id")
    return (
        counts.join(F.broadcast(nat), ["window_start", "user_id"], "left_anti")
        .where(F.col("n") > 6)
        .select("window_start", "user_id", F.col("n").alias("count"))
    )


@register(
    "authprofile_parse_filters",
    """
WITH e AS (
  SELECT event_id, user_id, event_type,
         'u' || user_id AS subject_user,
         '10.' || (user_id % 32) || '.0.1' AS ip
  FROM events WHERE event_type IN ('signup', 'click')
)
SELECT event_id, user_id, subject_user, ip FROM e
WHERE NOT regexp_matches(subject_user, '^u9')
  AND NOT (
    (CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
     + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
     + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
     + CAST(string_split(ip, '.')[4] AS BIGINT))
    BETWEEN 167772160 AND 167837695)
""",
    doc="P8 AuthProfile.java:137-240 — the Parse filter chain: keep "
        "AUTH-family events, drop ignored-user regex matches and "
        "internal-CIDR sources (10.0.0.0/16 here), all one scan",
)
def q_authprofile_filters(spark, sf_dir):
    ev = _events(spark, sf_dir).where(F.col("event_type").isin("signup", "click"))
    e = ev.select(
        "event_id", "user_id",
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("subject_user"),
        F.concat(
            F.lit("10."), (F.col("user_id") % 32).cast("string"), F.lit(".0.1")
        ).alias("ip"),
    )
    return e.where(
        ~F.col("subject_user").rlike("^u9")
        & ~cidr_in_any(F.col("ip"), ["10.0.0.0/16"])
    )


@register(
    "global_stats",
    """
WITH counts AS (
  SELECT date_trunc('hour', ts) AS window_start, user_id, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT window_start, count(*) AS stats_count,
       CAST(sum(n) AS BIGINT) AS stats_sum,
       CAST((sum(n) * 1000000) // count(*) AS BIGINT) AS stats_mean_micros
FROM counts GROUP BY 1
""",
    doc="A2 Stats.java:119-225 — the global CombineFn (count/sum/mean over "
        "per-client counts) exposed as the window-aligned stats view that "
        "ThresholdAnalysis broadcasts. The mean is emitted in exact integer "
        "micros ((sum*1e6) DIV count) so the cross-engine hash is "
        "deterministic — Spark round() and DuckDB round() disagree on "
        "half-ulp doubles",
)
def q_global_stats(spark, sf_dir):
    counts = windowed_counts(
        _events(spark, sf_dir), key="user_id", ts="ts", duration="1 hour"
    )
    return per_key_stats(counts).select(
        "window_start",
        "stats_count",
        "stats_sum",
        F.expr(
            "CAST((stats_sum * CAST(1000000 AS BIGINT)) DIV stats_count AS BIGINT)"
        ).alias("stats_mean_micros"),
    )


@register(
    "crit_object_analyze",
    """
WITH e AS (
  SELECT event_id, user_id, ts,
         '/admin/' || CASE WHEN user_id % 7 = 0 THEN 'keys' ELSE 'dash' END
           AS object
  FROM events WHERE event_type = 'click'
), hits AS (
  SELECT event_id, user_id, ts, object,
         row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts, event_id) AS rn
  FROM e WHERE regexp_matches(object, '^/admin/keys')
)
SELECT event_id, user_id, ts, object, 'critical' AS severity
FROM hits WHERE rn = 1
""",
    doc="authprofile/CritObjectAnalyze.java:185-239 — regex match on the "
        "accessed object escalates to critical, with first-per-identity "
        "session suppression (AlertSuppressorSession batch analog)",
)
def q_crit_object(spark, sf_dir):
    from pyspark.sql import Window

    e = (
        _events(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            "event_id", "user_id", "ts",
            F.concat(
                F.lit("/admin/"),
                F.when(F.col("user_id") % 7 == 0, "keys").otherwise("dash"),
            ).alias("object"),
        )
    )
    hits = e.where(F.col("object").rlike("^/admin/keys"))
    w = Window.partitionBy("user_id", F.date_trunc("day", F.col("ts"))).orderBy(
        "ts", "event_id"
    )
    return (
        hits.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_id", "user_id", "ts", "object",
                F.lit("critical").alias("severity"))
    )


@register(
    "salted_hard_limit",
    """
SELECT date_trunc('day', ts) AS window_start, user_id, count(*) AS count
FROM events GROUP BY 1, 2 HAVING count(*) > 6
""",
    doc="skew fallback (SCALE.md): two-phase salted count — bit-identical "
        "to the unsalted hard-limit aggregate (same oracle), worst-reducer "
        "load / salt; the knob for hot-key windows at 100 TB",
)
def q_salted_hard_limit(spark, sf_dir):
    from ..operators.skew import salted_windowed_counts

    ev = _events(spark, sf_dir)
    return (
        salted_windowed_counts(
            ev, key="user_id", ts="ts", duration="1 day",
            salt=16, salt_source=F.col("event_id"),
        )
        .where(F.col("n") > 6)
        .select("window_start", "user_id", F.col("n").alias("count"))
    )


_IDENTITY_CFG = """
{
  "identities": {
    "alice":  {"aliases": ["u1", "u11", "u21"]},
    "bob":    {"aliases": ["u2", "u12"]},
    "mallory":{"aliases": ["u3"]}
  },
  "named_subnets": {"office": ["10.0.0.0/16"]}
}
"""


@register(
    "identity_resolution",
    """
WITH dim(alias, identity) AS (
  VALUES ('u1','alice'), ('u11','alice'), ('u21','alice'), ('alice','alice'),
         ('u2','bob'), ('u12','bob'), ('bob','bob'),
         ('u3','mallory'), ('mallory','mallory')
), e AS (
  SELECT event_id, 'u' || user_id AS subject_user FROM events
)
SELECT e.event_id, e.subject_user, dim.identity
FROM e JOIN dim ON e.subject_user = dim.alias
""",
    doc="J7/T9 identity/IdentityManager.java + AuthProfile.java:254-307 — "
        "ExtractIdentity: alias->canonical identity via broadcast dim; "
        "per-batch rebuild replaces the reference's locked 5-min reload",
)
def q_identity_resolution(spark, sf_dir):
    im = IdentityManager.from_json(_IDENTITY_CFG)
    e = _events(spark, sf_dir).select(
        "event_id",
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("subject_user"),
    )
    return im.resolve_identity(e, "subject_user", keep_unmatched=False).select(
        "event_id", "subject_user", "identity"
    )


@register(
    "authprofile_pipeline",
    """
WITH e AS (
  SELECT event_id, user_id, event_type, ts,
         'u' || user_id AS subject_user,
         '10.' || (user_id % 32) || '.0.1' AS ip
  FROM events WHERE event_type IN ('signup', 'click')
), f AS (
  SELECT * FROM e
  WHERE NOT regexp_matches(subject_user, '^u9')
    AND NOT user_id % 32 = 0
), dim(alias, identity) AS (
  VALUES ('u1','alice'), ('u11','alice'), ('u21','alice'), ('alice','alice'),
         ('u2','bob'), ('u12','bob'), ('bob','bob'),
         ('u3','mallory'), ('mallory','mallory')
), ident AS (
  SELECT f.*, coalesce(dim.identity, f.subject_user) AS identity
  FROM f LEFT JOIN dim ON f.subject_user = dim.alias
), located AS (
  SELECT identity, ts, event_id, ip AS source_address,
         ((event_id * 37) % 18000) / 100.0 - 90.0 AS lat,
         ((event_id * 73) % 36000) / 100.0 - 180.0 AS lon
  FROM ident
), k AS (
  SELECT *, lag(ts) OVER (PARTITION BY identity, source_address
                          ORDER BY ts, event_id) AS prev_ip_ts
  FROM located
), p AS (
  SELECT *, lag(ts) OVER w AS prev_ts,
         lag(lat) OVER w AS prev_lat, lag(lon) OVER w AS prev_lon
  FROM k WINDOW w AS (PARTITION BY identity ORDER BY ts, event_id)
), d AS (
  SELECT identity, ts,
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
), state_alerts AS (
  SELECT ts, 'authprofile' AS category,
         CASE WHEN km > 800.0 * hours THEN 'critical' ELSE 'warn' END AS severity,
         identity AS subject, 'state_analyze' AS leg
  FROM d
  WHERE NOT known_ip AND prev_ts IS NOT NULL
), crit AS (
  SELECT ts, subject_user,
         row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts, event_id) AS rn
  FROM f WHERE event_type = 'click' AND user_id % 7 = 0
)
SELECT * FROM state_alerts
UNION ALL
SELECT ts, 'authprofile', 'critical', subject_user, 'crit_object'
FROM crit WHERE rn = 1
""",
    doc="SURVEY §3.2 AuthProfile assembly as ONE plan: Parse filter "
        "chain (ignored-user regex + internal-CIDR drop) -> "
        "ExtractIdentity (broadcast alias dim, unmatched keep their "
        "username, AuthProfile.java:254-307) -> StateAnalyze severity "
        "decision tree (batch twin) -> union with the CritObjectAnalyze "
        "leg (regex object escalation, first-per-identity-day "
        "suppression) — the same legs the reference wires in "
        "AuthProfile.java:1015-1085",
)
def q_authprofile_pipeline(spark, sf_dir):
    from pyspark.sql import Window

    from ..streaming.state import auth_state_decision_batch

    ev = _events(spark, sf_dir).where(F.col("event_type").isin("signup", "click"))
    e = ev.select(
        "event_id", "user_id", "event_type", "ts",
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("subject_user"),
        F.concat(
            F.lit("10."), (F.col("user_id") % 32).cast("string"), F.lit(".0.1")
        ).alias("ip"),
    )
    f = e.where(
        ~F.col("subject_user").rlike("^u9")
        & ~cidr_in_any(F.col("ip"), ["10.0.0.0/16"])
    )
    im = IdentityManager.from_json(_IDENTITY_CFG)
    ident = im.resolve_identity(f, "subject_user", keep_unmatched=True)
    ident = ident.withColumn(
        "identity", F.coalesce("identity", "subject_user")
    )
    logins = ident.select(
        "identity", F.col("ts").alias("timestamp"), "event_id",
        F.col("ip").alias("source_address"),
        (((F.col("event_id") * 37) % 18000) / 100.0 - 90.0).alias("lat"),
        (((F.col("event_id") * 73) % 36000) / 100.0 - 180.0).alias("lon"),
    )
    state = auth_state_decision_batch(logins)
    state_alerts = state.where(F.col("severity") != "info").select(
        F.col("timestamp").alias("ts"),
        F.lit("authprofile").alias("category"),
        "severity",
        F.col("identity").alias("subject"),
        F.lit("state_analyze").alias("leg"),
    )
    w = Window.partitionBy(
        "user_id", F.date_trunc("day", F.col("ts"))
    ).orderBy("ts", "event_id")
    crit_alerts = (
        f.where((F.col("event_type") == "click") & (F.col("user_id") % 7 == 0))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "ts", F.lit("authprofile").alias("category"),
            F.lit("critical").alias("severity"),
            F.col("subject_user").alias("subject"),
            F.lit("crit_object").alias("leg"),
        )
    )
    return state_alerts.unionByName(crit_alerts)
