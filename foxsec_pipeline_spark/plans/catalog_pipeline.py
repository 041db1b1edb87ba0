"""Catalog tranche 3: end-to-end pipeline-shaped queries — raw-line
parsing and the alert output plane — driver-checkable via semantic
oracles (the oracle states the expected normalized output directly).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..alert.model import suppress_first_per_key, to_alerts
from ..operators.windows import windowed_counts
from ..parser.parse import ParserCfg, parse_events
from ..session import load_tables
from .catalog import register


def _synth_glb_lines(spark, sf_dir):
    """Synthesize Stackdriver GLB LogEntry lines from the events table
    (deterministic; FIXTURES.md F1 shape) — the parse input."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    http_request = F.struct(
        F.concat(F.lit("10."), (F.col("user_id") % 32).cast("string"), F.lit(".0.1")).alias(
            "remoteIp"
        ),
        F.when(F.col("event_type") == "view", "GET").otherwise("POST").alias(
            "requestMethod"
        ),
        F.concat(
            F.lit("https://h"), (F.col("user_id") % 3).cast("string"),
            F.lit(".example.com/api/"), F.col("event_type"),
        ).alias("requestUrl"),
        F.when(F.col("event_type") == "error", 500).otherwise(200).alias("status"),
        F.concat(F.lit("ua-"), (F.col("user_id") % 7).cast("string")).alias("userAgent"),
    )
    entry = F.struct(
        F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("timestamp"),
        F.struct(
            F.struct(
                F.concat(F.lit("proj-"), (F.col("user_id") % 5).cast("string")).alias(
                    "project_id"
                )
            ).alias("labels")
        ).alias("resource"),
        F.struct(
            F.lit(
                "type.googleapis.com/google.cloud.loadbalancing.type.LoadBalancerLogEntry"
            ).alias("@type")
        ).alias("jsonPayload"),
        http_request.alias("httpRequest"),
    )
    return ev.select(F.to_json(entry).alias("value"))


@register(
    "parse_normalize",
    """
SELECT ts AS timestamp,
       'glb' AS payload_type,
       'http_request' AS normalized_type,
       '10.' || (user_id % 32) || '.0.1' AS source_address,
       CASE WHEN event_type = 'view' THEN 'GET' ELSE 'POST' END AS request_method,
       '/api/' || event_type AS request_path,
       'h' || (user_id % 3) || '.example.com' AS request_host,
       CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS request_status,
       'ua-' || (user_id % 7) AS user_agent,
       'proj-' || (user_id % 5) AS project_id
FROM events
""",
    doc="S8 parse scan end-to-end: raw Stackdriver GLB JSON lines -> "
        "normalized events (envelope strip + probe chain + URL split + "
        "event-time hoist); oracle states expected output semantically "
        "(Parser.java:507-564, ParserDoFn.java:83-122)",
)
def q_parse_normalize(spark, sf_dir):
    # localCheckpoint: materialization barrier between the synth
    # projection and the parse — see q_customs_prefilter_split
    # (CollapseProject otherwise inlines the to_json CASE into every
    # `value` reference; measured 1.8-2.3 s fused vs 1.2-1.4 s with
    # the barrier at sf0.1). Test scaffolding only: production lines
    # arrive from a source, which is already a barrier.
    raw = _synth_glb_lines(spark, sf_dir).localCheckpoint()
    parsed = parse_events(raw, ParserCfg(fast_matcher="LoadBalancerLogEntry"))
    return parsed.select(
        "timestamp", "payload_type", "normalized_type", "source_address",
        "request_method", "request_path", "request_host", "request_status",
        "user_agent", "project_id",
    )


def _synth_customs_lines(spark, sf_dir):
    """Synthesize the Customs pipeline's mixed raw stream from the
    events table: FxaAuth mozlog for click/error, FxaContent for view,
    PrivateRelay for signup, and a non-matching raw line for purchase
    (which the prefilter must drop).

    One scan, one projection: a when-cascade picks the line shape per
    row. The earlier 4-branch unionByName read events 4 times AND let
    PushProjectionThroughUnion clone the downstream 22-spec parse
    cascade into every branch — quadrupling Catalyst analysis +
    codegen driver time (measured: the wall time of the prefilter
    query was ~60% driver-side plan work).

    The events scan is fanned out BEFORE the to_json projection:
    events.parquet is a single row group at test SF, and a projection
    placed before the exchange evaluates on ONE core — a stage
    profile measured the synth to_json (not the parse) as the hot
    stage because count()-style probes column-prune it away. After
    the repartition the line construction runs on every core; at
    production scale the source has real partitioning and the
    repartition collapses to a no-op-sized shuffle of narrow rows."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    ev = ev.repartition(ev.sparkSession.sparkContext.defaultParallelism)
    bucket = (F.col("user_id") % 10).cast("string")
    addr = F.concat(F.lit("10.0."), bucket, F.lit(".1"))
    fxaauth = F.to_json(
        F.struct(
            F.lit(0).alias("Timestamp"),
            F.lit("fxa-auth-server").alias("Logger"),
            F.lit("request.summary").alias("Type"),
            F.struct(
                F.lit("/v1/account/login").alias("path"),
                F.lit("POST").alias("method"),
                F.when(F.col("event_type") == "error", "401")
                .otherwise("200").alias("status"),
                F.concat(F.lit('["'), addr, F.lit('"]')).alias(
                    "remoteAddressChain"
                ),
            ).alias("Fields"),
        )
    )
    fxacontent = F.to_json(
        F.struct(
            F.lit(0).alias("Timestamp"),
            F.lit("fxa-content-server").alias("Logger"),
            F.lit("server.requests.route").alias("Type"),
            F.struct(
                addr.alias("clientAddress"),
                F.lit("/metrics/flow").alias("path"),
                F.lit("GET").alias("method"),
                F.lit("200").alias("status"),
            ).alias("Fields"),
        )
    )
    relay = F.to_json(
        F.struct(
            F.lit(0).alias("Timestamp"),
            F.lit("fx-private-relay").alias("Logger"),
            F.lit("events").alias("Type"),
            F.struct(
                F.lit("email_relay").alias("msg"),
                F.concat(F.lit("uid-"), bucket).alias("fxa_uid"),
            ).alias("Fields"),
        )
    )
    other = F.concat(F.lit("noise line "), F.col("event_id").cast("string"))
    line = (
        F.when(F.col("event_type").isin("click", "error"), fxaauth)
        .when(F.col("event_type") == "view", fxacontent)
        .when(F.col("event_type") == "signup", relay)
        .otherwise(other)
    )
    return ev.select(line.alias("value"))


_CUSTOMS_CHAIN = None


def _customs_chain():
    # module-level singleton so parse_events' projection cache (keyed
    # by spec identity) hits across calls
    global _CUSTOMS_CHAIN
    if _CUSTOMS_CHAIN is None:
        from ..parser.payloads import (
            fxaauth_spec, fxacontent_spec, privaterelay_spec,
        )

        _CUSTOMS_CHAIN = [fxaauth_spec(), fxacontent_spec(), privaterelay_spec()]
    return _CUSTOMS_CHAIN


@register(
    "customs_prefilter_split",
    """
WITH legs AS (
  SELECT CASE WHEN event_type IN ('click', 'error') THEN 'fxa_auth'
              WHEN event_type = 'view' THEN 'fxa_content'
              WHEN event_type = 'signup' THEN 'private_relay' END AS leg,
         user_id % 10 AS bucket
  FROM events WHERE event_type <> 'purchase'
)
SELECT leg, bucket, count(*) AS n FROM legs GROUP BY 1, 2
""",
    doc="P9 customs/CustomsPreFilter.java + Customs.java:618-631 — the "
        "3-way FXA_AUTH / FXA_CONTENT / PRIVATE_RELAY tag-split of one "
        "parsed stream. Spark-first: the split is a derived `leg` column "
        "over ONE parse pass (no TupleTags, no re-scan); non-matching "
        "lines (raw) fall out of the filter",
)
def q_customs_prefilter_split(spark, sf_dir):
    raw = _synth_customs_lines(spark, sf_dir)
    # CustomsPreFilter.java: probe ONLY the three customs matchers and
    # drop everything else BEFORE full parsing — here a substring
    # pre-filter (pushed into the scan) plus a restricted 3-spec
    # chain. Besides matching the reference's semantics this keeps the
    # probe cascade 3 wide instead of 22 (7x less generated code on
    # the hottest map stage in the pipeline).
    raw = raw.where(
        F.col("value").contains("fxa-auth-server")
        | F.col("value").contains("fxa-content-server")
        | F.col("value").contains("fx-private-relay")
    )
    # materialization barrier between the SYNTH projection and the
    # parse: without it CollapseProject inlines the synthetic
    # to_json CASE into every `value` reference of the parse
    # projection (the wide from_json tree references value many
    # times), re-evaluating the struct serialization per reference —
    # measured 2.9-3.2 s fused vs 1.6-1.9 s with the barrier at
    # sf0.1 (stage-level: parse alone on materialized lines is
    # 0.14 s; synth+filter materialized is 0.49 s). Test-scaffolding
    # cost only: production raw lines arrive from a SOURCE (file/
    # Pub/Sub), which is already a recompute barrier.
    raw = raw.localCheckpoint()
    parsed = parse_events(raw, ParserCfg(chain=_customs_chain()))
    leg = (
        F.when(F.col("payload_type") == "fxaauth", "fxa_auth")
        .when(F.col("payload_type") == "fxacontent", "fxa_content")
        .when(F.col("payload_type") == "private_relay", "private_relay")
    )
    bucket = F.coalesce(
        F.regexp_extract(F.col("source_address"), r"^10\.0\.(\d+)\.1$", 1),
        F.regexp_extract(F.col("subject_user"), r"^uid-(\d+)$", 1),
    ).cast("long")
    return (
        parsed.withColumn("leg", leg)
        .where(F.col("leg").isNotNull())
        .groupBy("leg", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _error_hours(ev):
    """(window_start, user_id, event_count) of the users with >= 2
    error events in an hour."""
    return windowed_counts(
        ev.where(F.col("event_type") == "error"), "user_id", "ts", "1 hour",
        count_alias="event_count",
    ).where(F.col("event_count") >= 2)


@register(
    "alert_pipeline",
    """
WITH counts AS (
  SELECT date_trunc('hour', ts) AS window_start, user_id, count(*) AS event_count
  FROM events WHERE event_type = 'error' GROUP BY 1, 2 HAVING count(*) >= 2
), alerts AS (
  SELECT window_start AS timestamp, 'httprequest' AS category,
         'warn' AS severity,
         'error rate exceeded for user ' || user_id AS summary,
         user_id, event_count
  FROM counts
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, date_trunc('day', timestamp)
    ORDER BY timestamp) AS rn
  FROM alerts
)
SELECT timestamp, category, severity, summary,
       CAST(user_id AS VARCHAR) AS meta_user_id,
       CAST(event_count AS VARCHAR) AS meta_count
FROM ranked WHERE rn = 1
""",
    doc="alert output plane end-to-end: heuristic -> to_alerts projection "
        "-> first-per-key suppression (Alert.java, AlertSuppressor.java); "
        "metadata map entries surfaced as columns for the oracle",
)
def q_alert_pipeline(spark, sf_dir):
    ev = load_tables(spark, sf_dir, "events")["events"]
    hits = _error_hours(ev)
    alerts = to_alerts(
        hits,
        category="httprequest",
        severity="warn",
        summary=F.concat(F.lit("error rate exceeded for user "), F.col("user_id")),
        metadata_cols=["user_id", "event_count"],
    )
    suppressed = suppress_first_per_key(alerts, key_cols=[F.col("metadata")["user_id"]],
                                        expiry="1 day")
    return suppressed.select(
        "timestamp", "category", "severity", "summary",
        F.col("metadata").getItem("user_id").alias("meta_user_id"),
        F.col("metadata").getItem("event_count").alias("meta_count"),
    )


@register(
    "violation_projection",
    """
WITH counts AS (
  SELECT date_trunc('hour', ts) AS ws, user_id, count(*) AS n
  FROM events WHERE event_type = 'error' GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT '10.' || (user_id % 32) || '.0.1' AS object, 'ip' AS type,
       'hard_limit_violation' AS violation
FROM counts
""",
    doc="S13 iprepd sink: Alert -> Violation conversion "
        "(IprepdIO.java:389-420, Violation.java:100-235,344) driver-verified "
        "— hard_limit alerts carrying a source_address become the "
        "(object, type, violation) submissions that iprepd_violation_emitter "
        "PUTs, through the same per-line conversion on the executors",
)
def q_violation_projection(spark, sf_dir):
    import json

    import pandas as pd

    from ..alert.model import alerts_to_json
    from ..sinks.output import violation_wires_from_alert_json

    ev = load_tables(spark, sf_dir, "events")["events"]
    hits = _error_hours(ev).withColumn(
        "source_address",
        F.concat(F.lit("10."), (F.col("user_id") % 32).cast("string"), F.lit(".0.1")),
    )
    alerts = to_alerts(
        hits,
        category="httprequest",
        subcategory="hard_limit",
        severity="warn",
        summary=F.concat(F.lit("heavy hitter "), F.col("source_address")),
        metadata_cols=["source_address", "event_count"],
    )

    def wires(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [
                    (obj, obj_type, json.loads(wire)["violation"])
                    for line in pdf["value"]
                    for obj_type, obj, wire in violation_wires_from_alert_json(line)
                ],
                columns=["object", "type", "violation"],
            )

    return alerts_to_json(alerts).mapInPandas(
        wires, "object string, type string, violation string"
    )


@register(
    "notify_merge",
    """
WITH a AS (
  SELECT ts, 'err-' || user_id AS summary,
         CASE WHEN user_id % 4 <> 0
              THEN 'grp-' || (user_id % 16) END AS nm
  FROM events WHERE event_type = 'error'
), m AS (
  SELECT nm AS notify_merge, min(ts) AS first_ts,
         count(*) AS n_alerts, min(summary) AS s
  FROM a WHERE nm IS NOT NULL GROUP BY date_trunc('hour', ts), nm
)
SELECT notify_merge, first_ts, n_alerts,
       CASE WHEN n_alerts > 1
            THEN s || ' (' || (n_alerts - 1) || ' similar alerts)'
            ELSE s END AS summary,
       CASE WHEN n_alerts > 1 THEN n_alerts END AS notify_merged_count
FROM m
UNION ALL
SELECT CAST(NULL AS VARCHAR), ts, CAST(1 AS BIGINT), summary,
       CAST(NULL AS BIGINT)
FROM a WHERE nm IS NULL
""",
    doc="S14 AlertIO notify-merge (AlertIO.java:116-143, golden "
        "TestAlertMerge.alertMergeTest): alerts sharing a notify_merge "
        "key within the window become ONE notification whose summary "
        "gains ' (N-1 similar alerts)' and a notify_merged_count — "
        "ONLY when something actually merged; lone keyed alerts and "
        "key-less alerts pass through clean",
)
def q_notify_merge(spark, sf_dir):
    from ..alert.model import merge_for_notification

    ev = load_tables(spark, sf_dir, "events")["events"]
    alerts = ev.where(F.col("event_type") == "error").select(
        F.col("ts").alias("timestamp"),
        F.concat(F.lit("err-"), F.col("user_id").cast("string")).alias("summary"),
        F.when(
            F.col("user_id") % 4 != 0,
            F.concat(F.lit("grp-"), (F.col("user_id") % 16).cast("string")),
        ).alias("notify_merge"),
    )
    return merge_for_notification(alerts, window="1 hour")


@register(
    "postprocessing_pipeline",
    """
WITH alerts AS (
  SELECT event_id AS alert_id, ts, event_type AS category,
         '10.' || (user_id % 32) || '.0.1' AS ip,
         'u' || user_id || '@example.com' AS email
  FROM events
), kv AS (
  SELECT alert_id, ts, 'source_address' AS matched_key, ip AS obj,
         'ip' AS kind
  FROM alerts
  UNION ALL
  SELECT alert_id, ts, 'email', email, 'email' FROM alerts
), wl(wl_type, wl_object, wl_severity) AS (
  VALUES ('ip', '10.3.0.1', 'warn'), ('ip', '10.7.0.1', 'critical'),
         ('email', 'u17@example.com', 'critical'),
         ('email', 'u42@example.com', 'warn')
), wl_leg AS (
  SELECT 'watchlist' AS subcategory, ts, wl_severity AS severity,
         'matched watchlist object found in alert ' || alert_id AS summary,
         matched_key, wl_object AS matched_object,
         CASE wl_severity WHEN 'critical' THEN 'critical@example.com'
              ELSE 'warning@example.com' END AS notify_email,
         CAST(NULL AS DOUBLE) AS pct_change
  FROM kv JOIN wl ON obj = wl_object AND kind = wl_type
), counts AS (
  SELECT date_trunc('day', ts) AS window_start, category, count(*) AS n
  FROM alerts GROUP BY 1, 2
), d AS (
  SELECT window_start, category, n,
         lag(n) OVER (PARTITION BY category ORDER BY window_start) AS prev_n
  FROM counts
), sm AS (
  SELECT 'summary' AS subcategory, window_start AS ts, 'warn' AS severity,
         'alert volume anomaly: ' || category AS summary,
         CAST(NULL AS VARCHAR) AS matched_key,
         CAST(NULL AS VARCHAR) AS matched_object,
         CAST(NULL AS VARCHAR) AS notify_email,
         round((n - prev_n) * 100.0 / prev_n, 6) AS pct_change
  FROM d WHERE prev_n IS NOT NULL
    AND CAST(floor(abs((n - prev_n) * 100.0 / prev_n)) AS BIGINT) > 10
)
SELECT * FROM wl_leg UNION ALL SELECT * FROM sm
""",
    doc="postprocessing/PostProcessing.java:54-420 composed pipeline: an "
        "alert stream fans into (a) WatchlistAnalyze — ip AND email alert "
        "metadata unpivoted to (key, value, kind) rows and broadcast-joined "
        "against the watchlist, emitting escalation alerts with matched "
        "metadata + severity-routed notify address (createAlert, "
        "PostProcessing.java:349-374) — and (b) AlertSummary volume-anomaly "
        "deltas (AlertSummary.java:427-514); both legs union into one "
        "postprocessing alert stream. The reference batches Datastore "
        "watchlist lookups per 250 alerts to bound QPS; a broadcast join "
        "makes batching moot",
)
def q_postprocessing_pipeline(spark, sf_dir):
    from ..operators.summary import summary_delta

    ev = load_tables(spark, sf_dir, "events")["events"]
    alerts = ev.select(
        F.col("event_id").alias("alert_id"),
        "ts",
        F.col("event_type").alias("category"),
        F.concat(F.lit("10."), (F.col("user_id") % 32).cast("string"),
                 F.lit(".0.1")).alias("ip"),
        F.concat(F.lit("u"), F.col("user_id").cast("string"),
                 F.lit("@example.com")).alias("email"),
    )
    # unpivot the checkable metadata keys to (key, value, kind) rows —
    # the reference walks ipKeys/emailKeys per alert; stack() is the
    # columnar twin and keeps the join a single equi-join
    kv = alerts.select(
        "alert_id", "ts",
        F.expr(
            "stack(2, 'source_address', ip, 'ip', 'email', email, 'email') "
            "AS (matched_key, obj, kind)"
        ),
    )
    wl = ev.sparkSession.createDataFrame(
        [("ip", "10.3.0.1", "warn"), ("ip", "10.7.0.1", "critical"),
         ("email", "u17@example.com", "critical"),
         ("email", "u42@example.com", "warn")],
        "wl_type string, wl_object string, wl_severity string",
    )
    wl_leg = (
        kv.join(F.broadcast(wl),
                (kv["obj"] == wl["wl_object"]) & (kv["kind"] == wl["wl_type"]))
        .select(
            F.lit("watchlist").alias("subcategory"),
            "ts",
            F.col("wl_severity").alias("severity"),
            F.concat(F.lit("matched watchlist object found in alert "),
                     F.col("alert_id").cast("string")).alias("summary"),
            "matched_key",
            F.col("wl_object").alias("matched_object"),
            F.when(F.col("wl_severity") == "critical",
                   "critical@example.com")
            .otherwise("warning@example.com").alias("notify_email"),
            F.lit(None).cast("double").alias("pct_change"),
        )
    )
    sm = summary_delta(
        alerts, classifier="category", ts="ts", duration="1 day", warn_pct=10.0
    ).select(
        F.lit("summary").alias("subcategory"),
        F.col("window_start").alias("ts"),
        F.lit("warn").alias("severity"),
        F.concat(F.lit("alert volume anomaly: "), F.col("category")).alias("summary"),
        F.lit(None).cast("string").alias("matched_key"),
        F.lit(None).cast("string").alias("matched_object"),
        F.lit(None).cast("string").alias("notify_email"),
        "pct_change",
    )
    return wl_leg.unionByName(sm)
