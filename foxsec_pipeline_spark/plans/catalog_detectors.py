"""Catalog tranche 6: the round-2 detector families — Gatekeeper ETD,
AwsBehavior event matchers, the five remaining AMO heuristics, and the
remaining Customs detectors (distributed login failure, content-server
variance gate, activity monitor, the comparator/at-risk state pair,
CustomsAlert fan-out).

Each query synthesizes the detector's input columns deterministically
from the driver's events table (same technique as the r01 customs
tranche) so the DuckDB oracle can state the expected output in pure
SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.detectors import (
    activity_monitor,
    addon_cloud_submission,
    addon_matcher,
    addon_multi_submit,
    aws_behavior_match,
    customs_alert_rows,
    etd_finding_alerts,
    fxa_ban_pattern_match,
    login_failure_for_at_risk_account,
    report_restriction,
    source_login_failure_dist,
    status_comparator_state,
    variance_view,
)
from ..operators.windows import time_window, windowed_agg, windowed_counts
from ..session import load_tables
from .catalog import register


def _events(spark, sf_dir):
    return load_tables(spark, sf_dir, "events")["events"]


# pid-scoped shared-state dirs whose atexit cleanup is already
# registered (one registration per path per process)
_LFARA_CLEANUP_REGISTERED: set[str] = set()


# --- Gatekeeper ETD -------------------------------------------------------

_ETD_RULES = {
    "error": "iam_anomalous_grant",
    "view": "persistence_gcs",
    "click": "malware_bad_ip",
    "signup": "cryptomining",
    "purchase": "noisy_internal_scan",
}

_ETD_RULE_SQL = (
    "CASE event_type WHEN 'error' THEN 'iam_anomalous_grant'"
    " WHEN 'view' THEN 'persistence_gcs'"
    " WHEN 'click' THEN 'malware_bad_ip'"
    " WHEN 'signup' THEN 'cryptomining'"
    " ELSE 'noisy_internal_scan' END"
)


@register(
    "etd_finding_matcher",
    f"""
WITH f AS (
  SELECT ts, {_ETD_RULE_SQL} AS rule_name,
         'technique-' || (user_id % 4) AS technique,
         'audit_log' AS indicator,
         CAST(user_id % 20 AS VARCHAR) AS project_number
  FROM events
), kept AS (
  SELECT * FROM f WHERE NOT regexp_matches(rule_name, 'noisy_.*')
), sev AS (
  SELECT *, CASE WHEN regexp_matches(rule_name, 'iam_.*|cryptomining')
                 THEN 'high' ELSE 'low' END AS handling_severity,
         'critical' AS severity, 'gatekeeper:gcp' AS category
  FROM kept
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY project_number, rule_name, technique, indicator,
                 date_trunc('hour', ts)
    ORDER BY ts) AS rn
  FROM sev
)
SELECT ts, rule_name, technique, indicator, project_number,
       handling_severity, severity, category
FROM ranked WHERE rn = 1
""",
    doc="gatekeeper/ETDTransforms.java:1-302 — ExtractFindings ignore "
        "regexes, GenerateETDAlerts high/low handling severity mapping, "
        "SuppressAlerts first-per-(project,rule,technique,indicator) per "
        "window; reference tests gatekeeper/TestETD*.java",
)
def q_etd_finding_matcher(spark, sf_dir):
    ev = _events(spark, sf_dir)
    rule = F.lit(None).cast("string")
    for et, rn in reversed(list(_ETD_RULES.items())):
        rule = F.when(F.col("event_type") == et, rn).otherwise(rule)
    findings = ev.select(
        "ts",
        rule.alias("rule_name"),
        F.concat(F.lit("technique-"), (F.col("user_id") % 4).cast("string")).alias(
            "technique"
        ),
        F.lit("audit_log").alias("indicator"),
        (F.col("user_id") % 20).cast("string").alias("project_number"),
    )
    return etd_finding_alerts(
        findings,
        ignore_rule_regexes=["noisy_.*"],
        high_rule_regexes=["iam_.*", "cryptomining"],
        suppress_window="1 hour",
    ).select(
        "ts", "rule_name", "technique", "indicator", "project_number",
        "handling_severity", "severity", "category",
    )


# --- AwsBehavior ----------------------------------------------------------

_AWS_MATCHERS = [
    {
        "description": "access key created",
        "resource": "user_name",
        "fields": [["event_name", "CreateAccessKey"]],
    },
    {
        "description": "console signin without mfa",
        "fields": [
            ["event_source", "signin.amazonaws.com"],
            ["mfa", "false"],
        ],
    },
]


@register(
    "aws_behavior_match",
    """
WITH ct AS (
  SELECT event_id, ts, 'u' || user_id AS user_name,
         CASE WHEN event_type = 'signup' THEN 'CreateAccessKey'
              WHEN event_type = 'click' THEN 'ConsoleLogin'
              ELSE 'DescribeInstances' END AS event_name,
         CASE WHEN event_type = 'click' THEN 'signin.amazonaws.com'
              ELSE 'ec2.amazonaws.com' END AS event_source,
         CASE WHEN user_id % 2 = 0 THEN 'false' ELSE 'true' END AS mfa
  FROM events
)
SELECT event_id, ts, user_name, 'access key created' AS matcher_description,
       user_name AS matched_resource, 'critical' AS severity,
       'awsbehavior' AS category
FROM ct WHERE event_name = 'CreateAccessKey'
UNION ALL
SELECT event_id, ts, user_name, 'console signin without mfa',
       NULL, 'critical', 'awsbehavior'
FROM ct WHERE event_source = 'signin.amazonaws.com' AND mfa = 'false'
""",
    doc="awsbehavior/AwsBehavior.java:74-184 + CloudtrailMatcher.java — "
        "configured field matchers compiled to predicates; one scan with "
        "array+explode fan-out instead of N re-scans (an event may match "
        "several matchers); reference test TestAwsBehavior.java",
)
def q_aws_behavior(spark, sf_dir):
    ev = _events(spark, sf_dir)
    ct = ev.select(
        "event_id", "ts",
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("user_name"),
        F.when(F.col("event_type") == "signup", "CreateAccessKey")
        .when(F.col("event_type") == "click", "ConsoleLogin")
        .otherwise("DescribeInstances").alias("event_name"),
        F.when(F.col("event_type") == "click", "signin.amazonaws.com")
        .otherwise("ec2.amazonaws.com").alias("event_source"),
        F.when(F.col("user_id") % 2 == 0, "false").otherwise("true").alias("mfa"),
    )
    return aws_behavior_match(
        ct,
        _AWS_MATCHERS,
        field_cols={
            "event_name": "event_name",
            "event_source": "event_source",
            "mfa": "mfa",
            "user_name": "user_name",
        },
    ).select(
        "event_id", "ts", "user_name", "matcher_description",
        "matched_resource", "severity", "category",
    )


# --- AMO heuristics -------------------------------------------------------

def _uploads(spark, sf_dir):
    """Synthesized FILEUPLOADMNT-shaped rows: filename/bytes/email/ip."""
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id", "ts",
        F.concat(
            F.lit("addon_"), (F.col("user_id") % 20).cast("string"),
            F.when(F.col("user_id") % 3 == 0, ".xpi").otherwise(".zip"),
        ).alias("file_name"),
        (F.round(F.col("value") * 500).cast("long") + 500).alias("bytes"),
        F.concat(
            F.lit("user."), F.col("user_id").cast("string"),
            F.lit("@ex"), (F.col("user_id") % 5).cast("string"), F.lit(".com"),
        ).alias("email"),
        F.concat(
            F.lit("10."), (F.col("user_id") % 32).cast("string"), F.lit(".0.1")
        ).alias("source_address"),
    )


_UPLOADS_SQL = """
  SELECT event_id, ts,
         'addon_' || (user_id % 20)
           || CASE WHEN user_id % 3 = 0 THEN '.xpi' ELSE '.zip' END AS file_name,
         CAST(round(value * 500) AS BIGINT) + 500 AS bytes,
         'user.' || user_id || '@ex' || (user_id % 5) || '.com' AS email,
         '10.' || (user_id % 32) || '.0.1' AS source_address
  FROM events
"""


@register(
    "amo_addon_matcher",
    f"""
WITH up AS ({_UPLOADS_SQL})
SELECT event_id, ts, file_name, bytes, email,
       0 AS matched_criterion, 'amo_abuse_matched_addon' AS subcategory
FROM up
WHERE regexp_matches(file_name, '^(addon_.*\\.xpi)$') AND bytes BETWEEN 1000 AND 8000
""",
    doc="amo/AddonMatcher.java:67-160 — FILEUPLOADMNT filename-regex + "
        "size-band criteria (<regex>:<minbytes>:<maxbytes>); first "
        "criterion wins",
)
def q_amo_addon_matcher(spark, sf_dir):
    return addon_matcher(
        _uploads(spark, sf_dir), criteria=[(r"addon_.*\.xpi", 1000, 8000)]
    ).select(
        "event_id", "ts", "file_name", "bytes", "email",
        "matched_criterion", "subcategory",
    )


@register(
    "amo_multi_submit",
    f"""
WITH up AS ({_UPLOADS_SQL}),
pairs AS (
  SELECT DISTINCT
         CASE WHEN bytes % 10000 = 0 THEN bytes
              ELSE bytes + (10000 - bytes % 10000) END AS rounded_size,
         email
  FROM up WHERE bytes > 3000
)
SELECT rounded_size, count(*) AS n_submitters,
       string_agg(email, ',' ORDER BY email) AS emails,
       'amo_abuse_multi_submit' AS subcategory
FROM pairs GROUP BY 1 HAVING count(*) >= 20
""",
    doc="amo/AddonMultiSubmit.java:63-157 — distinct (rounded-size, "
        "email) pairs; alert when one size bucket has enough distinct "
        "submitters; sizes round UP to 10k, <=3000 bytes ignored",
)
def q_amo_multi_submit(spark, sf_dir):
    return addon_multi_submit(
        _uploads(spark, sf_dir), min_bytes=3000, alert_on=20
    ).select("rounded_size", "n_submitters", "emails", "subcategory")


@register(
    "amo_cloud_submission",
    f"""
WITH up AS ({_UPLOADS_SQL})
SELECT event_id, ts, email, source_address,
       CASE WHEN oct2 BETWEEN 0 AND 7 THEN 'aws'
            WHEN oct2 BETWEEN 8 AND 11 THEN 'gcp' END AS provider,
       'amo_cloud_submission' AS subcategory
FROM (SELECT *, CAST(string_split(source_address, '.')[2] AS BIGINT) AS oct2 FROM up)
WHERE oct2 BETWEEN 0 AND 11
""",
    doc="amo/AddonCloudSubmission.java:41-120 — NEWVERSION source in "
        "cloud-provider CIDR ranges (aws checked before gcp); membership "
        "is constant-folded integer SQL, no radix tree",
)
def q_amo_cloud_submission(spark, sf_dir):
    return addon_cloud_submission(
        _uploads(spark, sf_dir),
        cloud_cidrs={"aws": ["10.0.0.0/13"], "gcp": ["10.8.0.0/14"]},
    ).select(
        "event_id", "ts", "email", "source_address", "provider", "subcategory"
    )


@register(
    "amo_fxa_ban_pattern",
    f"""
WITH up AS ({_UPLOADS_SQL})
SELECT event_id, ts, email, source_address,
       'fxa_account_abuse_new_version_login_banpattern' AS subcategory
FROM up WHERE regexp_matches(email, '^(.*@ex3\\.com)$')
""",
    doc="amo/FxaAccountAbuseNewVersion.java:100-160 — FXALOGIN email vs "
        "configured ban-pattern regexes",
)
def q_amo_fxa_ban(spark, sf_dir):
    return fxa_ban_pattern_match(
        _uploads(spark, sf_dir), ban_patterns=[r".*@ex3\.com"]
    ).select("event_id", "ts", "email", "source_address", "subcategory")


@register(
    "amo_report_restriction",
    """
SELECT event_id, ts,
       'user.' || user_id || '@ex' || (user_id % 5) || '.com' AS restricted_value,
       'amo_restriction' AS subcategory
FROM events WHERE event_type = 'error' AND user_id % 4 = 0
""",
    doc="amo/ReportRestriction.java:40-76 — RESTRICTED events alert with "
        "the restricted indicator",
)
def q_amo_report_restriction(spark, sf_dir):
    ev = _events(spark, sf_dir)
    restricted = ev.select(
        "event_id", "ts",
        F.when(
            (F.col("event_type") == "error") & (F.col("user_id") % 4 == 0),
            F.concat(
                F.lit("user."), F.col("user_id").cast("string"),
                F.lit("@ex"), (F.col("user_id") % 5).cast("string"), F.lit(".com"),
            ),
        ).alias("restricted_value"),
    )
    return report_restriction(restricted).select(
        "event_id", "ts", "restricted_value", "subcategory"
    )


# --- Customs detectors ----------------------------------------------------

@register(
    "source_login_failure_dist",
    """
SELECT date_trunc('day', ts) AS window_start, user_id,
       count(*) AS n_failures, count(DISTINCT props) AS n_sources
FROM events WHERE event_type = 'error'
GROUP BY 1, 2 HAVING count(*) >= 3 AND count(DISTINCT props) >= 3
""",
    doc="customs/SourceLoginFailureDist.java:53-100 — per-account window "
        "where failure total AND distinct failing sources both reach the "
        "threshold; one aggregation computes both",
)
def q_source_login_failure_dist(spark, sf_dir):
    return source_login_failure_dist(
        _events(spark, sf_dir),
        account_col="user_id",
        addr_col="props",
        failure_predicate=F.col("event_type") == "error",
        ts="ts",
        duration="1 day",
        threshold=3,
    )


@register(
    "content_server_variance",
    """
WITH cand AS (
  SELECT date_trunc('day', ts) AS window_start, user_id,
         count(DISTINCT props) AS n_accounts
  FROM events GROUP BY 1, 2 HAVING count(DISTINCT props) >= 5
), var AS (
  SELECT DISTINCT date_trunc('day', ts) AS window_start, user_id
  FROM events WHERE event_type = 'view'
)
SELECT c.window_start, c.user_id, c.n_accounts
FROM cand c LEFT JOIN var v
  ON c.window_start = v.window_start AND c.user_id = v.user_id
WHERE v.user_id IS NULL
""",
    doc="customs/ContentServerVarianceDetector.java:51-95 + "
        "CustomsWindow.java:14-17 — the J3 window-aligned presence view: "
        "enumeration candidates WITHOUT content-server variance in the "
        "same window alert (variance = normal browser traffic)",
)
def q_content_server_variance(spark, sf_dir):
    ev = _events(spark, sf_dir)
    cand = (
        windowed_agg(
            ev, ["user_id"], time_window("ts", "1 day"),
            F.countDistinct("props").alias("n_accounts"),
        )
        .where(F.col("n_accounts") >= 5)
        .drop("window_end")
    )
    var = variance_view(
        ev, key_col="user_id",
        presence_predicate=F.col("event_type") == "view",
        ts="ts", duration="1 day",
    ).select("window_start", "user_id")
    return cand.join(F.broadcast(var), ["window_start", "user_id"], "left_anti")


_MONITORED = [3, 7, 11, 42, 77]


@register(
    "customs_activity_monitor",
    """
SELECT event_id, ts, user_id, event_type, 'activity_monitor' AS subcategory
FROM events
WHERE event_type IN ('click', 'error') AND user_id IN (3, 7, 11, 42, 77)
""",
    doc="customs/CustomsActivityForMonitoredAccounts.java:60-110 — login "
        "events for accounts on the monitored list; broadcast semi-join "
        "replaces the in-DoFn set lookup",
)
def q_activity_monitor(spark, sf_dir):
    ev = _events(spark, sf_dir).where(F.col("event_type").isin("click", "error"))
    monitored = ev.sparkSession.createDataFrame(
        [(i,) for i in _MONITORED], "user_id bigint"
    )
    return activity_monitor(ev, monitored, account_col="user_id").select(
        "event_id", "ts", "user_id", "event_type", "subcategory"
    )


@register(
    "login_failure_at_risk_account",
    """
WITH comp AS (
  SELECT date_trunc('day', ts) AS window_start, user_id,
         '10.' || (user_id % 32) || '.0.1' AS addr
  FROM events GROUP BY 1, 2
  HAVING count(*) FILTER (WHERE event_type = 'view') >= 2
     AND count(*) FILTER (WHERE event_type = 'error') >= 1
), state AS (
  SELECT user_id AS email, addr AS scanned_by, window_start AS scanned_at,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY window_start DESC, addr) AS rn
  FROM comp
)
SELECT e.event_id, e.ts, e.user_id, s.scanned_by, s.scanned_at,
       'login_failure_at_risk_account' AS subcategory
FROM events e JOIN state s ON e.user_id = s.email AND e.ts >= s.scanned_at
WHERE s.rn = 1 AND e.event_type = 'error'
""",
    doc="T6->detector state pair: CustomsStatusComparator.java:155-164 "
        "persists email->scanned_by; "
        "CustomsLoginFailureForAtRiskAccount.java:70-125 alerts on later "
        "login failures for stored accounts. The Datastore kind becomes "
        "an explicit state snapshot (SURVEY §7 hard part 2); the pytest "
        "twin proves the parquet handoff across two queries",
)
def q_login_failure_at_risk(spark, sf_dir):
    from ..operators.customs import status_comparator

    ev = _events(spark, sf_dir)
    comp = status_comparator(
        ev, key="user_id",
        scan_predicate=F.col("event_type") == "view",
        failure_predicate=F.col("event_type") == "error",
        ts="ts", duration="1 day", min_scans=2, min_failures=1,
    ).withColumn(
        "addr",
        F.concat(F.lit("10."), (F.col("user_id") % 32).cast("string"), F.lit(".0.1")),
    )
    state = status_comparator_state(comp, account_col="user_id", addr_col="addr")
    return login_failure_for_at_risk_account(
        ev, state, account_col="user_id",
        failure_predicate=F.col("event_type") == "error", ts="ts",
    ).select(
        "event_id", "ts", "user_id", "scanned_by", "scanned_at", "subcategory"
    )


@register(
    "shared_state_at_risk",
    """
WITH comp AS (
  SELECT date_trunc('day', ts) AS window_start, user_id,
         '10.' || (user_id % 32) || '.0.1' AS addr
  FROM events GROUP BY 1, 2
  HAVING count(*) FILTER (WHERE event_type = 'view') >= 2
     AND count(*) FILTER (WHERE event_type = 'error') >= 1
), state AS (
  SELECT user_id AS email, addr AS scanned_by, window_start AS scanned_at,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY window_start DESC, addr) AS rn
  FROM comp
)
SELECT e.event_id, e.ts, e.user_id, s.scanned_by, s.scanned_at,
       'shared_state_at_risk' AS subcategory
FROM events e JOIN state s ON e.user_id = s.email AND e.ts >= s.scanned_at
WHERE s.rn = 1 AND e.event_type = 'error'
""",
    doc="the PERSISTENT cross-job state contract (SURVEY §7 hard part "
        "2; state/DatastoreStateInterface.java replaced by "
        "streaming/state_table.py): the comparator's email->ScannedBy "
        "state is written through an on-disk StateTable in TWO "
        "incremental last-writer-wins merges (events split by day "
        "parity, so the final snapshot is the result of real "
        "merge-upserts, not a one-shot write) and the consumer reads "
        "the snapshot back from disk — producer and consumer share "
        "ONLY the table path, exactly the Datastore-kind handoff of "
        "CustomsStatusComparator.java:155-164 -> "
        "CustomsLoginFailureForAtRiskAccount.java:100-127. The oracle "
        "computes the same state in one shot: last-writer-wins merge "
        "is associative ((scanned_at DESC, scanned_by ASC) totally "
        "orders rows per email), so incremental == one-shot. Scale: "
        "state is account-cardinality; each merge is one shuffle on "
        "the key; the consumer broadcasts the snapshot",
)
def q_shared_state_at_risk(spark, sf_dir):
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    from ..operators.customs import status_comparator
    from ..streaming.state_table import at_risk_state_table

    ev = _events(spark, sf_dir)
    # deterministic per-dataset-PER-PROCESS path, rebuilt from scratch
    # each run — repeated bench/driver invocations in one process reuse
    # ONE directory instead of leaking a mkdtemp per call, while the
    # pid suffix keeps concurrent runs (bench + driver check on the
    # same sf_dir) from rmtree'ing each other's live state table; the
    # atexit hook removes this process's dir at shutdown so distinct
    # processes (bench, driver, pytest workers) don't each leave one
    # behind in tmpdir
    state_dir = os.path.join(
        tempfile.gettempdir(),
        "lfara_state_"
        f"{hashlib.sha1(sf_dir.encode()).hexdigest()[:12]}_{os.getpid()}",
    )
    if state_dir not in _LFARA_CLEANUP_REGISTERED:
        _LFARA_CLEANUP_REGISTERED.add(state_dir)
        atexit.register(shutil.rmtree, state_dir, ignore_errors=True)
    shutil.rmtree(state_dir, ignore_errors=True)
    table = at_risk_state_table(state_dir)
    # producer: two chronological deltas (day-windows are whole within
    # a parity class, so comp(half) pieces tile comp(all))
    comp = status_comparator(
        ev, key="user_id",
        scan_predicate=F.col("event_type") == "view",
        failure_predicate=F.col("event_type") == "error",
        ts="ts", duration="1 day", min_scans=2, min_failures=1,
    ).select(
        F.col("user_id").alias("email"),
        F.concat(F.lit("10."), (F.col("user_id") % 32).cast("string"),
                 F.lit(".0.1")).alias("scanned_by"),
        F.col("window_start").alias("scanned_at"),
    )
    for parity in (0, 1):
        table.merge(
            comp.where(F.dayofyear("scanned_at") % 2 == parity),
            job_id="status-comparator", batch_id=parity,
        )
    # consumer: reads ONLY the on-disk snapshot
    state = table.read(spark)
    return login_failure_for_at_risk_account(
        ev, state, account_col="user_id",
        failure_predicate=F.col("event_type") == "error", ts="ts",
    ).select(
        "event_id", "ts", "user_id", "scanned_by", "scanned_at",
        F.lit("shared_state_at_risk").alias("subcategory"),
    )


@register(
    "customs_alert_fanout",
    """
WITH hits AS (
  SELECT date_trunc('day', ts) AS window_start, user_id, count(*) AS n
  FROM events WHERE event_type = 'error'
  GROUP BY 1, 2 HAVING count(*) > 3
), alerts AS (
  SELECT window_start AS ts,
         CASE WHEN user_id % 3 = 0 THEN 'velocity'
              ELSE 'source_login_failure' END AS heuristic,
         '10.' || (user_id % 32) || '.0.1' AS source_address,
         'u' || user_id || '@ex.com' AS email,
         CAST(n AS VARCHAR) AS cnt
  FROM hits
)
SELECT ts, heuristic, 'sourceaddress' AS indicator_type,
       source_address AS indicator, 'warn' AS severity,
       100 AS confidence, 'suspect' AS suggested_action,
       CASE WHEN heuristic = 'source_login_failure'
            THEN source_address || ' failed login ' || cnt || ' times in window'
            ELSE 'u' || ' velocity exceeded, ' || ' km in ' || ' seconds'
       END AS reason
FROM alerts
UNION ALL
SELECT ts, heuristic, 'email', email, 'warn', 100, 'suspect',
       'u' || ' velocity exceeded, ' || ' km in ' || ' seconds'
FROM alerts WHERE heuristic = 'velocity'
""",
    doc="customs/CustomsAlert.java:117-433 — per-customer CustomsAlert "
        "fan-out with reference-exact per-subcategory indicator rules "
        "(source_login_failure is address-only; velocity adds the email "
        "row) — golden-replayed in tests/test_reference_goldens3.py "
        "(array+explode, single pass)",
)
def q_customs_alert_fanout(spark, sf_dir):
    ev = _events(spark, sf_dir)
    hits = windowed_counts(
        ev.where(F.col("event_type") == "error"), "user_id", "ts", "1 day"
    ).where(F.col("n") > 3)
    alerts = hits.select(
        F.col("window_start").alias("timestamp"),
        F.when(F.col("user_id") % 3 == 0, "velocity")
        .otherwise("source_login_failure")
        .alias("subcategory"),
        F.map_from_arrays(
            F.array(F.lit("sourceaddress"), F.lit("email"), F.lit("count"),
                    F.lit("uid"), F.lit("km_distance"),
                    F.lit("time_delta_seconds")),
            F.array(
                F.concat(F.lit("10."), (F.col("user_id") % 32).cast("string"),
                         F.lit(".0.1")),
                F.concat(F.lit("u"), F.col("user_id").cast("string"),
                         F.lit("@ex.com")),
                F.col("n").cast("string"),
                F.lit("u"), F.lit(""), F.lit(""),
            ),
        ).alias("metadata"),
    )
    return (
        customs_alert_rows(alerts)
        .drop("heuristic_description")
        .withColumnRenamed("timestamp", "ts")
    )
