"""Detector-family operators:
Gatekeeper ETD, AwsBehavior event matching, the five remaining AMO
heuristics, and the remaining Customs detectors.

Reference files (semantics only; every implementation is a
declarative single-scan / single-shuffle Spark plan):
- `gatekeeper/ETDTransforms.java:1-302` (ExtractFindings ignore
  regexes -> GenerateETDAlerts severity mapping -> SuppressAlerts
  keyed on project+rule+technique+indicator)
- `awsbehavior/AwsBehavior.java:74-184` + `CloudtrailMatcher.java`
  (configured field matchers -> per-matcher alert; one event may
  match several matchers)
- `amo/AddonMatcher.java:67-160` (filename regex + size band)
- `amo/AddonMultiSubmit.java:63-157` (distinct (rounded-size, email)
  pairs, per-size count threshold; sizes round UP to 10k)
- `amo/AddonCloudSubmission.java:41-120` (upload source in AWS/GCP
  ranges -> provider-tagged alert)
- `amo/FxaAccountAbuseNewVersion.java:71-170` (FxA login email vs
  configured ban patterns)
- `amo/ReportRestriction.java:40-76` (RESTRICTED events -> alert)
- `customs/SourceLoginFailureDist.java:53-100` (per-account window:
  failure total AND distinct-source count over threshold)
- `customs/ContentServerVarianceDetector.java:51-95` (window-aligned
  {ip -> seen} presence view, J3 join pattern)
- `customs/CustomsActivityForMonitoredAccounts.java:60-110`
  (monitored-account broadcast membership -> per-event alert)
- `customs/CustomsStatusComparator.java:140-180` +
  `customs/CustomsLoginFailureForAtRiskAccount.java:70-125` (the
  cross-pipeline state pair: comparator persists email->scanned_by,
  LFARA alerts on later login failure for a stored email)
- `customs/CustomsAlert.java:117-260` (per-customer CustomsAlert
  fan-out: one row per indicator)
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.net import cidr_in_any
from .windows import time_window, windowed_agg


# ---------------------------------------------------------------------------
# Gatekeeper ETD (ETDTransforms.java)
# ---------------------------------------------------------------------------

def etd_finding_alerts(
    findings: DataFrame,
    rule_col: str = "rule_name",
    ignore_rule_regexes: list[str] | None = None,
    high_rule_regexes: list[str] | None = None,
    suppress_key_cols: tuple[str, ...] = ("project_number", "rule_name",
                                          "technique", "indicator"),
    suppress_window: str = "15 minutes",
    ts: str = "ts",
) -> DataFrame:
    """ETD findings -> suppressed alerts.

    ExtractFindings drops rule names matching any ignore regex
    (ETDTransforms.java:56-110); GenerateETDAlerts marks rules
    matching a high regex as handling severity high, others low
    (:188-203); SuppressAlerts emits the first alert per
    (project, rule, technique, indicator) key per suppression window
    (:245-302 — batch analog of the keyed-TTL AlertSuppressor).
    """
    out = findings
    for rx in ignore_rule_regexes or []:
        out = out.where(~F.coalesce(F.col(rule_col), F.lit("")).rlike(rx))
    high = reduce(
        lambda a, b: a | b,
        [F.col(rule_col).rlike(rx) for rx in (high_rule_regexes or [])],
        F.lit(False),
    )
    out = out.withColumn(
        "handling_severity", F.when(high, "high").otherwise("low")
    ).withColumn("severity", F.lit("critical")).withColumn(
        "category", F.lit("gatekeeper:gcp")
    )
    w = Window.partitionBy(
        *suppress_key_cols, time_window(ts, suppress_window)["start"]
    ).orderBy(ts)
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# AwsBehavior (AwsBehavior.java + CloudtrailMatcher.java)
# ---------------------------------------------------------------------------

# CloudtrailMatcher.fieldToStringProperty (`awsbehavior/
# CloudtrailMatcher.java:59-76`): the config's field names map onto a
# CLOSED set of cloudtrail payload properties; anything else is a
# config error (UnknownStringPropertyException). The values are this
# engine's parsed-event column names for the same properties (the
# "matcher field surface" extras in parser/payloads.py cloudtrail).
CLOUDTRAIL_MATCHER_FIELDS = {
    "eventName": "event_name",
    "eventSource": "event_source",
    "recipientAccountId": "recipient_account_id",
    "userIdentity.invokedBy": "invoked_by",
    "userIdentity.sessionContext.attributes.mfaAuthenticated":
        "mfa_authenticated",
    # resource extraction target (CloudtrailMatcher.resource), not a
    # filter property in the reference but part of the same surface
    "requestParameters.userName": "request_user_name",
}


def cloudtrail_matcher_manager(config_json: str) -> list[dict]:
    """Parse the reference's event_matchers.json format
    (`awsbehavior/CloudtrailMatcherManager.java` loadFromResource +
    `CloudtrailMatcher.java`): `{"event_matchers": [{"description",
    "resource"?, "fields": [[field, regex], ...]}]}`. Every field name
    must be in the reference's closed property set and every regex
    must compile — config errors fail HERE at load, like the
    reference's UnknownStringPropertyException / PatternSyntaxException,
    not silently at match time. Returns the matcher list in the shape
    `aws_behavior_match` consumes; regexes are FULL-match
    (withStringRegexMatch -> Matcher.matches, anchored by the
    operator). Golden-verified on the reference's own
    event_matchers.json in tests/test_reference_goldens3.py."""
    import json as _json
    import re as _re

    cfg = _json.loads(config_json)
    matchers = cfg["event_matchers"]
    for m in matchers:
        for fld, rx in m["fields"]:
            if fld not in CLOUDTRAIL_MATCHER_FIELDS:
                raise ValueError(
                    f"unknown cloudtrail matcher property: {fld!r}"
                )
            _re.compile(rx)
        res = m.get("resource")
        if res is not None and res not in CLOUDTRAIL_MATCHER_FIELDS:
            raise ValueError(
                f"unknown cloudtrail matcher resource: {res!r}"
            )
    return matchers


def aws_behavior_match(
    events: DataFrame,
    matchers: list[dict],
    field_cols: dict[str, str],
) -> DataFrame:
    """CloudTrail event matching vs configured matchers.

    Each matcher is {"description": str, "fields": [[field, regex]...],
    "resource": optional field-name} (event_matchers.json shape). All
    field regexes must match (AND); each matching matcher emits one
    alert row (an event can hit several matchers — the reference runs
    one Matcher transform per config entry over the same stream).

    Spark-first: ONE scan; the per-matcher fan-out is an array of
    conditional structs -> explode, not N filtered re-scans.
    """
    hits = []
    for m in matchers:
        preds = [
            F.coalesce(F.col(field_cols[fld]), F.lit("")).rlike("^(" + rx + ")$")
            for fld, rx in m["fields"]
        ]
        pred = reduce(lambda a, b: a & b, preds)
        res_col = (
            F.col(field_cols[m["resource"]])
            if m.get("resource")
            else F.lit(None).cast("string")
        )
        hits.append(
            F.when(
                pred,
                F.struct(
                    F.lit(m["description"]).alias("matcher_description"),
                    res_col.alias("matched_resource"),
                ),
            )
        )
    matched = F.array_compact(F.array(*hits))
    return (
        events.withColumn("__m", F.explode(matched))
        .withColumn("matcher_description", F.col("__m.matcher_description"))
        .withColumn("matched_resource", F.col("__m.matched_resource"))
        .withColumn("severity", F.lit("critical"))
        .withColumn("category", F.lit("awsbehavior"))
        .drop("__m")
    )


# ---------------------------------------------------------------------------
# AMO heuristics (amo/*.java)
# ---------------------------------------------------------------------------

def addon_matcher(
    uploads: DataFrame,
    criteria: list[tuple[str, int, int]],
    filename_col: str = "file_name",
    bytes_col: str = "bytes",
) -> DataFrame:
    """AddonMatcher: FILEUPLOADMNT events whose filename matches a
    configured regex inside a size band (AddonMatcher.java:96-160;
    criteria strings are <regex>:<minbytes>:<maxbytes>). First
    matching criterion wins (the reference returns on first match)."""
    hit = F.lit(None).cast("int")
    for i, (rx, lo, hi) in reversed(list(enumerate(criteria))):
        hit = F.when(
            F.col(filename_col).rlike("^(" + rx + ")$")
            & F.col(bytes_col).between(int(lo), int(hi)),
            F.lit(i),
        ).otherwise(hit)
    return (
        uploads.withColumn("matched_criterion", hit)
        .where(F.col("matched_criterion").isNotNull())
        .withColumn("subcategory", F.lit("amo_abuse_matched_addon"))
    )


def addon_multi_submit(
    uploads: DataFrame,
    email_col: str = "email",
    bytes_col: str = "bytes",
    min_bytes: int = 3000,
    alert_on: int = 10,
) -> DataFrame:
    """AddonMultiSubmit: distinct (rounded-size, email) pairs per
    window; alert when one rounded size has >= alert_on distinct
    submitters (AddonMultiSubmit.java:63-157). Sizes round UP to the
    next 10k; uploads <= min_bytes are ignored."""
    rounded = F.when(
        F.col(bytes_col) % 10000 == 0, F.col(bytes_col)
    ).otherwise(F.col(bytes_col) + (10000 - F.col(bytes_col) % 10000))
    pairs = (
        uploads.where(F.col(bytes_col) > int(min_bytes))
        .where(F.col(email_col).isNotNull())
        .select(rounded.alias("rounded_size"), F.col(email_col).alias("email"))
        .distinct()
    )
    return (
        pairs.groupBy("rounded_size")
        .agg(
            F.count(F.lit(1)).alias("n_submitters"),
            # comma-joined sorted list: deterministic and hashable
            # cross-engine (the reference carries an email ArrayList)
            F.array_join(F.sort_array(F.collect_list("email")), ",").alias(
                "emails"
            ),
        )
        .where(F.col("n_submitters") >= int(alert_on))
        .withColumn("subcategory", F.lit("amo_abuse_multi_submit"))
    )


def addon_cloud_submission(
    uploads: DataFrame,
    cloud_cidrs: dict[str, list[str]],
    ip_col: str = "source_address",
) -> DataFrame:
    """AddonCloudSubmission: NEWVERSION uploads whose source is inside
    a cloud-provider range get a provider tag
    (AddonCloudSubmission.java:41-120). Provider CIDR sets become
    constant-folded membership predicates (first match wins: the
    reference checks aws before gcp)."""
    provider = F.lit(None).cast("string")
    for name, cidrs in reversed(list(cloud_cidrs.items())):
        provider = F.when(
            F.coalesce(cidr_in_any(F.col(ip_col), cidrs), F.lit(False)),
            F.lit(name),
        ).otherwise(provider)
    return (
        uploads.withColumn("provider", provider)
        .where(F.col("provider").isNotNull())
        .withColumn("subcategory", F.lit("amo_cloud_submission"))
    )


def fxa_ban_pattern_match(
    logins: DataFrame,
    ban_patterns: list[str],
    email_col: str = "email",
) -> DataFrame:
    """FxaAccountAbuseNewVersion ban-pattern leg: FXALOGIN events whose
    email matches a configured ban regex
    (FxaAccountAbuseNewVersion.java:100-160)."""
    hit = reduce(
        lambda a, b: a | b,
        [F.col(email_col).rlike("^(" + rx + ")$") for rx in ban_patterns],
        F.lit(False),
    )
    return logins.where(hit).withColumn(
        "subcategory", F.lit("fxa_account_abuse_new_version_login_banpattern")
    )


def report_restriction(events: DataFrame, restricted_col: str = "restricted_value") -> DataFrame:
    """ReportRestriction: every RESTRICTED event becomes an alert
    carrying the restricted indicator (ReportRestriction.java:40-76)."""
    return events.where(F.col(restricted_col).isNotNull()).withColumn(
        "subcategory", F.lit("amo_restriction")
    )


# ---------------------------------------------------------------------------
# Customs detectors
# ---------------------------------------------------------------------------

def source_login_failure_dist(
    events: DataFrame,
    account_col: str,
    addr_col: str,
    failure_predicate: Column,
    ts: str = "ts",
    duration: str = "10 minutes",
    threshold: int = 3,
) -> DataFrame:
    """SourceLoginFailureDist: per (account, window), alert when both
    the login-failure total AND the distinct failing source count
    reach the threshold (SourceLoginFailureDist.java:53-100). One
    aggregation computes both."""
    return (
        windowed_agg(
            events.where(failure_predicate), [account_col], time_window(ts, duration),
            F.count(F.lit(1)).alias("n_failures"),
            F.countDistinct(addr_col).alias("n_sources"),
        )
        .where(
            (F.col("n_failures") >= int(threshold))
            & (F.col("n_sources") >= int(threshold))
        )
        .drop("window_end")
    )


def variance_view(
    events: DataFrame,
    key_col: str,
    presence_predicate: Column,
    ts: str = "ts",
    duration: str = "10 minutes",
) -> DataFrame:
    """ContentServerVarianceDetector view: {key -> seen} per aligned
    window (ContentServerVarianceDetector.java:51-95; window alignment
    note CustomsWindow.java:14-17). Joined window-aligned (J3) by the
    consumer; keys present in the content-server stream indicate
    normal browser variance."""
    return windowed_agg(
        events.where(presence_predicate), [key_col], time_window(ts, duration),
        F.lit(True).alias("has_variance"),
    ).drop("window_end")


def activity_monitor(
    events: DataFrame,
    monitored: DataFrame,
    account_col: str = "email",
) -> DataFrame:
    """CustomsActivityForMonitoredAccounts: login events for accounts
    on the monitored list alert per event
    (CustomsActivityForMonitoredAccounts.java:60-110). The list is a
    broadcast semi-join, replacing the in-DoFn ImmutableSet."""
    return events.join(F.broadcast(monitored), [account_col], "left_semi").withColumn(
        "subcategory", F.lit("activity_monitor")
    )


def status_comparator_state(
    comparator_hits: DataFrame,
    account_col: str = "email",
    addr_col: str = "source_address",
) -> DataFrame:
    """The at-risk-account state table written by the status
    comparator (CustomsStatusComparator.java:155-164 stores
    email -> ScannedByEntry(address)). One row per account with the
    latest scanning address — a parquet/Delta snapshot replaces the
    Datastore kind, making the cross-pipeline contract an explicit
    table (SURVEY §7 hard part 2)."""
    w = Window.partitionBy(account_col).orderBy(
        F.col("window_start").desc(), F.col(addr_col)
    )
    return (
        comparator_hits.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            F.col(account_col).alias("email"),
            F.col(addr_col).alias("scanned_by"),
            F.col("window_start").alias("scanned_at"),
        )
    )


def login_failure_for_at_risk_account(
    events: DataFrame,
    at_risk: DataFrame,
    account_col: str,
    failure_predicate: Column,
    ts: str = "ts",
) -> DataFrame:
    """CustomsLoginFailureForAtRiskAccount: a login failure for an
    account present in the comparator's state table alerts
    (CustomsLoginFailureForAtRiskAccount.java:70-125). Broadcast
    inner join against the state snapshot; only failures at or after
    the scan time count (state precedes the failure)."""
    failures = events.where(failure_predicate)
    return (
        failures.join(
            F.broadcast(at_risk),
            (failures[account_col] == at_risk["email"])
            & (failures[ts] >= at_risk["scanned_at"]),
        )
        .withColumn("subcategory", F.lit("login_failure_at_risk_account"))
    )


# CustomsAlert.heuristicDescriptions (`customs/CustomsAlert.java:65-91`)
CUSTOMS_HEURISTIC_DESCRIPTIONS = {
    "account_creation_abuse":
        "Large number of accounts created in one session from a single "
        "IP address",
    "account_creation_abuse_distributed":
        "Large number of very similar accounts created in fixed time "
        "frame from different addresses",
    "source_login_failure":
        "Large number of account login failures from single source "
        "address in fixed time frame",
    "source_login_failure_distributed":
        "Large number of account login failures for single account "
        "from multiple source addresses in fixed time frame",
    "password_reset_abuse":
        "Large number of password reset requests from single source "
        "address for multiple accounts in fixed time frame",
    "velocity": "Login velocity threshold exceeded for given account.",
    "status_comparator": "Comparator operation matched status check.",
    "login_failure_at_risk_account": "Login failure to at risk account.",
}


def customs_alert_rows(
    alerts: DataFrame,
    subcategory_col: str = "subcategory",
    meta_col: str = "metadata",
    ts: str = "timestamp",
) -> DataFrame:
    """CustomsAlert fan-out (`customs/CustomsAlert.java:117-433`
    fromAlert + the per-subcategory convert* methods): each customs
    pipeline alert becomes one CustomsAlert row per indicator, ready
    for the per-customer JSON contract. Reference-exact rules
    (golden-replayed from TestCustomsAlert.testAlertConversion):

    - account_creation_abuse: the source address PLUS one row per
      created account in the comma-joined email list (`:237-274`)
    - account_creation_abuse_distributed: address + the PRIMARY email
      only — email_similar entries are NOT fanned out, they arrive as
      their own alerts (`:284-313`)
    - source_login_failure / password_reset_abuse /
      login_failure_at_risk_account: the source address only
    - source_login_failure_distributed: one row per address in the
      comma-joined sourceaddresses list (`:198-226`)
    - velocity: address + account email (`:348-379`)
    - status_comparator: the email only (`:387-406`)
    - severity is always warn, action always suspect; confidence is
      100 except the two account-creation heuristics which keep the
      baseAlert default of 50 (convert* never overrides it there)
    - unknown subcategories produce no rows (fromAlert returns null)

    List values split on "," with trimmed results
    (`AlertMeta.java:24` META_VALUE_SPLITTER). Input alerts carry a
    map<string,string> metadata column (the engine's ALERT_SCHEMA
    shape); the whole fan-out is one projection + explode — no
    shuffle, no UDF.
    """
    m = F.col(meta_col)
    sub = F.col(subcategory_col)

    def g(key: str) -> Column:
        return m.getItem(key)

    def one(itype: str, value: Column) -> Column:
        return F.array(
            F.struct(F.lit(itype).alias("indicator_type"),
                     value.alias("indicator"))
        )

    def split_list(key: str, itype: str) -> Column:
        return F.transform(
            F.split(g(key), ","),
            lambda v: F.struct(
                F.lit(itype).alias("indicator_type"),
                F.trim(v).alias("indicator"),
            ),
        )

    addr = one("sourceaddress", g("sourceaddress"))
    email = one("email", g("email"))
    indicators = (
        F.when(sub == "account_creation_abuse",
               F.concat(addr, split_list("email", "email")))
        .when(sub == "account_creation_abuse_distributed",
              F.concat(addr, email))
        .when(sub.isin("source_login_failure", "password_reset_abuse",
                       "login_failure_at_risk_account"), addr)
        .when(sub == "source_login_failure_distributed",
              split_list("sourceaddresses", "sourceaddress"))
        .when(sub == "velocity", F.concat(addr, email))
        .when(sub == "status_comparator", email)
    )
    reason = (
        F.when(sub == "account_creation_abuse",
               F.format_string("%s created %s accounts in a single session",
                               g("sourceaddress"), g("count")))
        .when(sub == "account_creation_abuse_distributed",
              F.format_string(
                  "%d very similar accounts to %s created in fixed time frame",
                  g("count").cast("int") - 1, g("email")))
        .when(sub == "source_login_failure",
              F.format_string("%s failed login %s times in window",
                              g("sourceaddress"), g("count")))
        .when(sub == "source_login_failure_distributed",
              F.format_string("%s addresses failed login to %s in window",
                              g("count"), g("email")))
        .when(sub == "password_reset_abuse",
              F.format_string(
                  "%s attempted password reset on %s accounts in fixed "
                  "time frame", g("sourceaddress"), g("count")))
        .when(sub == "velocity",
              F.format_string("%s velocity exceeded, %s km in %s seconds",
                              g("uid"), g("km_distance"),
                              g("time_delta_seconds")))
        .when(sub == "status_comparator",
              F.format_string("%s performed status check on %s",
                              g("sourceaddress"), g("email")))
        .when(sub == "login_failure_at_risk_account",
              F.format_string("%s failed login to %s",
                              g("sourceaddress"), g("email")))
    )
    desc = F.lit("unknown")
    for k, v in reversed(list(CUSTOMS_HEURISTIC_DESCRIPTIONS.items())):
        desc = F.when(sub == k, v).otherwise(desc)
    confidence = F.when(
        sub.isin("account_creation_abuse",
                 "account_creation_abuse_distributed"),
        50,
    ).otherwise(100)
    return (
        alerts.where(indicators.isNotNull())
        .withColumn("__i", F.explode(indicators))
        .select(
            F.col(ts),
            sub.alias("heuristic"),
            desc.alias("heuristic_description"),
            F.col("__i.indicator_type").alias("indicator_type"),
            F.col("__i.indicator").alias("indicator"),
            F.lit("warn").alias("severity"),
            confidence.alias("confidence"),
            F.lit("suspect").alias("suggested_action"),
            reason.alias("reason"),
        )
    )


# CustomsNotification's per-subcategory escalation switch
# (`customs/CustomsNotification.java:46-64`): option flag per
# subcategory; anything not in the switch is DEFAULT-DENY (the Java
# switch falls through to `return false` — velocity_monitor_only,
# activity_monitor, private_relay_forward, account_enumeration never
# escalate through this path).
_ESCALATION_FLAGS = {
    "account_creation_abuse": "escalateAccountCreation",
    "account_creation_abuse_distributed": "escalateAccountCreationDistributed",
    "source_login_failure": "escalateSourceLoginFailure",
    "source_login_failure_distributed": "escalateSourceLoginFailureDistributed",
    "password_reset_abuse": "escalatePasswordResetAbuse",
    "velocity": "escalateVelocity",
    "status_comparator": "escalateStatusComparator",
}


def customs_notification(
    alerts: DataFrame,
    options: dict,
    subcategory_col: str = "subcategory",
    meta_col: str = "metadata",
    ts: str = "timestamp",
) -> DataFrame:
    """CustomsNotification twin (`customs/CustomsNotification.java`):
    the per-subcategory escalation gate composed with the CustomsAlert
    fan-out, producing the rows the Pub/Sub notification topic would
    carry (the topic write itself is the existing emitter stub seam).

    The reference fans out first and gates second; the gate reads only
    the PARENT alert's subcategory, and an unknown subcategory yields
    no rows on either path (fromAlert returns null AND the switch
    default-denies), so gating the alert stream before fan-out is
    row-for-row equivalent — and cheaper, since denied alerts never
    explode. Escalate flags all default false like the
    Customs.CustomsOptions @Default annotations, so an empty options
    map notifies nothing.
    """
    allowed = [
        sub
        for sub, flag in _ESCALATION_FLAGS.items()
        if bool(options.get(flag))
    ]
    gated = alerts.where(F.col(subcategory_col).isin(allowed))
    return customs_alert_rows(
        gated, subcategory_col=subcategory_col, meta_col=meta_col, ts=ts
    )
