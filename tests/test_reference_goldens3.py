"""Round-5 golden additions: the reference JUnit variants that round-4
left un-replayed — TestThresholdAnalysis1's option gates (required
minimum average / clients, clamp), the NAT-suppression legs of
threshold / hard-limit / UA-blocklist / session-limit, TestEndpoint
Abuse1's extended/custom variance + state-expiry + preprocess-filter
variants, and TestPerEndpointErrorRateAnalysis streams 2-6 (regex
endpoint specs, session splits, top-spec pick).

Same input bytes as the reference's own tests, same documented
expectations, different engine. Streaming pane cadence is the
documented divergence (SURVEY §7.1): batch replays assert the final
per-session results the reference's accumulating panes converge to.
Skips if the reference checkout is absent.
"""

import os

import pytest
from pyspark.sql import functions as F

from foxsec_pipeline_spark.operators.heuristics import (
    detect_nat,
    endpoint_abuse_analysis,
    hard_limit_analysis,
    per_endpoint_error_rate_specs,
    session_limit_analysis,
    threshold_analysis,
    ua_blocklist_analysis,
)
from foxsec_pipeline_spark.parser.parse import ParserCfg, parse_events

TESTDATA = "/root/reference/src/test/resources/testdata"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(TESTDATA), reason="reference testdata not available"
)

EPOCH = "1970-01-01 00:00:00"


def _parsed(spark, fixture, cfg=None):
    raw = spark.read.text(os.path.join(TESTDATA, fixture))
    ev = parse_events(raw, cfg or ParserCfg())
    assert ev.where(F.col("payload_type") == "raw").count() == 0
    return ev


def _parsed_parts(spark, dirname, parts, cfg=None):
    paths = [
        os.path.join(TESTDATA, dirname, f"{dirname}_{i}.txt") for i in parts
    ]
    ev = parse_events(spark.read.text(paths), cfg or ParserCfg())
    assert ev.where(F.col("payload_type") == "raw").count() == 0
    return ev


def _with_endpoint(ev):
    return ev.withColumn(
        "endpoint",
        F.concat_ws(" ", F.col("request_method"), F.col("request_path")),
    )


# ---------------------------------------------------------------------------
# TestThresholdAnalysis1 option gates


def test_threshold_required_minimum_average_reference_golden(spark):
    """TestThresholdAnalysis1.thresholdAnalysisTestRequiredMinimum
    (`TestThresholdAnalysis1.java:134-152`): requiredMinimumAverage
    250 is far above the natdetect fixture's window mean (18.33) ->
    no alerts at all."""
    ev = _parsed(spark, "httpreq_thresholdanalysisnatdetect1.txt")
    out = threshold_analysis(
        ev, key="source_address", ts="timestamp", duration="1 minute",
        required_minimum_average=250.0, threshold_modifier=1.0,
        min_clients=1,
    ).collect()
    assert out == []


def test_threshold_required_minimum_clients_reference_golden(spark):
    """TestThresholdAnalysis1.thresholdAnalysisTestRequiredMinimumClients
    (`TestThresholdAnalysis1.java:154-172`): requiring 500 distinct
    clients per window on a fixture with a handful -> no alerts."""
    ev = _parsed(spark, "httpreq_thresholdanalysisnatdetect1.txt")
    out = threshold_analysis(
        ev, key="source_address", ts="timestamp", duration="1 minute",
        required_minimum_average=1.0, threshold_modifier=1.0,
        min_clients=500,
    ).collect()
    assert out == []


def test_threshold_clamp_maximum_reference_golden(spark):
    """TestThresholdAnalysis1.thresholdAnalysisTestClampMaximum
    (`TestThresholdAnalysis1.java:174-191`): clamping the window mean
    to 1.0 makes every client with >1 request in the window an alert
    -> exactly 12 alerts on the natdetect fixture."""
    ev = _parsed(spark, "httpreq_thresholdanalysisnatdetect1.txt")
    out = threshold_analysis(
        ev, key="source_address", ts="timestamp", duration="1 minute",
        required_minimum_average=1.0, clamp_maximum=1.0,
        threshold_modifier=1.0, min_clients=1,
    ).collect()
    assert len(out) == 12


def test_threshold_nat_mean_and_detection_count_reference_golden(spark):
    """TestThresholdAnalysis1.thresholdAnalysisTestWithNatDetect's
    remaining assertions (`TestThresholdAnalysis1.java:96-129`): the
    surviving alert's MEAN metadata is 18.33 +/- 0.1 (the window mean
    INCLUDES the suppressed NAT client's count), and the NAT_DETECTED
    metric commits exactly 1 — one NATed source in the window."""
    ev = _parsed(spark, "httpreq_thresholdanalysisnatdetect1.txt")
    plain = threshold_analysis(
        ev, key="source_address", ts="timestamp", duration="1 minute",
        required_minimum_average=1.0, threshold_modifier=1.0,
        min_clients=1,
    )
    by_addr = {r["source_address"]: r for r in plain.collect()}
    assert abs(by_addr["10.0.0.1"]["mean"] - 18.33) <= 0.1
    nat = detect_nat(
        ev, key="source_address", diversity_col="user_agent",
        ts="timestamp", duration="1 minute", min_distinct=2,
    ).collect()
    # the reference's counter commits 1: exactly one NAT gateway seen
    assert [r["source_address"] for r in nat] == ["10.0.0.2"]


# ---------------------------------------------------------------------------
# NAT suppression on the hard-limit / UA-blocklist fixtures


def test_hard_limit_nat_suppression_reference_golden(spark):
    """TestHardLimit1.hardLimitTestWithNatDetect
    (`TestHardLimit1.java:213-261`): of the three over-limit clients
    (192.168.1.2/.4/.5, count 11 each), NAT detection flags exactly
    two (.4 and .5 — NAT_DETECTED commits 2L) and only 192.168.1.2
    survives, count 11, threshold 10, epoch window."""
    ev = _parsed(spark, "httpreq_hardlimit1.txt")
    plain = hard_limit_analysis(
        ev, key="source_address", ts="timestamp",
        duration="1 minute", max_count=10,
    )
    nat = detect_nat(
        ev, key="source_address", diversity_col="user_agent",
        ts="timestamp", duration="1 minute", min_distinct=2,
    ).select("window_start", "source_address")
    flagged_over_limit = {
        r["source_address"]
        for r in plain.join(
            F.broadcast(nat), ["window_start", "source_address"], "left_semi"
        ).collect()
    }
    assert flagged_over_limit == {"192.168.1.4", "192.168.1.5"}
    out = plain.join(
        F.broadcast(nat), ["window_start", "source_address"], "left_anti"
    ).collect()
    assert len(out) == 1
    assert out[0]["source_address"] == "192.168.1.2"
    assert out[0]["count"] == 11
    assert str(out[0]["window_start"]) == EPOCH


def test_ua_blocklist_nat_suppression_reference_golden(spark):
    """TestUserAgentBlocklist1.userAgentBlocklistTestWithNatDetect
    (`TestUserAgentBlocklist1.java:74-105`): the lone blocklist hit
    (192.168.1.4) is itself NAT-flagged (NAT_DETECTED commits 1L) ->
    zero alerts."""
    patterns = [
        line.strip()
        for line in open(os.path.join(TESTDATA, "uablocklist1.txt"))
        if line.strip()
    ]
    ev = _parsed(spark, "httpreq_hardlimit1.txt")
    hits = ua_blocklist_analysis(
        ev, key="source_address", ua_col="user_agent",
        patterns=patterns, ts="timestamp", duration="1 minute",
    )
    nat = detect_nat(
        ev, key="source_address", diversity_col="user_agent",
        ts="timestamp", duration="1 minute", min_distinct=2,
    ).select("window_start", "source_address")
    assert {r["source_address"] for r in nat.collect()} >= {"192.168.1.4"}
    out = hits.join(
        F.broadcast(nat), ["window_start", "source_address"], "left_anti"
    ).collect()
    assert out == []


# ---------------------------------------------------------------------------
# TestEndpointAbuse1 variance / expiry / preprocess variants


def test_endpoint_abuse_extended_variance_reference_golden(spark):
    """TestEndpointAbuse1.endpointAbuseTestStreamExtendedVariance
    (`TestEndpointAbuse1.java:100-156`): with extended variance, only
    supporting-content requests (.js/.css/...) count as variance —
    192.168.1.2's stray 'GET /' no longer suppresses its 10x GET
    /test session (one alert, count 10), while 192.168.1.3's session
    with a .js request stays suppressed. Under the default basic
    rule the same fixture yields NO alerts, proving the extended
    rule does the work."""
    ev = _with_endpoint(
        _parsed_parts(spark, "httpreq_endpointabuse2", (1, 2, 3))
    )
    basic = endpoint_abuse_analysis(
        ev, key="source_address", endpoint_col="endpoint",
        monitored=["GET /test"], ts="timestamp",
        gap="20 minutes", min_count=8,
    ).collect()
    assert basic == []
    out = endpoint_abuse_analysis(
        ev, key="source_address", endpoint_col="endpoint",
        monitored=["GET /test"], ts="timestamp",
        gap="20 minutes", min_count=8,
        extended_variance=True, path_col="request_path",
    ).collect()
    assert len(out) == 1
    a = out[0]
    assert a["source_address"] == "192.168.1.2"
    assert a["top_count"] == 10
    assert a["top_endpoint"] == "GET /test"


def test_endpoint_abuse_custom_variance_reference_golden(spark):
    """TestEndpointAbuse1.endpointAbuseTestStreamCustomVariance
    (`TestEndpointAbuse1.java:159-216` + `EndpointAbuseAnalysis.
    java:162-169`): custom variance substring 'init?' (matched on the
    full request URL) marks 192.168.1.3's '/test/init?test' request
    as variance, suppressing its session — only 192.168.1.2 alerts,
    count 10. Without the custom substring BOTH .2 and .3 alert under
    extended variance ('/test/init' is not supporting content),
    proving the substring does the work."""
    ev = _with_endpoint(
        _parsed_parts(spark, "httpreq_endpointabuse5", (1, 2, 3))
    ).withColumn(
        "request_url",
        F.get_json_object(F.col("raw"), "$.httpRequest.requestUrl"),
    )
    without = endpoint_abuse_analysis(
        ev, key="source_address", endpoint_col="endpoint",
        monitored=["GET /test"], ts="timestamp",
        gap="20 minutes", min_count=8,
        extended_variance=True, path_col="request_path",
    ).collect()
    assert {r["source_address"] for r in without} == {
        "192.168.1.2", "192.168.1.3"
    }
    out = endpoint_abuse_analysis(
        ev, key="source_address", endpoint_col="endpoint",
        monitored=["GET /test"], ts="timestamp",
        gap="20 minutes", min_count=8,
        extended_variance=True, path_col="request_path",
        custom_variance_substrings=["init?"], url_col="request_url",
    ).collect()
    assert len(out) == 1
    assert out[0]["source_address"] == "192.168.1.2"
    assert out[0]["top_count"] == 10


def test_endpoint_abuse_state_expiry_sessions_reference_golden(spark):
    """TestEndpointAbuse1.endpointAbuseTestStreamStateExpiry
    (`TestEndpointAbuse1.java:218-280`): 192.168.1.2 fires two
    10-request bursts 30 minutes apart; with a 20-minute session gap
    they are separate sessions and BOTH alert (the reference's
    suppression state has expired by the second burst) — alert
    timestamps 00:00:00 and 00:30:00, count 10 each."""
    ev = _with_endpoint(
        _parsed_parts(spark, "httpreq_endpointabuse4", (1, 2, 3))
    )
    out = endpoint_abuse_analysis(
        ev, key="source_address", endpoint_col="endpoint",
        monitored=["GET /test"], ts="timestamp",
        gap="20 minutes", min_count=8,
    ).collect()
    assert len(out) == 2
    assert all(r["source_address"] == "192.168.1.2" for r in out)
    assert all(r["top_count"] == 10 for r in out)
    assert sorted(str(r["latest_ts"]) for r in out) == [
        "1970-01-01 00:00:00",
        "1970-01-01 00:30:00",
    ]


def test_endpoint_abuse_preprocess_filter_reference_golden(spark):
    """TestEndpointAbuse1.endpointAbuseTestPreprocessFilter
    (`TestEndpointAbuse1.java:282-320` + `HTTPRequestToggles.
    java:941-975` toStandardFilter): filterRequestPath drops listed
    endpoints' requests whose status is NOT 4xx (the except-rule keeps
    only [400,499]); of the five clients only 192.168.1.6's 8x 401
    GET /test2 survive the filter and reach the abuse threshold."""
    ev = _with_endpoint(
        _parsed_parts(spark, "httpreq_endpointabuse3", (1,))
    )
    monitored = ["GET /test", "GET /test2"]
    # the preprocess filter: for listed endpoints, keep only 4xx
    filtered = ev.where(
        ~(
            F.col("endpoint").isin(*monitored)
            & ~F.col("request_status").between(400, 499)
        )
    )
    out = endpoint_abuse_analysis(
        filtered, key="source_address", endpoint_col="endpoint",
        monitored=monitored, ts="timestamp",
        gap="20 minutes", min_count=8,
    ).collect()
    assert len(out) == 1
    a = out[0]
    assert a["source_address"] == "192.168.1.6"
    assert a["top_count"] == 8
    assert a["top_endpoint"] == "GET /test2"


# ---------------------------------------------------------------------------
# TestPerEndpointErrorRateAnalysis streams 2-6 (spec-based operator)

def _4xx():
    return F.col("request_status").between(400, 499)


def test_per_endpoint_error_rate_regex_specs_reference_golden(spark):
    """TestPerEndpointErrorRateAnalysis.perEndpointErrorRateTestStream2
    (`TestPerEndpointErrorRateAnalysis.java:249-337`): regex spec
    4:GET:/t.* with 1-minute error sessions — 192.168.1.2 reaches 5
    matching errors in one pane (latest 00:00:00, window end
    00:01:00), 192.168.1.1 reaches 5 across two panes (latest
    00:00:45, window end 00:01:45); 192.168.1.3's 3 errors stay
    under threshold."""
    ev = _parsed_parts(spark, "httpreq_perendpointerrorrate2", (1, 2, 3))
    out = per_endpoint_error_rate_specs(
        ev, key="source_address", specs=[(4, "GET", "/t.*")],
        method_col="request_method", path_col="request_path",
        error_predicate=_4xx(), ts="timestamp",
        gap="1 minute",
    ).collect()
    got = {r["source_address"]: r for r in out}
    assert set(got) == {"192.168.1.1", "192.168.1.2"}
    assert got["192.168.1.2"]["error_count"] == 5
    assert str(got["192.168.1.2"]["latest_error_ts"]) == EPOCH
    assert str(got["192.168.1.2"]["session_end"]) == "1970-01-01 00:00:59.999999"
    assert got["192.168.1.1"]["error_count"] == 5
    assert str(got["192.168.1.1"]["latest_error_ts"]) == "1970-01-01 00:00:45"
    assert str(got["192.168.1.1"]["session_end"]) == "1970-01-01 00:01:44.999999"


def test_per_endpoint_error_rate_session_split_reference_golden(spark):
    """TestPerEndpointErrorRateAnalysis.perEndpointErrorRateTestStream3
    (`TestPerEndpointErrorRateAnalysis.java:340-384`): 192.168.1.2's
    5 errors split across a >1-minute quiet gap into sessions of 3
    and 2 — neither reaches the threshold of 4, so no alerts."""
    ev = _parsed_parts(spark, "httpreq_perendpointerrorrate3", (1, 2, 3))
    out = per_endpoint_error_rate_specs(
        ev, key="source_address", specs=[(4, "GET", "/test")],
        method_col="request_method", path_col="request_path",
        error_predicate=_4xx(), ts="timestamp",
        gap="1 minute",
    ).collect()
    assert out == []


def test_per_endpoint_error_rate_id_guessing_reference_golden(spark):
    """TestPerEndpointErrorRateAnalysis.perEndpointErrorRateTestStream4
    (`TestPerEndpointErrorRateAnalysis.java:386-436`): spec
    4:GET:/test/(\\d+)/profile full-matches the id-guessing probes —
    192.168.1.3's six 404s alert (count 6, ts 00:00:00); the single
    401 from 192.168.1.2 stays under threshold."""
    ev = _parsed_parts(spark, "httpreq_perendpointerrorrate4", (1,))
    out = per_endpoint_error_rate_specs(
        ev, key="source_address",
        specs=[(4, "GET", r"/test/(\d+)/profile")],
        method_col="request_method", path_col="request_path",
        error_predicate=_4xx(), ts="timestamp",
        gap="1 minute",
    ).collect()
    assert len(out) == 1
    a = out[0]
    assert a["source_address"] == "192.168.1.3"
    assert a["error_count"] == 6
    assert str(a["latest_error_ts"]) == EPOCH
    assert str(a["session_end"]) == "1970-01-01 00:00:59.999999"


def test_per_endpoint_error_rate_good_traffic_gap_reference_golden(spark):
    """TestPerEndpointErrorRateAnalysis.perEndpointErrorRateTestStream5
    (`TestPerEndpointErrorRateAnalysis.java:438-481`): 192.168.1.3
    makes 3 errors, then only good requests for longer than the error
    session gap, then one more error — the error sessions are [3] and
    [1] (good traffic does NOT extend an error session, because
    sessionization runs AFTER the 4xx filter) — no alerts."""
    ev = _parsed_parts(spark, "httpreq_perendpointerrorrate5", (1, 2, 3))
    out = per_endpoint_error_rate_specs(
        ev, key="source_address", specs=[(4, "GET", "/test")],
        method_col="request_method", path_col="request_path",
        error_predicate=_4xx(), ts="timestamp",
        gap="1 minute",
    ).collect()
    assert out == []


def test_per_endpoint_error_rate_top_spec_reference_golden(spark):
    """TestPerEndpointErrorRateAnalysis.perEndpointErrorRateTestStream6
    (`TestPerEndpointErrorRateAnalysis.java:483-566`): two specs
    (4:GET:/test, 4:GET:/t.*) — only the spec with the MAX violation
    count emits: 192.168.1.2's final session has /test=15 and
    /t.*=18 matching errors, so one alert with pattern /t.*, count
    18, latest error 00:00:45 (the streaming test's intermediate
    count-7 pane is the documented pane-cadence divergence);
    192.168.1.4's single error stays under threshold."""
    ev = _parsed_parts(spark, "httpreq_perendpointerrorrate6", (1, 2, 3))
    out = per_endpoint_error_rate_specs(
        ev, key="source_address",
        specs=[(4, "GET", "/test"), (4, "GET", "/t.*")],
        method_col="request_method", path_col="request_path",
        error_predicate=_4xx(), ts="timestamp",
        gap="1 minute",
    ).collect()
    assert len(out) == 1
    a = out[0]
    assert a["source_address"] == "192.168.1.2"
    assert a["error_count"] == 18
    assert a["endpoint_pattern"] == "/t.*"
    assert str(a["latest_error_ts"]) == "1970-01-01 00:00:45"
    assert str(a["session_end"]) == "1970-01-01 00:01:44.999999"


# ---------------------------------------------------------------------------
# TestSessionLimitAnalysis UA-variance NAT legs


def _session_limit_nat(spark, parts):
    ev = parse_events(
        spark.read.text(
            [
                os.path.join(
                    TESTDATA, "httpreq_sessionlimitanalysis1",
                    f"httpreq_sessionlimitanalysis1_{i}.txt",
                )
                for i in parts
            ]
        ),
        ParserCfg(use_xff_as_remote=True, use_proxy_xff=True),
    )
    assert ev.where(F.col("payload_type") == "raw").count() == 0
    monitored = ev.where(
        (F.col("request_method") == "POST")
        & F.col("request_path").rlike("^/submit/click.*")
    )
    return session_limit_analysis(
        monitored, key="source_address", ts="timestamp",
        gap="20 minutes", monitor=6, nat_ua_col="user_agent",
    ).collect()


def test_session_limit_ua_variance_present_reference_golden(spark):
    """TestSessionLimitAnalysis.sessionLimitAnalysisAlertUAVariancePresent
    (`TestSessionLimitAnalysis.java:216-277` + `SessionLimitAnalysis.
    java:187-192`): part _0 carries a second user agent (Firefox/90)
    from the same XFF client — the session presents >= 2 agents, is
    treated as a NAT gateway, and emits nothing."""
    assert _session_limit_nat(spark, (0, 2, 3)) == []


def test_session_limit_ua_variance_missing_reference_golden(spark):
    """TestSessionLimitAnalysis.sessionLimitAnalysisAlertUAVarianceMissing
    (`TestSessionLimitAnalysis.java:279-340`): identical traffic but a
    single agent throughout (part _1) — the NAT rule does not trip and
    192.168.0.1's 7-request session alerts, session start
    2021-07-08T21:59:42."""
    out = _session_limit_nat(spark, (1, 2, 3))
    assert len(out) == 1
    a = out[0]
    assert a["source_address"] == "192.168.0.1"
    assert a["n_events"] == 7
    assert str(a["first_ts"]) == "2021-07-08 21:59:42"


# ---------------------------------------------------------------------------
# TestHTTPRequestSourceCorrelator / TestContentServerVarianceDetector


def test_source_correlator_reference_golden(spark):
    """TestHTTPRequestSourceCorrelator.sourceCorrelatorTest
    (`httprequest/TestHTTPRequestSourceCorrelator.java:46-94`):
    threshold analysis (modifier 1.0, min 2 requests/client) flags
    the two Century Link addresses (216.160.83.56/.57, 10 requests
    each against a 2.5 window mean computed over ALL 12 clients),
    then the ISP correlator groups by provider: 'Century Link' has
    2 observed addresses, both alerting -> one isp_source_correlation
    alert '2 alerting addresses out of 2 observed'. The reference
    resolves ISP through the maxmind test database (absent here — the
    documented mmdb seam); the replay injects the same mapping as the
    broadcast dimension our GeoIP provider produces, keeping the
    threshold + correlator math on real fixture bytes."""
    from foxsec_pipeline_spark.operators.summary import source_correlation

    ev = _parsed(spark, "httpreq_sourcecorrelator1.txt")
    alerts = threshold_analysis(
        ev, key="source_address", ts="timestamp", duration="1 minute",
        required_minimum_average=1.0, threshold_modifier=1.0,
        min_clients=1, min_requests_per_client=2,
    )
    flagged = {r["source_address"] for r in alerts.collect()}
    # "Should have two alerts" (the two Century Link clients)
    assert flagged == {"216.160.83.56", "216.160.83.57"}
    # the maxmind GeoIP2-ISP test db maps 216.160.83.0/24 to Century
    # Link; private 192.168.0.0/16 addresses resolve to no ISP and
    # drop out of the correlation grouping
    isp_dim = spark.createDataFrame(
        [("216.160.83.56", "Century Link"),
         ("216.160.83.57", "Century Link")],
        "source_address string, isp string",
    )
    with_isp = ev.join(F.broadcast(isp_dim), "source_address")
    out = source_correlation(
        with_isp.withColumn(
            "alerted", F.col("source_address").isin(*flagged)
        ),
        group_col="isp", addr_col="source_address",
        alerted_predicate=F.col("alerted"),
        min_addresses=2, min_ratio=0.9,
    ).collect()
    assert len(out) == 1
    a = out[0]
    assert a["isp"] == "Century Link"
    assert a["n_addr"] == 2       # "2 observed"
    assert a["n_alerted"] == 2    # "2 alerting addresses"


def test_content_server_variance_presence_reference_golden(spark):
    """TestContentServerVarianceDetector.getVarianceTest
    (`customs/TestContentServerVarianceDetector.java:21-41` +
    `ContentServerVarianceDetector.java:56-95` PresenceBased): the
    fxacontent fixture yields exactly the seven (ip, true) presence
    pairs — per 10-minute window, the distinct source addresses that
    touched the content server (the variance view Customs consumes
    as a side input)."""
    raw = spark.read.text(
        os.path.join(TESTDATA, "customs_contentserver.txt")
    )
    ev = parse_events(raw, ParserCfg())
    pres = (
        ev.where(F.col("payload_type") == "fxacontent")
        .where(F.col("source_address").isNotNull())
        .select(
            F.window("timestamp", "10 minutes")["start"].alias("ws"),
            "source_address",
        )
        .distinct()
        .collect()
    )
    got = {r["source_address"] for r in pres}
    assert got == {
        "192.168.0.1", "192.168.0.2", "192.168.0.3", "192.168.0.4",
        "192.168.0.5", "10.0.0.2", "10.0.0.3",
    }
    assert len(pres) == 7  # one window; no duplicate presence pairs


# ---------------------------------------------------------------------------
# TestCloudtrailMatcherManager


def test_cloudtrail_matcher_manager_reference_golden(spark):
    """TestCloudtrailMatcherManager.cloudtrailMatcherManagerFromResourceTest
    (`awsbehavior/TestCloudtrailMatcherManager.java:13-28`): the
    reference's ACTUAL event_matchers.json loads to exactly two
    matchers, the first described 'access key created' with a resource
    extractor, and each converts to a runnable filter rule — here the
    rules run end-to-end over synthetic cloudtrail-shaped rows to pin
    the conversion semantics the Java test only smoke-checks: AND of
    FULL-match regexes per matcher (the '1122334455|123456789'
    alternation matches either account id and nothing else), and the
    resource field rides into the match row."""
    from foxsec_pipeline_spark.operators.detectors import (
        CLOUDTRAIL_MATCHER_FIELDS,
        aws_behavior_match,
        cloudtrail_matcher_manager,
    )

    cfg = open(os.path.join(TESTDATA, "event_matchers.json")).read()
    matchers = cloudtrail_matcher_manager(cfg)
    assert len(matchers) == 2
    assert matchers[0]["description"] == "access key created"
    assert matchers[0]["resource"] == "requestParameters.userName"

    # unknown property is a load-time config error
    # (CloudtrailMatcher.UnknownStringPropertyException)
    with pytest.raises(ValueError):
        cloudtrail_matcher_manager(
            '{"event_matchers": [{"description": "x", '
            '"fields": [["nope", ".*"]]}]}'
        )

    rows = spark.createDataFrame(
        [
            # hits matcher 1 (CreateAccessKey) with a resource
            ("CreateAccessKey", "iam.amazonaws.com", "1122334455",
             None, None, "riker"),
            # hits matcher 2: both alternation branches
            ("PutUserPolicy", "iam.amazonaws.com", "1122334455",
             "signin.amazonaws.com", "false", None),
            ("PutUserPolicy", "iam.amazonaws.com", "123456789",
             "signin.amazonaws.com", "false", None),
            # full-match: an account id merely CONTAINING a configured
            # id must not match
            ("PutUserPolicy", "iam.amazonaws.com", "91122334455",
             "signin.amazonaws.com", "false", None),
            # mfa true -> no match
            ("PutUserPolicy", "iam.amazonaws.com", "1122334455",
             "signin.amazonaws.com", "true", None),
            # wrong source -> no match
            ("PutUserPolicy", "ec2.amazonaws.com", "1122334455",
             "signin.amazonaws.com", "false", None),
        ],
        "event_name string, event_source string, "
        "recipient_account_id string, invoked_by string, "
        "mfa_authenticated string, request_user_name string",
    )
    out = aws_behavior_match(
        rows,
        [
            {**m, "fields": m["fields"], "resource": m.get("resource")}
            for m in matchers
        ],
        field_cols=CLOUDTRAIL_MATCHER_FIELDS,
    ).collect()
    got = sorted(
        (r["matcher_description"], r["recipient_account_id"],
         r["matched_resource"])
        for r in out
    )
    assert got == [
        ("IAM action from console without mfa", "1122334455", None),
        ("IAM action from console without mfa", "123456789", None),
        ("access key created", "1122334455", "riker"),
    ]


# ---------------------------------------------------------------------------
# TestInputJson project-filter legs


def test_stackdriver_project_filter_reference_golden(spark):
    """TestInputJson.testJsonSerializeInputSimplexProjectFilterInclude /
    ...Exclude (`input/TestInputJson.java:129-168`): the errorrate1
    fixture parses to 55 events under project 'test'; a matching
    stackdriverProjectFilter keeps all 55, a non-matching one drops
    every event (`ParserDoFn.java:54-80` common input filter,
    project equality per `EventFilterRule.java:32-38`)."""
    raw = spark.read.text(
        os.path.join(TESTDATA, "httpreq_errorrate1.txt")
    )
    inc = parse_events(
        raw, ParserCfg(stackdriver_project_filter="test")
    )
    assert inc.count() == 55
    exc = parse_events(
        raw, ParserCfg(stackdriver_project_filter="notmatched")
    )
    assert exc.count() == 0
    # label filter variant of the same common input filter
    # (`ParserDoFn.java:64-73`): malformed spec is a plan-time error
    with pytest.raises(ValueError):
        parse_events(
            raw, ParserCfg(stackdriver_label_filters=("nocolon",))
        ).count()


# ---------------------------------------------------------------------------
# TestCfgTickGenerator


def test_cfgtick_generator_reference_golden(spark):
    """TestCfgTickGenerator.cfgTickGeneratorTest + ...ZeroInterval
    (`metrics/TestCfgTickGenerator.java:38-99`): the composite input
    adapter with interval=1 / maximum=2 yields exactly TWO parsed
    CFGTICK events whose configuration map carries the pipeline
    options — inputFile flattened from its array form
    (`parser/CfgTick.java:46-64` convertArray, ", "-joined) and the
    interval stringified — while interval=0 yields none. Also pins the
    builder's flattening rules (bool/number stringify, filesToStage
    removed, unconvertible type is a build-time error) and the
    generator's plan-time message validation
    (`metrics/CfgTickGenerator.java:39-55`)."""
    from foxsec_pipeline_spark.sources.input import (
        cfgtick_config_map,
        cfgtick_message,
        with_cfgticks,
    )

    path = os.path.join(TESTDATA, "inputtype_buffer1.txt")
    msg = cfgtick_message(
        {
            "inputFile": [path],
            "generateConfigurationTicksInterval": 1,
            "generateConfigurationTicksMaximum": 2,
            "streaming": False,
            "ignored": None,
            "filesToStage": ["a.jar", "b.jar"],
        }
    )
    raw = spark.read.text(path).withColumn("resource", F.lit("file"))
    ev = parse_events(with_cfgticks(raw, msg, 1, 2), ParserCfg())
    ticks = (
        ev.where(F.col("payload_type") == "cfgtick")
        .select(cfgtick_config_map().alias("cfg"))
        .collect()
    )
    assert len(ticks) == 2
    for r in ticks:
        assert r["cfg"]["inputFile"] == path
        assert r["cfg"]["generateConfigurationTicksInterval"] == "1"
        assert r["cfg"]["streaming"] == "false"
        assert "filesToStage" not in r["cfg"]
        assert "ignored" not in r["cfg"]

    # zero interval -> no ticks (cfgTickGeneratorTestZeroInterval)
    ev0 = parse_events(with_cfgticks(raw, msg, 0, 2), ParserCfg())
    assert ev0.where(F.col("payload_type") == "cfgtick").count() == 0

    # builder: unconvertible value type is a config error
    # (CfgTick.flattenObjectMapToStringMap IOException)
    with pytest.raises(ValueError):
        cfgtick_message({"bad": {"nested": 1}})
    # generator: a message that does not parse as a cfgtick fails at
    # plan time (CfgTickGenerator.validateMessageFormat)
    with pytest.raises(ValueError):
        with_cfgticks(raw, '{"not_a_tick": true}', 1, 2)


# ---------------------------------------------------------------------------
# TestAlertFormatter


def test_alert_formatter_reference_golden(spark):
    """TestAlertFormatter.runFormatter + runFormatterWithSettings
    (`alert/TestAlertFormatter.java:32-83`): with no Maxmind db the
    formatter adds monitored_resource and leaves city/country metadata
    ABSENT; with a city db configured the sourceaddress gains
    sourceaddress_city/_country and monitored_resource is added only
    when missing. The Milton/US values from the reference's test mmdb
    are asserted when the real maxminddb lib is present; otherwise the
    deterministic fake pins the plumbing (key placement, non-empty
    filtering). Null indicator is a plan-time error
    (`alert/AlertFormatter.java:131-137`)."""
    from foxsec_pipeline_spark.alert.model import alert_formatter

    alerts = spark.createDataFrame(
        [("a1", {"sourceaddress": "216.160.83.56"})],
        "alert_id string, metadata map<string,string>",
    )

    # runFormatter: no geoip configured
    out = alert_formatter(alerts, "test").collect()[0]["metadata"]
    assert out["monitored_resource"] == "test"
    assert "sourceaddress_city" not in out
    assert "sourceaddress_country" not in out

    with pytest.raises(ValueError):
        alert_formatter(alerts, None)

    # runFormatterWithSettings: city db configured
    city_db = "/root/reference/src/test/resources/testdata/GeoIP2-City-Test.mmdb"
    out2 = alert_formatter(
        alerts, "formatter_test", city_mmdb_path=city_db
    ).collect()[0]["metadata"]
    assert out2["monitored_resource"] == "formatter_test"
    assert out2["sourceaddress"] == "216.160.83.56"
    try:
        import maxminddb  # noqa: F401

        have_mmdb = os.path.exists(city_db)
    except ImportError:
        have_mmdb = False
    if have_mmdb:
        assert out2["sourceaddress_city"] == "Milton"
        assert out2["sourceaddress_country"] == "US"
    else:
        # deterministic fake still places both associated keys
        assert out2["sourceaddress_city"]
        assert out2["sourceaddress_country"]

    # a pre-set monitored_resource is preserved, not overwritten
    # (`AlertFormatter.java:133` only-if-missing)
    pre = spark.createDataFrame(
        [("a2", {"monitored_resource": "keepme"})],
        "alert_id string, metadata map<string,string>",
    )
    kept = alert_formatter(pre, "other").collect()[0]["metadata"]
    assert kept["monitored_resource"] == "keepme"


# ---------------------------------------------------------------------------
# TestCustomsAlert


def test_customs_alert_conversion_reference_golden(spark):
    """TestCustomsAlert.testAlertConversion
    (`customs/TestCustomsAlert.java:10-106`): the eight alert-to-
    CustomsAlert conversion cases with the reference's exact expected
    fan-out counts — 4 (creation abuse: address + 3 emails), 2
    (distributed creation: address + primary email, email_similar NOT
    fanned), 1 (source login failure: address only despite the email
    key), 1 (password reset: address only), 10 (distributed login
    failure: one per sourceaddresses entry), 2 (velocity: address +
    email), 1 (status comparator: email only), 1 (at-risk login:
    address only) — plus the indicator/confidence/reason semantics of
    the convert* methods (`CustomsAlert.java:146-433`)."""
    from foxsec_pipeline_spark.operators.detectors import customs_alert_rows

    cases = [
        ("account_creation_abuse",
         {"sourceaddress": "216.160.83.56", "count": "3",
          "email": "user@mail.com, user.1@mail.com, user.1.@mail.com"}),
        ("account_creation_abuse_distributed",
         {"sourceaddress": "216.160.83.54", "count": "6",
          "email": "user6@mail.com",
          "email_similar": "user3@mail.com, user1@mail.com, "
                           "user2@mail.com, user4@mail.com, "
                           "user5@mail.com"}),
        ("source_login_failure",
         {"sourceaddress": "216.160.83.56", "count": "10",
          "email": "spock@mozilla.com"}),
        ("password_reset_abuse",
         {"sourceaddress": "10.0.0.1", "count": "5"}),
        ("source_login_failure_distributed",
         {"email": "kirk@mozilla.com", "count": "10",
          "sourceaddresses": "10.0.0.1, 10.0.0.2, 10.0.0.3, 10.0.0.4, "
                             "10.0.0.5, 10.0.0.6, 10.0.0.7, 10.0.0.8, "
                             "10.0.0.9, 10.0.0.10"}),
        ("velocity",
         {"sourceaddress": "81.2.69.192",
          "sourceaddress_previous": "216.160.83.56",
          "time_delta_seconds": "9", "km_distance": "7740.82",
          "uid": "00000000000000000000000000000000",
          "email": "riker@mozilla.com"}),
        ("status_comparator",
         {"email": "spock@mozilla.com", "sourceaddress": "3.3.3.3"}),
        ("login_failure_at_risk_account",
         {"email": "spock@mozilla.com", "sourceaddress": "10.0.1.11"}),
    ]
    alerts = spark.createDataFrame(
        [(i, sub, meta, "1970-01-01 00:00:00")
         for i, (sub, meta) in enumerate(cases)],
        "case_id int, subcategory string, metadata map<string,string>, "
        "timestamp string",
    )
    rows = customs_alert_rows(alerts).collect()
    by_h = {}
    for r in rows:
        by_h.setdefault(r["heuristic"], []).append(r)

    assert len(by_h["account_creation_abuse"]) == 4
    assert len(by_h["account_creation_abuse_distributed"]) == 2
    assert len(by_h["source_login_failure"]) == 1
    assert len(by_h["password_reset_abuse"]) == 1
    assert len(by_h["source_login_failure_distributed"]) == 10
    assert len(by_h["velocity"]) == 2
    assert len(by_h["status_comparator"]) == 1
    assert len(by_h["login_failure_at_risk_account"]) == 1

    # creation abuse keeps baseAlert's default confidence 50 (the
    # convert method never overrides it); emails fan out trimmed
    acc = by_h["account_creation_abuse"]
    assert all(r["confidence"] == 50 for r in acc)
    assert sorted(r["indicator"] for r in acc
                  if r["indicator_type"] == "email") == [
        "user.1.@mail.com", "user.1@mail.com", "user@mail.com"]
    assert [r["indicator"] for r in acc
            if r["indicator_type"] == "sourceaddress"] == ["216.160.83.56"]
    assert acc[0]["reason"] == (
        "216.160.83.56 created 3 accounts in a single session")

    # distributed creation: primary email only, count-1 in the reason
    dist = by_h["account_creation_abuse_distributed"]
    assert sorted((r["indicator_type"], r["indicator"]) for r in dist) == [
        ("email", "user6@mail.com"), ("sourceaddress", "216.160.83.54")]
    assert dist[0]["reason"] == (
        "5 very similar accounts to user6@mail.com created in fixed "
        "time frame")

    # source login failure: address indicator only, confidence 100
    slf = by_h["source_login_failure"][0]
    assert (slf["indicator_type"], slf["indicator"], slf["confidence"]) == (
        "sourceaddress", "216.160.83.56", 100)
    assert slf["reason"] == "216.160.83.56 failed login 10 times in window"

    # distributed login failure: every listed address, trimmed
    addrs = sorted(r["indicator"]
                   for r in by_h["source_login_failure_distributed"])
    assert addrs == sorted(f"10.0.0.{i}" for i in range(1, 11))

    # velocity: address + email rows, uid-based reason
    vel = by_h["velocity"]
    assert sorted((r["indicator_type"], r["indicator"]) for r in vel) == [
        ("email", "riker@mozilla.com"), ("sourceaddress", "81.2.69.192")]
    assert vel[0]["reason"] == (
        "00000000000000000000000000000000 velocity exceeded, 7740.82 km "
        "in 9 seconds")

    # status comparator: email only even though sourceaddress is set
    sc = by_h["status_comparator"][0]
    assert (sc["indicator_type"], sc["indicator"]) == (
        "email", "spock@mozilla.com")
    assert sc["reason"] == "3.3.3.3 performed status check on spock@mozilla.com"

    # at-risk login: address only
    ar = by_h["login_failure_at_risk_account"][0]
    assert (ar["indicator_type"], ar["indicator"]) == (
        "sourceaddress", "10.0.1.11")

    # all rows: warn severity, suspect action, known descriptions
    assert {r["severity"] for r in rows} == {"warn"}
    assert {r["suggested_action"] for r in rows} == {"suspect"}
    assert "unknown" not in {r["heuristic_description"] for r in rows}

    # unknown subcategory -> no rows (fromAlert returns null)
    unk = spark.createDataFrame(
        [(99, "nope", {"sourceaddress": "1.2.3.4"}, "1970-01-01")],
        "case_id int, subcategory string, metadata map<string,string>, "
        "timestamp string",
    )
    assert customs_alert_rows(unk).count() == 0


# ---------------------------------------------------------------------------
# TestInputTypeFile / TestInputTypeFileMulti / TestCfgTickUnboundedReader


def test_input_type_file_reference_golden(spark):
    """TestInputTypeFile.readTextTest/readTextTestParsingElement and
    TestInputTypeFileMulti.readTextTest*/readTextTestMultiElement
    (`input/TestInputTypeFile.java:30-58`,
    `input/TestInputTypeFileMulti.java:43-135`): inputtype_buffer1
    yields 10 raw lines (parsed: 10 events); two files in one simplex
    element yield 30; a multiplex read keys 10 lines to element 'a'
    and 20 to 'b', raw and parsed alike. Also the unbounded cfgtick
    source's interval validation
    (`metrics/TestCfgTickUnboundedReader.java:10-13`)."""
    from foxsec_pipeline_spark.sources.input import (
        InputElement,
        InputSpec,
        cfgtick_stream,
    )

    b1 = os.path.join(TESTDATA, "inputtype_buffer1.txt")
    b2 = os.path.join(TESTDATA, "inputtype_buffer2.txt")

    simplex = InputSpec([InputElement("default", path=b1)])
    raw = simplex.read_raw(spark)
    assert raw.count() == 10
    assert simplex.read_parsed(spark).count() == 10

    two = InputSpec([InputElement("default", path=[b1, b2])])
    assert two.read_raw(spark).count() == 30
    assert two.read_parsed(spark).count() == 30

    multi = InputSpec(
        [InputElement("a", path=b1), InputElement("b", path=b2)]
    )
    mraw = multi.read_raw(spark)
    counts = {
        r["resource"]: r["n"]
        for r in mraw.groupBy("resource").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert counts == {"a": 10, "b": 20}
    mparsed = multi.read_parsed(spark)
    pcounts = {
        r["resource"]: r["n"]
        for r in mparsed.groupBy("resource").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert pcounts == {"a": 10, "b": 20}

    # CfgTickUnboundedReader: interval <= 0 is a config error
    with pytest.raises(ValueError):
        cfgtick_stream(spark, {"x": "y"}, interval_seconds=0)


# ---------------------------------------------------------------------------
# TestScriptRunner / TestSqsIO / TestGcsUtil


def test_script_runner_reference_golden(spark, tmp_path):
    """TestScriptRunner (`TestScriptRunner.java:17-89`): named-script
    load + method dispatch with the reference's test.groovy replayed
    as its Python twin — noop returns None, inc(1)=2, add(2,3)=5, the
    eventHandler leg keys the parsed openssh GLB event by user
    'riker' with the syslog timestamp, unknown method raises
    (IllegalArgumentException), missing file raises (IOException)."""
    from foxsec_pipeline_spark.functions.registry import ScriptRunner

    script = tmp_path / "test.py"
    script.write_text(
        "def noop():\n"
        "    return None\n"
        "def inc(x):\n"
        "    return x + 1\n"
        "def add(x, y):\n"
        "    return x + y\n"
        "def event_handler(e):\n"
        "    if e['payload_type'] != 'openssh':\n"
        "        return None\n"
        "    if e['subject_user'] == 'riker':\n"
        "        return (e['subject_user'], e)\n"
        "    return None\n"
    )
    s = ScriptRunner()
    s.load_script(str(script), "test")
    assert s.invoke_method("test", "noop") is None
    assert s.invoke_method("test", "inc", 1) == 2
    assert s.invoke_method("test", "add", 2, 3) == 5

    buf = (
        '{"insertId":"f8p4mz1a3ldcos1xz","labels":{"compute.googleapis.com/'
        'resource_name":"emit-bastion"},"logName":"projects/sandbox-00/logs/'
        'syslog","receiveTimestamp":"2018-09-20T18:43:38.318580313Z",'
        '"resource":{"labels":{"instance_id":"9999999999999999999",'
        '"project_id":"sandbox-00","zone":"us-east1-b"},"type":'
        '"gce_instance"},"textPayload":"Sep 18 22:15:38 emit-bastion '
        'sshd[2644]: Accepted publickey for riker from 127.0.0.1 port '
        '58530 ssh2: RSA SHA256:dd/AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA"'
        ',"timestamp":"2018-09-18T22:15:38Z"}'
    )
    ev = parse_events(
        spark.createDataFrame([(buf,)], "value string"), ParserCfg()
    ).collect()[0].asDict()
    key, kept = s.invoke_method("test", "event_handler", ev)
    assert key == "riker"
    assert str(kept["timestamp"]) == "2018-09-18 22:15:38"

    with pytest.raises(ValueError):
        s.invoke_method("test", "nonexistent")
    with pytest.raises(OSError):
        s.load_script(str(tmp_path / "nonexistent.py"), "nonexistent")


def test_sqs_gcs_util_reference_golden():
    """TestSqsIO.SqsIOTestParseQueueInfo (`TestSqsIO.java:11-22`) and
    TestGcsUtil.GcsIsGcsUrlTest (`TestGcsUtil.java:14-32`): queue-spec
    and storage-URL parsing, byte-for-byte the reference's cases."""
    from foxsec_pipeline_spark.sinks.output import (
        blob_id_from_url,
        is_gcs_url,
        parse_queue_info,
    )

    parts = parse_queue_info(
        "https://queue.amazonaws.com/AAAAAAAA/queue:key:secret:us-east-1"
    )
    assert parts == [
        "https://queue.amazonaws.com/AAAAAAAA/queue",
        "key", "secret", "us-east-1",
    ]
    assert parse_queue_info("https://short:key") is None

    assert is_gcs_url("gs://bucket/path/object")
    assert not is_gcs_url("/path/object")
    assert not is_gcs_url("gs://")
    assert not is_gcs_url("gs://test")
    assert not is_gcs_url("gs://test/")
    assert blob_id_from_url("gs://bucket/path") == ("bucket", "path")
    assert blob_id_from_url("gs://bucket/path/test") == (
        "bucket", "path/test")
    assert blob_id_from_url("/test/path") is None


# ---------------------------------------------------------------------------
# StateTest / TestWatchlist / TestAlertSlack — the KV state plane over
# the deterministic local backend (memcached/datastore are network
# seams; the contract below is what a real backend must satisfy)


def test_state_plane_reference_golden():
    """state/StateTest.java:42-111 (parameterized over the memcached
    and datastore backends — here the deterministic local backend):
    set/get JSON round-trip, missing key -> None, zero-length keys
    raise on both get and set; transactional cursors buffer until
    commit (`StateCursor.java:69-84`, the datastore transaction
    path)."""
    from foxsec_pipeline_spark.state import (
        MemoryStateInterface,
        State,
        StateException,
    )

    s = State(MemoryStateInterface("statetest", "test"))
    s.initialize()
    s.delete_all()
    c = s.new_cursor()
    c.set("testing", {"str": "test"})
    got = c.get("testing")
    assert got == {"str": "test"}
    assert s.new_cursor().get("nonexist") is None

    with pytest.raises(StateException):
        s.new_cursor().set("", {"str": "test"})
    with pytest.raises(StateException):
        s.new_cursor().get("")

    # transaction cursor: invisible until commit
    t = s.new_cursor(transaction=True)
    t.set("txn", {"str": "pending"})
    assert s.new_cursor().get("txn") is None
    t.commit()
    assert s.new_cursor().get("txn") == {"str": "pending"}
    s.done()


def test_watchlist_reference_golden(spark):
    """TestWatchlist.watchlistTest (`TestWatchlist.java:29-123`):
    empty watchlist -> zero entries of either kind; an IP entry
    lands in getWatchedIPs and resolves through getWatchlistEntries;
    two email entries (one from the reference's exact JSON document)
    both come back; unknown kinds return empty. Then the snapshot
    broadcasts into the watchlist_match dim (`Watchlist.java:286-330`
    + `PostProcessing.java:102-126`)."""
    import json as _json

    from foxsec_pipeline_spark.operators.customs import watchlist_match
    from foxsec_pipeline_spark.state import (
        MemoryStateInterface,
        State,
        Watchlist,
        watchlist_dataframe,
    )

    for kind in ("ip", "email"):
        MemoryStateInterface(kind, "watchlist").delete_all()
    wl = Watchlist()
    assert wl.get_watched_emails() == []
    assert wl.get_watched_ips() == []

    ipe = {"type": "ip", "object": "127.0.0.1", "severity": "info",
           "created_by": "picard", "expires_at": "2020-01-07T02:45:23.000Z"}
    cur = State(MemoryStateInterface("ip", "watchlist")).new_cursor()
    cur.set(ipe["object"], ipe)

    ips = wl.get_watched_ips()
    assert ips == [ipe]
    assert wl.get_watchlist_entries("ip", ["127.0.0.1"]) == [ipe]

    # the reference's exact email entry document
    email_one = _json.loads(
        '{"created_by": "picard", "type": "email", '
        '"object": "example@enterprise.com",'
        '"expires_at": "2020-01-07T02:45:23.000Z", "severity": "info"}'
    )
    email_two = {"type": "email", "object": "picardTwo@enterprise.com",
                 "severity": "warn", "created_by": "picard",
                 "expires_at": "2020-01-08T00:00:00.000Z"}
    ecur = State(MemoryStateInterface("email", "watchlist")).new_cursor()
    ecur.set(email_one["object"], email_one)
    assert wl.get_watchlist_entries(
        "email", ["example@enterprise.com"]) == [email_one]
    ecur.set(email_two["object"], email_two)
    emails = wl.get_watched_emails()
    assert len(emails) == 2
    assert {e["object"] for e in emails} == {
        "example@enterprise.com", "picardTwo@enterprise.com"}
    assert wl.get_watchlist_entries("nope", ["x"]) == []

    # snapshot -> broadcast dim -> match
    dim = watchlist_dataframe(spark, wl)
    events = spark.createDataFrame(
        [("e1", "127.0.0.1"), ("e2", "10.0.0.9")],
        "event_id string, source_address string",
    )
    hits = watchlist_match(events, dim, "source_address", "ip").collect()
    assert [(r["event_id"], r["wl_severity"], r["wl_created_by"])
            for r in hits] == [("e1", "info", "picard")]
    wl.done()


def test_alert_slack_reference_golden():
    """TestAlertSlack (`alert/TestAlertSlack.java:46-79`): null alert
    or null user -> False; with a mocked transport the confirmation
    send returns True AND the alert lands in state keyed by its id
    with STATUS metadata NEW, timestamp preserved
    (`AlertSlack.java:173-207`); a transport failure returns False
    but state is still written (the reference logs and returns
    false after the state write)."""
    from foxsec_pipeline_spark.alert.slack import AlertSlack
    from foxsec_pipeline_spark.state import (
        MemoryStateInterface,
        State,
    )

    iface = MemoryStateInterface("alert", "alertslack")
    st = State(iface)
    st.delete_all()

    sent = []

    def mock_send(user, alert_id, text):
        sent.append((user, alert_id))
        assert text.startswith("Foxsec Fraud Detection Alert")
        return True

    s = AlertSlack(state=st, send=mock_send)
    assert s.send_confirmation_alert_to_user(None, "test") is False
    assert s.send_confirmation_alert_to_user(
        {"alert_id": "x", "metadata": {}}, None) is False
    assert sent == []

    ta = {"alert_id": "85e899ac-28fa-46d6-84c1-36c2061eed49",
          "timestamp": "1970-01-01T00:00:00.000Z",
          "summary": "test", "metadata": {}}
    assert s.send_confirmation_alert_to_user(ta, "test") is True
    stored = st.new_cursor().get(ta["alert_id"])
    assert stored is not None
    assert stored["metadata"]["status"] == "NEW"
    assert stored["timestamp"] == ta["timestamp"]
    assert sent == [("test", ta["alert_id"])]

    # unconfigured state -> False (AlertSlack.java:180-183)
    assert AlertSlack(send=mock_send).send_confirmation_alert_to_user(
        dict(ta), "test") is False

    # transport failure -> False, state still written
    st.delete_all()
    bad = AlertSlack(
        state=st, send=lambda *a: (_ for _ in ()).throw(IOError("x")))
    assert bad.send_confirmation_alert_to_user(dict(ta), "test") is False
    assert st.new_cursor().get(ta["alert_id"]) is not None


def test_alert_formatter_preexisting_geo_keys(spark):
    """AlertFormatter duplicate-key semantics: the reference APPENDS
    metadata entries but `Alert.getMetadataValue` reads the first
    occurrence, so a pre-existing sourceaddress_city survives
    enrichment unchanged (and Spark's map_concat must not see the
    duplicate key at all)."""
    from foxsec_pipeline_spark.alert.model import alert_formatter

    alerts = spark.createDataFrame(
        [("a1", {"sourceaddress": "216.160.83.56",
                 "sourceaddress_city": "PreSet"})],
        "alert_id string, metadata map<string,string>",
    )
    out = alert_formatter(
        alerts, "t", city_mmdb_path="/nonexistent/GeoIP2-City.mmdb"
    ).collect()[0]["metadata"]
    assert out["sourceaddress_city"] == "PreSet"
    assert "sourceaddress_country" in out


def test_customs_notification_escalation_gate(spark):
    """CustomsNotification.allowEscalation
    (`customs/CustomsNotification.java:46-64`): a CustomsAlert reaches
    the notification topic only when its subcategory's escalate flag
    is set, and subcategories OUTSIDE the switch default-deny (the
    Java switch falls through to `return false`) — so
    velocity_monitor_only / activity_monitor / private_relay_forward /
    account_enumeration never escalate through this path, and an
    empty options map (flags default false, `Customs.java:215-407`)
    notifies nothing."""
    from foxsec_pipeline_spark.operators.detectors import (
        customs_notification,
    )

    cases = [
        ("account_creation_abuse",
         {"sourceaddress": "216.160.83.56", "count": "3",
          "email": "user@mail.com, user.1@mail.com, user.1.@mail.com"}),
        ("source_login_failure",
         {"sourceaddress": "216.160.83.56", "count": "10",
          "email": "spock@mozilla.com"}),
        ("velocity",
         {"sourceaddress": "81.2.69.192",
          "sourceaddress_previous": "216.160.83.56",
          "time_delta_seconds": "9", "km_distance": "7740.82",
          "uid": "00000000000000000000000000000000",
          "email": "riker@mozilla.com"}),
        # in the fan-out surface but NOT in the escalation switch:
        ("status_comparator",
         {"email": "spock@mozilla.com", "sourceaddress": "3.3.3.3"}),
        ("login_failure_at_risk_account",
         {"email": "spock@mozilla.com", "sourceaddress": "10.0.1.11"}),
    ]
    alerts = spark.createDataFrame(
        [(i, sub, meta, "1970-01-01 00:00:00")
         for i, (sub, meta) in enumerate(cases)],
        "case_id int, subcategory string, metadata map<string,string>, "
        "timestamp string",
    )

    # empty options: every escalate flag defaults false -> no rows
    assert customs_notification(alerts, {}).count() == 0

    # enable two flags: only those subcategories fan out, with the
    # fan-out counts of the conversion table (4 for creation abuse,
    # 1 for source login failure)
    opts = {
        "escalateAccountCreation": True,
        "escalateSourceLoginFailure": True,
    }
    rows = customs_notification(alerts, opts).collect()
    by_h = {}
    for r in rows:
        by_h.setdefault(r["heuristic"], []).append(r)
    assert set(by_h) == {"account_creation_abuse", "source_login_failure"}
    assert len(by_h["account_creation_abuse"]) == 4
    assert len(by_h["source_login_failure"]) == 1

    # status_comparator escalates only via its own flag; at-risk login
    # is NOT in the switch at all — flag-like option has no effect
    opts2 = {
        "escalateStatusComparator": True,
        "escalateLoginFailureAtRiskAccount": True,  # not a switch case
    }
    rows2 = customs_notification(alerts, opts2).collect()
    assert {r["heuristic"] for r in rows2} == {"status_comparator"}
