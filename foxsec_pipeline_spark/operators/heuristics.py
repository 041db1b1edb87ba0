"""Windowed detection heuristics — the reference's HTTPRequest family
re-expressed as pure DataFrame -> DataFrame functions.

Each function takes a normalized event DataFrame with at least
(ts: timestamp, key: string-ish) and returns the "alert candidate"
rows. They are generic over the key/predicate so the same operator
serves HTTP logs (key=source_address) and any other keyed stream.

Reference parity map (file:line in /root/reference):
- threshold_analysis   <- httprequest/heuristics/ThresholdAnalysis.java:88-199
- hard_limit_analysis  <- httprequest/heuristics/HardLimitAnalysis.java:92-130
- error_rate_analysis  <- httprequest/heuristics/ErrorRateAnalysis.java:62-84
- status_code_rate     <- httprequest/heuristics/StatusCodeRateAnalysis.java:67-90
- detect_nat           <- DetectNat.java:100-152
- endpoint_sequence    <- httprequest/heuristics/EndpointSequenceAbuse.java:146-270
- session_analysis     <- httprequest/HTTPRequest.java:96-165 (session windows)
- endpoint_abuse       <- httprequest/heuristics/EndpointAbuseAnalysis.java:134-277
- per_key_stats        <- Stats.java:119-225 (global CombineFn -> window agg)

Scale notes: every heuristic is one shuffle (groupBy key+window) with
map-side partial aggregation; the global-stats side input becomes a
window-aligned broadcast join (tiny side: one row per window), which
Catalyst executes as BroadcastHashJoin — no second shuffle of the big
side. No Python UDFs anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .windows import gap_session, time_window, windowed_agg, windowed_counts


def per_key_stats(counts: DataFrame, count_col: str = "n") -> DataFrame:
    """Global mean/count/sum over per-key counts, per window.

    Beam exposed this as a singleton side-input view
    (`Stats.java:215-219`); here it is a per-window aggregate joined
    back broadcast-style.
    """
    return counts.groupBy("window_start").agg(
        F.count(F.lit(1)).alias("stats_count"),
        F.sum(count_col).alias("stats_sum"),
        F.avg(count_col).alias("stats_mean"),
    )


def threshold_analysis(
    events: DataFrame,
    key: str,
    ts: str = "ts",
    duration: str = "1 minute",
    required_minimum_average: float = 1.0,
    clamp_maximum: float | None = None,
    threshold_modifier: float = 1.0,
    min_clients: int = 1,
    min_requests_per_client: int = 1,
) -> DataFrame:
    """Alert when a key's per-window count >= mean * threshold_modifier
    (`ThresholdAnalysis.java:152` — AT-or-over, not strictly over).

    Mirrors ThresholdAnalysis: compute per-client counts in fixed
    windows, compare each against the window's global mean (the Beam
    side input), with a required minimum average, an optional clamp on
    the mean, and a minimum-clients gate
    (`ThresholdAnalysis.java:110-199`). `min_requests_per_client`
    (`:114-125` "filter insignificant") drops sub-minimum clients from
    alert CANDIDACY only — the stats side input is computed over ALL
    clients first (`:104-110`), so the mean still reflects them.
    """
    counts = windowed_counts(events, key, ts, duration)
    stats = per_key_stats(counts)
    if clamp_maximum is not None:
        stats = stats.withColumn(
            "stats_mean", F.least(F.col("stats_mean"), F.lit(float(clamp_maximum)))
        )
    if min_requests_per_client > 1:
        counts = counts.where(F.col("n") >= F.lit(int(min_requests_per_client)))
    joined = counts.join(F.broadcast(stats), "window_start")
    return (
        joined.where(
            (F.col("stats_mean") >= F.lit(float(required_minimum_average)))
            & (F.col("stats_count") >= F.lit(int(min_clients)))
            & (F.col("n") >= F.col("stats_mean") * F.lit(float(threshold_modifier)))
        )
        .select(
            "window_start",
            F.col(key),
            F.col("n").alias("count"),
            F.round("stats_mean", 6).alias("mean"),
        )
    )


def hard_limit_analysis(
    events: DataFrame,
    key: str,
    ts: str = "ts",
    duration: str = "1 minute",
    max_count: int = 100,
) -> DataFrame:
    """Alert when a key's per-window count exceeds a fixed limit
    (`HardLimitAnalysis.java:92-130`)."""
    return (
        windowed_counts(events, key, ts, duration)
        .where(F.col("n") > F.lit(int(max_count)))
        .select("window_start", F.col(key), F.col("n").alias("count"))
    )


def error_rate_analysis(
    events: DataFrame,
    key: str,
    error_predicate: Column,
    ts: str = "ts",
    duration: str = "1 minute",
    max_errors: int = 30,
) -> DataFrame:
    """Alert when a key's per-window count of error events exceeds a
    threshold (`ErrorRateAnalysis.java:62-84`; 4xx filter
    `HTTPRequest.java:168-180`).

    The predicate filter runs *before* the shuffle, so only error rows
    are shuffled — the reference achieves the same by filtering before
    GroupByKey.
    """
    return windowed_counts(
        events.where(error_predicate), key, ts, duration, count_alias="error_count"
    ).where(F.col("error_count") > F.lit(int(max_errors)))


def status_code_rate_analysis(
    events: DataFrame,
    key: str,
    match_predicate: Column,
    ts: str = "ts",
    duration: str = "1 minute",
    max_count: int = 2,
) -> DataFrame:
    """Alert when a key generates more than `max_count` events
    matching a predicate (e.g. one status code) in a fixed window —
    COUNT semantics, exactly the reference's
    `heuristics/StatusCodeRateAnalysis.java:66-117` (filter by status
    -> Count.perElement -> threshold; the transform name says "rate"
    but the comparison is a per-window count, verified against
    `TestStatusCodeRateAnalysis` and its fixture in
    tests/test_reference_goldens.py).

    The predicate filter runs BEFORE the shuffle, so only matching
    rows move — one shuffle, map-side partial counts.
    """
    return windowed_counts(
        events.where(match_predicate), key, ts, duration, count_alias="matched"
    ).where(F.col("matched") > F.lit(int(max_count)))


def detect_nat(
    events: DataFrame,
    key: str,
    diversity_col: str,
    ts: str = "ts",
    duration: str = "1 minute",
    min_distinct: int = 2,
) -> DataFrame:
    """Flag keys whose distinct-diversity count in a window reaches a
    minimum — the reference uses distinct user agents per source IP to
    infer NAT (`DetectNat.java:100-152`: Distinct + Count.perKey).

    Exact countDistinct: one shuffle with partial distinct aggregation.
    At very high cardinality swap in approx_count_distinct (HLL) — same
    call site, sketch-based, no accuracy cliff at 100 TB.
    """
    return (
        windowed_agg(
            events, [key], time_window(ts, duration),
            F.countDistinct(diversity_col).alias("n_distinct"),
        )
        .where(F.col("n_distinct") >= F.lit(int(min_distinct)))
        .drop("window_end")
    )


def endpoint_sequence_abuse(
    events: DataFrame,
    key: str,
    first_predicate: Column,
    second_predicate: Column,
    ts: str = "ts",
    max_delta_ms: int = 1000,
    min_pairs: int = 1,
) -> DataFrame:
    """Count A-then-B-within-delta sequences per key
    (`EndpointSequenceAbuse.java:146-270`).

    The reference sorts each key group in a DoFn and scans adjacent
    pairs; here `lag` over (key ORDER BY ts) does the time-sorted
    pairing in one shuffle, with the pair test as a codegen'd
    expression.
    """
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(), F.col("__tag").asc())
    tagged = events.withColumn(
        "__tag",
        F.when(second_predicate, F.lit("b")).when(first_predicate, F.lit("a")),
    ).where(F.col("__tag").isNotNull())
    paired = tagged.select(
        F.col(key),
        F.col(ts),
        F.col("__tag"),
        F.lag("__tag").over(w).alias("prev_tag"),
        F.lag(ts).over(w).alias("prev_ts"),
    )
    pair_hit = (
        (F.col("__tag") == "b")
        & (F.col("prev_tag") == "a")
        & (
            (F.col(ts).cast("double") - F.col("prev_ts").cast("double"))
            <= F.lit(max_delta_ms / 1000.0)
        )
    )
    return (
        paired.where(pair_hit)
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .where(F.col("pair_count") >= F.lit(int(min_pairs)))
    )


def session_analysis(
    events: DataFrame,
    key: str,
    ts: str = "ts",
    gap: str = "45 minutes",
) -> DataFrame:
    """Sessionize a keyed stream with an inactivity gap and emit
    per-session extent + volume (`HTTPRequest.java:96-165`,
    session gap default 45 min `HTTPRequest.java:565-569`).

    Batch + streaming share this plan: `session_window` is a grouping
    expression, so the same code runs under readStream with a
    watermark.
    """
    return windowed_agg(
        events, [key], gap_session(ts, gap),
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts).alias("first_ts"),
        F.max(ts).alias("last_ts"),
    ).select(key, "first_ts", "last_ts", "n_events")


# the reference's "supporting content" suffixes: a non-monitored
# request to one of these indicates a real browser loading page assets
# (`EndpointAbuseAnalysis.java:280-291` considerSupporting)
_SUPPORTING_SUFFIXES = (".css", ".js", ".gif", ".jpg", ".ico", ".svg", ".png")


def endpoint_abuse_analysis(
    events: DataFrame,
    key: str,
    endpoint_col: str,
    monitored: list[str],
    ts: str = "ts",
    gap: str = "45 minutes",
    min_count: int = 5,
    variance_suppress: bool = True,
    extended_variance: bool = False,
    custom_variance_substrings: list[str] | None = None,
    path_col: str | None = None,
    url_col: str | None = None,
) -> DataFrame:
    """Per-session counts of monitored endpoints; alert on the
    endpoint with the max count when it exceeds a threshold
    (`EndpointAbuseAnalysis.java:134-277`, top-endpoint pick
    `:203-225`).

    `variance_suppress` is the reference's basic-variance rule
    (`:157-201`): a session containing ANY request to a
    non-monitored endpoint is assumed to be a real client (it loaded
    supporting content) and is dropped entirely — abuse sessions are
    the ones hammering ONLY the monitored endpoints. Golden-verified
    against httpreq_endpointabuse1 in tests/test_reference_goldens.py
    (192.168.1.3's 11-event session with one stray request is
    suppressed; 192.168.1.2's pure 10x GET /test session alerts).

    `extended_variance` (`:190-201` varianceSupportingOnly +
    `:280-291` considerSupporting) narrows the suppression rule: only
    non-monitored requests for page-asset content (.css/.js/.gif/...
    suffixes on `path_col`) — or, with `custom_variance_substrings`,
    URLs containing a configured substring (`:162-169`, matched
    against the full request URL in `url_col`) — count as variance.
    A bot that touches '/' between hammering /test still alerts.

    The reference folds each group in a DoFn; here one session-window
    aggregation builds per-endpoint counts with count(when(...)), and
    `greatest`-style struct max picks the top endpoint — no
    collect+loop, fully codegen. `latest_ts` is the newest monitored
    request (the reference's alert timestamp, latestEpaRequest).
    """
    per_ep = [
        F.count(F.when(F.col(endpoint_col) == ep, 1)).alias(f"__c{i}")
        for i, ep in enumerate(monitored)
    ]
    monitored_pred = F.col(endpoint_col).isin(*monitored)
    variance_aggs = []
    if extended_variance:
        if path_col is None:
            raise ValueError("extended_variance requires path_col")
        supporting = F.lit(False)
        for suf in _SUPPORTING_SUFFIXES:
            supporting = supporting | F.col(path_col).endswith(suf)
        if custom_variance_substrings:
            target = F.col(url_col if url_col is not None else path_col)
            for sub in custom_variance_substrings:
                supporting = supporting | target.contains(sub)
        variance_aggs.append(
            F.count(F.when(~monitored_pred & supporting, 1)).alias("__var")
        )
    agg = windowed_agg(
        events, [key], gap_session(ts, gap),
        *per_ep,
        *variance_aggs,
        F.min(ts).alias("first_ts"),
        F.max(F.when(monitored_pred, F.col(ts))).alias("latest_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )
    monitored_total = None
    for i in range(len(monitored)):
        c = F.col(f"__c{i}")
        monitored_total = c if monitored_total is None else monitored_total + c
    if extended_variance:
        agg = agg.where(F.col("__var") == 0).drop("__var")
    elif variance_suppress:
        agg = agg.where(F.col("n_events") == monitored_total)
    # array of (count, endpoint) structs -> array_max picks top count,
    # ties broken by endpoint name (deterministic, unlike the
    # reference's "pick any" — canonicalized per SURVEY §7.4)
    pairs = F.array(
        *[
            F.struct(F.col(f"__c{i}").alias("c"), F.lit(ep).alias("ep"))
            for i, ep in enumerate(monitored)
        ]
    )
    top = F.array_max(pairs)
    return (
        agg.select(
            F.col(key),
            F.col("first_ts"),
            F.col("latest_ts"),
            F.col("n_events"),
            top["c"].alias("top_count"),
            top["ep"].alias("top_endpoint"),
        )
        .where(F.col("top_count") >= F.lit(int(min_count)))
    )


def session_limit_analysis(
    events: DataFrame,
    key: str,
    ts: str = "ts",
    gap: str = "45 minutes",
    monitor: int = 100,
    nat_ua_col: str | None = None,
) -> DataFrame:
    """Alert when a key's single-session monitored-request volume
    reaches `monitor` (`httprequest/heuristics/SessionLimitAnalysis
    .java:206` — `limits[i].monitor <= limitCounter[i]`, AT-or-over).
    The session analog of HardLimit; one session-window shuffle.

    `nat_ua_col` enables the reference's SESSION-scoped NAT rule
    (`SessionLimitAnalysis.java:151,171,187-192`): with NAT detection
    on, a session presenting >= 2 distinct user agents is treated as
    a NAT gateway and suppressed entirely — unlike the heuristics that
    consume the fixed-window DetectNat view, this check lives inside
    the session fold. Callers pre-filter to monitored requests, so the
    UA set here is over monitored traffic only; the reference builds
    it over every session event (`:171` runs before the endpoint
    match), which only differs when non-monitored traffic carries the
    extra agent."""
    extra = (
        [F.countDistinct(nat_ua_col).alias("__n_ua")]
        if nat_ua_col is not None
        else []
    )
    out = windowed_agg(
        events, [key], gap_session(ts, gap),
        F.min(ts).alias("first_ts"),
        F.count(F.lit(1)).alias("n_events"),
        *extra,
    ).where(F.col("n_events") >= F.lit(int(monitor)))
    if nat_ua_col is not None:
        out = out.where(F.col("__n_ua") < 2)
    return out.select(key, "first_ts", "n_events")


def per_endpoint_error_rate(
    events: DataFrame,
    key: str,
    endpoint_col: str,
    error_predicate: Column,
    ts: str = "ts",
    gap: str = "5 minutes",
    max_errors: int = 30,
) -> DataFrame:
    """Per-session, per-endpoint client-error counting with a
    threshold per endpoint
    (`httprequest/heuristics/PerEndpointErrorRateAnalysis.java:153-220`
    — error sessions use a 5-minute gap `HTTPRequest.java:96-165`).

    The endpoint joins the grouping key (vs endpoint_abuse's pivoted
    counters) because the configured endpoint list is per-deployment
    unbounded; the shuffle key stays (key, endpoint) — no pivot
    explosion.
    """
    return (
        windowed_agg(
            events.where(error_predicate), [key, endpoint_col], gap_session(ts, gap),
            F.min(ts).alias("first_ts"),
            F.count(F.lit(1)).alias("error_count"),
        )
        .where(F.col("error_count") > F.lit(int(max_errors)))
        .select(key, endpoint_col, "first_ts", "error_count")
    )


def per_endpoint_error_rate_specs(
    events: DataFrame,
    key: str,
    specs: list[tuple[int, str, str]],
    method_col: str,
    path_col: str,
    error_predicate: Column,
    ts: str = "ts",
    gap: str = "1 minute",
) -> DataFrame:
    """Reference-exact PerEndpointErrorRateAnalysis: configured
    endpoint specs are `(threshold, method, path_regex)` triples
    (`PerEndpointErrorRateAnalysis.java:78-97` parses
    `<threshold>:<method>:<path>`), each error event is counted
    against every spec it FULL-matches (`:105-107` —
    `Pattern.matcher(path).matches()`, hence the `^(?:...)$`
    anchoring here), and per (client, error-session) the spec with
    the highest count among those at-or-over threshold (`:186-199`,
    `threshold <= errorCounter`; ties keep the earliest spec) emits
    one alert carrying the count, the spec pattern, and the most
    recent matching error as the alert timestamp (`:205`).

    Error events are sessionized AFTER the error filter, mirroring
    the reference's filter -> KeyAndWindowForSessions order
    (`HTTPRequest.java:342-356`). The spec list is deployment config
    — small and bounded — so per-spec conditional counters stay in
    one hash aggregation (no pivot explosion, one shuffle); the
    top-spec pick is an array_max over a specs-length array.
    """
    err = events.where(error_predicate)
    aggs = []
    for i, (thr, m, p) in enumerate(specs):
        match = (F.col(method_col) == m) & F.col(path_col).rlike(
            f"^(?:{p})$"
        )
        aggs.append(F.count(F.when(match, 1)).alias(f"__c{i}"))
        aggs.append(F.max(F.when(match, F.col(ts))).alias(f"__t{i}"))
    agg = windowed_agg(err, [key], gap_session(ts, gap), *aggs)
    # (count, -spec_index) struct max == reference's "highest count,
    # earliest spec on ties" loop; specs below threshold are filtered
    # out of the array first, so array_max -> null means no alert
    candidates = F.array(
        *[
            F.struct(
                F.col(f"__c{i}").alias("c"),
                F.lit(-i).alias("negidx"),
                F.lit(m).alias("method"),
                F.lit(p).alias("pattern"),
                F.col(f"__t{i}").alias("latest"),
            )
            for i, (thr, m, p) in enumerate(specs)
        ]
    )
    thresholds = F.array(*[F.lit(int(thr)) for thr, _, _ in specs])
    eligible = F.filter(
        F.zip_with(
            candidates,
            thresholds,
            lambda s, t: F.when(s["c"] >= t, s),
        ),
        lambda s: s.isNotNull(),
    )
    return (
        agg.withColumn("__top", F.array_max(eligible))
        .where(F.col("__top").isNotNull())
        .select(
            F.col(key),
            F.col("__top.c").alias("error_count"),
            F.col("__top.method").alias("method"),
            F.col("__top.pattern").alias("endpoint_pattern"),
            F.col("__top.latest").alias("latest_error_ts"),
            F.col("window_end").alias("session_end"),
        )
    )


def ua_blocklist_analysis(
    events: DataFrame,
    key: str,
    ua_col: str,
    patterns: list[str],
    ts: str = "ts",
    duration: str = "1 minute",
) -> DataFrame:
    """Alert on keys whose user agent matches any blocklist regex in a
    window (`httprequest/heuristics/UserAgentBlocklistAnalysis.java:95-110`
    — the blocklist file becomes a constant-folded OR of rlike tests;
    for huge lists, swap to one compiled alternation regex — still one
    scan, no join)."""
    from functools import reduce as _reduce

    hit = _reduce(
        lambda a, b: a | b, [F.col(ua_col).rlike(p) for p in patterns]
    )
    return windowed_agg(
        events.where(hit), [key], time_window(ts, duration),
        F.count(F.lit(1)).alias("n_matched"),
        F.min(ua_col).alias("sample_user_agent"),
    ).drop("window_end")
