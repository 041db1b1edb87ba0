"""HTTPRequest pipeline assembly — the reference's flagship DAG as a
config-driven composition of heuristic operators.

Reference lifecycle (`httprequest/HTTPRequest.java:925-930, 853-889`,
toggles `HTTPRequestToggles.java`): a per-service toggle config
enables some of the 9 heuristics; each analyses the same parsed
HTTP_REQUEST stream (1-min fixed windows for the rate family, session
windows for the abuse family); alert legs are flattened into one
stream and formatted.

Spark shape: one events DataFrame -> N heuristic DataFrames ->
`unionByName` -> `to_alerts` projections. Each leg is a pure function
of the shared input, but the union plans that input once per leg: a
batch run and every streaming micro-batch scan and parse the input
once for each enabled heuristic (one `Relation` scan and one parse
chain per leg in the optimized plan). Reading it once needs the
parsed events persisted first (`.persist()` in batch, a persisted
frame inside `foreachBatch` in streaming). The toggle config is the dataclass below — the HTTPRequestMultiMode JSON maps
onto it 1:1.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..alert.model import to_alerts
from ..operators import (
    error_rate_analysis,
    hard_limit_analysis,
    session_limit_analysis,
    threshold_analysis,
    ua_blocklist_analysis,
)


@dataclass
class HTTPRequestToggles:
    """Per-service heuristic toggles (`HTTPRequestToggles.java`)."""

    enable_threshold_analysis: bool = False
    enable_hard_limit_analysis: bool = False
    enable_error_rate_analysis: bool = False
    enable_session_limit_analysis: bool = False
    enable_ua_blocklist_analysis: bool = False

    threshold_modifier: float = 75.0
    required_minimum_average: float = 1.0
    hard_limit_count: int = 100
    max_client_errors: int = 30
    session_gap: str = "45 minutes"
    session_limit_count: int = 100
    ua_blocklist: list[str] = field(default_factory=list)

    window: str = "1 minute"


def assemble_httprequest(
    events: DataFrame,
    toggles: HTTPRequestToggles,
    key: str = "source_address",
    ts: str = "timestamp",
    status_col: str = "request_status",
    ua_col: str = "user_agent",
    monitored_resource: str = "default",
) -> DataFrame:
    """Build the enabled heuristic legs and flatten them into one
    alerts DataFrame (`HTTPRequest.java:182-385` expandInputMap +
    GlobalTriggers flatten)."""
    legs: list[DataFrame] = []

    def add(df: DataFrame, subcategory: str, summary):
        legs.append(
            to_alerts(
                df,
                category="httprequest",
                subcategory=subcategory,
                severity="warn",
                summary=summary,
                timestamp_col=df.columns[0],
            ).withColumn(
                "metadata",
                F.map_concat(
                    "metadata",
                    F.create_map(
                        F.lit("monitored_resource"), F.lit(monitored_resource)
                    ),
                ),
            )
        )

    if toggles.enable_threshold_analysis:
        hits = threshold_analysis(
            events, key=key, ts=ts, duration=toggles.window,
            required_minimum_average=toggles.required_minimum_average,
            threshold_modifier=toggles.threshold_modifier,
        )
        add(hits, "threshold_analysis",
            F.concat(F.lit("threshold exceeded for "), F.col(key)))
    if toggles.enable_hard_limit_analysis:
        hits = hard_limit_analysis(
            events, key=key, ts=ts, duration=toggles.window,
            max_count=toggles.hard_limit_count,
        )
        add(hits, "hard_limit", F.concat(F.lit("hard limit from "), F.col(key)))
    if toggles.enable_error_rate_analysis:
        hits = error_rate_analysis(
            events, key=key,
            error_predicate=F.col(status_col).between(400, 499),
            ts=ts, duration=toggles.window, max_errors=toggles.max_client_errors,
        )
        add(hits, "error_rate", F.concat(F.lit("error rate from "), F.col(key)))
    if toggles.enable_session_limit_analysis:
        hits = session_limit_analysis(
            events, key=key, ts=ts, gap=toggles.session_gap,
            monitor=toggles.session_limit_count,
        )
        add(hits, "session_limit",
            F.concat(F.lit("session volume from "), F.col(key)))
    if toggles.enable_ua_blocklist_analysis and toggles.ua_blocklist:
        hits = ua_blocklist_analysis(
            events, key=key, ua_col=ua_col, patterns=toggles.ua_blocklist,
            ts=ts, duration=toggles.window,
        )
        add(hits, "ua_blocklist",
            F.concat(F.lit("blocklisted agent from "), F.col(key)))

    if not legs:
        raise ValueError("no heuristics enabled")
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out
