"""Envelope handling: Stackdriver LogEntry, AWS CloudWatch, Mozlog —
one `from_json` pass over a wide union schema.

Reference: `parser/Parser.java:310-372` (Stackdriver), `:407-421`
(CloudWatch), `:374-405` (Mozlog). Up to three layers are peeled and
envelope timestamps / project ids are hoisted onto the event.

Columnar strategy: the raw line is parsed ONCE into a wide struct
covering every envelope + payload family the probe chain knows
(`WIDE_SCHEMA`); absent fields are null, scalars are leniently
coerced to string. All downstream matchers/extractors are struct
field accesses — no repeated JSON parsing. (An earlier design used
`get_json_object` per field; that re-parses the JSON string per call,
which at ~25 probed fields made the parser ~25× more expensive than
one Jackson pass. The reference pays one Jackson parse per *candidate
matcher* — `parser/Parser.java:597-619` — so a single-parse design
beats it on the same work.)

Scalar leaf fields are StringType on purpose: Spark's JSON reader
coerces numbers to string but nulls a number-typed field that arrives
as a JSON string, so string + explicit cast accepts both shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import gateway_memo


def _s(name: str) -> T.StructField:
    return T.StructField(name, T.StringType())


# Mozlog Fields{} — shared payload body for every mozlog-hinted family
# (`parser/FxaAuth.java`, `FxaContent.java`, `PrivateRelay.java`,
# `AmoDocker.java`, `BmoAudit.java`, `IPrepdLog.java`,
# `Taskcluster.java`; fixture family FIXTURES.md F3)
_MOZ_FIELDS = T.StructType(
    [
        _s("email"),
        _s("uid"),
        _s("method"),
        _s("path"),
        _s("status"),
        _s("errno"),
        _s("agent"),
        _s("service"),
        _s("remoteAddress"),
        # JSON-encoded array string in the mozlog shape
        _s("remoteAddressChain"),
        # FxaContent (models/fxacontent/FxaContent.java)
        _s("clientAddress"),
        _s("userAgent"),
        # PrivateRelay (parser/PrivateRelay.java fields)
        _s("msg"),
        _s("fxa_uid"),
        _s("real_address"),
        _s("relay_address"),
        _s("relay_address_id"),
        _s("event_key"),
        # AmoDocker (models/amo/Amo.java)
        _s("guid"),
        _s("from_api"),
        _s("user_id"),
        _s("upload"),
        _s("upload_hash"),
        # BmoAudit (parser/BmoAudit.java)
        _s("remote_ip"),
        _s("request_id"),
        # Taskcluster (models/taskcluster/Taskcluster.java)
        _s("apiVersion"),
        _s("clientId"),
        _s("sourceIp"),
        _s("statusCode"),
        _s("name"),
        _s("resource"),
        # Duopull (models/duopull/Duopull.java — the record rides
        # inside mozlog Fields in every enveloped form)
        _s("event_action"),
        _s("event_username"),
        _s("event_description_ip_address"),
        _s("event_timestamp"),
        _s("event_object"),
        _s("event_reason"),
        # IPrepdLog (parser/IPrepdLog.java)
        _s("violation"),
        _s("decay_after"),
        _s("original_reputation"),
        _s("reputation"),
        _s("type"),
        _s("exception"),
        _s("object"),
    ]
)

WIDE_SCHEMA = T.StructType(
    [
        # --- Stackdriver LogEntry (Parser.java:310-372)
        _s("timestamp"),
        _s("receiveTimestamp"),
        _s("logName"),
        # user labels map (LogEntry.labels — the Stackdriver label
        # filter surface, HTTPRequestToggles stackdriverLabelFilters)
        T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
        T.StructField(
            "resource",
            T.StructType(
                [
                    _s("type"),
                    T.StructField(
                        "labels", T.StructType([_s("project_id")])
                    ),
                    # bare GuardDuty finding resource block (same JSON
                    # key, disjoint fields — GuardDuty.java:35-47
                    # parses findings WITHOUT the CloudWatch wrapper)
                    _s("resourceType"),
                    T.StructField(
                        "accessKeyDetails",
                        T.StructType(
                            [_s("accessKeyId"), _s("principalId"),
                             _s("userType"), _s("userName")]
                        ),
                    ),
                    T.StructField(
                        "instanceDetails",
                        T.StructType([_s("instanceId")]),
                    ),
                ]
            ),
        ),
        T.StructField(
            "httpRequest",
            T.StructType(
                [
                    _s("remoteIp"),
                    _s("requestMethod"),
                    _s("requestUrl"),
                    _s("status"),
                    _s("userAgent"),
                    _s("referer"),
                    _s("requestSize"),
                    _s("responseSize"),
                ]
            ),
        ),
        T.StructField(
            "jsonPayload",
            T.StructType(
                [
                    _s("@type"),
                    # nginx stackdriver variants (parser/Nginx.java:
                    # variant1 k8s stdout = remote_addr/request_time/
                    # bytes_sent; variant2 ec2 = remote_ip/code/agent)
                    _s("remote_ip"),
                    _s("remote_addr"),
                    _s("request"),
                    _s("request_time"),
                    _s("code"),
                    _s("status"),
                    _s("agent"),
                    _s("user_agent"),
                    _s("host"),
                    _s("x_forwarded_for"),
                    _s("x_pipeline_proxy"),
                    # mozlog nested inside stackdriver
                    _s("Type"),
                    _s("Logger"),
                    _s("Timestamp"),
                    T.StructField("Fields", _MOZ_FIELDS),
                    # ETD finding body (parser/ETDBeta.java,
                    # models/etd/EventThreatDetectionFinding.java)
                    _s("detectionPriority"),
                    _s("eventTime"),
                    T.StructField(
                        "detectionCategory",
                        T.StructType(
                            [_s("indicator"), _s("ruleName"), _s("subRuleName"),
                             _s("technique")]
                        ),
                    ),
                    T.StructField(
                        "properties",
                        T.StructType(
                            [_s("ip"), _s("location"), _s("project_id"),
                             _s("principalEmail"), _s("domain")]
                        ),
                    ),
                    T.StructField(
                        "sourceId",
                        T.StructType(
                            [_s("projectNumber"), _s("customerOrganizationNumber")]
                        ),
                    ),
                    # GCP VPC flow (parser/GcpVpcFlow.java,
                    # models/gcpvpcflow/GcpVpcFlow.java)
                    T.StructField(
                        "connection",
                        T.StructType(
                            [_s("src_ip"), _s("src_port"), _s("dest_ip"),
                             _s("dest_port"), _s("protocol")]
                        ),
                    ),
                    _s("bytes_sent"),
                    T.StructField(
                        "src_instance", T.StructType([_s("vm_name")])
                    ),
                    # CloudTrail wrapped in a Stackdriver jsonPayload —
                    # how GCP log sinks re-ingest AWS logs; the
                    # authprof_awscorr fixtures use this shape
                    # (Parser.java strips the envelope first, so any
                    # payload family can arrive wrapped)
                    _s("eventVersion"),
                    _s("eventName"),
                    # eventTime already declared above (ETD block —
                    # same struct, shared key)
                    _s("eventType"),
                    _s("eventID"),
                    _s("errorCode"),
                    _s("eventSource"),
                    _s("recipientAccountId"),
                    _s("sourceIPAddress"),
                    _s("userAgent"),
                    T.StructField(
                        "userIdentity",
                        T.StructType(
                            [
                                _s("type"), _s("userName"), _s("arn"),
                                _s("invokedBy"), _s("accountId"),
                                T.StructField(
                                    "sessionContext",
                                    T.StructType(
                                        [
                                            T.StructField(
                                                "sessionIssuer",
                                                T.StructType([_s("userName")]),
                                            ),
                                            T.StructField(
                                                "attributes",
                                                T.StructType(
                                                    [_s("mfaAuthenticated")]
                                                ),
                                            ),
                                        ]
                                    ),
                                ),
                            ]
                        ),
                    ),
                    T.StructField(
                        "requestParameters",
                        T.StructType(
                            [_s("userName"), _s("roleArn"),
                             _s("roleSessionName")]
                        ),
                    ),
                    T.StructField(
                        "responseElements",
                        T.StructType(
                            [
                                T.StructField(
                                    "assumedRoleUser",
                                    T.StructType(
                                        [_s("arn"), _s("assumedRoleId")]
                                    ),
                                ),
                                _s("ConsoleLogin"),
                                _s("SwitchRole"),
                            ]
                        ),
                    ),
                    T.StructField(
                        "additionalEventData",
                        T.StructType([_s("SwitchFrom"), _s("MFAUsed")]),
                    ),
                ]
            ),
        ),
        _s("textPayload"),
        T.StructField(
            "protoPayload",
            T.StructType(
                [
                    _s("methodName"),
                    _s("resourceName"),
                    T.StructField(
                        "authenticationInfo", T.StructType([_s("principalEmail")])
                    ),
                    T.StructField(
                        "requestMetadata", T.StructType([_s("callerIp")])
                    ),
                    T.StructField(
                        "authorizationInfo",
                        T.ArrayType(T.StructType([_s("resource")])),
                    ),
                ]
            ),
        ),
        # --- CloudTrail record at top level (parser/Cloudtrail.java;
        # matcher fields per awsbehavior event_matchers.json shape)
        _s("eventVersion"),
        _s("eventName"),
        _s("eventTime"),
        _s("eventType"),
        _s("eventID"),
        _s("errorCode"),
        _s("eventSource"),
        _s("recipientAccountId"),
        _s("sourceIPAddress"),
        _s("userAgent"),
        T.StructField(
            "requestParameters",
            T.StructType(
                [_s("userName"), _s("roleArn"), _s("roleSessionName")]
            ),
        ),
        T.StructField(
            "responseElements",
            T.StructType(
                [
                    T.StructField(
                        "assumedRoleUser",
                        T.StructType([_s("arn"), _s("assumedRoleId")]),
                    ),
                    _s("ConsoleLogin"),
                    _s("SwitchRole"),
                ]
            ),
        ),
        T.StructField(
            "additionalEventData",
            T.StructType([_s("SwitchFrom"), _s("MFAUsed")]),
        ),
        T.StructField(
            "userIdentity",
            T.StructType(
                [
                    _s("type"),
                    _s("userName"),
                    _s("arn"),
                    _s("invokedBy"),
                    _s("accountId"),
                    T.StructField(
                        "sessionContext",
                        T.StructType(
                            [
                                T.StructField(
                                    "sessionIssuer", T.StructType([_s("userName")])
                                ),
                                T.StructField(
                                    "attributes",
                                    T.StructType([_s("mfaAuthenticated")]),
                                ),
                            ]
                        ),
                    ),
                ]
            ),
        ),
        # --- auth0 LogEvent (parser/Auth0.java, models/auth0/LogEvent.java)
        _s("_id"),
        _s("date"),
        _s("type"),
        _s("client_name"),
        _s("client_id"),
        _s("ip"),
        _s("user_id"),
        # Auth0.getUsername digs details.prompts[].user_name
        # (Auth0.java:212-232)
        T.StructField(
            "details",
            T.StructType(
                [
                    T.StructField(
                        "prompts",
                        T.ArrayType(T.StructType([_s("user_name")])),
                    )
                ]
            ),
        ),
        # --- duopull event (parser/Duopull.java, models/duopull/Duopull.java)
        _s("msg"),
        _s("path"),
        _s("event_reason"),
        _s("event_action"),
        _s("event_username"),
        _s("event_description_ip_address"),
        _s("event_timestamp"),
        _s("event_object"),
        # --- re-ingested Alert JSON (parser/Alert.java payload)
        _s("summary"),
        _s("severity"),
        _s("category"),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType())),
        # --- GuardDuty finding via CloudWatch *Event* wrapper
        # (parser/GuardDuty.java: source == "aws.guardduty", finding in
        # `detail` — distinct from the logEvents subscription batch)
        _s("source"),
        _s("detail-type"),
        _s("time"),
        _s("account"),
        _s("region"),
        # bare GuardDuty finding at top level (GuardDuty.java:35-47 —
        # type/arn/accountId/title/description are the identity)
        _s("schemaVersion"),
        _s("accountId"),
        _s("id"),
        _s("arn"),
        _s("title"),
        _s("description"),
        _s("createdAt"),
        _s("updatedAt"),
        T.StructField(
            "service",
            T.StructType(
                [
                    T.StructField(
                        "action",
                        T.StructType(
                            [
                                _s("actionType"),
                                T.StructField(
                                    "awsApiCallAction",
                                    T.StructType(
                                        [
                                            _s("api"),
                                            _s("serviceName"),
                                            _s("callerType"),
                                            T.StructField(
                                                "remoteIpDetails",
                                                T.StructType(
                                                    [_s("ipAddressV4")]
                                                ),
                                            ),
                                        ]
                                    ),
                                ),
                            ]
                        ),
                    ),
                ]
            ),
        ),
        # bare ETD finding at top level (parser/ETDBeta.java — the
        # finding body arrives without the Stackdriver envelope too;
        # golden: ParserTest.testParseETDFinding)
        _s("detectionPriority"),
        T.StructField(
            "detectionCategory",
            T.StructType(
                [_s("indicator"), _s("ruleName"), _s("subRuleName"),
                 _s("technique")]
            ),
        ),
        T.StructField(
            "properties",
            T.StructType(
                [_s("ip"), _s("location"), _s("project_id"),
                 _s("principalEmail"), _s("domain")]
            ),
        ),
        T.StructField(
            "detail",
            T.StructType(
                [
                    _s("schemaVersion"),
                    _s("accountId"),
                    _s("region"),
                    _s("id"),
                    _s("arn"),
                    _s("type"),
                    _s("title"),
                    _s("description"),
                    _s("severity"),
                    _s("createdAt"),
                    _s("updatedAt"),
                    T.StructField(
                        "resource",
                        T.StructType(
                            [
                                _s("resourceType"),
                                T.StructField(
                                    "accessKeyDetails",
                                    T.StructType(
                                        [_s("accessKeyId"), _s("principalId"),
                                         _s("userType"), _s("userName")]
                                    ),
                                ),
                                T.StructField(
                                    "instanceDetails",
                                    T.StructType([_s("instanceId")]),
                                ),
                            ]
                        ),
                    ),
                    T.StructField(
                        "service",
                        T.StructType(
                            [
                                T.StructField(
                                    "action",
                                    T.StructType(
                                        [
                                            _s("actionType"),
                                            T.StructField(
                                                "awsApiCallAction",
                                                T.StructType(
                                                    [
                                                        _s("api"),
                                                        T.StructField(
                                                            "remoteIpDetails",
                                                            T.StructType(
                                                                [_s("ipAddressV4")]
                                                            ),
                                                        ),
                                                    ]
                                                ),
                                            ),
                                        ]
                                    ),
                                ),
                            ]
                        ),
                    ),
                ]
            ),
        ),
        # --- CfgTick heartbeat (parser/CfgTick.java: any JSON carrying
        # a configuration_tick field)
        _s("configuration_tick"),
    ]
)


# Mozlog at top level (Parser.java:374-405). Separate schema: its
# `Timestamp` would collide case-insensitively with Stackdriver's
# `timestamp` during struct-field resolution if both sat in one
# struct. The second parse is gated on a substring test, so only
# mozlog-shaped lines pay it.
MOZLOG_SCHEMA = T.StructType(
    [
        _s("Timestamp"),
        _s("Type"),
        _s("Logger"),
        T.StructField("Fields", _MOZ_FIELDS),
    ]
)


_CLOUDWATCH_SCHEMA = T.StructType(
    [
        T.StructField("owner", T.StringType()),
        T.StructField("logGroup", T.StringType()),
        T.StructField(
            "logEvents",
            T.ArrayType(T.StructType([T.StructField("message", T.StringType())])),
        ),
    ]
)


def explode_cloudwatch(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Unwrap AWS CloudWatch subscription batches: one input line with
    N logEvents becomes N raw lines (`parser/Parser.java:407-421`).
    Non-CloudWatch lines pass through unchanged. Single-pass flatMap
    shape — each row explodes either its message batch or itself, so
    the source is scanned once (a filter+union form would evaluate the
    upstream projection twice)."""
    is_cw = F.col(value_col).contains('"logEvents"')
    messages = F.from_json(F.col(value_col), _CLOUDWATCH_SCHEMA)["logEvents"][
        "message"
    ]
    return df.withColumn(
        value_col,
        F.explode(
            F.coalesce(
                F.when(is_cw, messages), F.array(F.col(value_col))
            )
        ),
    )


# auth0 LogEvent body (parser/Auth0.java, models/auth0/LogEvent.java) —
# parsed as its OWN tiny schema because the event arrives both bare and
# under a Stackdriver jsonPayload, and the wide jsonPayload struct
# already carries the mozlog "Type" key (a lowercase "type" sibling
# would be ambiguous under Spark's case-insensitive resolution)
AUTH0_BODY = T.StructType(
    [
        _s("_id"),
        _s("date"),
        _s("type"),
        _s("client_name"),
        _s("client_id"),
        _s("ip"),
        _s("user_id"),
        T.StructField(
            "details",
            T.StructType(
                [
                    T.StructField(
                        "prompts",
                        T.ArrayType(T.StructType([_s("user_name")])),
                    )
                ]
            ),
        ),
    ]
)

_AUTH0_WRAPPED = T.StructType([T.StructField("jsonPayload", AUTH0_BODY)])


def _envelope_cols(value_col: str) -> tuple:
    """Input-independent Column trees of `strip_envelopes`, built once
    per py4j gateway and value_col (`session.gateway_memo`):
    rebuilding this set is ~90 py4j calls (~0.1-0.2 s of client-side
    planning) per parse_events call."""
    return gateway_memo(("envelopes", value_col), lambda: _build_envelope_cols(value_col))


def _build_envelope_cols(value_col: str) -> tuple:
    j = F.from_json(F.col(value_col), WIDE_SCHEMA)
    moz_shaped = F.col(value_col).contains('"Timestamp"') | F.col(
        value_col
    ).contains('"Fields"')
    m = F.when(moz_shaped, F.from_json(F.col(value_col), MOZLOG_SCHEMA))
    a0 = F.when(
        F.col(value_col).contains('"_id"'),
        F.coalesce(
            F.from_json(F.col(value_col), _AUTH0_WRAPPED)["jsonPayload"],
            F.from_json(F.col(value_col), AUTH0_BODY),
        ),
    )
    mt = F.when(
        F.col("j.textPayload").contains('"Fields"')
        | F.col("j.textPayload").contains('"Timestamp"'),
        F.from_json(F.col("j.textPayload"), MOZLOG_SCHEMA),
    )
    moz_ts_raw = F.coalesce(
        F.col("m.Timestamp"), F.col("j.jsonPayload.Timestamp"),
        F.col("mt.Timestamp"),
    )
    layer3 = {
        "moz_fields": F.coalesce(
            F.col("j.jsonPayload.Fields"), F.col("m.Fields"),
            F.col("mt.Fields"),
        ),
        "moz_logger": F.coalesce(
            F.col("m.Logger"), F.col("j.jsonPayload.Logger"),
            F.col("mt.Logger"),
        ),
        "moz_type": F.coalesce(
            F.col("m.Type"), F.col("j.jsonPayload.Type"),
            F.col("mt.Type"),
        ),
        # integer ns normally, but bmoaudit emits the ns count in
        # scientific notation ('1.548956727E18') which Jackson
        # reads as a double — try the exact integer parse first,
        # fall through to the double form, never throw (ANSI-safe)
        "moz_ts_ns": F.coalesce(
            F.try_to_number(moz_ts_raw, F.lit("S" + "9" * 19)).cast("long"),
            moz_ts_raw.try_cast("double").cast("long"),
        ),
        "sd_project": F.coalesce(
            F.col("j.resource.labels.project_id"), F.col("j.logName")
        ),
        "payload_text": F.coalesce(F.col("j.textPayload"), F.col(value_col)),
    }
    # mozlog ns Timestamp WINS over the Stackdriver envelope ts when
    # both are present: Parser.java:424-446 strips the Stackdriver
    # envelope first (setting ts from LogEntry.timestamp) and then
    # setMozlog OVERRIDES it (Event.java:127-135 "if the mozlog entry
    # has a timestamp value, this timestamp will be used") — fixture
    # timestamps (e.g. privaterelay's 0/120s/240s mozlog clock under a
    # constant envelope ts) depend on this order. Integer div: ns
    # epoch values overflow the double mantissa.
    envelope_ts = F.coalesce(
        F.timestamp_micros(F.expr("moz_ts_ns div 1000")),
        F.to_timestamp(F.col("j.timestamp")),
    )
    return (j, m, a0, mt, layer3, envelope_ts)


def strip_envelopes(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Attach the parsed wide struct (`j`) plus hoisted envelope
    columns: `moz_fields` (top-level or stackdriver-nested mozlog),
    `moz_logger`/`moz_type`, `sd_project`, `payload_text` (text body
    for regex payloads; the raw line when not enveloped), and
    `envelope_ts` (Stackdriver ts > mozlog ns ts).
    """
    j, m, a0, mt, layer3, envelope_ts = _envelope_cols(value_col)
    # BATCHED withColumns, not a withColumn chain: every withColumn is
    # a full analyzer pass over a plan that carries the WIDE_SCHEMA
    # from_json tree, and eleven chained passes cost ~1.4 s of pure
    # DRIVER time per parse_events call (measured at r9; 4 batched
    # passes bring envelope attachment to ~0.3 s). Batches follow the
    # dependency layers: (j, m, a0) <- mt <- moz_*/sd/payload_text
    # <- envelope_ts. The a0 parse is gated on the _id marker so the
    # two extra JSON parses run only on auth0-shaped lines; mt probes
    # a Stackdriver textPayload that may itself BE a mozlog JSON
    # string (ParserTest.testParseStackdriverTextDuopullBypass).
    out = df.withColumns({"j": j, "m": m, "a0": a0})
    out = out.withColumns({"mt": mt})
    out = out.withColumns(layer3)
    return out.withColumn("envelope_ts", envelope_ts)
