"""Output plane: composite sinks for alert streams.

Reference: `OutputOptions.compositeOutput` (`CompositeOutput.java:80-121`)
fans one alert stream out to file / BigQuery / Pub/Sub / SQS / iprepd.
Spark mapping: batch writers for bounded runs; `foreachBatch` for
streaming (each micro-batch fans out to all configured sinks with
exactly-once file semantics from the checkpoint).

External network sinks (iprepd HTTP, SQS, email/Slack) are pluggable
callables so tests inject collectors — the reference gates these
behind IO interfaces the same way (`IprepdIO.java`, `SqsIO.java`,
`alert/AlertSlack.java`).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..alert.model import alerts_to_json


def interpret_secret(
    value: str, gcs_fetch=None, kms_decrypt=None
) -> str:
    """RuntimeSecrets.interpretSecret
    (`crypto/RuntimeSecrets.java:113-128`): a runtime secret is (1) a
    gs:// URL resolved through cloud storage, then (2) a cloudkms://
    payload decrypted through KMS, else (3) the literal value.
    Both network backends are pluggable seams (callables url->str /
    ciphertext->str); using a prefix without its backend configured is
    an IO error, never a silent literal fallthrough."""
    if is_gcs_url(value):
        if gcs_fetch is None:
            raise OSError(f"failed to read secret from {value}")
        value = gcs_fetch(value)
    if value.startswith("cloudkms://"):
        if kms_decrypt is None:
            raise OSError("cloudkms secret with no KMS backend configured")
        return kms_decrypt(value[len("cloudkms://"):])
    return value


def parse_queue_info(queue_info: str) -> list[str] | None:
    """SqsIO.parseQueueInfo (`SqsIO.java:33-39`, golden TestSqsIO):
    split the `url:key:secret:region` spec on ':' — exactly five raw
    parts (the URL scheme contributes one) or the spec is invalid
    (None, which the writer turns into a config error). The scheme is
    rejoined onto the URL."""
    parts = queue_info.split(":")
    if len(parts) != 5:
        return None
    return [parts[0] + ":" + parts[1], parts[2], parts[3], parts[4]]


# GcsUtil (`GcsUtil.java:14-38`, golden TestGcsUtil): config/state
# object addressing for cloud-storage URLs. The fetch itself is an
# external-IO seam; the URL parsing is exact.
_GCS_URL_RE = re.compile(r"^gs://([^/]+)/(\S+)$")


def is_gcs_url(url: str) -> bool:
    return _GCS_URL_RE.match(url) is not None


def blob_id_from_url(url: str) -> tuple[str, str] | None:
    """-> (bucket, object_name), or None on invalid input."""
    m = _GCS_URL_RE.match(url)
    if m is None:
        return None
    return (m.group(1), m.group(2))


@dataclass
class SinkSpec:
    """One configured DataFrame sink leg: the Spark-connector face of
    the reference's output specifiers (`CompositeOutput.java:85-121`).
    `apply` is ordinary `df.write.format(...).options(...).save()`,
    so any registered DataSource works; the cloud connector jars
    (spark-bigquery-connector, Pub/Sub Lite) are deployment
    dependencies — this container tests the configuration and the
    execution path via built-in formats."""

    format: str
    options: dict[str, str] = field(default_factory=dict)
    mode: str = "append"
    path: str | None = None
    # which projection of the alert-JSON frame this connector needs:
    # "value" = one string column (text/BigQuery JSON ingest), "data" =
    # one binary column (the Pub/Sub Lite publish contract). The
    # CompositeOutput fan-out applies the projection per leg.
    payload: str = "value"

    def apply(self, df: DataFrame) -> None:
        w = df.write.format(self.format).options(**self.options).mode(self.mode)
        if self.path is not None:
            w.save(self.path)
        else:
            w.save()


def bigquery_sink_spec(table: str, write_method: str = "direct") -> SinkSpec:
    """S10 BigQuery sink wiring (`CompositeOutput.java:86-105`:
    BigQueryIO WRITE_APPEND / CREATE_NEVER): the spark-bigquery-
    connector convention — format "bigquery", `table` =
    project.dataset.table (the reference's --outputBigQuery
    specifier), append mode. CREATE_NEVER is the connector default
    (it errors on a missing table unless createDisposition is set)."""
    if table.count(".") < 1:
        raise ValueError(
            "BigQuery output specifier must be [project.]dataset.table"
        )
    return SinkSpec(
        format="bigquery",
        options={"table": table, "writeMethod": write_method},
        mode="append",
    )


def pubsub_sink_spec(topic: str) -> SinkSpec:
    """S11 Pub/Sub sink wiring (`CompositeOutput.java:106-110`
    PubsubIO.writeStrings): the Pub/Sub Lite connector convention —
    format "pubsublite", topic resource path. The payload column must
    be named `data` (binary); `alerts_to_wire(df)` below produces it."""
    if not topic.startswith("projects/"):
        raise ValueError("pubsub topic must be a projects/... resource path")
    return SinkSpec(
        format="pubsublite",
        options={"pubsublite.topic.path": topic},
        mode="append",
        payload="data",
    )


def sqs_sink_config(queue_info: str, gcs_fetch=None, kms_decrypt=None) -> dict:
    """S12 SQS sink wiring (`SqsIO.java:33-60`): resolve the
    (possibly RuntimeSecrets-wrapped) `url:key:secret:region` spec
    into the boto3/SDK client config the per-partition emitter needs.
    SQS has no Spark DataSource sink; like the reference, the write
    is a per-bundle client call — the engine's executor-side
    foreachPartition emitter (CompositeOutput.emitters) with this
    config. Invalid specs are a config error (golden TestSqsIO)."""
    buf = interpret_secret(queue_info, gcs_fetch=gcs_fetch,
                           kms_decrypt=kms_decrypt)
    parts = parse_queue_info(buf)
    if parts is None:
        raise ValueError("format of sqs queue specification was invalid")
    url, key, secret, region = parts
    return {
        "queue_url": url,
        "aws_access_key_id": key,
        "aws_secret_access_key": secret,
        "region_name": region,
    }


def alerts_to_wire(alerts: DataFrame) -> DataFrame:
    """Alert rows -> the single binary `data` column the streaming
    connectors publish (Pub/Sub Lite sink contract)."""
    return alerts_to_json(alerts).select(
        F.encode(F.col("value"), "UTF-8").alias("data")
    )


@dataclass
class CompositeOutput:
    """Fan-out sink config (`CompositeOutput.java:80-121`)."""

    file_path: str | None = None
    # name -> callable(list[str]) receiving alert JSON lines; stands in
    # for pubsub/sqs/iprepd/slack emitters (network IO stubbed per
    # SURVEY §2.1 S11-S14)
    emitters: dict[str, Callable[[list[str]], None]] = field(default_factory=dict)
    # emitters run on EXECUTORS via foreachPartition by default: an
    # alert storm (the scenario this pipeline exists for) must not
    # funnel an unbounded micro-batch through the driver. Collector
    # emitters in tests set driver_emit=True to keep closure state
    # observable in-process.
    driver_emit: bool = False
    # connector-backed sink legs (BigQuery/Pub/Sub/... SinkSpec):
    # applied to the alert-JSON frame on every batch
    sink_specs: list[SinkSpec] = field(default_factory=list)

    def write_batch(self, alerts: DataFrame) -> None:
        js = alerts_to_json(alerts)
        if self.file_path:
            js.write.mode("append").text(self.file_path)
        wire = None
        for spec in self.sink_specs:
            if spec.payload == "data":
                # Pub/Sub Lite publish contract: one binary `data`
                # column (alerts_to_wire), not the string `value` frame
                if wire is None:
                    wire = js.select(
                        F.encode(F.col("value"), "UTF-8").alias("data")
                    )
                spec.apply(wire)
            else:
                spec.apply(js)
        if self.emitters:
            if self.driver_emit:
                lines = [r.value for r in js.collect()]
                for emit in self.emitters.values():
                    emit(lines)
            else:
                emitters = list(self.emitters.values())

                def emit_partition(rows) -> None:
                    lines = [r.value for r in rows]
                    if lines:
                        for emit in emitters:
                            emit(lines)

                js.foreachPartition(emit_partition)

    def write_lines(self, lines: DataFrame, col: str = "value") -> None:
        """Raw line fan-out (no alert JSON conversion) — the output
        half of the StreamWriter echo pipeline."""
        js = lines.select(F.col(col).alias("value"))
        if self.file_path:
            js.write.mode("append").text(self.file_path)
        if self.emitters:
            if self.driver_emit:
                buf = [r.value for r in js.collect()]
                for emit in self.emitters.values():
                    emit(buf)
            else:
                emitters = list(self.emitters.values())

                def emit_partition(rows) -> None:
                    buf = [r.value for r in rows]
                    if buf:
                        for emit in emitters:
                            emit(buf)

                js.foreachPartition(emit_partition)

    def stream_writer(self, alerts: DataFrame, checkpoint: str, **options):
        """writeStream wiring via foreachBatch (exactly-once per sink
        that supports idempotent writes)."""

        def handle(batch_df: DataFrame, epoch_id: int) -> None:
            self.write_batch(batch_df)

        return (
            alerts.writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint)
            .options(**options)
        )


def violations_from_alerts(alerts: DataFrame) -> DataFrame:
    """Alert -> iprepd Violation projection (`Violation.java:23-87,344`):
    one violation per alert carrying the source address and a
    type-derived violation name."""
    return (
        alerts.where(F.col("metadata").getItem("source_address").isNotNull())
        .select(
            F.col("metadata").getItem("source_address").alias("object"),
            F.lit("ip").alias("type"),
            F.concat(F.lit("fxa:heavy_hitter_"), F.col("category")).alias("violation"),
            F.col("alert_id"),
        )
    )


# subcategory -> [(indicator kind, iprepd violation name)] — the
# reference's full generator map (Violation.java:180-235) with the
# enum's actual wire names (Violation.java:30-85; note
# USERAGENT_BLOCKLIST and STATUS_CODE_RATE share "violation20",
# PER_ENDPOINT is "violation75", SESSION_LIMIT "violation10_limited")
VIOLATION_GENERATOR_MAP: dict[str, list[tuple[str, str]]] = {
    # HTTPRequest
    "error_rate": [("ip", "client_error_rate_violation")],
    "threshold_analysis": [("ip", "request_threshold_violation")],
    "endpoint_abuse": [("ip", "endpoint_abuse_violation")],
    "useragent_blocklist": [("ip", "violation20")],
    "hard_limit": [("ip", "hard_limit_violation")],
    "per_endpoint_error_rate": [("ip", "violation75")],
    "status_code_rate_analysis": [("ip", "violation20")],
    "session_limit_analysis": [("ip", "violation10_limited")],
    # Customs
    "account_creation_abuse": [("email", "abusive_account_violation")],
    # AMO
    "fxa_account_abuse_new_version_login": [("ip", "endpoint_abuse_violation")],
    "fxa_account_abuse_new_version_submission": [
        ("ip", "endpoint_abuse_violation")
    ],
    "fxa_account_abuse_new_version_login_banpattern": [
        ("email", "abusive_account_violation")
    ],
    "fxa_account_abuse_alias": [("email", "abusive_account_violation")],
    "amo_abuse_matched_addon": [
        ("ip", "endpoint_abuse_violation"),
        ("email", "abusive_account_violation"),
    ],
    "amo_abuse_multi_match": [("email", "abusive_account_violation")],
    "amo_abuse_multi_submit": [("email", "abusive_account_violation")],
    "amo_abuse_multi_ip_login": [("email", "abusive_account_violation")],
}


def violations_by_generator_map(
    alerts: DataFrame,
    subcategory_col: str = "subcategory",
    ip_col: str = "source_address",
    email_col: str = "email",
    generator_map: dict[str, list[tuple[str, str]]] | None = None,
) -> DataFrame:
    """Alert -> iprepd Violation rows via the reference's
    subcategory-keyed generator map (`Violation.java:100-235,344`):
    per subcategory, an ip violation from the source address and/or
    one email violation per address in the EMAIL metadata list.
    Unknown subcategories generate nothing (fromAlert returns null).
    Golden-verified on the iprepdio fixtures in
    tests/test_reference_goldens.py.

    Shape: one array-of-structs literal per row filtered to non-null
    objects, exploded — a map-side projection, no joins; the emitter
    seam (`CompositeOutput.emitters`) ships the rows."""
    gm = generator_map or VIOLATION_GENERATOR_MAP
    branches = None
    for subcat, gens in gm.items():
        parts = []
        for kind, vname in gens:
            if kind == "ip":
                parts.append(
                    F.filter(
                        F.array(
                            F.named_struct(
                                F.lit("object"), F.col(ip_col),
                                F.lit("type"), F.lit("ip"),
                                F.lit("violation"), F.lit(vname),
                            )
                        ),
                        lambda x: x["object"].isNotNull(),
                    )
                )
            else:
                # the EMAIL metadata value is a comma-separated LIST
                # and the reference emits ONE violation PER address
                # (Violation.fromAlert splits it — golden:
                # TestAlert.alertToAbusiveAccountViolationTest expects
                # 3 email violations from 'a, b, c')
                emails = F.filter(
                    F.transform(
                        F.split(F.coalesce(F.col(email_col), F.lit("")),
                                r",\s*"),
                        lambda e: F.trim(e),
                    ),
                    lambda e: e != "",
                )
                parts.append(
                    F.transform(
                        emails,
                        lambda e: F.named_struct(
                            F.lit("object"), e,
                            F.lit("type"), F.lit("email"),
                            F.lit("violation"), F.lit(vname),
                        ),
                    )
                )
        arr = parts[0]
        for p in parts[1:]:
            arr = F.concat(arr, p)
        cond = F.col(subcategory_col) == subcat
        branches = (
            F.when(cond, arr) if branches is None else branches.when(cond, arr)
        )
    return (
        alerts.withColumn("__v", F.explode(branches))
        .select(
            F.col("__v.object").alias("object"),
            F.col("__v.type").alias("type"),
            F.col("__v.violation").alias("violation"),
            "*",
        )
        .drop("__v")
    )


def _violation_wire(obj: str, obj_type: str, vname: str,
                    suppress: str | None) -> tuple[str, str, str]:
    """One wire tuple (type, object, json) in the reference's Jackson
    field order (`Violation.java:294-334`): ip only for ip-type,
    suppress_recovery only when set."""
    import json as _json

    body: dict = {"object": obj, "type": obj_type, "violation": vname}
    if obj_type == "ip":
        body["ip"] = obj
    if suppress is not None:
        try:
            body["suppress_recovery"] = int(suppress)
        except (TypeError, ValueError):
            pass
    return (obj_type, obj, _json.dumps(body, separators=(",", ":")))


def violation_wires_from_alert_json(
    line: str, legacy_heavy_hitter_fallback: bool = False
) -> list[tuple[str, str, str]]:
    """Pure-Python per-line twin of the iprepd WriteFn conversion
    (`IprepdIO.java:389-420` + `Violation.java:100-235,344`), for
    EXECUTOR-side emitters that receive alert JSON lines.
    Non-convertible inputs yield [] (ignored, never errors), and:

    - alerts whose metadata carries ``iprepd_exempt == 'true'`` are
      dropped before escalation (`IprepdIO.java:400-403`);
    - the subcategory is routed through the reference's generator map
      (VIOLATION_GENERATOR_MAP): ip violations from source_address,
      email violations one per comma-separated EMAIL address
      (`AlertMeta.META_VALUE_SPLITTER`: split on ',', trimmed), and
      amo_abuse_matched_addon's custom rule — NO violations at all
      when source_address is absent, even if emails are present
      (`Violation.java:145-176`);
    - ``iprepd_suppress_recovery`` metadata rides along as the
      integer suppress_recovery wire field (`Violation.java:90-96`);
    - unknown/missing subcategories produce NO violations by default,
      matching ``Violation.fromAlert`` returning null
      (`IprepdIO.java:405-410`). Pass
      ``legacy_heavy_hitter_fallback=True`` to opt in to the legacy
      ``fxa:heavy_hitter_{category}`` source-address projection
      (violations_from_alerts) for pipelines that key alerts by
      category only.
    """
    import json as _json

    try:
        alert = _json.loads(line)
    except ValueError:
        return []
    if not isinstance(alert, dict):
        return []
    meta = alert.get("metadata") or {}
    if not isinstance(meta, dict):
        return []
    if meta.get("iprepd_exempt") == "true":
        return []
    suppress = meta.get("iprepd_suppress_recovery")
    source = meta.get("source_address")
    emails = [
        e.strip()
        for e in str(meta.get("email") or "").split(",")
        if e.strip()
    ]
    subcat = alert.get("subcategory")
    gens = VIOLATION_GENERATOR_MAP.get(subcat) if subcat else None
    if gens is None:
        if not legacy_heavy_hitter_fallback:
            # reference behavior: no generator for the subcategory ->
            # no iprepd escalation (Violation.fromAlert returns null)
            return []
        # legacy heavy-hitter fallback (pre-generator-map projection)
        category = alert.get("category")
        if not source or not category:
            return []
        return [_violation_wire(
            source, "ip", f"fxa:heavy_hitter_{category}", suppress)]
    if subcat == "amo_abuse_matched_addon" and not source:
        return []
    out: list[tuple[str, str, str]] = []
    for kind, vname in gens:
        if kind == "ip":
            if not source:
                return []
            out.append(_violation_wire(source, "ip", vname, suppress))
        else:
            if not emails and subcat != "amo_abuse_matched_addon":
                return []
            out.extend(
                _violation_wire(e, "email", vname, suppress) for e in emails
            )
    return out


def violation_wire_json(
    violations: DataFrame, suppress_col: str | None = None
) -> Column:
    """The iprepd Violation wire format, byte-exact vs the reference
    (`Violation.java:294-334` + golden `TestAlert.violationToJsonTest`):
    `{"object":...,"type":...,"violation":...,"ip":...}` where `ip` is
    the legacy iprepd-compat field — equal to the object for ip-type
    violations, ABSENT (not null) otherwise, exactly Jackson's
    non-null serialization; `suppress_recovery` (from
    `IprepdIO.addMetadataSuppressRecovery` passthrough,
    `Violation.java:88-96` createViolation) appears only when set.
    Spark's to_json drops null struct fields by default
    (ignoreNullFields), giving the same key-omission semantics; field
    order follows the struct, matching the Java property order."""
    fields = [
        F.col("object").alias("object"),
        F.col("type").alias("type"),
        F.col("violation").alias("violation"),
        F.when(F.col("type") == "ip", F.col("object")).alias("ip"),
    ]
    if suppress_col is not None:
        fields.append(F.col(suppress_col).cast("int").alias("suppress_recovery"))
    return F.to_json(F.struct(*fields))
