"""Output plane: composite sinks for alert streams.

Reference: `OutputOptions.compositeOutput` (`CompositeOutput.java:80-121`)
fans one alert stream out to file / BigQuery / Pub/Sub / SQS / iprepd.
Spark mapping: batch writers for bounded runs; `foreachBatch` for
streaming (each micro-batch fans out to all configured sinks with
exactly-once file semantics from the checkpoint).

External network sinks (iprepd HTTP, SQS, email/Slack) are pluggable
callables that run on the executors, so tests inject stand-ins — the
reference gates these behind IO interfaces the same way
(`IprepdIO.java`, `SqsIO.java`, `alert/AlertSlack.java`).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
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


def _wire_payload(js: DataFrame) -> DataFrame:
    """Alert-JSON `value` frame -> the single binary `data` column the
    streaming connectors publish (Pub/Sub Lite sink contract)."""
    return js.select(F.encode(F.col("value"), "UTF-8").alias("data"))


def alerts_to_wire(alerts: DataFrame) -> DataFrame:
    """Alert rows -> the Pub/Sub Lite `data` column."""
    return _wire_payload(alerts_to_json(alerts))


@dataclass
class CompositeOutput:
    """Fan-out sink config (`CompositeOutput.java:80-121`)."""

    file_path: str | None = None
    # name -> callable(list[str]) receiving alert JSON lines; stands in
    # for pubsub/sqs/iprepd/slack emitters (network IO stubbed per
    # SURVEY §2.1 S11-S14). Emitters run on EXECUTORS via
    # foreachPartition, one call per non-empty partition: an alert
    # storm (the scenario this pipeline exists for) must not funnel an
    # unbounded micro-batch through the driver.
    emitters: dict[str, Callable[[list[str]], None]] = field(default_factory=dict)
    # connector-backed sink legs (BigQuery/Pub/Sub/... SinkSpec):
    # applied to the alert-JSON frame on every batch
    sink_specs: list[SinkSpec] = field(default_factory=list)

    def write_batch(self, alerts: DataFrame) -> None:
        self._fan_out(alerts_to_json(alerts), self.sink_specs)

    def write_lines(self, lines: DataFrame, col: str = "value") -> None:
        """Raw line fan-out (no alert JSON conversion, no sink_specs) —
        the output half of the StreamWriter echo pipeline."""
        self._fan_out(lines.select(F.col(col).alias("value")), [])

    def _fan_out(self, js: DataFrame, sink_specs: list[SinkSpec]) -> None:
        """One string `value` frame -> the file sink, each connector
        leg in its payload projection, then every emitter."""
        if self.file_path:
            js.write.mode("append").text(self.file_path)
        for spec in sink_specs:
            spec.apply(_wire_payload(js) if spec.payload == "data" else js)
        if self.emitters:
            emitters = list(self.emitters.values())

            def emit_partition(rows) -> None:
                lines = [r.value for r in rows]
                if lines:
                    for emit in emitters:
                        emit(lines)

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


def _violation_wire(obj: str, obj_type: str, vname: str,
                    suppress: str | None) -> tuple[str, str, str]:
    """One wire tuple (type, object, json), byte-exact vs the reference
    (`Violation.java:294-334` + golden `TestAlert.violationToJsonTest`):
    Jackson's property order and non-null serialization — the legacy
    iprepd-compat `ip` field equals the object for ip-type violations
    and is ABSENT (not null) otherwise; `suppress_recovery`
    (`Violation.java:88-96` createViolation) appears only when set."""
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


def violation_wires_from_alert_json(line: str) -> list[tuple[str, str, str]]:
    """The iprepd WriteFn conversion (`IprepdIO.java:389-420` +
    `Violation.java:100-235,344`) of one alert JSON line into violation
    wire tuples — what the executor-side `iprepd_violation_emitter`
    PUTs. Non-convertible inputs yield [] (ignored, never errors), and:

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
    - unknown/missing subcategories produce NO violations, matching
      ``Violation.fromAlert`` returning null (`IprepdIO.java:405-410`).
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
        return []
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
