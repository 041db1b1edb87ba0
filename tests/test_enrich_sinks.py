"""GeoIP enrichment plumbing, prefilter splitting, and the output
plane (composite sink fan-out + iprepd violation mapping)."""

import glob
import os
import tempfile
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from foxsec_pipeline_spark.alert.model import to_alerts
from foxsec_pipeline_spark.functions.geoip import enrich_geoip
from foxsec_pipeline_spark.sinks.output import CompositeOutput
from tests.conftest import alert_violation_wires


def _file_emitter(out_dir):
    """An emitter that shows its executor-side calls through the
    filesystem (executor closures can't mutate driver state): each call
    writes its lines to a fresh file under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)

    def emit(lines):
        with open(os.path.join(out_dir, f"{uuid.uuid4().hex}.jsonl"), "w") as fh:
            fh.write("\n".join(lines) + "\n")

    return emit


def _emitted(out_dir):
    """Every line the `_file_emitter` calls wrote under `out_dir`."""
    lines = []
    for p in glob.glob(os.path.join(out_dir, "*.jsonl")):
        with open(p) as fh:
            lines += [ln for ln in fh.read().splitlines() if ln]
    return lines


def test_enrich_geoip_deterministic_fake(spark):
    df = spark.createDataFrame(
        [Row(id=1, source_address="10.0.0.1"),
         Row(id=2, source_address="203.0.113.9"),
         Row(id=3, source_address="not-an-ip")],
    )
    out = {r.id: r for r in enrich_geoip(df).collect()}
    assert out[1].geo_city is not None and out[1].geo_isp is not None
    assert -90 <= out[1].geo_lat <= 90 and -180 <= out[1].geo_lon <= 180
    # deterministic: same input -> same value
    again = {r.id: r for r in enrich_geoip(df).collect()}
    assert out[1].geo_lat == again[1].geo_lat
    # unparseable address -> nulls, no crash (GeoIP.java returns null)
    assert out[3].geo_lat is None and out[3].geo_city is None


def test_enrich_geoip_real_mmdb_reference_parity(spark):
    """If the `maxminddb` lib is available, run the SAME mapInPandas
    plumbing against the reference's MaxMind test databases and assert
    the documented lookups (`parser/ParserTest.java:264-337`:
    216.160.83.56 -> Milton / US / Century Link). Skip-marked where the
    lib is absent — the deterministic fake covers the plumbing there."""
    import pytest

    city = "/root/reference/src/test/resources/testdata/GeoIP2-City-Test.mmdb"
    isp = "/root/reference/src/test/resources/testdata/GeoIP2-ISP-Test.mmdb"
    try:
        import maxminddb  # noqa: F401
    except ImportError:
        pytest.skip("maxminddb not installed in this container")
    if not (os.path.isfile(city) and os.path.isfile(isp)):
        pytest.skip("reference mmdb test databases not available")
    df = spark.createDataFrame(
        [Row(id=1, source_address="216.160.83.56"),
         Row(id=2, source_address="10.0.0.1")],  # private: not in test db
    )
    out = {
        r.id: r
        for r in enrich_geoip(df, mmdb_path=city, isp_mmdb_path=isp).collect()
    }
    assert out[1].geo_city == "Milton"
    assert out[1].geo_country == "US"
    assert out[1].geo_isp == "Century Link"
    assert out[1].geo_lat is not None and out[1].geo_lon is not None
    assert out[2].geo_city is None


def test_geoip_after_filter_is_deferred(spark):
    """Deferred-resolution parity (ParserCfg.deferGeoIpResolution):
    enrichment placed after the filter never evaluates for dropped
    rows — the plan's mapInPandas input is the filtered relation."""
    df = spark.createDataFrame(
        [Row(id=i, source_address=f"10.0.0.{i}") for i in range(10)]
    )
    out = enrich_geoip(df.where(F.col("id") < 2))
    assert out.count() == 2


def test_prefilter_split_reuses_one_scan(spark):
    """P9 CustomsPreFilter: three filtered legs off one parsed
    DataFrame (`customs/CustomsPreFilter.java`, `Customs.java:618-631`)
    — Spark reuses the cached scan instead of a TupleTag demux."""
    df = spark.createDataFrame(
        [Row(t="fxaauth", v=1), Row(t="relay", v=2), Row(t="content", v=3),
         Row(t="fxaauth", v=4)]
    ).cache()
    legs = {
        name: df.where(F.col("t") == name)
        for name in ("fxaauth", "relay", "content")
    }
    assert legs["fxaauth"].count() == 2
    assert legs["relay"].count() == 1
    assert legs["content"].count() == 1
    df.unpersist()


def test_composite_output_fanout_and_violations(spark):
    hits = spark.createDataFrame(
        [Row(window_start="2024-01-01 00:00:00", source_address="1.2.3.4", n=9)]
    ).withColumn("window_start", F.col("window_start").cast("timestamp"))
    alerts = to_alerts(
        hits, category="httprequest", subcategory="hard_limit", severity="warn",
        summary=F.concat(F.lit("limit exceeded from "), F.col("source_address")),
        metadata_cols=["source_address", "n"],
    )
    with tempfile.TemporaryDirectory() as d:
        sink = CompositeOutput(
            file_path=os.path.join(d, "alerts"),
            emitters={"files": _file_emitter(os.path.join(d, "emitted"))},
        )
        sink.write_batch(alerts)
        files = [
            os.path.join(d, "alerts", f)
            for f in os.listdir(os.path.join(d, "alerts"))
            if f.endswith(".txt") or f.startswith("part-")
        ]
        assert files, "file sink wrote no part files"
        got = _emitted(os.path.join(d, "emitted"))
    assert len(got) == 1 and "httprequest" in got[0]

    # the violation the iprepd emitter would PUT for that alert
    v = alert_violation_wires(
        hits.select(
            F.lit("httprequest").alias("category"),
            F.lit("hard_limit").alias("subcategory"),
            "source_address",
            "n",
        )
    )
    assert [(t, obj, name) for _, t, obj, name, _ in v] == [
        ("ip", "1.2.3.4", "hard_limit_violation")
    ]


def test_emitters_run_on_executors_by_default(spark, tmp_path):
    """Emitters run through foreachPartition (executor-side): an alert
    storm must not funnel through a driver collect (sinks/output.py;
    the reference emits from workers too)."""
    hits = spark.createDataFrame(
        [Row(window_start="2024-01-01 00:00:00", source_address=f"10.0.0.{i}", n=i)
         for i in range(50)]
    ).withColumn("window_start", F.col("window_start").cast("timestamp"))
    alerts = to_alerts(
        hits, category="httprequest", severity="warn",
        summary=F.col("source_address"), metadata_cols=["source_address", "n"],
    )
    out_dir = str(tmp_path / "emitted")
    sink = CompositeOutput(emitters={"files": _file_emitter(out_dir)})
    sink.write_batch(alerts)
    emitted = _emitted(out_dir)
    assert len(emitted) == 50
    assert all("httprequest" in ln for ln in emitted)


def test_multiplex_read_parsed(spark, tmp_path):
    """S6/S7 multiplex: two named elements, per-element parser cfg,
    one unioned events DataFrame with resource tags
    (`input/Input.java:343-460`)."""
    import json

    from foxsec_pipeline_spark.sources.input import InputElement, InputSpec
    from foxsec_pipeline_spark.parser.parse import ParserCfg

    glb = json.dumps(
        {
            "timestamp": "1970-01-01T00:00:30.000Z",
            "resource": {"labels": {"project_id": "p1"}},
            "jsonPayload": {"@type": "type.googleapis.com/google.cloud"
                            ".loadbalancing.type.LoadBalancerLogEntry"},
            "httpRequest": {
                "remoteIp": "1.1.1.1", "requestMethod": "GET",
                "requestUrl": "https://a.example.com/x", "status": 200,
                "userAgent": "ua",
            },
        }
    )
    ssh = ("Jan  1 00:02:00 host sshd[7]: Accepted publickey for x "
           "from 9.9.9.9 port 22 ssh2")
    d1 = tmp_path / "glb"; d1.mkdir(); (d1 / "a.txt").write_text(glb + "\n")
    d2 = tmp_path / "ssh"; d2.mkdir(); (d2 / "b.txt").write_text(ssh + "\n")
    spec = InputSpec(
        elements=[
            InputElement(name="web", path=str(d1),
                         parser_cfg=ParserCfg(fast_matcher="httpRequest")),
            InputElement(name="bastion", path=str(d2)),
        ]
    )
    rows = {r.resource: r for r in spec.read_parsed(spark).collect()}
    assert set(rows) == {"web", "bastion"}
    assert rows["web"].payload_type == "glb"
    assert rows["web"].source_address == "1.1.1.1"
    assert rows["bastion"].payload_type == "openssh"
    assert rows["bastion"].subject_user == "x"
    # reference mapping: hostname as object, auth method as a field
    assert rows["bastion"].object == "host"
    assert rows["bastion"].fields["auth_method"] == "publickey"


def test_notify_merge_windowed(spark):
    """S14 AlertIO notify-merge: alerts sharing a merge key within a
    window collapse to one notification (`alert/AlertIO.java:116-143`)."""
    from datetime import datetime

    from foxsec_pipeline_spark.alert.model import merge_for_notification

    alerts = spark.createDataFrame(
        [
            Row(alert_id="a1", timestamp=datetime(2024, 1, 1, 0, 0, 10),
                summary="s1", notify_merge="ip-1.2.3.4"),
            Row(alert_id="a2", timestamp=datetime(2024, 1, 1, 0, 1, 0),
                summary="s2", notify_merge="ip-1.2.3.4"),
            Row(alert_id="a3", timestamp=datetime(2024, 1, 1, 0, 0, 30),
                summary="s3", notify_merge=None),
        ]
    )
    out = merge_for_notification(alerts, window="5 minutes").collect()
    merged = [r for r in out if r.notify_merge == "ip-1.2.3.4"]
    passthrough = [r for r in out if r.notify_merge is None]
    assert len(merged) == 1 and merged[0].n_alerts == 2
    # reference format (TestAlertMerge golden): survivor summary +
    # ' (N-1 similar alerts)', merged-count metadata only when merged
    assert merged[0].summary == "s1 (1 similar alerts)"
    assert merged[0].notify_merged_count == 2
    assert len(passthrough) == 1 and passthrough[0].n_alerts == 1
    assert passthrough[0].notify_merged_count is None


def test_enrich_hostname_stub(spark):
    from foxsec_pipeline_spark.functions.enrich import enrich_hostname

    df = spark.createDataFrame([Row(id=1, ip="8.8.8.8"), Row(id=2, ip="9.9.9.9")])
    out = {r.id: r.hostname for r in enrich_hostname(df, "ip").collect()}
    assert out[1].endswith(".example.net") and out[1] != out[2]
    gated = enrich_hostname(df, "ip", match_regex="^host-").count()
    assert gated == 2


def test_composite_output_stream_writer(spark, tmp_path):
    """S9/S11 streaming: alerts stream -> foreachBatch composite sink
    (file + collector emitter), exactly-once per checkpoint."""
    import json as _json
    from datetime import datetime

    from foxsec_pipeline_spark.alert.model import to_alerts

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "a.jsonl").write_text(
        "\n".join(
            _json.dumps({"ws": "2024-01-01 00:00:00", "ip": f"10.0.0.{i}", "n": i})
            for i in range(3)
        )
    )
    raw = (
        spark.readStream.schema("ws string, ip string, n long")
        .json(str(src_dir))
        .withColumn("ws", F.col("ws").cast("timestamp"))
    )
    alerts = to_alerts(
        raw, category="httprequest", severity="warn",
        summary=F.col("ip"), timestamp_col="ws", metadata_cols=["ip", "n"],
    )
    sink = CompositeOutput(
        file_path=str(tmp_path / "out"),
        emitters={"files": _file_emitter(str(tmp_path / "emitted"))},
    )
    q = sink.stream_writer(alerts, checkpoint=str(tmp_path / "ckpt")).trigger(
        availableNow=True
    ).start()
    q.processAllAvailable()
    q.stop()
    assert len(_emitted(str(tmp_path / "emitted"))) == 3
    texts = spark.read.text(str(tmp_path / "out")).count()
    assert texts == 3


def test_file_read_lines_and_stream_writer(spark, tmp_path):
    """FileUtil.fileReadLines (`FileUtil.java:20-56`): comment lines
    skipped, empty path and unreadable path raise; gs:// routes
    through the fetch seam. StreamWriter
    (`streamwriter/StreamWriter.java:17-30`): composite input echoes
    to composite output untransformed."""
    import pytest

    from foxsec_pipeline_spark.sinks.output import CompositeOutput
    from foxsec_pipeline_spark.sources.input import (
        InputElement,
        InputSpec,
        file_read_lines,
        stream_writer,
    )

    p = tmp_path / "blocklist.txt"
    p.write_text("# comment\npattern-one\n# another\npattern-two\n")
    assert file_read_lines(str(p)) == ["pattern-one", "pattern-two"]
    with pytest.raises(OSError):
        file_read_lines("")
    with pytest.raises(OSError):
        file_read_lines(str(tmp_path / "missing.txt"))
    with pytest.raises(OSError):
        file_read_lines("gs://bucket/obj")
    assert file_read_lines(
        "gs://bucket/obj", gcs_fetch=lambda u: "# c\nx\ny"
    ) == ["x", "y"]

    out = CompositeOutput(
        emitters={"files": _file_emitter(str(tmp_path / "emitted"))}
    )
    stream_writer(
        spark, InputSpec([InputElement("default", path=str(p))]), out
    )
    assert sorted(_emitted(str(tmp_path / "emitted"))) == sorted(
        ["# comment", "pattern-one", "# another", "pattern-two"]
    )


def test_interpret_secret_dispatch():
    """RuntimeSecrets.interpretSecret
    (`crypto/RuntimeSecrets.java:113-128`): literal pass-through,
    gs:// resolve-then-maybe-decrypt chaining, cloudkms:// decrypt,
    and hard errors when a prefix's backend seam is absent."""
    import pytest

    from foxsec_pipeline_spark.sinks.output import interpret_secret

    assert interpret_secret("plain-secret") == "plain-secret"
    assert interpret_secret(
        "cloudkms://CIPHER", kms_decrypt=lambda c: f"dec({c})"
    ) == "dec(CIPHER)"
    # gs:// content that is itself a kms payload chains both seams
    assert interpret_secret(
        "gs://bucket/secret",
        gcs_fetch=lambda u: "cloudkms://X",
        kms_decrypt=lambda c: "plaintext",
    ) == "plaintext"
    with pytest.raises(OSError):
        interpret_secret("gs://bucket/secret")
    with pytest.raises(OSError):
        interpret_secret("cloudkms://X")


# ---------- live-connector option wiring (round 7, S2/S3/S10-S12) ----------

def test_kinesis_input_element_config():
    """KinesisInput.fromInputSpecifier (`KinesisInput.java:89-107`):
    the streamname:id:secret:region spec becomes a configured
    streaming element with the connector option names and the
    reference's LATEST initial position; bad specs are config errors;
    RuntimeSecrets wrapping resolves through the same seams as the
    sink side."""
    from foxsec_pipeline_spark.sources.input import kinesis_input_element

    el = kinesis_input_element("etd", "mystream:AKIA:s3cret:us-west-2")
    assert el.fmt == "kinesis" and el.path is None
    assert el.options == {
        "streamName": "mystream",
        "awsAccessKeyId": "AKIA",
        "awsSecretKey": "s3cret",
        "endpointUrl": "https://kinesis.us-west-2.amazonaws.com",
        "startingposition": "LATEST",
    }
    with pytest.raises(ValueError):
        kinesis_input_element("etd", "only:three:parts")
    el = kinesis_input_element(
        "etd", "cloudkms://abc",
        kms_decrypt=lambda c: "s:i:k:eu-west-1",
    )
    assert el.options["streamName"] == "s"
    assert el.options["endpointUrl"].endswith("eu-west-1.amazonaws.com")


def test_pubsub_input_element_config():
    from foxsec_pipeline_spark.sources.input import pubsub_input_element

    sub = "projects/p/locations/us-central1-a/subscriptions/alerts"
    el = pubsub_input_element("authprof", sub)
    assert el.fmt == "pubsublite"
    assert el.options == {"pubsublite.subscription.path": sub}
    with pytest.raises(ValueError):
        pubsub_input_element("authprof", "alerts")


def test_stream_raw_projection_splits_records(spark):
    """The connector raw projection (`KinesisInput.java:66-74`: each
    record splits on newlines into individual events): feed the
    connectors' (data binary) column layout through the same
    projection InputElement.read applies."""
    from foxsec_pipeline_spark.sources.input import _RAW_PROJECTIONS

    df = spark.createDataFrame(
        [(bytearray(b"line1\nline2\r\nline3"),), (bytearray(b"solo"),)],
        "data binary",
    )
    for fmt in ("kinesis", "aws-kinesis", "pubsublite"):
        got = sorted(
            r.value for r in _RAW_PROJECTIONS[fmt](df).collect()
        )
        assert got == ["line1", "line2", "line3", "solo"]


def test_bigquery_and_pubsub_sink_specs():
    from foxsec_pipeline_spark.sinks.output import (
        bigquery_sink_spec,
        pubsub_sink_spec,
    )

    bq = bigquery_sink_spec("proj.foxsec.alerts")
    assert bq.format == "bigquery" and bq.mode == "append"
    assert bq.options["table"] == "proj.foxsec.alerts"
    with pytest.raises(ValueError):
        bigquery_sink_spec("no_dataset_sep")
    ps = pubsub_sink_spec("projects/p/locations/l/topics/t")
    assert ps.format == "pubsublite"
    assert ps.options["pubsublite.topic.path"].endswith("/topics/t")
    with pytest.raises(ValueError):
        pubsub_sink_spec("t")


def test_sqs_sink_config_resolves_spec():
    from foxsec_pipeline_spark.sinks.output import sqs_sink_config

    cfg = sqs_sink_config(
        "https://sqs.us-east-1.amazonaws.com/1/q:KEY:SECRET:us-east-1"
    )
    assert cfg == {
        "queue_url": "https://sqs.us-east-1.amazonaws.com/1/q",
        "aws_access_key_id": "KEY",
        "aws_secret_access_key": "SECRET",
        "region_name": "us-east-1",
    }
    with pytest.raises(ValueError):
        sqs_sink_config("bad spec")


def test_sink_spec_apply_executes(spark, tmp_path):
    """SinkSpec.apply is a real write path (proved with a built-in
    format); connector formats differ only by the registered name."""
    from foxsec_pipeline_spark.sinks.output import SinkSpec, alerts_to_wire

    df = spark.createDataFrame([("a",), ("b",)], "value string")
    spec = SinkSpec(format="parquet", path=str(tmp_path / "out"))
    spec.apply(df)
    assert sorted(
        r.value for r in spark.read.parquet(str(tmp_path / "out")).collect()
    ) == ["a", "b"]
    # wire projection: alert json -> single binary `data` column
    hits = spark.createDataFrame(
        [Row(window_start="2024-01-01 00:00:00", source_address="1.2.3.4")]
    ).withColumn("window_start", F.col("window_start").cast("timestamp"))
    alerts = to_alerts(
        hits, category="httprequest", severity="warn",
        summary=F.lit("s"), metadata_cols=["source_address"],
    )
    wire = alerts_to_wire(alerts)
    assert wire.columns == ["data"]
    assert wire.schema["data"].dataType.simpleString() == "binary"


def test_composite_output_payload_projection(spark, tmp_path):
    """write_batch routes each SinkSpec its declared payload: `data`
    legs (the Pub/Sub Lite publish contract) get the binary wire
    column, `value` legs get the JSON string frame."""
    from foxsec_pipeline_spark.sinks.output import (
        CompositeOutput,
        SinkSpec,
        pubsub_sink_spec,
    )

    assert pubsub_sink_spec("projects/p/locations/l/topics/t").payload == "data"

    hits = spark.createDataFrame(
        [Row(window_start="2024-01-01 00:00:00", source_address="1.2.3.4")]
    ).withColumn("window_start", F.col("window_start").cast("timestamp"))
    alerts = to_alerts(
        hits, category="httprequest", severity="warn",
        summary=F.lit("s"), metadata_cols=["source_address"],
    )
    out = CompositeOutput(sink_specs=[
        SinkSpec(format="parquet", path=str(tmp_path / "wire"),
                 payload="data"),
        SinkSpec(format="parquet", path=str(tmp_path / "json")),
    ])
    out.write_batch(alerts)
    wire = spark.read.parquet(str(tmp_path / "wire"))
    assert wire.columns == ["data"]
    assert wire.schema["data"].dataType.simpleString() == "binary"
    js = spark.read.parquet(str(tmp_path / "json"))
    assert js.columns == ["value"]
    [w] = wire.collect()
    [j] = js.collect()
    assert bytes(w.data).decode("utf-8") == j.value
