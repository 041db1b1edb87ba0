"""Structured Streaming operators: suppression TTL state, auth state
model, streaming windowed heuristics — driven to completion with
file->memory streams (batch rows through the streaming engine)."""

import os
import shutil
import tempfile
import uuid

from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from foxsec_pipeline_spark.streaming.panes import session_fire_early_panes
from foxsec_pipeline_spark.streaming.state import LOGIN_SCHEMA, auth_state_analyze
from foxsec_pipeline_spark.streaming.suppress import (
    suppress_count_stream,
    suppress_session_stream,
    suppress_stream,
)


def _run_stream(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def _stream_from_rows(spark, rows, schema, tmpdir):
    path = os.path.join(tmpdir, "in")
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)
    return spark.readStream.schema(
        spark.read.parquet(path).schema
    ).parquet(path)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="fxs_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_suppress_stream_first_per_key(spark, tmpdir):
    rows = [
        Row(timestamp=datetime.fromisoformat("2024-01-01 00:00:00"), key="a", n=1),
        Row(timestamp=datetime.fromisoformat("2024-01-01 00:01:00"), key="a", n=2),
        Row(timestamp=datetime.fromisoformat("2024-01-01 00:02:00"), key="b", n=3),
    ]
    src = _stream_from_rows(spark, rows, "timestamp timestamp, key string, n int", tmpdir)
    name = f"sup_{uuid.uuid4().hex[:8]}"
    _run_stream(suppress_stream(src, ["key"], expiry="15 minutes"), name)
    got = {r.key: r.n for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert got == {"a": 1, "b": 3}  # repeat for 'a' suppressed


def test_suppress_count_reemit_on_change(spark, tmpdir):
    rows = [
        Row(timestamp=datetime.fromisoformat("2024-01-01 00:00:00"), key="a", count=5),
        Row(timestamp=datetime.fromisoformat("2024-01-01 00:01:00"), key="a", count=5),
        Row(timestamp=datetime.fromisoformat("2024-01-01 00:02:00"), key="a", count=9),
    ]
    src = _stream_from_rows(
        spark, rows, "timestamp timestamp, key string, count long", tmpdir
    )
    name = f"supc_{uuid.uuid4().hex[:8]}"
    _run_stream(
        suppress_count_stream(src, ["key"], count_col="count", expiry="15 minutes"),
        name,
    )
    got = [r["count"] for r in spark.sql(f"SELECT * FROM {name} ORDER BY timestamp").collect()]
    assert got == [5, 9]  # duplicate 5 suppressed, change to 9 re-emitted


def test_auth_state_known_ip_and_geovelocity(spark, tmpdir):
    logins = [
        # first sighting: info (no prior state)
        Row(identity="u1", timestamp=datetime.fromisoformat("2024-01-01 00:00:00"),
            source_address="1.1.1.1", lat=51.5, lon=-0.12),
        # same ip again: known
        Row(identity="u1", timestamp=datetime.fromisoformat("2024-01-01 01:00:00"),
            source_address="1.1.1.1", lat=51.5, lon=-0.12),
        # new ip, ~343 km away 30 min later (~686 km/h): warn
        Row(identity="u1", timestamp=datetime.fromisoformat("2024-01-01 01:30:00"),
            source_address="2.2.2.2", lat=48.85, lon=2.35),
        # new ip on other side of the world 1 min later: critical
        Row(identity="u1", timestamp=datetime.fromisoformat("2024-01-01 01:31:00"),
            source_address="3.3.3.3", lat=-33.86, lon=151.2),
        # other identity unaffected
        Row(identity="u2", timestamp=datetime.fromisoformat("2024-01-01 00:00:00"),
            source_address="9.9.9.9", lat=0.0, lon=0.0),
    ]
    src = _stream_from_rows(spark, logins, LOGIN_SCHEMA, tmpdir)
    name = f"auth_{uuid.uuid4().hex[:8]}"
    _run_stream(auth_state_analyze(src, max_kmh=800.0), name)
    rows = {
        (r.identity, str(r.timestamp)): r
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert rows[("u1", "2024-01-01 00:00:00")].known_ip is False
    assert rows[("u1", "2024-01-01 00:00:00")].severity == "info"
    assert rows[("u1", "2024-01-01 01:00:00")].known_ip is True
    w = rows[("u1", "2024-01-01 01:30:00")]
    assert w.severity == "warn" and 330 < w.km_from_last < 350
    c = rows[("u1", "2024-01-01 01:31:00")]
    assert c.severity == "critical" and c.kmh > 800
    assert rows[("u2", "2024-01-01 00:00:00")].severity == "info"


def test_auth_state_batch_twin_agrees_on_fixture(spark):
    """The declarative batch twin (auth_state_decision_batch) makes
    the same decisions as the stateful operator on the golden fixture
    above — the duality evidence behind the `auth_state_decision`
    driver-oracle query."""
    from foxsec_pipeline_spark.streaming.state import auth_state_decision_batch

    logins = [
        Row(identity="u1", timestamp=datetime.fromisoformat("2024-01-01 00:00:00"),
            source_address="1.1.1.1", lat=51.5, lon=-0.12, event_id=1),
        Row(identity="u1", timestamp=datetime.fromisoformat("2024-01-01 01:00:00"),
            source_address="1.1.1.1", lat=51.5, lon=-0.12, event_id=2),
        Row(identity="u1", timestamp=datetime.fromisoformat("2024-01-01 01:30:00"),
            source_address="2.2.2.2", lat=48.85, lon=2.35, event_id=3),
        Row(identity="u1", timestamp=datetime.fromisoformat("2024-01-01 01:31:00"),
            source_address="3.3.3.3", lat=-33.86, lon=151.2, event_id=4),
        Row(identity="u2", timestamp=datetime.fromisoformat("2024-01-01 00:00:00"),
            source_address="9.9.9.9", lat=0.0, lon=0.0, event_id=5),
    ]
    out = auth_state_decision_batch(spark.createDataFrame(logins))
    rows = {(r.identity, str(r.timestamp)): r for r in out.collect()}
    assert rows[("u1", "2024-01-01 00:00:00")].known_ip is False
    assert rows[("u1", "2024-01-01 00:00:00")].severity == "info"
    assert rows[("u1", "2024-01-01 01:00:00")].known_ip is True
    assert rows[("u1", "2024-01-01 01:00:00")].severity == "info"
    w = rows[("u1", "2024-01-01 01:30:00")]
    assert w.severity == "warn" and 330 < w.km_from_last < 350
    assert rows[("u1", "2024-01-01 01:31:00")].severity == "critical"
    assert rows[("u2", "2024-01-01 00:00:00")].severity == "info"


def test_streaming_windowed_heuristic_matches_batch(spark, tmpdir):
    """The same session/window plan runs under readStream — batch and
    streaming results agree on final windows (SURVEY §7 hard part 1)."""
    from foxsec_pipeline_spark.session import load_tables

    ev = load_tables(spark, "/root/testdata/sf0.001", "events")["events"]
    path = os.path.join(tmpdir, "ev")
    ev.write.mode("overwrite").parquet(path)
    sev = spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)
    agg = (
        sev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    name = f"w_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.processAllAvailable()
    q.stop()
    stream_rows = {
        (str(r.window_start), r.event_type): r.n
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    batch_rows = {
        (str(r.window_start), r.event_type): r.n
        for r in ev.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
        .collect()
    }
    assert stream_rows == batch_rows


def test_suppress_session_sliding_ttl(spark, tmpdir):
    rows = [
        # key 'a': continuous activity every 10 min — only the first emits
        Row(timestamp=datetime.fromisoformat("2024-01-01 00:00:00"), key="a", n=1),
        Row(timestamp=datetime.fromisoformat("2024-01-01 00:10:00"), key="a", n=2),
        Row(timestamp=datetime.fromisoformat("2024-01-01 00:20:00"), key="a", n=3),
        Row(timestamp=datetime.fromisoformat("2024-01-01 00:25:00"), key="b", n=4),
    ]
    src = _stream_from_rows(spark, rows, "timestamp timestamp, key string, n int", tmpdir)
    name = f"sups_{uuid.uuid4().hex[:8]}"
    _run_stream(suppress_session_stream(src, ["key"], expiry="15 minutes"), name)
    got = {r.key: r.n for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert got == {"a": 1, "b": 4}


@pytest.mark.parametrize(
    "build",
    [
        lambda src: suppress_count_stream(src, ["key"], count_col="n", expiry="1 hour"),
        lambda src: suppress_session_stream(src, ["key"], expiry="1 minute"),
        lambda src: session_fire_early_panes(src, "key", ts_col="timestamp", gap="1 day"),
    ],
    ids=["count_1_hour", "session_1_minute", "panes_1_day"],
)
def test_stateful_operators_take_singular_durations(spark, tmpdir, build):
    """The state TTLs and pane gaps read their duration through
    `windows.duration_micros`, so singular units build a plan."""
    rows = [Row(timestamp=datetime.fromisoformat("2024-01-01 00:00:00"), key="a", n=1)]
    src = _stream_from_rows(spark, rows, "timestamp timestamp, key string, n long", tmpdir)
    assert build(src).isStreaming


def test_streaming_session_window_synthetic_rows(spark, tmpdir):
    """W5-W8: session_window under readStream produces the same final
    sessions as batch (gap merging happens in the streaming state
    operator; complete output = final windows)."""
    rows = [
        Row(ts=datetime.fromisoformat(t), k=k)
        for t, k in [
            ("2024-01-01 00:00:00", "a"),
            ("2024-01-01 00:10:00", "a"),   # same session (gap 30m)
            ("2024-01-01 01:00:00", "a"),   # new session
            ("2024-01-01 00:05:00", "b"),
        ]
    ]
    src = _stream_from_rows(spark, rows, "ts timestamp, k string", tmpdir)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("s"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("k", F.col("s.start").alias("start"), "n")
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.processAllAvailable()
    q.stop()
    got = {(r.k, str(r.start)): r.n for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert got == {
        ("a", "2024-01-01 00:00:00"): 2,
        ("a", "2024-01-01 01:00:00"): 1,
        ("b", "2024-01-01 00:05:00"): 1,
    }


def test_streaming_heuristic_with_suppression_composed(spark, tmpdir):
    """SURVEY §7.5: heuristic -> alert -> keyed suppression composed in
    one streaming query. Two windows fire for the same key; the
    suppressor emits only the first within the expiry horizon."""
    from foxsec_pipeline_spark.streaming.suppress import suppress_stream

    rows = [
        # window 00:00: 3 errors for key a -> alert
        Row(ts=datetime.fromisoformat("2024-01-01 00:00:10"), k="a"),
        Row(ts=datetime.fromisoformat("2024-01-01 00:00:20"), k="a"),
        Row(ts=datetime.fromisoformat("2024-01-01 00:00:30"), k="a"),
        # window 00:01: 3 more errors for key a -> alert, suppressed
        Row(ts=datetime.fromisoformat("2024-01-01 00:01:10"), k="a"),
        Row(ts=datetime.fromisoformat("2024-01-01 00:01:20"), k="a"),
        Row(ts=datetime.fromisoformat("2024-01-01 00:01:30"), k="a"),
        # advance the watermark far enough to close both windows
        Row(ts=datetime.fromisoformat("2024-01-01 01:00:00"), k="z"),
    ]
    src = _stream_from_rows(spark, rows, "ts timestamp, k string", tmpdir)
    hits = (
        src.withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "1 minute").alias("w"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 3)
        .select(F.col("w.start").alias("timestamp"), "k", "n")
    )
    # Stage 1: heuristic -> alert rows -> durable sink. The suppressor
    # CANNOT chain into the same query: an append-mode agg emits a
    # window only once the watermark passed it, so its output rows are
    # definitionally behind the watermark — a downstream
    # dropDuplicatesWithinWatermark would drop them all as late. The
    # reference stages alert production and suppression as separate
    # pipeline steps for the same reason; here stage 2 streams the
    # alert sink.
    alert_dir = os.path.join(tmpdir, "alerts")
    ck1 = os.path.join(tmpdir, "ck1")
    q = (
        hits.writeStream.format("parquet")
        .option("path", alert_dir).option("checkpointLocation", ck1)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.processAllAvailable()
    q.stop()

    alerts = spark.readStream.schema("timestamp timestamp, k string, n long").parquet(
        alert_dir
    )
    suppressed = suppress_stream(alerts, ["k"], expiry="2 hours", ts_col="timestamp")
    name = f"comp_{uuid.uuid4().hex[:8]}"
    q = (
        suppressed.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.processAllAvailable()
    q.stop()
    got = [(r.k, str(r.timestamp)) for r in spark.sql(f"SELECT * FROM {name}").collect()]
    # both 1-min windows alerted for 'a'; the suppressor emits exactly one
    assert len(got) == 1 and got[0][0] == "a"


def test_etd_suppression_streaming_matches_batch(spark, tmpdir):
    """The round-2 ETD leg runs under Structured Streaming: ignore
    regexes + severity mapping are plain column exprs (stream-safe),
    and SuppressAlerts becomes the keyed-TTL suppress_stream. On a
    fixture whose repeats fall inside one suppression window the
    streaming TTL and the batch tumbling-window rn=1 agree exactly
    (the general divergence — TTL-from-first vs window boundary — is
    the documented T1 semantics difference)."""
    from foxsec_pipeline_spark.operators.detectors import etd_finding_alerts

    rows = [
        Row(ts=datetime.fromisoformat("2024-01-01 00:00:00"),
            rule_name="iam_anomalous_grant", technique="t1", indicator="audit",
            project_number="p1"),
        Row(ts=datetime.fromisoformat("2024-01-01 00:05:00"),  # suppressed dup
            rule_name="iam_anomalous_grant", technique="t1", indicator="audit",
            project_number="p1"),
        Row(ts=datetime.fromisoformat("2024-01-01 00:06:00"),  # ignored rule
            rule_name="noisy_scanner", technique="t1", indicator="audit",
            project_number="p1"),
        Row(ts=datetime.fromisoformat("2024-01-01 00:07:00"),  # low severity
            rule_name="other_rule", technique="t2", indicator="audit",
            project_number="p2"),
    ]
    schema = ("ts timestamp, rule_name string, technique string, "
              "indicator string, project_number string")

    batch = etd_finding_alerts(
        spark.createDataFrame(rows, schema),
        ignore_rule_regexes=["noisy_.*"], high_rule_regexes=["iam_.*"],
        suppress_window="1 hour",
    ).collect()

    src = _stream_from_rows(spark, rows, schema, tmpdir)
    filt = src.where(~F.coalesce(F.col("rule_name"), F.lit("")).rlike("noisy_.*"))
    mapped = (
        filt.withColumn(
            "handling_severity",
            F.when(F.col("rule_name").rlike("iam_.*"), "high").otherwise("low"),
        )
        .withColumn("severity", F.lit("critical"))
        .withColumn("category", F.lit("gatekeeper:gcp"))
        .withColumnRenamed("ts", "timestamp")
    )
    streamed = suppress_stream(
        mapped,
        ["project_number", "rule_name", "technique", "indicator"],
        expiry="1 hour",
    )
    name = f"etd_{uuid.uuid4().hex[:8]}"
    _run_stream(streamed, name)
    got = spark.sql(f"SELECT * FROM {name}").collect()

    key = lambda r: (r.project_number, r.rule_name, r.technique, r.indicator,
                     r.handling_severity)
    assert {key(r) for r in batch} == {key(r) for r in got}
    assert len(batch) == len(got) == 2


def test_streaming_aws_behavior_matches_batch(spark, tmpdir):
    """AwsBehavior parity under readStream: the matcher fan-out is a
    stateless projection+explode, so the same plan runs append-mode on
    a stream and must emit exactly the batch rows (the reference runs
    its Matcher transforms over streaming input natively)."""
    from foxsec_pipeline_spark.operators.detectors import aws_behavior_match

    matchers = [
        {"description": "console login without mfa",
         "fields": [["event_name", "ConsoleLogin"], ["mfa", "false"]],
         "resource": "user_name"},
        {"description": "access key created",
         "fields": [["event_name", "CreateAccessKey"]],
         "resource": "user_name"},
    ]
    rows = [
        Row(ts=datetime.fromisoformat("2024-01-01 00:00:00"), event_id=1,
            user_name="u1", event_name="ConsoleLogin", mfa="false"),
        Row(ts=datetime.fromisoformat("2024-01-01 00:01:00"), event_id=2,
            user_name="u2", event_name="ConsoleLogin", mfa="true"),
        Row(ts=datetime.fromisoformat("2024-01-01 00:02:00"), event_id=3,
            user_name="u3", event_name="CreateAccessKey", mfa="false"),
        Row(ts=datetime.fromisoformat("2024-01-01 00:03:00"), event_id=4,
            user_name="u4", event_name="DescribeInstances", mfa="false"),
    ]
    schema = ("ts timestamp, event_id int, user_name string, "
              "event_name string, mfa string")
    field_cols = {"event_name": "event_name", "mfa": "mfa",
                  "user_name": "user_name"}
    src = _stream_from_rows(spark, rows, schema, tmpdir)
    name = f"awsb_{uuid.uuid4().hex[:8]}"
    _run_stream(aws_behavior_match(src, matchers, field_cols), name)
    key = lambda r: (r.event_id, r.matcher_description, r.matched_resource)
    got = {key(r) for r in spark.sql(f"SELECT * FROM {name}").collect()}
    batch = {
        key(r)
        for r in aws_behavior_match(
            spark.createDataFrame(rows, schema), matchers, field_cols
        ).collect()
    }
    assert got == batch
    assert len(got) == 2  # u1 no-mfa login, u3 access key


def test_streaming_amo_multi_submit_matches_batch(spark, tmpdir):
    """AMO AddonMultiSubmit parity under readStream: distinct
    (rounded-size, email) + grouped count runs as a streaming
    aggregation in complete mode and must agree with the batch twin on
    the same input (AddonMultiSubmit.java's windowed combiner)."""
    from foxsec_pipeline_spark.operators.detectors import addon_multi_submit

    rows = (
        # size bucket 10000: 5 distinct submitters (one duplicated row)
        [Row(ts=datetime.fromisoformat("2024-01-01 00:00:00"),
             email=f"u{i}@x", bytes=4_000 + i) for i in range(5)]
        + [Row(ts=datetime.fromisoformat("2024-01-01 00:05:00"),
               email="u0@x", bytes=4_000)]
        # size bucket 20000: only 2 submitters -> below threshold
        + [Row(ts=datetime.fromisoformat("2024-01-01 00:06:00"),
               email=f"v{i}@x", bytes=15_000) for i in range(2)]
        # under min_bytes: ignored
        + [Row(ts=datetime.fromisoformat("2024-01-01 00:07:00"),
               email="w@x", bytes=2_000)]
    )
    schema = "ts timestamp, email string, bytes long"
    src = _stream_from_rows(spark, rows, schema, tmpdir)
    agg = addon_multi_submit(src, min_bytes=3000, alert_on=5)
    name = f"amoms_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.processAllAvailable()
    q.stop()
    key = lambda r: (r.rounded_size, r.n_submitters, r.emails, r.subcategory)
    got = {key(r) for r in spark.sql(f"SELECT * FROM {name}").collect()}
    batch = {
        key(r)
        for r in addon_multi_submit(
            spark.createDataFrame(rows, schema), min_bytes=3000, alert_on=5
        ).collect()
    }
    assert got == batch
    assert len(got) == 1 and next(iter(got))[1] == 5


def test_streaming_update_mode_early_panes(spark, tmpdir):
    """W2 latency parity: Beam's early-firing ACCUMULATING panes
    (CustomsWindow.java:26-37 — emit partial counts before the
    watermark closes the window) map to Spark's update output mode,
    where each micro-batch re-emits the updated per-window aggregate.
    With maxFilesPerTrigger=1 the memory sink records the pane
    HISTORY: a window must appear more than once with non-decreasing
    counts, and the last pane must equal the batch (final-window)
    result — early visibility without changing the final answer."""
    path = os.path.join(tmpdir, "in")
    rows1 = [Row(ts=datetime.fromisoformat("2024-01-01 00:01:00"), k="a")] * 3
    rows2 = [Row(ts=datetime.fromisoformat("2024-01-01 00:02:00"), k="a")] * 2
    schema = "ts timestamp, k string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    src = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    agg = (
        src.groupBy(F.window("ts", "10 minutes"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "k", "n")
    )
    name = f"panes_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.processAllAvailable()
    q.stop()
    panes = [
        r.n for r in spark.sql(
            f"SELECT n FROM {name} ORDER BY n"
        ).collect()
    ]
    # accumulating pane history: an early partial pane AND the final
    assert len(panes) >= 2, panes
    assert panes == sorted(panes)
    assert panes[-1] == 5  # final pane == batch total for the window


def test_stream_stream_interval_join_matches_batch(spark, tmpdir):
    """Stream-stream self-join with watermarks + a time-range condition
    (the streaming twin of the batch bucketized interval join): every
    (error, click-within-30min) pair the batch non-equi join produces
    must come out of the streaming join, exactly once. Watermarks on
    BOTH sides plus the range condition bound the join state — without
    them Spark would buffer both streams forever."""
    from foxsec_pipeline_spark.session import load_tables

    ev = load_tables(spark, "/root/testdata/sf0.001", "events")["events"]
    path = os.path.join(tmpdir, "ssj")
    ev.write.mode("overwrite").parquet(path)
    sev = spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)
    errors = (
        sev.where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("e_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    clicks = (
        sev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = errors.join(
        clicks,
        (F.col("e_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts"))
        & (F.col("c_ts") < F.col("e_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("e_id", "c_id")
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.processAllAvailable()
    q.stop()
    stream_pairs = {
        (r.e_id, r.c_id) for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    e_b = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    )
    c_b = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    batch_pairs = {
        (r.e_id, r.c_id)
        for r in e_b.join(
            c_b,
            (F.col("e_user") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("e_ts"))
            & (F.col("c_ts") < F.col("e_ts") + F.expr("INTERVAL 30 MINUTES")),
        ).select("e_id", "c_id").collect()
    }
    assert batch_pairs, "fixture produced no (error, click) pairs"
    assert stream_pairs == batch_pairs


def test_streaming_session_window_matches_batch(spark, tmpdir):
    """W5-W8 under readStream: F.session_window gap-sessionization in
    a streaming aggregation agrees with the batch session plan on
    final (watermark-closed) sessions — the streaming half of the
    session-window evidence (`session_analysis` is the batch half)."""
    from foxsec_pipeline_spark.session import load_tables

    ev = load_tables(spark, "/root/testdata/sf0.001", "events")["events"]
    path = os.path.join(tmpdir, "ev")
    ev.write.mode("overwrite").parquet(path)
    sev = spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)

    def sessions(df):
        return (
            df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                # distinct aggs are unsupported in streaming — use a
                # deterministic additive stat instead
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
            )
            .select(
                F.col("session_window.start").alias("session_start"),
                "user_id", "n_events", "cents",
            )
        )

    name = f"sw_{uuid.uuid4().hex[:8]}"
    q = (
        sessions(sev.withWatermark("ts", "1 hour"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.processAllAvailable()
    q.stop()
    stream_rows = {
        (str(r.session_start), r.user_id): (r.n_events, r.cents)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    batch_rows = {
        (str(r.session_start), r.user_id): (r.n_events, r.cents)
        for r in sessions(ev).collect()
    }
    assert stream_rows == batch_rows and len(batch_rows) > 0
