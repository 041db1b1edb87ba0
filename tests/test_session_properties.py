"""Property test: the row-level `sessionize` (lag/cumsum) and Spark's
`session_window` grouping assign identical sessions — the duality the
sessionized DuckDB oracles rely on — and both read their gap through
the one duration parser, `windows.duration_micros`. Every spelling it
accepts also builds a Spark window and watermark (`spark_interval`),
and `windowed_agg` returns the rows of the hand-written
`groupBy(window(...))` form it replaced."""

import re
from datetime import timedelta

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from foxsec_pipeline_spark.alert.model import (
    merge_for_notification,
    suppress_first_per_key,
)
from foxsec_pipeline_spark.operators import session_analysis
from foxsec_pipeline_spark.operators.customs import sessionize
from foxsec_pipeline_spark.operators.windows import (
    beam_session_gap,
    duration_micros,
    gap_session,
    spark_interval,
    time_window,
    windowed_agg,
    windowed_counts,
)
from foxsec_pipeline_spark.streaming.suppress import suppress_stream

MIN, HOUR, DAY = 60_000_000, 3_600_000_000, 86_400_000_000

# the spellings each duration consumer accepts, with their spans
DURATIONS = [
    # session_window gaps (windows.gap_session): compound,
    # decimal, any case, nine units singular or plural, space optional
    ("45 minutes", 45 * MIN), ("1 minute", MIN), ("90min", 90 * MIN),
    ("5 mins", 5 * MIN), ("1 hour 30 minutes", 90 * MIN),
    ("1.5 hours", 3 * HOUR // 2), ("0.5 sec", 500_000), ("120 secs", 120_000_000),
    ("1 week", 7 * DAY), ("2 weeks", 14 * DAY), ("1 HOUR", HOUR),
    ("250 milliseconds", 250_000), ("1 millisecond", 1_000),
    ("7 microseconds", 7), ("1 microsecond", 1),
    # customs.sessionize gaps and timeseries.interval_count_join
    # lengths: "<int> second(s)|minute(s)|hour(s)|day(s)"
    ("1 second", 1_000_000), ("30 seconds", 30_000_000), ("30 minutes", 30 * MIN),
    ("1 hour", HOUR), ("2 hours", 2 * HOUR), ("1 day", DAY), ("3 days", 3 * DAY),
    # streaming.panes gaps and streaming.suppress expiries
    ("120 seconds", 120_000_000), ("15 minutes", 15 * MIN), ("4 hours", 4 * HOUR),
]


@pytest.mark.parametrize("text,micros", DURATIONS, ids=[d for d, _ in DURATIONS])
def test_duration_micros_vocabulary(text, micros):
    assert duration_micros(text) == micros


@pytest.mark.parametrize("bad", ["", "5 parsecs", "minutes"])
def test_duration_micros_rejects(bad):
    with pytest.raises(ValueError, match=re.escape(repr(bad))):
        duration_micros(bad)


@pytest.mark.parametrize("text,micros", DURATIONS, ids=[d for d, _ in DURATIONS])
def test_spark_window_and_watermark_take_every_spelling(spark, text, micros):
    """Spark's interval parser rejects decimal and unspaced spellings
    ("1.5 hours", "90min"); the window and watermark operators hand it
    the same span in microseconds, so every spelling analyzes, and the
    window Spark builds spans exactly `duration_micros`."""
    df = spark.createDataFrame(
        [Row(k="a", ts="2024-01-01 00:00:00")]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    span = df.select(F.window("ts", spark_interval(text)).alias("w")).select(
        F.unix_micros("w.end") - F.unix_micros("w.start")
    ).first()[0]
    assert span == micros
    assert windowed_counts(df, "k", "ts", text, slide=text).count() == 1
    stream = spark.readStream.format("rate").load().select(
        F.col("value").cast("string").alias("k"), F.col("timestamp").alias("ts")
    )
    plan = suppress_stream(stream, ["k"], expiry=text, ts_col="ts")._jdf
    assert "EventTimeWatermark" in plan.queryExecution().analyzed().toString()
    alerts = df.select(
        F.col("ts").alias("timestamp"), F.lit(1).alias("alert_id"),
        F.col("k").alias("notify_merge"), F.lit("s").alias("summary"),
    )
    assert suppress_first_per_key(alerts, ["notify_merge"], expiry=text).count() == 1
    assert merge_for_notification(alerts, window=text).count() == 1
    # a 1 us gap leaves a zero-length Beam session, which Spark drops
    assert session_analysis(df, key="k", ts="ts", gap=text).count() == int(micros > 1)
    sessions = windowed_agg(df, ["k"], gap_session("ts", text), F.count(F.lit(1)))
    assert [
        r[0] for r in sessions.select(
            F.unix_micros("window_end") - F.unix_micros("window_start")
        ).collect()
    ] == ([micros - 1] if micros > 1 else [])


def test_sessionize_takes_decimal_gap(spark):
    """A decimal gap splits at delta == gap in both session forms."""
    df = spark.createDataFrame(
        [Row(k="a", ts=t) for t in ("00:00:00", "01:30:00", "02:59:00")]
    ).withColumn("ts", F.concat(F.lit("2024-01-01 "), "ts").cast("timestamp"))
    via_rows = {
        (str(r.first_ts), r.n_events)
        for r in sessionize(df, key="k", ts="ts", gap="1.5 hours")
        .groupBy("session_id")
        .agg(F.min("ts").alias("first_ts"), F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    via_window = {
        (str(r.first_ts), r.n_events)
        for r in session_analysis(df, key="k", ts="ts", gap="1.5 hours").collect()
    }
    assert via_rows == via_window == {
        ("2024-01-01 00:00:00", 1), ("2024-01-01 01:30:00", 2)
    }


def _hand_written(df, window, *aggs):
    """The form `windowed_agg` replaced at every window site."""
    return (
        df.groupBy(window.alias("w"), F.col("k"))
        .agg(*aggs)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "k", "n", "last_ts",
        )
    )


@pytest.mark.parametrize("form", ["fixed", "sliding", "session"])
def test_windowed_agg_matches_hand_written_groupby(spark, form):
    """Same rows as `groupBy(window(...).alias("w"), key).agg(...)
    .select("w.start", ...)` for fixed, sliding and session windows.
    Key "a" has events exactly one gap (10 minutes) apart, which
    Beam's boundary splits into separate sessions; key "b" has events
    inside one gap, whose session ends gap - 1 us after its last
    event."""
    stamps = {
        "a": ["00:00:00", "00:10:00", "00:20:00", "00:35:00"],
        "b": ["00:01:00", "00:05:30", "00:14:59", "00:14:59"],
    }
    df = spark.createDataFrame(
        [Row(k=k, ts=f"2024-01-01 {t}") for k, ts in stamps.items() for t in ts]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    windows = {
        "fixed": (time_window("ts", "10 minutes"), F.window("ts", "10 minutes")),
        "sliding": (
            time_window("ts", "10 minutes", "5 minutes"),
            F.window("ts", "10 minutes", "5 minutes"),
        ),
        "session": (
            gap_session("ts", "10 minutes"),
            F.session_window("ts", beam_session_gap("10 minutes")),
        ),
    }
    new, old = windows[form]
    aggs = (F.count(F.lit(1)).alias("n"), F.max("ts").alias("last_ts"))
    got = windowed_agg(df, ["k"], new, *aggs)
    assert got.columns == ["window_start", "window_end", "k", "n", "last_ts"]
    rows = sorted(got.collect())
    assert rows == sorted(_hand_written(df, old, *aggs).collect())
    if form == "session":
        assert sorted((r.k, r.n) for r in rows) == [
            ("a", 1), ("a", 1), ("a", 1), ("a", 1), ("b", 4)
        ]
        for r in rows:
            assert r.window_end - r.last_ts == timedelta(minutes=10, microseconds=-1)


EVENTS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.integers(min_value=0, max_value=36_000),  # seconds offset
    ),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=EVENTS)
def test_sessionize_matches_session_window(spark, events):
    rows = [
        Row(k=k, ts=f"2024-01-01 {s // 3600:02d}:{s % 3600 // 60:02d}:{s % 60:02d}")
        for k, s in events
    ]
    df = (
        spark.createDataFrame(rows)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    via_window = {
        (r.k, str(r.first_ts), str(r.last_ts), r.n_events)
        for r in session_analysis(df, key="k", ts="ts", gap="30 minutes").collect()
    }
    via_rows = {
        (r.k, str(r.first_ts), str(r.last_ts), r.n_events)
        for r in (
            sessionize(df, key="k", ts="ts", gap="30 minutes")
            .groupBy("k", "session_id")
            .agg(
                F.min("ts").alias("first_ts"),
                F.max("ts").alias("last_ts"),
                F.count(F.lit(1)).alias("n_events"),
            )
            .collect()
        )
    }
    assert via_window == via_rows
