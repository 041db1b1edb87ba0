"""AuthProfile per-identity state: known-IP model + geo-velocity.

Reference: `authstate/AuthStateModel.java:18-20,114-117` (state = map
ip -> {lat, lon, last_seen, user_agent}), pruning by entry age
(`PruningStrategyEntryAge.java:13-44`, default 10 days),
`AuthProfile.java:567-766` StateAnalyze (severity decision: KNOWN_IP /
UNKNOWN_IP_WITHIN_GEO / OUTSIDE_GEO), geo-velocity
(`AuthStateModel.java:392` + `GeoUtil.java:36-51`), and
`customs/CustomsVelocity.java:92-280` (same model keyed by uid,
keep-last-2 pruning `PruningStrategyLatest.java`).

The reference holds this state in memcached/Datastore with
transactional cursors; here it is Structured Streaming keyed state
(`applyInPandasWithState`) — checkpointed, partitioned by identity,
no external store. An external-store adapter can replace it for
cross-pipeline sharing (SURVEY §7 hard part 2) via foreachBatch +
Delta-style merge.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.windows import spark_interval

LOGIN_SCHEMA = T.StructType(
    [
        T.StructField("identity", T.StringType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("source_address", T.StringType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
    ]
)

AUTH_EVAL_SCHEMA = T.StructType(
    [
        T.StructField("identity", T.StringType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("source_address", T.StringType()),
        T.StructField("known_ip", T.BooleanType()),
        T.StructField("km_from_last", T.DoubleType()),
        T.StructField("kmh", T.DoubleType()),
        T.StructField("severity", T.StringType()),
    ]
)

# state: parallel arrays (applyInPandasWithState state rows are flat)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ips", T.ArrayType(T.StringType())),
        T.StructField("lats", T.ArrayType(T.DoubleType())),
        T.StructField("lons", T.ArrayType(T.DoubleType())),
        T.StructField("seen_us", T.ArrayType(T.LongType())),
    ]
)


def _haversine_km(lat1, lon1, lat2, lon2) -> float:
    rlat1, rlon1, rlat2, rlon2 = map(math.radians, (lat1, lon1, lat2, lon2))
    a = (
        math.sin((rlat2 - rlat1) / 2) ** 2
        + math.cos(rlat1) * math.cos(rlat2) * math.sin((rlon2 - rlon1) / 2) ** 2
    )
    return 2 * 6371.0 * math.asin(math.sqrt(a))


def _auth_state_fn(max_kmh: float, prune_age_days: float):
    prune_us = int(prune_age_days * 86_400_000_000)

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # identity idle past the prune horizon: every entry would
            # be age-pruned on the next event anyway — drop the state
            state.remove()
            return
        ips, lats, lons, seen = (
            (list(state.get[0]), list(state.get[1]), list(state.get[2]), list(state.get[3]))
            if state.exists
            else ([], [], [], [])
        )
        out_rows = []
        for pdf in pdfs:
            for _, row in pdf.sort_values("timestamp").iterrows():
                ts_us = int(row["timestamp"].value // 1000)
                # prune entries older than the age horizon
                # (PruningStrategyEntryAge.java:13-44)
                keep = [i for i, s in enumerate(seen) if ts_us - s <= prune_us]
                ips = [ips[i] for i in keep]
                lats = [lats[i] for i in keep]
                lons = [lons[i] for i in keep]
                seen = [seen[i] for i in keep]

                known = row["source_address"] in ips
                km = kmh = None
                severity = "info"
                if not known and seen:
                    # geo-velocity vs latest entry
                    # (AuthStateModel.geoVelocityAnalyzeLatest :392)
                    j = max(range(len(seen)), key=lambda i: seen[i])
                    km = _haversine_km(lats[j], lons[j], row["lat"], row["lon"])
                    dt_h = (ts_us - seen[j]) / 3.6e9
                    kmh = km / dt_h if dt_h > 0 else float("inf")
                    severity = "critical" if kmh > max_kmh else "warn"
                if known:
                    i = ips.index(row["source_address"])
                    seen[i] = ts_us
                    lats[i], lons[i] = row["lat"], row["lon"]
                else:
                    ips.append(row["source_address"])
                    lats.append(row["lat"])
                    lons.append(row["lon"])
                    seen.append(ts_us)
                out_rows.append(
                    {
                        "identity": row["identity"],
                        "timestamp": row["timestamp"],
                        "source_address": row["source_address"],
                        "known_ip": known,
                        "km_from_last": km,
                        "kmh": kmh,
                        "severity": severity,
                    }
                )
        state.update((ips, lats, lons, seen))
        # event-time TTL at the prune horizon keeps idle-identity state
        # bounded (the reference relies on the external store's pruning;
        # checkpointed state must GC itself). Timestamp must lead the
        # current watermark or Spark rejects it.
        if seen:
            wm_ms = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(
                max(max(seen) // 1000 + prune_us // 1000, wm_ms + 1)
            )
        if out_rows:
            yield pd.DataFrame(out_rows)

    return fn


def auth_state_decision_batch(
    logins: DataFrame,
    max_kmh: float = 800.0,
    prune_age_days: float = 10.0,
    order_col: str = "event_id",
) -> DataFrame:
    """Declarative batch twin of the T4 severity decision tree
    (`AuthProfile.java:567-766` StateAnalyze): per-login KNOWN_IP /
    geo-velocity classification as two lag windows — no Python, no
    state store, oracle-checkable.

    Semantics vs the stateful twin (documented divergence): "known IP"
    = a previous login from the same (identity, source_address) within
    the prune horizon (the stateful op's entry-age pruning,
    PruningStrategyEntryAge.java:13-44, expressed as a lag-age bound);
    geo-velocity compares against the latest previous login by event
    time (the stateful op compares against the latest state entry,
    which differs only when a known-IP login reorders entry
    recency). The velocity test is multiplicative (km > max_kmh *
    hours) so a zero/negative time delta never divides.

    Expects LOGIN_SCHEMA-shaped input (identity, timestamp,
    source_address, lat, lon) plus a deterministic `order_col`
    tie-break. One shuffle on identity serves both windows (the
    per-(identity, ip) window re-sorts within partitions only...
    Catalyst plans the narrower partition first).
    """
    from ..functions.geo import haversine_km

    w_ip = Window.partitionBy("identity", "source_address").orderBy(
        "timestamp", order_col
    )
    w_id = Window.partitionBy("identity").orderBy("timestamp", order_col)
    us = F.unix_micros(F.col("timestamp"))
    prune_us = int(prune_age_days * 86_400_000_000)
    d = (
        logins.withColumn("__prev_ip_ts", F.lag("timestamp").over(w_ip))
        .withColumn("__prev_ts", F.lag("timestamp").over(w_id))
        .withColumn("__prev_lat", F.lag("lat").over(w_id))
        .withColumn("__prev_lon", F.lag("lon").over(w_id))
        .withColumn(
            "known_ip",
            F.col("__prev_ip_ts").isNotNull()
            & ((us - F.unix_micros(F.col("__prev_ip_ts"))) <= F.lit(prune_us)),
        )
        .withColumn(
            "__km",
            F.when(
                F.col("__prev_ts").isNotNull(),
                haversine_km(
                    F.col("__prev_lat"), F.col("__prev_lon"),
                    F.col("lat"), F.col("lon"),
                ),
            ),
        )
        .withColumn(
            "__hours",
            F.when(
                F.col("__prev_ts").isNotNull(),
                (us - F.unix_micros(F.col("__prev_ts"))) / F.lit(3.6e9),
            ),
        )
    )
    severity = (
        F.when(F.col("known_ip"), "info")
        .when(F.col("__prev_ts").isNull(), "info")
        .when(F.col("__km") > F.lit(float(max_kmh)) * F.col("__hours"), "critical")
        .otherwise("warn")
    )
    return d.select(
        "identity",
        "timestamp",
        "source_address",
        "known_ip",
        severity.alias("severity"),
        F.round(F.when(~F.col("known_ip"), F.col("__km")), 3).alias("km_from_last"),
    )


def auth_state_analyze(
    logins: DataFrame,
    max_kmh: float = 800.0,
    prune_age_days: float = 10.0,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """StateAnalyze (T4/T5): per-identity known-IP + geo-velocity
    evaluation over a (streaming or batch-derived) login DataFrame
    with LOGIN_SCHEMA columns. Works under readStream (checkpointed
    keyed state) and in batch tests via the same grouping. Idle
    identities GC at the entry-age prune horizon (event-time timeout
    driven by the watermark).
    """
    return (
        logins.withWatermark("timestamp", spark_interval(watermark_delay))
        .groupBy("identity")
        .applyInPandasWithState(
            _auth_state_fn(max_kmh, prune_age_days),
            outputStructType=AUTH_EVAL_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
