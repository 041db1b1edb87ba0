"""Alert construction, formatting and merge/suppression (batch plane).

Reference: `alert/Alert.java:21-52` (record + severity enum),
`alert/AlertFormatter.java:131-142` (GeoIP metadata + monitored
resource), `alert/AlertIO.java:40-74,116-143` (notify-merge windowed
grouping), `alert/AlertSuppressor*.java` (keyed suppression — the
streaming twins live in streaming/suppress.py).

Alerts are rows of ALERT_SCHEMA; every heuristic output becomes an
alert via `to_alerts`, a pure projection, so the alert plane composes
with any operator output without a shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..schema import ALERT_SCHEMA, SEVERITY_INFO


def to_alerts(
    df: DataFrame,
    category: str,
    summary: Column,
    severity: str = SEVERITY_INFO,
    subcategory: str | None = None,
    timestamp_col: str = "window_start",
    notify_merge: str | None = None,
    metadata_cols: list[str] | None = None,
) -> DataFrame:
    """Project heuristic output rows into the alert schema.

    metadata_cols become string map entries (AlertMeta key/value —
    list-valued keys are comma-joined like the reference)."""
    meta_cols = metadata_cols or [
        c for c in df.columns if c != timestamp_col
    ]
    meta = F.map_from_arrays(
        F.array(*[F.lit(c) for c in meta_cols]),
        F.array(*[F.col(c).cast("string") for c in meta_cols]),
    )
    return df.select(
        F.expr("uuid()").alias("alert_id"),
        F.col(timestamp_col).cast("timestamp").alias("timestamp"),
        F.lit(category).alias("category"),
        F.lit(subcategory).cast("string").alias("subcategory"),
        F.lit(severity).alias("severity"),
        summary.alias("summary"),
        F.lit(notify_merge).cast("string").alias("notify_merge"),
        meta.alias("metadata"),
    )


def alerts_to_json(alerts: DataFrame) -> DataFrame:
    """Alert rows -> one JSON string per alert (`Alert.java` toJSON)."""
    return alerts.select(
        F.to_json(F.struct(*[F.col(c) for c in ALERT_SCHEMA.fieldNames()])).alias("value")
    )


def suppress_first_per_key(
    alerts: DataFrame,
    key_cols: list[str],
    expiry: str = "1 day",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Batch alert suppression: first alert per key per expiry bucket
    (`alert/AlertSuppressor.java` semantics — emit first, suppress
    repeats until the expiry timer fires). The streaming version keeps
    TTL state (streaming/suppress.py); batch buckets event time by the
    expiry interval, which yields identical results on final windows.
    """
    w = Window.partitionBy(
        *key_cols, F.window(F.col(ts_col), expiry)["start"]
    ).orderBy(ts_col, "alert_id")
    return (
        alerts.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# AlertMeta.IPADDRESS_KEYS (`alert/AlertMeta.java:380`) with their
# associated geo metadata key names (`AlertMeta.java:222-240` —
# AssociatedKeyLinkage CITY/COUNTRY/ISP/ASN/AS_ORG per base key).
IPADDRESS_META_KEYS = ("sourceaddress", "sourceaddress_previous")


def alert_formatter(
    alerts: DataFrame,
    monitored_resource: str | None,
    city_mmdb_path: str | None = None,
    isp_mmdb_path: str | None = None,
) -> DataFrame:
    """AlertFormatter (`alert/AlertFormatter.java:124-146`):
    normalization + supplemental enrichment of alert rows.

    - adds the monitored_resource metadata entry when missing; a null
      indicator with no pre-set value is a PLAN-TIME config error like
      the reference's RuntimeException (we can't know row-level
      presence at plan time, so null indicator fails fast — stricter,
      never silently divergent)
    - when a Maxmind db path is configured, attaches city/country
      (city db) and isp/asn/as_org (ISP db) metadata for every
      IP-address metadata key present (`addGeoIPData`,
      `AlertFormatter.java:60-121`), skipping null/empty lookups; with
      no db configured the geo step is a no-op (the runFormatter leg
      of `TestAlertFormatter.java:32-54`).

    The geo step is two projection-only mapInPandas passes (one per
    IP-address key) over functions/geoip.enrich_geoip — no shuffle;
    at scale this is the same mmap'd-reader-per-partition pattern as
    event-side enrichment.
    """
    from ..functions.geoip import GEO_SCHEMA_FIELDS, enrich_geoip

    if monitored_resource is None:
        raise ValueError(
            "monitored resource indicator was null in AlertFormatter"
        )
    meta = F.col("metadata")
    meta = F.when(
        meta.getItem("monitored_resource").isNotNull(), meta
    ).otherwise(
        F.map_concat(
            F.coalesce(meta, F.expr("map()")),
            F.create_map(
                F.lit("monitored_resource"), F.lit(monitored_resource)
            ),
        )
    )
    out = alerts.withColumn("metadata", meta)
    if city_mmdb_path is None and isp_mmdb_path is None:
        return out

    def _nonempty(c: Column) -> Column:
        return F.when(c.isNotNull() & (c != F.lit("")), c)

    for base in IPADDRESS_META_KEYS:
        addr = "__fmt_addr"
        out = out.withColumn(addr, F.col("metadata").getItem(base))
        out = enrich_geoip(
            out, ip_col=addr,
            mmdb_path=city_mmdb_path, isp_mmdb_path=isp_mmdb_path,
        )
        # per-key associated metadata entries; only non-empty lookups
        # land (the reference skips empty strings the same as null)
        pairs: list[tuple[str, Column]] = []
        if city_mmdb_path is not None:
            pairs += [
                (f"{base}_city", _nonempty(F.col("geo_city"))),
                (f"{base}_country", _nonempty(F.col("geo_country"))),
            ]
        if isp_mmdb_path is not None:
            pairs += [
                (f"{base}_isp", _nonempty(F.col("geo_isp"))),
                (f"{base}_asn", F.col("geo_asn").cast("string")),
                (f"{base}_as_org", _nonempty(F.col("geo_as_org"))),
            ]
        # drop null lookups AND keys the alert already carries: the
        # reference appends duplicate metadata entries but reads
        # first-occurrence (`Alert.getMetadataValue`), so the original
        # value winning is the observable semantics — and Spark's
        # map_concat raises on duplicate keys under the default
        # EXCEPTION dedup policy
        entries = F.map_filter(
            F.map_from_arrays(
                F.array(*[F.lit(k) for k, _ in pairs]),
                F.array(*[v for _, v in pairs]),
            ),
            lambda k, v: v.isNotNull() & ~F.map_contains_key(
                F.col("metadata"), k
            ),
        )
        out = out.withColumn(
            "metadata",
            F.when(
                F.col(addr).isNotNull(),
                F.map_concat(F.col("metadata"), entries),
            ).otherwise(F.col("metadata")),
        ).drop(addr, *[f.name for f in GEO_SCHEMA_FIELDS])
    return out


def merge_for_notification(
    alerts: DataFrame, window: str = "5 minutes"
) -> DataFrame:
    """AlertIO notify-merge: group alerts sharing a notify_merge key
    within a window into one notification row with a combined summary
    (`alert/AlertIO.java:116-143`)."""
    merged = (
        alerts.where(F.col("notify_merge").isNotNull())
        .groupBy(F.window("timestamp", window).alias("w"), "notify_merge")
        .agg(
            F.count(F.lit(1)).alias("n_alerts"),
            F.min("timestamp").alias("first_ts"),
            F.min("summary").alias("__summary"),
        )
        .select(
            "notify_merge",
            "first_ts",
            "n_alerts",
            # reference format (AlertIO.AlertNotifyMerge, golden
            # TestAlertMerge.alertMergeTest): the surviving alert's
            # summary gains ' (N-1 similar alerts)' and the
            # notify_merged_count metadata ONLY when alerts actually
            # merged — a lone alert with a key passes through clean.
            # min(summary) is the deterministic stand-in for the
            # reference's arbitrary-survivor pick.
            F.when(
                F.col("n_alerts") > 1,
                F.concat(
                    F.col("__summary"), F.lit(" ("),
                    (F.col("n_alerts") - 1).cast("string"),
                    F.lit(" similar alerts)"),
                ),
            ).otherwise(F.col("__summary")).alias("summary"),
            F.when(F.col("n_alerts") > 1, F.col("n_alerts"))
            .alias("notify_merged_count"),
        )
    )
    passthrough = alerts.where(F.col("notify_merge").isNull()).select(
        F.lit(None).cast("string").alias("notify_merge"),
        F.col("timestamp").alias("first_ts"),
        F.lit(1).cast("long").alias("n_alerts"),
        F.col("summary"),
        F.lit(None).cast("long").alias("notify_merged_count"),
    )
    return merged.unionByName(passthrough)
