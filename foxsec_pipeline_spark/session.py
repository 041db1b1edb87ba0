"""SparkSession factory for the engine.

Local-mode defaults match the test harness (local[N], shuffle
partitions ~ cores); on a real cluster the same builder is used with
master/partitions supplied by the deployment, and AQE re-plans at
runtime (skew joins, partition coalescing) — see SCALE.md.
"""

from __future__ import annotations

import os
import weakref

from pyspark import SparkContext
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "foxsec_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus.isdigit() else os.cpu_count() or 8
        shuffle_partitions = int(n)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # testdata parquet carries TIMESTAMP(NANOS) (pandas default),
        # which vanilla Spark rejects; read as long and convert in
        # load_tables (DuckDB truncates ns->us the same way).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_NANO_TS_CACHE: dict[str, list[str]] = {}


def _nano_ts_columns(path: str) -> list[str]:
    """Columns stored as TIMESTAMP(NANOS) in the parquet footer.

    Memoized per path: the footer schema of a given parquet dir is
    immutable for the life of a bench/driver run, and the pyarrow
    dataset open costs ~10-30 ms of driver time per call — paid per
    table per query per rep before this cache (guide §1.2: driver
    fixed costs are per-query work at 232 queries)."""
    hit = _NANO_TS_CACHE.get(path)
    if hit is not None:
        return hit
    import pyarrow.dataset as ds
    import pyarrow as pa

    schema = ds.dataset(path, format="parquet").schema
    out = [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]
    _NANO_TS_CACHE[path] = out
    return out


# SparkSession (weak) -> {(abs path, table name) -> DataFrame}.
# A DataFrame is an immutable logical plan — memoizing it caches NO
# data (every action still scans the parquet); it removes the ~60-90 ms
# of per-call driver work (pyarrow footer probe, spark.read.parquet
# file listing + schema resolution over py4j, the timestamp-cast
# withColumns) that every query re-paid on every bench rep. Keyed on
# the SESSION OBJECT: DataFrames and temp views are
# SparkSession-scoped, and `spark.newSession()` shares the
# applicationId, so an app-id key could serve a DataFrame whose
# createOrReplaceTempView lands in another session's catalog. The weak
# key also guarantees a stopped/replaced session can never serve stale
# py4j handles; absolute paths keep distinct corpora from aliasing.
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Load testdata parquet tables and register temp views.

    Returns dict name -> DataFrame. Parquet scans get column pruning
    and predicate pushdown from Catalyst for free. Nanosecond
    timestamp columns (unsupported by the Spark parquet reader) are
    read as int64 and truncated to microsecond timestamps, matching
    DuckDB's ns->us handling.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    per_session = _TABLE_CACHE.setdefault(spark, {})
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        key = (os.path.abspath(path), name)
        df = per_session.get(key)
        if df is None:
            df = spark.read.parquet(path)
            for c in _nano_ts_columns(path):
                # Only when Spark actually read the column as int64 (the
                # nanosAsLong path for TIMESTAMP(NANOS) footers) — pyarrow
                # also reports INT96 timestamps as `ns`, but Spark reads
                # those as TIMESTAMP directly and no conversion applies.
                if not isinstance(df.schema[c].dataType, T.LongType):
                    continue
                # integer `div`, not `/`: int64 nanos overflow double mantissa
                df = df.withColumn(
                    c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
                )
            # µs parquet timestamps (isAdjustedToUTC=false) read as
            # TIMESTAMP_NTZ under Spark's inferTimestampNTZ default; the
            # engine's time math (unix_micros, window()) wants TIMESTAMP.
            # Session tz is UTC, so the cast is value-preserving and
            # matches DuckDB's naive-UTC reading of the same column.
            for f in df.schema.fields:
                if isinstance(f.dataType, T.TimestampNTZType):
                    df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
            per_session[key] = df
        # always (re-)register the view: callers may interleave sf_dirs
        # in one session and expect `name` to track the LAST load
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


# py4j gateway (weak) -> {key -> value}. Column objects are immutable
# unresolved expressions bound to no DataFrame, so one built tree is
# reusable across DataFrames, queries and sessions; but they are JVM
# handles of one gateway, so a restarted gateway must rebuild them,
# while a session restarted on the same gateway keeps using them, and
# a dropped gateway takes its entries with it.
_GATEWAY_MEMO: "weakref.WeakKeyDictionary[object, dict]" = (
    weakref.WeakKeyDictionary()
)


def gateway_memo(key: tuple, build):
    """``build()`` once per (py4j gateway, key): the memo for
    input-independent Column trees, whose py4j construction is paid
    per call otherwise (the parse projection's cascades alone are
    ~3000 round trips). ``key`` starts with the caller's name and
    holds every argument the tree depends on."""
    per_gateway = _GATEWAY_MEMO.setdefault(SparkContext._gateway, {})
    if key not in per_gateway:
        per_gateway[key] = build()
    return per_gateway[key]


# SparkSession (weak) -> [(analyzed probe jplan, bounded value), ...].
# Statistics memo for values that only SHAPE a plan: the density
# bucket profile (operators/density.py) and the prefix-Jaccard path,
# pair-exchange width and broadcast estimates (operators/dedup.py).
# Each is a bounded plan-construction value (a 1-row scalar or a
# <=64-row bucket profile) keyed by exact plan identity via Catalyst
# sameResult, so repeat builds on the same logical input skip the
# probe scan. The key is the analyzed plan, not the files under it, so
# after the files change a stale value picks the path for the old
# data: the exact paths return the same rows either way, but the
# density split also decides which groups take the approximate
# hot-group strategy of `customs.account_creation_dist`. A statistic
# that feeds the RESULT directly (a common prefix stripped before a
# distance, a trained merge list, a count used in a score or a
# threshold) must not come from here; it is computed in the build
# that uses it.
_PLAN_STAT_CACHE: "weakref.WeakKeyDictionary[SparkSession, list]" = (
    weakref.WeakKeyDictionary()
)


def plan_stat_memo(probe_df, run):
    """Memoize a bounded plan-construction statistic per (session,
    probe plan). ``run(probe_df)`` must return a small plain-python
    value (no Rows, no DataFrames); it executes only the FIRST time a
    semantically-equal probe plan is seen in the session — repeat
    invocations (bench reps rebuild the same plan from the memoized
    table DataFrames) return the memoized value without a job."""
    jplan = probe_df._jdf.queryExecution().analyzed()
    entries = _PLAN_STAT_CACHE.setdefault(probe_df.sparkSession, [])
    for cached_plan, value in entries:
        if jplan.sameResult(cached_plan):
            return value
    value = run(probe_df)
    entries.append((jplan, value))
    return value


def global_common_prefix_len(df, col_name: str) -> int:
    """Length of the character prefix shared by EVERY value of
    ``col_name`` in ``df`` (0 when empty/all-null or no common prefix).

    The shared prefix of a string population equals the common prefix
    of its lexicographic min and max (any value outside that prefix
    would sort outside the [min, max] band; UTF-8 byte order is
    code-point order, so python commonprefix matches Spark's string
    min/max). Runs ONE eager 1-row min/max aggregate per call: the
    prefix is stripped from the values the caller compares, so it must
    describe the input as it is now.
    """
    from pyspark.sql import functions as F
    import os.path as _osp

    row = df.select(
        F.min(F.col(col_name)).alias("__mn"),
        F.max(F.col(col_name)).alias("__mx"),
    ).first()
    if row is None or row["__mn"] is None or row["__mx"] is None:
        return 0
    return len(_osp.commonprefix([row["__mn"], row["__mx"]]))
