"""Customs-family operators: windowed feature combining, similarity
clustering, session correlation, per-key comparators.

Reference files (semantics only; Spark-first implementations):
- `customs/CustomsFeaturesCombiner.java:29-75` + `customs/CustomsFeatures.java`
  (per-key windowed feature accumulator: per-type counters, retained
  events of registered types, variance index recalculation)
- `customs/CustomsAccountCreationDist.java:56-126` + `StringDistance.java:22-63`
  (within-(domain,window) Levenshtein-ratio account clustering with a
  differing-source-IP requirement)
- `amo/AddonMultiIpLogin.java:84-265` (session-windowed distinct
  IP/country counting per account)
- `authprofile/AwsAssumeRoleCorrelator.java:47-180` (session-window
  co-occurrence: AssumeRole event supplies the subject for later
  sts:GetCallerIdentity events in the same session)
- `customs/CustomsStatusComparator.java:90-181` (status-check scans
  vs login failures per source -> at-risk accounts)
- `customs/PrivateRelayForward.java:115-200` (uid -> hashed forward
  address; alert on mismatch)
- `Watchlist.java:29-49,201-232` + `postprocessing/PostProcessing.java:102-126`
  (watchlist entries matched against alert metadata — broadcast join)

All operators are single-shuffle declarative plans; sessionization is
expressed with lag/cumsum window functions so the identical logical
definition runs in DuckDB for the oracle (Spark's `session_window`
gives the same assignment for final windows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import bucketed_pairs, minhash_signature
from .windows import duration_micros, time_window, windowed_agg


def features_combine(
    df: DataFrame,
    key: str,
    type_col: str,
    path_col: str,
    ts: str = "ts",
    duration: str = "1 hour",
    counted_types: dict[str, str] | None = None,
    success_predicate: Column | None = None,
    retain_types: list[str] | None = None,
) -> DataFrame:
    """A3 CustomsFeaturesCombiner: per (key, window) feature row.

    Emits total event count, one counter per registered type
    (`counted_types`: output column -> type value), distinct-path
    counts, the variance index (CustomsFeatures.recalculateVariance:
    0 unless >1 distinct path, else n_paths + 10 * n_success_paths,
    clamped at 100), and the retained event-id list for
    `retain_types` as a deterministic sorted CSV (the reference
    retains raw Events of registered types for downstream detectors).

    One hash-aggregate: partial map-side combine makes this linear in
    input with no per-key skew beyond the natural key distribution.
    """
    counted_types = counted_types or {}
    success_predicate = (
        success_predicate if success_predicate is not None else F.lit(True)
    )
    retain_types = retain_types or []

    aggs = [
        F.count(F.lit(1)).alias("total_events"),
        *[
            F.count(F.when(F.col(type_col) == tv, 1)).alias(out)
            for out, tv in counted_types.items()
        ],
        F.countDistinct(F.col(path_col)).alias("n_paths"),
        F.countDistinct(
            F.when(success_predicate, F.col(path_col))
        ).alias("n_success_paths"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col(type_col).isin(retain_types), F.col("event_id")
                        )
                    )
                ),
                lambda x: x.cast("string"),
            ),
        ).alias("retained_events"),
    ]
    agg = windowed_agg(df, [key], time_window(ts, duration), *aggs)
    variance = F.when(
        F.col("n_paths") > 1,
        F.least(
            F.lit(100), F.col("n_paths") + F.lit(10) * F.col("n_success_paths")
        ),
    ).otherwise(F.lit(0))
    return agg.select(
        "window_start",
        F.col(key),
        "total_events",
        *counted_types.keys(),
        "n_paths",
        "n_success_paths",
        variance.cast("long").alias("variance_index"),
        "retained_events",
    )


def account_creation_dist(
    df: DataFrame,
    group_col: str,
    id_col: str,
    name_col: str,
    addr_col: str,
    max_ratio: float = 0.35,
    max_distance: int | None = None,
    hot_group_cutoff: int = 100_000,
    hot_strategy: str = "minhash",
    minhash_hashes: int = 12,
    work_budget_pairs: int | None = None,
    sorted_window: int = 16,
) -> DataFrame:
    """A10 CustomsAccountCreationDist: for each account, count other
    accounts in the same group whose name is within `max_ratio`
    normalized Levenshtein distance AND was seen from a different
    source address (`CustomsAccountCreationDist.java:56-126` — the
    differing-IP requirement keeps same-machine re-registrations out).

    By default the operator is EXACT for every group under
    `hot_group_cutoff` rows: `work_budget_pairs=None` disables the
    density-aware rerouting, so callers that pass no budget get exact
    output. Callers running at scale opt in by passing a budget (the
    catalog query passes 50M explicitly).

    The group key bounds the self-join (the reference groups by email
    domain + window). The 100 TB failure mode is a HOT group
    (gmail.com in one window): exact all-pairs is O(n²) COMPUTE no
    matter how it's balanced. A group leaves the exact path when it
    is individually huge (> `hot_group_cutoff` rows) OR when — a
    budget having been passed — the dataset is uniformly dense: the
    density-aware trigger keeps the
    TOTAL exact work Σ n_g² within `work_budget_pairs` (a 10x
    step-up measured 147.9 s at 10x data with 25 uniform 6k-row
    groups — 450M pairs and not one group over the old row cutoff).
    Groups under the derived cutoff stay exact all-pairs; hot groups
    take `hot_strategy`:

    - "minhash" (default): (1) compress to DISTINCT-NAME classes —
      identical names (the reason real groups are hot) collapse to one
      node, and per-account counts are recovered EXACTLY by arithmetic
      over class sizes and per-(name, addr) counts: n_similar(a) =
      Σ_{class c similar to name(a)} (|c| - |{b ∈ c : addr_b =
      addr_a}|), which reproduces the id≠/addr≠ pair predicate
      verbatim (a's own class included — ratio 0 — with a itself
      cancelled by the addr term). (2) cross-class candidate pairs
      come from char-bigram MinHash banding (band_size 1, OR over
      `minhash_hashes` bands) over distinct names only, each candidate
      then checked with the EXACT ratio predicate. Work is
      candidates + linear joins, never n²; the only approximation is
      a missed borderline cross-name candidate (same-name mass is
      exact) — recall is measured on a skewed fixture in
      tests/test_detectors.py.
    - "sorted": distinct-name compression + sorted-neighborhood
      candidates (each distinct name against its next `sorted_window`
      lexicographic neighbors — n*w candidates, an equi-join on
      (group, rank+offset), never n²), exact ratio verify, then the
      same exact arithmetic expansion as "minhash". The bounded
      choice when the name population is HOMOGENEOUS (shared prefixes
      collapse bigram-MinHash bands into whole-group buckets —
      same-format usernames, serial-numbered accounts); recall is
      measured in tests/test_detectors.py like the minhash path.

    Input contract: this operator references `df` in three roles
    (hot-group scan + both self-join sides). Feed it a CHEAP plan —
    a table scan or a materialization boundary (cache/checkpoint) —
    not a deep projection pipeline: Catalyst re-analyzes the input
    plan per role, and over the full parse projection that triples a
    huge plan (measured 163 s optimizer time vs 4.5 s with a
    localCheckpoint on the reference fixture). The reference has the
    same boundary structurally: Customs materializes parsed events
    through the CustomsFeatures GroupByKey before detector DoFns.
    """
    from .density import density_hot_split

    # hot-group detection: aggregate to (group, count) — map-side
    # partial combine means only #groups rows shuffle. The cutoff is
    # density-aware (see density.py): min(hot_group_cutoff, largest
    # size whose log2 bucket keeps cumulative n² work under
    # work_budget_pairs). Hot groups (few by definition) broadcast as
    # a flag; a window-count over the events would shuffle the whole
    # input. When NO group is over the cutoff the flag join and the
    # (empty) hot-path legs are skipped outright — empty subplans
    # still run real jobs.
    sizes = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__gsz"))
    cutoff, any_hot = density_hot_split(
        sizes, "__gsz", work_budget_pairs, int(hot_group_cutoff)
    )
    proj = df.select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("id"),
        F.col(name_col).alias("name"),
        F.col(addr_col).alias("addr"),
    )
    if any_hot:
        hot_groups = (
            sizes.where(F.col("__gsz") > cutoff)
            .select(F.col(group_col).alias("g"), F.lit(True).alias("__hot"))
        )
        base = proj.join(F.broadcast(hot_groups), "g", "left")
    else:
        base = proj.withColumn("__hot", F.lit(None).cast("boolean"))

    # Levenshtein is invariant under stripping a prefix COMMON TO BOTH
    # arguments, and the prefix shared by every name in the input is
    # exactly the common prefix of lexicographic min(name) and
    # max(name) (any string outside it would sort outside the
    # [min, max] band; UTF-8 byte order is code-point order, so the
    # python commonprefix matches Spark's string min/max). Spark's
    # levenshtein does NOT trim internally (microbenched: 2M 18-char
    # fixed-prefix pairs 0.946 s full vs 0.530 s stripped, identical
    # sums), so on fixed-format name populations ("Customer#000000042")
    # stripping nearly halves the DP cell count of the quadratic kernel
    # for the price of one linear min/max pass. The RATIO keeps the
    # original-length denominator, so the predicate value is
    # bit-identical. The probe is an EAGER driver-blocking 1-row
    # min/max job at plan-construction time, run on every build: a
    # prefix measured on other data would strip characters that differ.
    from ..session import global_common_prefix_len

    _pre = global_common_prefix_len(df.select(F.col(name_col)), name_col)

    def _lev_arg(c):
        if _pre >= 2:
            return c.substr(F.lit(_pre + 1), F.length(c))
        return c

    def _sim(name_a, name_b):
        if max_distance is not None:
            # bounded edit distance: banded DP + early exit, returns -1
            # past the threshold. Sound when max_distance >=
            # ceil(max_ratio * longest name) — the caller asserts that.
            d = F.levenshtein(_lev_arg(name_a), _lev_arg(name_b), max_distance)
            return (d >= 0) & (
                d <= F.lit(float(max_ratio)) * F.greatest(
                    F.length(name_a), F.length(name_b)
                )
            )
        return (
            F.levenshtein(_lev_arg(name_a), _lev_arg(name_b))
            / F.greatest(F.length(name_a), F.length(name_b))
        ) <= F.lit(float(max_ratio))

    def _pairs(a, b, extra_keys):
        joined = a.join(b, ["g", *extra_keys])
        return joined.where(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("addr_a") != F.col("addr_b"))
            & _sim(F.col("name_a"), F.col("name_b"))
        )

    def _side(src, suffix):
        return src.select(
            "g",
            F.col("id").alias(f"id_{suffix}"),
            F.col("name").alias(f"name_{suffix}"),
            F.col("addr").alias(f"addr_{suffix}"),
        )

    def _counts(pairs):
        return pairs.groupBy(
            F.col("g").alias(group_col), F.col("id_a").alias(id_col)
        ).agg(F.count(F.lit(1)).alias("n_similar"))

    small = base.where(F.col("__hot").isNull()).drop("__hot")
    small_counts = _counts(_pairs(_side(small, "a"), _side(small, "b"), []))
    if not any_hot:
        return small_counts

    hot = base.where(F.col("__hot")).drop("__hot")
    if hot_strategy == "minhash":
        hot_counts = _hot_minhash_counts(
            hot, group_col, id_col, _sim, int(minhash_hashes)
        )
    elif hot_strategy == "sorted":
        hot_counts = _hot_sorted_counts(
            hot, group_col, id_col, _sim, int(sorted_window)
        )
    else:
        raise ValueError(f"unknown hot_strategy: {hot_strategy!r}")

    # a group is either hot or not, so the count frames are disjoint
    return small_counts.unionByName(hot_counts)


def _hot_sorted_counts(hot, group_col, id_col, sim, window):
    """Hot-group branch of `account_creation_dist` for HOMOGENEOUS
    name populations: distinct-name compression + sorted-neighborhood
    candidates + the exact arithmetic expansion. Each distinct name
    meets only its next `window` lexicographic neighbors — n*window
    candidate pairs via an equi-join on (g, rank+offset), one sort per
    group, never n²."""
    from pyspark.sql import Window as W

    nc = hot.groupBy("g", "name").agg(F.count(F.lit(1)).alias("__csz"))
    ca = hot.groupBy("g", "name", "addr").agg(F.count(F.lit(1)).alias("__acnt"))
    ranked = nc.select(
        "g", "name",
        F.row_number().over(W.partitionBy("g").orderBy("name")).alias("__rn"),
    )
    left = (
        ranked.withColumn("__d", F.explode(F.sequence(F.lit(1), F.lit(window))))
        .select(
            "g", F.col("name").alias("name_a"),
            (F.col("__rn") + F.col("__d")).alias("__rn"),
        )
    )
    cand = left.join(
        ranked.select("g", F.col("name").alias("name_b"), "__rn"),
        ["g", "__rn"],
    ).drop("__rn")
    simp = cand.where(sim(F.col("name_a"), F.col("name_b")))
    return _hot_name_class_counts(hot, nc, ca, simp, group_col, id_col)


def _hot_minhash_counts(hot, group_col, id_col, sim, minhash_hashes):
    """Hot-group branch of `account_creation_dist`: distinct-name
    compression + char-bigram MinHash candidates + exact arithmetic
    expansion (see the operator docstring). `hot` has columns
    (g, id, name, addr); returns (group_col, id_col, n_similar)."""
    from ..functions.text import MINHASH_P, md5_bucket

    nc = hot.groupBy("g", "name").agg(F.count(F.lit(1)).alias("__csz"))
    ca = hot.groupBy("g", "name", "addr").agg(F.count(F.lit(1)).alias("__acnt"))
    # char-bigram shingles of each DISTINCT name (len-1 names yield the
    # single char; len<=2 cross-pairs can never pass ratio<=0.35 against
    # anything but their own class, which is handled exactly below)
    shingles = nc.select(
        "g", "name",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length("name") - 1, F.lit(1))),
                lambda i: F.col("name").substr(i, F.lit(2)),
            )
        ).alias("__s"),
    )
    sig = minhash_signature(
        shingles.select(
            "g", "name", (md5_bucket(F.col("__s")) % F.lit(MINHASH_P)).alias("__h")
        ),
        ["g", "name"],
        minhash_hashes,
    )
    # band_size 1: a pair is a candidate on ANY shared minimum — the
    # high-recall operating point for short strings (measured in
    # tests/test_detectors.py); bucket-local pairs, same shape as
    # dedup.minhash_lsh_pairs. Names are distinct per group and each
    # has one minimum per band, so a bucket's sorted names are
    # distinct and the kernel's pairs are already ordered.
    bands = sig.select(
        "g", "name",
        F.posexplode(
            F.array(*[F.col(f"__h{i}") for i in range(minhash_hashes)])
        ).alias("__band", "__mv"),
    )
    cand = bucketed_pairs(
        bands, ["g", "__band", "__mv"], "name", "name_a", "name_b", "g"
    ).distinct()
    simp = cand.where(sim(F.col("name_a"), F.col("name_b")))
    return _hot_name_class_counts(hot, nc, ca, simp, group_col, id_col)


def _hot_name_class_counts(hot, nc, ca, simp, group_col, id_col):
    """Exact arithmetic expansion shared by the hot-group candidate
    strategies: given similar DISTINCT-NAME pairs `simp` (g, name_a,
    name_b), recover per-account counts by class arithmetic —
    n_similar(a) = Σ_{class c similar to name(a)} (|c| - |{b in c :
    addr_b = addr_a}|) — which reproduces the id!=/addr!= pair
    predicate verbatim (a's own class included, a itself cancelled by
    the addr term). `nc` = (g, name, __csz) class sizes, `ca` =
    (g, name, addr, __acnt) per-(name, addr) counts."""
    sim_all = (
        simp.select("g", F.col("name_a").alias("__d"), F.col("name_b").alias("__c"))
        .unionByName(
            simp.select("g", F.col("name_b").alias("__d"), F.col("name_a").alias("__c"))
        )
        .unionByName(
            nc.select("g", F.col("name").alias("__d"), F.col("name").alias("__c"))
        )
    )
    s_tot = (
        sim_all.join(nc.select("g", F.col("name").alias("__c"), "__csz"), ["g", "__c"])
        .groupBy("g", "__d")
        .agg(F.sum("__csz").alias("__S"))
    )
    corr = (
        sim_all.join(
            ca.select("g", F.col("name").alias("__c"), "addr", "__acnt"), ["g", "__c"]
        )
        .groupBy("g", "__d", "addr")
        .agg(F.sum("__acnt").alias("__corr"))
    )
    return (
        hot.select("g", "id", "name", "addr")
        .join(s_tot.withColumnRenamed("__d", "name"), ["g", "name"])
        .join(corr.withColumnRenamed("__d", "name"), ["g", "name", "addr"], "left")
        .select(
            F.col("g").alias(group_col),
            F.col("id").alias(id_col),
            (F.col("__S") - F.coalesce(F.col("__corr"), F.lit(0))).alias("n_similar"),
        )
        .where(F.col("n_similar") > 0)
    )


def sessionize(
    df: DataFrame, key: str, ts: str = "ts", gap: str = "2 hours"
) -> DataFrame:
    """Row-level session assignment (gap-based) via lag/cumsum —
    the row-preserving complement of `session_window` groupBy (which
    only yields aggregates). Adds a `session_id` column.

    Identical semantics to `session_window` on final windows; lets
    in-session resolution (J6) and per-session row outputs compose.
    """
    w = Window.partitionBy(key).orderBy(ts)
    # microsecond math so the break condition is exactly
    # `session_window`'s (merge while diff < gap) and the oracle's
    # `ts - lag(ts) >= INTERVAL` — second-truncation would misplace
    # events that land within 1 s of a boundary
    us = F.unix_micros(F.col(ts))
    brk = F.when(
        us - F.lag(us).over(w) >= F.lit(duration_micros(gap)),
        1,
    ).otherwise(0)
    return df.withColumn(
        "session_id",
        F.sum(brk).over(
            Window.partitionBy(key).orderBy(ts).rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )


def multi_ip_login(
    df: DataFrame,
    key: str,
    addr_col: str,
    country_col: str,
    ts: str = "ts",
    gap: str = "2 hours",
    min_addrs: int = 2,
    min_countries: int = 1,
) -> DataFrame:
    """A5 AddonMultiIpLogin: per-account session windows; alert-shaped
    row when the session saw logins from >= min_addrs distinct
    addresses / >= min_countries distinct countries
    (`amo/AddonMultiIpLogin.java:84-265`, 15-min session gap there).
    """
    s = sessionize(df, key, ts, gap)
    return (
        s.groupBy(F.col(key), F.col("session_id"))
        .agg(
            F.min(ts).alias("first_ts"),
            F.count(F.lit(1)).alias("n_logins"),
            F.countDistinct(addr_col).alias("n_addrs"),
            F.countDistinct(country_col).alias("n_countries"),
        )
        .where(
            (F.col("n_addrs") >= min_addrs)
            & (F.col("n_countries") >= min_countries)
        )
        .drop("session_id")
    )


def assume_role_correlate(
    df: DataFrame,
    key: str,
    provider_predicate: Column,
    consumer_predicate: Column,
    subject_col: str,
    ts: str = "ts",
    gap: str = "2 minutes",
) -> DataFrame:
    """J6 AwsAssumeRoleCorrelator: within a per-key session, consumer
    events (sts:GetCallerIdentity — no usable subject) inherit the
    subject of the latest provider event (AssumeRole) in the same
    session (`authprofile/AwsAssumeRoleCorrelator.java:47-180`,
    default 120 s gap).

    Resolution is ORDER-FREE within the session — the reference
    groups the whole session and picks the trusted/trusting events by
    predicate (`:84-140` FixUpNormalized), so a consumer inherits
    even when it carries the same timestamp as (or sorts before) its
    provider; the golden fixture's two records share one eventTime
    (tests/test_reference_goldens.py). Expressed as last(ignorenulls)
    over the FULL session frame — one shuffle on the key, no join.

    Output: the consumer rows with `resolved_subject`.
    """
    s = sessionize(df.where(provider_predicate | consumer_predicate), key, ts, gap)
    w = (
        Window.partitionBy(key, "session_id")
        .orderBy(ts, "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    resolved = s.withColumn(
        "resolved_subject",
        F.last(
            F.when(provider_predicate, F.col(subject_col)), ignorenulls=True
        ).over(w),
    )
    return resolved.where(consumer_predicate & F.col("resolved_subject").isNotNull())


def status_comparator(
    df: DataFrame,
    key: str,
    scan_predicate: Column,
    failure_predicate: Column,
    ts: str = "ts",
    duration: str = "1 hour",
    min_scans: int = 2,
    min_failures: int = 1,
) -> DataFrame:
    """T6 CustomsStatusComparator (batch analog): per (key, window),
    flag sources that ran >= min_scans account-status-check scans and
    then >= min_failures login failures — the at-risk-account signal
    (`customs/CustomsStatusComparator.java:90-181`; reference keeps
    per-IP state in Datastore, here it's a windowed agg; the streaming
    twin would use applyInPandasWithState like streaming/state.py).
    """
    return (
        windowed_agg(
            df, [key], time_window(ts, duration),
            F.count(F.when(scan_predicate, 1)).alias("n_scans"),
            F.count(F.when(failure_predicate, 1)).alias("n_failures"),
        )
        .where(
            (F.col("n_scans") >= min_scans) & (F.col("n_failures") >= min_failures)
        )
        .drop("window_end")
    )


def private_relay_forward_mismatch(
    df: DataFrame,
    key: str,
    forward_col: str,
    ts: str = "ts",
    order_col: str = "event_id",
    hash_input: bool = True,
    rp_predicate: Column | None = None,
) -> DataFrame:
    """T7 PrivateRelayForward: the first-seen forward address per key
    establishes the expected hash; later events whose hashed forward
    differs are mismatches (`customs/PrivateRelayForward.java:115-245`
    — state holds the hash, never the raw address).

    `hash_input=False` for feeds where the column is ALREADY a hash —
    the relay service hashes client-side, so the reference's
    real_address field arrives pre-hashed and its state compares the
    strings directly (`:232-241`); golden-verified on the
    privaterelay fixtures in tests/test_reference_goldens.py.

    `rp_predicate` marks RP (profile-change) events, which UPDATE the
    expected state and never alert (`:205-215`). EVERY event leaves
    the state equal to its own address — RP events set it, a forward
    against null state seeds it (`:221-231`), a matching forward
    trivially equals it, and a MISMATCHING forward alerts and then
    updates it (`:247-256`) — so the expected value for any event is
    simply the previous event's address, and the whole stateful
    machine collapses to one lag() pass per uid. With no rp_predicate
    the operator keeps first-seen semantics (the state is never
    reset; every mismatch compares against the first value).
    """
    h = F.sha2(F.col(forward_col), 256) if hash_input else F.col(forward_col)
    if rp_predicate is None:
        w = (
            Window.partitionBy(key)
            .orderBy(ts, order_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return (
            df.withColumn("expected_hash", F.first(h).over(w))
            .withColumn("got_hash", h)
            .where(F.col("got_hash") != F.col("expected_hash"))
            .select(key, ts, order_col, "expected_hash", "got_hash")
        )
    w_ord = Window.partitionBy(key).orderBy(ts, order_col)
    expected = F.lag(h).over(w_ord)
    return (
        df.withColumn("expected_hash", expected)
        .withColumn("got_hash", h)
        .where(
            ~rp_predicate
            & F.col("expected_hash").isNotNull()
            & (F.col("got_hash") != F.col("expected_hash"))
        )
        .select(key, ts, order_col, "expected_hash", "got_hash")
    )


def watchlist_match(
    events: DataFrame,
    watchlist: DataFrame,
    obj_col: str,
    type_value: str = "ip",
) -> DataFrame:
    """S16/T8 Watchlist matching: broadcast-join the (tiny) watchlist
    against event/alert objects; matched rows carry the watchlist
    severity + creator (`Watchlist.java:201-232`,
    `postprocessing/PostProcessing.java:102-126` — the reference
    batches Datastore lookups to bound QPS; a broadcast join makes the
    batching moot).

    `watchlist` columns: wl_type, wl_object, wl_severity, wl_created_by.
    """
    wl = watchlist.where(F.col("wl_type") == type_value)
    return events.join(
        F.broadcast(wl), events[obj_col] == wl["wl_object"]
    ).drop("wl_type", "wl_object")
