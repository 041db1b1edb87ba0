"""Detector-family unit tests: the comparator/at-risk state-table
pair (cross-pipeline contract, SURVEY §7 hard part 2) and spot checks
of the new detector operators.
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from foxsec_pipeline_spark.operators.customs import status_comparator
from foxsec_pipeline_spark.operators.detectors import (
    addon_multi_submit,
    aws_behavior_match,
    etd_finding_alerts,
    login_failure_for_at_risk_account,
    status_comparator_state,
)


def test_at_risk_state_flows_across_queries(spark, tmp_path):
    """CustomsStatusComparator.java:155-164 writes email->scanned_by
    state read later by CustomsLoginFailureForAtRiskAccount.java:70-125.
    Query 1 persists the state snapshot to parquet; query 2 (a separate
    plan over a fresh read) joins it — proving the Datastore-kind
    contract works as an explicit state table across jobs."""
    events = spark.createDataFrame(
        [
            # victim@x: two status scans then a failure -> at risk
            Row(ts="2024-01-01 10:00:00", email="victim@x", kind="scan", ip="1.1.1.1"),
            Row(ts="2024-01-01 10:01:00", email="victim@x", kind="scan", ip="1.1.1.1"),
            Row(ts="2024-01-01 10:02:00", email="victim@x", kind="fail", ip="1.1.1.1"),
            # later failure for the at-risk account (different query run)
            Row(ts="2024-01-01 11:30:00", email="victim@x", kind="fail", ip="9.9.9.9"),
            # control account: failure but never scanned
            Row(ts="2024-01-01 11:00:00", email="ok@x", kind="fail", ip="2.2.2.2"),
        ]
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    # --- query 1: comparator -> state snapshot
    comp = status_comparator(
        events, key="email",
        scan_predicate=F.col("kind") == "scan",
        failure_predicate=F.col("kind") == "fail",
        ts="ts", duration="1 hour", min_scans=2, min_failures=1,
    ).withColumn("addr", F.lit("1.1.1.1"))
    state = status_comparator_state(comp, account_col="email", addr_col="addr")
    state_path = str(tmp_path / "at_risk_state")
    state.write.parquet(state_path)

    # --- query 2: fresh read of the snapshot feeds the detector
    at_risk = spark.read.parquet(state_path)
    hits = login_failure_for_at_risk_account(
        events, at_risk, account_col="email",
        failure_predicate=F.col("kind") == "fail", ts="ts",
    ).collect()
    assert {(r.email, str(r.ts)) for r in hits} == {
        ("victim@x", "2024-01-01 10:02:00"),
        ("victim@x", "2024-01-01 11:30:00"),
    }
    assert all(r.scanned_by == "1.1.1.1" for r in hits)


def test_etd_ignore_and_severity(spark):
    f = spark.createDataFrame(
        [
            Row(ts="2024-01-01 00:00:00", rule_name="iam_anomalous_grant",
                technique="t", indicator="i", project_number="1"),
            Row(ts="2024-01-01 00:10:00", rule_name="iam_anomalous_grant",
                technique="t", indicator="i", project_number="1"),  # suppressed
            Row(ts="2024-01-01 00:00:00", rule_name="noisy_scan",
                technique="t", indicator="i", project_number="1"),  # ignored
            Row(ts="2024-01-01 00:00:00", rule_name="persistence_gcs",
                technique="t", indicator="i", project_number="2"),
        ]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = etd_finding_alerts(
        f, ignore_rule_regexes=["noisy_.*"], high_rule_regexes=["iam_.*"],
        suppress_window="1 hour",
    ).collect()
    got = {(r.rule_name, r.handling_severity) for r in out}
    assert got == {("iam_anomalous_grant", "high"), ("persistence_gcs", "low")}
    assert len(out) == 2  # repeat suppressed


def test_aws_behavior_multi_match(spark):
    ev = spark.createDataFrame(
        [Row(event_name="CreateAccessKey", event_source="signin.amazonaws.com",
             mfa="false", user_name="u1")]
    )
    out = aws_behavior_match(
        ev,
        [
            {"description": "key created", "resource": "user_name",
             "fields": [["event_name", "CreateAccessKey"]]},
            {"description": "no mfa",
             "fields": [["event_source", "signin.amazonaws.com"], ["mfa", "false"]]},
        ],
        field_cols={"event_name": "event_name", "event_source": "event_source",
                    "mfa": "mfa", "user_name": "user_name"},
    ).collect()
    # one event, two matchers -> two alerts (reference runs one Matcher
    # transform per config entry over the same stream)
    assert sorted(r.matcher_description for r in out) == ["key created", "no mfa"]
    assert out[0].severity == "critical"


def test_addon_multi_submit_rounding_and_distinct(spark):
    rows = [
        Row(email=f"u{i}@x", bytes=12_345) for i in range(5)
    ] + [
        Row(email="u0@x", bytes=12_345),   # duplicate pair: ignored
        Row(email="small@x", bytes=2_000),  # under min size: ignored
    ]
    out = addon_multi_submit(
        spark.createDataFrame(rows), alert_on=5
    ).collect()
    assert len(out) == 1
    assert out[0].rounded_size == 20_000  # rounds UP to next 10k
    assert out[0].n_submitters == 5


def _skewed_account_fixture():
    """Realistically-skewed account fixture: one hot domain dominated
    by POPULAR names (why real groups are hot) plus typo-variant
    clusters and unique tails, smaller cold domains alongside.
    Deterministic — no RNG."""
    popular = ["john.smith", "maria.garcia", "wei.zhang", "anna.mueller"]
    rows = []
    i = 0
    # popular-name mass: 4 names x 150 accounts each, addresses cycling
    # with collisions (same machine re-registrations)
    for p, pname in enumerate(popular):
        for r in range(150):
            rows.append(("gmail.com", i, pname, f"198.51.{p}.{r % 37}"))
            i += 1
    # typo clusters: 30 seeds, each with 4 single-char variants
    for s in range(30):
        seed = f"account{s:02d}holder"
        variants = [seed, seed.replace("o", "0", 1), seed[:-1] + "x",
                    seed[0] + "_" + seed[2:]]
        for v, name in enumerate(variants):
            rows.append(("gmail.com", i, name, f"203.0.{s}.{v}"))
            i += 1
    # unique tail: clearly dissimilar names
    for u in range(300):
        rows.append(("gmail.com", i, f"zq{u:03d}-{u * 7919 % 997:03d}xj", f"192.0.2.{u % 251}"))
        i += 1
    # cold domains stay on the exact path
    for d in range(3):
        for u in range(20):
            rows.append((f"cold{d}.org", i, f"user{u % 5}x{u}", f"10.{d}.0.{u % 7}"))
            i += 1
    return rows


def test_account_creation_dist_minhash_hot_path_recall(spark):
    """The default hot-group strategy (distinct-name compression +
    char-bigram MinHash candidates + exact arithmetic expansion) is
    measured against the exact all-pairs path on a skewed fixture.
    Same-name mass is EXACT by construction; only borderline
    cross-name candidates depend on MinHash recall."""
    import time

    from foxsec_pipeline_spark.operators.customs import account_creation_dist

    df = spark.createDataFrame(
        _skewed_account_fixture(), "g string, id long, name string, addr string"
    )
    kw = dict(group_col="g", id_col="id", name_col="name", addr_col="addr",
              max_ratio=0.35)
    t0 = time.monotonic()
    exact = {(r.g, r.id): r.n_similar
             for r in account_creation_dist(df, hot_group_cutoff=10**9, **kw).collect()}
    t_exact = time.monotonic() - t0
    t0 = time.monotonic()
    approx = {(r.g, r.id): r.n_similar
              for r in account_creation_dist(df, hot_group_cutoff=500, **kw).collect()}
    t_minhash = time.monotonic() - t0

    # no spurious counts: the hot path checks candidates with the exact
    # predicate, so it can only UNDERcount (missed candidates), never
    # overcount — and cold domains are byte-identical (exact path)
    assert set(approx) <= set(exact)
    assert all(approx[k] <= exact[k] for k in approx)
    cold_exact = {k: v for k, v in exact.items() if not k[0].startswith("gmail")}
    cold_approx = {k: v for k, v in approx.items() if not k[0].startswith("gmail")}
    assert cold_exact == cold_approx and len(cold_exact) > 0

    # similar-pair mass recall on the hot domain
    mass_exact = sum(v for (g, _), v in exact.items() if g == "gmail.com")
    mass_got = sum(v for (g, _), v in approx.items() if g == "gmail.com")
    recall = mass_got / mass_exact
    rows_matched = sum(
        1 for k, v in exact.items() if k[0] == "gmail.com" and approx.get(k) == v
    ) / sum(1 for k in exact if k[0] == "gmail.com")
    print(f"acd hot-path: mass recall={recall:.4f} "
          f"exact-row fraction={rows_matched:.4f} "
          f"t_exact={t_exact:.2f}s t_minhash={t_minhash:.2f}s")
    assert recall >= 0.95
    assert rows_matched >= 0.9


def test_density_hot_split_cutoff_derivation(spark):
    """density.py unit semantics: the derived cutoff admits log2 size
    buckets smallest-first until the cumulative n² work would blow the
    budget, capped by the absolute cutoff."""
    from foxsec_pipeline_spark.operators.density import density_hot_split

    def sizes(*ns):
        return spark.createDataFrame([(int(n),) for n in ns], "sz long")

    # under budget everywhere -> absolute cutoff (exact path)
    assert density_hot_split(sizes(10, 10, 10), "sz", 1000, 100_000)[0] == 100_000
    # budget disabled -> absolute cutoff
    assert density_hot_split(sizes(10**6), "sz", None, 100_000)[0] == 100_000
    # 25 uniform groups of 100 (250k work) vs 100k budget: the whole
    # bucket (64, 128] is over -> everything above 64 is hot
    assert density_hot_split(
        sizes(*([100] * 25)), "sz", 100_000, 100_000
    )[0] == 64
    # mixed: the small groups' bucket fits, the single 1000-row group
    # does not -> cutoff lands between them (512 = its bucket's floor)
    assert density_hot_split(sizes(4, 4, 4, 1000), "sz", 500, 100_000)[0] == 512
    # absolute cutoff still wins when lower than the derived one
    assert density_hot_split(sizes(4, 4, 4, 1000), "sz", 500, 100)[0] == 100


def test_account_creation_dist_density_budget_engages(spark):
    """With no group over the row cutoff, a tiny work budget must
    still reroute uniformly-dense groups to the hot path (the r7
    step-up failure: 25x6k groups, 450M pairs, old cutoff never
    tripped). Hot-path output only ever UNDERcounts; budget=None
    keeps the exact path byte-identical."""
    from foxsec_pipeline_spark.operators.customs import account_creation_dist

    df = spark.createDataFrame(
        _skewed_account_fixture(), "g string, id long, name string, addr string"
    )
    kw = dict(group_col="g", id_col="id", name_col="name", addr_col="addr",
              max_ratio=0.35, hot_group_cutoff=10**9)
    exact = {(r.g, r.id): r.n_similar
             for r in account_creation_dist(
                 df, work_budget_pairs=None, **kw).collect()}
    # budget far below the fixture's ~1.7M pair work -> every domain
    # (even the cold ones) leaves the exact path
    dense = {(r.g, r.id): r.n_similar
             for r in account_creation_dist(
                 df, work_budget_pairs=10_000, **kw).collect()}
    assert set(dense) <= set(exact)
    assert all(dense[k] <= exact[k] for k in dense)
    mass = sum(dense.values()) / sum(exact.values())
    assert mass >= 0.9
    # a budget ABOVE the total work changes nothing
    same = {(r.g, r.id): r.n_similar
            for r in account_creation_dist(
                df, work_budget_pairs=10**9, **kw).collect()}
    assert same == exact


def test_account_creation_dist_sorted_hot_path(spark):
    """hot_strategy='sorted' (the homogeneous-name escape hatch used
    by the catalog query at step-up density): undercount-only, exact
    on cold groups, same-name mass exact by class arithmetic."""
    from foxsec_pipeline_spark.operators.customs import account_creation_dist

    df = spark.createDataFrame(
        _skewed_account_fixture(), "g string, id long, name string, addr string"
    )
    kw = dict(group_col="g", id_col="id", name_col="name", addr_col="addr",
              max_ratio=0.35)
    exact = {(r.g, r.id): r.n_similar
             for r in account_creation_dist(
                 df, hot_group_cutoff=10**9, work_budget_pairs=None,
                 **kw).collect()}
    approx = {(r.g, r.id): r.n_similar
              for r in account_creation_dist(
                  df, hot_group_cutoff=500, hot_strategy="sorted",
                  sorted_window=16, **kw).collect()}
    assert set(approx) <= set(exact)
    assert all(approx[k] <= exact[k] for k in approx)
    cold_exact = {k: v for k, v in exact.items() if not k[0].startswith("gmail")}
    cold_approx = {k: v for k, v in approx.items() if not k[0].startswith("gmail")}
    assert cold_exact == cold_approx and len(cold_exact) > 0
    mass_exact = sum(v for (g, _), v in exact.items() if g == "gmail.com")
    mass_got = sum(v for (g, _), v in approx.items() if g == "gmail.com")
    recall = mass_got / mass_exact
    print(f"acd sorted hot-path: mass recall={recall:.4f}")
    # lower floor than the minhash path ON THIS FIXTURE: the serial
    # "unique tail" names are mutually similar at ratio 0.35 but NOT
    # lexicographically local (the adversarial case for a sorted
    # window; minhash's broad bigram buckets catch them — the same
    # breadth that melts down on shared-prefix corpora). Same-name
    # class mass stays exact by arithmetic either way.
    assert recall >= 0.8
