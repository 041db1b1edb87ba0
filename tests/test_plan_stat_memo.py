"""Focused tests for the plan-construction statistics memo
(session.plan_stat_memo): plan-shaping statistics (density buckets,
n_docs/emission scalars) are computed ONCE per (session, probe plan)
and reused on semantically-equal rebuilds — but a semantically
DIFFERENT probe can never alias into a cached value, and a statistic
that feeds the result is measured on the input as it is now."""

from pyspark.sql import functions as F

from foxsec_pipeline_spark.session import (
    global_common_prefix_len,
    plan_stat_memo,
)


def _probe(df, flt=None):
    if flt is not None:
        df = df.where(flt)
    return df.select(F.min("name").alias("__mn"), F.max("name").alias("__mx"))


def test_memo_runs_once_for_semantically_equal_plans(spark):
    calls = []

    def run(p):
        calls.append(1)
        return p.first()["__mn"]

    # the production shape: probe plans REBUILT per invocation over the
    # same base relation (load_tables memoizes the table DataFrame, so
    # bench reps construct fresh-but-semantically-equal probe nodes).
    # Two createDataFrame calls would NOT alias (each is a distinct
    # LogicalRDD) — that non-aliasing is the safety property the
    # sameResult key provides.
    base = spark.createDataFrame(
        [("Customer#001",), ("Customer#042",)], "name string"
    )
    assert plan_stat_memo(_probe(base), run) == "Customer#001"
    assert plan_stat_memo(_probe(base), run) == "Customer#001"
    assert len(calls) == 1
    # a separately-created (even identical-content) relation is a
    # DIFFERENT plan: it must not serve the cached value
    other = spark.createDataFrame(
        [("Customer#001",), ("Customer#042",)], "name string"
    )
    assert plan_stat_memo(_probe(other), run) == "Customer#001"
    assert len(calls) == 2


def test_memo_distinguishes_different_plans(spark):
    def run(p):
        return p.first()["__mx"]

    base = spark.createDataFrame(
        [("aa",), ("ab",), ("zz",)], "name string"
    )
    full = plan_stat_memo(_probe(base), run)
    filtered = plan_stat_memo(_probe(base, F.col("name") < "z"), run)
    assert full == "zz"
    assert filtered == "ab"


def test_global_common_prefix_len_values(spark):
    df = spark.createDataFrame(
        [("Customer#000000001",), ("Customer#000000942",)], "name string"
    )
    assert global_common_prefix_len(df, "name") == len("Customer#000000")
    df2 = spark.createDataFrame([("abc",), ("xyz",)], "name string")
    assert global_common_prefix_len(df2, "name") == 0
    # all-null and empty populations -> 0, no crash
    df3 = spark.createDataFrame(
        [(None,), (None,)], "name string"
    )
    assert global_common_prefix_len(df3, "name") == 0
    df4 = spark.createDataFrame([], "name string")
    assert global_common_prefix_len(df4, "name") == 0


def test_prefix_strip_follows_input_overwritten_mid_session(spark, tmp_path):
    """The common-prefix strip changes the distance it is applied to,
    so a parquet dir overwritten in the same session must be measured
    again: a prefix of 17 kept from the first names would leave one
    character of each new name and pair them at distance 1."""
    from foxsec_pipeline_spark.operators.dedup import edit_distance_pairs_blocked

    path = str(tmp_path / "names.parquet")

    def pairs(names):
        spark.createDataFrame(
            [(1, 1, names[0]), (1, 2, names[1])], "g int, id long, name string"
        ).write.mode("overwrite").parquet(path)
        out = edit_distance_pairs_blocked(
            spark.read.parquet(path), ["g"], "id", "name", max_dist=1
        )
        return [(r.id_a, r.id_b, r.name_dist) for r in out.collect()]

    assert pairs(("Customer#000000001", "Customer#000000002")) == [(1, 2, 1)]
    assert pairs(("Alexander Hamilton", "Benjamin Franklin!")) == []


def test_density_split_memoized_profile_still_honors_args(spark):
    """The density bucket profile is memoized, but the cutoff math
    re-runs per call: different budgets over the SAME sizes input must
    still produce different cutoffs."""
    from foxsec_pipeline_spark.operators.density import density_hot_split

    sizes = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 1000)], "g int, n int"
    )
    generous, hot1 = density_hot_split(sizes, "n", 10**12, 100_000)
    tight, hot2 = density_hot_split(sizes, "n", 50, 100_000)
    assert generous == 100_000 and not hot1
    assert tight < 1000 and hot2
