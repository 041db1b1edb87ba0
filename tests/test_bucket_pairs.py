"""The in-bucket pair kernel `dedup.bucket_pairs`: its rows against
`itertools.combinations`, its plan shape, and the two shingle-pair
operators built on it against the explode-against-itself bodies they
replaced."""

import re
from collections import Counter
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from foxsec_pipeline_spark.operators.dedup import (
    _shingled,
    bucket_pairs,
    containment_pairs,
    ngram_jaccard_pairs,
)

ARRAYS = {
    1: [],
    2: [42],
    3: [3, 9],
    4: [5, 1, 8, 1, 13, 2, 21],  # unsorted, one repeated element
    5: None,
}


@pytest.fixture(scope="module")
def buckets(spark):
    return spark.createDataFrame(
        list(ARRAYS.items()), "k long, ps array<long>"
    )


def _want(with_key):
    rows = Counter()
    for k, arr in ARRAYS.items():
        for a, b in combinations(arr or [], 2):
            rows[(a, b, k) if with_key else (a, b)] += 1
    return rows


@pytest.mark.parametrize("with_key", [False, True])
def test_bucket_pairs_equals_combinations(buckets, with_key):
    keep = ["k"] if with_key else []
    out = bucket_pairs(buckets, "ps", "a", "b", *keep)
    assert out.columns == ["a", "b", *keep]
    got = Counter(tuple(r) for r in out.collect())
    assert got == _want(with_key)
    assert sum(got.values()) == 0 + 0 + 1 + 21


def test_bucket_pairs_plan_shape(buckets):
    """Two codegen Generates and nothing else: no Exchange, no
    higher-order lambda, no Filter of the kernel's own. The one Filter
    allowed is the non-empty guard Spark infers for any posexplode on
    its input array."""
    plan = (
        bucket_pairs(buckets, "ps", "a", "b", "k")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Generate ") == 2, plan
    assert "Exchange" not in plan, plan
    assert "lambdafunction" not in plan, plan
    filters = [ln for ln in plan.splitlines() if "Filter" in ln]
    assert all(
        re.search(r"Filter \(\(size\(ps#\d+, false\) > 0\) AND isnotnull\(ps#\d+\)\)$", ln)
        for ln in filters
    ), plan


# -- the shingle-pair operators against the bodies they replaced ------


def _reference_pair_counts(df, n, df_cap, order):
    ex = _shingled(df, "doc_id", "text", n)
    grouped = (
        ex.groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ds"))
        .where((F.size("ds") >= 2) & (F.size("ds") <= int(df_cap)))
    )
    return (
        grouped.select("ds", F.explode("ds").alias("a"))
        .select("a", F.explode("ds").alias("b"))
        .where(order(F.col("a")["doc_id"], F.col("b")["doc_id"]))
    )


def _reference_ngram_jaccard(df, n, threshold, df_cap):
    pairs = (
        _reference_pair_counts(df, n, df_cap, lambda a, b: a < b)
        .groupBy(
            F.col("a")["doc_id"].alias("doc_a"),
            F.col("b")["doc_id"].alias("doc_b"),
            F.col("a")["n_sh"].alias("na"),
            F.col("b")["n_sh"].alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return pairs.where(jac >= F.lit(float(threshold))).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


def _reference_containment(df, n, threshold_ppm, df_cap):
    pairs = (
        _reference_pair_counts(df, n, df_cap, lambda a, b: a != b)
        .groupBy(
            F.col("a")["doc_id"].alias("doc_a"),
            F.col("b")["doc_id"].alias("doc_b"),
            F.col("a")["n_sh"].alias("n_a"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return pairs.where(
        F.col("common") * 1_000_000 >= F.lit(int(threshold_ppm)) * F.col("n_a")
    ).select(
        "doc_a", "doc_b", "n_a", "common",
        F.expr("(common * 1000000) div n_a").alias("containment_ppm"),
    )


TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",
    # fully contained in the first document
    "quick brown fox jumps over",
    "a b a b a b a b",  # repeated shingles inside one document
    "a b a b c",
    # short documents: fewer tokens than n, empty, null
    "two words",
    "one",
    "",
    None,
    # "alpha beta gamma" is shared by five documents, over df_cap = 4
    "alpha beta gamma one",
    "alpha beta gamma two",
    "alpha beta gamma three",
    "x alpha beta gamma",
    "y alpha beta gamma",
    "same text twice here",
    "same text twice here",
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id long, text string"
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("threshold,df_cap", [(0.0, 4), (0.5, 64)])
def test_ngram_jaccard_matches_reference(docs, threshold, df_cap):
    got = _rows(ngram_jaccard_pairs(docs, threshold=threshold, df_cap=df_cap))
    want = _rows(_reference_ngram_jaccard(docs, 3, threshold, df_cap))
    assert got == want and len(got) > 0


@pytest.mark.parametrize("threshold_ppm,df_cap", [(0, 4), (800_000, 64)])
def test_containment_matches_reference(docs, threshold_ppm, df_cap):
    out = containment_pairs(docs, threshold_ppm=threshold_ppm, df_cap=df_cap)
    got = _rows(out)
    want = _rows(_reference_containment(docs, 3, threshold_ppm, df_cap))
    assert got == want and len(got) > 0
    # the contained document scores 1.0 against its container
    assert (2, 0, 3, 3, 1_000_000) in got
