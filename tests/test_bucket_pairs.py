"""The in-bucket pair kernel `dedup.bucket_pairs`: its rows against
`itertools.combinations`, its plan shape; the bucket builders
`bucket_arrays`/`bucketed_pairs` against the hand-written
group/sort/size-filter/repartition block they replaced; the input
checks of the MinHash and Hamming generators; and the two shingle-pair
operators against the explode-against-itself bodies they replaced."""

import re
from collections import Counter
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from foxsec_pipeline_spark.operators.dedup import (
    _shingled,
    bucket_arrays,
    bucket_pairs,
    bucketed_pairs,
    containment_pairs,
    hamming_pairs,
    minhash_lsh_pairs,
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


# -- the bucket builders against the hand-written block -------------

# (k, g) -> items; bucket widths 1..4, one repeated item
BUCKETS = {
    (1, "x"): [7],
    (2, "x"): [4, 2],
    (2, "y"): [9, 3, 6],
    (3, "x"): [5, 1, 5, 8],
}


@pytest.fixture(scope="module")
def keyed(spark):
    return spark.createDataFrame(
        [(k, g, x) for (k, g), xs in BUCKETS.items() for x in xs],
        "k long, g string, x long",
    )


def _reference_arrays(df, cap):
    grouped = (
        df.groupBy("k", "g")
        .agg(F.sort_array(F.collect_list("x")).alias("xs"))
        .where(F.size("xs") >= 2)
    )
    if cap is not None:
        grouped = grouped.where(F.size("xs") <= cap)
    return grouped


def _reference_pairs(df, cap, keep):
    par = df.sparkSession.sparkContext.defaultParallelism
    return bucket_pairs(
        _reference_arrays(df, cap).repartition(par), "xs", "a", "b", *keep
    )


def _bag(df):
    return Counter(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    )


@pytest.mark.parametrize("cap,widths", [(None, {2, 3, 4}), (2, {2}), (3, {2, 3})])
def test_bucket_arrays_equals_hand_block(keyed, cap, widths):
    out = bucket_arrays(keyed, ["k", "g"], "x", cap=cap)
    assert out.columns == ["k", "g", "__bucket"]
    got = _bag(out)
    assert got == _bag(_reference_arrays(keyed, cap))
    # a 1-item key never pairs; a `cap`-wide bucket stays, a wider one goes
    assert {len(r[2]) for r in got} == widths


@pytest.mark.parametrize("keep", [[], ["g"], ["k", "g"]])
@pytest.mark.parametrize("cap", [None, 2, 3])
def test_bucketed_pairs_equals_hand_block(keyed, cap, keep):
    out = bucketed_pairs(keyed, ["k", "g"], "x", "a", "b", *keep, cap=cap)
    assert out.columns == ["a", "b", *keep]
    got = _bag(out)
    assert got == _bag(_reference_pairs(keyed, cap, keep))
    want = sum(
        len(xs) * (len(xs) - 1) // 2
        for xs in BUCKETS.values()
        if 2 <= len(xs) <= (cap or len(xs))
    )
    assert sum(got.values()) == want


def test_bucketed_pairs_plan_shape(keyed):
    """One hash Exchange on the keys (the grouping), one round-robin
    Exchange (the spread) and the kernel's two Generates."""
    plan = (
        bucketed_pairs(keyed, ["k", "g"], "x", "a", "b", "g")
        ._jdf.queryExecution().executedPlan().toString()
    )
    exchanges = [ln for ln in plan.splitlines() if "Exchange " in ln]
    assert len(exchanges) == 2, plan
    assert sum(
        bool(re.search(r"Exchange hashpartitioning\(k#\d+L?, g#\d+, ", ln))
        for ln in exchanges
    ) == 1, plan
    assert sum("Exchange RoundRobinPartitioning(" in ln for ln in exchanges) == 1, plan
    assert plan.count("Generate ") == 2, plan


# -- input checks that hold under `python -O` -------------------------


@pytest.mark.parametrize(
    "make,bound",
    [
        (lambda d: minhash_lsh_pairs(d, num_hashes=65, band_size=1),
         r"num_hashes must be in \[1, 64\]"),
        (lambda d: minhash_lsh_pairs(d, num_hashes=8, band_size=3),
         "band_size must be >= 1 and divide num_hashes=8"),
        (lambda d: minhash_lsh_pairs(d, num_hashes=8, band_size=0),
         "band_size must be >= 1 and divide num_hashes=8"),
        (lambda d: hamming_pairs(d.select("doc_id", F.lit(0).alias("simhash")),
                                 bits=16, bands=3),
         "bands must be >= 1 and divide bits=16"),
    ],
    ids=["minhash-65x1", "minhash-8x3", "minhash-8x0", "hamming-16x3"],
)
def test_generator_bounds_raise_value_error(docs, make, bound):
    with pytest.raises(ValueError, match=bound):
        make(docs)


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
