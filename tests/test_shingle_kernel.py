"""The map-side shingle kernel (`dedup._shingle_arrays` and the exploded
`dedup._shingled`) against the posexplode + window-`lead` form it
replaced: equal rows, and a plan with no Exchange or Sort ahead of the
consumer's own aggregate."""

from collections import Counter

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from foxsec_pipeline_spark.functions.text import md5_bucket, tokens
from foxsec_pipeline_spark.operators.dedup import _shingle_arrays, _shingled

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "  leading and trailing   blanks\tand\ttabs  ",
    "a b a b a b a b",  # repeated shingles inside one document
    "two words",  # shorter than n for n >= 3
    "one",
    "",
    None,
    "naïve café déjà vu — ünïcode tokens",
    "x y z x y z x y z x y z",
    "same text twice",
    "same text twice",
]


@pytest.fixture(scope="module")
def docs(spark):
    # at least defaultParallelism rows, so the kernel's `spread` is a
    # no-op and the plan holds only the kernel itself
    par = spark.sparkContext.defaultParallelism
    rows = [(i, TEXTS[i % len(TEXTS)]) for i in range(max(2 * par, 3 * len(TEXTS)))]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _window_lead(df, n):
    """(doc_id, shingle): one row per word n-gram occurrence, built by
    posexplode + window `lead` over the token stream."""
    tok = df.where(F.size(tokens(F.col("text"))) >= n).select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "__t")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("__t")] + [F.lead("__t", i).over(w) for i in range(1, n)]
    return tok.select(
        "doc_id", F.concat_ws(" ", *parts).alias("shingle"), parts[-1].alias("__last")
    ).where(F.col("__last").isNotNull()).drop("__last")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("n", [2, 3, 5])
def test_shingle_arrays_match_window_lead(spark, docs, n):
    want = Counter(tuple(r) for r in _window_lead(docs, n).collect())
    every = _shingle_arrays(docs, "doc_id", "text", n, distinct=False)
    got = Counter(
        (r.doc_id, s) for r in every.collect() for s in r["__ss"]
    )
    assert got == want
    distinct = {
        r.doc_id: r["__ss"]
        for r in _shingle_arrays(docs, "doc_id", "text", n).collect()
    }
    for doc_id, arr in distinct.items():
        assert len(arr) == len(set(arr))
        assert set(arr) == {s for d, s in want if d == doc_id}


def test_shingled_matches_window_lead(spark, docs):
    ref = _window_lead(docs, 3).distinct()
    per_doc = ref.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    want = sorted(
        tuple(r)
        for r in ref.join(per_doc, "doc_id")
        .select("doc_id", "n_sh", md5_bucket(F.col("shingle")).alias("shingle"))
        .collect()
    )
    got = sorted(tuple(r) for r in _shingled(docs, "doc_id", "text", 3).collect())
    assert got == want


def test_shingle_plan_has_no_exchange_or_sort_before_consumer_agg(spark, docs):
    kernel = _plan(_shingle_arrays(docs, "doc_id", "text", 3))
    for node in ("Exchange", "Sort", "Aggregate", "Window"):
        assert node not in kernel, kernel
    consumer = _plan(
        _shingled(docs, "doc_id", "text", 3)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    # the consumer's own aggregate exchange is the only one
    assert consumer.count("Exchange ") == 1, consumer
    assert "Exchange hashpartitioning(shingle" in consumer, consumer
    assert "Sort " not in consumer and "Window" not in consumer, consumer
    # the check can see what the kernel removed
    old = _plan(_window_lead(docs, 3).groupBy("shingle").count())
    assert old.count("Exchange ") == 2 and "Sort " in old, old
