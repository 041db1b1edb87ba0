"""The input-independent Column trees (envelope trees, payload chains,
parse projections, the dedup kernels' shingle and MinHash trees) are
memoized by `session.gateway_memo`, scoped to the py4j gateway: a
restarted gateway rebuilds the Column trees instead of serving handles
of the old one, and a dropped gateway takes its entry with it."""

import gc
import weakref

from pyspark import SparkContext

from foxsec_pipeline_spark import session
from foxsec_pipeline_spark.operators import dedup
from foxsec_pipeline_spark.parser import envelopes, parse


class _Gateway:
    """Stands in for a restarted py4j gateway: a different key."""


def test_envelope_cols_cached_per_gateway(spark, monkeypatch):
    first = envelopes._envelope_cols("value")
    assert envelopes._envelope_cols("value") is first
    # another session on the same JVM shares the gateway, so the cache
    assert SparkContext._gateway is spark.newSession().sparkContext._gateway

    restarted = _Gateway()
    monkeypatch.setattr(SparkContext, "_gateway", restarted)
    fresh = envelopes._envelope_cols("value")
    assert fresh is not first
    assert envelopes._envelope_cols("value") is fresh

    monkeypatch.undo()
    assert envelopes._envelope_cols("value") is first
    gone = weakref.ref(restarted)
    del restarted
    gc.collect()
    assert gone() is None
    assert list(session._GATEWAY_MEMO.keys()) == [SparkContext._gateway]


def test_parse_chain_and_projection_cached_per_gateway(spark, monkeypatch):
    chain = parse._cached_chain([])
    proj = parse._projection(chain)
    # repeated parse_events calls on one gateway stay cache hits
    assert parse._cached_chain([]) is chain
    assert parse._projection(chain) is proj

    restarted = _Gateway()
    monkeypatch.setattr(SparkContext, "_gateway", restarted)
    fresh = parse._cached_chain([])
    assert fresh is not chain
    assert parse._cached_chain([]) is fresh
    fresh_proj = parse._projection(fresh)
    assert fresh_proj is not proj
    # a chain built on the old gateway is not served its old projection
    assert parse._projection(chain) is not proj

    monkeypatch.undo()
    assert parse._cached_chain([]) is chain
    assert parse._projection(chain) is proj
    gone = weakref.ref(restarted)
    del restarted
    gc.collect()
    assert gone() is None
    assert list(session._GATEWAY_MEMO.keys()) == [SparkContext._gateway]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_dedup_kernel_cols_cached_per_gateway(spark, monkeypatch):
    """`minhash_lsh_pairs` and `ngram_jaccard_pairs` build their shingle
    tree (shared by both) and their MinHash minima and band structs
    once per gateway, and give the same rows from memoized trees."""
    corpus = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w v u"),
         (4, "a b c d e f"), (5, "short")],
        "doc_id long, text string",
    )
    monkeypatch.setattr(session, "_GATEWAY_MEMO", weakref.WeakKeyDictionary())
    builds = []
    for name in ("_shingle_array_col", "_minhash_min_cols", "_minhash_band_cols"):
        real = getattr(dedup, name)
        monkeypatch.setattr(
            dedup, name,
            lambda *a, _real=real, _name=name: builds.append(_name) or _real(*a),
        )
    mh = _rows(dedup.minhash_lsh_pairs(corpus))
    nj = _rows(dedup.ngram_jaccard_pairs(corpus))
    assert mh and nj
    assert sorted(builds) == [
        "_minhash_band_cols", "_minhash_min_cols", "_shingle_array_col"
    ]
    # hits on the same gateway: no rebuild, the same rows
    assert _rows(dedup.minhash_lsh_pairs(corpus)) == mh
    assert _rows(dedup.ngram_jaccard_pairs(corpus)) == nj
    assert len(builds) == 3

    restarted = _Gateway()
    with monkeypatch.context() as m:
        m.setattr(SparkContext, "_gateway", restarted)
        fresh_mh = dedup.minhash_lsh_pairs(corpus)
        fresh_nj = dedup.ngram_jaccard_pairs(corpus)
        assert len(builds) == 6
    assert _rows(fresh_mh) == mh
    assert _rows(fresh_nj) == nj
    dedup.minhash_lsh_pairs(corpus)
    assert len(builds) == 6
    gone = weakref.ref(restarted)
    del restarted
    gc.collect()
    assert gone() is None
    assert list(session._GATEWAY_MEMO.keys()) == [SparkContext._gateway]
