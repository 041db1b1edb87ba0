"""The parser's Column caches (envelope trees, payload chains, parse
projections) are scoped to the py4j gateway: a restarted gateway
rebuilds the Column trees instead of serving handles of the old one,
and a dropped gateway takes its entry with it."""

import gc
import weakref

from pyspark import SparkContext

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
    assert list(envelopes._ENVELOPE_COLS.keys()) == [SparkContext._gateway]


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
    assert list(parse._PARSE_COLS.keys()) == [SparkContext._gateway]
