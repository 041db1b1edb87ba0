"""The envelope Column cache is scoped to the py4j gateway: a restarted
gateway rebuilds the Column trees instead of serving handles of the old
one, and a dropped gateway takes its entry with it."""

import gc
import weakref

from pyspark import SparkContext

from foxsec_pipeline_spark.parser import envelopes


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
