"""The IVF and PQ codebook trainers: one bounded driver-side collect,
capped at TRAIN_DRIVER_ROWS input vectors."""

import pytest

from foxsec_pipeline_spark.operators import similarity
from foxsec_pipeline_spark.operators.similarity import (
    ivf_train_codebook,
    pq_train_codebooks,
)
from foxsec_pipeline_spark.plans.catalog_data import (
    _CENTROID_IDS,
    _IVF_TRAIN_ITERS,
    _PQ_N_SUB,
    _PQ_SEED_IDS,
    _PQ_TRAIN_ITERS,
)
from foxsec_pipeline_spark.session import load_tables
from tests.conftest import SF_DIR


def _ivf(emb):
    return ivf_train_codebook(emb, list(_CENTROID_IDS), iters=_IVF_TRAIN_ITERS)


def _pq(emb):
    return pq_train_codebooks(
        emb, list(_PQ_SEED_IDS), n_sub=_PQ_N_SUB, iters=_PQ_TRAIN_ITERS
    )


def test_trainers_reject_input_over_the_cap(spark, monkeypatch):
    """Above TRAIN_DRIVER_ROWS both trainers raise and ask for a
    sample; at exactly the cap they train the same codebooks as with
    the default cap."""
    emb = load_tables(spark, SF_DIR, "embeddings")["embeddings"]
    n = emb.count()
    ivf, pq = _ivf(emb), _pq(emb)
    monkeypatch.setattr(similarity, "TRAIN_DRIVER_ROWS", n - 1)
    with pytest.raises(ValueError, match=f"TRAIN_DRIVER_ROWS = {n - 1}.*sample"):
        _ivf(emb)
    with pytest.raises(ValueError, match=f"TRAIN_DRIVER_ROWS = {n - 1}.*sample"):
        _pq(emb)
    monkeypatch.setattr(similarity, "TRAIN_DRIVER_ROWS", n)
    assert _ivf(emb) == ivf
    assert _pq(emb) == pq


def test_ivf_train_codebook_fires_one_job(spark):
    """Training is one collect of the input vectors and nothing else:
    no row-count probe, no per-iteration job."""
    emb = load_tables(spark, SF_DIR, "embeddings")["embeddings"]
    sc = spark.sparkContext
    group = "ivf_train_codebook_jobs"
    sc.setJobGroup(group, "job count")
    try:
        cb = _ivf(emb)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sorted(cb) == sorted(_CENTROID_IDS)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
