"""`pq_encode` (literal codebooks in one map projection) against a
numpy reference built on `_collect_fixed_point`: per subspace, the
argmin of the int64 squared L2 distance, ties to the lowest code."""

import numpy as np
import pytest

from foxsec_pipeline_spark.operators.similarity import (
    _collect_fixed_point,
    pq_encode,
    pq_train_codebooks,
)
from foxsec_pipeline_spark.plans.catalog_data import (
    _PQ_N_SUB,
    _PQ_SEED_IDS,
    _PQ_TRAIN_ITERS,
)
from foxsec_pipeline_spark.session import load_tables

SF_DIR = "/root/testdata/sf0.001"


def _np_codes(df, codebooks):
    """{(id, m): code}; np.argmin takes the first min over codes in
    ascending order, i.e. the lowest code."""
    ids, X = _collect_fixed_point(df, "vec_id", "embedding")
    out = {}
    for m in sorted({m for m, _ in codebooks}):
        cids = np.array(sorted(c for mm, c in codebooks if mm == m))
        C = np.array([codebooks[(m, c)] for c in cids], dtype="int64")
        sub = X[:, m * C.shape[1]:(m + 1) * C.shape[1]]
        d = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        for i, code in zip(ids.tolist(), cids[np.argmin(d, axis=1)].tolist()):
            out[(i, m)] = code
    return out


def _codes(df, codebooks):
    return {(r["vec_id"], r["__m"]): r["code"] for r in pq_encode(df, codebooks).collect()}


def test_pq_encode_matches_numpy_reference(spark):
    emb = load_tables(spark, SF_DIR, "embeddings")["embeddings"]
    cb = pq_train_codebooks(
        emb, list(_PQ_SEED_IDS), n_sub=_PQ_N_SUB, iters=_PQ_TRAIN_ITERS
    )
    codes = pq_encode(emb, cb)
    assert codes.columns == ["vec_id", "__m", "code"]
    assert _codes(emb, cb) == _np_codes(emb, cb)
    # one projection: join- and aggregate-free with no hash-partitioning
    # shuffle (the only Exchange is spread()'s round-robin fan-out)
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Aggregate" not in plan
    assert "hashpartitioning" not in plan


def test_pq_encode_tie_goes_to_lowest_code(spark):
    # [0.5, 0.5] -> fixed point [2^19, 2^19] is equally far from codes
    # 7 and 3 in subspace 0; dict order puts 7 first, the rule picks 3
    one = 1 << 20
    cb = {(0, 7): [one, one], (0, 3): [0, 0], (0, 5): [-one, -one]}
    df = spark.createDataFrame(
        [(1, [0.5, 0.5])], "vec_id long, embedding array<double>"
    )
    assert _np_codes(df, cb) == {(1, 0): 3}
    assert _codes(df, cb) == {(1, 0): 3}


def test_literal_encode_range_guard(spark):
    """Out-of-range components must raise (the INT_COMPONENT_BOUND
    contract). K >= 2 codes per subspace: with a single code the
    argmin is a constant and Catalyst legitimately prunes the distance
    expression (struct-field extraction simplification), so the guard
    never evaluates — the catalog operating point is K=16."""
    bad = spark.createDataFrame(
        [(1, [400.0] * 64)], "vec_id long, embedding array<double>"
    )
    cb = {(m, c): [c] * 8 for m in range(8) for c in (0, 1)}
    with pytest.raises(Exception, match="fixed-point component"):
        pq_encode(bad, cb).collect()


def test_pq_encode_drops_null_and_empty_vectors(spark):
    """A null or an empty vector gets no code rows, as in the LSH and
    IVF kernels; the other rows are encoded as without them."""
    one = 1 << 20
    cb = {(0, 1): [one, 0], (0, 2): [0, one], (1, 1): [one, 0], (1, 2): [0, one]}
    schema = "vec_id long, embedding array<double>"
    good = [(1, [0.9, 0.1, 0.2, 0.8]), (2, [0.1, 0.9, 0.7, 0.3])]
    want = {(1, 0): 1, (1, 1): 2, (2, 0): 2, (2, 1): 1}
    assert _codes(spark.createDataFrame(good, schema), cb) == want
    bad = [(3, None), (4, [])]
    assert _codes(spark.createDataFrame(good + bad, schema), cb) == want
