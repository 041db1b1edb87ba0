"""Row-level checks of the fixed-point embedding kernels:

- `ivf_assign` and the IVF candidate stage against a numpy reference
  built on `_collect_fixed_point` (argmax int64 MIPS dot, ties to the
  lowest cid; probe cells = top-nprobe by (dot desc, cid asc));
- both physical forms of `lsh_buckets_relational` against the
  posexplode + groupBy-sum pipeline, kept here as the reference;
- the INT_COMPONENT_BOUND contract on malformed vectors."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from foxsec_pipeline_spark.operators.similarity import (
    LSH_SCALE,
    _collect_fixed_point,
    _ivf_candidates,
    ivf_assign,
    ivf_train_codebook,
    lsh_buckets_relational,
)
from foxsec_pipeline_spark.session import load_tables

SF_DIR = "/root/testdata/sf0.001"
_SCHEMA = "vec_id long, embedding array<double>"


def _np_mips_dots(df, codebook):
    """(ids, cids ascending, int64 dots[n, K]) in LSH_SCALE fixed point."""
    ids, X = _collect_fixed_point(df, "vec_id", "embedding")
    cids = np.array(sorted(codebook), dtype="int64")
    C = np.array(
        [[math.floor(float(x) * LSH_SCALE) for x in codebook[c]] for c in cids],
        dtype="int64",
    )
    return ids, cids, X @ C.T


def _np_cells(df, codebook):
    """{id: cell}: argmax dot; np.argmax takes the first max, i.e. the
    lowest cid."""
    ids, cids, D = _np_mips_dots(df, codebook)
    return dict(zip(ids.tolist(), cids[np.argmax(D, axis=1)].tolist()))


def _np_probes(df, codebook, nprobe):
    """{id: [cell, ...]}: the nprobe cells by (dot desc, cid asc)."""
    ids, cids, D = _np_mips_dots(df, codebook)
    order = np.lexsort((np.broadcast_to(cids, D.shape), -D), axis=1)
    return {i: cids[o[:nprobe]].tolist() for i, o in zip(ids.tolist(), order)}


def _np_candidates(queries, corpus, codebook, nprobe):
    cells = _np_cells(corpus, codebook)
    return {
        (q, n)
        for q, probe in _np_probes(queries, codebook, nprobe).items()
        for n, c in cells.items()
        if c in probe and n != q
    }


def _candidates(queries, corpus, codebook, nprobe):
    return {
        (r["query_id"], r["neighbor_id"])
        for r in _ivf_candidates(
            queries, corpus, codebook, "vec_id", "embedding", nprobe
        ).collect()
    }


def _lsh_reference(df, tables, id_col="vec_id", vec_col="embedding"):
    """The posexplode + one integer agg per plane + sign-pack bucket
    pipeline, kept as the semantic reference."""
    ex = df.select(
        F.col(id_col), F.col(vec_col),
        F.posexplode(vec_col).alias("__j", "__x"),
    )
    scaled = ex.select(
        F.col(id_col), F.col(vec_col), F.col("__j"),
        F.floor(F.col("__x").cast("double") * F.lit(float(LSH_SCALE)))
        .cast("long").alias("__xs"),
    )
    aggs = [F.first(F.col(vec_col)).alias(vec_col)]
    for t, table in enumerate(tables):
        for i, plane in enumerate(table):
            coefs = ",".join(str(int(v)) for v in plane)
            aggs.append(
                F.expr(f"sum(__xs * element_at(array({coefs}), __j + 1))")
                .alias(f"__d_{t}_{i}")
            )
    dots = scaled.groupBy(id_col).agg(*aggs)
    packed = ", ".join(
        " + ".join(
            f"(CASE WHEN __d_{t}_{i} > 0 THEN {2 ** i} ELSE 0 END)"
            for i in range(len(table))
        )
        for t, table in enumerate(tables)
    )
    return dots.select(
        F.col(id_col), F.col(vec_col),
        F.posexplode(F.expr(f"array({packed})")).alias("__tbl", "__bkt"),
    )


def test_ivf_assign_matches_numpy_reference(spark):
    from foxsec_pipeline_spark.plans.catalog_data import _CENTROID_IDS

    emb = load_tables(spark, SF_DIR, "embeddings")["embeddings"]
    cb = ivf_train_codebook(emb, list(_CENTROID_IDS), iters=3)
    want = _np_cells(emb, cb)
    got_df = ivf_assign(emb, cb, carry_cols=("label",))
    rows = got_df.collect()
    assert {r["vec_id"]: r["cell"] for r in rows} == want
    assert len(rows) == emb.count()
    # carry must be the row's own column, and the plan join/agg-free
    labels = dict(
        emb.select("vec_id", "label").rdd.map(tuple).collect()
    )
    for r in rows:
        assert labels[r["vec_id"]] == r["label"]
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Aggregate" not in plan


def test_ivf_assign_tie_goes_to_lowest_cid(spark):
    # [0.5, 0.5] has the same dot with centroids 5 and 2; dict order
    # puts 5 first, the rule picks 2
    cb = {5: [1.0, 0.0], 2: [0.0, 1.0], 9: [-1.0, 0.0]}
    df = spark.createDataFrame([(1, [0.5, 0.5])], _SCHEMA)
    assert _np_cells(df, cb) == {1: 2}
    assert [(r["vec_id"], r["cell"]) for r in ivf_assign(df, cb).collect()] == [
        (1, 2)
    ]


def test_lsh_buckets_map_form_matches_relational(spark):
    """Both physical branches (map form below the plane cutoff,
    relational above it) must equal the r12 reference pipeline."""
    from foxsec_pipeline_spark.plans.catalog_data import (
        _LSH_TABLES,
        _PLANES,
    )

    emb = load_tables(spark, SF_DIR, "embeddings")["embeddings"]
    for tables in ([_PLANES], _LSH_TABLES):
        want = {
            (r["vec_id"], r["__tbl"], r["__bkt"])
            for r in _lsh_reference(emb, tables).collect()
        }
        got_df = lsh_buckets_relational(emb, tables)
        got = {
            (r["vec_id"], r["__tbl"], r["__bkt"]) for r in got_df.collect()
        }
        assert want == got, len(tables)
    # the below-cutoff branch must be the zero-exchange map form
    single = lsh_buckets_relational(emb, [_PLANES])
    plan = single._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan and "hashpartitioning" not in plan


def test_ivf_candidates_match_numpy_reference(spark):
    """Corpus cells and top-nprobe probe cells (ties included) give
    the reference's (query, neighbor) candidate set."""
    from foxsec_pipeline_spark.plans.catalog_data import _CENTROID_IDS

    emb = load_tables(spark, SF_DIR, "embeddings")["embeddings"]
    cb = ivf_train_codebook(emb, list(_CENTROID_IDS), iters=3)
    q = emb.where(F.col("vec_id") < 10)
    for nprobe in (1, 2, 4):
        assert _candidates(q, emb, cb, nprobe) == _np_candidates(
            q, emb, cb, nprobe
        ), nprobe


def test_ivf_probe_tie_order(spark):
    """Probe cells rank by (dot desc, cid asc): the query ties cells 5
    and 2, so nprobe=1 probes cell 2 only and nprobe=2 adds cell 5."""
    cb = {5: [1.0, 0.0], 2: [0.0, 1.0], 9: [-1.0, 0.0]}
    q = spark.createDataFrame([(1, [0.5, 0.5])], _SCHEMA)
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0]), (12, [-1.0, 0.0])], _SCHEMA
    )
    assert _np_probes(q, cb, 2) == {1: [2, 5]}
    assert _candidates(q, corpus, cb, 1) == {(1, 11)}
    assert _candidates(q, corpus, cb, 2) == {(1, 11), (1, 10)}
    for nprobe in (1, 2, 3):
        assert _candidates(q, corpus, cb, nprobe) == _np_candidates(
            q, corpus, cb, nprobe
        )


def test_lsh_buckets_drops_null_and_empty_vectors(spark):
    """Both forms drop null/empty vectors (no bucket-0 row) and raise
    on a null or out-of-range component (INT_COMPONENT_BOUND)."""
    table = [[1.0, -1.0, 1.0, -1.0], [1.0, 1.0, -1.0, -1.0]]
    df = spark.createDataFrame(
        [(1, [0.5] * 4), (2, []), (3, None)], _SCHEMA
    )
    # 2 planes -> map form; 5 tables x 2 planes = 10 -> relational form
    for tables in ([table], [table] * 5):
        out = lsh_buckets_relational(df, tables).collect()
        assert {r["vec_id"] for r in out} == {1}
        for bad, msg in (
            ([0.5, None, 0.5, 0.5], "USER_RAISED_EXCEPTION"),
            ([0.5, 400.0, 0.5, 0.5], "fixed-point component out of range"),
        ):
            bad_df = spark.createDataFrame([(1, bad)], _SCHEMA)
            with pytest.raises(Exception, match=msg):
                lsh_buckets_relational(bad_df, tables).collect()
