"""Similarity search over embedding columns.

Baseline: brute-force cosine top-k (exact). Scale path: LSH-bucketed
top-k (random-hyperplane signs) that turns the cross join into an
equi-join on the bucket — the IVF/LSH pattern for 100 TB corpora.

The dot product is a sequential left-fold over the array
(`aggregate`), evaluated JVM-side; elements are cast float->double
first (exact), so results are bit-reproducible — including by the
DuckDB oracle's `list_reduce` fold in the same order.

Reference seed: the engine-side generalization of the reference's
string-similarity clustering (`customs/CustomsAccountCreationDist.java`)
to vector similarity, per the training-data north star.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .skew import spread


def _fold_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(
        a, b, lambda x, y: x.cast("double") * y.cast("double")
    )
    return _fold_sum(prods)


def l2_norm(a: Column) -> Column:
    return F.sqrt(_fold_sum(F.transform(a, lambda x: x.cast("double") * x.cast("double"))))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_decimals: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (brute force).

    Broadcast the (small) query side, scan the corpus once — at scale
    this is one pass over 100 TB with no shuffle of the corpus; only
    the per-query top-k heap shuffles (rows = |queries| * k after the
    window prune with AQE).

    Ranking uses the rounded score with id tie-break, so the result
    set is deterministic across engines.
    """
    # per-vector norms are hoisted OUT of the per-pair expression: the
    # pair score is then one dot fold instead of three (dot + 2 norm
    # folds), and sqrt(fold) is computed identically to the inline
    # form, so results are bit-identical
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("__qv"), F.col("__cv"))
                / (F.col("__qn") * F.col("__cn")),
                round_decimals,
            ),
        )
        .drop("__qv", "__cv", "__qn", "__cn")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(int(k)))
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# fixed-point scale for the relational bucket path: embeddings are
# float32 in (-1, 1); x -> floor(x * 2^20) is exact in double (the
# scale is a power of two) and makes the per-plane dot an INTEGER sum
# — order-independent, so a shuffled groupBy-sum is bit-reproducible
# and DuckDB's unnest+sum oracle matches exactly. floor, not round:
# round half-cases tie-break differently across engines (the
# global_stats lesson).
LSH_SCALE = 1 << 20

# cutoff between lsh_buckets_relational's two physical forms: at or
# below this many total planes the zero-exchange map form wins; above
# it the interpreted per-plane HOF dots cost more than the aggregate
# exchange they save (interleaved A/B at sf0.1: 4 planes -> map form
# wins ~1.2x; 24 planes -> relational wins ~1.2x). A structural
# constant of the plane config, not a data-dependent switch.
_LSH_MAP_FORM_MAX_PLANES = 8


def _fixed_point_plain_hof_sql(vec_col: str) -> str:
    """SQL for the UNGUARDED fixed-point conversion as one transform()
    — the exact twin of the relational LSH path's floor(x * 2^20)
    (which carries no range guard; the guarded variant backs the
    IVF/PQ paths via `_fixed_point_hof_sql`)."""
    return (
        f"transform({vec_col}, __x -> CAST(floor(CAST(__x AS DOUBLE) * "
        f"{float(LSH_SCALE)}D) AS BIGINT))"
    )


def lsh_buckets_relational(
    df: DataFrame,
    tables: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, __tbl, __bkt) — one row per (vector, LSH table):
    fixed-point the vector once, one literal-coefficient integer dot
    per (table, plane), sign-pack per table, posexplode the per-table
    buckets.

    r13 — the form is PLANE-COUNT-adaptive, both branches measured
    interleaved at sf0.1 (OPTIMIZATION_r13.md):

    MAP form (total planes <= _LSH_MAP_FORM_MAX_PLANES): zero
    exchanges — fixed-point once via transform(), each plane dot is
    `aggregate(zip_with(__xs, <literal coef array>, *), 0L, +)`
    (integer addition is commutative, so the left-fold equals the
    shuffled sum bit-for-bit). The r9 objections are engineered
    around, not ignored: (1) CollapseProject inlining — the
    fixed-point array, the plane dots, and the bucket pack live in
    THREE layered projections; __xs is multi-referenced and non-cheap
    so CollapseProject leaves the layers alone, and each dot is
    referenced exactly once by the pack; (2) Generate re-evaluation —
    the posexplode consumes a MATERIALIZED pack-array column
    (re-evaluating an attribute reference per output row is free);
    (3) py4j cost — the dot exprs are parsed SQL strings. Null/empty
    vectors are filtered up front (the posexplode form emitted no
    rows for them). Measured at 4 planes: dedup_embedding_cosine
    1.32 -> 1.09 s, ann_cosine_lsh ~flat-to-better, semdedup/
    embedding_cluster_summary win big with the joins also removed.

    RELATIONAL form (above the cutoff): posexplode + one codegen
    integer agg per plane + sign-pack. HOFs evaluate INTERPRETED, and
    at 6 tables x 4 planes x dim 64 the per-row lambda cost exceeds
    the saved aggregate exchange — interleaved A/B on
    ann_cosine_lsh_multiprobe: map form 1.75 s vs relational 1.42 s
    min, so the wide-table path keeps codegen.
    """
    if sum(len(t) for t in tables) <= _LSH_MAP_FORM_MAX_PLANES:
        base = (
            spread(df)
            .where(F.size(F.col(vec_col)) >= 1)
            .selectExpr(
                id_col, vec_col, f"{_fixed_point_plain_hof_sql(vec_col)} AS __xs"
            )
        )
        dot_exprs = []
        for t, table in enumerate(tables):
            for i, plane in enumerate(table):
                coefs = ", ".join(f"{int(v)}L" for v in plane)
                dot_exprs.append(
                    f"aggregate(zip_with(__xs, array({coefs}), "
                    f"(x, c) -> x * c), 0L, (a, b) -> a + b) AS __d_{t}_{i}"
                )
        dots = base.selectExpr(id_col, vec_col, *dot_exprs)
        packed = ", ".join(
            " + ".join(
                f"(CASE WHEN __d_{t}_{i} > 0 THEN {2 ** i} ELSE 0 END)"
                for i in range(len(table))
            )
            for t, table in enumerate(tables)
        )
        wide = dots.selectExpr(id_col, vec_col, f"array({packed}) AS __pk")
        return wide.select(
            F.col(id_col),
            F.col(vec_col),
            F.posexplode("__pk").alias("__tbl", "__bkt"),
        )
    ex = spread(df).select(
        F.col(id_col), F.col(vec_col), F.posexplode(vec_col).alias("__j", "__x")
    )
    scaled = ex.select(
        F.col(id_col),
        F.col(vec_col),
        F.col("__j"),
        F.floor(F.col("__x").cast("double") * F.lit(float(LSH_SCALE)))
        .cast("long")
        .alias("__xs"),
    )
    # the vector rides through the agg via first() (one vector per id,
    # so deterministic) — cheaper than joining it back on id afterward
    aggs = [F.first(F.col(vec_col)).alias(vec_col)]
    for t, table in enumerate(tables):
        for i, plane in enumerate(table):
            # the whole per-plane agg is ONE parsed SQL expression:
            # building the coefficient array with F.lit costs a py4j
            # round-trip per element (and F.lit(list) explodes to
            # per-element lits internally) — 24 planes x 64 coefs made
            # DataFrame *construction* take 3.6 s, 2.5x the execution
            coefs = ",".join(str(int(v)) for v in plane)
            aggs.append(
                F.expr(
                    f"sum(__xs * element_at(array({coefs}), __j + 1))"
                ).alias(f"__d_{t}_{i}")
            )
    dots = scaled.groupBy(id_col).agg(*aggs)
    # sign-pack per table, again as one parsed expression per query
    # (a python-side when-chain is ~100 py4j calls)
    packed = ", ".join(
        " + ".join(
            f"(CASE WHEN __d_{t}_{i} > 0 THEN {2 ** i} ELSE 0 END)"
            for i in range(len(table))
        )
        for t, table in enumerate(tables)
    )
    return dots.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(F.expr(f"array({packed})")).alias("__tbl", "__bkt"),
    )


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    planes: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    tables: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket(s), then exact cosine rank over the candidate set. The
    cross join becomes an equi-join on (table, bucket) — the scale
    path.

    `tables` enables OR-amplification (classic AND-OR LSH): each
    table is an independent set of hyperplanes; a pair is a candidate
    if it collides in ANY table. More planes per table → fewer, purer
    candidates (precision/AND); more tables → higher recall (OR).
    Rows are posexploded to one row per table with that table's
    bucket, so candidate generation stays ONE equi-join regardless of
    table count — never an OR-of-conditions join (which would plan as
    a cartesian). Duplicate pairs from multi-table collisions are
    dropped before scoring. Single-table callers pass `planes`;
    recall is measured against the exact baseline in
    tests/test_similarity_recall.py.
    """
    if tables is None:
        if planes is None:
            raise ValueError("pass planes or tables")
        tables = [planes]
    return _score_candidates(
        _lsh_candidates(queries, corpus, tables, id_col, vec_col),
        queries, corpus, id_col, vec_col, k,
    )


def _lsh_candidates(queries, corpus, tables, id_col, vec_col):

    # candidate generation works on (id, table, bucket) rows ONLY —
    # carrying the vectors through the bucket join + distinct would
    # shuffle/sort 64-float arrays per collision and force the dedup
    # into SortAggregate; ids re-attach the vectors afterward. The
    # corpus bucket pipeline is also referenced exactly once this way
    # (a two-sided self-reference would compile and run it twice:
    # Catalyst gives aliased subplans no exchange reuse across a
    # broadcast boundary).
    qb = lsh_buckets_relational(queries, tables, id_col=id_col, vec_col=vec_col)
    cb = lsh_buckets_relational(corpus, tables, id_col=id_col, vec_col=vec_col)
    q_ids = qb.select(F.col(id_col).alias("query_id"), "__tbl", "__bkt")
    c_ids = cb.select(F.col(id_col).alias("neighbor_id"), "__tbl", "__bkt")
    return (
        c_ids.join(F.broadcast(q_ids), ["__tbl", "__bkt"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )


def _score_candidates(
    cand: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact cosine rank over a (query_id, neighbor_id) candidate set —
    the shared tail of every bucketed ANN path (LSH, IVF)."""
    # re-attach vectors + hoisted norms (norm fold once per vector,
    # not once per pair), then score on an explicitly wide stage: AQE
    # coalesces the candidate shuffle by its small byte size, blind to
    # the interpreted 64-wide dot fold each row still costs
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    cv = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    par = corpus.sparkSession.sparkContext.defaultParallelism
    scored = (
        cand.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .repartition(par)
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
                6,
            ),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(int(k)))
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk_arrow(
    queries_matrix,
    query_ids,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_decimals: int = 6,
) -> DataFrame:
    """Brute-force cosine top-k with an Arrow-batched numpy scorer —
    the measured fast path when candidate volume makes the per-pair
    `aggregate` fold (interpreted, ~µs/element) the bottleneck.

    `queries_matrix` is a (|Q|, dim) numpy array and `query_ids` the
    matching id list — the caller materializes the (always small) query
    side; the corpus streams through `mapInPandas` one Arrow batch at a
    time and each batch is ONE `batch @ Q.T` matmul. Same plan shape as
    `cosine_topk` (corpus scan, no corpus shuffle, |corpus|x|Q| scored
    rows pruned to k per query by the window) — only the scorer
    changes.

    Values differ from the fold scorer by float summation order
    (numpy pairwise vs sequential), so this variant is NOT wired to a
    DuckDB-hash oracle; `tests/test_similarity_recall.py` asserts
    allclose + identical top-k sets vs `cosine_topk`, and SCALE.md
    records the measured speedup.
    """
    import numpy as np
    import pandas as pd

    q = np.asarray(queries_matrix, dtype=np.float64)
    qn = np.sqrt((q * q).sum(axis=1))
    # zero-norm guard: a degenerate all-zero vector (e.g. featurize_media
    # on an empty payload) must score cosine 0.0, not NaN — Spark sorts
    # NaN above every number, so one zero vector would otherwise rank #1
    # for every query. Clamped norm divides a zero dot by 1 -> 0.0.
    qn = np.where(qn == 0, 1.0, qn)
    qids = list(query_ids)

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            c = np.asarray(
                np.stack(pdf[vec_col].to_numpy()), dtype=np.float64
            )
            cn = np.sqrt((c * c).sum(axis=1))
            cn = np.where(cn == 0, 1.0, cn)
            sims = (c @ q.T) / (cn[:, None] * qn[None, :])
            n, m = sims.shape
            yield pd.DataFrame(
                {
                    "query_id": np.tile(qids, n),
                    "neighbor_id": np.repeat(ids, m),
                    "cosine": np.round(sims.ravel(), round_decimals),
                }
            )

    scored = spread(corpus).select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, cosine double"
    ).where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(int(k)))
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# |component| bound for the fixed-point int64 paths: a scaled component
# is at most B * 2^20, a product (B * 2^20)^2 = B^2 * 2^40, and a dot
# sums `dim` of them — safe iff dim * B^2 * 2^40 < 2^63, i.e.
# B <= sqrt(2^23 / dim) (dim 64 -> B ~ 362). Components past that
# overflow — and Spark (non-ANSI) WRAPS silently where the DuckDB
# oracle's BIGINT errors, so the divergence would be one-sided. The
# contract (B = 300, valid to dim ~93; ~unit-norm embeddings are far
# inside it) is therefore enforced loudly at the scale step.
INT_COMPONENT_BOUND = 300.0


def _int_exploded(df: DataFrame, id_col: str, vec_col: str, out_id: str) -> DataFrame:
    """(out_id, __j, __xs): vector exploded to fixed-point int64
    components — the order-independent, cross-engine-exact currency of
    the bucketing paths (see LSH_SCALE). Components must satisfy
    |x| <= INT_COMPONENT_BOUND (~unit-norm embeddings trivially do);
    a non-normalized corpus fails with an explicit error instead of
    silently wrapping int64."""
    x = F.col("__x").cast("double")
    scaled = F.when(
        F.abs(x) <= F.lit(INT_COMPONENT_BOUND),
        F.floor(x * F.lit(float(LSH_SCALE))).cast("long"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "fixed-point component out of range (|x| > "
                    f"{INT_COMPONENT_BOUND}): normalize the corpus "
                    "before the bucketed similarity paths; got "
                ),
                x.cast("string"),
            )
        ).cast("long")
    )
    return (
        spread(df)
        .select(F.col(id_col).alias(out_id), F.posexplode(vec_col).alias("__j", "__x"))
        .select(out_id, "__j", scaled.alias("__xs"))
    )


def ivf_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(__vid, cid, __d, __rn): every vector scored against every
    centroid by INTEGER fixed-point inner product, ranked per vector
    (rank 1 = the vector's IVF cell).

    The score is a MIPS (max-inner-product) coarse quantizer rather
    than full cosine: skipping the centroid-norm division keeps the
    whole assignment in int64 — exactly reproducible under any
    summation order and by the DuckDB oracle's fold, with centroid-id
    tie-break making ranks total. For ~unit-norm embeddings the cells
    approximate cosine Voronoi cells; products are bounded by
    64 * 2^40 < 2^47, no int64 overflow.

    Shape for 100 TB: centroids are tiny and BROADCAST; the corpus is
    posexploded map-side (|corpus| x dim rows), partial-agged back to
    ~|corpus| x K rows before the one shuffle on (id, cid), then a
    window argmax per id. One pass over the corpus, no corpus
    self-join.
    """
    dots = _ivf_dots(vectors, centroids, id_col, vec_col)
    w = Window.partitionBy("__vid").orderBy(F.col("__d").desc(), F.col("cid").asc())
    return dots.withColumn("__rn", F.row_number().over(w))


def _ivf_dots(vectors, centroids, id_col, vec_col):
    ex = _int_exploded(vectors, id_col, vec_col, "__vid")
    ce = _int_exploded(centroids, id_col, vec_col, "cid").withColumnRenamed(
        "__xs", "__cs"
    )
    return (
        ex.join(F.broadcast(ce), "__j")
        .groupBy("__vid", "cid")
        .agg(F.sum(F.col("__xs") * F.col("__cs")).alias("__d"))
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell): each vector's IVF cell — argmax integer MIPS dot,
    ties to the lowest centroid id, via max_by hash-agg (no rank
    window). The assignment half of `cosine_topk_ivf`, exposed for
    clustering / cluster-summary consumers."""
    dots = _ivf_dots(corpus, centroids, id_col, vec_col)
    return (
        dots.groupBy("__vid")
        .agg(F.expr("max_by(cid, struct(__d, -cid))").alias("cell"))
        .select(F.col("__vid").alias(id_col), "cell")
    )


def int8_quantize(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column —
    the storage-compression op every 100 TB vector corpus applies
    before anything else (4x smaller than float32; int8 dot kernels).

    Per vector: scale by max|component|, code = floor(x / max * 127)
    (floor, not round — round half-cases tie-break differently across
    engines). Emits the quality evidence a pipeline thresholds on:
    reconstruction cosine vs the original and the max absolute
    reconstruction error, plus an md5 of the code bytes so the
    compressed corpus itself is hash-checkable. Every expression is
    per-row (map-side, zero shuffles at any scale); folds are
    sequential so the DuckDB oracle reproduces them bit-for-bit.
    Zero vectors (max = 0) quantize to all-zero codes with cosine 0.0,
    not NaN (Spark sorts NaN above every value — the advice-file
    lesson from cosine_topk_arrow)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    m = F.array_max(F.transform(v, F.abs))
    codes = F.when(
        m > 0,
        F.transform(v, lambda x: F.floor(x / m * 127).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    base = spread(df).select(
        F.col(id_col), v.alias("__v"), m.alias("__m"), codes.alias("__codes")
    )
    recon = F.transform(
        F.col("__codes"), lambda c: c.cast("double") / 127 * F.col("__m")
    )
    scored = base.select(
        F.col(id_col),
        F.col("__v"),
        F.col("__m"),
        F.col("__codes"),
        recon.alias("__recon"),
    )
    return scored.select(
        F.col(id_col),
        F.round(F.col("__m"), 6).alias("max_abs"),
        F.md5(
            F.array_join(F.transform(F.col("__codes"), lambda c: c.cast("string")), ",")
        ).alias("codes_hash"),
        F.round(
            F.when(
                F.col("__m") > 0,
                dot(F.col("__v"), F.col("__recon"))
                / (l2_norm(F.col("__v")) * l2_norm(F.col("__recon"))),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("recon_cosine"),
        F.round(
            F.array_max(
                F.zip_with(F.col("__v"), F.col("__recon"), lambda a, b: F.abs(a - b))
            ),
            6,
        ).alias("max_abs_err"),
    )


# Above this many corpus vectors the trainers keep the fully
# distributed Lloyd loop; at or below it they collect the fixed-point
# sample and run the SAME integer arithmetic in numpy on the driver —
# bit-identical results (int64 dots/sums are exact and
# order-independent; double division + floor are IEEE-identical), but
# milliseconds instead of one Spark job per iteration. 500k x 64-dim
# int64 is ~256 MB: well inside driver memory, and collecting a
# bounded TRAINING SAMPLE driver-side is how production ANN builds
# train (FAISS trains codebooks on a sample; the corpus-side
# assign/encode passes stay distributed regardless).
TRAIN_DRIVER_ROWS = 500_000


def _collect_fixed_point(corpus, id_col, vec_col):
    """Corpus as (ids int64[n], X int64[n, d]) in LSH_SCALE fixed
    point, replicating `_int_exploded`'s floor(x_double * 2^20) scaling
    (float64 multiply + floor — IEEE-identical to the JVM) and its
    |x| <= INT_COMPONENT_BOUND guard."""
    import numpy as np

    pdf = corpus.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
    ).toPandas()
    ids = pdf["id"].to_numpy(dtype="int64")
    X = np.stack([np.asarray(v, dtype="float64") for v in pdf["v"]])
    if np.abs(X).max(initial=0.0) > INT_COMPONENT_BOUND:
        raise ValueError(
            "fixed-point component out of range "
            f"(|x| > {INT_COMPONENT_BOUND}): normalize the corpus "
            "before the bucketed similarity paths"
        )
    return ids, np.floor(X * float(LSH_SCALE)).astype("int64")


def ivf_train_codebook(
    corpus: DataFrame,
    init_ids: list[int],
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[int, list[float]]:
    """Lloyd's k-means codebook for IVF, in CROSS-ENGINE-EXACT integer
    arithmetic: components are fixed-point int64 (floor-scale 2^20, see
    LSH_SCALE), the assignment score is the integer MIPS dot (sum of
    int64 products — order-independent, so Spark's shuffled partial agg
    and a sequential SQL fold agree bit-for-bit), and the re-centered
    component is floor(sum/count) where sum is exact in double
    (|sum| < 2^53 for any sample the driver would train on) and IEEE
    division/floor are bit-identical across engines. The whole loop is
    therefore reproducible by an unrolled DuckDB CTE chain — the
    property that lets the trained `ann_cosine_ivf` stay oracle-green.

    Seeds are corpus vectors by id (`init_ids`); cells keep their seed
    id as the stable centroid id (ties in assignment break to the
    LOWEST cid in both engines). Empty cells keep their previous
    centroid. Each iteration is two shuffles over the (already tiny
    after partial-agg) exploded sample plus a K x dim collect — the
    codebook is metadata, and collecting it driver-side is how every
    IVF build works (FAISS included); the corpus itself never leaves
    the cluster.

    Returns {cid: [component / 2^20 as double, ...]} — exact multiples
    of 2^-20, so re-scaling through `_int_exploded` recovers the
    trained integers losslessly.
    """
    import math

    if corpus.count() <= TRAIN_DRIVER_ROWS:
        return _ivf_train_numpy(corpus, init_ids, iters, id_col, vec_col)

    spark = corpus.sparkSession
    seed_rows = (
        corpus.where(F.col(id_col).isin([int(i) for i in init_ids]))
        .select(id_col, vec_col)
        .collect()
    )
    cents: dict[int, list[int]] = {}
    for r in seed_rows:
        comps = [float(x) for x in r[1]]
        for x in comps:
            if abs(x) > INT_COMPONENT_BOUND:
                raise ValueError(
                    f"component {x} outside |x| <= {INT_COMPONENT_BOUND}"
                )
        cents[int(r[0])] = [
            math.floor(x * float(LSH_SCALE)) for x in comps
        ]
    dim = len(next(iter(cents.values())))
    ex = _int_exploded(corpus, id_col, vec_col, "__vid").persist()
    try:
        for _ in range(int(iters)):
            ce = spark.createDataFrame(
                [
                    (cid, j, cs)
                    for cid, comps in cents.items()
                    for j, cs in enumerate(comps)
                ],
                "cid long, __j integer, __cs long",
            )
            assign = (
                ex.join(F.broadcast(ce), "__j")
                .groupBy("__vid", "cid")
                .agg(F.sum(F.col("__xs") * F.col("__cs")).alias("__d"))
                .groupBy("__vid")
                .agg(F.expr("max_by(cid, struct(__d, -cid))").alias("cid"))
            )
            newc = (
                ex.join(assign, "__vid")
                .groupBy("cid", "__j")
                .agg(
                    F.floor(
                        F.sum("__xs").cast("double") / F.count(F.lit(1))
                    ).cast("long").alias("__cs")
                )
            )
            got: dict[int, dict[int, int]] = {}
            for r in newc.collect():
                got.setdefault(int(r["cid"]), {})[int(r["__j"])] = int(r["__cs"])
            for cid, byj in got.items():
                cents[cid] = [byj.get(j, cents[cid][j]) for j in range(dim)]
    finally:
        ex.unpersist()
    return {
        cid: [cs / float(LSH_SCALE) for cs in comps]
        for cid, comps in sorted(cents.items())
    }


def _ivf_train_numpy(corpus, init_ids, iters, id_col, vec_col):
    """Driver-side twin of `ivf_train_codebook`'s distributed loop,
    bit-identical by construction: int64 MIPS dots (exact, so argmax
    equals the shuffled-agg max), argmax ties to the LOWEST cid
    (centroid columns ordered by cid ascending; np.argmax takes the
    first max), re-center = floor(exact-int64-sum as double / count),
    empty cells keep their centroid."""
    import numpy as np

    ids, X = _collect_fixed_point(corpus, id_col, vec_col)
    by_id = {int(i): row for i, row in zip(ids, X)}
    cids = sorted(int(i) for i in init_ids)
    C = np.stack([by_id[c] for c in cids])  # (k, d) int64
    for _ in range(int(iters)):
        best = np.argmax(X @ C.T, axis=1)
        for idx in range(len(cids)):
            mask = best == idx
            if mask.any():
                s = X[mask].sum(axis=0, dtype="int64")
                C[idx] = np.floor(s.astype("float64") / int(mask.sum())).astype(
                    "int64"
                )
    return {
        cid: [int(cs) / float(LSH_SCALE) for cs in C[idx]]
        for idx, cid in enumerate(cids)
    }


def _pq_train_numpy(corpus, seed_ids, n_sub, dim, iters, id_col, vec_col):
    """Driver-side twin of `pq_train_codebooks`: squared-L2 argmin per
    subspace, ties to the lowest code id, same re-center rule."""
    import numpy as np

    sub_dim = dim // int(n_sub)
    ids, X = _collect_fixed_point(corpus, id_col, vec_col)
    by_id = {int(i): row for i, row in zip(ids, X)}
    cids = sorted(int(i) for i in seed_ids)
    out: dict[tuple[int, int], list[int]] = {}
    for m in range(int(n_sub)):
        Xm = X[:, m * sub_dim:(m + 1) * sub_dim]
        C = np.stack([by_id[c][m * sub_dim:(m + 1) * sub_dim] for c in cids])
        for _ in range(int(iters)):
            d = Xm[:, None, :] - C[None, :, :]
            best = np.argmin((d * d).sum(axis=2, dtype="int64"), axis=1)
            for idx in range(len(cids)):
                mask = best == idx
                if mask.any():
                    s = Xm[mask].sum(axis=0, dtype="int64")
                    C[idx] = np.floor(
                        s.astype("float64") / int(mask.sum())
                    ).astype("int64")
        for idx, cid in enumerate(cids):
            out[(m, cid)] = [int(v) for v in C[idx]]
    return {k: v for k, v in sorted(out.items())}


def ivf_codebook_df(
    spark,
    codebook: dict[int, list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Materialize a trained codebook as the (id, vector) frame the
    IVF operators consume (components are exact 2^-20 multiples, so
    the fixed-point re-scale inside `_int_exploded` is lossless)."""
    return spark.createDataFrame(
        [(cid, comps) for cid, comps in sorted(codebook.items())],
        f"{id_col} long, {vec_col} array<double>",
    )


def _ivf_candidates(
    queries: DataFrame,
    corpus: DataFrame,
    centroid_ids: list[int] | None,
    id_col: str,
    vec_col: str,
    nprobe: int,
    queries_in_corpus: bool,
    centroids: DataFrame | None,
    codebook: dict[int, list[float]] | None = None,
) -> DataFrame:
    """(query_id, neighbor_id) candidate pairs from IVF cell probing —
    the shared head of `cosine_topk_ivf` and `cosine_range_ivf`.

    When the caller holds the trained codebook DICT (`codebook`), both
    assignment passes take the r13 literal map form: corpus cell =
    `_ivf_cell_sql` argmax, query probe cells = `_ivf_probe_sql`
    top-nprobe — zero joins/aggregates/exchanges before the cell-id
    equi-join, where the relational form posexploded the corpus
    against a broadcast centroid frame and paid an aggregate exchange
    (guide §2.3/§2.4). Cell ids and probe sets are bit-identical
    (integer dots, identical tie order); the `queries_in_corpus` dots
    reuse becomes moot because query scoring is map-side over |Q|
    rows."""
    if codebook is not None:
        corpus_cells = ivf_assign_literal(
            corpus, codebook, id_col=id_col, vec_col=vec_col
        ).select(
            F.col(id_col).alias("neighbor_id"), F.col("cell").alias("__cell")
        )
        q_wide = (
            spread(queries)
            .where(F.size(F.col(vec_col)) >= 1)
            .selectExpr(
                id_col, f"{_fixed_point_hof_sql(vec_col)} AS __xs"
            )
            .selectExpr(
                id_col, f"{_ivf_probe_sql(codebook, nprobe)} AS __cells"
            )
        )
        query_cells = q_wide.select(
            F.col(id_col).alias("query_id"),
            F.explode("__cells").alias("__cell"),
        )
        return (
            corpus_cells.join(F.broadcast(query_cells), "__cell")
            .where(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
        )
    if centroids is not None:
        cents = centroids
    elif centroid_ids is not None:
        cents = corpus.where(F.col(id_col).isin([int(i) for i in centroid_ids]))
    else:
        raise ValueError("pass centroids or centroid_ids")
    # corpus assignment needs only the ARGMAX cell, so a max_by
    # hash-agg replaces the rank window — no sort of the |corpus| x K
    # score rows (the window's dominant cost at scale). struct(__d,
    # -cid) max = highest dot, ties to the LOWEST centroid id, exactly
    # the oracle's ORDER BY d DESC, cid ASC at rn = 1.
    dots = _ivf_dots(corpus, cents, id_col, vec_col)
    corpus_cells = (
        dots.groupBy("__vid")
        .agg(F.expr("max_by(cid, struct(__d, -cid))").alias("__cell"))
        .select(F.col("__vid").alias("neighbor_id"), "__cell")
    )
    if queries_in_corpus:
        # queries ⊆ corpus (dedup/self-search): the corpus assignment
        # pass already scored every query vector — probe cells come
        # from the SAME dots frame via a broadcast id semi-join + a
        # window over only the query rows, halving the assignment work
        q_dots = dots.join(
            F.broadcast(queries.select(F.col(id_col).alias("__vid"))), "__vid"
        )
        w = Window.partitionBy("__vid").orderBy(
            F.col("__d").desc(), F.col("cid").asc()
        )
        query_cells = (
            q_dots.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= F.lit(int(nprobe)))
            .select(F.col("__vid").alias("query_id"), F.col("cid").alias("__cell"))
        )
    else:
        query_cells = (
            ivf_cells(queries, cents, id_col, vec_col)
            .where(F.col("__rn") <= F.lit(int(nprobe)))
            .select(F.col("__vid").alias("query_id"), F.col("cid").alias("__cell"))
        )
    # each corpus vector is in exactly one cell and probe cells are
    # distinct per query, so a (query, neighbor) pair meets at most
    # once — no dedup needed before scoring
    return (
        corpus_cells.join(F.broadcast(query_cells), "__cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    centroid_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    queries_in_corpus: bool = False,
    centroids: DataFrame | None = None,
    codebook: dict[int, list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) bucketing: each corpus
    vector lands in exactly ONE cell (nearest centroid); each query
    probes its `nprobe` nearest cells; exact cosine ranks the probed
    candidates. The other classic ANN scale path next to LSH: corpus
    work is one assignment pass + an equi-join on the cell id, and
    recall is tuned by nprobe (measured against the exact baseline in
    tests/test_similarity_recall.py).

    Centroids come either from a trained codebook (`centroids`, see
    `ivf_train_codebook`) or from the corpus by id (`centroid_ids`) —
    the deterministic untrained fallback; the operator only assumes
    the centroid set is small enough to broadcast, which both are.
    """
    cand = _ivf_candidates(
        queries, corpus, centroid_ids, id_col, vec_col, nprobe,
        queries_in_corpus, centroids, codebook,
    )
    return _score_candidates(cand, queries, corpus, id_col, vec_col, k)


def cosine_range_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    radius: float,
    centroid_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
    queries_in_corpus: bool = False,
    centroids: DataFrame | None = None,
    codebook: dict[int, list[float]] | None = None,
) -> DataFrame:
    """Approximate cosine RANGE (radius) search via IVF cell probing:
    all probed candidates with cosine >= `radius`, the sub-linear
    scale path next to the brute range scan (`ann_range_search`) —
    corpus work is one assignment pass + an equi-join on the cell id,
    and recall against the exact radius result is tuned by nprobe.
    Output (query_id, neighbor_id, cosine), unranked: a radius query
    has no k, so no per-query window is needed — the filter is
    map-side over the scored candidates."""
    cand = _ivf_candidates(
        queries, corpus, centroid_ids, id_col, vec_col, nprobe,
        queries_in_corpus, centroids, codebook,
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    cv = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    par = corpus.sparkSession.sparkContext.defaultParallelism
    return (
        cand.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .repartition(par)
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("__qv"), F.col("__cv"))
                / (F.col("__qn") * F.col("__cn")),
                6,
            ),
        )
        .where(F.col("cosine") >= F.lit(float(radius)))
        .select("query_id", "neighbor_id", "cosine")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-compression ANN path. A dim-D
# float corpus (4D bytes/vector) is stored as M sub-space code ids
# (M bytes at K<=256) — 32x smaller at D=64, M=8 — and queries score
# the compressed corpus via an ADC lookup-table join instead of
# touching the raw vectors. At 100 TB of embeddings this is the
# difference between a corpus that fits in cluster memory and one
# that doesn't (Jegou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011).
# ---------------------------------------------------------------------------


def _int_exploded_sub(
    df: DataFrame, id_col: str, vec_col: str, out_id: str, sub_dim: int
) -> DataFrame:
    """(out_id, __m, __jj, __xs): fixed-point components keyed by
    subspace index __m = j div sub_dim and in-subspace position __jj —
    the exploded currency of every PQ step (one posexplode pass; the
    subspace split is arithmetic on the position, not a second
    explode)."""
    return _int_exploded(df, id_col, vec_col, out_id).select(
        out_id,
        F.expr(f"__j DIV {int(sub_dim)}").cast("int").alias("__m"),
        F.expr(f"__j % {int(sub_dim)}").cast("int").alias("__jj"),
        "__xs",
    )


def pq_train_codebooks(
    corpus: DataFrame,
    seed_ids: list[int],
    n_sub: int = 4,
    dim: int = 64,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[tuple[int, int], list[int]]:
    """Per-subspace k-means codebooks in the same CROSS-ENGINE-EXACT
    integer arithmetic as `ivf_train_codebook`, with two deltas that
    make it PQ (and keep it oracle-reproducible):

    - assignment is squared L2 distance sum((xs-cs)^2) per subspace
      (argmin, ties to the lowest code id) — PQ quantizes *position*,
      so MIPS would collapse every cell onto the largest-norm
      codeword; the squared difference of fixed-point int64s is still
      order-independent, so shuffled partial aggs and DuckDB's
      sequential fold agree bit-for-bit. Overflow: |diff| <= 2B*2^20
      with B = INT_COMPONENT_BOUND, so a subspace dot sums sub_dim *
      (2B)^2 * 2^40 — safe for sub_dim <= 16 at B = 300 (5.8e18 <
      2^63), asserted below;
    - ALL subspaces train in one loop over a (m, cid)-composite-keyed
      codebook: one assignment job and one re-center job per Lloyd
      iteration regardless of M (not M loops), so driver rounds don't
      scale with the number of subspaces.

    Seeds are corpus vectors by id; subspace m of seed s initializes
    code (m, s). Empty cells keep their previous centroid. Returns
    {(m, cid): [int components, len sub_dim]} — already in fixed-point
    integer space (PQ never needs the float form back).
    """
    import math

    sub_dim = dim // int(n_sub)
    if sub_dim * (2 * INT_COMPONENT_BOUND) ** 2 * float(LSH_SCALE) ** 2 >= 2.0**63:
        raise ValueError(
            f"sub_dim {sub_dim} too wide for the int64 squared-L2 bound "
            f"at |x| <= {INT_COMPONENT_BOUND}; raise n_sub"
        )
    if corpus.count() <= TRAIN_DRIVER_ROWS:
        return _pq_train_numpy(
            corpus, seed_ids, n_sub, dim, iters, id_col, vec_col
        )
    spark = corpus.sparkSession
    seed_rows = (
        corpus.where(F.col(id_col).isin([int(i) for i in seed_ids]))
        .select(id_col, vec_col)
        .collect()
    )
    cents: dict[tuple[int, int], list[int]] = {}
    for r in seed_rows:
        comps = [float(x) for x in r[1]]
        for x in comps:
            if abs(x) > INT_COMPONENT_BOUND:
                raise ValueError(
                    f"component {x} outside |x| <= {INT_COMPONENT_BOUND}"
                )
        scaled = [math.floor(x * float(LSH_SCALE)) for x in comps]
        for m in range(int(n_sub)):
            cents[(m, int(r[0]))] = scaled[m * sub_dim:(m + 1) * sub_dim]
    ex = _int_exploded_sub(corpus, id_col, vec_col, "__vid", sub_dim).persist()
    try:
        for _ in range(int(iters)):
            cb = spark.createDataFrame(
                [
                    (m, cid, jj, cs)
                    for (m, cid), comps in cents.items()
                    for jj, cs in enumerate(comps)
                ],
                "__m integer, cid long, __jj integer, __cs long",
            )
            assign = (
                ex.join(F.broadcast(cb), ["__m", "__jj"])
                .groupBy("__vid", "__m", "cid")
                .agg(
                    F.sum(
                        (F.col("__xs") - F.col("__cs"))
                        * (F.col("__xs") - F.col("__cs"))
                    ).alias("__d")
                )
                .groupBy("__vid", "__m")
                .agg(F.expr("min_by(cid, struct(__d, cid))").alias("cid"))
            )
            newc = (
                ex.join(assign, ["__vid", "__m"])
                .groupBy("__m", "cid", "__jj")
                .agg(
                    F.floor(
                        F.sum("__xs").cast("double") / F.count(F.lit(1))
                    ).cast("long").alias("__cs")
                )
            )
            got: dict[tuple[int, int], dict[int, int]] = {}
            for r in newc.collect():
                got.setdefault((int(r["__m"]), int(r["cid"])), {})[
                    int(r["__jj"])
                ] = int(r["__cs"])
            for key, byj in got.items():
                cents[key] = [
                    byj.get(jj, cents[key][jj]) for jj in range(sub_dim)
                ]
    finally:
        ex.unpersist()
    return {k: v for k, v in sorted(cents.items())}


def pq_codebook_df(spark, codebooks: dict[tuple[int, int], list[int]]) -> DataFrame:
    """Trained codebooks as the exploded (m, cid, jj, cs) frame the
    encode/LUT steps consume — M*K*sub_dim rows, always broadcast."""
    return spark.createDataFrame(
        [
            (m, cid, jj, cs)
            for (m, cid), comps in sorted(codebooks.items())
            for jj, cs in enumerate(comps)
        ],
        "__m integer, cid long, __jj integer, __cs long",
    )


def _fixed_point_hof_sql(vec_col: str) -> str:
    """SQL twin of `_int_exploded`'s guarded fixed-point conversion as
    ONE transform() over the whole vector — identical floor/scale
    arithmetic AND the identical out-of-range raise, so the
    literal-codebook paths keep the operator's error contract."""
    return (
        f"transform({vec_col}, __x -> CASE "
        f"WHEN abs(CAST(__x AS DOUBLE)) <= {INT_COMPONENT_BOUND}D "
        f"THEN CAST(floor(CAST(__x AS DOUBLE) * {float(LSH_SCALE)}D) "
        f"AS BIGINT) "
        f"ELSE CAST(raise_error(concat('fixed-point component out of "
        f"range (|x| > {INT_COMPONENT_BOUND}): normalize the corpus "
        f"before the bucketed similarity paths; got ', "
        f"CAST(CAST(__x AS DOUBLE) AS STRING))) AS BIGINT) END)"
    )


def pq_encode_literal(
    corpus: DataFrame,
    codebooks: dict[tuple[int, int], list[int]],
    n_sub: int,
    sub_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, __m, code) — same contract as :func:`pq_encode`, but
    the trained codebook enters as LITERAL arrays in one scalar
    projection instead of an exploded broadcast-join: per subspace the
    argmin over K codes is `array_min(transform(<literal codewords>,
    cw -> struct(Σ(xs-cs)², cid)))` (lexicographic struct order ==
    min_by(cid, struct(d, cid)) ties-to-lowest), and the code row
    stream is a map-side `stack`.

    Why (r13, guide §2.3/§2.4): the relational encode posexplodes the
    corpus 64-wide, fans out Kx against the codebook join, and pays
    TWO aggregate exchanges (|corpus| x dim x K rows through the
    first) — the committed before-plan showed 30 Exchanges for
    ann_cosine_pq. This form encodes in ONE projection: zero
    exchanges, zero joins, |corpus| rows in flight. HOF form, not the
    unrolled per-term SQL: the first attempt unrolled all
    n_sub*K*sub_dim squared-diff terms into scalar expressions and
    Janino compilation of the resulting megamethod cost ~7 s PER PLAN
    at sf0.1 (REJECTED, numbers in OPTIMIZATION_r13.md); the HOF tree
    is ~50 nodes, evaluates interpreted per-row, and costs microseconds
    at this K. Integer math is bit-identical (int64 sums of the same
    terms; addition order immaterial).

    Contract: vectors must carry exactly `n_sub * sub_dim` components
    (the same fixed-dim assumption the PQ oracle's range(1, dim+1)
    unnest encodes); each component passes the `_int_exploded` range
    guard, preserving the raise-on-unnormalized behavior."""
    proj = spread(corpus).selectExpr(
        id_col, f"{_fixed_point_hof_sql(vec_col)} AS __xs"
    )
    per_sub = []
    for m in range(int(n_sub)):
        cws = ", ".join(
            f"named_struct('c', {int(cid)}L, 'v', array("
            + ", ".join(f"{int(cs)}L" for cs in comps)
            + "))"
            for (mm, cid), comps in sorted(codebooks.items())
            if mm == m
        )
        sub = f"slice(__xs, {m * int(sub_dim) + 1}, {int(sub_dim)})"
        per_sub.append(
            f"array_min(transform(array({cws}), cw -> named_struct("
            f"'d', aggregate(zip_with({sub}, cw.v, "
            f"(x, c) -> (x - c) * (x - c)), 0L, (a, b) -> a + b), "
            f"'c', cw.c))).c AS __code{m}"
        )
    wide = proj.selectExpr(id_col, *per_sub)
    stack = ", ".join(
        f"CAST({m} AS INT), __code{m}" for m in range(int(n_sub))
    )
    return wide.selectExpr(
        id_col, f"stack({int(n_sub)}, {stack}) AS (__m, code)"
    )


def _ivf_cell_sql(codebook: dict[int, list[float]]) -> str:
    """SQL expr for the argmax-MIPS IVF cell id over a materialized
    `__xs` fixed-point array column — the literal-codebook twin of
    `ivf_assign`'s max_by(cid, struct(__d, -cid)): array_max over
    (d, -cid) structs picks max dot, ties to the LOWEST cid. Codebook
    components are exact 2^-20 multiples (ivf_train_codebook), so the
    floor re-scale recovers the trained integers losslessly — the
    same conversion `_int_exploded` applies to the centroid frame."""
    import math

    structs = []
    for cid, comps in sorted(codebook.items()):
        cs = ", ".join(
            f"{math.floor(float(x) * LSH_SCALE)}L" for x in comps
        )
        structs.append(
            f"named_struct('d', aggregate(zip_with(__xs, array({cs}), "
            f"(x, c) -> x * c), 0L, (a, b) -> a + b), "
            f"'nc', CAST({-int(cid)} AS BIGINT))"
        )
    body = (
        f"array_max(array({', '.join(structs)})).nc"
        if len(structs) > 1
        else f"({structs[0]}).nc"
    )
    return f"CAST(-({body}) AS BIGINT)"


def _ivf_probe_sql(codebook: dict[int, list[float]], nprobe: int) -> str:
    """SQL expr for a vector's `nprobe` nearest cell ids (integer MIPS
    dot, ORDER BY d DESC, cid ASC) over a materialized `__xs` column —
    the literal-codebook twin of the rank-window probe: array_sort on
    (-d, cid) structs is the identical total order, so the first
    nprobe entries equal the window's rn <= nprobe rows."""
    import math

    structs = []
    for cid, comps in sorted(codebook.items()):
        cs = ", ".join(
            f"{math.floor(float(x) * LSH_SCALE)}L" for x in comps
        )
        structs.append(
            f"named_struct('nd', -(aggregate(zip_with(__xs, array({cs}), "
            f"(x, c) -> x * c), 0L, (a, b) -> a + b)), "
            f"'cid', CAST({int(cid)} AS BIGINT))"
        )
    return (
        f"transform(slice(array_sort(array({', '.join(structs)})), 1, "
        f"{int(nprobe)}), s -> s.cid)"
    )


def _lsh_pack_sql(table: list[list[float]]) -> str:
    """SQL expr for one LSH table's sign-packed bucket id over a
    materialized `__xs` fixed-point array column (literal integer
    plane coefficients — see lsh_buckets_relational)."""
    terms = []
    for i, plane in enumerate(table):
        coefs = ", ".join(f"{int(v)}L" for v in plane)
        d = (
            f"aggregate(zip_with(__xs, array({coefs}), "
            f"(x, c) -> x * c), 0L, (a, b) -> a + b)"
        )
        terms.append(f"(CASE WHEN {d} > 0 THEN {2 ** i} ELSE 0 END)")
    return " + ".join(terms)


def ivf_assign_literal(
    corpus: DataFrame,
    codebook: dict[int, list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: tuple = (),
) -> DataFrame:
    """(id, [carry_cols...,] cell) — same contract and identical cell
    ids as :func:`ivf_assign` over `ivf_codebook_df(codebook)`, but the
    trained codebook enters as LITERAL arrays in one map projection
    instead of the posexplode + broadcast-join + agg/window relational
    form (r13, guide §2.3/§2.4 — the pq_encode_literal pattern): zero
    exchanges, zero joins, |corpus| rows in flight. ``carry_cols``
    projects extra input columns through the same pass so consumers
    don't join the assignment back to the corpus on id. Null/empty
    vectors are dropped (the relational form's posexplode emitted no
    rows for them); components pass the `_int_exploded` range guard."""
    proj = (
        spread(corpus)
        .where(F.size(F.col(vec_col)) >= 1)
        .selectExpr(
            id_col, *carry_cols, f"{_fixed_point_hof_sql(vec_col)} AS __xs"
        )
    )
    return proj.selectExpr(
        id_col, *carry_cols, f"{_ivf_cell_sql(codebook)} AS cell"
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    sub_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, __m, code): each vector's nearest codeword per subspace
    (squared-L2 argmin, ties to the lowest code id). One pass over the
    corpus: posexplode map-side, broadcast-join the M*K*sub_dim
    codebook, partial-agg back to |corpus| x M x K score rows before
    the one shuffle, min_by hash-agg (no rank window). The output IS
    the compressed corpus — M small ints per vector."""
    ex = _int_exploded_sub(corpus, id_col, vec_col, "__vid", sub_dim)
    return (
        ex.join(F.broadcast(codebook), ["__m", "__jj"])
        .groupBy("__vid", "__m", "cid")
        .agg(
            F.sum(
                (F.col("__xs") - F.col("__cs"))
                * (F.col("__xs") - F.col("__cs"))
            ).alias("__d")
        )
        .groupBy("__vid", "__m")
        .agg(F.expr("min_by(cid, struct(__d, cid))").alias("code"))
        .select(F.col("__vid").alias(id_col), "__m", "code")
    )


def cosine_topk_pq(
    queries: DataFrame,
    corpus: DataFrame,
    seed_ids: list[int],
    n_sub: int = 4,
    dim: int = 64,
    iters: int = 2,
    k: int = 5,
    rerank: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: dict[tuple[int, int], list[int]] | None = None,
) -> DataFrame:
    """Approximate top-k via PQ asymmetric distance computation (ADC)
    with exact re-rank:

    1. train per-subspace codebooks (`pq_train_codebooks`) — or take
       them precomputed;
    2. encode the corpus to (id, m, code) — the compressed form;
    3. build the ADC lookup table: integer dot of every query SUBvector
       with every codeword (|Q| x M x K rows — tiny, broadcast);
    4. approximate score = sum over m of LUT[q, m, code_m(v)] — an
       equi-join of the code table against the broadcast LUT plus one
       sum, never touching raw corpus vectors;
    5. keep the top `rerank` per query by approximate score (integer,
       so cross-engine-exact), then exact-cosine rank the survivors
       (`_score_candidates`).

    Scale shape: the raw corpus is read twice (encode; re-rank
    candidate fetch) but never shuffled; the ADC scan moves only
    |corpus| x M code rows. LUT sums M subspace dots of int64 products
    bounded by sub_dim * (B*2^20)^2 each — n_sub * that stays < 2^63
    for dim <= 64 at B = 300. Recall vs the exact baseline is
    measured in tests/test_similarity_recall.py.
    """
    sub_dim = dim // int(n_sub)
    if codebooks is None:
        codebooks = pq_train_codebooks(
            corpus, seed_ids, n_sub=n_sub, dim=dim, iters=iters,
            id_col=id_col, vec_col=vec_col,
        )
    cb = pq_codebook_df(corpus.sparkSession, codebooks)
    # r13: the CORPUS-scale encode takes the literal-codebook path
    # (one whole-stage-codegen projection, zero exchanges) instead of
    # the posexplode + broadcast-join + two-agg relational form; the
    # query-side LUT below stays relational — it is |Q|-sized and its
    # explode/join cost is noise. Same integer math, same argmin
    # tie-break (see pq_encode_literal), so codes are bit-identical.
    codes = pq_encode_literal(
        corpus, codebooks, n_sub, sub_dim, id_col=id_col, vec_col=vec_col
    )
    q_ex = _int_exploded_sub(queries, id_col, vec_col, "__qid", sub_dim)
    lut = (
        q_ex.join(F.broadcast(cb), ["__m", "__jj"])
        .groupBy("__qid", "__m", "cid")
        .agg(F.sum(F.col("__xs") * F.col("__cs")).alias("__l"))
        .select(
            "__qid",
            F.col("__m").alias("__lm"),
            F.col("cid").alias("__lc"),
            "__l",
        )
    )
    adc = (
        codes.join(
            F.broadcast(lut),
            (F.col("__m") == F.col("__lm")) & (F.col("code") == F.col("__lc")),
        )
        .where(F.col("__qid") != F.col(id_col))
        .groupBy(F.col("__qid"), F.col(id_col))
        .agg(F.sum("__l").alias("__approx"))
    )
    w = Window.partitionBy("__qid").orderBy(
        F.col("__approx").desc(), F.col(id_col).asc()
    )
    cand = (
        adc.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= F.lit(int(rerank)))
        .select(
            F.col("__qid").alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
        )
    )
    return _score_candidates(cand, queries, corpus, id_col, vec_col, k)


def l2_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_decimals: int = 6,
) -> DataFrame:
    """Exact top-k Euclidean neighbors per query (brute force) — the
    distance-metric twin of :func:`cosine_topk` with the same
    broadcast-queries / one-corpus-pass shape.

    Squared distance is computed as |q|^2 + |c|^2 - 2*dot(q, c) with
    the per-vector self-dots hoisted out of the per-pair expression —
    and the SQL oracle must use the SAME algebraic form (a direct
    sum((q_i - c_i)^2) fold accumulates float error differently and
    can flip rounded ties). Ranking uses the rounded distance with id
    tie-break, ascending.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        dot(F.col(vec_col), F.col(vec_col)).alias("__qq"),
    )
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        dot(F.col(vec_col), F.col(vec_col)).alias("__cc"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "dist2",
            F.round(
                F.col("__qq")
                + F.col("__cc")
                - F.lit(2.0) * dot(F.col("__qv"), F.col("__cv")),
                round_decimals,
            ),
        )
        .drop("__qv", "__cv", "__qq", "__cc")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(int(k)))
        .select("query_id", "neighbor_id", "dist2", "rank")
    )


def rrf_fuse(ranked_lists: list[DataFrame], k: int = 60) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of per-query
    ranked lists — the standard hybrid-retrieval combiner (e.g. dense
    cosine + a second retriever): each list contributes
    1/(k + rank), summed per (query, candidate).

    Scores are exact integers in micro-units — 1000000 div (k + rank)
    — so fusion is engine-portable with zero float hazard (the float
    similarity scores only ever influenced the input RANKS, which are
    already deterministic via rounded-score + id tie-breaks). Inputs
    need columns (query_id, neighbor_id, rank); extra columns are
    dropped. Scale: each input is already top-k pruned (|queries| * k
    rows), so the union + hash-agg is query-dimension sized.
    """
    parts = [
        df.select(
            "query_id",
            "neighbor_id",
            F.expr(f"1000000 div ({int(k)} + rank)").alias("__c"),
            F.col("rank").alias("__r"),
        )
        for df in ranked_lists
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    return u.groupBy("query_id", "neighbor_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lists"),
        F.min("__r").cast("long").alias("best_rank"),
        F.sum("__c").cast("long").alias("rrf_ppm"),
    )


def int8_dot_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Top-k by integer dot product over the int8-quantized codes —
    the fast-retriever half of a hybrid stack (4x smaller vectors,
    int8 dot kernels), rank-divergent from exact cosine by exactly
    the quantization error.

    Codes use the :func:`int8_quantize` scheme (per-vector symmetric,
    floor(x / max|x| * 127)); the pair score sum(qc_i * cc_i) is then
    PURE INTEGER — no rounding step at all, so the ranking (score
    desc, id asc) is trivially engine-exact.
    """

    def _codes(col):
        v = F.transform(col, lambda x: x.cast("double"))
        m = F.array_max(F.transform(v, F.abs))
        return F.when(
            m > 0,
            F.transform(v, lambda x: F.floor(x / m * 127).cast("long")),
        ).otherwise(F.transform(v, lambda x: F.lit(0).cast("long")))

    q = queries.select(
        F.col(id_col).alias("query_id"),
        _codes(F.col(vec_col)).alias("__qc"),
    )
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        _codes(F.col(vec_col)).alias("__cc"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "int8_dot",
            F.aggregate(
                F.zip_with(F.col("__qc"), F.col("__cc"), lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        .drop("__qc", "__cc")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("int8_dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(int(k)))
        .select("query_id", "neighbor_id", "int8_dot", "rank")
    )


# Greedy k-center runs on a bounded pre-sample (Gonzalez's
# 2-approximation transfers to a uniform sample); 65,536 x 64-dim
# int64 codes is ~32 MB driver-side — the TRAIN_DRIVER_ROWS argument.
KCENTER_SAMPLE_CAP = 65_536


def kcenter_coreset(
    corpus: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = KCENTER_SAMPLE_CAP,
) -> DataFrame:
    """Greedy k-center coreset (Gonzalez 1985 2-approximation) —
    diversity selection for labeling/eval budgets: start from the
    minimum id, repeatedly add the point FARTHEST from the selected
    set (tie-break min id), k picks total.

    Distances are integer squared-L2 over the :func:`int8_quantize`
    codes, so every argmax is exact and the selection is
    engine-reproducible (the oracle unrolls the same k steps as CTEs).

    Scale contract (enforced, not advisory — the r6 verdict flagged
    the previous k-sequential-scan plan): the operator itself applies
    a deterministic md5-draw pre-sample — TakeOrdered of the lowest
    `sample_cap` ids by md5(id), map-side top-k, no full sort — and
    runs the k greedy argmax rounds driver-side in numpy over the
    collected int64 codes (the `TRAIN_DRIVER_ROWS` codebook-training
    precedent: the sample is bounded metadata, ~32 MB at the default
    cap; the corpus is touched by exactly ONE distributed pass).
    Corpora at or under the cap keep every row, so small-scale results
    — and the unrolled-CTE oracle — are unchanged. numpy float64
    divide+floor is IEEE-identical to the JVM, so the int8 codes and
    every integer distance match the previous in-plan computation
    bit-for-bit.

    Returns (pick_order, vec_id, coverage_radius) where
    coverage_radius is the chosen point's distance to the previously
    selected set (-1 for the seed): the non-increasing radius sequence
    IS the coreset's covering guarantee readout.
    """
    import numpy as np

    sampled = (
        corpus.select(
            F.col(id_col).cast("long").alias("__id"),
            F.transform(
                F.col(vec_col), lambda x: x.cast("double")
            ).alias("__v"),
        )
        .orderBy(F.md5(F.col("__id").cast("string")), F.col("__id"))
        .limit(int(sample_cap))
    )
    pdf = sampled.toPandas()
    ids = pdf["__id"].to_numpy(dtype="int64")
    X = np.stack([np.asarray(v, dtype="float64") for v in pdf["__v"]])
    # int8_quantize codes: floor(x / max|x| * 127), zero vector -> 0
    m = np.abs(X).max(axis=1, keepdims=True)
    codes = np.where(
        m > 0, np.floor(X / np.where(m > 0, m, 1.0) * 127.0), 0.0
    ).astype("int64")

    order = np.argsort(ids, kind="stable")
    ids, codes = ids[order], codes[order]

    def dist2(center: np.ndarray) -> np.ndarray:
        d = codes - center
        return np.einsum("ij,ij->i", d, d)

    picks = [(0, int(ids[0]), -1)]
    mind = dist2(codes[0])
    for i in range(1, int(k)):
        # argmax by (mind desc, id asc): ids are sorted ascending, so
        # np.argmax returns the first (lowest-id) maximal element
        j = int(np.argmax(mind))
        picks.append((i, int(ids[j]), int(mind[j])))
        mind = np.minimum(mind, dist2(codes[j]))
    return corpus.sparkSession.createDataFrame(
        picks, "pick_order long, vec_id long, coverage_radius long"
    )
