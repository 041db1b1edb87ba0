"""Catalog tranche 2: training-data pipeline operators (dedup,
similarity search, text analysis, multimodal) and the relational
join/agg benchmark queries.

Float determinism notes (these queries hash-match DuckDB exactly):
- money aggregates go through integer cents/micros (round(x*10^k) as
  bigint), summed exactly, divided once at the end;
- cosine similarity uses a sequential left-fold (`aggregate` /
  `list_reduce`) over double-cast elements so both engines produce the
  identical double, then rounds;
- cross-engine hashes are md5-hex (portable), never xxhash/murmur.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.net import xff_select_client
from ..operators import (
    cosine_topk,
    cosine_topk_ivf,
    cosine_topk_lsh,
    exact_dedup,
    fingerprint,
    language_id,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    quality_score,
    simhash,
    text_stats,
)
from ..operators.dedup import bucket_pairs
from ..operators.multimodal import attach_binary_payload, binary_metadata
from ..session import load_tables
from .catalog import register


def _docs(spark, sf_dir):
    # the local testdata parquet is a single row-group => a 1-partition
    # scan; without a repartition every downstream md5/shingle pass and
    # broadcast-join probe runs on ONE core. At 100 TB inputs arrive
    # multi-partition and this becomes a cheap no-op-ish shuffle of
    # (id, text) pairs.
    return (
        load_tables(spark, sf_dir, "documents")["documents"]
        .repartition(spark.sparkContext.defaultParallelism)
    )


# ---------------------------------------------------------------------------
# Deduplication family (north-star training-data ops)
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    """
SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS content_hash,
       min(doc_id) AS keeper_id, count(*) AS n_docs
FROM documents GROUP BY 1
""",
    doc="exact dedup: hash-groupBy on canonicalized content; min-id survivor",
)
def q_dedup_exact(spark, sf_dir):
    return exact_dedup(_docs(spark, sf_dir))


# Fixed-count eval/probe split for the decontamination family: the
# probe set is the top-K documents by a pure-arithmetic int64 hash
# both engines compute identically — a FIXED-size benchmark split like
# a real eval set, not a corpus-proportional `doc_id % k` slice (the
# same scale anti-pattern as a `% k` ANN eval: a % k probe side grows
# with the corpus, breaking the broadcast and
# making gram-join work superlinear — decontaminate measured 14.1x
# wall at the 10x step-up). Spark resolves the K ids once per
# (sf_dir, k) with a TakeOrderedAndProject + bounded collect (an eval
# manifest IS driver-side metadata), and the resulting IN-list pushes
# into the parquet scan.
# K=20: a real benchmark's size is constant in the corpus; 20 keeps
# the sf0.01 gate non-vacuous for the full composed pipeline (the
# n-gram contamination of a 500-doc corpus by a 100-doc eval split
# flags every candidate survivor away)
_PROBE_K = 20
_PROBE_HASH_SQL = "((doc_id % 1048573) * 2654435761 + 12345) % 4294967296"


def _probe_ids_cte(k: int = _PROBE_K) -> str:
    return (
        f"probe_ids AS (\n  SELECT doc_id FROM documents\n"
        f"  ORDER BY {_PROBE_HASH_SQL}, doc_id LIMIT {k}\n)"
    )


_PROBE_CACHE: dict = {}


def _probe_doc_ids(spark, sf_dir: str, k: int = _PROBE_K) -> list[int]:
    key = (sf_dir, k)
    if key not in _PROBE_CACHE:
        d = load_tables(spark, sf_dir, "documents")["documents"]
        h = (
            (F.col("doc_id") % 1048573) * F.lit(2654435761) + 12345
        ) % F.lit(4294967296)
        _PROBE_CACHE[key] = [
            r[0]
            for r in d.orderBy(h.asc(), F.col("doc_id").asc())
            .limit(k).select("doc_id").collect()
        ]
    return _PROBE_CACHE[key]


_SHINGLE_CTE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
  FROM toks WHERE len(t) >= 3
), ex AS (
  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh
)
"""


@register(
    "dedup_ngram_jaccard",
    _SHINGLE_CTE
    + """
, kept AS (
  SELECT shingle FROM ex GROUP BY shingle HAVING count(*) BETWEEN 2 AND 64
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
         count(*) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN kept k ON a.shingle = k.shingle
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       round(common / (na + nb - common), 6) AS jaccard
FROM pairs WHERE common / (na + nb - common) >= 0.5
""",
    doc="near-dup via word-3-gram Jaccard; candidate gen is a shingle "
        "equi-join with document-frequency pruning (df_cap=64, identical "
        "on both engines — the quadratic per-shingle pair explode is the "
        "skew knob at 100 TB; measured max DF here is 7/25 at sf0.01/0.1 "
        "so the cap is inert at test scale)",
)
def q_dedup_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.5, df_cap=64)


def _minhash_oracle() -> str:
    from ..functions.text import MINHASH_A, MINHASH_B, MINHASH_P

    a = ", ".join(str(v) for v in MINHASH_A[:8])
    b = ", ".join(str(v) for v in MINHASH_B[:8])
    return (
        _SHINGLE_CTE
        + f"""
, mh AS (
  SELECT doc_id, i,
         min(( ([{a}])[i + 1]
               * (CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)
                  % {MINHASH_P})
               + ([{b}])[i + 1]) % {MINHASH_P}) AS h
  FROM ex CROSS JOIN range(0, 8) r(i)
  GROUP BY doc_id, i
), bands AS (
  SELECT doc_id, i // 2 AS band,
         string_agg(h::VARCHAR, '_' ORDER BY i) AS band_sig
  FROM mh GROUP BY doc_id, i // 2
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
"""
    )


@register(
    "dedup_minhash_lsh",
    _minhash_oracle(),
    doc="MinHash(8 universal-hash perms over md5-60bit shingle hashes) + "
        "LSH banding (4 bands x 2) candidates — one digest per shingle, "
        "permutations are multiply-mods (portable int64 math)",
)
def q_dedup_minhash(spark, sf_dir):
    return minhash_lsh_pairs(_docs(spark, sf_dir), n=3, num_hashes=8, band_size=2)


def _clusters_oracle() -> str:
    mh = _minhash_oracle()
    # reuse the minhash candidate SQL as a CTE inside a recursive
    # min-label walk (WITH RECURSIVE must lead the CTE list)
    head, _, final = mh.partition("SELECT DISTINCT a.doc_id AS doc_a")
    pairs_select = "SELECT DISTINCT a.doc_id AS doc_a" + final
    return (
        head.replace("WITH toks", "WITH RECURSIVE toks", 1)
        + f"""
, pairs AS (
{pairs_select}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), walk(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst
), comp AS (
  SELECT node AS doc_id, min(label) AS cluster_keeper FROM walk GROUP BY node
)
SELECT c.doc_id, c.cluster_keeper, s.cluster_size
FROM comp c JOIN (
  SELECT cluster_keeper, count(*) AS cluster_size FROM comp GROUP BY 1
) s USING (cluster_keeper)
"""
    )


@register(
    "dedup_clusters",
    _clusters_oracle(),
    doc="dedup resolution: MinHash candidate pairs -> connected "
        "components (min-label propagation, O(diameter) join rounds) -> "
        "canonical min-id keeper per cluster; every doc gets a row, so "
        "the output IS the keep/drop decision. Oracle computes components "
        "with a recursive CTE",
)
def q_dedup_clusters(spark, sf_dir):
    from ..operators.dedup import dedup_clusters

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, n=3, num_hashes=8, band_size=2)
    return dedup_clusters(pairs, docs, id_col="doc_id")


@register(
    "dedup_simhash",
    """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
  FROM documents
), h AS (
  SELECT doc_id, CAST('0x' || substr(md5(t), 1, 4) AS BIGINT) AS th FROM tok
), bits AS (
  SELECT doc_id, i,
         CASE WHEN sum(CASE WHEN (th // (1 << i)) % 2 = 1 THEN 1 ELSE -1 END) > 0
              THEN (1 << i) ELSE 0 END AS bitval
  FROM h CROSS JOIN range(0, 16) r(i)
  GROUP BY doc_id, i
)
SELECT doc_id, sum(bitval)::BIGINT AS simhash FROM bits GROUP BY doc_id
""",
    doc="SimHash-16 fingerprint: bit-majority over md5-derived token hashes; "
        "map-side only in Spark (aggregate over token array, no shuffle)",
)
def q_dedup_simhash(spark, sf_dir):
    return simhash(_docs(spark, sf_dir), bits=16)


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_FOLD = "list_reduce(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x, y) -> x + y)"


@register(
    "ann_cosine_topk",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
), scored AS (
  SELECT query_id, neighbor_id,
         round({_FOLD.format(a='qv', b='cv')}
               / (sqrt({_FOLD.format(a='qv', b='qv')})
                  * sqrt({_FOLD.format(a='cv', b='cv')})), 6) AS cosine
  FROM c CROSS JOIN q
  WHERE query_id <> neighbor_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
""",
    doc="brute-force cosine top-k (exact baseline); LSH-bucketed variant in "
        "operators/similarity.py is the 100TB path",
)
def q_ann_cosine(spark, sf_dir):
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return cosine_topk(emb.where(F.col("vec_id") < 10), emb, k=5)


# deterministic ±1 hyperplanes (dim 64): plane_i[j] = +1 iff
# (j * (2i + 3)) mod 7 < 3 — fixed literals, identical in the SQL twin
_PLANES = [
    [1.0 if (j * (2 * i + 3)) % 7 < 3 else -1.0 for j in range(64)]
    for i in range(4)
]


def _plane_sql(plane: list[float]) -> str:
    # integer fixed-point dot (matches similarity.LSH_SCALE floor-scale):
    # order-independent, so Spark's shuffled groupBy-sum and this fold
    # agree exactly
    vals = ", ".join(str(int(v)) for v in plane)
    return (
        f"list_reduce(list_transform(range(1, 65), "
        f"i -> CAST(floor(embedding[i]::DOUBLE * 1048576) AS BIGINT)"
        f" * ([{vals}]::BIGINT[])[i]), (x, y) -> x + y)"
    )


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN {_plane_sql(p)} > 0 THEN {2**i} ELSE 0 END)"
    for i, p in enumerate(_PLANES)
)

# OR-amplified variant: 6 independent tables x 4 planes (recall 0.84
# vs exact at sf0.001, vs 0.70 with 4 tables and 0.86 with 8 — the
# knee of the curve). A diverse
# deterministic mix (multiplicative-hash parity) avoids the duplicate
# planes the mod-7 formula yields past i=6.
_LSH_TABLES = [
    [
        [1.0 if ((t * 4 + i) * 73856093 + j * 19349663) % 97 < 48 else -1.0
         for j in range(64)]
        for i in range(4)
    ]
    for t in range(6)
]


def _table_bucket_sql(table: list[list[float]]) -> str:
    return " + ".join(
        f"(CASE WHEN {_plane_sql(p)} > 0 THEN {2**i} ELSE 0 END)"
        for i, p in enumerate(table)
    )


@register(
    "ann_cosine_lsh",
    f"""
WITH b AS (
  SELECT vec_id, embedding, {_BUCKET_SQL} AS bkt FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qv, bkt FROM b WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv, bkt FROM b
), scored AS (
  SELECT query_id, neighbor_id,
         round({_FOLD.format(a='qv', b='cv')}
               / (sqrt({_FOLD.format(a='qv', b='qv')})
                  * sqrt({_FOLD.format(a='cv', b='cv')})), 6) AS cosine
  FROM c JOIN q USING (bkt)
  WHERE query_id <> neighbor_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
""",
    doc="LSH-bucketed approximate top-k (random-hyperplane signs -> "
        "bucket equi-join): the 100TB scale path — candidate set shrinks "
        "by ~2^planes vs the brute-force cross join",
)
def q_ann_cosine_lsh(spark, sf_dir):
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return cosine_topk_lsh(
        emb.where(F.col("vec_id") < 10), emb, planes=_PLANES, k=5
    )


def _multitable_oracle() -> str:
    per_table = "\nUNION ALL\n".join(
        f"""  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM b{t} q JOIN b{t} c ON q.bkt = c.bkt AND q.vec_id < 10
  WHERE q.vec_id <> c.vec_id"""
        for t in range(len(_LSH_TABLES))
    )
    buckets = ",\n".join(
        f"b{t} AS (SELECT vec_id, embedding, {_table_bucket_sql(tbl)} AS bkt "
        f"FROM embeddings)"
        for t, tbl in enumerate(_LSH_TABLES)
    )
    return f"""
WITH {buckets},
cand AS (
  SELECT DISTINCT query_id, neighbor_id FROM (
{per_table}
  )
), scored AS (
  SELECT query_id, neighbor_id,
         round({_FOLD.format(a='q.embedding', b='c.embedding')}
               / (sqrt({_FOLD.format(a='q.embedding', b='q.embedding')})
                  * sqrt({_FOLD.format(a='c.embedding', b='c.embedding')})),
               6) AS cosine
  FROM cand JOIN embeddings q ON q.vec_id = query_id
  JOIN embeddings c ON c.vec_id = neighbor_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


@register(
    "ann_cosine_lsh_multiprobe",
    _multitable_oracle(),
    doc="OR-amplified LSH top-k: 6 independent tables x 4 hyperplanes; "
        "a pair is a candidate on a collision in ANY table (classic "
        "AND-OR amplification — planes/table set precision, table count "
        "sets recall). Candidate gen stays ONE equi-join on (table, "
        "bucket) via posexplode, never an OR-join. Recall vs the exact "
        "baseline is asserted in tests/test_similarity_recall.py",
)
def q_ann_cosine_lsh_multiprobe(spark, sf_dir):
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return cosine_topk_lsh(
        emb.where(F.col("vec_id") < 10), emb, tables=_LSH_TABLES, k=5
    )


# IVF codebook: 16 corpus vectors by fixed id (7, 20, ..., 202 — all
# present at every sf). A deterministic stand-in for trained k-means
# centroids; the operator contract only needs "small enough to
# broadcast".
_CENTROID_IDS = tuple(13 * i + 7 for i in range(16))

# integer fixed-point inner product (floor-scale 2^20, matching
# similarity.LSH_SCALE): order-independent, so Spark's shuffled
# partial-agg sum and this sequential fold agree bit-for-bit
_IDOT = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> CAST(floor({a}[i]::DOUBLE * 1048576) AS BIGINT)"
    " * CAST(floor({b}[i]::DOUBLE * 1048576) AS BIGINT)), (x, y) -> x + y)"
)


_IVF_TRAIN_ITERS = 3

# Trained codebooks are deterministic pure functions of (table dir,
# seed ids, iterations) — memoized per session exactly the way a real
# IVF/PQ deployment trains once and serves every downstream query
# (FAISS persists the codebook; re-training per query would be the
# anti-pattern). Four catalog queries consume the IVF codebook and one
# the PQ codebooks; the cache turns 4x/1x training cost into 1x.
_TRAINED_CACHE: dict = {}


def _trained_ivf_codebook(spark, sf_dir):
    from ..operators.similarity import ivf_train_codebook

    key = ("ivf", sf_dir)
    if key not in _TRAINED_CACHE:
        emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
        _TRAINED_CACHE[key] = ivf_train_codebook(
            emb, list(_CENTROID_IDS), iters=_IVF_TRAIN_ITERS
        )
    return _TRAINED_CACHE[key]


def _kmeans_cte() -> str:
    """WITH-prefix reproducing `ivf_train_codebook`'s Lloyd loop:
    exploded fixed-point corpus (ex), seed codebook (c0), and one
    (assign d_i / argmax a_i / re-center m_i / coalesce c_i) block per
    iteration — ending at c{_IVF_TRAIN_ITERS}, the trained codebook."""
    ids = ", ".join(str(i) for i in _CENTROID_IDS)
    cte = [f"""
WITH ex AS (
  SELECT vec_id AS vid, j,
         CAST(floor(embedding[j]::DOUBLE * 1048576) AS BIGINT) AS xs
  FROM embeddings, range(1, 65) AS t(j)
), c0 AS (
  SELECT vec_id AS cid, j,
         CAST(floor(embedding[j]::DOUBLE * 1048576) AS BIGINT) AS cs
  FROM embeddings, range(1, 65) AS t(j)
  WHERE vec_id IN ({ids})
)"""]
    for i in range(1, _IVF_TRAIN_ITERS + 1):
        cte.append(f""", d{i} AS (
  SELECT ex.vid, c.cid, sum(ex.xs * c.cs) AS d
  FROM ex JOIN c{i - 1} c ON ex.j = c.j GROUP BY ex.vid, c.cid
), a{i} AS (
  SELECT vid, cid FROM (
    SELECT vid, cid,
           row_number() OVER (PARTITION BY vid ORDER BY d DESC, cid) AS rn
    FROM d{i}) WHERE rn = 1
), m{i} AS (
  SELECT a.cid, ex.j,
         CAST(floor(sum(ex.xs)::DOUBLE / count(*)) AS BIGINT) AS cs
  FROM a{i} a JOIN ex ON ex.vid = a.vid GROUP BY a.cid, ex.j
), c{i} AS (
  SELECT c.cid, c.j, COALESCE(m.cs, c.cs) AS cs
  FROM c{i - 1} c LEFT JOIN m{i} m ON m.cid = c.cid AND m.j = c.j
)""")
    return "".join(cte)


def _ivf_oracle() -> str:
    """Unrolled-k-means IVF oracle: reproduces `ivf_train_codebook`'s
    3 Lloyd iterations as chained CTEs in the SAME integer fixed-point
    arithmetic (int64 MIPS dots — order-independent; re-center =
    floor(exact-double sum / count) — IEEE-identical across engines),
    then the assignment/probe/exact-rank pipeline on the trained
    codebook. Proves the TRAINED ann path end-to-end cross-engine,
    training loop included."""
    cte = [_kmeans_cte()]
    cte.append(f""", cd AS (
  SELECT ex.vid, c.cid, sum(ex.xs * c.cs) AS d
  FROM ex JOIN c{_IVF_TRAIN_ITERS} c ON ex.j = c.j GROUP BY ex.vid, c.cid
), cells AS (
  SELECT vid, cid,
         row_number() OVER (PARTITION BY vid ORDER BY d DESC, cid) AS rn
  FROM cd
), cc AS (
  SELECT vid AS neighbor_id, cid AS cell FROM cells WHERE rn = 1
), qp AS (
  SELECT vid AS query_id, cid AS cell FROM cells
  WHERE vid < 10 AND rn <= 2
), cand AS (
  SELECT query_id, neighbor_id FROM cc JOIN qp USING (cell)
  WHERE query_id <> neighbor_id
), scored AS (""")
    return "".join(cte) + f"""
  SELECT query_id, neighbor_id,
         round({_FOLD.format(a='q.embedding', b='c.embedding')}
               / (sqrt({_FOLD.format(a='q.embedding', b='q.embedding')})
                  * sqrt({_FOLD.format(a='c.embedding', b='c.embedding')})),
               6) AS cosine
  FROM cand JOIN embeddings q ON q.vec_id = query_id
  JOIN embeddings c ON c.vec_id = neighbor_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


@register(
    "ann_cosine_ivf",
    _ivf_oracle(),
    doc="IVF-bucketed approximate top-k with a TRAINED codebook: 3 "
        "Lloyd iterations in cross-engine-exact integer fixed-point "
        "arithmetic (seeded by 16 fixed corpus ids), then corpus "
        "vectors assigned to their nearest centroid cell, queries "
        "probe nprobe=2 cells, exact cosine ranks the probed "
        "candidates. The oracle unrolls the SAME k-means as CTEs, so "
        "the training loop itself is hash-verified. One assignment "
        "pass over the corpus + an equi-join on the cell id; recall "
        "measured in tests/test_similarity_recall.py",
)
def q_ann_cosine_ivf(spark, sf_dir):
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    cb = _trained_ivf_codebook(spark, sf_dir)
    return cosine_topk_ivf(
        emb.where(F.col("vec_id") < 10), emb, k=5, nprobe=2, codebook=cb,
    )


# PQ operating point (recall curve measured in
# tests/test_similarity_recall.py): 16 codewords per subspace seeded
# from the same fixed-id family as the IVF codebook, 8 subspaces x
# 8 dims (16 bytes/vector = 32x compression of the float32 corpus),
# 2 Lloyd iterations, ADC prerank to 64 candidates before the exact
# re-rank — recall 0.76 vs exact on the near-uniform synthetic
# corpus (0.93 at 16 subspaces; rerank=32 measures 0.55)
_PQ_SEED_IDS = tuple(13 * i + 7 for i in range(16))
_PQ_N_SUB = 8
_PQ_SUB_DIM = 64 // _PQ_N_SUB
_PQ_TRAIN_ITERS = 2
_PQ_RERANK = 64


def _pq_cte() -> str:
    """WITH-prefix reproducing `pq_train_codebooks`: the exploded
    corpus keyed by (subspace m, in-subspace position jj), the seed
    codebooks p0, and one (distance pd_i / argmin pa_i / re-center
    pm_i / coalesce p_i) block per Lloyd iteration — squared-L2
    assignment (ties to the lowest code id) instead of the IVF MIPS
    dot, all in the same order-independent int64 fixed-point space."""
    ids = ", ".join(str(i) for i in _PQ_SEED_IDS)
    sd = _PQ_SUB_DIM
    cte = [f"""
WITH ex AS (
  SELECT vec_id AS vid, (j - 1) // {sd} AS m, (j - 1) % {sd} AS jj,
         CAST(floor(embedding[j]::DOUBLE * 1048576) AS BIGINT) AS xs
  FROM embeddings, range(1, 65) AS t(j)
), p0 AS (
  SELECT vec_id AS cid, (j - 1) // {sd} AS m, (j - 1) % {sd} AS jj,
         CAST(floor(embedding[j]::DOUBLE * 1048576) AS BIGINT) AS cs
  FROM embeddings, range(1, 65) AS t(j)
  WHERE vec_id IN ({ids})
)"""]
    for i in range(1, _PQ_TRAIN_ITERS + 1):
        cte.append(f""", pd{i} AS (
  SELECT ex.vid, ex.m, c.cid, sum((ex.xs - c.cs) * (ex.xs - c.cs)) AS d
  FROM ex JOIN p{i - 1} c ON ex.m = c.m AND ex.jj = c.jj
  GROUP BY ex.vid, ex.m, c.cid
), pa{i} AS (
  SELECT vid, m, cid FROM (
    SELECT vid, m, cid,
           row_number() OVER (PARTITION BY vid, m ORDER BY d, cid) AS rn
    FROM pd{i}) WHERE rn = 1
), pm{i} AS (
  SELECT a.m, a.cid, ex.jj,
         CAST(floor(sum(ex.xs)::DOUBLE / count(*)) AS BIGINT) AS cs
  FROM pa{i} a JOIN ex ON ex.vid = a.vid AND ex.m = a.m
  GROUP BY a.m, a.cid, ex.jj
), p{i} AS (
  SELECT c.m, c.cid, c.jj, COALESCE(n.cs, c.cs) AS cs
  FROM p{i - 1} c
  LEFT JOIN pm{i} n ON n.m = c.m AND n.cid = c.cid AND n.jj = c.jj
)""")
    return "".join(cte)


def _pq_oracle() -> str:
    n = _PQ_TRAIN_ITERS
    return _pq_cte() + f""", cdm AS (
  SELECT ex.vid, ex.m, c.cid, sum((ex.xs - c.cs) * (ex.xs - c.cs)) AS d
  FROM ex JOIN p{n} c ON ex.m = c.m AND ex.jj = c.jj
  GROUP BY ex.vid, ex.m, c.cid
), codes AS (
  SELECT vid, m, cid AS code FROM (
    SELECT vid, m, cid,
           row_number() OVER (PARTITION BY vid, m ORDER BY d, cid) AS rn
    FROM cdm) WHERE rn = 1
), lut AS (
  SELECT ex.vid AS qid, ex.m, c.cid, sum(ex.xs * c.cs) AS l
  FROM ex JOIN p{n} c ON ex.m = c.m AND ex.jj = c.jj
  WHERE ex.vid < 10
  GROUP BY ex.vid, ex.m, c.cid
), adc AS (
  SELECT l.qid AS query_id, co.vid AS neighbor_id, sum(l.l) AS approx
  FROM codes co JOIN lut l ON co.m = l.m AND co.code = l.cid
  WHERE l.qid <> co.vid
  GROUP BY 1, 2
), cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx DESC, neighbor_id) AS rn
    FROM adc) WHERE rn <= {_PQ_RERANK}
), scored AS (
  SELECT query_id, neighbor_id,
         round({_FOLD.format(a='q.embedding', b='c.embedding')}
               / (sqrt({_FOLD.format(a='q.embedding', b='q.embedding')})
                  * sqrt({_FOLD.format(a='c.embedding', b='c.embedding')})),
               6) AS cosine
  FROM cand JOIN embeddings q ON q.vec_id = query_id
  JOIN embeddings c ON c.vec_id = neighbor_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


@register(
    "ann_cosine_pq",
    _pq_oracle(),
    doc="PQ-compressed approximate top-k (IVFADC's compression half, "
        "Jegou et al. 2011): per-subspace integer k-means codebooks "
        "(8 subspaces x 8 dims, 16 codes, 2 Lloyd iterations — squared-"
        "L2 assignment, one composite-keyed loop for all subspaces), "
        "corpus encoded to 8 code ids per vector (32x smaller than the "
        "raw floats), queries score the COMPRESSED corpus via a "
        "broadcast ADC lookup-table join, top-64 per query re-ranked "
        "by exact cosine. The oracle unrolls the training, encoding, "
        "LUT, and ADC stages as CTEs in the same int64 fixed-point "
        "arithmetic, so the whole compressed path is hash-verified. "
        "Recall vs exact (0.76 here) measured in "
        "tests/test_similarity_recall.py",
)
def q_ann_cosine_pq(spark, sf_dir):
    from ..operators.similarity import cosine_topk_pq, pq_train_codebooks

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    key = ("pq", sf_dir)
    if key not in _TRAINED_CACHE:
        _TRAINED_CACHE[key] = pq_train_codebooks(
            emb, list(_PQ_SEED_IDS), n_sub=_PQ_N_SUB, iters=_PQ_TRAIN_ITERS
        )
    return cosine_topk_pq(
        emb.where(F.col("vec_id") < 10), emb, _TRAINED_CACHE[key],
        k=5, rerank=_PQ_RERANK,
    )


@register(
    "embedding_int8_quantize",
    f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE) AS v,
         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS m
  FROM embeddings
), c AS (
  SELECT vec_id, v, m,
         CASE WHEN m > 0
              THEN list_transform(v, x -> CAST(floor(x / m * 127) AS INT))
              ELSE list_transform(v, x -> 0) END AS codes
  FROM q
), r AS (
  SELECT vec_id, v, m, codes,
         list_transform(codes, cc -> cc::DOUBLE / 127 * m) AS recon
  FROM c
)
SELECT vec_id,
       round(m, 6) AS max_abs,
       md5(array_to_string(list_transform(codes, cc -> cc::VARCHAR), ','))
         AS codes_hash,
       round(CASE WHEN m > 0 THEN
         {_FOLD.format(a='v', b='recon')}
         / (sqrt({_FOLD.format(a='v', b='v')})
            * sqrt({_FOLD.format(a='recon', b='recon')}))
         ELSE 0 END, 6) AS recon_cosine,
       round(list_max(list_transform(range(1, 65),
                                     i -> abs(v[i] - recon[i]))), 6)
         AS max_abs_err
FROM r
""",
    doc="symmetric per-vector int8 quantization of the embedding "
        "column (4x storage cut — the first compression every 100 TB "
        "vector corpus applies): code = floor(x / max|x| * 127), with "
        "reconstruction cosine + max abs error as the quality evidence "
        "and an md5 over the code bytes so the compressed corpus itself "
        "is hash-verified. Pure map-side projection, zero shuffles",
)
def q_embedding_int8_quantize(spark, sf_dir):
    from ..operators.similarity import int8_quantize

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return int8_quantize(emb)


@register(
    "embedding_cluster_summary",
    _kmeans_cte() + f""", cd AS (
  SELECT ex.vid, c.cid, sum(ex.xs * c.cs) AS d
  FROM ex JOIN c{_IVF_TRAIN_ITERS} c ON ex.j = c.j GROUP BY ex.vid, c.cid
), cells AS (
  SELECT vid, cid FROM (
    SELECT vid, cid,
           row_number() OVER (PARTITION BY vid ORDER BY d DESC, cid) AS rn
    FROM cd) WHERE rn = 1
), lab AS (
  SELECT cells.cid AS cell, e.label, count(*) AS c
  FROM cells JOIN embeddings e ON e.vec_id = cells.vid
  GROUP BY 1, 2
), top AS (
  SELECT cell, label, c,
         row_number() OVER (PARTITION BY cell ORDER BY c DESC, label) AS rn,
         -- CAST: DuckDB's sum(BIGINT) widens to HUGEINT, which the driver's
         -- value-hash canonicalizes differently from int64
         CAST(sum(c) OVER (PARTITION BY cell) AS BIGINT) AS n_vecs
  FROM lab
)
SELECT cell, n_vecs, label AS top_label, c AS top_label_n,
       CAST((c * 1000000) // n_vecs AS BIGINT) AS purity_ppm
FROM top WHERE rn = 1
""",
    doc="document clustering over the trained k-means codebook: every "
        "embedding assigned to its cell (literal codebook, one "
        "map-side corpus pass), then per-cluster size + "
        "majority label + purity — the topic-clustering / "
        "cluster-balancing step of a training-data pipeline, and a "
        "label-based quality readout for the codebook itself. Oracle "
        "unrolls the same integer Lloyd training",
)
def q_embedding_cluster_summary(spark, sf_dir):
    from ..operators.similarity import ivf_assign

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    cb = _trained_ivf_codebook(spark, sf_dir)
    # label rides through the assignment pass (no join-back on vec_id)
    lab = ivf_assign(emb, cb, carry_cols=("label",))
    per = lab.groupBy("cell", "label").agg(F.count(F.lit(1)).alias("c"))
    agg = per.groupBy("cell").agg(
        F.sum("c").alias("n_vecs"),
        F.expr("max_by(label, struct(c, -label))").alias("top_label"),
        F.max("c").alias("top_label_n"),
    )
    return agg.select(
        "cell", "n_vecs", "top_label", "top_label_n",
        # purity as exact parts-per-million (integer division) — no
        # trailing double for value-hash canonicalization to trip on
        F.expr("(top_label_n * 1000000L) div n_vecs").alias("purity_ppm"),
    )


@register(
    "gopher_topngram",
    """
WITH toks AS (
  SELECT doc_id, length(text) AS n_ch,
         string_split_regex(trim(text), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT doc_id, n_ch, n,
         list_transform(range(1, len(t) - n + 2),
                        i -> array_to_string(t[i:i+n-1], ' ')) AS shingles
  FROM toks, (VALUES (2), (3), (4)) v(n) WHERE len(t) >= n
), ex AS (
  SELECT doc_id, n_ch, n, unnest(shingles) AS shingle FROM sh
), cnt AS (
  SELECT doc_id, n_ch, n, shingle, count(*) AS c
  FROM ex GROUP BY doc_id, n_ch, n, shingle
), top AS (
  SELECT doc_id, n_ch, n, shingle, c,
         row_number() OVER (PARTITION BY doc_id, n
                            ORDER BY c DESC, shingle) AS rn
  FROM cnt
)
SELECT doc_id,
       round(max(CASE WHEN n = 2
                 THEN (c * length(shingle))::DOUBLE / n_ch END), 6)
         AS top2_char_frac,
       round(max(CASE WHEN n = 3
                 THEN (c * length(shingle))::DOUBLE / n_ch END), 6)
         AS top3_char_frac,
       round(max(CASE WHEN n = 4
                 THEN (c * length(shingle))::DOUBLE / n_ch END), 6)
         AS top4_char_frac
FROM top WHERE rn = 1 GROUP BY doc_id
""",
    doc="Gopher repetition gate, dominant-phrase half: fraction of doc "
        "characters covered by the most common word n-gram for "
        "n=2,3,4 — one tokenize/lead-window pass builds all three "
        "n-gram widths (no per-n re-scan), one partial-agged count "
        "shuffle, per-(doc,n) top-1 window, pivot to one row per doc",
)
def q_gopher_topngram(spark, sf_dir):
    from ..operators.textanalysis import topgram_char_fractions

    return topgram_char_fractions(_docs(spark, sf_dir))


@register(
    "dedup_embedding_cosine",
    f"""
WITH b AS (
  SELECT vec_id, embedding, {_BUCKET_SQL} AS bkt FROM embeddings
), pairs AS (
  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
         round({_FOLD.format(a='a.embedding', b='b2.embedding')}
               / (sqrt({_FOLD.format(a='a.embedding', b='a.embedding')})
                  * sqrt({_FOLD.format(a='b2.embedding', b='b2.embedding')})),
               6) AS cosine
  FROM b a JOIN b b2 ON a.bkt = b2.bkt AND a.vec_id < b2.vec_id
)
SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= 0.4
""",
    doc="embedding-cosine near-dup: LSH-bucketed candidate pairs with an "
        "exact-cosine threshold — the vector member of the dedup family "
        "(candidate join is bucket-local, like MinHash banding for text)",
)
def q_dedup_embedding_cosine(spark, sf_dir):
    from ..operators.similarity import dot, l2_norm, lsh_buckets_relational
    from ..operators.skew import spread

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    # candidate pairs from id-only bucket rows (in-bucket pairs — one
    # evaluation of the bucket pipeline, no self-join); vectors and
    # hoisted norms re-attach by id afterward, and the interpreted dot
    # fold runs on an explicitly wide stage (AQE sizes the pair shuffle
    # by bytes, blind to fold cost). The order predicate stays: vec_id
    # is not unique by construction.
    b = lsh_buckets_relational(emb, [_PLANES]).select(
        "vec_id", F.col("__bkt").alias("bkt")
    )
    par = spark.sparkContext.defaultParallelism
    grouped = (
        b.groupBy("bkt")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
        .where(F.size("ids") >= 2)
        .repartition(par)
    )
    pairs = (
        bucket_pairs(grouped, "ids", "vec_a", "vec_b")
        .where(F.col("vec_a") < F.col("vec_b"))
        .distinct()
        # AQE coalesces the distinct's output to 1 partition (tiny
        # bytes) and the broadcast joins below inherit that width —
        # Catalyst then pushes the cosine filter INTO the join stage,
        # so the interpreted fold would run single-core. Explicit
        # width BEFORE the joins keeps the whole score+filter wide.
        .repartition(par)
    )
    v = spread(emb).select(
        "vec_id", F.col("embedding").alias("__v"),
        l2_norm(F.col("embedding")).alias("__n"),
    )
    return (
        pairs.join(v.select(F.col("vec_id").alias("vec_a"),
                            F.col("__v").alias("__ea"),
                            F.col("__n").alias("__na")), "vec_a")
        .join(v.select(F.col("vec_id").alias("vec_b"),
                       F.col("__v").alias("__eb"),
                       F.col("__n").alias("__nb")), "vec_b")
        .withColumn(
            "cosine",
            F.round(dot(F.col("__ea"), F.col("__eb")) / (F.col("__na") * F.col("__nb")), 6),
        )
        .where(F.col("cosine") >= 0.4)
        .select("vec_a", "vec_b", "cosine")
    )


@register(
    "semdedup",
    _kmeans_cte() + f""", cd AS (
  SELECT ex.vid, c.cid, sum(ex.xs * c.cs) AS d
  FROM ex JOIN c{_IVF_TRAIN_ITERS} c ON ex.j = c.j GROUP BY ex.vid, c.cid
), cells AS (
  SELECT vid, cid FROM (
    SELECT vid, cid,
           row_number() OVER (PARTITION BY vid ORDER BY d DESC, cid) AS rn
    FROM cd) WHERE rn = 1
), kb AS (
  SELECT c.vid AS vec_id, CAST(c.cid AS BIGINT) AS cell, e.embedding,
         {_BUCKET_SQL} AS bkt
  FROM cells c JOIN embeddings e ON e.vec_id = c.vid
), pairs AS (
  SELECT a.cell, a.vec_id AS vec_a, b2.vec_id AS vec_b,
         round({_FOLD.format(a='a.embedding', b='b2.embedding')}
               / (sqrt({_FOLD.format(a='a.embedding', b='a.embedding')})
                  * sqrt({_FOLD.format(a='b2.embedding', b='b2.embedding')})),
               6) AS cosine
  FROM kb a JOIN kb b2 ON a.cell = b2.cell AND a.bkt = b2.bkt
                       AND a.vec_id < b2.vec_id
)
SELECT cell, vec_b AS vec_id, CAST(min(vec_a) AS BIGINT) AS dropped_by
FROM pairs WHERE cosine >= 0.4 GROUP BY 1, 2
""",
    doc="SemDeDup (Abbas et al. 2023): semantic dedup by clustering "
        "then pruning near-duplicates WITHIN each cluster — the "
        "cluster scope is what makes it tractable where corpus-wide "
        "pairwise cosine is not. Embeddings are assigned to the "
        "trained k-means codebook (broadcast centroids, one corpus "
        "pass — same training loop the oracle unrolls), and candidate "
        "pairs are generated per (cell, LSH-bucket): at 100 TB a cell "
        "is still corpus/k ~ millions of vectors, so within-cell "
        "all-pairs is quadratic in cell size — the same LSH blocking "
        "the flat cosine dedup uses bounds the fan-out per composite "
        "key while the cluster key keeps the SemDeDup semantics "
        "(cross-cluster near-dups are deliberately out of scope, per "
        "the paper). Keeper rule: a vector is dropped when any "
        "lower-id same-block vector sits at cosine >= 0.4; output is "
        "the dropped set with its keeper (min-id neighbor) — the "
        "deterministic min-label convention every dedup op here "
        "shares. One grouped combination-explode (no self-join), "
        "vectors re-attach by id, fold runs on an explicitly wide "
        "stage",
)
def q_semdedup(spark, sf_dir):
    from ..operators.similarity import (
        _fixed_point_rows,
        _ivf_cell_sql,
        _lsh_pack_sql,
        dot,
        l2_norm,
    )
    from ..operators.skew import spread

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    cb = _trained_ivf_codebook(spark, sf_dir)
    # cell AND bucket are both per-row functions of the one embedding,
    # so they compute in ONE map pass over a shared fixed-point layer
    # (no join-back on vec_id). The __xs layer stays its own
    # projection so the cell/bucket HOFs reference an attribute, not
    # 20 inlined copies of the conversion.
    keyed = _fixed_point_rows(emb, "vec_id", "embedding").selectExpr(
        "vec_id",
        f"{_ivf_cell_sql(cb)} AS cell",
        f"{_lsh_pack_sql(_PLANES)} AS bkt",
    )
    par = spark.sparkContext.defaultParallelism
    grouped = (
        keyed.groupBy("cell", "bkt")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
        .where(F.size("ids") >= 2)
        .repartition(par)
    )
    # the order predicate stays: vec_id is not unique by construction
    pairs = (
        bucket_pairs(grouped, "ids", "vec_a", "vec_b", "cell")
        .where(F.col("vec_a") < F.col("vec_b"))
        .repartition(par)
    )
    v = spread(emb).select(
        "vec_id", F.col("embedding").alias("__v"),
        l2_norm(F.col("embedding")).alias("__n"),
    )
    scored = (
        pairs.join(
            v.select(F.col("vec_id").alias("vec_a"),
                     F.col("__v").alias("__ea"),
                     F.col("__n").alias("__na")), "vec_a")
        .join(
            v.select(F.col("vec_id").alias("vec_b"),
                     F.col("__v").alias("__eb"),
                     F.col("__n").alias("__nb")), "vec_b")
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("__ea"), F.col("__eb"))
                / (F.col("__na") * F.col("__nb")), 6),
        )
        .where(F.col("cosine") >= 0.4)
    )
    return (
        scored.groupBy("cell", F.col("vec_b").alias("vec_id"))
        .agg(F.min("vec_a").alias("dropped_by"))
        .select(F.col("cell").cast("long").alias("cell"), "vec_id",
                "dropped_by")
    )


# ---------------------------------------------------------------------------
# Text analysis family
# ---------------------------------------------------------------------------

@register(
    "text_stats",
    """
WITH t AS (
  SELECT doc_id, length(text) AS n_chars,
         string_split_regex(trim(text), '\\s+') AS tok
  FROM documents
)
SELECT doc_id, n_chars, len(tok) AS n_tokens,
       round(list_reduce(list_transform(tok, s -> length(s) * 1.0),
                         (a, b) -> a + b) / greatest(len(tok), 1), 6)
         AS avg_token_len,
       len(list_distinct(tok)) AS n_distinct_tokens
FROM t
""",
    doc="token/char stats projection (map-side only)",
)
def q_text_stats(spark, sf_dir):
    return text_stats(_docs(spark, sf_dir))


@register(
    "token_count_bpe",
    """
WITH t AS (
  SELECT doc_id, length(text) AS n_chars,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens_ws,
         len(list_filter(
           regexp_extract_all(text,
             '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+'),
           s -> NOT regexp_matches(s, '^\\s+$'))) AS n_tokens_bpe
  FROM documents
)
SELECT doc_id, n_tokens_ws, n_tokens_bpe,
       round(n_chars * 1.0 / greatest(n_tokens_bpe, 1), 6) AS chars_per_token
FROM t
""",
    doc="LLM-budget token counting: whitespace words + a GPT-2-style "
        "regex pretokenizer (contractions / space-prefixed letter, digit, "
        "punctuation runs — lookahead-free so Java regex and RE2 agree); "
        "chars_per_token is the compression proxy quality filters use. "
        "Map-side only",
)
def q_token_count_bpe(spark, sf_dir):
    from ..operators.textanalysis import token_counts

    return token_counts(_docs(spark, sf_dir))


@register(
    "text_repetition",
    """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), sh AS (
  SELECT doc_id, list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS shingles
  FROM toks WHERE len(t) >= 3
), ex AS (
  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh
), freq AS (
  SELECT doc_id, max(n_sh) AS n_shingles, shingle, count(*) AS c
  FROM ex GROUP BY doc_id, shingle
)
SELECT doc_id, max(n_shingles) AS n_shingles, count(*) AS n_distinct,
       round(1.0 - count(*) * 1.0 / max(n_shingles), 6) AS dup_shingle_ratio,
       round(max(c) * 1.0 / max(n_shingles), 6) AS top_shingle_ratio
FROM freq GROUP BY doc_id
""",
    doc="Gopher-style within-doc repetition: duplicate word-3-gram ratio "
        "+ top-shingle frequency ratio — the boilerplate/looping-text "
        "quality gate; relational shingling, two partial-agged shuffles",
)
def q_text_repetition(spark, sf_dir):
    from ..operators.textanalysis import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


@register(
    "sequence_packing",
    """
SELECT doc_id, source, doc_id // 256 AS subshard,
       len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
       CAST(floor((sum(len(string_split_regex(trim(text), '\\s+')))
                     OVER (PARTITION BY source, doc_id // 256
                           ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING)
                   - len(string_split_regex(trim(text), '\\s+')))
                  / 512.0) AS BIGINT) AS seq_id
FROM documents
""",
    doc="sequence packing for pretraining batches: docs assigned to "
        "fixed-token-budget sequences by running token count, packed "
        "per (source, id-range sub-shard) in deterministic id order — "
        "a global cumsum would be a one-reducer global sort, and "
        "source alone is an unbounded partition at corpus scale; the "
        "256-doc sub-shard caps every window partition (≤ one partial "
        "sequence of waste per sub-shard)",
)
def q_sequence_packing(spark, sf_dir):
    from ..operators.textanalysis import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=512)


@register(
    "regional_revenue",
    """
SELECT n_name,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
         / 10000.0 AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
""",
    doc="TPC-H Q5-shaped six-table join: local-supplier revenue by "
        "nation within a region/date band. Exercises Catalyst's join "
        "reordering + broadcast selection across the full star "
        "(region/nation broadcast into customer/supplier, the fact "
        "tables join on their keys, the c=s nation equality prunes "
        "before the aggregate); money in exact integer basis points",
)
def q_regional_revenue(spark, sf_dir):
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem",
                    "supplier", "nation", "region")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg((F.sum(rev) / 10000.0).alias("revenue"))
    )


@register(
    "stratified_sample",
    """
WITH b AS (
  SELECT doc_id, source,
         CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT) % 10000
           AS sample_bucket
  FROM documents
)
SELECT doc_id, source, sample_bucket FROM b
WHERE sample_bucket < 10000 * (CASE source
  WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5 WHEN 'src2' THEN 0.25
  WHEN 'src3' THEN 0.1 ELSE 0.02 END)
""",
    doc="domain-mixing stratified sampler: per-source keep rates via a "
        "DETERMINISTIC md5(id) bucket draw (never rand() — retries, "
        "lineage recompute, and both engines reproduce the same row "
        "set). Map-side only; the keep/drop set is stable across runs, "
        "the property training reproducibility depends on",
)
def q_stratified_sample(spark, sf_dir):
    from ..operators.textanalysis import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir),
        rates={"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1},
        default_rate=0.02,
    )


@register(
    "decontaminate",
    _SHINGLE_CTE
    + f"""
, {_probe_ids_cte()}
, evals AS (
  SELECT DISTINCT shingle FROM ex JOIN probe_ids USING (doc_id)
)
SELECT e.doc_id, count(*) AS n_overlap
FROM ex e JOIN evals USING (shingle)
WHERE e.doc_id NOT IN (SELECT doc_id FROM probe_ids)
GROUP BY 1
""",
    doc="benchmark decontamination: training docs sharing ANY "
        "word-3-gram with the eval subset are flagged with their "
        "overlap count — the n-gram overlap rule that keeps test sets "
        "out of training corpora. The eval split is FIXED-COUNT "
        "(top-K by the shared deterministic hash — a real benchmark "
        "has constant size; a `doc_id % 50` slice grows with "
        "the corpus, measured 14.1x wall at the 10x step-up). Probe "
        "shingles BROADCAST (and stay broadcastable at ANY corpus "
        "size now); the corpus is one shingle pass + a map-side "
        "join, no corpus shuffle on the probe key",
)
def q_decontaminate(spark, sf_dir):
    from ..operators.dedup import decontaminate

    return decontaminate(
        _docs(spark, sf_dir),
        probe_predicate=F.col("doc_id").isin(_probe_doc_ids(spark, sf_dir)),
    )


@register(
    "pii_scrub",
    """
WITH aug AS (
  SELECT doc_id,
         text || ' contact u' || doc_id || '@example.com or 555-'
              || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || '-4567 from 10.' || (doc_id % 32) || '.0.1' AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
       len(regexp_extract_all(text, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS n_phone,
       len(regexp_extract_all(text,
           '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ipv4,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g'),
           '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IPV4>', 'g'))
         AS scrubbed_hash
FROM aug
""",
    doc="PII detection + redaction (training-data scrubbing stage): "
        "per-doc email/phone/IPv4 match counts AND the md5 of the "
        "redacted text — the hash proves the replacement bytes are "
        "identical across engines, not just the counts. Patterns live "
        "in the Java-regex ∩ RE2 subset; map-side only. PII is "
        "synthesized deterministically (the synth corpus contains none)",
)
def q_pii_scrub(spark, sf_dir):
    from ..operators.textanalysis import pii_scrub

    docs = _docs(spark, sf_dir)
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-4567 from 10."),
            (F.col("doc_id") % 32).cast("string"), F.lit(".0.1"),
        ).alias("text"),
    )
    return pii_scrub(aug)


@register(
    "quality_filter_pipeline",
    """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok FROM documents
), q AS (
  SELECT doc_id,
         round(0.4 * (CASE WHEN len(tok) BETWEEN 10 AND 10000
                           THEN 1.0 ELSE 0.0 END)
               + 0.3 * least(len(list_distinct(tok))
                             / greatest(len(tok), 1) * 2, 1.0)
               + 0.3 * least(len(list_filter(tok,
                   s -> s IN ('the','a','of','and','is','to','in')))
                   / greatest(len(tok), 1) * 10, 1.0), 6) AS quality
  FROM t
), scores AS (
  SELECT doc_id, l.lang,
         round(len(list_filter(tok, s -> list_contains(l.words, s)))
               / greatest(len(tok), 1), 6) AS score
  FROM t CROSS JOIN (
    SELECT * FROM (VALUES
      ('de', ['der','die','das','und','ist','ein','zu']),
      ('en', ['the','a','of','and','is','to','in']),
      ('es', ['el','la','de','y','es','en','un']),
      ('fr', ['le','la','de','et','est','en','un'])
    ) AS v(lang, words)) l
), lid AS (
  SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang
  FROM (SELECT doc_id, lang, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang DESC) AS rn
        FROM scores) WHERE rn = 1
), sh AS (
  SELECT doc_id, list_transform(range(1, len(tok) - 1),
                 i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]) AS shingles
  FROM t WHERE len(tok) >= 3
), rep AS (
  SELECT doc_id, round(1.0 - len(list_distinct(shingles)) * 1.0
                       / len(shingles), 6) AS dup_shingle_ratio
  FROM sh
), h AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS ch
  FROM documents
), keepers AS (
  SELECT ch, min(doc_id) AS keeper_id FROM h GROUP BY ch
), joined AS (
  SELECT q.doc_id, q.quality, lid.pred_lang,
         coalesce(rep.dup_shingle_ratio, 0.0) AS dup_shingle_ratio,
         h.doc_id = k.keeper_id AS is_keeper
  FROM q JOIN lid USING (doc_id)
  LEFT JOIN rep USING (doc_id)
  JOIN h ON h.doc_id = q.doc_id
  JOIN keepers k ON k.ch = h.ch
)
SELECT doc_id, quality, pred_lang, dup_shingle_ratio, is_keeper,
       is_keeper AND pred_lang = 'en' AND quality >= 0.5
         AND dup_shingle_ratio <= 0.6 AS keep,
       CASE WHEN NOT is_keeper THEN 'duplicate'
            WHEN pred_lang <> 'en' THEN 'language'
            WHEN quality < 0.5 THEN 'quality'
            WHEN dup_shingle_ratio > 0.6 THEN 'repetition'
            ELSE 'keep' END AS drop_reason
FROM joined
""",
    doc="the training-data pipeline END-TO-END: quality score + language "
        "id + within-doc repetition + exact-dedup keeper composed into "
        "one keep/drop decision per document with the failing gate named "
        "— the flagship composition of the LLM-data operator family. All "
        "four legs share the one documents scan; joins are 1:1 on "
        "doc_id/content-hash",
)
def q_quality_filter_pipeline(spark, sf_dir):
    # guide §2.1/§2.4: all four gate signals are PER-ROW functions
    # of the one documents row, so they compute in ONE map-side
    # projection instead of four separate metric frames (quality_score, language_id, repetition_stats, the
    # fingerprint) and joined them back on doc_id (4 joins + the
    # repetition window/agg pair + a keeper agg+join: 11 exchanges,
    # 5 scans). The only non-map signal, the exact-dedup keeper, is
    # min(doc_id) OVER (PARTITION BY ch) — a window on the content
    # hash instead of agg + join-back (the duplicate_ngram_fraction
    # lesson). Repetition needs only dup_shingle_ratio here, which is
    # distinct-count over the doc's own 3-gram multiset: shingles as
    # an arrays_zip of three slices (NOT element_at(tok, i) inside the
    # lambda — a captured outer expression re-evaluates per element,
    # turning the tokenize quadratic), structs instead of concat
    # strings (tokens carry no whitespace, so tuple-distinct ==
    # string-distinct, the oracle's list_distinct). Interleaved A/B
    # and plan diff in OPTIMIZATION_r13.md; values bit-identical
    # (same double arithmetic, same rounding).
    from ..functions.text import doc_fingerprint, tokens
    from ..operators.skew import spread
    from ..operators.textanalysis import STOPWORDS, _ratio_in
    from pyspark.sql import Window

    docs = spread(_docs(spark, sf_dir))
    tok = tokens(F.col("text"))
    n_tok = F.size(tok)
    diversity = F.size(F.array_distinct(tok)) / F.greatest(n_tok, F.lit(1))
    stop_ratio = _ratio_in(tok, STOPWORDS["en"])
    len_ok = F.when((n_tok >= 10) & (n_tok <= 10000), 1.0).otherwise(0.0)
    quality = F.round(
        0.4 * len_ok
        + 0.3 * F.least(diversity * 2, F.lit(1.0))
        + 0.3 * F.least(stop_ratio * 10, F.lit(1.0)),
        6,
    )
    scores = F.array(
        *[
            F.struct(
                F.round(_ratio_in(tok, words), 6).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in sorted(STOPWORDS.items())
        ]
    )
    best = F.array_max(scores)
    pred_lang = F.when(best["score"] > 0, best["lang"]).otherwise("und")
    sh_len = F.greatest(n_tok - 2, F.lit(0))
    shingles = F.arrays_zip(
        F.slice(tok, 1, sh_len), F.slice(tok, 2, sh_len), F.slice(tok, 3, sh_len)
    )
    n_distinct = F.size(F.array_distinct(shingles))
    dup = F.when(
        n_tok >= 3,
        F.round(1.0 - n_distinct * 1.0 / (n_tok - 2), 6),
    ).otherwise(F.lit(0.0))
    base = docs.select(
        "doc_id",
        quality.alias("quality"),
        pred_lang.alias("pred_lang"),
        dup.alias("dup_shingle_ratio"),
        doc_fingerprint(F.col("text")).alias("ch"),
    )
    joined = base.withColumn(
        "is_keeper",
        F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("ch")),
    )
    keep = (
        F.col("is_keeper")
        & (F.col("pred_lang") == "en")
        & (F.col("quality") >= 0.5)
        & (F.col("dup_shingle_ratio") <= 0.6)
    )
    reason = (
        F.when(~F.col("is_keeper"), "duplicate")
        .when(F.col("pred_lang") != "en", "language")
        .when(F.col("quality") < 0.5, "quality")
        .when(F.col("dup_shingle_ratio") > 0.6, "repetition")
        .otherwise("keep")
    )
    return joined.select(
        "doc_id", "quality", "pred_lang", "dup_shingle_ratio", "is_keeper",
        keep.alias("keep"), reason.alias("drop_reason"),
    )


@register(
    "text_quality",
    """
WITH t AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS tok
  FROM documents
), f AS (
  SELECT doc_id, lang,
         len(list_filter(tok, s -> s IN ('the','a','of','and','is','to','in')))
           / greatest(len(tok), 1) AS stop_ratio,
         len(list_distinct(tok)) / greatest(len(tok), 1) AS diversity,
         CASE WHEN len(tok) >= 10 AND len(tok) <= 10000 THEN 1.0 ELSE 0.0 END AS len_ok
  FROM t
)
SELECT doc_id, lang, round(stop_ratio, 6) AS stopword_ratio,
       round(diversity, 6) AS lexical_diversity,
       round(0.4 * len_ok + 0.3 * least(diversity * 2, 1.0)
             + 0.3 * least(stop_ratio * 10, 1.0), 6) AS quality
FROM f
""",
    doc="cheap quality gates: length band, lexical diversity, stopword ratio",
)
def q_text_quality(spark, sf_dir):
    return quality_score(_docs(spark, sf_dir))


@register(
    "language_id",
    """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok FROM documents
), scores AS (
  SELECT doc_id, l.lang,
         round(len(list_filter(tok, s -> list_contains(l.words, s)))
               / greatest(len(tok), 1), 6) AS score
  FROM t CROSS JOIN (
    SELECT * FROM (VALUES
      ('de', ['der','die','das','und','ist','ein','zu']),
      ('en', ['the','a','of','and','is','to','in']),
      ('es', ['el','la','de','y','es','en','un']),
      ('fr', ['le','la','de','et','est','en','un'])
    ) AS v(lang, words)) l
), ranked AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang DESC) AS rn
  FROM scores
)
SELECT doc_id,
       CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang,
       score AS lang_score
FROM ranked WHERE rn = 1
""",
    doc="stopword-marker language id (argmax over per-language hit ratios)",
)
def q_language_id(spark, sf_dir):
    return language_id(_docs(spark, sf_dir))


@register(
    "doc_fingerprint",
    """
SELECT doc_id,
       md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
""",
    doc="canonicalized content fingerprint (md5 over collapsed whitespace)",
)
def q_doc_fingerprint(spark, sf_dir):
    return fingerprint(_docs(spark, sf_dir))


@register(
    "multimodal_metadata",
    """
SELECT doc_id, octet_length(encode(text)) AS byte_len,
       sha256(text) AS sha256
FROM documents
""",
    doc="binary media column plumbing: metadata-only projection "
        "(sha/length) without decode; mapInPandas decode stage in "
        "operators/multimodal.py (stubbed codec, tested in pytest)",
)
def q_multimodal_metadata(spark, sf_dir):
    docs = attach_binary_payload(_docs(spark, sf_dir))
    return binary_metadata(docs)


# ---------------------------------------------------------------------------
# Relational / benchmark queries (join + agg surface, Stats combine A2)
# ---------------------------------------------------------------------------

@register(
    "pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
         / 10000.0 AS sum_disc_price,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000)
                AS BIGINT)) / 1000000.0 AS sum_charge,
       round(sum(l_quantity) / count(*), 6) AS avg_qty,
       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / count(*), 6)
         AS avg_price,
       round(sum(CAST(round(l_discount * 100) AS BIGINT)) / 100.0 / count(*), 6)
         AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1-shaped pricing summary; money math in exact integer "
        "cents/micros so the hash matches across engines (Stats.java:119-225 analog)",
)
def q_pricing_summary(spark, sf_dir):
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc4 = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
    charge6 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")) * 1000000
    ).cast("long")
    d2 = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            (F.sum(cents) / 100.0).alias("sum_base_price"),
            (F.sum(disc4) / 10000.0).alias("sum_disc_price"),
            (F.sum(charge6) / 1000000.0).alias("sum_charge"),
            F.round(F.sum("l_quantity") / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.round(F.sum(cents) / 100.0 / F.count(F.lit(1)), 6).alias("avg_price"),
            F.round(F.sum(d2) / 100.0 / F.count(F.lit(1)), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "segment_revenue",
    """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
         / 10000.0 AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY 1, 2, 3
""",
    doc="TPC-H Q3-shaped: selective dim filter -> broadcast join -> agg "
        "(J7 broadcast dimension lookup at scale)",
)
def q_segment_revenue(spark, sf_dir):
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    cust = t["customer"].where(F.col("c_mktsegment") == "BUILDING")
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    orders = t["orders"].where(F.col("o_orderdate") < cutoff)
    li = t["lineitem"].where(F.col("l_shipdate") > cutoff)
    disc4 = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
    return (
        li.join(
            F.broadcast(orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(disc4) / 10000.0).alias("revenue"))
    )


@register(
    "priority_semijoin",
    """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_discount > 0.09
)
GROUP BY o_orderpriority
""",
    doc="TPC-H Q4-shaped EXISTS -> left-semi join (no row duplication, "
        "distinct-free)",
)
def q_priority_semijoin(spark, sf_dir):
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    li = t["lineitem"].where(F.col("l_discount") > 0.09).select("l_orderkey")
    return (
        t["orders"]
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "part_supplier_stats",
    """
SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 2, 3, 4, 5)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2
""",
    doc="TPC-H Q16-shaped: NOT IN subquery -> broadcast LEFT ANTI join "
        "(exact equivalent because s_suppkey is never NULL), selective "
        "dim filters pushed to the part scan, count-distinct grouped "
        "agg (partial distinct map-side). lineitem stands in for "
        "partsupp (testdata has no partsupp table)",
)
def q_part_supplier_stats(spark, sf_dir):
    t = load_tables(spark, sf_dir, "part", "supplier", "lineitem")
    part = t["part"].where(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 2, 3, 4, 5)
    )
    bad_supp = t["supplier"].where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        t["lineitem"]
        .join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"),
              "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "supplier_return_candidates",
    """
SELECT s_name, s_acctbal FROM supplier WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%a%' AND l_returnflag = 'R'
  GROUP BY l_suppkey, l_partkey HAVING sum(l_quantity) > 60)
""",
    doc="TPC-H Q20-shaped: nested IN over a grouped HAVING subquery -> "
        "aggregate once on (supp, part), then LEFT SEMI join the "
        "supplier dim against the qualifying key set (no row "
        "duplication, no distinct). Quantity sums stay exact (integer "
        "units in the data)",
)
def q_supplier_return_candidates(spark, sf_dir):
    t = load_tables(spark, sf_dir, "supplier", "lineitem", "part")
    parts = t["part"].where(F.col("p_name").like("%a%")).select("p_partkey")
    qualifying = (
        t["lineitem"]
        .where(F.col("l_returnflag") == "R")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .where(F.col("__q") > 60)
        .select("l_suppkey")
    )
    return (
        t["supplier"]
        .join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
    )


@register(
    "sketch_distinct_users",
    """
SELECT event_type, count(DISTINCT user_id) AS n_exact,
       TRUE AS hll_within_3rsd, TRUE AS median_rank_ok
FROM events GROUP BY 1
""",
    doc="HLL++/KLL sketch family — the only way distinct counts and "
        "quantiles fit in memory at 100 TB: per event_type, exact "
        "distinct users (the ground truth), approx_count_distinct "
        "(HLL++, rsd=0.02), and approx median value "
        "(percentile_approx). Raw sketch outputs are engine-specific, "
        "so instead of emitting them the query emits BOUND-CHECK "
        "booleans — `hll_within_3rsd` (|approx-exact| <= ceil(3*rsd*"
        "exact)) and `median_rank_ok` (the approx median's rank sits "
        "within 1% of 0.5, far looser than accuracy=10000's 1e-4 "
        "guarantee) — which the oracle emits as constant TRUE. The "
        "driver hash-match therefore IS the sketch-accuracy test on "
        "the driver's own data. At scale the exact column is dropped "
        "and the sketch is the answer; sketches merge across "
        "partitions (map-side partials), unlike exact distinct",
)
def q_sketch_distinct_users(spark, sf_dir):
    ev = load_tables(spark, sf_dir, "events")["events"]
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_approx"),
        F.percentile_approx("value", 0.5, 10000).alias("m"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    # percentile_approx(accuracy=10000) guarantees rank error <= n/10000;
    # verify by ranking the returned median against the raw column (tiny
    # per-type medians broadcast into a second corpus pass)
    ranks = (
        ev.join(F.broadcast(agg.select("event_type", "m")), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("value") < F.col("m"), 1)).alias("n_lt"),
            F.count(F.when(F.col("value") <= F.col("m"), 1)).alias("n_le"),
        )
    )
    eps = 0.01
    return agg.join(ranks, "event_type").select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("n_approx") - F.col("n_exact"))
            <= F.ceil(F.lit(0.06) * F.col("n_exact"))
        ).alias("hll_within_3rsd"),
        (
            (F.col("n_lt") <= (0.5 + eps) * F.col("n_rows"))
            & (F.col("n_le") >= (0.5 - eps) * F.col("n_rows"))
        ).alias("median_rank_ok"),
    )


@register(
    "user_event_pivot",
    """
SELECT user_id,
       count(*) FILTER (event_type = 'click') AS n_click,
       count(*) FILTER (event_type = 'view') AS n_view,
       count(*) FILTER (event_type = 'purchase') AS n_purchase,
       count(*) FILTER (event_type = 'error') AS n_error,
       count(*) FILTER (event_type = 'signup') AS n_signup
FROM events GROUP BY user_id
""",
    doc="pivot (long->wide): per-user event counts fanned to one "
        "column per type. Explicit value list so the plan is a single "
        "grouped aggregation of conditional counts — the two-pass "
        "value-discovery collect a bare pivot() needs is the "
        "anti-pattern at scale; absent combinations coalesce to 0 to "
        "match SQL FILTER counts",
)
def q_user_event_pivot(spark, sf_dir):
    ev = load_tables(spark, sf_dir, "events")["events"]
    types = ["click", "view", "purchase", "error", "signup"]
    wide = ev.groupBy("user_id").pivot("event_type", types).agg(
        F.count(F.lit(1))
    )
    return wide.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
    )


@register(
    "value_deciles",
    """
WITH r AS (
  SELECT event_type, value,
         ntile(10) OVER (PARTITION BY event_type
                         ORDER BY value, event_id) AS decile
  FROM events
)
SELECT event_type, CAST(decile AS INT) AS decile, count(*) AS n,
       round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS sum_value
FROM r GROUP BY 1, 2
""",
    doc="ntile decile analytics: ANSI bucket-split (sizes differ by at "
        "most 1, earlier buckets larger) made cross-engine "
        "deterministic by a unique (value, event_id) sort key; money "
        "sums through integer cents. One window pass + one grouped agg",
)
def q_value_deciles(spark, sf_dir):
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ev.select("event_type", "value", "event_id",
                  F.ntile(10).over(w).alias("decile"))
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(cents) / 100.0, 2).alias("sum_value"),
        )
    )


@register(
    "topk_per_group",
    """
WITH ranked AS (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey) AS rn
  FROM part
)
SELECT p_brand, p_partkey, p_name, p_retailprice, CAST(rn AS INT) AS rn
FROM ranked WHERE rn <= 3
""",
    doc="top-k per group via row_number window (§2.7 — max-endpoint pick "
        "generalized)",
)
def q_topk_per_group(spark, sf_dir):
    from pyspark.sql import Window

    part = load_tables(spark, sf_dir, "part")["part"]
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        part.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_name", "p_retailprice", "rn")
    )


@register(
    "events_dim_join",
    """
SELECT c_mktsegment, count(*) AS n_events, count(DISTINCT user_id) AS n_users
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
""",
    doc="stream-to-dimension broadcast join (J7 IdentityManager-style lookup)",
)
def q_events_dim_join(spark, sf_dir):
    t = load_tables(spark, sf_dir, "events", "customer")
    return (
        t["events"]
        .join(F.broadcast(t["customer"]), F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "xff_client_select",
    """
WITH x AS (
  SELECT event_id,
         '203.0.113.' || (user_id % 200) || ', 10.0.0.1, 192.168.1.'
           || (user_id % 100) AS xff
  FROM events
)
SELECT event_id, xff, trim(string_split(xff, ',')[1]) AS client_ip FROM x
""",
    doc="parser/Parser.java:164-238 — X-Forwarded-For client selection with "
        "trusted-proxy CIDRs (array funcs, no UDF)",
)
def q_xff_select(spark, sf_dir):
    ev = load_tables(spark, sf_dir, "events")["events"]
    x = ev.select(
        "event_id",
        F.concat(
            F.lit("203.0.113."), (F.col("user_id") % 200).cast("string"),
            F.lit(", 10.0.0.1, 192.168.1."), (F.col("user_id") % 100).cast("string"),
        ).alias("xff"),
    )
    return x.select(
        "event_id", "xff",
        xff_select_client(F.col("xff"), ["10.0.0.0/8", "192.168.0.0/16"]).alias("client_ip"),
    )


@register(
    "kmeans_codebook",
    _kmeans_cte() + f"""
SELECT cid, j - 1 AS j, cs FROM c{_IVF_TRAIN_ITERS}
""",
    doc="the trained IVF codebook itself as a first-class result: 3 "
        "Lloyd iterations in cross-engine-exact integer fixed-point "
        "arithmetic (ivf_train_codebook); the oracle unrolls the same "
        "loop as CTEs, so every trained component is hash-verified. "
        "K x dim rows regardless of corpus size — training cost is two "
        "shuffles per iteration over the partial-agged exploded sample",
)
def q_kmeans_codebook(spark, sf_dir):
    from ..operators.similarity import LSH_SCALE

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    cb = _trained_ivf_codebook(spark, sf_dir)
    rows = [
        (cid, j, int(comp * LSH_SCALE))
        for cid, comps in cb.items()
        for j, comp in enumerate(comps)
    ]
    return spark.createDataFrame(rows, "cid long, j long, cs long")


@register(
    "passage_dedup",
    """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), ex AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i FROM toks
), ch AS (
  SELECT doc_id, (i - 1) // 3 AS chunk,
         string_agg(w, ' ' ORDER BY i) AS passage
  FROM ex GROUP BY doc_id, (i - 1) // 3
), gc AS (
  SELECT passage, count(*) AS g FROM ch GROUP BY passage
)
SELECT doc_id, count(*) AS n_passages,
       count(*) FILTER (g > 1) AS n_dup_passages,
       round(count(*) FILTER (g > 1) * 1.0 / count(*), 6) AS dup_ratio
FROM ch JOIN gc USING (passage) GROUP BY doc_id
""",
    doc="inter-document passage dedup (RefinedWeb-style): "
        "non-overlapping 3-word chunks, corpus-wide duplicate passage "
        "frequencies, per-doc duplicated-passage ratio. Two shuffles on "
        "uniformly-hashed keys (chunk group, passage group+join), no "
        "pair explode — boilerplate skew stays one row per passage on "
        "the agg side",
)
def q_passage_dedup(spark, sf_dir):
    from ..operators.dedup import passage_dedup_stats

    return passage_dedup_stats(_docs(spark, sf_dir), window=3)


@register(
    "ngram_corpus_stats",
    """
WITH toks AS (
  SELECT string_split_regex(trim(text), '\\s+') AS t FROM documents
), sh AS (
  SELECT list_transform(range(1, len(t) - 1),
         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS shingles
  FROM toks WHERE len(t) >= 3
), ex AS (
  SELECT unnest(shingles) AS shingle FROM sh
)
SELECT shingle, count(*) AS n
FROM ex GROUP BY shingle ORDER BY n DESC, shingle LIMIT 100
""",
    doc="corpus heavy-hitters: top-100 word-3-grams by frequency with "
        "total (n DESC, shingle) order — the boilerplate diagnostic a "
        "pipeline runs before choosing dedup thresholds. Relational "
        "shingling + hash-agg + distributed top-k "
        "(TakeOrderedAndProject), never a single-partition sort",
)
def q_ngram_corpus_stats(spark, sf_dir):
    from pyspark.sql import Window as W

    from ..functions.text import tokens

    docs = _docs(spark, sf_dir)
    tok = docs.where(F.size(tokens(F.col("text"))) >= 3).select(
        F.posexplode(tokens(F.col("text"))).alias("pos", "__t"),
        F.col("doc_id"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("__t"), F.lead("__t", 1).over(w), F.lead("__t", 2).over(w)]
    sh = (
        tok.select(F.concat_ws(" ", *parts).alias("shingle"),
                   parts[-1].alias("__last"))
        .where(F.col("__last").isNotNull())
    )
    return (
        sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("shingle"))
        .limit(100)
    )


@register(
    "shipping_priority",
    """
WITH r AS (
  SELECT l_orderkey, o_orderdate,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
           / 10000.0 AS revenue
  FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_orderkey, o_orderdate
)
SELECT l_orderkey, revenue, o_orderdate
FROM r ORDER BY revenue DESC, l_orderkey LIMIT 10
""",
    doc="TPC-H Q3-shaped shipping priority: segment-filtered "
        "customer/orders/lineitem join, revenue per unshipped order, "
        "top-10 by (revenue, orderkey) total order. Customer side "
        "prunes early (segment filter pushed to scan), the orders/"
        "lineitem join shuffles on the order key, top-k is distributed "
        "TakeOrdered; money in exact integer basis points",
)
def q_shipping_priority(spark, sf_dir):
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    cut = F.lit("1998-01-01 00:00:00").cast("timestamp")
    return (
        t["customer"].where(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .where(F.col("o_orderdate") < cut)
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > cut)
        .groupBy("l_orderkey", "o_orderdate")
        .agg((F.sum(rev) / 10000.0).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "customer_order_distribution",
    """
WITH co AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM co GROUP BY c_count
""",
    doc="TPC-H Q13-shaped customer order distribution: left outer join "
        "keeps zero-order customers, double aggregation (per-customer "
        "count, then histogram). The outer join shuffles on the "
        "customer key; the histogram agg is tiny after the first "
        "map-side combine",
)
def q_customer_order_distribution(spark, sf_dir):
    t = load_tables(spark, sf_dir, "customer", "orders")
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# scale-safe banding for the simhash pairs query: a 60-bit
# fingerprint sliced into 3 bands gives 2^20 bucket keys per band
# (the phash family's 63-bit/3-band shape), so banded pair volume
# stays ~linear in corpus size — a 16-bit/2-band parametrization
# has only 256 keys per band, making bucket size ~ N/256 and pair
# volume ~ N^2/128 at scale. bits <= 60 keeps every token hash and
# bit weight inside a signed 64-bit long in BOTH engines.
_SIMHASH_PAIR_BITS = 60
_SIMHASH_PAIR_BANDS = 3
_SIMHASH_PAIR_MAXHAM = 2


def _simhash_fp_cte(bits: int) -> str:
    nhex = (bits + 3) // 4
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
  FROM documents
), h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(t), 1, {nhex}) AS BIGINT) AS th FROM tok
), bits AS (
  SELECT doc_id, i,
         CASE WHEN sum(CASE WHEN (th // (CAST(1 AS BIGINT) << i)) % 2 = 1
                            THEN 1 ELSE -1 END) > 0
              THEN (CAST(1 AS BIGINT) << i) ELSE 0 END AS bitval
  FROM h CROSS JOIN range(0, {bits}) r(i)
  GROUP BY doc_id, i
), fp AS (
  SELECT doc_id, sum(bitval)::BIGINT AS sh FROM bits GROUP BY doc_id
)
"""


@register(
    "dedup_simhash_pairs",
    _simhash_fp_cte(_SIMHASH_PAIR_BITS) + f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= {_SIMHASH_PAIR_MAXHAM}
""",
    doc=f"SimHash near-dup pairs, EXACT by construction: "
        f"{_SIMHASH_PAIR_BANDS}-band blocking over a "
        f"{_SIMHASH_PAIR_BITS}-bit fingerprint is pigeonhole-complete "
        f"for hamming <= {_SIMHASH_PAIR_MAXHAM}, and the "
        "bit_count(xor) post-filter makes the banded output identical "
        "to the all-pairs scan the oracle runs. One shuffle on the "
        "band-slice key; 20-bit slices give 2^20 bucket keys per "
        "band, so pair volume is sum-of-bucket-squares over ~1M-key "
        "buckets — ~linear in corpus size, never corpus^2 (a "
        "16-bit/2-band form's 256-key bands are quadratic at 100x)",
)
def q_dedup_simhash_pairs(spark, sf_dir):
    from ..operators.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(
        _docs(spark, sf_dir),
        bits=_SIMHASH_PAIR_BITS,
        bands=_SIMHASH_PAIR_BANDS,
        max_hamming=_SIMHASH_PAIR_MAXHAM,
    )


@register(
    "tfidf_top_terms",
    """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf * 1.0 * (SELECT count(*) FROM documents) / df.df, 6)
           AS score
  FROM tf JOIN df USING (term)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, tf, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
""",
    doc="per-doc top-3 TF-IDF terms — the keyword/topic signal a "
        "training-data pipeline uses for domain tagging. IDF is the "
        "log-free rational tf*N/df (IEEE division is identically "
        "rounded in both engines; ln() is NOT guaranteed bit-equal "
        "across libms, so the ranking statistic avoids it — same "
        "ordering for fixed N). Shapes: (doc,term) hash-agg, vocab "
        "hash-agg, one equi-join on the term, per-doc rank prune",
)
def q_tfidf_top_terms(spark, sf_dir):
    from pyspark.sql import Window as W

    from ..functions.text import tokens

    docs = _docs(spark, sf_dir)
    # one eager count job per build: N feeds the score literal, so it
    # must count the input as it is now
    n_docs = docs.count()
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # document frequency as COUNT OVER (PARTITION BY term) on the
    # tf table itself — one exchange on term — instead of a vocab
    # hash-agg plus an equi-join back on term (two exchanges + a join;
    # the duplicate_ngram_fraction corpus-frequency-as-window lesson,
    # guide §2.2). df = rows per term in tf either way; identical.
    scored = tf.select(
        "doc_id", "term", "tf",
        F.round(
            F.col("tf") * float(n_docs)
            / F.count(F.lit(1)).over(W.partitionBy("term")),
            6,
        ).alias("score"),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "score", "rank")
    )


@register(
    "training_data_pipeline",
    f"""
WITH {_probe_ids_cte()},
t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok FROM documents
), q AS (
  SELECT doc_id,
         round(0.4 * (CASE WHEN len(tok) BETWEEN 10 AND 10000
                           THEN 1.0 ELSE 0.0 END)
               + 0.3 * least(len(list_distinct(tok))
                             / greatest(len(tok), 1) * 2, 1.0)
               + 0.3 * least(len(list_filter(tok,
                   s -> s IN ('the','a','of','and','is','to','in')))
                   / greatest(len(tok), 1) * 10, 1.0), 6) AS quality
  FROM t
), scores AS (
  SELECT doc_id, l.lang,
         round(len(list_filter(tok, s -> list_contains(l.words, s)))
               / greatest(len(tok), 1), 6) AS score
  FROM t CROSS JOIN (
    SELECT * FROM (VALUES
      ('de', ['der','die','das','und','ist','ein','zu']),
      ('en', ['the','a','of','and','is','to','in']),
      ('es', ['el','la','de','y','es','en','un']),
      ('fr', ['le','la','de','et','est','en','un'])
    ) AS v(lang, words)) l
), lid AS (
  SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang
  FROM (SELECT doc_id, lang, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang DESC) AS rn
        FROM scores) WHERE rn = 1
), sh AS (
  SELECT doc_id, list_transform(range(1, len(tok) - 1),
                 i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]) AS shingles
  FROM t WHERE len(tok) >= 3
), rep AS (
  SELECT doc_id, round(1.0 - len(list_distinct(shingles)) * 1.0
                       / len(shingles), 6) AS dup_shingle_ratio
  FROM sh
), h AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS ch
  FROM documents
), keepers AS (
  SELECT ch, min(doc_id) AS keeper_id FROM h GROUP BY ch
), decisions AS (
  SELECT q.doc_id,
         h.doc_id = k.keeper_id
           AND lid.pred_lang = 'en' AND q.quality >= 0.5
           AND coalesce(rep.dup_shingle_ratio, 0.0) <= 0.6 AS keep
  FROM q JOIN lid USING (doc_id)
  LEFT JOIN rep USING (doc_id)
  JOIN h ON h.doc_id = q.doc_id
  JOIN keepers k ON k.ch = h.ch
), decon_ex AS (
  SELECT doc_id, unnest(list_distinct(shingles)) AS shingle FROM sh
), evals AS (
  SELECT DISTINCT shingle FROM decon_ex JOIN probe_ids USING (doc_id)
), contaminated AS (
  SELECT DISTINCT e.doc_id FROM decon_ex e JOIN evals USING (shingle)
  WHERE e.doc_id NOT IN (SELECT doc_id FROM probe_ids)
), sampled AS (
  SELECT doc_id FROM documents
  WHERE CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT) % 10000
        < 10000 * (CASE source
            WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5 WHEN 'src2' THEN 0.25
            WHEN 'src3' THEN 0.1 ELSE 0.02 END)
), survivors AS (
  SELECT d.doc_id, d.source, d.text
  FROM documents d
  JOIN decisions USING (doc_id)
  JOIN sampled USING (doc_id)
  WHERE decisions.keep
    AND d.doc_id NOT IN (SELECT doc_id FROM probe_ids)
    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT doc_id, source, doc_id // 256 AS subshard,
       len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
       CAST(floor((sum(len(string_split_regex(trim(text), '\\s+')))
                     OVER (PARTITION BY source, doc_id // 256
                           ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING)
                   - len(string_split_regex(trim(text), '\\s+')))
                  / 512.0) AS BIGINT) AS seq_id
FROM survivors
""",
    doc="the WHOLE training-data pipeline as ONE declarative plan: "
        "quality + language-id + repetition gates and the exact-dedup "
        "keeper (the quality_filter_pipeline composition), then "
        "eval-set exclusion + n-gram decontamination (flagged docs "
        "anti-joined out), deterministic stratified domain sampling, "
        "and per-shard sequence packing of the survivors. Every stage "
        "shares the ONE documents scan Catalyst caches; the gates are "
        "semi/anti joins on doc_id (no row ever carries text through "
        "a shuffle except into the final packing window); "
        "decontamination probes broadcast; packing is one shuffle on "
        "bounded (shard, id-range sub-shard) keys. This is the query "
        "a corpus team actually "
        "ships — the composition proves the operator family composes "
        "without materialization barriers between stages",
)
def q_training_data_pipeline(spark, sf_dir):
    from ..operators.dedup import decontaminate
    from ..operators.textanalysis import pack_sequences, stratified_sample

    docs = _docs(spark, sf_dir)
    decisions = q_quality_filter_pipeline(spark, sf_dir)
    kept = decisions.where(F.col("keep")).select("doc_id")
    # fixed-count eval split shared with `decontaminate` (constant
    # probe size at any corpus scale; the IN-list pushes into the scan)
    probe = _probe_doc_ids(spark, sf_dir)
    contaminated = decontaminate(
        docs, probe_predicate=F.col("doc_id").isin(probe)
    ).select("doc_id")
    sampled = stratified_sample(
        docs,
        rates={"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1},
        default_rate=0.02,
    ).select("doc_id")
    survivors = (
        docs.where(~F.col("doc_id").isin(probe))
        .join(kept, "doc_id", "left_semi")
        .join(sampled, "doc_id", "left_semi")
        .join(contaminated, "doc_id", "left_anti")
    )
    return pack_sequences(survivors, seq_len=512)


# ---------------------------------------------------------------------------
# Round 4: bloom-filter decontamination, containment dedup, corpus
# language mix
# ---------------------------------------------------------------------------

@register(
    "bloom_decontaminate",
    _SHINGLE_CTE
    + f"""
, {_probe_ids_cte()}
, hs AS (
  SELECT doc_id, n_sh,
         CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS h
  FROM ex
), pr AS (
  SELECT doc_id, n_sh, h,
         (h % 4294967296 + i.i * ((h // 4294967296) * 2 + 1)) % 63488
           AS pos
  FROM hs, (VALUES (0), (1), (2)) i(i)
), bloom AS (
  SELECT pos // 62 AS word,
         bit_or(1::BIGINT << CAST(pos % 62 AS INTEGER)) AS wbits
  FROM pr JOIN probe_ids USING (doc_id) GROUP BY 1
), hits AS (
  SELECT p.doc_id, p.n_sh, p.h,
         CASE WHEN b.wbits IS NOT NULL
                AND (b.wbits
                     & (1::BIGINT << CAST(p.pos % 62 AS INTEGER))) != 0
              THEN 1 ELSE 0 END AS hit
  FROM pr p LEFT JOIN bloom b ON p.pos // 62 = b.word
  WHERE p.doc_id NOT IN (SELECT doc_id FROM probe_ids)
), per_sh AS (
  SELECT doc_id, max(n_sh) AS n_sh, h, min(hit) AS all_hit
  FROM hits GROUP BY doc_id, h
)
SELECT doc_id, max(n_sh) AS n_shingles,
       CAST(sum(all_hit) AS BIGINT) AS n_flagged,
       sum(all_hit) > 0 AS is_contaminated
FROM per_sh GROUP BY doc_id
""",
    doc="decontamination at broadcast-proof scale: the probe set is "
        "compressed into a deterministic 63,488-bit Bloom filter "
        "(1024 int64 words, 3 Kirsch-Mitzenmacher double-hash probes "
        "per shingle off the 60-bit md5 prefix) and the FILTER "
        "broadcasts — fixed KBs per executor where `decontaminate` "
        "broadcasts the probe shingle set itself. No false negatives "
        "(the property that matters); false positives over-flag at "
        "the standard Bloom rate, measured against the exact operator "
        "in tests/test_ingest_ops.py. Every bit is integer arithmetic "
        "-> the filter and every membership answer are bit-identical "
        "across engines (DataFrame.stat.bloomFilter seeds are not)",
)
def q_bloom_decontaminate(spark, sf_dir):
    from ..operators.dedup import bloom_decontaminate

    # fixed-count eval split (see `decontaminate`): the Bloom build
    # side is now a constant-size probe set at any corpus scale
    return bloom_decontaminate(
        _docs(spark, sf_dir),
        probe_predicate=F.col("doc_id").isin(_probe_doc_ids(spark, sf_dir)),
    )


@register(
    "containment_dedup",
    _SHINGLE_CTE
    + """
, kept AS (
  SELECT shingle FROM ex GROUP BY shingle HAVING count(*) BETWEEN 2 AND 64
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS n_a,
         count(*) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle
                     AND a.doc_id <> b.doc_id
  JOIN kept k ON a.shingle = k.shingle
  GROUP BY 1, 2, 3
)
SELECT doc_a, doc_b, n_a, CAST(common AS BIGINT) AS common,
       (common * 1000000) // n_a AS containment_ppm
FROM pairs WHERE common * 1000000 >= 800000 * n_a
""",
    doc="asymmetric near-dup by shingle CONTAINMENT |A∩B|/|A| >= 0.8 "
        "— catches subset/superset duplication (a doc quoted inside a "
        "longer one: containment 1.0, jaccard ~0.01) that symmetric "
        "Jaccard structurally misses; the standard second dedup pass "
        "of a corpus pipeline. Same df_cap-pruned shingle-group "
        "candidate machinery as dedup_ngram_jaccard, pairs emitted in "
        "BOTH directions (the measure is directional), ratio and "
        "threshold in exact int64 ppm arithmetic",
)
def q_containment_dedup(spark, sf_dir):
    from ..operators.dedup import containment_pairs

    return containment_pairs(
        _docs(spark, sf_dir), n=3, threshold_ppm=800_000, df_cap=64
    )


@register(
    "doc_language_mix",
    """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok
  FROM documents
), scores AS (
  SELECT doc_id, l.lang,
         round(len(list_filter(tok, s -> list_contains(l.words, s)))
               / greatest(len(tok), 1), 6) AS score
  FROM t CROSS JOIN (
    SELECT * FROM (VALUES
      ('de', ['der','die','das','und','ist','ein','zu']),
      ('en', ['the','a','of','and','is','to','in']),
      ('es', ['el','la','de','y','es','en','un']),
      ('fr', ['le','la','de','et','est','en','un'])
    ) AS v(lang, words)) l
), lid AS (
  SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang
  FROM (SELECT doc_id, lang, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang DESC) AS rn
        FROM scores) WHERE rn = 1
), per AS (
  SELECT d.source, lid.pred_lang, count(*) AS n
  FROM lid JOIN documents d USING (doc_id) GROUP BY 1, 2
), ranked AS (
  SELECT source, pred_lang, n,
         row_number() OVER (PARTITION BY source
                            ORDER BY n DESC, pred_lang) AS rn,
         CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS total
  FROM per
)
SELECT source, max(total) AS n_docs, count(*) AS n_langs,
       max(CASE WHEN rn = 1 THEN pred_lang END) AS top_lang,
       CAST(max(CASE WHEN rn = 1 THEN n END) AS BIGINT) AS top_lang_n,
       (max(CASE WHEN rn = 1 THEN n END) * 1000000) // max(total)
         AS top_lang_ppm
FROM ranked GROUP BY source
""",
    doc="corpus language mix per source: the language_id operator "
        "(`operators/textanalysis.py`) rolled up to the domain level "
        "— doc counts, distinct predicted languages, majority "
        "language + its share in integer ppm. The per-source language "
        "histogram is what drives domain-mixing decisions in a "
        "training-data pipeline (and the monitoring readout that "
        "catches a crawler regression flooding one source with the "
        "wrong language). Two hash-agg shuffles (doc->lang, "
        "(source,lang)->source), majority via min_by on "
        "(-n, lang) — no window over unaggregated rows",
)
def q_doc_language_mix(spark, sf_dir):
    from ..operators.textanalysis import language_id

    docs = _docs(spark, sf_dir)
    # source rides the one language_id map pass (carry_cols)
    # instead of a second documents scan joined back on doc_id
    lid = language_id(docs, carry_cols=("source",)).select(
        "doc_id", "pred_lang", "source"
    )
    per = lid.groupBy("source", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    agg = per.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.expr("min_by(struct(pred_lang, n), struct(-n, pred_lang))").alias(
            "__top"
        ),
    )
    return agg.select(
        "source", "n_docs", "n_langs",
        F.col("__top.pred_lang").alias("top_lang"),
        F.col("__top.n").alias("top_lang_n"),
        F.expr("(__top.n * 1000000) div n_docs").alias("top_lang_ppm"),
    )


@register(
    "dataset_split_assign",
    """
WITH b AS (
  SELECT doc_id, lang, n_chars,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           % 10000 AS bucket
  FROM documents
), s AS (
  SELECT lang, n_chars,
         CASE WHEN bucket < 9000 THEN 'train'
              WHEN bucket < 9500 THEN 'val'
              ELSE 'test' END AS split
  FROM b
)
SELECT split, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM s GROUP BY 1, 2
""",
    doc="deterministic train/val/test split assignment "
        "(operators/textanalysis.assign_splits): md5(key) -> uniform "
        "bucket -> contiguous cumulative-fraction ranges; a total, "
        "disjoint labeling that is identical across runs, engines and "
        "cluster layouts (never rand()). Passing the dedup-cluster "
        "keeper id as the key keeps near-duplicate families in one "
        "split (leakage safety). Map-side projection + one hash-agg "
        "shuffle for the per-(split, lang) readout",
)
def q_dataset_split_assign(spark, sf_dir):
    from ..operators.textanalysis import assign_splits

    out = assign_splits(
        _docs(spark, sf_dir),
        [("train", 0.9), ("val", 0.05), ("test", 0.05)],
    )
    return out.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@register(
    "mixture_budget_sample",
    """
WITH r AS (
  SELECT doc_id, lang, source, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS sample_rank
  FROM documents
)
SELECT doc_id, lang, source, n_chars, sample_rank
FROM r
WHERE sample_rank <= CASE lang
  WHEN 'en' THEN 100 WHEN 'zh' THEN 40 WHEN 'es' THEN 30
  WHEN 'de' THEN 30 WHEN 'fr' THEN 20 ELSE 0 END
""",
    doc="budget-targeted mixture sampling "
        "(operators/textanalysis.budget_sample): count-EXACT per-"
        "stratum subsample via md5-ranked row_number — the domain-"
        "mixing stage that fills a per-language token budget exactly, "
        "reproducibly (stratified_sample is the rate-based "
        "approximate twin). One shuffle on the stratum key; the "
        "docstring records the two-phase hash-threshold route for "
        "strata too large to sort",
)
def q_mixture_budget_sample(spark, sf_dir):
    from ..operators.textanalysis import budget_sample

    return budget_sample(
        _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars"),
        {"en": 100, "zh": 40, "es": 30, "de": 30, "fr": 20},
    )


def _leakage_oracle() -> str:
    co = _clusters_oracle()
    head, _, _ = co.partition("\nSELECT c.doc_id")
    split_case = (
        "CASE WHEN CAST('0x' || substr(md5(CAST({k} AS VARCHAR)), 1, 8) "
        "AS BIGINT) % 10000 < 9000 THEN 'train' "
        "WHEN CAST('0x' || substr(md5(CAST({k} AS VARCHAR)), 1, 8) "
        "AS BIGINT) % 10000 < 9500 THEN 'val' ELSE 'test' END"
    )
    return head + f"""
, sdoc AS (
  SELECT doc_id, {split_case.format(k='doc_id')} AS split FROM documents
), sclu AS (
  SELECT c.doc_id, {split_case.format(k='c.cluster_keeper')} AS split
  FROM comp c
), modes AS (
  SELECT 'doc_id' AS split_key, p.doc_a, p.doc_b,
         a.split AS sa, b.split AS sb
  FROM pairs p
  JOIN sdoc a ON p.doc_a = a.doc_id JOIN sdoc b ON p.doc_b = b.doc_id
  UNION ALL
  SELECT 'cluster_keeper', p.doc_a, p.doc_b, a.split, b.split
  FROM pairs p
  JOIN sclu a ON p.doc_a = a.doc_id JOIN sclu b ON p.doc_b = b.doc_id
)
SELECT split_key, least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi,
       count(*) AS n_pairs,
       CAST(sum(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaked
FROM modes GROUP BY 1, 2, 3
"""


@register(
    "split_leakage_check",
    _leakage_oracle(),
    doc="cross-split contamination audit: MinHash candidate pairs "
        "joined against the split assignment under BOTH keyings — "
        "naive doc_id keying leaks near-duplicate pairs across "
        "train/eval (n_leaked > 0 rows), cluster-keeper keying "
        "provably cannot (every pair is within one component, so "
        "n_leaked = 0 for all its rows: the measured statement of "
        "assign_splits' leakage-safety contract). Reuses the pair "
        "generator + CC resolution; two broadcast-sized split dims "
        "join onto the pair list — no new shuffle shape",
)
def q_split_leakage_check(spark, sf_dir):
    from ..operators.dedup import dedup_clusters as _resolve
    from ..operators.textanalysis import assign_splits

    docs = _docs(spark, sf_dir)
    splits = [("train", 0.9), ("val", 0.05), ("test", 0.05)]
    # the candidate list is tiny (near-dup pairs) but its lineage is
    # the full shingle->minhash->band explode; it feeds the CC loop
    # AND both split joins, so cut it once or the explode runs 3x
    # (measured 5.3 s -> ~2 s at sf0.1)
    pairs = (
        minhash_lsh_pairs(docs, n=3, num_hashes=8, band_size=2)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    comp = _resolve(pairs, docs.select("doc_id"))
    sdoc = assign_splits(docs.select("doc_id"), splits).select(
        "doc_id", "split"
    )
    sclu = assign_splits(
        comp.select("doc_id", "cluster_keeper"), splits,
        key_col="cluster_keeper",
    ).select("doc_id", "split")
    out = None
    for key, dim in (("doc_id", sdoc), ("cluster_keeper", sclu)):
        a = dim.select(F.col("doc_id").alias("doc_a"),
                       F.col("split").alias("sa"))
        b = dim.select(F.col("doc_id").alias("doc_b"),
                       F.col("split").alias("sb"))
        m = (
            pairs.join(F.broadcast(a), "doc_a")
            .join(F.broadcast(b), "doc_b")
            .select(F.lit(key).alias("split_key"), "sa", "sb")
        )
        out = m if out is None else out.unionByName(m)
    return out.groupBy(
        "split_key",
        F.least("sa", "sb").alias("split_lo"),
        F.greatest("sa", "sb").alias("split_hi"),
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("sa") != F.col("sb")).cast("long")).alias("n_leaked"),
    )


@register(
    "corpus_drift",
    """
WITH tok AS (
  SELECT doc_id % 2 AS half, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents
), counts AS (
  SELECT token,
         CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM tok GROUP BY 1
), totals AS (
  SELECT CAST(sum(n_a) AS BIGINT) AS tot_a,
         CAST(sum(n_b) AS BIGINT) AS tot_b FROM counts
), contrib AS (
  SELECT token, n_a, n_b,
         CAST(round(abs(n_a * 1.0 / tot_a - n_b * 1.0 / tot_b) * 1000000)
              AS BIGINT) AS tv_contrib_ppm
  FROM counts, totals
)
SELECT token, n_a, n_b, tv_contrib_ppm FROM contrib
ORDER BY tv_contrib_ppm DESC, token LIMIT 20
""",
    doc="corpus drift monitor: token-distribution total-variation "
        "contributions between two corpus snapshots (here the doc_id-"
        "parity halves; in production, yesterday's crawl vs today's). "
        "The readout that catches a scraper regression or a source "
        "flip before it poisons a training mix. TV avoids logs: each "
        "contribution is one IEEE double divide + abs + round to ppm "
        "(identical across engines; no ln() ulp hazard). One explode "
        "-> one hash-agg on token -> broadcast totals -> TakeOrdered "
        "top-20: no sort of the full vocabulary",
)
def q_corpus_drift(spark, sf_dir):
    from ..functions.text import tokens

    docs = _docs(spark, sf_dir)
    tok = docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(tokens(F.col("text"))).alias("token"),
    )
    counts = tok.groupBy("token").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("long").alias("n_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long").alias("n_b"),
    )
    totals = counts.agg(
        F.sum("n_a").cast("long").alias("tot_a"),
        F.sum("n_b").cast("long").alias("tot_b"),
    )
    contrib = counts.join(F.broadcast(totals)).select(
        "token", "n_a", "n_b",
        F.round(
            F.abs(
                F.col("n_a") / F.col("tot_a") - F.col("n_b") / F.col("tot_b")
            ) * 1000000
        ).cast("long").alias("tv_contrib_ppm"),
    )
    return contrib.orderBy(
        F.desc("tv_contrib_ppm"), "token"
    ).limit(20)


@register(
    "multimodal_phash_dedup",
    """
WITH cp AS (
  SELECT doc_id,
         (unicode(substring(text, CAST(i AS INT), 1)) * 31
          + unicode(substring(text, CAST(i AS INT) + 1, 1))) % 63 AS bucket
  FROM (
    SELECT doc_id, text, unnest(range(1, length(text))) AS i
    FROM documents WHERE length(text) >= 2
  )
), hist AS (
  SELECT doc_id, bucket, count(*) AS c FROM cp GROUP BY 1, 2
), tot AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS t FROM hist GROUP BY 1
), ph AS (
  SELECT h.doc_id,
         CAST(sum(CASE WHEN h.c * 63 > t.t
                       THEN 1::BIGINT << CAST(h.bucket AS INT)
                       ELSE 0 END) AS BIGINT) AS phash
  FROM hist h JOIN tot t USING (doc_id) GROUP BY 1
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM ph a JOIN ph b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= 2
""",
    doc="multimodal near-dup: perceptual average-hash over opaque "
        "binary payloads (operators/multimodal.media_phash — "
        "deterministic codepoint-bucket stand-in at the same "
        "mapInPandas seam a DCT image pHash plugs into) mined for "
        "hamming <= 2 pairs by the SHARED banded pigeonhole join "
        "(operators/dedup.hamming_pairs, 3 bands x 21 bits, complete "
        "for hamming <= 2). Fingerprints are map-side Arrow batches; "
        "pairing is bucket-local — the oracle's all-pairs join is the "
        "semantic spec, never the plan",
)
def q_multimodal_phash_dedup(spark, sf_dir):
    from ..operators.dedup import hamming_pairs
    from ..operators.multimodal import media_phash

    docs = _docs(spark, sf_dir)
    payloads = attach_binary_payload(
        docs.where(F.length("text") >= 2)
    )
    fp = media_phash(payloads, bits=63)
    return hamming_pairs(
        fp, hash_col="phash", bits=63, bands=3, max_hamming=2
    )


@register(
    "oov_rate_filter",
    """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents WHERE length(trim(text)) > 0
), vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS c FROM tok GROUP BY 1
    ORDER BY c DESC, token LIMIT 20
  )
), scored AS (
  SELECT t.doc_id,
         count(*) AS n_tokens,
         CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_oov
  FROM tok t LEFT JOIN vocab v USING (token)
  GROUP BY 1
)
SELECT doc_id, n_tokens, n_oov,
       CAST((n_oov * 1000000) // n_tokens AS BIGINT) AS oov_ppm,
       (n_oov * 1000000) // n_tokens > 300000 AS flagged
FROM scored
""",
    doc="OOV-rate quality filter: the log-free surrogate for LM-"
        "perplexity gating — score each document by the fraction of "
        "its tokens outside the corpus's top-K vocabulary "
        "(deterministic count-then-token tie-break; K=20 here because "
        "the synthetic corpus has a 31-token vocabulary — production "
        "uses ~1e5), flag above 30%. "
        "Gibberish, encoding mojibake and wrong-language contamination "
        "all surface as OOV mass. Exact integer ppm (no ln() ulp "
        "hazard). Scale: the vocabulary is fixed-size by construction "
        "-> TakeOrdered then BROADCAST left join onto the token "
        "stream; one token hash-agg + one doc hash-agg, the probe "
        "side never shuffles for the join",
)
def q_oov_rate_filter(spark, sf_dir):
    from ..functions.text import tokens

    docs = _docs(spark, sf_dir).where(F.length(F.trim("text")) > 0)
    # one (doc_id, token) count aggregate feeds both consumers
    # instead of the raw exploded token table (the vocab top-20 and
    # the per-doc scorer would each re-run scan+tokenize+explode;
    # guide §2.3 — aggregate before you shuffle). The identical subtree under both consumers collapses
    # to one shared exchange at runtime, and count(1) over tokens ==
    # sum(c) over (doc, token) groups exactly, so values and the
    # deterministic top-20 tie-break are unchanged.
    base = (
        docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = (
        base.groupBy("token")
        .agg(F.sum("c").alias("c"))
        .orderBy(F.desc("c"), "token")
        .limit(20)
        .select("token", F.lit(True).alias("__in_vocab"))
    )
    scored = (
        base.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(
                F.when(F.col("__in_vocab").isNull(), F.col("c")).otherwise(0)
            ).cast("long").alias("n_oov"),
        )
    )
    return scored.select(
        "doc_id", "n_tokens", "n_oov",
        F.expr("(n_oov * 1000000) div n_tokens").alias("oov_ppm"),
        (F.expr("(n_oov * 1000000) div n_tokens") > 300000).alias("flagged"),
    )


@register(
    "rrf_hybrid_fusion",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv,
         {_FOLD.format(a='embedding', b='embedding')} AS qq
  FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv,
         {_FOLD.format(a='embedding', b='embedding')} AS cc
  FROM embeddings
), cos AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round({_FOLD.format(a='qv', b='cv')}
                          / (sqrt(qq) * sqrt(cc)), 6) DESC,
                    neighbor_id) AS rank
  FROM c CROSS JOIN q WHERE query_id <> neighbor_id
), qz AS (
  SELECT query_id,
         CASE WHEN list_max(list_transform(qv, x -> abs(x::DOUBLE))) > 0
              THEN list_transform(qv, x -> CAST(floor(x::DOUBLE
                / list_max(list_transform(qv, y -> abs(y::DOUBLE)))
                * 127) AS BIGINT))
              ELSE list_transform(qv, x -> CAST(0 AS BIGINT)) END AS qc
  FROM q
), cz AS (
  SELECT neighbor_id,
         CASE WHEN list_max(list_transform(cv, x -> abs(x::DOUBLE))) > 0
              THEN list_transform(cv, x -> CAST(floor(x::DOUBLE
                / list_max(list_transform(cv, y -> abs(y::DOUBLE)))
                * 127) AS BIGINT))
              ELSE list_transform(cv, x -> CAST(0 AS BIGINT)) END AS cc
  FROM c
), i8 AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY list_reduce(list_transform(range(1, 65),
                      i -> qc[i] * cc[i]), (x, y) -> x + y) DESC,
                    neighbor_id) AS rank
  FROM cz CROSS JOIN qz WHERE query_id <> neighbor_id
), u AS (
  SELECT query_id, neighbor_id, rank FROM cos WHERE rank <= 10
  UNION ALL
  SELECT query_id, neighbor_id, rank FROM i8 WHERE rank <= 10
)
SELECT query_id, neighbor_id,
       CAST(count(*) AS BIGINT) AS n_lists,
       CAST(min(rank) AS BIGINT) AS best_rank,
       CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm
FROM u GROUP BY query_id, neighbor_id
""",
    doc="reciprocal-rank fusion (Cormack et al. 2009) of an exact and "
        "a quantized retriever — float cosine top-10 and int8-code "
        "dot-product top-10 (the int8_quantize scheme) — per query: "
        "the standard hybrid/tiered-retrieval combiner. The two lists "
        "genuinely diverge by the quantization error (the corpus "
        "embeddings are unit-norm, so an L2 second list would be "
        "rank-identical to cosine — tested as the metric-equivalence "
        "property of l2_topk). Fusion scores are exact integers, "
        "1000000 div (60 + rank): the int8 list never touches a "
        "float at scoring time and the cosine list's ranks are "
        "deterministic via rounded-score + id tie-breaks (the "
        "ann_cosine_topk precedent). Scale: queries broadcast, ONE "
        "corpus pass per retriever, each list top-k pruned before "
        "the union so fusion hash-aggregates |queries| x 2k rows",
)
def q_rrf_hybrid_fusion(spark, sf_dir):
    from ..operators.similarity import cosine_topk, int8_dot_topk, rrf_fuse

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    q = emb.where(F.col("vec_id") < 10)
    return rrf_fuse(
        [cosine_topk(q, emb, k=10), int8_dot_topk(q, emb, k=10)], k=60
    )


_KC_K = 8
_KC_CODES = (
    "CASE WHEN list_max(list_transform(embedding, x -> abs(x::DOUBLE))) > 0 "
    "THEN list_transform(embedding, x -> CAST(floor(x::DOUBLE "
    "/ list_max(list_transform(embedding, y -> abs(y::DOUBLE))) "
    "* 127) AS BIGINT)) "
    "ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END"
)
_KC_DIST = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> (x.c[i] - s.c[i]) * (x.c[i] - s.c[i])), (a, b) -> a + b)"
)


def _kcenter_oracle(k: int) -> str:
    parts = [
        f"WITH cz AS (\n  SELECT vec_id AS id, {_KC_CODES} AS c\n"
        "  FROM embeddings\n), c0 AS (\n"
        "  SELECT id FROM cz ORDER BY id LIMIT 1\n), m1 AS (\n"
        f"  SELECT x.id, x.c, {_KC_DIST} AS d\n"
        "  FROM cz x CROSS JOIN "
        "(SELECT z.c FROM cz z JOIN c0 ON z.id = c0.id) s\n)"
    ]
    for i in range(1, k):
        parts.append(
            f", p{i} AS (\n  SELECT id, d FROM m{i} "
            "ORDER BY d DESC, id LIMIT 1\n)"
        )
        if i < k - 1:
            parts.append(
                f", m{i + 1} AS (\n"
                f"  SELECT x.id, x.c, least(x.d, {_KC_DIST}) AS d\n"
                f"  FROM m{i} x CROSS JOIN "
                f"(SELECT z.c FROM cz z JOIN p{i} ON z.id = p{i}.id) s\n)"
            )
    sel = [
        "SELECT CAST(0 AS BIGINT) AS pick_order, c0.id AS vec_id,\n"
        "       CAST(-1 AS BIGINT) AS coverage_radius FROM c0"
    ]
    for i in range(1, k):
        sel.append(
            f"SELECT CAST({i} AS BIGINT), p{i}.id, "
            f"CAST(p{i}.d AS BIGINT) FROM p{i}"
        )
    return "".join(parts) + "\n" + "\nUNION ALL ".join(sel)


@register(
    "kcenter_coreset_picks",
    _kcenter_oracle(_KC_K),
    doc="greedy k-center coreset (Gonzalez 1985 2-approximation) over "
        "the int8-quantized embeddings — diversity selection for "
        "labeling/eval budgets: seed at the min id, then "
        f"{_KC_K - 1} rounds of 'add the point farthest from the "
        "selected set' (integer squared-L2 over the quantized codes, "
        "min-id tie-break), emitting the pick order and each pick's "
        "distance-to-set — the non-increasing coverage-radius "
        "sequence that IS the coreset guarantee readout. Every "
        "distance is a pure-integer argmax, so the oracle unrolls "
        "the same greedy steps as CTEs and matches exactly. Scale: "
        "the operator ENFORCES a deterministic md5-draw pre-sample "
        "(TakeOrdered, 65,536-row cap where the 2-approximation "
        "quality transfers) and runs the k argmax rounds driver-side "
        "in numpy over the collected int64 codes — ONE distributed "
        "corpus pass total, job-count-asserted (the codebook-training "
        "TRAIN_DRIVER_ROWS precedent); corpora under the cap keep "
        "every row so this oracle is unchanged",
)
def q_kcenter_coreset(spark, sf_dir):
    from ..operators.similarity import kcenter_coreset

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return kcenter_coreset(emb, k=_KC_K)
