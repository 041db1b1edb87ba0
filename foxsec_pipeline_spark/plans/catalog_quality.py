"""Catalog tranche: data-quality gates, contamination
scoring, weighted sampling, embedding QC, range similarity search,
and SRE/abuse detectors.

- C4-style rule-bundle quality gate (Raffel et al. 2020 cleaning
  rules re-expressed as integer-exact predicates)
- benchmark-contamination overlap scoring (the n-gram-overlap
  methodology of GPT-3 appendix C / Dodge et al. 2021; the Bloom
  membership variant is `bloom_decontaminate`)
- priority sampling (Duffield-Lund-Thorup) — weighted
  sample-without-replacement whose priority q = h/w uses one exact
  hardware division, so ranks are bit-identical across engines
  (Efraimidis-Spirakis keys need ln(); libm differs between engines)
- embedding-norm outlier QC (per-label integer rank tails)
- cosine RANGE search (radius query — the complement of the top-k
  family; brute baseline over a broadcast query set)
- password-spray, dormant-reactivation-burst, p95-latency SLO, and
  error-budget-burn detectors over the events stream
- video frame-sampling plumbing (`operators/multimodal.py
  sample_frames` — the 1->N mapInPandas row expansion) under an
  exact byte-window oracle

Determinism discipline: ratios in integer ppm via `div`/`//`, hashes
md5/sha256 (engine-portable), float folds sequential left-to-right on
both engines, every ordering carries an id tie-break.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..operators.multimodal import attach_binary_payload, sample_frames
from ..operators.similarity import dot, l2_norm
from ..session import load_tables
from .catalog import register


def _docs(spark, sf_dir):
    return load_tables(spark, sf_dir, "documents")["documents"]


def _events(spark, sf_dir):
    return load_tables(spark, sf_dir, "events")["events"]


def _emb(spark, sf_dir):
    return load_tables(spark, sf_dir, "embeddings")["embeddings"]


# ---------------------------------------------------------------------------
# C4-style quality rule bundle


@register(
    "c4_quality_rules",
    """
WITH u AS (
  SELECT doc_id, source,
         unnest(string_split_regex(trim(text), '\\s+')) AS w
  FROM documents
), wc AS (
  SELECT doc_id, source, w, count(*) AS c FROM u GROUP BY 1, 2, 3
), d AS (
  SELECT doc_id, source,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(c * len(w)) AS BIGINT) AS chars,
         CAST(sum(CASE WHEN w = 'the' THEN c ELSE 0 END) AS BIGINT) AS nthe,
         CAST(max(c) AS BIGINT) AS mx
  FROM wc GROUP BY 1, 2
)
SELECT source,
       count(*) AS n_docs,
       CAST(count(*) FILTER (n >= 40) AS BIGINT) AS pass_min_words,
       CAST(count(*) FILTER (chars * 100 >= 400 * n
                             AND chars * 100 <= 500 * n) AS BIGINT)
         AS pass_mean_word_len,
       CAST(count(*) FILTER (nthe > 0) AS BIGINT) AS pass_stopword,
       CAST(count(*) FILTER (mx * 10 <= n) AS BIGINT) AS pass_max_repeat,
       CAST(count(*) FILTER (n >= 40
                             AND chars * 100 >= 400 * n
                             AND chars * 100 <= 500 * n
                             AND nthe > 0
                             AND mx * 10 <= n) AS BIGINT) AS pass_all
FROM d GROUP BY source
""",
    doc="C4-style quality rule bundle (Raffel et al. 2020, public "
        "methodology; the reference's EventFilter rule-bundle shape, "
        "`filters/EventFilter.java`, applied to corpus curation): "
        "min word count, mean word length band, stopword presence, "
        "max-token-frequency cap — every rule integer-exact (chars*100 "
        "vs 400*n, mx*10 vs n) so the pass counts hash across engines. "
        "Scale: one explode + two hash-aggs, all keyed on doc_id then "
        "source — no joins, map-side combinable; at 100 TB the explode "
        "is the linear tokenize pass every text metric shares",
)
def q_c4_quality_rules(spark, sf_dir):
    u = _docs(spark, sf_dir).select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("w")
    )
    wc = u.groupBy("doc_id", "source", "w").agg(F.count(F.lit(1)).alias("c"))
    d = wc.groupBy("doc_id", "source").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.length("w")).cast("long").alias("chars"),
        F.sum(F.when(F.col("w") == "the", F.col("c")).otherwise(0))
        .cast("long").alias("nthe"),
        F.max("c").cast("long").alias("mx"),
    )
    pass_words = F.col("n") >= 40
    pass_mean = (F.col("chars") * 100 >= 400 * F.col("n")) & (
        F.col("chars") * 100 <= 500 * F.col("n")
    )
    pass_stop = F.col("nthe") > 0
    pass_rep = F.col("mx") * 10 <= F.col("n")

    def cnt(cond, name):
        return F.count(F.when(cond, 1)).cast("long").alias(name)

    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        cnt(pass_words, "pass_min_words"),
        cnt(pass_mean, "pass_mean_word_len"),
        cnt(pass_stop, "pass_stopword"),
        cnt(pass_rep, "pass_max_repeat"),
        cnt(pass_words & pass_mean & pass_stop & pass_rep, "pass_all"),
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination overlap scoring


@register(
    "contamination_overlap_fraction",
    f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok
  FROM documents
), g AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(tok) - 2, 0) + 1),
                i -> array_to_string(list_slice(tok, i, i + 2), ' '))) AS ng
  FROM t
), probe_ids AS (
  SELECT doc_id FROM documents
  ORDER BY ((doc_id % 1048573) * 2654435761 + 12345) % 4294967296, doc_id
  LIMIT 50
), bench AS (
  SELECT DISTINCT ng FROM g JOIN probe_ids USING (doc_id)
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS total_ngrams,
       CAST(count(bench.ng) AS BIGINT) AS hit_ngrams,
       CAST(count(bench.ng) * 1000000 // count(*) AS BIGINT) AS overlap_ppm
FROM g LEFT JOIN bench USING (ng)
WHERE g.doc_id NOT IN (SELECT doc_id FROM probe_ids)
GROUP BY g.doc_id
HAVING count(bench.ng) > 0
""",
    doc="benchmark-contamination scoring (the n-gram overlap "
        "methodology of GPT-3 appendix C / Dodge et al. 2021): the "
        "eval split's distinct 3-grams form the dirty set; each "
        "training doc scores the ppm of its distinct 3-grams that "
        "collide. Membership-only decontamination is `decontaminate` "
        "/ `bloom_decontaminate`; this is the graded variant that "
        "ranks HOW contaminated. Scale: the bench set is "
        "FIXED-COUNT (top-50 by the shared deterministic hash — "
        "constant at any corpus size, broadcast; Bloom at 100 TB) and the join "
        "is n-gram-keyed — never doc x doc",
)
def q_contamination_overlap_fraction(spark, sf_dir):
    t = _docs(spark, sf_dir).select("doc_id", tokens(F.col("text")).alias("tok"))
    g = t.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size("tok") - 2, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice("tok", i, F.lit(3))),
            )
        ).alias("ng"),
    ).distinct()
    # fixed-count eval split: constant probe size at any corpus
    # scale, IN-list pushed into the scan — not a corpus-proportional
    # % k slice, whose probe side grows with the corpus
    from .catalog_data import _probe_doc_ids

    probe = _probe_doc_ids(spark, sf_dir, k=50)
    bench = g.where(F.col("doc_id").isin(probe)).select("ng").distinct()
    train = g.where(~F.col("doc_id").isin(probe))
    return (
        train.join(
            F.broadcast(bench.withColumn("__hit", F.lit(1))), "ng", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total_ngrams"),
            F.count("__hit").cast("long").alias("hit_ngrams"),
        )
        .where(F.col("hit_ngrams") > 0)
        .select(
            "doc_id", "total_ngrams", "hit_ngrams",
            F.expr("hit_ngrams * 1000000 div total_ngrams")
            .cast("long").alias("overlap_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted sampling via priority sampling


@register(
    "priority_sample_weighted",
    """
WITH p AS (
  SELECT source, doc_id, n_chars,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           / CAST(n_chars AS DOUBLE) AS prio
  FROM documents WHERE n_chars > 0
), r AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY prio, doc_id) AS rk
  FROM p
)
SELECT source, doc_id, CAST(n_chars AS BIGINT) AS weight,
       CAST(rk AS BIGINT) AS sample_rank
FROM r WHERE rk <= 20
""",
    doc="priority sampling (Duffield-Lund-Thorup, public algorithm): "
        "weight-proportional sample without replacement — keep the k "
        "smallest priorities q = u/w with u an md5-derived 32-bit "
        "uniform. One exact IEEE division per row (correctly rounded "
        "in hardware on BOTH engines), unlike Efraimidis-Spirakis "
        "u^(1/w) keys whose ln/pow go through libm and diverge in the "
        "last ulp. Per-source mixture sampling is the training-data "
        "use (`mixture_budget_sample` is the quota variant). Scale: "
        "rank inside each source partition — one shuffle on source, "
        "top-k prunable under AQE like every windowed top-k here",
)
def q_priority_sample_weighted(spark, sf_dir):
    d = _docs(spark, sf_dir).where(F.col("n_chars") > 0)
    prio = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long").cast("double") / F.col("n_chars").cast("double")
    )
    w = Window.partitionBy("source").orderBy("prio", "doc_id")
    return (
        d.select("source", "doc_id", "n_chars", prio.alias("prio"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 20)
        .select(
            "source", "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            F.col("rk").cast("long").alias("sample_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding-norm outlier QC


@register(
    "embedding_norm_outliers",
    """
WITH n AS (
  SELECT vec_id, label,
         CAST(round(1000000 * list_reduce(
           list_transform(range(1, 65),
                          i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE),
           (x, y) -> x + y)) AS BIGINT) AS norm2_ppm
  FROM embeddings
), r AS (
  SELECT vec_id, label, norm2_ppm,
         row_number() OVER (PARTITION BY label
                            ORDER BY norm2_ppm, vec_id) AS rk,
         count(*) OVER (PARTITION BY label) AS n
  FROM n
)
SELECT vec_id, label, norm2_ppm,
       CASE WHEN rk * 50 <= n THEN 'low' ELSE 'high' END AS tail
FROM r WHERE rk * 50 <= n OR (n - rk) * 50 < n
""",
    doc="embedding QC: per-label L2-norm tail flags (bottom/top 2% by "
        "integer rank — degenerate norms are the standard signal for "
        "broken encodes before they poison an ANN index or a cosine "
        "dedup pass). norm2 is the same sequential float fold as the "
        "ANN family, quantized to ppm BEFORE ranking so the order is "
        "integer-exact. Scale: one map-side fold + one rank per label "
        "partition; no joins",
)
def q_embedding_norm_outliers(spark, sf_dir):
    e = _emb(spark, sf_dir)
    norm2 = F.round(
        dot(F.col("embedding"), F.col("embedding")) * 1000000
    ).cast("long")
    w = Window.partitionBy("label").orderBy("norm2_ppm", "vec_id")
    cw = Window.partitionBy("label")
    return (
        e.select("vec_id", "label", norm2.alias("norm2_ppm"))
        .withColumn("rk", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(cw))
        .where(
            (F.col("rk") * 50 <= F.col("n"))
            | ((F.col("n") - F.col("rk")) * 50 < F.col("n"))
        )
        .select(
            "vec_id", "label", "norm2_ppm",
            F.when(F.col("rk") * 50 <= F.col("n"), "low")
            .otherwise("high").alias("tail"),
        )
    )


# ---------------------------------------------------------------------------
# Cosine range (radius) search


_RANGE_FOLD = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x, y) -> x + y)"
)

# Deterministic query-set sampler shared by the brute-force ANN eval
# queries (range search / kNN vote / MMR): the query set is the top-K
# corpus rows by a pure-arithmetic int64 hash BOTH engines compute
# identically (pre-mod keeps the product < 2^63 for any vec_id).
# Fixed COUNT — not a corpus-proportional `% k` filter: at Nx data the brute pair work grows K*N (linear) and the
# broadcast query side stays K rows at any corpus size. Spark plans
# the pick as TakeOrderedAndProject (per-partition top-K + driver
# merge of K-row heads), never a global sort.
_QHASH_SQL = "((vec_id % 1048573) * 2654435761 + 12345) % 4294967296"


def _qhash(vec_id):
    return ((vec_id % 1048573) * F.lit(2654435761) + 12345) % F.lit(
        4294967296
    )


def _query_sample(e, k: int, *cols):
    """Top-`k` embeddings rows by the shared deterministic hash
    (vec_id tie-break), projected to `cols`."""
    return (
        e.orderBy(_qhash(F.col("vec_id")).asc(), F.col("vec_id").asc())
        .limit(k)
        .select(*cols)
    )


@register(
    "ann_range_search",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  ORDER BY {_QHASH_SQL}, vec_id
  LIMIT 16
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
)
SELECT query_id, neighbor_id,
       round({_RANGE_FOLD.format(a='qv', b='cv')}
             / (sqrt({_RANGE_FOLD.format(a='qv', b='qv')})
                * sqrt({_RANGE_FOLD.format(a='cv', b='cv')})), 6) AS cosine
FROM c CROSS JOIN q
WHERE query_id <> neighbor_id
  AND round({_RANGE_FOLD.format(a='qv', b='cv')}
            / (sqrt({_RANGE_FOLD.format(a='qv', b='qv')})
               * sqrt({_RANGE_FOLD.format(a='cv', b='cv')})), 6) >= 0.2
""",
    doc="cosine RANGE search (radius query): all neighbors within a "
        "similarity radius, the complement of the top-k family — "
        "dedup thresholds and recall evaluation both consume range "
        "results, not fixed k. Brute baseline: broadcast a FIXED-COUNT "
        "query set (top-16 by a deterministic arithmetic hash both "
        "engines compute identically — Spark plans the pick as "
        "TakeOrderedAndProject, no global sort), one corpus scan, no "
        "corpus shuffle (the same posture as ann_cosine_topk). "
        "Fixed-count, not corpus-proportional (a % k probe grows "
        "with the corpus): at Nx data the pair work is K*N, linear, and the "
        "broadcast side stays K rows at any corpus size. The "
        "LSH-bucketed variants (`ann_cosine_lsh*`) are the sub-linear "
        "path when the radius is tight. Scores rounded to 1e-6 with "
        "the sequential fold both engines share",
)
def q_ann_range_search(spark, sf_dir):
    e = _emb(spark, sf_dir)
    q = _query_sample(
        e, 16,
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        l2_norm(F.col("embedding")).alias("__qn"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        l2_norm(F.col("embedding")).alias("__cn"),
    )
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("__qv"), F.col("__cv"))
                / (F.col("__qn") * F.col("__cn")),
                6,
            ),
        )
        .where(F.col("cosine") >= 0.2)
        .select("query_id", "neighbor_id", "cosine")
    )


# ---------------------------------------------------------------------------
# IVF-routed cosine range search (the sub-linear scale path for the
# radius query above)


def _range_ivf_oracle() -> str:
    """Trained-IVF range-search oracle: the SAME unrolled Lloyd CTEs
    as `ann_cosine_ivf` (`catalog_data._kmeans_cte`), corpus assigned
    to its argmax cell, the fixed-count hash-sampled query set probes
    nprobe=2 cells, exact cosine filters candidates at radius 0.2."""
    from .catalog_data import _FOLD, _IVF_TRAIN_ITERS, _kmeans_cte

    n = _IVF_TRAIN_ITERS
    return _kmeans_cte() + f""", cd AS (
  SELECT ex.vid, c.cid, sum(ex.xs * c.cs) AS d
  FROM ex JOIN c{n} c ON ex.j = c.j GROUP BY ex.vid, c.cid
), cells AS (
  SELECT vid, cid,
         row_number() OVER (PARTITION BY vid ORDER BY d DESC, cid) AS rn
  FROM cd
), cc AS (
  SELECT vid AS neighbor_id, cid AS cell FROM cells WHERE rn = 1
), qs AS (
  SELECT vec_id FROM embeddings
  ORDER BY {_QHASH_SQL}, vec_id
  LIMIT 16
), qp AS (
  SELECT vid AS query_id, cid AS cell FROM cells
  JOIN qs ON cells.vid = qs.vec_id
  WHERE rn <= 2
), cand AS (
  SELECT query_id, neighbor_id FROM cc JOIN qp USING (cell)
  WHERE query_id <> neighbor_id
), scored AS (
  SELECT query_id, neighbor_id,
         round({_FOLD.format(a='q.embedding', b='c.embedding')}
               / (sqrt({_FOLD.format(a='q.embedding', b='q.embedding')})
                  * sqrt({_FOLD.format(a='c.embedding', b='c.embedding')})),
               6) AS cosine
  FROM cand JOIN embeddings q ON q.vec_id = query_id
  JOIN embeddings c ON c.vec_id = neighbor_id
)
SELECT query_id, neighbor_id, cosine FROM scored WHERE cosine >= 0.2
"""


@register(
    "ann_range_search_ivf",
    _range_ivf_oracle(),
    doc="cosine range (radius) search routed through the TRAINED IVF "
        "cells — the sub-linear production path next to the brute "
        "`ann_range_search` baseline (its "
        "scale fix): corpus work is ONE cell-assignment pass + an "
        "equi-join on the cell id, so at Nx data the candidate count "
        "grows with the probed cells' occupancy, not the corpus "
        "cross-product. Query set is the same fixed-count hash "
        "sample as the brute leg (top-16, TakeOrderedAndProject), so "
        "the two results are directly comparable for recall. The "
        "oracle unrolls the identical integer fixed-point Lloyd "
        "training, so codebook, assignment, probing, and radius "
        "filter are all hash-verified cross-engine",
)
def q_ann_range_search_ivf(spark, sf_dir):
    from ..operators.similarity import cosine_range_ivf
    from .catalog_data import _trained_ivf_codebook

    e = _emb(spark, sf_dir)
    q = (
        e.orderBy(_qhash(F.col("vec_id")).asc(), F.col("vec_id").asc())
        .limit(16)
    )
    cb = _trained_ivf_codebook(spark, sf_dir)
    return cosine_range_ivf(q, e, radius=0.2, nprobe=2, codebook=cb)


# ---------------------------------------------------------------------------
# Password-spray detection


@register(
    "password_spray_detection",
    """
WITH err AS (
  SELECT date_trunc('day', ts) AS window_start,
         CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) AS source_k,
         user_id
  FROM events WHERE event_type = 'error'
)
SELECT window_start, source_k,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_accounts,
       CAST(count(*) AS BIGINT) AS n_attempts
FROM err GROUP BY 1, 2
HAVING count(DISTINCT user_id) >= 3
   AND count(*) <= 2 * count(DISTINCT user_id)
""",
    doc="password-spray detection: one source touching MANY accounts "
        "with FEW attempts each (the inverse of brute force — "
        "`hard_limit_analysis` catches depth, this catches breadth; "
        "the distinct-count-per-key shape of "
        "`CustomsFeatures.java`'s per-source counters). Low "
        "attempts-per-account (<= 2x accounts) is the spray "
        "signature that per-account throttles never see. Scale: one "
        "hash-agg with a distinct-count — partial-aggregatable, "
        "key = (day, source)",
)
def q_password_spray_detection(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.where(F.col("event_type") == "error")
        .select(
            F.date_trunc("day", "ts").alias("window_start"),
            F.regexp_extract("props", r"([0-9]+)", 1).cast("int")
            .alias("source_k"),
            "user_id",
        )
        .groupBy("window_start", "source_k")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_accounts"),
            F.count(F.lit(1)).cast("long").alias("n_attempts"),
        )
        .where(
            (F.col("n_accounts") >= 3)
            & (F.col("n_attempts") <= 2 * F.col("n_accounts"))
        )
    )


# ---------------------------------------------------------------------------
# Dormant-account reactivation burst


@register(
    "dormant_reactivation_burst",
    """
WITH e AS (
  SELECT user_id, ts, epoch_us(ts) AS eu FROM events
), g AS (
  SELECT user_id, ts, eu,
         eu - lag(eu) OVER (PARTITION BY user_id ORDER BY eu) AS gap_us,
         count(*) OVER (PARTITION BY user_id ORDER BY eu
                        RANGE BETWEEN CURRENT ROW
                        AND 86400000000 FOLLOWING) AS burst_n
  FROM e
)
SELECT user_id, ts AS reactivated_at,
       CAST(gap_us // 86400000000 AS BIGINT) AS gap_days,
       CAST(burst_n AS BIGINT) AS burst_n
FROM g WHERE gap_us >= 2 * 86400000000 AND burst_n >= 3
""",
    doc="dormant-account reactivation burst: an account silent for "
        ">= 2 days that returns with >= 3 events inside one day — "
        "the account-takeover shape session windows cannot express "
        "(the signal IS the gap; `AuthProfile`'s known-address state "
        "answers WHO, this answers WHEN). RANGE frame over epoch "
        "micros, identical semantics both engines. Scale: two window "
        "passes over the same (user, time) sort — one shuffle, no "
        "joins; gap state is O(1) per key exactly like the "
        "reference's velocity detector",
)
def q_dormant_reactivation_burst(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        "user_id", "ts", F.unix_micros("ts").alias("eu")
    )
    ow = Window.partitionBy("user_id").orderBy("eu")
    rw = ow.rangeBetween(0, 86_400_000_000)
    day_us = 86_400_000_000
    return (
        ev.withColumn("gap_us", F.col("eu") - F.lag("eu").over(ow))
        .withColumn("burst_n", F.count(F.lit(1)).over(rw))
        .where(
            (F.col("gap_us") >= 2 * day_us) & (F.col("burst_n") >= 3)
        )
        .select(
            "user_id", F.col("ts").alias("reactivated_at"),
            F.expr(f"gap_us div {day_us}").cast("long").alias("gap_days"),
            F.col("burst_n").cast("long").alias("burst_n"),
        )
    )


# ---------------------------------------------------------------------------
# Exact discrete p95 latency SLO


@register(
    "latency_p95_slo",
    """
WITH r AS (
  SELECT event_type, date_trunc('day', ts) AS window_start, value, event_id,
         row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                            ORDER BY value, event_id) AS rk,
         count(*) OVER (PARTITION BY event_type, date_trunc('day', ts)) AS n
  FROM events
)
SELECT event_type, window_start, CAST(n AS BIGINT) AS n_events,
       CAST(round(value * 100) AS BIGINT) AS p95_cents,
       CAST(CASE WHEN round(value * 100) > 18000 THEN 1 ELSE 0 END AS BIGINT)
         AS slo_breach
FROM r WHERE rk = CAST(ceil(0.95 * n) AS BIGINT)
""",
    doc="per-(endpoint, day) p95 latency against an SLO — the exact "
        "DISCRETE percentile (element at rank ceil(0.95n) with an id "
        "tie-break), not an interpolated or approximate one: "
        "interpolation formulas and t-digest impls differ across "
        "engines, rank arithmetic does not. approx-quantile at scale "
        "is `approx_quantile_sketch`; this is the exact twin used to "
        "validate it. Scale: one windowed sort per (endpoint, day) "
        "partition — the same shuffle a groupBy would take; value in "
        "exact cents",
)
def q_latency_p95_slo(spark, sf_dir):
    ev = _events(spark, sf_dir)
    pw = Window.partitionBy(
        "event_type", F.date_trunc("day", "ts")
    )
    return (
        ev.select(
            "event_type",
            F.date_trunc("day", "ts").alias("window_start"),
            "value", "event_id",
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type", "window_start")
                .orderBy("value", "event_id")
            ),
        )
        .withColumn(
            "n",
            F.count(F.lit(1)).over(
                Window.partitionBy("event_type", "window_start")
            ),
        )
        .where(F.col("rk") == F.ceil(0.95 * F.col("n")).cast("long"))
        .select(
            "event_type", "window_start",
            F.col("n").cast("long").alias("n_events"),
            F.round(F.col("value") * 100).cast("long").alias("p95_cents"),
            F.when(F.round(F.col("value") * 100) > 18000, 1)
            .otherwise(0).cast("long").alias("slo_breach"),
        )
    )


# ---------------------------------------------------------------------------
# Error-budget burn


@register(
    "error_budget_burn",
    """
WITH day AS (
  SELECT CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) AS source_k,
         date_trunc('day', ts) AS window_start,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_errors
  FROM events GROUP BY 1, 2
), rated AS (
  SELECT *, n_errors * 1000000 // n_events AS err_ppm FROM day
), burned AS (
  SELECT *, sum(err_ppm - 10000) OVER (
           PARTITION BY source_k ORDER BY window_start
           ROWS UNBOUNDED PRECEDING) AS cum_excess_ppm
  FROM rated
)
SELECT source_k, window_start, n_events, n_errors,
       CAST(err_ppm AS BIGINT) AS err_ppm,
       CAST(cum_excess_ppm AS BIGINT) AS cum_excess_ppm
FROM burned WHERE err_ppm >= 400000
""",
    doc="SRE error-budget burn: per-service daily error ppm against a "
        "1% budget, with the cumulative excess (the burn-rate curve "
        "SLO alerting pages on — Google SRE workbook ch.5, public "
        "methodology). Pure integer arithmetic; the cumulative window "
        "runs over day-cardinality rows per service. Scale: one "
        "hash-agg to (service, day) — everything after is "
        "tiny-table window math, the `vocab_growth_curve` posture",
)
def q_error_budget_burn(spark, sf_dir):
    ev = _events(spark, sf_dir)
    day = (
        ev.select(
            F.regexp_extract("props", r"([0-9]+)", 1).cast("int")
            .alias("source_k"),
            F.date_trunc("day", "ts").alias("window_start"),
            "event_type",
        )
        .groupBy("source_k", "window_start")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count(F.when(F.col("event_type") == "error", 1))
            .cast("long").alias("n_errors"),
        )
    )
    bw = Window.partitionBy("source_k").orderBy("window_start").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        day.withColumn(
            "err_ppm", F.expr("n_errors * 1000000 div n_events").cast("long")
        )
        .withColumn(
            "cum_excess_ppm",
            F.sum(F.col("err_ppm") - 10000).over(bw).cast("long"),
        )
        .where(F.col("err_ppm") >= 400000)
    )


# ---------------------------------------------------------------------------
# Video frame-sampling plumbing


@register(
    "multimodal_frame_sample",
    """
WITH d AS (
  SELECT doc_id, text, octet_length(encode(text)) AS blen FROM documents
), n AS (
  SELECT doc_id, text, blen,
         least(8, greatest(blen // 64, 1)) AS n_frames
  FROM d
)
SELECT doc_id,
       CAST(i AS INT) AS frame_index,
       CAST(i * 64 AS BIGINT) AS frame_offset_bytes,
       sha256(substr(text, CAST(i * 64 + 1 AS BIGINT), 64)) AS frame_sha256
FROM n CROSS JOIN range(0, 8) r(i)
WHERE i < n_frames
""",
    doc="video frame-sampling plumbing (`operators/multimodal.py "
        "sample_frames`): the 1->N row expansion a keyframe extractor "
        "needs — binary payload in, (doc_id, frame_index, offset, "
        "content hash) out — with the decoder stubbed as deterministic "
        "fixed-stride byte windows (the container has no codecs; a "
        "deployment swaps ffmpeg into the same mapInPandas batch "
        "contract). The oracle reproduces the byte windows exactly "
        "(ASCII corpus: byte slice == char slice). Scale: mapInPandas "
        "over Arrow binary batches, output rows = docs x <= 8 — "
        "partition sizing must budget for the expansion, which is the "
        "lesson this query pins",
)
def q_multimodal_frame_sample(spark, sf_dir):
    docs = attach_binary_payload(_docs(spark, sf_dir))
    return sample_frames(docs, every_n_bytes=64, max_frames=8)


# ---------------------------------------------------------------------------
# MMR diversified top-k (RAG re-ranking)


@register(
    "mmr_diversified_topk",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  ORDER BY {_QHASH_SQL}, vec_id
  LIMIT 16
), c AS (
  SELECT vec_id AS nid, embedding AS cv FROM embeddings
), scored AS (
  SELECT query_id, nid,
         round({_RANGE_FOLD.format(a='qv', b='cv')}
               / (sqrt({_RANGE_FOLD.format(a='qv', b='qv')})
                  * sqrt({_RANGE_FOLD.format(a='cv', b='cv')})), 6) AS rel
  FROM c CROSS JOIN q WHERE query_id <> nid
), pool AS (
  SELECT query_id, nid, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, nid) AS rk
    FROM scored) WHERE rk <= 20
), pe AS (
  SELECT p.query_id, p.nid, e.embedding AS v FROM pool p
  JOIN embeddings e ON p.nid = e.vec_id
), psim AS (
  SELECT a.query_id, a.nid AS na, b.nid AS nb,
         round({_RANGE_FOLD.format(a='a.v', b='b.v')}
               / (sqrt({_RANGE_FOLD.format(a='a.v', b='a.v')})
                  * sqrt({_RANGE_FOLD.format(a='b.v', b='b.v')})), 6) AS s
  FROM pe a JOIN pe b ON a.query_id = b.query_id AND a.nid <> b.nid
), s1 AS (
  SELECT query_id, nid, rel, 1 AS pick_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, nid) AS rk
    FROM pool) WHERE rk = 1
), m2 AS (
  SELECT p.query_id, p.nid, p.rel, max(ps.s) AS ms FROM pool p
  JOIN psim ps ON ps.query_id = p.query_id AND ps.na = p.nid
  JOIN s1 ON s1.query_id = ps.query_id AND s1.nid = ps.nb
  WHERE p.nid NOT IN (SELECT nid FROM s1 WHERE s1.query_id = p.query_id)
  GROUP BY 1, 2, 3
), s2 AS (
  SELECT query_id, nid, rel, 2 AS pick_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY round(0.7 * rel - 0.3 * ms, 6) DESC, nid) AS rk
    FROM m2) WHERE rk = 1
), sel2 AS (
  SELECT query_id, nid FROM s1 UNION ALL SELECT query_id, nid FROM s2
), m3 AS (
  SELECT p.query_id, p.nid, p.rel, max(ps.s) AS ms FROM pool p
  JOIN psim ps ON ps.query_id = p.query_id AND ps.na = p.nid
  JOIN sel2 ON sel2.query_id = ps.query_id AND sel2.nid = ps.nb
  WHERE p.nid NOT IN (SELECT nid FROM sel2 WHERE sel2.query_id = p.query_id)
  GROUP BY 1, 2, 3
), s3 AS (
  SELECT query_id, nid, rel, 3 AS pick_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY round(0.7 * rel - 0.3 * ms, 6) DESC, nid) AS rk
    FROM m3) WHERE rk = 1
), sel3 AS (
  SELECT query_id, nid FROM sel2 UNION ALL SELECT query_id, nid FROM s3
), m4 AS (
  SELECT p.query_id, p.nid, p.rel, max(ps.s) AS ms FROM pool p
  JOIN psim ps ON ps.query_id = p.query_id AND ps.na = p.nid
  JOIN sel3 ON sel3.query_id = ps.query_id AND sel3.nid = ps.nb
  WHERE p.nid NOT IN (SELECT nid FROM sel3 WHERE sel3.query_id = p.query_id)
  GROUP BY 1, 2, 3
), s4 AS (
  SELECT query_id, nid, rel, 4 AS pick_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY round(0.7 * rel - 0.3 * ms, 6) DESC, nid) AS rk
    FROM m4) WHERE rk = 1
), sel4 AS (
  SELECT query_id, nid FROM sel3 UNION ALL SELECT query_id, nid FROM s4
), m5 AS (
  SELECT p.query_id, p.nid, p.rel, max(ps.s) AS ms FROM pool p
  JOIN psim ps ON ps.query_id = p.query_id AND ps.na = p.nid
  JOIN sel4 ON sel4.query_id = ps.query_id AND sel4.nid = ps.nb
  WHERE p.nid NOT IN (SELECT nid FROM sel4 WHERE sel4.query_id = p.query_id)
  GROUP BY 1, 2, 3
), s5 AS (
  SELECT query_id, nid, rel, 5 AS pick_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY round(0.7 * rel - 0.3 * ms, 6) DESC, nid) AS rk
    FROM m5) WHERE rk = 1
)
SELECT query_id, nid AS neighbor_id, rel,
       CAST(pick_rank AS BIGINT) AS pick_rank
FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
      UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
      UNION ALL SELECT * FROM s5)
""",
    doc="maximal marginal relevance (Carbonell-Goldstein 1998, public "
        "algorithm): diversity-aware top-5 re-rank of a cosine top-20 "
        "pool — pick argmax 0.7*rel - 0.3*max_sim_to_selected, five "
        "unrolled selection rounds (bounded k, so the 'iterative' "
        "algorithm is a FIXED plan — the kmeans/kcore discipline; no "
        "driver loop, no collect). Every similarity is rounded to "
        "1e-6 before the linear combination, picks tie-break on "
        "neighbor_id, so both engines select identical sets. Scale: "
        "the query set is FIXED-COUNT (top-16 by the shared "
        "deterministic hash, TakeOrderedAndProject — scoring work is "
        "K*N at any corpus size, not N²/499), and "
        "the pool is queries x 20 (broadcast-sized by construction); "
        "pair sims are pool-local (20x20 per query), never corpus²",
)
def q_mmr_diversified_topk(spark, sf_dir):
    e = _emb(spark, sf_dir)
    q = _query_sample(
        e, 16,
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        l2_norm(F.col("embedding")).alias("__qn"),
    )
    c = e.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("__cv"),
        l2_norm(F.col("embedding")).alias("__cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("nid"))
        .select(
            "query_id", "nid",
            F.round(
                dot(F.col("__qv"), F.col("__cv"))
                / (F.col("__qn") * F.col("__cn")), 6,
            ).alias("rel"),
        )
    )
    pw = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("nid")
    )
    # pool = top-20 per query by rel (rk carries the rel-desc order
    # into the collected array below)
    pool = (
        scored.withColumn("rk", F.row_number().over(pw))
        .where(F.col("rk") <= 20)
    )
    # one aggregate, not rounds (guide §2.4/§4.1): the five selection
    # rounds as a driver-unrolled chain of per-round join+window+eager-
    # localCheckpoint jobs cost 7 sequential tiny jobs, 2.8 s of pure
    # build-time at sf0.1 with the actual compute < 0.1 s. The pool is
    # BOUNDED (20 candidates/query) by construction, so the whole MMR
    # selection fits in one codegen-stage aggregate: collect each
    # query's pool (with vectors) into an array and run the greedy
    # argmax loop as a JVM higher-order expression. One corpus scan,
    # two small shuffles (window + groupBy on query_id), zero
    # checkpoints. Arithmetic is identical per element (same dot/norm
    # folds, same round(.,6) at the same points, same (score desc,
    # nid asc) tie-break), so picks match the old plan row-for-row.
    # Scale shape: per-query work is O(20*5*dim) regardless of corpus
    # size, distributed by query_id.
    pe = (
        e.select(F.col("vec_id").alias("nid"), "embedding")
        .join(F.broadcast(pool), "nid")
        .select(
            "query_id", "rk", "nid", "rel",
            F.col("embedding").alias("__v"),
            l2_norm(F.col("embedding")).alias("__n"),
        )
    )
    grouped = pe.groupBy("query_id").agg(
        F.sort_array(
            F.collect_list(F.struct("rk", "nid", "rel", "__v", "__n"))
        ).alias("__pool")
    )
    pool_c = F.col("__pool")

    def _at(i):
        return F.element_at(pool_c, i)

    def _sim(i, j):
        # identical expression shape to the old psim column: rounded
        # cosine from the same dot/norm folds
        return F.round(
            dot(_at(i)["__v"], _at(j)["__v"]) / (_at(i)["__n"] * _at(j)["__n"]),
            6,
        )

    def _step(acc, _t):
        cands = F.filter(
            F.sequence(F.lit(1), F.size(pool_c)),
            lambda i: ~F.array_contains(acc, i),
        )
        scored_c = F.transform(
            cands,
            lambda i: F.struct(
                F.round(
                    0.7 * _at(i)["rel"]
                    - 0.3 * F.array_max(F.transform(acc, lambda j: _sim(i, j))),
                    6,
                ).alias("score"),
                _at(i)["nid"].alias("nid"),
                i.alias("idx"),
            ),
        )
        best = F.aggregate(
            scored_c,
            F.element_at(scored_c, 1),
            lambda b, x: F.when(
                (x["score"] > b["score"])
                | ((x["score"] == b["score"]) & (x["nid"] < b["nid"])),
                x,
            ).otherwise(b),
        )
        return F.when(
            F.size(cands) > 0, F.concat(acc, F.array(best["idx"]))
        ).otherwise(acc)

    picked_idx = F.aggregate(
        F.sequence(F.lit(2), F.lit(5)), F.array(F.lit(1)), _step
    )
    picks = F.transform(
        picked_idx,
        lambda idx, t: F.struct(
            _at(idx)["nid"].alias("nid"),
            _at(idx)["rel"].alias("rel"),
            (t + 1).alias("pick_rank"),
        ),
    )
    return (
        grouped.select("query_id", F.explode(picks).alias("__p"))
        .select(
            "query_id",
            F.col("__p.nid").alias("neighbor_id"),
            F.col("__p.rel").alias("rel"),
            F.col("__p.pick_rank").cast("long").alias("pick_rank"),
        )
    )


# ---------------------------------------------------------------------------
# kNN label vote


@register(
    "knn_label_vote",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS true_label
  FROM embeddings
  ORDER BY {_QHASH_SQL}, vec_id
  LIMIT 64
), c AS (
  SELECT vec_id AS nid, embedding AS cv, label FROM embeddings
), scored AS (
  SELECT query_id, true_label, nid, label,
         round({_RANGE_FOLD.format(a='qv', b='cv')}
               / (sqrt({_RANGE_FOLD.format(a='qv', b='qv')})
                  * sqrt({_RANGE_FOLD.format(a='cv', b='cv')})), 6) AS cosine
  FROM c CROSS JOIN q WHERE query_id <> nid
), top5 AS (
  SELECT query_id, true_label, label FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, nid) AS rk
    FROM scored) WHERE rk <= 5
), votes AS (
  SELECT query_id, true_label, label, count(*) AS v FROM top5
  GROUP BY 1, 2, 3
)
SELECT query_id,
       CAST(true_label AS BIGINT) AS true_label,
       CAST(label AS BIGINT) AS predicted_label,
       CAST(v AS BIGINT) AS votes,
       CAST(CASE WHEN label = true_label THEN 1 ELSE 0 END AS BIGINT)
         AS correct
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY v DESC, label) AS rk
      FROM votes) WHERE rk = 1
""",
    doc="kNN classification vote: top-5 cosine neighbors per query "
        "vector, predicted label = plurality vote (ties to the "
        "smallest label) — the standard embedding-quality eval "
        "(label-recoverability) run before trusting a space for "
        "dedup or retrieval. Composes the exact top-k machinery with "
        "a vote aggregation; id tie-breaks end to end. Scale: "
        "FIXED-COUNT query set (top-64 by the shared deterministic "
        "hash, TakeOrderedAndProject — scale-invariant cardinality, "
        "pair work K*N not N²/31) broadcast x one corpus scan, then "
        "k*|q| rows of vote math — the eval NEVER shuffles the corpus",
)
def q_knn_label_vote(spark, sf_dir):
    e = _emb(spark, sf_dir)
    q = _query_sample(
        e, 64,
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("__qv"),
        l2_norm(F.col("embedding")).alias("__qn"),
    )
    c = e.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("label"),
        F.col("embedding").alias("__cv"),
        l2_norm(F.col("embedding")).alias("__cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("nid"))
        .select(
            "query_id", "true_label", "nid", "label",
            F.round(
                dot(F.col("__qv"), F.col("__cv"))
                / (F.col("__qn") * F.col("__cn")), 6,
            ).alias("cosine"),
        )
    )
    kw = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("nid")
    )
    top5 = (
        scored.withColumn("rk", F.row_number().over(kw))
        .where(F.col("rk") <= 5)
    )
    votes = top5.groupBy("query_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("v")
    )
    vw = Window.partitionBy("query_id").orderBy(
        F.col("v").desc(), F.col("label")
    )
    return (
        votes.withColumn("rk", F.row_number().over(vw))
        .where(F.col("rk") == 1)
        .select(
            "query_id",
            F.col("true_label").cast("long").alias("true_label"),
            F.col("label").cast("long").alias("predicted_label"),
            F.col("v").cast("long").alias("votes"),
            F.when(F.col("label") == F.col("true_label"), 1)
            .otherwise(0).cast("long").alias("correct"),
        )
    )


# ---------------------------------------------------------------------------
# Part-supplier variety (TPC-H Q16 shape)


@register(
    "part_supplier_variety",
    """
SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
WHERE l.l_suppkey NOT IN (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
)
GROUP BY p.p_brand, p.p_type, p.p_size
""",
    doc="TPC-H Q16 shape (parts-supplier relationship variety with a "
        "complaint-supplier exclusion — here suppliers in arrears, "
        "s_acctbal < 0): distinct-count after an ANTI join against a "
        "tiny exclusion set. Scale: the exclusion set broadcasts "
        "(NOT IN on a 6-row dim), the join shuffles on partkey once, "
        "and the distinct-count partial-aggregates; the classic "
        "catalog-variety report",
)
def q_part_supplier_variety(spark, sf_dir):
    part = load_tables(spark, sf_dir, "part")["part"]
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    supp = load_tables(spark, sf_dir, "supplier")["supplier"]
    bad = supp.where(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    return (
        li.join(F.broadcast(bad), "l_suppkey", "left_anti")
        .join(part, part["p_partkey"] == li["l_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .select(
            "p_brand", "p_type",
            F.col("p_size").cast("long").alias("p_size"), "supplier_cnt",
        )
    )


# ---------------------------------------------------------------------------
# Day-over-day p95 regression detection


@register(
    "latency_p95_regression",
    """
WITH r AS (
  SELECT event_type, date_trunc('day', ts) AS window_start, value, event_id,
         row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                            ORDER BY value, event_id) AS rk,
         count(*) OVER (PARTITION BY event_type, date_trunc('day', ts)) AS n
  FROM events
), p AS (
  SELECT event_type, window_start,
         CAST(round(value * 100) AS BIGINT) AS p95_cents
  FROM r WHERE rk = CAST(ceil(0.95 * n) AS BIGINT)
), lg AS (
  SELECT *, lag(p95_cents) OVER (PARTITION BY event_type
                                 ORDER BY window_start) AS prev_cents
  FROM p
)
SELECT event_type, window_start, p95_cents, prev_cents
FROM lg WHERE prev_cents IS NOT NULL AND p95_cents * 10 >= prev_cents * 13
""",
    doc="day-over-day tail-latency regression: flag (endpoint, day) "
        "whose exact discrete p95 jumped >= 1.3x vs the previous day "
        "(integer cross-multiplication, no float ratio) — the "
        "release-regression alarm built on the same rank-percentile "
        "machinery as latency_p95_slo. Scale: the lag window runs "
        "over the (endpoint, day)-cardinality aggregate, not events",
)
def q_latency_p95_regression(spark, sf_dir):
    ev = _events(spark, sf_dir)
    p = (
        ev.select(
            "event_type",
            F.date_trunc("day", "ts").alias("window_start"),
            "value", "event_id",
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type", "window_start")
                .orderBy("value", "event_id")
            ),
        )
        .withColumn(
            "n",
            F.count(F.lit(1)).over(
                Window.partitionBy("event_type", "window_start")
            ),
        )
        .where(F.col("rk") == F.ceil(0.95 * F.col("n")).cast("long"))
        .select(
            "event_type", "window_start",
            F.round(F.col("value") * 100).cast("long").alias("p95_cents"),
        )
    )
    lw = Window.partitionBy("event_type").orderBy("window_start")
    return (
        p.withColumn("prev_cents", F.lag("p95_cents").over(lw))
        .where(
            F.col("prev_cents").isNotNull()
            & (F.col("p95_cents") * 10 >= F.col("prev_cents") * 13)
        )
    )


# ---------------------------------------------------------------------------
# Audio feature-extraction plumbing (windowed energy)


@register(
    "multimodal_audio_energy",
    """
WITH d AS (
  SELECT doc_id, text, octet_length(encode(text)) AS blen FROM documents
), n AS (
  SELECT doc_id, text, least(6, blen // 32) AS n_frames FROM d
)
SELECT doc_id,
       CAST(i AS INT) AS frame_index,
       CAST(i * 32 AS BIGINT) AS frame_offset_bytes,
       CAST(list_reduce(list_transform(range(1, 33),
              j -> ascii(substr(text, CAST(i * 32 + j AS BIGINT), 1))),
            (x, y) -> x + y) AS BIGINT) AS energy,
       CAST(list_max(list_transform(range(1, 33),
              j -> ascii(substr(text, CAST(i * 32 + j AS BIGINT), 1))))
         AS INT) AS peak
FROM n CROSS JOIN range(0, 6) r(i)
WHERE i < n_frames
""",
    doc="audio feature-extraction plumbing (`operators/multimodal.py "
        "audio_frame_energy`): windowed energy/peak over a PCM-like "
        "byte payload — the decode/feature-extract stage of an audio "
        "pipeline with the DSP front-end stubbed as unsigned-byte "
        "sums (numpy-vectorized inside Arrow batches; a deployment "
        "swaps mel filterbanks/VAD into the same mapInPandas batch "
        "contract). Full 32-byte windows only, <= 6 per doc; the "
        "oracle recomputes the exact byte sums (ASCII corpus: byte "
        "== char code). Scale: same 1->N Arrow expansion posture as "
        "frame sampling",
)
def q_multimodal_audio_energy(spark, sf_dir):
    from ..operators.multimodal import audio_frame_energy

    docs = attach_binary_payload(_docs(spark, sf_dir))
    return audio_frame_energy(docs, frame_bytes=32, max_frames=6)


# ---------------------------------------------------------------------------
# Feature-store snapshot assembly


@register(
    "user_feature_snapshot",
    """
WITH anchor AS (
  SELECT max(ts) AS a FROM events
)
SELECT user_id,
       CAST(count(*) FILTER (ts >= a - INTERVAL 7 DAYS) AS BIGINT)
         AS n_events_7d,
       CAST(count(*) AS BIGINT) AS n_events_30d,
       CAST(count(*) FILTER (event_type = 'error'
                             AND ts >= a - INTERVAL 7 DAYS) AS BIGINT)
         AS n_errors_7d,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types_30d,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents_30d,
       CAST((epoch_us(a) - epoch_us(max(ts))) // 86400000000 AS BIGINT)
         AS days_since_last
FROM events CROSS JOIN anchor
WHERE ts >= a - INTERVAL 30 DAYS
GROUP BY user_id, a
""",
    doc="feature-store snapshot assembly: per-entity trailing-window "
        "features (7d/30d counts, error counts, type variety, spend, "
        "recency) anchored at the corpus max-ts as-of point — the "
        "training-feature materialization every churn/abuse model "
        "consumes, expressed as ONE conditional-aggregation pass "
        "(filters inside aggregates, not N scans). Scale: the as-of "
        "anchor is a broadcast scalar (the one legitimate crossJoin "
        "shape); one hash-agg on user_id, partial-combinable; "
        "integer cents/day math end to end",
)
def q_user_feature_snapshot(spark, sf_dir):
    ev = _events(spark, sf_dir)
    asof = ev.agg(F.max("ts").alias("a"))
    day_us = 86_400_000_000
    return (
        ev.crossJoin(F.broadcast(asof))
        .where(F.col("ts") >= F.col("a") - F.expr("INTERVAL 30 DAYS"))
        .groupBy("user_id", "a")
        .agg(
            F.count(
                F.when(F.col("ts") >= F.col("a") - F.expr("INTERVAL 7 DAYS"), 1)
            ).cast("long").alias("n_events_7d"),
            F.count(F.lit(1)).cast("long").alias("n_events_30d"),
            F.count(
                F.when(
                    (F.col("event_type") == "error")
                    & (F.col("ts") >= F.col("a") - F.expr("INTERVAL 7 DAYS")),
                    1,
                )
            ).cast("long").alias("n_errors_7d"),
            F.countDistinct("event_type").cast("long").alias("n_types_30d"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long").alias("value_cents_30d"),
            F.expr(f"(unix_micros(a) - unix_micros(max(ts))) div {day_us}")
            .cast("long").alias("days_since_last"),
        )
        .drop("a")
    )


# ---------------------------------------------------------------------------
# Bigram PMI collocations


@register(
    "bigram_pmi_collocations",
    """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), tok AS (
  SELECT unnest(t) AS w FROM toks
), bg AS (
  SELECT unnest(list_transform(range(1, len(t)), i -> [t[i], t[i + 1]])) AS pr
  FROM toks WHERE len(t) >= 2
), pc AS (
  SELECT pr[1] AS w1, pr[2] AS w2, count(*) AS c_ab FROM bg GROUP BY 1, 2
), uc AS (
  SELECT w, count(*) AS c FROM tok GROUP BY 1
), tot AS (
  SELECT (SELECT count(*) FROM tok) AS n_tok,
         (SELECT count(*) FROM bg) AS n_big
)
SELECT w1, w2, CAST(c_ab AS BIGINT) AS pair_count,
       round((CAST(c_ab AS DOUBLE) * n_tok * n_tok)
             / (CAST(a.c AS DOUBLE) * b.c * n_big), 6) AS lift
FROM pc JOIN uc a ON w1 = a.w JOIN uc b ON w2 = b.w CROSS JOIN tot
WHERE c_ab >= 5
ORDER BY lift DESC, w1, w2 LIMIT 50
""",
    doc="collocation mining: top-50 adjacent-token bigrams by PMI "
        "LIFT p(a,b)/(p(a)p(b)) with min support 5 — the corpus "
        "statistic behind phrase vocabularies (wordpiece joins, "
        "multi-word tokens) and boilerplate phrase discovery. The "
        "lift RATIO replaces log-PMI deliberately: it is the same "
        "ranking (log is monotone) computed as one division of exact "
        "int64 counts in DOUBLE space (left-assoc products, "
        "round 1e-6) — no libm log whose last-ulp can differ across "
        "engines. Scale: two hash-aggs (bigram + unigram counts, "
        "both partial-aggregatable), unigram attach via plain joins "
        "(AQE broadcasts the vocab side when it fits; at web-corpus "
        "vocab sizes they become shuffle joins on the word key, "
        "which is the correct plan), totals as a broadcast scalar, "
        "top-50 via TakeOrderedAndProject — never a global sort",
)
def q_bigram_pmi_collocations(spark, sf_dir):
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    tok = docs.select(
        F.col("doc_id"), F.posexplode(tokens(F.col("text"))).alias("pos", "w")
    )
    lead_w = W.partitionBy("doc_id").orderBy("pos")
    bg = (
        tok.select(
            F.col("w").alias("w1"), F.lead("w", 1).over(lead_w).alias("w2")
        )
        .where(F.col("w2").isNotNull())
    )
    pc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    uc = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(
        F.count(F.lit(1)).alias("n_tok"),
    ).crossJoin(bg.agg(F.count(F.lit(1)).alias("n_big")))
    return (
        pc.where(F.col("c_ab") >= 5)
        .join(uc.select(F.col("w").alias("w1"), F.col("c").alias("__ca")), "w1")
        .join(uc.select(F.col("w").alias("w2"), F.col("c").alias("__cb")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2", F.col("c_ab").cast("long").alias("pair_count"),
            F.round(
                (F.col("c_ab").cast("double") * F.col("n_tok") * F.col("n_tok"))
                / (F.col("__ca").cast("double") * F.col("__cb") * F.col("n_big")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Token Simpson concentration index


@register(
    "token_simpson_index",
    """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
  FROM documents
), tc AS (
  SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2
), agg AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(c * (c - 1)) AS BIGINT) AS coincide
  FROM tc GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round(CAST(coincide AS DOUBLE) / (n_tokens * (n_tokens - 1)), 6)
         AS simpson
FROM agg
WHERE n_tokens >= 2
  AND CAST(coincide AS DOUBLE) / (n_tokens * (n_tokens - 1)) >= 0.05
""",
    doc="per-doc token Simpson concentration sum c(c-1)/(T(T-1)) — the "
        "probability two random token draws coincide; a repetition/"
        "low-diversity quality flag (the rational twin of entropy: "
        "pure int64 sums, ONE double division, no libm log — exact "
        "cross-engine by construction). Docs over 0.05 are "
        "repetitive-vocabulary outliers a pretraining filter drops. "
        "Scale: two partial-aggregatable hash-aggs keyed by "
        "(doc, token) then doc; the token explode never crosses a "
        "second shuffle",
)
def q_token_simpson_index(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    tc = (
        docs.select(
            F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("w")
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = tc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("coincide"),
    )
    simpson = F.col("coincide").cast("double") / (
        F.col("n_tokens") * (F.col("n_tokens") - 1)
    )
    return (
        agg.where((F.col("n_tokens") >= 2) & (simpson >= 0.05))
        .select(
            "doc_id", "n_tokens", F.round(simpson, 6).alias("simpson")
        )
    )


# ---------------------------------------------------------------------------
# Duplicate n-gram fraction


@register(
    "duplicate_ngram_fraction",
    """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
  FROM toks WHERE len(t) >= 3
), freq AS (
  SELECT shingle, count(*) AS nd FROM sh GROUP BY shingle
), j AS (
  SELECT s.doc_id,
         count(*) AS n_shingles,
         count(*) FILTER (WHERE f.nd > 1) AS dup_shingles
  FROM sh s JOIN freq f USING (shingle) GROUP BY s.doc_id
)
SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(dup_shingles AS BIGINT) AS dup_shingles,
       round(CAST(dup_shingles AS DOUBLE) / n_shingles, 6) AS dup_frac
FROM j WHERE dup_shingles > 0
""",
    doc="duplicate-n-gram fraction (Lee et al. 2022 'Deduplicating "
        "Training Data' §4 doc-level QC): per doc, the share of its "
        "DISTINCT word-3-gram shingles that also occur in another "
        "document — the metric that separates boilerplate-heavy docs "
        "from unique prose before near-dedup thresholds are chosen. "
        "Scale: ONE shuffle — corpus frequency as a count window over "
        "the shingle key, so the (expensive, per-row) shingle "
        "generation is evaluated ONCE (a freq-agg + join-back form "
        "re-evaluates the generation on both join sides: measured "
        "7.2 s vs 1.3 s at sf0.1, identical output), then a per-doc "
        "fold. No doc-x-doc pairs anywhere. Distinct shingles per doc "
        "keep hot boilerplate from double-counting inside one doc",
)
def q_duplicate_ngram_fraction(spark, sf_dir):
    from pyspark.sql import Window as W

    from ..functions.text import word_shingles
    from ..operators.skew import spread

    docs = spread(_docs(spark, sf_dir))
    sh = docs.select(
        F.col("doc_id"),
        F.explode(word_shingles(F.col("text"), 3)).alias("shingle"),
    )
    nd = F.count(F.lit(1)).over(W.partitionBy("shingle"))
    j = (
        sh.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("nd") > 1, 1)).alias("dup_shingles"),
        )
    )
    return (
        j.where(F.col("dup_shingles") > 0)
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.col("dup_shingles").cast("long").alias("dup_shingles"),
            F.round(
                F.col("dup_shingles").cast("double") / F.col("n_shingles"), 6
            ).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-window multi-burn-rate SLO alert


@register(
    "slo_multiwindow_burn",
    """
WITH base AS (
  SELECT CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) AS source_k,
         date_trunc('hour', ts) AS hour_start,
         date_trunc('day', ts) AS day_start,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
  FROM events
), hourly AS (
  SELECT source_k, hour_start, min(day_start) AS day_start,
         CAST(count(*) AS BIGINT) AS h_events,
         CAST(sum(is_err) AS BIGINT) AS h_errors
  FROM base GROUP BY source_k, hour_start
), daily AS (
  SELECT source_k, day_start,
         CAST(count(*) AS BIGINT) AS d_events,
         CAST(sum(is_err) AS BIGINT) AS d_errors
  FROM base GROUP BY source_k, day_start
)
SELECT h.source_k, h.hour_start,
       h.h_events, h.h_errors,
       CAST(h.h_errors * 1000000 // h.h_events AS BIGINT) AS hour_err_ppm,
       CAST(d.d_errors * 1000000 // d.d_events AS BIGINT) AS day_err_ppm
FROM hourly h JOIN daily d
  ON d.source_k = h.source_k AND d.day_start = h.day_start
WHERE h.h_errors * 1000000 // h.h_events >= 60000
  AND d.d_errors * 1000000 // d.d_events >= 30000
""",
    doc="multi-window multi-burn-rate SLO alert (Google SRE workbook "
        "ch.5, public methodology): page only when BOTH the short "
        "(1h, burn >= 6x of a 1% budget) and the long (1d, burn >= "
        "3x) windows are burning — the short window gates paging "
        "latency, the long window suppresses one-spike flap. "
        "Complements `error_budget_burn` (cumulative curve) and "
        "`latency_p95_slo` (latency leg). Pure integer ppm "
        "arithmetic. Scale: two partial-aggregatable hash-aggs over "
        "one scan joined on (service, day) — hour rows are "
        "day-cardinality x 24, both sides tiny after the agg",
)
def q_slo_multiwindow_burn(spark, sf_dir):
    ev = _events(spark, sf_dir)
    base = ev.select(
        F.regexp_extract("props", r"([0-9]+)", 1).cast("int")
        .alias("source_k"),
        F.date_trunc("hour", "ts").alias("hour_start"),
        F.date_trunc("day", "ts").alias("day_start"),
        F.when(F.col("event_type") == "error", 1).otherwise(0)
        .alias("is_err"),
    )
    hourly = base.groupBy("source_k", "hour_start").agg(
        F.min("day_start").alias("day_start"),
        F.count(F.lit(1)).cast("long").alias("h_events"),
        F.sum("is_err").cast("long").alias("h_errors"),
    )
    daily = base.groupBy("source_k", "day_start").agg(
        F.count(F.lit(1)).cast("long").alias("d_events"),
        F.sum("is_err").cast("long").alias("d_errors"),
    )
    h_ppm = F.expr("h_errors * 1000000 div h_events")
    d_ppm = F.expr("d_errors * 1000000 div d_events")
    return (
        hourly.join(daily, ["source_k", "day_start"])
        .where((h_ppm >= 60000) & (d_ppm >= 30000))
        .select(
            "source_k", "hour_start", "h_events", "h_errors",
            h_ppm.cast("long").alias("hour_err_ppm"),
            d_ppm.cast("long").alias("day_err_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Burstiness (Fano factor) per user


@register(
    "burstiness_fano_factor",
    """
WITH hrs AS (
  SELECT user_id, epoch_us(ts) // 3600000000 AS h, count(*) AS c
  FROM events GROUP BY 1, 2
), agg AS (
  SELECT user_id,
         CAST(max(h) - min(h) + 1 AS BIGINT) AS n_hours,
         CAST(sum(c) AS BIGINT) AS n_events,
         CAST(sum(c * c) AS BIGINT) AS sq
  FROM hrs GROUP BY user_id
)
SELECT user_id, n_hours, n_events,
       round(CAST(n_hours * sq - n_events * n_events AS DOUBLE)
             / (n_hours * n_events), 6) AS fano
FROM agg
WHERE n_hours >= 24
  AND CAST(n_hours * sq - n_events * n_events AS DOUBLE)
      / (n_hours * n_events) > 1.0
""",
    doc="per-user burstiness via the Fano factor (variance-to-mean of "
        "hourly event counts over the user's active span, empty hours "
        "included): Fano > 1 = overdispersed/bursty (bot bursts, "
        "scraping sessions), ~1 = Poisson-like organic traffic. The "
        "zero-fill is ARITHMETIC, not a generated time series: empty "
        "hours contribute nothing to sum(c) or sum(c^2), so "
        "Var/mean = (n_h*Q - S^2)/(n_h*S) over the span length alone "
        "— no sequence() explode, no join. One hash-agg to "
        "(user, hour), one to user; single double division at the "
        "end (int64 sums exact cross-engine)",
)
def q_burstiness_fano_factor(spark, sf_dir):
    ev = _events(spark, sf_dir)
    hrs = (
        ev.select(
            "user_id",
            F.expr("unix_micros(ts) div 3600000000").alias("h"),
        )
        .groupBy("user_id", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = hrs.groupBy("user_id").agg(
        (F.max("h") - F.min("h") + 1).cast("long").alias("n_hours"),
        F.sum("c").cast("long").alias("n_events"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sq"),
    )
    fano = (
        (F.col("n_hours") * F.col("sq")
         - F.col("n_events") * F.col("n_events")).cast("double")
        / (F.col("n_hours") * F.col("n_events"))
    )
    return (
        agg.where((F.col("n_hours") >= 24) & (fano > 1.0))
        .select(
            "user_id", "n_hours", "n_events", F.round(fano, 6).alias("fano")
        )
    )


# ---------------------------------------------------------------------------
# MinHash Jaccard estimator error


def _mh_est_error_oracle() -> str:
    """Wraps `catalog_data._minhash_oracle`'s candidate SELECT as a
    CTE (the `_clusters_oracle` partition trick), then scores each
    candidate pair with the 8-slot signature-agreement estimate vs
    the true distinct-shingle Jaccard — same md5-60bit shingle hash
    space on both legs, so the comparison is exact cross-engine."""
    from ..functions.text import MINHASH_P
    from .catalog_data import _minhash_oracle

    mh = _minhash_oracle()
    head, _, final = mh.partition("SELECT DISTINCT a.doc_id AS doc_a")
    pairs_select = "SELECT DISTINCT a.doc_id AS doc_a" + final
    return (
        head
        + f""", pairs AS (
{pairs_select}
), hsh AS (
  SELECT DISTINCT doc_id,
         CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)
           % {MINHASH_P} AS h
  FROM ex
), nsh AS (
  SELECT doc_id, count(*) AS n FROM hsh GROUP BY doc_id
), inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS ni
  FROM pairs p
  JOIN hsh a ON a.doc_id = p.doc_a
  JOIN hsh b ON b.doc_id = p.doc_b AND b.h = a.h
  GROUP BY 1, 2
), sigm AS (
  SELECT p.doc_a, p.doc_b, count(*) AS m
  FROM pairs p
  JOIN mh a ON a.doc_id = p.doc_a
  JOIN mh b ON b.doc_id = p.doc_b AND b.i = a.i AND b.h = a.h
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b,
       round(s.m / 8.0, 6) AS est_jaccard,
       round(CAST(COALESCE(i.ni, 0) AS DOUBLE)
             / (na.n + nb.n - COALESCE(i.ni, 0)), 6) AS true_jaccard,
       round(abs(s.m / 8.0
                 - CAST(COALESCE(i.ni, 0) AS DOUBLE)
                   / (na.n + nb.n - COALESCE(i.ni, 0))), 6) AS abs_err
FROM pairs p
JOIN sigm s ON s.doc_a = p.doc_a AND s.doc_b = p.doc_b
LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
JOIN nsh na ON na.doc_id = p.doc_a
JOIN nsh nb ON nb.doc_id = p.doc_b
"""
    )


@register(
    "minhash_jaccard_estimate_error",
    _mh_est_error_oracle(),
    doc="estimator-quality eval for the MinHash dedup path: for every "
        "LSH candidate pair, the 8-slot signature-agreement Jaccard "
        "ESTIMATE (m/8 — exact binary fraction) next to the TRUE "
        "distinct-shingle Jaccard and their absolute error — the "
        "measurement that justifies (or indicts) a chosen band/"
        "hash-count operating point before a corpus-wide dedup run. "
        "Scale: candidates come from banding (bounded bucket "
        "fan-out); the true-Jaccard leg joins pair x shingle-hash on "
        "the SHARED hash key — work is sum of candidate-pair shingle "
        "sizes, never corpus^2; signature agreement is an 8-rows-per-"
        "doc equi-join. All joins key on ids/hashes both engines "
        "compute identically (md5-60bit mod p)",
)
def q_minhash_jaccard_estimate_error(spark, sf_dir):
    from ..functions.text import MINHASH_A, MINHASH_B, MINHASH_P, md5_bucket
    from ..operators import minhash_lsh_pairs

    docs = _docs(spark, sf_dir)
    from ..operators.dedup import _shingle_arrays

    # shingles come from the map-side array kernel
    # (zero exchanges before the distinct — a window-lead form pays
    # an Exchange(doc_id) + Sort over the full token stream first).
    # The (doc_id, h) `.distinct()` STAYS: per-doc string-distinct is
    # finer than mod-P hash-distinct, so the distinct preserves the
    # exact hash-domain row set the downstream counts depend on.
    hsh = (
        _shingle_arrays(docs, "doc_id", "text", 3)
        .select("doc_id", F.explode("__ss").alias("__s"))
        .select(
            "doc_id",
            (md5_bucket(F.col("__s")) % F.lit(MINHASH_P)).alias("h"),
        )
        .distinct()
        # EAGER checkpoint — hsh has FIVE consumers (cand's banding,
        # nsh, mh, ha, hb); without the cut the plan replicated the
        # tokenize->md5 shingle pipeline NINE times (9 parquet scans,
        # zero ReusedExchange in the initial plan). Materializing the distinct hash table
        # once collapses those to one corpus pass + 8 reads of the
        # checkpoint (guide §2.4); interleaved A/B at sf0.1:
        # means 2.6 -> 2.0 s, mins 2.03 -> 1.80 s, output identical.
        .localCheckpoint(eager=True)
    )
    # the candidate leg reuses hsh's shingle hashes (min per
    # permutation is duplicate-insensitive, so the distinct hash set
    # yields the identical signature): if minhash_lsh_pairs rebuilt
    # its own corpus tokenize->md5 pipeline, the corpus shingle pass
    # would run TWICE per query (guide §2.4 — one subtree,
    # ReuseExchange serves cand + ha/hb + mh alike)
    cand = minhash_lsh_pairs(
        docs, n=3, num_hashes=8, band_size=2,
        hashed=hsh.select("doc_id", F.col("h").alias("__h")),
    )
    nsh = hsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # long-form 8-slot signature (doc_id, i, h_min)
    mh = hsh.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("i"),
                    ((F.lit(MINHASH_A[i]) * F.col("h") + F.lit(MINHASH_B[i]))
                     % F.lit(MINHASH_P)).alias("hp"),
                )
                for i in range(8)
            ])
        ).alias("s"),
    ).groupBy("doc_id", "s.i").agg(F.min("s.hp").alias("h"))
    ha = hsh.select(F.col("doc_id").alias("doc_a"), F.col("h"))
    hb = hsh.select(F.col("doc_id").alias("doc_b"), F.col("h"))
    inter = (
        cand.join(ha, "doc_a").join(hb, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    ma = mh.select(F.col("doc_id").alias("doc_a"), "i", "h")
    mb = mh.select(F.col("doc_id").alias("doc_b"), "i", "h")
    sigm = (
        cand.join(ma, "doc_a").join(mb, ["doc_b", "i", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    est = F.col("m") / F.lit(8.0)
    true_j = F.coalesce(F.col("ni"), F.lit(0)).cast("double") / (
        F.col("na") + F.col("nb") - F.coalesce(F.col("ni"), F.lit(0))
    )
    return (
        cand.join(sigm, ["doc_a", "doc_b"])
        .join(inter, ["doc_a", "doc_b"], "left")
        .join(nsh.select(F.col("doc_id").alias("doc_a"),
                         F.col("n").alias("na")), "doc_a")
        .join(nsh.select(F.col("doc_id").alias("doc_b"),
                         F.col("n").alias("nb")), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(est, 6).alias("est_jaccard"),
            F.round(true_j, 6).alias("true_jaccard"),
            F.round(F.abs(est - true_j), 6).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# Banded near-dup pair RECALL eval


def _neardup_recall_oracle() -> str:
    """Mirrors the Spark leg exactly: the same augmented corpus
    (prefix-truncation variants), the same exact-Jaccard truth set
    (shingle equi-join, df_cap 64), the same minhash banding
    (catalog_data._minhash_oracle's math) and the same 60-bit/3-band
    simhash path (catalog_data._simhash_fp_cte's math)."""
    from ..functions.text import MINHASH_A, MINHASH_B, MINHASH_P
    from .catalog_data import _SIMHASH_PAIR_BITS, _SIMHASH_PAIR_MAXHAM

    a = ", ".join(str(v) for v in MINHASH_A[:8])
    b = ", ".join(str(v) for v in MINHASH_B[:8])
    return f"""
WITH base AS (
  SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS t
  FROM documents
), sel AS (
  SELECT * FROM base WHERE doc_id % 10 = 0 AND len(t) >= 24
), aug AS (
  SELECT doc_id * 10 AS doc_id, text FROM sel
  UNION ALL
  SELECT b.doc_id * 10 + v.i AS doc_id,
         array_to_string(
           list_slice(b.t, 1, len(b.t) - v.i * (len(b.t) // 8)), ' ') AS text
  FROM sel b CROSS JOIN range(1, 5) v(i)
), toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM aug
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
  FROM toks WHERE len(t) >= 3
), ex AS (
  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh
), kept AS (
  SELECT shingle FROM ex GROUP BY shingle HAVING count(*) BETWEEN 2 AND 64
), truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN kept k ON a.shingle = k.shingle
  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
  HAVING count(*) / (a.n_sh + b.n_sh - count(*)) >= 0.5
), mh AS (
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
), cand_mh AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
), tok2 AS (
  SELECT doc_id, unnest(t) AS tk FROM toks
), th AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(tk), 1, {(_SIMHASH_PAIR_BITS + 3) // 4})
              AS BIGINT) AS th
  FROM tok2
), bits AS (
  SELECT doc_id, i,
         CASE WHEN sum(CASE WHEN (th // (CAST(1 AS BIGINT) << i)) % 2 = 1
                            THEN 1 ELSE -1 END) > 0
              THEN (CAST(1 AS BIGINT) << i) ELSE 0 END AS bitval
  FROM th CROSS JOIN range(0, {_SIMHASH_PAIR_BITS}) r(i)
  GROUP BY doc_id, i
), fp AS (
  SELECT doc_id, sum(bitval)::BIGINT AS shh FROM bits GROUP BY doc_id
), cand_sh AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.shh, b.shh)) <= {_SIMHASH_PAIR_MAXHAM}
), nt AS (
  SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth
), caught_mh AS (
  SELECT CAST(count(*) AS BIGINT) AS n_caught FROM truth t
  SEMI JOIN cand_mh c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
), caught_sh AS (
  SELECT CAST(count(*) AS BIGINT) AS n_caught FROM truth t
  SEMI JOIN cand_sh c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT 'minhash_lsh' AS method, nt.n_true, c.n_caught,
       CAST(CASE WHEN nt.n_true = 0 THEN 0
                 ELSE c.n_caught * 1000000 // nt.n_true END AS BIGINT)
         AS recall_ppm
FROM caught_mh c CROSS JOIN nt
UNION ALL
SELECT 'simhash_banded' AS method, nt.n_true, c.n_caught,
       CAST(CASE WHEN nt.n_true = 0 THEN 0
                 ELSE c.n_caught * 1000000 // nt.n_true END AS BIGINT)
         AS recall_ppm
FROM caught_sh c CROSS JOIN nt
"""


@register(
    "neardup_pair_recall",
    _neardup_recall_oracle(),
    doc="pair-RECALL eval of the two banded near-dup paths against "
        "the exact all-pairs answer — the operating-point check a "
        "100-TB dedup run does on a bounded eval slice before "
        "committing the full corpus. The eval corpus is the documents "
        "table plus 4 prefix-truncation variants (drop i/8 of the "
        "tokens, i=1..4) of every 10th doc with >= 24 tokens — a "
        "deterministic near-dup ladder whose true Jaccard spans "
        "~0.5..0.95, so banded recall is strictly between 0 and 1 "
        "(not a vacuous all-caught corpus). TRUTH = exact word-3-gram "
        "Jaccard >= 0.5 via the shingle equi-join (exhaustive: a "
        "pair at 0.5 necessarily shares shingles; df_cap 64 applied "
        "identically in the oracle). Candidates: (a) MinHash 8-perm / "
        "4x2 banding — probabilistic, recall < 1 by design at grazing "
        "Jaccard; (b) SimHash 60-bit/3-band hamming <= 2 — exact for "
        "its OWN hamming criterion but a much stricter notion of "
        "near-dup, so its Jaccard-truth recall is low (the number "
        "that tells an operator which family fits their threshold). "
        "recall_ppm is integer ppm (engine-exact). Scale: truth leg "
        "is the bounded-eval exception (eval slices are sampled at "
        "100 TB); both candidate legs are the production banded "
        "plans; truth is eagerly checkpointed once (3 consumers)",
)
def q_neardup_pair_recall(spark, sf_dir):
    from ..operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_hamming_pairs,
    )
    from .catalog_data import _SIMHASH_PAIR_BANDS as _SB
    from .catalog_data import _SIMHASH_PAIR_BITS as _SBITS
    from .catalog_data import _SIMHASH_PAIR_MAXHAM as _SHAM

    docs = _docs(spark, sf_dir)
    t = tokens(F.col("text"))
    # the eval SLICE: every 10th doc with >= 24 tokens, plus its
    # 4-variant truncation ladder — the bounded sampled-eval posture
    # (at 100 TB truth is exact over a sampled slice, never the
    # corpus; the candidate plans under test are unchanged)
    sel = docs.where((F.col("doc_id") % 10 == 0) & (F.size(t) >= 24)).select(
        "doc_id", "text", t.alias("__t")
    )
    base = sel.select((F.col("doc_id") * 10).alias("doc_id"), "text")
    variants = (
        sel.select(
            "doc_id", "__t",
            F.explode(F.array(*[F.lit(i) for i in (1, 2, 3, 4)])).alias("__i"),
        )
        .select(
            (F.col("doc_id") * 10 + F.col("__i")).alias("doc_id"),
            F.array_join(
                F.expr("slice(__t, 1, size(__t) - __i * (size(__t) div 8))"),
                " ",
            ).alias("text"),
        )
    )
    # the eval corpus feeds THREE independent leg pipelines (truth
    # shingle join, minhash banding, simhash banding); un-checkpointed,
    # each leg re-scans documents and re-tokenizes the slice (tokens()
    # evaluates in the filter AND the projection), so the slice build
    # ran 3x per query (the eager cut here measured 5.99 -> 4.42 s
    # steady at sf0.1, identical output — guide §2.4, one pass instead
    # of three over the same subtree)
    aug = base.unionByName(variants).localCheckpoint()
    # truth has THREE consumers (n_true agg + two semijoins) but is
    # NOT checkpointed: all three legs live in one final plan, so
    # ReuseExchange serves the shared shingle-join subtree (an eager
    # checkpoint costs a full extra job)
    truth = (
        ngram_jaccard_pairs(aug, n=3, threshold=0.5, df_cap=64)
        .select("doc_a", "doc_b")
    )
    n_true = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    cand_mh = minhash_lsh_pairs(aug, n=3, num_hashes=8, band_size=2)
    cand_sh = simhash_hamming_pairs(
        aug, bits=_SBITS, bands=_SB, max_hamming=_SHAM
    ).select("doc_a", "doc_b")

    def leg(method: str, cand):
        caught = (
            truth.join(cand, ["doc_a", "doc_b"], "left_semi")
            .agg(F.count(F.lit(1)).cast("long").alias("n_caught"))
        )
        return caught.crossJoin(F.broadcast(n_true)).select(
            F.lit(method).alias("method"),
            "n_true",
            "n_caught",
            F.when(F.col("n_true") == 0, F.lit(0))
            .otherwise(F.expr("n_caught * 1000000 div n_true"))
            .cast("long")
            .alias("recall_ppm"),
        )

    return leg("minhash_lsh", cand_mh).unionByName(
        leg("simhash_banded", cand_sh)
    )
