"""Catalog tranche: corpus-curation and graph additions —
deterministic per-key sampling, an LM-typicality (perplexity-proxy)
quality filter, DSIR-style importance weights, BM25 retrieval,
n-gram novelty, canonical-doc selection over dedup clusters, k-core
decomposition, blocked record linkage, rendezvous (HRW) shard
assignment, exact autocorrelation, and tokenizer fertility.

These fill the remaining training-data-pipeline surface: selection
(DSIR, typicality), retrieval (BM25 — the sparse half of the RAG
stack next to the ANN family), curation actions (canonical pick per
duplicate cluster, per-key sampling caps), corpus diagnostics
(novelty, fertility, autocorrelation), and infrastructure (stable
shard assignment with minimal rebalance disruption).

Determinism discipline (the catalog standard): ratios are integer
ppm via `div`, hashes are md5 (engine-portable: Spark
`conv(substr(md5,..),16,10)` == DuckDB `CAST('0x'||substr(md5,..) AS
BIGINT)`), every ordering carries an id tie-break, every aggregate is
cast to BIGINT on both engines.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..session import load_tables
from .catalog import register
# the copurchase edge support threshold is SHARED with the oracle SQL
# below (kcore's pairs CTE, khop's pairs CTE) and with the
# catalog_mining copurchase family: one constant, no silent divergence
# if a caller passes a different min_supp
from .catalog_mining import _MIN_PAIR_SUPP, _baskets, _supported_pairs


def _docs(spark, sf_dir):
    return load_tables(spark, sf_dir, "documents")["documents"]


def _events(spark, sf_dir):
    return load_tables(spark, sf_dir, "events")["events"]


def _t(spark, sf_dir, name):
    return load_tables(spark, sf_dir, name)[name]


# ---------------------------------------------------------------------------
# Deterministic per-key sample cap


@register(
    "reservoir_sample_per_key",
    """
WITH r AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
SELECT source, doc_id, n_chars, CAST(rk AS BIGINT) AS sample_rank
FROM r WHERE rk <= 10
""",
    doc="deterministic k-per-key sample (the distributed equivalent "
        "of per-key reservoir sampling, and the per-source CAP a "
        "mixture build applies before weighting): rank docs within "
        "each source by md5(doc_id) — a uniform, seed-free draw that "
        "is reproducible across engines and across runs — and keep "
        "the first k=10. Unlike `stratified_sample`'s rate-based "
        "md5-draw (keep p%%), this bounds the COUNT per key exactly. "
        "Scale: one shuffle on the key; the rank window never sees "
        "more than one key's rows per partition, and at 100 TB the "
        "same plan caps per-domain/per-host contributions without a "
        "global sort",
)
def q_reservoir_sample_per_key(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select(
            "source", "doc_id", "n_chars",
            F.row_number().over(w).cast("long").alias("sample_rank"),
        )
        .where(F.col("sample_rank") <= 10)
    )


# ---------------------------------------------------------------------------
# LM-typicality quality filter (perplexity proxy, exact integers)


@register(
    "lm_typicality_filter",
    """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok
  FROM documents
), bg AS (
  SELECT doc_id, tok[i] || chr(2) || tok[i + 1] AS bigram
  FROM (SELECT doc_id, tok, unnest(range(1, len(tok))) AS i FROM t)
), lm AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY bigram
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM bg
), scored AS (
  SELECT b.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(lm.c) AS BIGINT) AS mass
  FROM bg b JOIN lm ON b.bigram = lm.bigram
  GROUP BY b.doc_id
)
SELECT s.doc_id, s.n_bigrams,
       CAST(s.mass * 1000000 // (s.n_bigrams * tot.n) AS BIGINT)
         AS typicality_ppm,
       CAST(s.mass * 1000000 // (s.n_bigrams * tot.n) AS BIGINT) < 900
         AS flagged_atypical
FROM scored s CROSS JOIN tot
""",
    doc="LM-typicality quality filter — the log-free surrogate for "
        "perplexity gating (the standard 'train a small LM on the "
        "corpus, drop documents the LM finds surprising' selection "
        "step, CCNet/Gopher-style): a word-bigram LM is the corpus's "
        "own bigram counts; a doc's typicality is the mean corpus "
        "probability of its bigrams, exact-integer ppm = "
        "sum(count[bigram]) * 1e6 div (doc_bigrams * total_bigrams). "
        "No ln() anywhere, so the oracle hash-matches on any engine "
        "(the `oov_rate_filter` precedent, one level deeper than "
        "vocabulary presence). Scale: bigram explode is map-side; "
        "the LM is one hash-agg; scoring joins the doc's bigrams to "
        "the LM and re-aggregates per doc. The LM table is "
        "vocabulary-sized and BROADCASTS when bounded — which is "
        "also the skew defense: a shuffle join lands millions of "
        "exploded rows on a few hundred bigram keys (measured "
        "166 s -> 3 s at sf0.1); an unbounded vocab falls back to "
        "the shuffle join with AQE skew-split",
)
def q_lm_typicality_filter(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    toked = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    bg = toked.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), i -> concat("
                "element_at(t, i), char(2), element_at(t, i + 1)))"
            )
        ).alias("bigram"),
    )
    lm = bg.groupBy("bigram").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).cache()
    # the LM is vocabulary-sized; on a bounded vocab it broadcasts,
    # which ALSO sidesteps the skew a shuffle join has here (millions
    # of exploded rows landing on a few hundred bigram keys — measured
    # 166 s at sf0.1 vs ~3 s broadcast). Unbounded vocab keeps the
    # shuffle join and leans on AQE's skew split.
    lm_dim = F.broadcast(lm) if lm.count() <= 2_000_000 else lm
    # total bigram mass from the (cached, tiny) LM — not a third pass
    # over the exploded stream
    total = lm.agg(F.sum("c").cast("long").alias("n"))
    scored = (
        bg.join(lm_dim, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("c").cast("long").alias("mass"),
        )
    )
    ppm = F.expr("mass * 1000000 div (n_bigrams * n)").cast("long")
    return scored.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_bigrams",
        ppm.alias("typicality_ppm"),
        (ppm < 900).alias("flagged_atypical"),
    )


# ---------------------------------------------------------------------------
# Rendezvous (HRW) shard assignment


_N_SHARDS = 8


@register(
    "consistent_hash_assignment",
    f"""
WITH shards AS (
  SELECT 'shard' || CAST(i AS VARCHAR) AS shard
  FROM range(0, {_N_SHARDS}) r(i)
), scored AS (
  SELECT d.doc_id, s.shard,
         md5(CAST(d.doc_id AS VARCHAR) || ':' || s.shard) AS w
  FROM documents d CROSS JOIN shards s
), owner AS (
  SELECT doc_id, shard,
         row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, shard)
           AS rn
  FROM scored
), owner7 AS (
  SELECT doc_id, shard,
         row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, shard)
           AS rn
  FROM scored WHERE shard <> 'shard{_N_SHARDS - 1}'
)
SELECT o.shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN o.shard <> o7.shard THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved_on_removal
FROM (SELECT doc_id, shard FROM owner WHERE rn = 1) o
JOIN (SELECT doc_id, shard FROM owner7 WHERE rn = 1) o7 USING (doc_id)
GROUP BY o.shard
""",
    doc="rendezvous / highest-random-weight shard assignment "
        "(Thaler-Ravishankar 1998 — the consistent-hashing scheme "
        "that needs no ring state): owner(doc) = argmax over shards "
        "of md5(doc:shard). Emits per-shard load AND the "
        "minimal-disruption readout: recomputing ownership with the "
        "last shard removed must move ONLY the docs it owned "
        "(expected 1/N of the corpus) — the property that makes HRW "
        "the right way to assign 100 TB of parquet to a changing "
        "worker fleet. Exact: md5 hex compares lexicographically "
        "identically in both engines. Scale: the shard list is a "
        "constant broadcast (N rows); scoring is map-side; the "
        "argmax window partitions by doc_id (the natural key, no "
        "skew); output is shard-cardinality",
)
def q_consistent_hash_assignment(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    spark_ = docs.sparkSession
    shards = spark_.createDataFrame(
        [(f"shard{i}",) for i in range(_N_SHARDS)], "shard string"
    )
    scored = docs.crossJoin(F.broadcast(shards)).select(
        "doc_id",
        "shard",
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                     F.col("shard"))
        ).alias("w"),
    )
    w_all = Window.partitionBy("doc_id").orderBy(
        F.col("w").desc(), F.col("shard")
    )
    owner = (
        scored.withColumn("rn", F.row_number().over(w_all))
        .where(F.col("rn") == 1)
        .select("doc_id", "shard")
    )
    owner7 = (
        scored.where(F.col("shard") != f"shard{_N_SHARDS - 1}")
        .withColumn("rn", F.row_number().over(w_all))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("shard").alias("shard7"))
    )
    return (
        owner.join(owner7, "doc_id")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("shard") != F.col("shard7"), 1).otherwise(0)
            ).cast("long").alias("n_moved_on_removal"),
        )
    )


# ---------------------------------------------------------------------------
# Exact autocorrelation of the daily event-count series


def _acf_oracle() -> str:
    legs = "\nUNION ALL ".join(
        f"SELECT CAST({n} AS BIGINT) AS lag_n, c AS x,\n"
        f"       lead(c, {n}) OVER (ORDER BY d) AS y FROM daily"
        for n in range(1, 8)
    )
    return f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
), lagged AS (
{legs}
)
SELECT lag_n,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(x) AS BIGINT) AS sum_x,
       CAST(sum(y) AS BIGINT) AS sum_y,
       CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT)
         AS acf_numerator
FROM lagged WHERE y IS NOT NULL
GROUP BY lag_n
"""


@register(
    "autocorrelation_lags",
    _acf_oracle(),
    doc="exact autocorrelation structure of the daily volume series, "
        "lags 1..7 (the seasonality detector behind capacity planning "
        "and the drift monitors): for each lag the Pearson NUMERATOR "
        "n*sum(xy) - sum(x)*sum(y) over (count_t, count_t+lag) pairs, "
        "kept as exact BIGINTs — no sqrt, so no float divergence; a "
        "positive lag-7 numerator against a negative lag-3 one reads "
        "weekly seasonality directly. Scale: the daily series is ONE "
        "hash-agg over events (date-cardinality result); the 7 "
        "lagged copies and their windows run over days x 7 rows — "
        "the deliberately tiny table, like the vocab-growth bucket "
        "window",
)
def q_autocorrelation_lags(spark, sf_dir):
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # lead() needs a constant offset, so the 7 lags are 7 window legs
    # over the SAME (tiny, date-cardinality) daily table, unioned —
    # the oracle is written with the identical 7-leg UNION ALL
    legs = []
    for n in range(1, 8):
        wn = Window.orderBy("d")
        legs.append(
            daily.select(
                F.lit(n).cast("long").alias("lag_n"),
                F.col("c").alias("x"),
                F.lead("c", n).over(wn).alias("y"),
            )
        )
    un = legs[0]
    for leg in legs[1:]:
        un = un.unionByName(leg)
    return (
        un.where(F.col("y").isNotNull())
        .groupBy("lag_n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("x").cast("long").alias("sum_x"),
            F.sum("y").cast("long").alias("sum_y"),
            (
                F.count(F.lit(1)) * F.sum(F.col("x") * F.col("y"))
                - F.sum("x") * F.sum("y")
            ).cast("long").alias("acf_numerator"),
        )
    )


# ---------------------------------------------------------------------------
# Blocked record linkage (entity resolution with blocking)


@register(
    "record_linkage_blocking",
    """
WITH c AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer
)
SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
       a.c_nationkey AS nationkey, a.c_mktsegment AS mktsegment,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS name_dist
FROM c a JOIN c b
  ON a.c_nationkey = b.c_nationkey
 AND a.c_mktsegment = b.c_mktsegment
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
""",
    doc="record linkage with BLOCKING — the entity-resolution "
        "workhorse (Fellegi-Sunter pipelines, dedupe.io, Splink all "
        "start here): candidate pairs only within a blocking key "
        "(nation x market segment), then an edit-distance match rule "
        "(levenshtein <= 2 — identical DP semantics in Spark and "
        "DuckDB). The equi-join on the block key bounds the pair "
        "space; the operator carries an EXACT hot-block "
        "guard (operators/dedup.py edit_distance_pairs_blocked): when "
        "the density-aware work budget trips (a 10x step-up measured "
        "683.6 s at 10x — 125 uniformly dense blocks, no single one "
        "'hot' by row count), blocks switch to deletion-neighborhood "
        "candidate generation (FastSS: lev<=2 pairs MUST share a "
        "<=2-deletion variant, so recall is 1.0 by construction) with "
        "the same exact verify — identical output, linear candidate "
        "keys instead of quadratic pairs. The oracle therefore holds "
        "at EVERY density, unlike a banded/approximate guard",
)
def q_record_linkage_blocking(spark, sf_dir):
    from ..operators.dedup import edit_distance_pairs_blocked

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    return edit_distance_pairs_blocked(
        c,
        block_cols=["c_nationkey", "c_mktsegment"],
        id_col="c_custkey",
        name_col="c_name",
        max_dist=2,
        # sf0.01 (18k pairs) and sf0.1 (1.8M) stay on the all-pairs
        # join; the 10x step-up (180M) reroutes to deletion variants
        work_budget_pairs=50_000_000,
    ).select(
        F.col("id_a").alias("cust_a"),
        F.col("id_b").alias("cust_b"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        "name_dist",
    )


# ---------------------------------------------------------------------------
# N-gram novelty (corpus-order information gain per doc)


@register(
    "ngram_novelty_score",
    """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok
  FROM documents
), bg AS (
  SELECT DISTINCT doc_id, tok[i] || chr(2) || tok[i + 1] AS bigram
  FROM (SELECT doc_id, tok, unnest(range(1, len(tok))) AS i FROM t)
), first_seen AS (
  SELECT bigram, min(doc_id) AS first_doc FROM bg GROUP BY bigram
)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
       CAST(sum(CASE WHEN f.first_doc = b.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST(sum(CASE WHEN f.first_doc = b.doc_id THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS novelty_ppm
FROM bg b JOIN first_seen f ON b.bigram = f.bigram
GROUP BY b.doc_id
""",
    doc="per-document n-gram novelty in ingestion order — the "
        "'information gain' curation signal (docs contributing no "
        "bigram the corpus hasn't already seen are redundancy "
        "candidates even when no single duplicate exists; the "
        "streaming form gates ingestion the way vocab_growth_curve "
        "reads the corpus-level curve): novelty_ppm = fraction of "
        "the doc's DISTINCT bigrams whose corpus-wide first "
        "occurrence (min doc_id) is this doc. Exact integers. "
        "Scale: one distinct-explode, one min() hash-agg on the "
        "bigram key, one join back on the same key, one per-doc "
        "re-agg — the lm_typicality shuffle shape; nothing global",
)
def q_ngram_novelty_score(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    toked = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    bg = toked.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), i -> concat("
                "element_at(t, i), char(2), element_at(t, i + 1)))"
            )
        ).alias("bigram"),
    ).distinct()
    first_seen = bg.groupBy("bigram").agg(
        F.min("doc_id").alias("first_doc")
    ).cache()
    # same vocabulary-sized-dim reasoning as lm_typicality_filter:
    # broadcast when bounded (skew defense), shuffle join + AQE otherwise
    fs_dim = (
        F.broadcast(first_seen)
        if first_seen.count() <= 2_000_000 else first_seen
    )
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        bg.join(fs_dim, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_bigrams"),
            novel.cast("long").alias("n_novel"),
            F.expr(
                "cast(sum(case when first_doc = doc_id then 1 else 0 end)"
                " * 1000000 div count(1) as bigint)"
            ).alias("novelty_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weights (hashed-ngram target/source ratio)


_DSIR_BUCKETS = 64


@register(
    "dsir_importance_weights",
    f"""
WITH tok AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(trim(text), '\\s+')) AS w
  FROM documents
), feat AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % {_DSIR_BUCKETS}
           AS bucket
  FROM tok
), src AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS s FROM feat GROUP BY bucket
), tgt AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS t
  FROM feat WHERE lang = 'en' GROUP BY bucket
), ratio AS (
  SELECT src.bucket,
         CAST((coalesce(tgt.t, 0) + 1) * 1000000
              // (src.s + {_DSIR_BUCKETS}) AS BIGINT) AS r_ppm
  FROM src LEFT JOIN tgt ON src.bucket = tgt.bucket
)
SELECT f.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(r.r_ppm) // count(*) AS BIGINT) AS importance_ppm
FROM feat f JOIN ratio r ON f.bucket = r.bucket
GROUP BY f.doc_id
""",
    doc="DSIR-style importance weights (Xie et al. 2023, Data "
        "Selection via Importance Resampling): hashed word features "
        "(md5 -> 64 buckets), per-bucket "
        "add-one-smoothed target/source probability ratio (target = "
        "the English slice standing in for the high-quality domain), "
        "per-doc weight = mean bucket ratio over its tokens — the "
        "signal importance resampling draws against. Exact-integer "
        "ppm with add-one smoothing, no logs (the ratio ORDERING is "
        "what resampling consumes, and div preserves it). Scale: "
        "feature hashing is map-side; the bucket tables are "
        "64 rows (broadcast); scoring is one hash-agg "
        "per doc — the exact shape DSIR runs at corpus scale",
)
def q_dsir_importance_weights(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    # aggregate BEFORE the shuffles (guide §2.3). Feeding the exploded
    # token table to three independent consumers (src/tgt histograms
    # + the per-doc mean) sends every token row through three
    # exchanges and runs the tokenize+md5 pass three times. Counting per (doc_id, lang, bucket) first caps the
    # relation at 64 rows/doc, lets the partial (map-side) aggregate
    # shrink the one remaining wide exchange, and the identical
    # subtree under all three consumers collapses to a single shared
    # shuffle at runtime (ReuseExchange). Values are unchanged
    # exactly: sum(r_ppm) over tokens == sum(cnt * r_ppm) and
    # count(1) == sum(cnt), all integer arithmetic.
    feat = (
        docs.select(
            "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("w")
        )
        .select(
            "doc_id",
            "lang",
            (
                F.expr(
                    "cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint)"
                )
                % _DSIR_BUCKETS
            ).alias("bucket"),
        )
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    src = feat.groupBy("bucket").agg(
        F.sum("cnt").cast("long").alias("s")
    )
    tgt = feat.where(F.col("lang") == "en").groupBy("bucket").agg(
        F.sum("cnt").cast("long").alias("t")
    )
    ratio = (
        src.join(tgt, "bucket", "left")
        .select(
            "bucket",
            F.expr(
                f"cast((coalesce(t, 0) + 1) * 1000000 "
                f"div (s + {_DSIR_BUCKETS}) as bigint)"
            ).alias("r_ppm"),
        )
    )
    return (
        feat.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.expr(
                "cast(sum(cnt * r_ppm) div sum(cnt) as bigint)"
            ).alias("importance_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 top-k retrieval (rational arithmetic, engine-exact)


_BM25_TOPK = 10


@register(
    "bm25_topk_retrieval",
    f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(text), '\\s+')) AS w
  FROM documents
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS total_tokens
  FROM dl
), qterms AS (
  SELECT w AS term, CAST(count(*) AS BIGINT) AS cf
  FROM tok GROUP BY w ORDER BY cf DESC, term LIMIT 5
), tf AS (
  SELECT t.w AS term, t.doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM tok t SEMI JOIN qterms q ON t.w = q.term
  GROUP BY t.w, t.doc_id
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.term, tf.doc_id,
         -- idf_ppm = (N - df + 1) * 1e6 div (df + 1)  (rational idf)
         -- lennorm_x1000 = 250 + 750 * dl * n_docs div total_tokens
         -- score = idf_ppm * tf * 2200 div
         --         (tf * 1000 + 1200 * lennorm_x1000 div 1000)
         CAST(((s.n_docs - df.df + 1) * 1000000 // (df.df + 1))
              * tf.tf * 2200
              // (tf.tf * 1000
                  + 1200 * (250 + 750 * dl.dl * s.n_docs
                            // s.total_tokens) // 1000)
              AS BIGINT) AS score_scaled
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
), ranked AS (
  SELECT term, doc_id, score_scaled,
         row_number() OVER (PARTITION BY term
                            ORDER BY score_scaled DESC, doc_id) AS rank
  FROM scored
)
SELECT term, doc_id, score_scaled, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_BM25_TOPK}
""",
    doc="BM25 top-k retrieval (Robertson-Sparck Jones; k1=1.2 b=0.75 "
        "as x1000 integers) — the sparse half of a hybrid RAG "
        "retriever next to the ANN family (rrf_hybrid_fusion fuses "
        "exactly such lists): queries are the 5 most frequent corpus "
        "terms (deterministic; single-term queries isolate the "
        "scoring math), score = idf * tf*(k1+1) / (tf + k1*(1 - b + "
        "b*dl/avgdl)) computed entirely in scaled-integer rational "
        "arithmetic — idf as an add-one rational ppm, the length "
        "norm as x1000 — so Spark and the oracle agree bit-for-bit "
        "with no ln()/float (same discipline as the int8 retriever). "
        "Scale: the postings build is one hash-agg over the token "
        "stream SEMI-JOINED to the query terms first (only matching "
        "postings materialize); doc lengths join on doc_id; corpus "
        "stats broadcast as one row; top-k per term is a bounded "
        "window over per-term postings",
)
def q_bm25_topk_retrieval(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    # a (doc_id, w) pre-aggregate shared by the three token
    # consumers was A/B'd and REJECTED (+0.4 s interleaved): this
    # query's existing aggregates all shrink to tiny exchanges via
    # map-side partial agg (dl <= n_docs rows, qterms <= vocab rows,
    # tf semi-join prunes to the 5 query terms BEFORE aggregating),
    # so a shared pre-agg only added a wide (doc_id, w) shuffle that
    # dwarfs the repeated map-side tokenize it saved.
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    )
    dl = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_tokens"),
    )
    qterms = (
        tok.groupBy(F.col("w").alias("term"))
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
        .orderBy(F.col("cf").desc(), F.col("term"))
        .limit(5)
        .select("term")
    )
    tf = (
        tok.join(
            F.broadcast(qterms), tok["w"] == qterms["term"], "left_semi"
        )
        .groupBy(F.col("w").alias("term"), "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            F.expr(
                "cast(((n_docs - df + 1) * 1000000 div (df + 1))"
                " * tf * 2200"
                " div (tf * 1000"
                "      + 1200 * (250 + 750 * dl * n_docs"
                "                div total_tokens) div 1000)"
                " as bigint)"
            ).alias("score_scaled"),
        )
    )
    w = Window.partitionBy("term").orderBy(
        F.col("score_scaled").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _BM25_TOPK)
        .select("term", "doc_id", "score_scaled", "rank")
    )


# ---------------------------------------------------------------------------
# k-core decomposition (fixed-round synchronous peel)


_KCORE_K = 3
_KCORE_ROUNDS = 4
# data-adaptive k rule (mirrored verbatim in the oracle's kprm CTE):
# below _KCORE_N_SMALL lineitems the support->=2 graph is dense enough
# for the 3-core; above it, peel the 2-core so the result is
# non-vacuous at bench scale (sf0.1: k=3 empties, k=2 keeps 5 nodes)
_KCORE_N_SMALL = 100_000
_KCORE_K_LARGE = 2


def _copurchase_edges(li):
    """Undirected co-purchase edge list (both directions): the
    catalog_mining pair definition (`_supported_pairs` over
    `_baskets`), symmetrized."""
    pairs = _supported_pairs(_baskets(li)).select("u", "v")
    return pairs.unionAll(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    # k is DATA-ADAPTIVE (kprm): the sparse-support co-purchase graph
    # thins as the corpus grows (pair support >= 2 is rare when part
    # cardinality scales with orders), so a fixed k=3 empties the
    # 4-round peel above ~100k lineitems (a vacuous step-up row). Both engines evaluate the identical rule, so
    # results stay engine-exact at every scale.
    parts = [
        f"""
WITH kprm AS (
  SELECT CASE WHEN (SELECT count(*) FROM lineitem) < {_KCORE_N_SMALL}
              THEN {k} ELSE {_KCORE_K_LARGE} END AS k
), items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_MIN_PAIR_SUPP}
), e0 AS (
  SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
), d0 AS (
  SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
  FROM e0 GROUP BY u
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", a{r} AS (
  SELECT node FROM d{r - 1} WHERE degree >= (SELECT k FROM kprm)
), e{r} AS (
  SELECT e.u, e.v FROM e{r - 1} e
  SEMI JOIN a{r} x ON e.u = x.node
  SEMI JOIN a{r} y ON e.v = y.node
), d{r} AS (
  SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
  FROM e{r} GROUP BY u
)"""
        )
    parts.append(
        f"""
SELECT node AS part, degree AS core_degree FROM d{rounds}"""
    )
    return "".join(parts)


@register(
    "kcore_decomposition",
    _kcore_oracle(_KCORE_K, _KCORE_ROUNDS),
    doc=f"k-core peel (k={_KCORE_K} below {_KCORE_N_SMALL} lineitems, "
        f"k={_KCORE_K_LARGE} above — the data-adaptive kprm rule both "
        f"engines evaluate; {_KCORE_ROUNDS} fixed synchronous "
        "rounds) on the co-purchase graph — the graph-density filter "
        "behind community mining and fraud-ring triage (a node's "
        "persistent membership under repeated degree-{k} peeling "
        "separates structural hubs from incidental co-occurrence; "
        "same edge definition as copurchase_triangles). FIXED round "
        "count instead of peel-to-fixpoint, the copurchase_pagerank "
        "discipline: both engines execute the identical bounded "
        "computation, so results are engine-exact whether or not the "
        "peel has converged, and the unrolled-CTE oracle mirrors the "
        "rounds one-to-one. Scale: each round is one hash-agg for "
        "degrees (node-cardinality) and two semi-joins of the edge "
        "list against the survivor set (edge-cardinality, equi-keyed, "
        "monotonically shrinking); rounds are O(1) by construction — "
        "the peel does NOT iterate to an unbounded fixpoint",
)
def q_kcore_decomposition(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # EAGER expansion-once checkpoint (the pagerank form): every round
    # reads the edge table twice (degree agg + the semi-join's left
    # side), so a lazy checkpoint races concurrent stages into
    # recomputing the basket-pair expansion (the 182-s-vs-58-s lazy
    # race measured on the pagerank edge table at 10x).
    edges = _copurchase_edges(li).localCheckpoint()
    # the oracle's kprm rule, evaluated identically (one metadata-cheap
    # count action per build: k decides the output, so it must count
    # the input as it is now)
    n_li = li.count()
    k = _KCORE_K if n_li < _KCORE_N_SMALL else _KCORE_K_LARGE
    for r in range(_KCORE_ROUNDS):
        deg = edges.groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("degree")
        )
        alive = deg.where(F.col("degree") >= k).select("node")
        edges = (
            edges.join(
                alive.withColumnRenamed("node", "u"), "u", "left_semi"
            )
            .join(alive.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
        )
        # every round's output is read TWICE by the next round (degree
        # agg + semi-join left side) — checkpoint those; the LAST
        # round feeds only the final aggregate, whose plan reads the
        # previous (materialized) round's RDD, so the closing
        # checkpoint job is pure waste (one fewer sequential job)
        if r != _KCORE_ROUNDS - 1:
            edges = edges.localCheckpoint()
    return edges.groupBy(F.col("u").alias("part")).agg(
        F.count(F.lit(1)).cast("long").alias("core_degree")
    )


# ---------------------------------------------------------------------------
# Canonical-doc selection over dedup clusters


@register(
    "cluster_canonical_docs",
    None,  # oracle assigned below (reuses the dedup_clusters CC oracle)
    doc="the curation ACTION on top of dedup resolution: for every "
        "duplicate cluster (MinHash pairs -> connected components, "
        "the dedup_clusters plan), pick ONE canonical document to "
        "keep — highest n_chars, doc_id tie-break (real pipelines "
        "rank by quality score; the rule is a parameter, the shape "
        "is this window). Emits (cluster_id, cluster_size, "
        "canonical_doc, canonical_n_chars) — the keep-list a 100 TB "
        "dedup pass ships to the next stage. Scale: everything the "
        "CC resolution already paid, plus ONE window over "
        "cluster-keyed rows; the canonical pick never touches text",
)
def q_cluster_canonical_docs(spark, sf_dir):
    from ..operators.dedup import dedup_clusters, minhash_lsh_pairs

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, n=3, num_hashes=8, band_size=2)
    clusters = dedup_clusters(pairs, docs, id_col="doc_id")
    joined = clusters.join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    w = Window.partitionBy("cluster_keeper").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("cluster_keeper").alias("cluster_id"),
            F.col("cluster_size"),
            F.col("doc_id").alias("canonical_doc"),
            F.col("n_chars").alias("canonical_n_chars"),
        )
    )


def _canonical_oracle() -> str:
    from .catalog_data import _clusters_oracle

    return f"""
SELECT z.cluster_keeper AS cluster_id,
       CAST(z.cluster_size AS BIGINT) AS cluster_size,
       d.doc_id AS canonical_doc,
       CAST(d.n_chars AS BIGINT) AS canonical_n_chars
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY cluster_keeper ORDER BY n_chars DESC, doc_id
  ) AS rn
  FROM ({_clusters_oracle()}) z0 JOIN documents USING (doc_id)
) z JOIN documents d ON z.doc_id = d.doc_id
WHERE z.rn = 1
"""


# ---------------------------------------------------------------------------
# Tokenizer fertility (BPE units per word, chars per unit)


@register(
    "tokenizer_fertility",
    None,  # oracle assigned below (wraps the BPE segment oracle)
    doc="tokenizer fertility by (lang, source) — the compression "
        "readout that prices a corpus in training compute and flags "
        "domains the tokenizer serves badly (fertility >> 1000 ppt "
        "means the learned merges don't cover that slice): the 6 "
        "trained BPE merges (bpe_train_merges) applied to every doc "
        "(bpe_token_counts), aggregated per slice — fertility_ppt = "
        "1000 * bpe_units div words, chars_per_unit_ppt = 1000 * "
        "chars div bpe_units, exact integers. Scale: the per-doc "
        "segment counts are the one corpus-sized map pass the BPE "
        "family already pays; this adds a slice-cardinality hash-agg",
)
def q_tokenizer_fertility(spark, sf_dir):
    from ..operators.textanalysis import (
        bpe_segment_counts,
        bpe_train_merge_list,
    )
    from .catalog_corpus import _BPE_N

    docs = _docs(spark, sf_dir)
    # literal merge rules + every per-doc column carried through the
    # ONE segmentation pass (carry_cols), instead of scanning documents
    # twice and joining the two scans back on doc_id (6 broadcast-join
    # rounds + 1 SMJ/BHJ exchange pair), all for columns derivable
    # from the same row (guide §2.4)
    merges = bpe_train_merge_list(docs, n_merges=_BPE_N)
    seg = bpe_segment_counts(
        docs, merges, _BPE_N,
        carry_cols={
            "lang": F.col("lang"),
            "source": F.col("source"),
            "nc": F.col("n_chars").cast("long"),
            "n_tokens": F.size(tokens(F.col("text"))).cast("long"),
        },
    )
    return (
        seg
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_words"),
            F.sum("n_bpe_units").cast("long").alias("sum_bpe_units"),
            F.expr(
                "cast(sum(n_bpe_units) * 1000 div sum(n_tokens) as bigint)"
            ).alias("fertility_ppt"),
            F.expr(
                "cast(sum(nc) * 1000 div sum(n_bpe_units) as bigint)"
            ).alias("chars_per_unit_ppt"),
        )
    )


def _fertility_oracle() -> str:
    from .catalog_corpus import _BPE_SEGMENT_ORACLE

    return f"""
SELECT d.lang, d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(seg.n_tokens) AS BIGINT) AS sum_words,
       CAST(sum(seg.n_bpe_units) AS BIGINT) AS sum_bpe_units,
       CAST(sum(seg.n_bpe_units) * 1000 // sum(seg.n_tokens) AS BIGINT)
         AS fertility_ppt,
       CAST(sum(d.n_chars) * 1000 // sum(seg.n_bpe_units) AS BIGINT)
         AS chars_per_unit_ppt
FROM ({_BPE_SEGMENT_ORACLE}) seg JOIN documents d USING (doc_id)
GROUP BY d.lang, d.source
"""


def _late_bind_oracles() -> None:
    """cluster_canonical_docs / tokenizer_fertility oracles reuse CTE
    builders from sibling tranches; bind after import to avoid a
    circular-import at module load."""
    from .catalog import _REGISTRY

    if _REGISTRY["cluster_canonical_docs"].oracle is None:
        _REGISTRY["cluster_canonical_docs"].oracle = _canonical_oracle()
    if _REGISTRY["tokenizer_fertility"].oracle is None:
        _REGISTRY["tokenizer_fertility"].oracle = _fertility_oracle()


_late_bind_oracles()


# ---------------------------------------------------------------------------
# Interval-overlap self-join with bucket blocking


@register(
    "session_overlap_pairs",
    """
WITH o AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_ts
  FROM events
), f AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                 THEN 1 ELSE 0 END AS new_s
  FROM o
), s AS (
  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
              AS session_n
  FROM f
), sess AS (
  SELECT user_id, session_n,
         min(ts) AS s_start, max(ts) AS s_end
  FROM s GROUP BY user_id, session_n
  HAVING epoch_us(max(ts)) - epoch_us(min(ts)) >= 600000000
), bucketed AS (
  SELECT user_id, session_n, s_start, s_end,
         unnest(generate_series(date_trunc('day', s_start),
                                date_trunc('day', s_end),
                                INTERVAL 1 DAY)) AS day_bucket
  FROM sess
)
SELECT DISTINCT
       a.user_id AS user_a, a.session_n AS session_a,
       b.user_id AS user_b, b.session_n AS session_b,
       CAST((epoch_us(least(a.s_end, b.s_end))
             - epoch_us(greatest(a.s_start, b.s_start))) // 1000000
            AS BIGINT) AS overlap_sec
FROM bucketed a JOIN bucketed b
  ON a.day_bucket = b.day_bucket AND a.user_id < b.user_id
WHERE epoch_us(least(a.s_end, b.s_end))
      - epoch_us(greatest(a.s_start, b.s_start)) >= 300000000
""",
    doc="interval-overlap self-join — the co-presence primitive "
        "behind shared-device/shared-IP correlation (the reference's "
        "source_correlation joins on exact keys; this is the "
        "time-interval generalization): 30-min-gap sessions of >= 10 "
        "minutes, pairs of DIFFERENT users overlapping >= 5 minutes. "
        "A naive interval join is a cartesian with a range predicate "
        "(BroadcastNestedLoop at best); the scalable form REPLICATES "
        "each interval into the day buckets it touches and equi-joins "
        "on the bucket (the standard interval-bucketization "
        "technique; DISTINCT removes boundary double-counts). "
        "Plan-asserted: equi-join, no cartesian. Scale: replication "
        "factor = interval length / bucket size (~1 here); pair "
        "fan-out is bounded per bucket by concurrent-session "
        "density, the knob being the bucket size",
)
def q_session_overlap_pairs(spark, sf_dir):
    from ..operators.ingest import sessionize_full

    sess = (
        sessionize_full(
            _events(spark, sf_dir),
            key_col="user_id", ts_col="ts", id_col="event_id",
            page_col="event_type", gap_seconds=1800,
        )
        .where(F.col("duration_sec") >= 600)
        .select("user_id", "session_n", "session_start", "session_end")
    )
    bucketed = sess.select(
        "user_id", "session_n", "session_start", "session_end",
        F.explode(
            F.sequence(
                F.date_trunc("day", "session_start"),
                F.date_trunc("day", "session_end"),
                F.expr("interval 1 day"),
            )
        ).alias("day_bucket"),
    )
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    ov = F.unix_micros(
        F.least(F.col("a.session_end"), F.col("b.session_end"))
    ) - F.unix_micros(
        F.greatest(F.col("a.session_start"), F.col("b.session_start"))
    )
    return (
        a.join(
            b,
            (F.col("a.day_bucket") == F.col("b.day_bucket"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .where(ov >= 300 * 1_000_000)
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("a.session_n").alias("session_a"),
            F.col("b.user_id").alias("user_b"),
            F.col("b.session_n").alias("session_b"),
            F.expr(
                "cast((unix_micros(least(a.session_end, b.session_end))"
                " - unix_micros(greatest(a.session_start,"
                " b.session_start))) div 1000000 as bigint)"
            ).alias("overlap_sec"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# New vs returning users (expanding first-seen)


@register(
    "new_vs_returning_users",
    """
WITH first_seen AS (
  SELECT user_id, min(date_trunc('day', ts)) AS first_day FROM events
  GROUP BY user_id
), daily AS (
  SELECT date_trunc('day', ts) AS day, user_id FROM events
  GROUP BY 1, 2
)
SELECT d.day,
       CAST(count(*) AS BIGINT) AS n_active,
       CAST(sum(CASE WHEN f.first_day = d.day THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new,
       CAST(sum(CASE WHEN f.first_day < d.day THEN 1 ELSE 0 END)
            AS BIGINT) AS n_returning
FROM daily d JOIN first_seen f USING (user_id)
GROUP BY d.day
""",
    doc="daily new vs returning users — the growth-accounting twin "
        "of retention_cohorts (cohorts slice by signup week; this "
        "reads acquisition vs retention per day): first-seen day is "
        "a plain min() hash-agg (the vocab_growth first-occurrence "
        "pattern over users instead of n-grams), joined back onto "
        "the distinct (day, user) activity grid. Exact counts. "
        "Scale: two user-keyed hash-aggs + one join on user_id; "
        "no window, no expanding state",
)
def q_new_vs_returning_users(spark, sf_dir):
    ev = _events(spark, sf_dir)
    daily = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("first_day")
    )
    return (
        daily.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.sum(
                F.when(F.col("first_day") == F.col("day"), 1).otherwise(0)
            ).cast("long").alias("n_new"),
            F.sum(
                F.when(F.col("first_day") < F.col("day"), 1).otherwise(0)
            ).cast("long").alias("n_returning"),
        )
    )


# ---------------------------------------------------------------------------
# Category lift matrix (log-free mutual-information readout)


@register(
    "category_lift_matrix",
    """
WITH base AS (
  SELECT event_type, user_id % 10 AS segment FROM events
), joint AS (
  SELECT event_type, segment, CAST(count(*) AS BIGINT) AS c_xy
  FROM base GROUP BY 1, 2
), mx AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS c_x FROM base GROUP BY 1
), my AS (
  SELECT segment, CAST(count(*) AS BIGINT) AS c_y FROM base GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM base
)
SELECT j.event_type, j.segment, j.c_xy,
       CAST(j.c_xy * tot.n * 1000000 // (mx.c_x * my.c_y) AS BIGINT)
         AS lift_ppm
FROM joint j
JOIN mx USING (event_type) JOIN my USING (segment) CROSS JOIN tot
""",
    doc="category lift matrix — the log-free pointwise-mutual-"
        "information readout (lift = p(x,y)/(p(x)p(y)); PMI is its "
        "log, and ORDERING by lift equals ordering by PMI, which is "
        "what feature selection and co-occurrence mining consume): "
        "event_type x user-segment association in exact-integer ppm, "
        "1e6 = independence. The same shape scores token-topic and "
        "domain-label associations in a curation pipeline. Scale: "
        "one pass for the joint (hash-agg on the pair), marginals "
        "are grouping-set-sized and broadcast; output is "
        "|categories| x |segments|",
)
def q_category_lift_matrix(spark, sf_dir):
    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_type", (F.col("user_id") % 10).alias("segment")
    )
    joint = base.groupBy("event_type", "segment").agg(
        F.count(F.lit(1)).cast("long").alias("c_xy")
    )
    mx = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c_x")
    )
    my = base.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("c_y")
    )
    tot = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        joint.join(F.broadcast(mx), "event_type")
        .join(F.broadcast(my), "segment")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type", "segment", "c_xy",
            F.expr(
                "cast(c_xy * n * 1000000 div (c_x * c_y) as bigint)"
            ).alias("lift_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Telemetry gap detection (missing-data timeline)


@register(
    "telemetry_gap_detection",
    """
WITH seq AS (
  SELECT event_type, ts,
         lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id)
           AS prev_ts
  FROM events
)
SELECT event_type, prev_ts AS gap_start, ts AS gap_end,
       CAST((epoch_us(ts) - epoch_us(prev_ts)) // 1000000 AS BIGINT)
         AS gap_sec
FROM seq
WHERE prev_ts IS NOT NULL
  AND epoch_us(ts) - epoch_us(prev_ts) >= 3600000000
""",
    doc="telemetry-gap detection — the ingestion-outage monitor every "
        "security pipeline needs BEFORE trusting its own silence (a "
        "quiet detector and a broken feed look identical without it; "
        "the reference leans on cfgtick heartbeats for liveness, this "
        "is the per-feed data-plane complement): per event-type "
        "inter-arrival gaps >= 1 hour, with exact gap bounds and "
        "duration. Scale: one shuffle on the feed key + in-partition "
        "sort for the lag — the sequence-detection (A7) shape; output "
        "is gaps only, never the event stream",
)
def q_telemetry_gap_detection(spark, sf_dir):
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", "ts", F.lag("ts").over(w).alias("prev_ts")
    )
    gap_us = F.unix_micros("ts") - F.unix_micros("prev_ts")
    return (
        seq.where(
            F.col("prev_ts").isNotNull() & (gap_us >= 3600 * 1_000_000)
        )
        .select(
            "event_type",
            F.col("prev_ts").alias("gap_start"),
            F.col("ts").alias("gap_end"),
            F.expr(
                "cast((unix_micros(ts) - unix_micros(prev_ts))"
                " div 1000000 as bigint)"
            ).alias("gap_sec"),
        )
    )


# ---------------------------------------------------------------------------
# k-hop reachability (fixed-round BFS frontier)


_KHOP_ROUNDS = 3
_KHOP_SEEDS = 5


def _khop_oracle(rounds: int, n_seeds: int) -> str:
    parts = [
        f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_MIN_PAIR_SUPP}
), e AS (
  SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
), deg AS (
  SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
  FROM e GROUP BY u
), seeds AS (
  SELECT node FROM deg ORDER BY degree DESC, node LIMIT {n_seeds}
), r0 AS (
  SELECT node AS seed, node FROM seeds
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", r{r} AS (
  SELECT seed, node FROM r{r - 1}
  UNION
  SELECT p.seed, e.v AS node
  FROM r{r - 1} p JOIN e ON p.node = e.u
)"""
        )
    parts.append(
        f"""
SELECT seed, CAST(count(*) - 1 AS BIGINT) AS n_reachable
FROM r{rounds} GROUP BY seed"""
    )
    return "".join(parts)


@register(
    "khop_reachability",
    _khop_oracle(_KHOP_ROUNDS, _KHOP_SEEDS),
    doc=f"k-hop reachability ({_KHOP_ROUNDS} fixed BFS rounds from "
        f"the {_KHOP_SEEDS} highest-degree nodes) on the co-purchase "
        "graph — the blast-radius primitive of security graph triage "
        "(from a compromised entity, what is reachable in k steps?) "
        "and of recommendation neighborhoods. Frontier expansion is "
        "set-valued per seed: each round joins the reached set to the "
        "edge list and UNIONs (dedup via the union key), so the state "
        "is (seed, node) pairs — never paths, which explode. FIXED "
        "round count (the copurchase_pagerank discipline): both "
        "engines execute the identical bounded computation and the "
        "oracle unrolls the rounds. Scale: each round is one "
        "equi-join frontier x edges (src-keyed) + one distinct; the "
        "reached set is bounded by seeds x nodes; per-seed expansion "
        "from a high-degree seed is the skew case and arrives "
        "pre-bounded by the degree-ordered edge support",
)
def q_khop_reachability(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # eager for the same reason as kcore: the edge table is read by
    # the seed-degree agg AND by every BFS round's frontier join —
    # multiple concurrent consumers race a lazy checkpoint into
    # re-running the basket-pair expansion per consumer.
    edges = _copurchase_edges(li).localCheckpoint()
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    seeds = (
        deg.orderBy(F.col("degree").desc(), F.col("node"))
        .limit(_KHOP_SEEDS)
        .select(F.col("node").alias("seed"), F.col("node"))
    )
    reached = seeds
    for r in range(_KHOP_ROUNDS):
        expanded = (
            reached.join(edges, reached["node"] == edges["u"])
            .select("seed", F.col("v").alias("node"))
        )
        # eager: each round's `reached` has TWO consumers in the next
        # round's plan (the frontier join's left side AND the
        # unionByName) — the same multi-consumer race that made the
        # lazy form of triangles spike to [23.6, 279.6] s at 10x. The
        # frontier is small here so lazy happened to measure fine, but
        # the race is latent; eager matches the five sibling sites
        # (pagerank, kcore, triangles, frequent_itemsets, link_jaccard).
        # LAST round excepted: it feeds only the final per-seed
        # aggregate — one consumer, so the closing checkpoint job is
        # pure waste (the plan still reads the previous round's
        # materialized RDD twice, which is safe).
        reached = reached.unionByName(expanded).distinct()
        if r != _KHOP_ROUNDS - 1:
            reached = reached.localCheckpoint()
    return reached.groupBy("seed").agg(
        (F.count(F.lit(1)) - 1).cast("long").alias("n_reachable")
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood record linkage (the bounded-candidate scale path)


_SNM_WINDOW = 10


@register(
    "record_linkage_sorted_neighborhood",
    f"""
WITH c AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         row_number() OVER (
           PARTITION BY c_nationkey, c_mktsegment
           ORDER BY c_name, c_custkey
         ) - 1 AS rk
  FROM customer
), b AS (
  SELECT *, rk // {_SNM_WINDOW} AS band FROM c
), a_rep AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment, rk, band
  FROM b
  UNION ALL
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment, rk, band + 1
  FROM b
)
SELECT a.c_custkey AS cust_a, p.c_custkey AS cust_b,
       a.c_nationkey AS nationkey, a.c_mktsegment AS mktsegment,
       CAST(levenshtein(a.c_name, p.c_name) AS BIGINT) AS name_dist
FROM a_rep a JOIN b p
  ON a.c_nationkey = p.c_nationkey
 AND a.c_mktsegment = p.c_mktsegment
 AND a.band = p.band
WHERE p.rk > a.rk AND p.rk - a.rk <= {_SNM_WINDOW}
  AND a.c_custkey <> p.c_custkey
  AND levenshtein(a.c_name, p.c_name) <= 2
""",
    doc="sorted-neighborhood record linkage (Hernandez-Stolfo 1995) — "
        "the BOUNDED-candidate answer to exact blocked ER's quadratic "
        "blow-up (record_linkage_blocking measured 110x at the 10x "
        "step-up because its blocks grew 10x denser): within each "
        "block, records sort by name and only pairs within a "
        f"{_SNM_WINDOW}-position window are compared, via BAND "
        "replication (each record joins its rank-band and the next, "
        "so every within-window pair meets exactly once in an "
        "EQUI-join on (block, band) — candidates <= 2*n*w per block "
        "by construction, never n^2). The levenshtein verify runs "
        "only on windowed candidates. Recall vs the exact query is "
        "measured in tests (edit-close names sort near each other, "
        "the method's premise); multi-pass SNM on a second sort key "
        "unions in the standard way. Output schema matches "
        "record_linkage_blocking, minus pairs outside the window",
)
def q_record_linkage_snm(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    w = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy(
        "c_name", "c_custkey"
    )
    ranked = c.withColumn("rk", F.row_number().over(w) - 1).withColumn(
        "band", F.expr(f"rk div {_SNM_WINDOW}")
    )
    a_rep = ranked.unionByName(
        ranked.withColumn("band", F.col("band") + 1)
    ).alias("a")
    p = ranked.alias("p")
    return (
        a_rep.join(
            p,
            (F.col("a.c_nationkey") == F.col("p.c_nationkey"))
            & (F.col("a.c_mktsegment") == F.col("p.c_mktsegment"))
            & (F.col("a.band") == F.col("p.band")),
        )
        .where(
            (F.col("p.rk") > F.col("a.rk"))
            & (F.col("p.rk") - F.col("a.rk") <= _SNM_WINDOW)
            & (F.col("a.c_custkey") != F.col("p.c_custkey"))
        )
        .withColumn(
            "name_dist",
            F.levenshtein(F.col("a.c_name"), F.col("p.c_name"))
            .cast("long"),
        )
        .where(F.col("name_dist") <= 2)
        .select(
            F.col("a.c_custkey").alias("cust_a"),
            F.col("p.c_custkey").alias("cust_b"),
            F.col("a.c_nationkey").alias("nationkey"),
            F.col("a.c_mktsegment").alias("mktsegment"),
            "name_dist",
        )
    )
