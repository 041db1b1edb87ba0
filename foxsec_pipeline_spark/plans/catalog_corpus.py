"""Catalog tranche: corpus-preparation additions — RAG
passage chunking, exact-substring duplication mass (the
suffix-array-free ExactSubstr form), a Count-Min heavy-hitter sketch,
and an epoch/mixture repetition planner.

These extend the training-data surface (BASELINE north star) along
the axes a 100 TB corpus build actually exercises: retrieval chunking
is the map-side fan-out stage before embedding; exact-substring
duplication is the within-/cross-doc span-level dedup that MinHash
and doc-level hashing structurally miss (Lee et al. 2022); Count-Min
is the mergeable frequency sketch whose counter grid broadcasts (same
posture as the Bloom decontamination filter); and the epoch planner
is the repeat-aware mixture schedule (how many full passes + which
fractional subset per source fills a token budget at fixed mixture
weights — standard practice when high-quality sources are smaller
than their target share).

Determinism discipline matches the rest of the catalog: every ratio
is integer ppm via `div`, every hash is md5 (engine-portable), every
ordering carries an id tie-break, and every aggregate is cast to
BIGINT on both engines (the HUGEINT guard in tests/test_catalog.py
covers this tranche too).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..operators.dedup import bucketed_pairs
from ..operators.ingest import countmin_cells, countmin_estimate
from ..operators.textanalysis import chunk_passages, dup_span_stats
from ..session import load_tables
from .catalog import register


def _docs(spark, sf_dir):
    return load_tables(spark, sf_dir, "documents")["documents"]


@register(
    "rag_chunk_passages",
    """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok
  FROM documents
), s AS (
  SELECT doc_id, tok, CAST(len(tok) AS BIGINT) AS n,
         CAST(greatest((CAST(len(tok) AS BIGINT) - 32 + 23) // 24, 0)
              AS BIGINT) AS last_i
  FROM t
), c AS (
  SELECT doc_id, tok, n,
         unnest(generate_series(0, last_i)) AS chunk_id
  FROM s
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id * 24 AS BIGINT) AS chunk_start,
       CAST(least(32, n - chunk_id * 24) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(
           tok[chunk_id * 24 + 1 :
               chunk_id * 24 + least(32, n - chunk_id * 24)], ' '
       )) AS chunk_md5
FROM c
""",
    doc="RAG/retrieval passage chunking: overlapping 32-token windows "
        "with stride 24 (8-token overlap), last chunk start = "
        "ceil((n-32)/24)*24 so every word is covered with no "
        "degenerate fully-contained tail chunk; chunk_md5 is the "
        "content address for chunk-level dedup / embedding joins. "
        "The fan-out stage before embedding in a retrieval corpus "
        "build. Scale: pure map-side explode — sequence + slice "
        "inside codegen, no shuffle, no UDF; output rows = docs x "
        "per-doc chunk count, each row's cost bounded by its own "
        "doc length (plan-asserted shuffle-free)",
)
def q_rag_chunk_passages(spark, sf_dir):
    return chunk_passages(_docs(spark, sf_dir), window=32, stride=24)


@register(
    "exact_substring_dedup",
    """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok
  FROM documents
), s AS (
  SELECT doc_id, tok, CAST(len(tok) AS BIGINT) AS n_tokens FROM t
), w AS (
  SELECT doc_id, n_tokens, tok,
         unnest(generate_series(0, n_tokens - 16)) AS p
  FROM s WHERE n_tokens >= 16
), h AS (
  SELECT doc_id, n_tokens, CAST(p AS BIGINT) AS p,
         md5(array_to_string(tok[p + 1 : p + 16], ' ')) AS hsh
  FROM w
), dup AS (
  SELECT hsh FROM h GROUP BY hsh HAVING min(doc_id) <> max(doc_id)
), dw AS (
  SELECT doc_id, p FROM h SEMI JOIN dup USING (hsh)
), spans AS (
  SELECT doc_id, p,
         lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS np
  FROM dw
), agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_dup_windows,
         CAST(sum(CASE WHEN np IS NULL THEN 16
                       ELSE least(16, np - p) END) AS BIGINT) AS dup_tokens
  FROM spans GROUP BY doc_id
)
SELECT s.doc_id, s.n_tokens,
       CAST(coalesce(a.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(coalesce(a.dup_tokens, 0) * 1000000 // s.n_tokens
            AS BIGINT) AS dup_ppm
FROM s LEFT JOIN agg a USING (doc_id)
""",
    doc="exact-substring duplication mass per doc (Lee et al. 2022 "
        "ExactSubstr, suffix-array-free): every overlapping 16-word "
        "window is content-hashed; duplicated iff the hash occurs in "
        ">= 2 DISTINCT docs (min!=max — no COUNT DISTINCT "
        "expansion); per-doc duplicated-token mass is the EXACT "
        "union length of the duplicated [p, p+16) intervals via one "
        "lead() pass (union += min(k, next_start - start)). Catches "
        "span-level boilerplate that doc-level MinHash/SimHash and "
        "non-overlapping passage_dedup structurally miss. Scale: the "
        "df-count on window hashes REPLACES the pairwise join — no "
        "candidate-pair explosion exists at any skew; the interval "
        "union windows by doc, bounded by doc length. This is why "
        "ExactSubstr distributes where suffix arrays don't",
)
def q_exact_substring_dedup(spark, sf_dir):
    return dup_span_stats(_docs(spark, sf_dir), k=16)


@register(
    "countmin_heavy_hitters",
    """
WITH t AS (
  SELECT string_split_regex(trim(text), '\\s+') AS tok FROM documents
), bg AS (
  SELECT unnest(list_transform(
           generate_series(1, len(tok) - 1),
           i -> tok[i] || ' ' || tok[i + 1])) AS item
  FROM t WHERE len(tok) >= 2
), exact AS (
  SELECT item, CAST(count(*) AS BIGINT) AS n_exact FROM bg GROUP BY 1
), top AS (
  SELECT item, n_exact FROM exact ORDER BY n_exact DESC, item LIMIT 20
), rows_ AS (
  SELECT unnest(generate_series(0, 3)) AS cm_row
), cells AS (
  SELECT cm_row,
         CAST('0x' || substr(md5(CAST(cm_row AS VARCHAR) || '|' || item),
              1, 8) AS BIGINT) % 128 AS cm_col,
         CAST(count(*) AS BIGINT) AS cm_count
  FROM bg CROSS JOIN rows_ GROUP BY 1, 2
), probe AS (
  SELECT item, n_exact, cm_row,
         CAST('0x' || substr(md5(CAST(cm_row AS VARCHAR) || '|' || item),
              1, 8) AS BIGINT) % 128 AS cm_col
  FROM top CROSS JOIN rows_
)
SELECT p.item AS bigram, p.n_exact,
       CAST(min(coalesce(c.cm_count, 0)) AS BIGINT) AS cm_estimate,
       CAST(min(coalesce(c.cm_count, 0)) - p.n_exact AS BIGINT)
         AS overcount
FROM probe p LEFT JOIN cells c USING (cm_row, cm_col)
GROUP BY p.item, p.n_exact
""",
    doc="Count-Min sketch heavy hitters (Cormode-Muthukrishnan 2005): "
        "word-bigram stream -> d=4 x w=128 counter grid (every cell a "
        "plain SUM, md5-derived engine-portable hash family), then "
        "the exact top-20 bigrams point-query the sketch; overcount "
        "= estimate - truth makes the sketch's one-sided error "
        "VISIBLE (w=128 < ~900 distinct bigrams, so collisions are "
        "real at sf0.01). Both engines compute the identical "
        "deterministic sketch, so the driver hash-match verifies the "
        "estimates exactly — a stronger gate than accuracy booleans. "
        "Scale: the counter grid is a few KB regardless of stream "
        "size — map-side combinable, mergeable across partitions/"
        "days by cellwise addition, and it BROADCASTS to the probe "
        "join (same posture as bloom_decontaminate); exact counts "
        "for the probe set are one hash-agg + TakeOrdered top-k",
)
def q_countmin_heavy_hitters(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    tok = tokens(F.col("text"))
    items = (
        docs.select(tok.alias("_tok"))
        .where(F.size("_tok") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_tok) - 1), "
                    "i -> concat(element_at(_tok, i), ' ', "
                    "element_at(_tok, i + 1)))"
                )
            ).alias("item")
        )
    )
    cells = countmin_cells(items, "item", depth=4, width=128)
    top = (
        items.groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), "item")
        .limit(20)
    )
    est = countmin_estimate(
        top.select("item"), cells, "item", depth=4, width=128
    )
    return (
        top.join(est, "item")
        .select(
            F.col("item").alias("bigram"),
            "n_exact",
            "cm_estimate",
            (F.col("cm_estimate") - F.col("n_exact")).alias("overcount"),
        )
    )


@register(
    "epoch_mixture_plan",
    """
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
), avail AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS avail_tokens
  FROM d GROUP BY source
), plan AS (
  SELECT source, n_docs, avail_tokens,
         CAST((60000 * (1 + CAST(substr(source, 4) AS BIGINT) % 3)) // 39
              AS BIGINT) AS target_tokens
  FROM avail
), plan2 AS (
  SELECT *, target_tokens // avail_tokens AS n_full_epochs,
         target_tokens % avail_tokens AS rem
  FROM plan
), ranked AS (
  SELECT d.source, d.n_tokens,
         sum(d.n_tokens) OVER (
           PARTITION BY d.source
           ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM d
), frac AS (
  SELECT r.source, CAST(count(*) AS BIGINT) AS n_frac_docs,
         CAST(sum(r.n_tokens) AS BIGINT) AS frac_tokens
  FROM ranked r JOIN plan2 p ON r.source = p.source
  WHERE r.cum <= p.rem
  GROUP BY r.source
)
SELECT p.source, p.n_docs, p.avail_tokens, p.target_tokens,
       CAST(p.n_full_epochs AS BIGINT) AS n_full_epochs,
       CAST(coalesce(f.n_frac_docs, 0) AS BIGINT) AS n_frac_docs,
       CAST(coalesce(f.frac_tokens, 0) AS BIGINT) AS frac_tokens,
       CAST(p.n_full_epochs * p.avail_tokens
            + coalesce(f.frac_tokens, 0) AS BIGINT) AS achieved_tokens,
       CAST((p.n_full_epochs * p.avail_tokens
             + coalesce(f.frac_tokens, 0)) * 1000000
            // p.target_tokens AS BIGINT) AS fill_ppm
FROM plan2 p LEFT JOIN frac f USING (source)
""",
    doc="epoch/mixture repetition planner: given fixed mixture "
        "weights (here weight_ppm proportional to 1 + src_index % 3 "
        "over the 20 sources, sum 39) and a 60k-token budget, each "
        "source gets target = budget*weight; sources smaller than "
        "their target REPEAT — n_full_epochs = target div avail — "
        "and the fractional remainder is filled by a deterministic "
        "md5-ranked greedy prefix (docs in hash order while "
        "cumulative tokens <= remainder). This is the repeat-aware "
        "mixture schedule used when high-quality sources are smaller "
        "than their target share (standard LLM-corpus practice); "
        "fill_ppm reports achieved/target. Scale: one hash-agg on "
        "source + a per-source window for the fractional pick "
        "(the window is the same shape as budget_sample; when one "
        "source is too large to sort, the two-phase bounded "
        "hash-threshold route in operators/ingest.sample_quantiles "
        "replaces it); the 20-row plan broadcasts back onto docs",
)
def q_epoch_mixture_plan(spark, sf_dir):
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    avail = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("avail_tokens"),
    )
    plan = (
        avail.withColumn(
            "target_tokens",
            F.expr(
                "(60000 * (1 + cast(substring(source, 4) as bigint) % 3)) "
                "div 39"
            ),
        )
        .withColumn(
            "n_full_epochs", F.expr("target_tokens div avail_tokens")
        )
        .withColumn("rem", F.expr("target_tokens % avail_tokens"))
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = d.withColumn("cum", F.sum("n_tokens").over(w))
    frac = (
        ranked.join(
            F.broadcast(plan.select("source", "rem")), "source"
        )
        .where(F.col("cum") <= F.col("rem"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_frac_docs"),
            F.sum("n_tokens").alias("frac_tokens"),
        )
    )
    achieved = F.col("n_full_epochs") * F.col("avail_tokens") + F.coalesce(
        "frac_tokens", F.lit(0).cast("long")
    )
    return (
        plan.join(frac, "source", "left")
        .select(
            "source",
            "n_docs",
            "avail_tokens",
            "target_tokens",
            "n_full_epochs",
            F.coalesce("n_frac_docs", F.lit(0).cast("long")).alias(
                "n_frac_docs"
            ),
            F.coalesce("frac_tokens", F.lit(0).cast("long")).alias(
                "frac_tokens"
            ),
            achieved.alias("achieved_tokens"),
        )
        .withColumn(
            "fill_ppm",
            F.expr("(achieved_tokens * 1000000) div target_tokens"),
        )
    )


def _bpe_oracle_ctes(n_merges: int) -> str:
    """Unrolled BPE training rounds as DuckDB CTEs (same pattern as
    the kmeans_codebook oracle: the iterative trainer is unrolled so
    the oracle stays one ANSI-SQL string). Round r: weighted adjacent
    symbol-pair counts over the vocab repr -> top-1 by (count desc,
    pair asc) -> greedy leftmost replace applied via literal
    replace() (identical non-overlapping semantics in both
    engines)."""
    parts = [
        """
words AS (
  SELECT t AS word, CAST(count(*) AS BIGINT) AS wc FROM (
    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS t
    FROM documents
  ) GROUP BY 1
), r0 AS (
  SELECT word, wc, regexp_replace(word, '(.)', '<\\1>', 'g') AS repr
  FROM words
)"""
    ]
    for r in range(n_merges):
        parts.append(f"""
p{r} AS (
  SELECT pair, CAST(sum(wc) AS BIGINT) AS pair_count FROM (
    SELECT wc, unnest(list_transform(
        generate_series(1, len(syms) - 1),
        i -> syms[i] || chr(1) || syms[i + 1])) AS pair
    FROM (
      SELECT wc, regexp_extract_all(repr, '<([^>]*)>', 1) AS syms
      FROM r{r}
    ) WHERE len(syms) >= 2
  ) GROUP BY 1
), t{r} AS (
  SELECT pair, pair_count FROM p{r}
  ORDER BY pair_count DESC, pair LIMIT 1
), r{r + 1} AS (
  SELECT w.word, w.wc,
         replace(w.repr,
           '<' || string_split(t.pair, chr(1))[1] || '><'
               || string_split(t.pair, chr(1))[2] || '>',
           '<' || string_split(t.pair, chr(1))[1]
               || string_split(t.pair, chr(1))[2] || '>') AS repr
  FROM r{r} w CROSS JOIN t{r} t
)""")
    return "WITH " + ",".join(parts)


_BPE_N = 6

_BPE_TRAIN_ORACLE = _bpe_oracle_ctes(_BPE_N) + "\n" + "\nUNION ALL\n".join(
    f"""SELECT CAST({r} AS BIGINT) AS merge_rank,
       string_split(pair, chr(1))[1] AS left_sym,
       string_split(pair, chr(1))[2] AS right_sym,
       pair_count FROM t{r}"""
    for r in range(_BPE_N)
)

_BPE_SEGMENT_ORACLE = _bpe_oracle_ctes(_BPE_N) + f""",
d0 AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens,
         regexp_replace(
           array_to_string(string_split_regex(trim(text), '\\s+'), chr(2)),
           '([^' || chr(2) || '])', '<\\1>', 'g') AS repr
  FROM documents
)""" + "".join(
    f""",
d{r + 1} AS (
  SELECT d.doc_id, d.n_tokens,
         replace(d.repr,
           '<' || string_split(t.pair, chr(1))[1] || '><'
               || string_split(t.pair, chr(1))[2] || '>',
           '<' || string_split(t.pair, chr(1))[1]
               || string_split(t.pair, chr(1))[2] || '>') AS repr
  FROM d{r} d CROSS JOIN t{r} t
)"""
    for r in range(_BPE_N)
) + f"""
SELECT doc_id, n_tokens,
       CAST(len(regexp_extract_all(repr, '<([^>]*)>', 1)) AS BIGINT)
         AS n_bpe_units
FROM d{_BPE_N}
"""


@register(
    "bpe_train_merges",
    _BPE_TRAIN_ORACLE,
    doc="BPE tokenizer induction (Sennrich et al. 2016): learn the "
        "first 6 merge rules from the corpus — weighted adjacent "
        "symbol-pair counts over the word-frequency table, top pair "
        "per round (tie-break pair-string ascending), applied "
        "greedily leftmost-first via literal replace on a "
        "bracket-wrapped symbol representation (identical "
        "non-overlapping replace semantics across engines). "
        "Validated against a hand-rolled Python BPE in "
        "tests/test_corpus_ops.py. Scale: THE reason BPE training "
        "distributes — the corpus is touched ONCE (word-count "
        "hash-agg, map-side combined, plan-asserted single scan); "
        "the merge loop runs on the vocabulary table (orders of "
        "magnitude smaller), each round broadcasting one top-1 row "
        "back. The oracle unrolls the 6 rounds as CTEs",
)
def q_bpe_train_merges(spark, sf_dir):
    from ..operators.textanalysis import bpe_train

    return bpe_train(_docs(spark, sf_dir), n_merges=_BPE_N)


@register(
    "bpe_token_counts",
    _BPE_SEGMENT_ORACLE,
    doc="learned-BPE subword counts per document: the 6 trained "
        "merges are applied IN RANK ORDER to every doc (word "
        "boundaries kept by a control-char separator so merges never "
        "cross words), then the surviving symbol count is the "
        "learned-tokenizer token count — the trained twin of the "
        "regex-BPE proxy in token_count_bpe, and the number that "
        "prices a corpus in compute. Scale: corpus side is ONE "
        "map-side pass through a chain of literal replace calls "
        "inside codegen; each merge rule joins in as a single-row "
        "broadcast. Oracle unrolls training + application",
)
def q_bpe_token_counts(spark, sf_dir):
    from ..operators.textanalysis import (
        bpe_segment_counts,
        bpe_train_merge_list,
    )

    docs = _docs(spark, sf_dir)
    # literal merge rules (zero joins in the segmentation pass) and
    # n_tokens carried through that same pass, instead of scanning
    # documents a second time just to re-tokenize for the count and
    # joining the scans back on doc_id (guide §2.4)
    merges = bpe_train_merge_list(docs, n_merges=_BPE_N)
    seg = bpe_segment_counts(
        docs, merges, _BPE_N,
        carry_cols={
            "n_tokens": F.size(tokens(F.col("text"))).cast("long"),
        },
    )
    return seg.select("doc_id", "n_tokens", "n_bpe_units")


def _winnow_fp(docs):
    """Winnowing fingerprint selection (shared by the per-doc density
    readout and the plagiarism pair report): word-4-gram hashes,
    rightmost-min per window of 4 via position-encoded min(), distinct
    (doc_id, n_grams, fp_hash, fp_pos)."""
    tok = tokens(F.col("text"))
    base = docs.select(
        "doc_id", tok.alias("_tok"), F.size(tok).cast("long").alias("n")
    ).where(F.col("n") >= 4)
    g = base.select(
        "doc_id",
        (F.col("n") - 3).alias("n_grams"),
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("n") - 4)
        ).alias("p"),
        "_tok",
    ).select(
        "doc_id",
        "n_grams",
        "p",
        (
            F.expr(
                "cast(conv(substring(md5(concat_ws(' ', "
                "slice(_tok, cast(p + 1 as int), 4))), 1, 11), 16, 10) "
                "as bigint)"
            )
            * 65536
            + (65535 - F.col("p"))
        ).alias("hp"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.currentRow, 3)
    )
    m = g.withColumn("sel", F.min("hp").over(w))
    return (
        m.where(F.col("p") <= F.col("n_grams") - 4)
        .select(
            "doc_id",
            "n_grams",
            F.expr("sel div 65536").alias("fp_hash"),
            (65535 - F.col("sel") % 65536).alias("fp_pos"),
        )
        .distinct()
    )


# Shared CTE prefix for the two winnowing queries: gram hashing,
# rightmost-min-per-window selection, distinct fingerprint set.
_WINNOW_CTES = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok
  FROM documents
), s AS (
  SELECT doc_id, tok, CAST(len(tok) AS BIGINT) AS n FROM t
), g AS (
  SELECT doc_id, n - 3 AS n_grams, CAST(p AS BIGINT) AS p,
         CAST('0x' || substr(md5(array_to_string(tok[p + 1 : p + 4], ' ')),
              1, 11) AS BIGINT) * 65536 + (65535 - p) AS hp
  FROM (SELECT doc_id, n, tok, unnest(generate_series(0, n - 4)) AS p
        FROM s WHERE n >= 4)
), m AS (
  SELECT doc_id, n_grams, p,
         min(hp) OVER (PARTITION BY doc_id ORDER BY p
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
  FROM g
), fp AS (
  SELECT DISTINCT doc_id, n_grams,
         sel // 65536 AS fp_hash,
         65535 - (sel % 65536) AS fp_pos
  FROM m WHERE p <= n_grams - 4
)
"""


@register(
    "winnowing_fingerprints",
    _WINNOW_CTES
    + """
, df AS (
  SELECT fp_hash FROM fp GROUP BY fp_hash
  HAVING min(doc_id) <> max(doc_id)
)
SELECT f.doc_id, CAST(max(f.n_grams) AS BIGINT) AS n_grams,
       CAST(count(*) AS BIGINT) AS n_fingerprints,
       CAST(count(*) FILTER (d.fp_hash IS NOT NULL) AS BIGINT)
         AS n_shared_fps,
       CAST(count(*) * 1000000 // max(f.n_grams) AS BIGINT)
         AS density_ppm
FROM fp f LEFT JOIN df d ON f.fp_hash = d.fp_hash
GROUP BY f.doc_id
""",
    doc="winnowing document fingerprinting (Schleimer-Wilkerson-Aiken "
        "2003, the MOSS algorithm): word-4-gram hashes -> in every "
        "window of 4 consecutive hashes select the minimum, rightmost "
        "on ties — guaranteeing any shared run of >= 7 words shares a "
        "fingerprint, at ~2/(w+1) the storage of exact_substring's "
        "every-window hashing. The rightmost-min rule is implemented "
        "by ENCODING the position into the comparable — hp = "
        "hash*65536 + (65535 - p) — so the windowed min() IS the "
        "argmin and both engines decode (hash, pos) back with pure "
        "integer div/mod (44-bit hash x 16-bit position, no int64 "
        "overflow; doc length < 65536 asserted by construction). "
        "Scale: map-side gram hashing, one bounded per-doc window "
        "pass, then the same df-count shape as exact_substring — no "
        "pairwise stage; the fingerprint table is ~2/(w+1) of the "
        "gram table, which is the point of winnowing",
)
def q_winnowing_fingerprints(spark, sf_dir):
    fp = _winnow_fp(_docs(spark, sf_dir))
    df_shared = (
        fp.groupBy("fp_hash")
        .agg(F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi"))
        .where(F.col("_lo") != F.col("_hi"))
        .select("fp_hash", F.lit(1).alias("_shared"))
    )
    return (
        fp.join(df_shared, "fp_hash", "left")
        .groupBy("doc_id")
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.count(F.col("_shared")).cast("long").alias("n_shared_fps"),
        )
        .withColumn(
            "density_ppm",
            F.expr("(n_fingerprints * 1000000) div n_grams"),
        )
    )


@register(
    "inverted_index_stats",
    """
WITH t AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM t GROUP BY 1, 2
), ix AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(tf) AS BIGINT) AS cf,
         max(tf * 4294967296 + (4294967295 - doc_id)) AS enc
  FROM tf GROUP BY term HAVING count(*) >= 2
)
SELECT term, df, cf,
       CAST(enc // 4294967296 AS BIGINT) AS top_tf,
       CAST(4294967295 - (enc % 4294967296) AS BIGINT) AS top_doc_id
FROM ix
""",
    doc="inverted-index posting-list statistics — the retrieval-serving "
        "twin of the corpus tokenization surface: per-term document "
        "frequency, collection frequency, and the top-scoring posting "
        "(max tf, ties to the LOWEST doc_id) for every term appearing "
        "in >= 2 docs. The argmax uses the catalog's integer-encoding "
        "idiom — enc = tf*2^32 + (2^32-1-doc_id) — so the top posting "
        "is a plain max() aggregate: PARTIAL-COMBINABLE, which is what "
        "makes stopword-grade term skew safe (a windowed row_number "
        "over a hot term's full posting list would put every posting "
        "of 'the' in one partition; the max() combines map-side). "
        "tf < 2^31 and doc_id < 2^32 hold by construction. Scale: two "
        "hash-aggs — (term, doc) then term — both map-side-combining, "
        "no join, no window",
)
def q_inverted_index_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    t = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = t.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    enc = F.col("tf") * F.lit(4294967296).cast("long") + (
        F.lit(4294967295).cast("long") - F.col("doc_id")
    )
    ix = (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
            F.max(enc).alias("enc"),
        )
        .where(F.col("df") >= 2)
    )
    return ix.select(
        "term",
        "df",
        "cf",
        F.expr("enc div 4294967296").cast("long").alias("top_tf"),
        (
            F.lit(4294967295).cast("long")
            - F.col("enc") % F.lit(4294967296).cast("long")
        ).alias("top_doc_id"),
    )


# Ubiquitous-fingerprint cap for the pair report: fingerprints shared
# by more than this many docs are boilerplate (license headers, common
# idioms) and are dropped before pairing — the same df_cap posture as
# the dedup candidate machinery.
_WINNOW_DF_CAP = 16


@register(
    "winnowing_plagiarism_pairs",
    _WINNOW_CTES
    + f"""
, d AS (
  SELECT DISTINCT doc_id, fp_hash FROM fp
), docn AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM d GROUP BY doc_id
), bk AS (
  SELECT fp_hash FROM d GROUP BY fp_hash
  HAVING count(*) BETWEEN 2 AND {_WINNOW_DF_CAP}
), bd AS (
  SELECT d.doc_id, d.fp_hash FROM d SEMI JOIN bk USING (fp_hash)
), pr AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM bd a JOIN bd b
    ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT p.doc_a, p.doc_b, p.n_shared,
       na.n_fp AS n_fp_a, nb.n_fp AS n_fp_b,
       CAST(p.n_shared * 1000000 // least(na.n_fp, nb.n_fp) AS BIGINT)
         AS overlap_ppm
FROM pr p
JOIN docn na ON p.doc_a = na.doc_id
JOIN docn nb ON p.doc_b = nb.doc_id
""",
    doc="the MOSS report stage on top of winnowing_fingerprints "
        "(Schleimer et al. 2003 §4): doc pairs sharing >= 2 selected "
        "fingerprints, scored by shared-fingerprint containment "
        "against the smaller doc's distinct-fingerprint set (exact "
        "ppm). Pairing is bucket-local on fp_hash with the df-cap "
        f"prefilter (2..{_WINNOW_DF_CAP} docs per fingerprint — "
        "ubiquitous boilerplate fingerprints are dropped BEFORE the "
        "join, the df_cap posture of the shingle generators "
        "ngram_jaccard_pairs and containment_pairs; the MinHash, "
        "embedding and hot-name buckets pass no cap), so per-key "
        "fan-out is bounded by "
        "the cap squared and no all-pairs stage exists at any skew. "
        "The winnowing guarantee transfers: any shared run of >= 7 "
        "words yields a shared fingerprint, so real plagiarism of 2+ "
        "separated runs cannot score zero",
)
def q_winnowing_plagiarism_pairs(spark, sf_dir):
    fp = _winnow_fp(_docs(spark, sf_dir))
    d = fp.select("doc_id", "fp_hash").distinct()
    docn = d.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fp")
    )
    # pairs are generated INSIDE each fp_hash bucket — an aliased
    # self-join would evaluate the whole fingerprint pipeline for both
    # join sides (Catalyst gives aliased subplans no exchange reuse)
    # and need a separate df hash-agg + semi-join for the cap. The
    # df-cap [2, _WINNOW_DF_CAP] folds into the grouping aggregate
    # (size of the id array), as in ngram_jaccard_pairs. (doc_id,
    # fp_hash) rows are distinct, so a bucket's sorted ids are distinct
    # and the kernel's pairs are already ordered.
    pr = (
        bucketed_pairs(
            d, ["fp_hash"], "doc_id", "doc_a", "doc_b", cap=_WINNOW_DF_CAP
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )
    na = docn.select(
        F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a")
    )
    nb = docn.select(
        F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b")
    )
    return (
        pr.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_fp_a",
            "n_fp_b",
            F.expr(
                "(n_shared * 1000000) div least(n_fp_a, n_fp_b)"
            ).alias("overlap_ppm"),
        )
    )


@register(
    "prefix_jaccard_join",
    """
WITH tok AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id,
           unnest(string_split_regex(trim(text), '\\s+')) AS w
    FROM documents)
), dfreq AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wdf FROM tok GROUP BY w
), ranked AS (
  SELECT t.doc_id, t.w,
         CAST(row_number() OVER (
           PARTITION BY t.doc_id ORDER BY d.wdf, t.w) AS BIGINT) AS r,
         CAST(count(*) OVER (PARTITION BY t.doc_id) AS BIGINT) AS n
  FROM tok t JOIN dfreq d USING (w)
), pref AS (
  SELECT doc_id, w FROM ranked
  WHERE r <= n - ((n * 3 + 4) // 5) + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b ON a.w = b.w AND a.doc_id < b.doc_id
), sets AS (
  SELECT doc_id, list_sort(list(w)) AS ws,
         CAST(count(*) AS BIGINT) AS n
  FROM tok GROUP BY doc_id
), scored AS (
  SELECT c.doc_a, c.doc_b, sa.n AS n_a, sb.n AS n_b,
         CAST(len(list_intersect(sa.ws, sb.ws)) AS BIGINT) AS n_inter
  FROM cand c
  JOIN sets sa ON c.doc_a = sa.doc_id
  JOIN sets sb ON c.doc_b = sb.doc_id
)
SELECT doc_a, doc_b, n_a, n_b, n_inter,
       CAST(n_a + n_b - n_inter AS BIGINT) AS n_union,
       CAST(n_inter * 1000000 // (n_a + n_b - n_inter) AS BIGINT)
         AS jaccard_ppm
FROM scored WHERE n_inter * 5 >= (n_a + n_b - n_inter) * 3
""",
    doc="LOSSLESS set-similarity join at token-set Jaccard >= 3/5 via "
        "prefix filtering (the PPJoin candidate rule, Xiao et al. "
        "2008): docs keep only the |d| - ceil(t|d|) + 1 globally "
        "RAREST tokens as join keys — any pair with J >= t provably "
        "shares a prefix token, so recall is 1.0 by construction "
        "(brute-force-verified in tests), unlike the documented "
        "underestimate of the df_cap shingle pruning. The threshold "
        "is the cross-multiplied integer test 5*|∩| >= 3*|∪| — t "
        "stays rational end to end. Scale (statistics-driven "
        "physical choice): candidate emission Sum_w C(prefix_df_w, 2) "
        "is measured against C(n_docs, 2); pair-SPARSE corpora run "
        "chunk-grid candidate generation (hot-token emission spread "
        "at machine width) + a vocab-tiered exact verify (<= 62 words "
        "single bitmask, <= 8192 multi-word mask popcounts in "
        "codegen, else broadcast token arrays); pair-DENSE corpora "
        "(emission > 2x all-pairs, e.g. the 10x near-dup replica "
        "testdata at 6.7x) skip candidates entirely for a "
        "block-nested mask sweep — no pair shuffle, no distinct. "
        "Measured: 47 s / 628M output pairs at 10x, 445 s / 5.52B at "
        "30x — linear per output across both decades",
)
def q_prefix_jaccard_join(spark, sf_dir):
    from ..operators.dedup import prefix_filter_jaccard_pairs

    return prefix_filter_jaccard_pairs(
        _docs(spark, sf_dir), t_num=3, t_den=5
    )


@register(
    "gini_token_diversity",
    """
WITH t AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
), counts AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM t GROUP BY 1, 2
), s AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
         CAST(sum(cnt * cnt) AS BIGINT) AS s2,
         CAST(count(*) AS BIGINT) AS n_distinct
  FROM counts GROUP BY doc_id
)
SELECT doc_id, n AS n_tokens, n_distinct,
       CAST(1000000 - (1000000 * s2) // (n * n) AS BIGINT) AS gini_ppm
FROM s
""",
    doc="per-document token diversity as the Gini-Simpson index "
        "1 - sum(p_i^2) in exact integer ppm — the log-free twin of "
        "Shannon entropy (same corpus-drift rationale: ln() is not "
        "IEEE-exact across engines, squares and integer division "
        "are). Low diversity flags boilerplate/template/spam docs the "
        "repetition filter's fixed n-gram window can miss; emitted "
        "alongside token and distinct-token counts so the quality "
        "pipeline can gate on any of the three. Scale: explode -> "
        "(doc, token) hash-agg (partial map-side combine absorbs "
        "within-partition repeats) -> per-doc hash-agg; both shuffles "
        "key on doc_id so the second is a re-partition-free "
        "child-partitioning reuse; no window, no join",
)
def q_gini_token_diversity(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    t = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    counts = t.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    s = counts.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("s2"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
    return s.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        "n_distinct",
        F.expr(
            "cast(1000000 - (1000000 * s2) div (n * n) as bigint)"
        ).alias("gini_ppm"),
    )


@register(
    "vocab_growth_curve",
    """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok
  FROM documents
), bg AS (
  SELECT doc_id, tok[i] || chr(2) || tok[i + 1] AS bigram
  FROM (
    SELECT doc_id, tok, unnest(range(1, len(tok))) AS i FROM t
  )
), first_seen AS (
  SELECT bigram, CAST(min(doc_id) AS BIGINT) AS first_doc
  FROM bg GROUP BY bigram
), bucketed AS (
  SELECT CAST(first_doc // 10 AS BIGINT) AS doc_bucket,
         CAST(count(*) AS BIGINT) AS new_units
  FROM first_seen GROUP BY 1
)
SELECT doc_bucket, new_units,
       CAST(sum(new_units) OVER (ORDER BY doc_bucket) AS BIGINT)
         AS cum_vocab
FROM bucketed
""",
    doc="vocabulary growth curve (the Heaps\'-law readout that sizes "
        "tokenizer vocabularies and flags corpus heterogeneity — a "
        "sudden new-unit burst mid-corpus means a domain/language "
        "seam): each word BIGRAM\'s first document (min doc_id over "
        "the ingestion order; bigrams because the synthetic corpus\'s "
        "unigram vocabulary saturates in the first bucket — real "
        "corpora use whichever tokenizer unit is being sized), "
        "bucketed per 10 docs, with the running cumulative "
        "vocabulary. Exact integers throughout — first-occurrence is "
        "a plain min() aggregate, no sequential scan. Scale: "
        "map-side bigram explode -> (unit) hash-agg with partial min "
        "(the only corpus-sized stage), then the bucket agg and "
        "cumulative window run over the BUCKET table (corpus/10 "
        "rows). The global-window cumulative sum is single-partition "
        "by construction but over buckets, not units",
)
def q_vocab_growth_curve(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    # tokenize ONCE in a prior projection: inlining split() into the
    # transform lambda re-evaluates it per element AND per Generate
    # output row (the HOF re-evaluation pitfall) — measured several
    # times slower on the bigram explode
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
    first_seen = bg.groupBy("bigram").agg(
        F.min("doc_id").cast("long").alias("first_doc")
    )
    bucketed = first_seen.groupBy(
        F.expr("first_doc div 10").alias("doc_bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("new_units"))
    w = (
        Window.orderBy("doc_bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return bucketed.select(
        "doc_bucket",
        "new_units",
        F.sum("new_units").over(w).cast("long").alias("cum_vocab"),
    )


@register(
    "source_rank_normalize",
    """
WITH r AS (
  SELECT doc_id, source, n_chars,
         CAST(rank() OVER (PARTITION BY source
                           ORDER BY n_chars, doc_id) AS BIGINT) AS rk,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM documents
)
SELECT doc_id, source, n_chars,
       CAST(CASE WHEN n > 1 THEN (rk - 1) * 1000000 // (n - 1)
                 ELSE 0 END AS BIGINT) AS pct_rank_ppm
FROM r
""",
    doc="per-source percent-rank normalization of a quality signal "
        "(n_chars here; any score column in practice) — the "
        "calibration step before MIXING heterogeneous sources: raw "
        "scores aren't comparable across sources with different "
        "scales, their within-source ranks are. rank() carries a "
        "doc_id tie-break so it is a total order and "
        "engine-identical; ppm via integer division, single-doc "
        "sources pin to 0. Scale: ONE window over the source "
        "partition — partition count = source count, each sized by "
        "its source's docs; no join, no second pass. Skewed sources "
        "(one source = half the corpus) make this the rare case "
        "where a per-source SORT is inherent to the semantics — at "
        "100 TB the mitigation is range-partitioning within the hot "
        "source, which Spark's window exec does via rangeBetween "
        "spill, not a plan change",
)
def q_source_rank_normalize(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("source")
    return docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.rank().over(w).cast("long").alias("rk"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
    ).select(
        "doc_id",
        "source",
        "n_chars",
        F.expr(
            "cast(case when n > 1 then (rk - 1) * 1000000 div (n - 1)"
            " else 0 end as bigint)"
        ).alias("pct_rank_ppm"),
    )
