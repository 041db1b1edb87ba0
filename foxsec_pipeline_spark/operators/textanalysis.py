"""Text analysis operators: token stats, quality scoring, language ID.

The training-data pipeline surface (BASELINE.json north star).
Everything is a map-side projection — array expressions inside
whole-stage codegen, no shuffle, no UDF — so these run as pure scans
at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import doc_fingerprint, tokens
from .skew import spread

# tiny per-language stopword marker sets for the n-gram/stopword
# heuristic language id (public-knowledge common words)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "is", "to", "in"],
    "es": ["el", "la", "de", "y", "es", "en", "un"],
    "fr": ["le", "la", "de", "et", "est", "en", "un"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu"],
}


def _ratio_in(tok: Column, words: list[str]) -> Column:
    hits = F.size(F.filter(tok, lambda t: t.isin(words)))
    return hits / F.greatest(F.size(tok), F.lit(1))


def text_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc token/char stats: the quality-scoring feature base."""
    df = spread(df)
    tok = tokens(F.col(text_col))
    avg_tok_len = F.aggregate(
        tok, F.lit(0.0), lambda acc, t: acc + F.length(t)
    ) / F.greatest(F.size(tok), F.lit(1))
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        F.size(tok).alias("n_tokens"),
        F.round(avg_tok_len, 6).alias("avg_token_len"),
        F.size(F.array_distinct(tok)).alias("n_distinct_tokens"),
    )


def quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Composite quality score in [0,1]: length band + lexical
    diversity + stopword presence (the standard cheap quality gates a
    pretraining pipeline applies before expensive model scoring)."""
    df = spread(df)
    tok = tokens(F.col(text_col))
    n_tok = F.size(tok)
    diversity = F.size(F.array_distinct(tok)) / F.greatest(n_tok, F.lit(1))
    stop_ratio = _ratio_in(tok, STOPWORDS["en"])
    len_ok = F.when((n_tok >= 10) & (n_tok <= 10000), 1.0).otherwise(0.0)
    score = F.round(
        0.4 * len_ok + 0.3 * F.least(diversity * 2, F.lit(1.0)) + 0.3 * F.least(
            stop_ratio * 10, F.lit(1.0)
        ),
        6,
    )
    return df.select(
        F.col(id_col),
        F.col("lang") if "lang" in df.columns else F.lit(None).alias("lang"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(diversity, 6).alias("lexical_diversity"),
        score.alias("quality"),
    )


def language_id(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: tuple = (),
) -> DataFrame:
    """Stopword-marker language guess: argmax over per-language
    stopword hit ratios, 'und' (undetermined) if all zero.

    A real deployment swaps this for fastText/CLD via a pandas UDF;
    the operator shape (map-side projection, argmax over a struct
    array) is identical.

    ``carry_cols``: extra input columns projected through the
    one map pass (appended after the standard output columns), so a
    consumer that needs e.g. `source` alongside pred_lang does not
    re-scan the corpus and join the two passes back on doc_id
    (guide §2.4 — the bpe_segment_counts carry_cols pattern).
    """
    df = spread(df)
    tok = tokens(F.col(text_col))
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
    return df.select(
        F.col(id_col),
        F.when(best["score"] > 0, best["lang"]).otherwise("und").alias("pred_lang"),
        best["score"].alias("lang_score"),
        *[F.col(c) for c in carry_cols],
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return df.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fingerprint"))


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Within-document repetition metrics over word n-grams — the
    Gopher-style quality signal (boilerplate / keyword-stuffed / looping
    text has a high duplicate-shingle ratio long before it's a
    cross-document near-dup).

    Returns (id, n_shingles, n_distinct, dup_shingle_ratio,
    top_shingle_ratio). Shingling is relational (posexplode + window
    leads — whole-stage codegen, same rationale as dedup._shingled);
    two partial-agged shuffles: (doc, shingle) counts, then per-doc
    rollup. Docs with fewer than n tokens are excluded (no n-gram
    exists), matching the oracle's WHERE.
    """
    from pyspark.sql import Window

    tok = df.where(F.size(tokens(F.col(text_col))) >= n).select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "__t")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("__t")] + [F.lead("__t", i).over(w) for i in range(1, n)]
    sh = (
        tok.select(
            F.col(id_col),
            F.concat_ws(" ", *parts).alias("shingle"),
            parts[-1].alias("__last"),
        )
        .where(F.col("__last").isNotNull())
    )
    freq = sh.groupBy(id_col, "shingle").agg(F.count(F.lit(1)).alias("c"))
    agg = freq.groupBy(id_col).agg(
        F.sum("c").alias("n_shingles"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("__max_c"),
    )
    return agg.select(
        F.col(id_col),
        "n_shingles",
        "n_distinct",
        F.round(
            1.0 - F.col("n_distinct") * 1.0 / F.col("n_shingles"), 6
        ).alias("dup_shingle_ratio"),
        F.round(F.col("__max_c") * 1.0 / F.col("n_shingles"), 6).alias(
            "top_shingle_ratio"
        ),
    )


def topgram_char_fractions(
    df: DataFrame,
    ns: tuple[int, ...] = (2, 3, 4),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fraction of a document's characters covered by its most common
    word n-gram, for each n — the other half of the Gopher repetition
    gates (`repetition_stats` measures the duplicate-shingle tail;
    this measures the SINGLE dominant phrase: boilerplate banners and
    looping generations concentrate mass on one n-gram). Fraction =
    top count x n-gram char length / doc char length, per Gopher's
    published definition.

    One tokenize/lead-window pass builds the n-grams for every n
    (shingles for n come from the first n lead columns — no per-n
    re-scan); one partial-agged shuffle counts (doc, n, shingle); the
    per-(doc, n) top-1 window runs over those ~distinct-shingle-sized
    groups, then a pivot back to one row per doc. Docs shorter than n
    words have a NULL fraction for that n (no n-gram exists), matching
    the oracle."""
    from pyspark.sql import Window

    nmax = max(ns)
    tok = (
        spread(df)
        .select(
            F.col(id_col),
            F.length(F.col(text_col)).alias("__nch"),
            F.posexplode(tokens(F.col(text_col))).alias("pos", "__w"),
        )
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    # lead columns materialize in their own projection first — a
    # generator (explode) can't host window expressions in the same
    # operator
    led = tok.select(
        id_col, "__nch", "__w",
        *[F.lead("__w", i).over(w).alias(f"__w{i}") for i in range(1, nmax)],
    )
    parts = [F.col("__w")] + [F.col(f"__w{i}") for i in range(1, nmax)]
    shingle_structs = F.array(*[
        F.struct(
            F.lit(n).alias("n"),
            F.when(
                parts[n - 1].isNotNull(), F.concat_ws(" ", *parts[:n])
            ).alias("shingle"),
        )
        for n in ns
    ])
    ex = (
        led.select(id_col, "__nch", F.explode(shingle_structs).alias("__s"))
        .select(
            id_col, "__nch",
            F.col("__s.n").alias("n"), F.col("__s.shingle").alias("shingle"),
        )
        .where(F.col("shingle").isNotNull())
    )
    cnt = ex.groupBy(id_col, "__nch", "n", "shingle").agg(
        F.count(F.lit(1)).alias("c")
    )
    top_w = Window.partitionBy(id_col, "n").orderBy(
        F.col("c").desc(), F.col("shingle").asc()
    )
    top = cnt.withColumn("__rn", F.row_number().over(top_w)).where(
        F.col("__rn") == 1
    )
    frac = (F.col("c") * F.length("shingle")).cast("double") / F.col("__nch")
    return top.groupBy(id_col).agg(*[
        F.round(
            F.max(F.when(F.col("n") == n, frac)), 6
        ).alias(f"top{n}_char_frac")
        for n in ns
    ])


# GPT-2-style pretokenizer regex, restricted to constructs shared by
# Java regex (Spark) and RE2 (DuckDB): contraction suffixes, then
# space-prefixed letter runs / digit runs / punctuation runs, then
# whitespace runs. No lookahead (RE2 has none) — the original
# `\s+(?!\S)` trailing-space rule is dropped, which only changes how
# runs of 2+ spaces split, not the count of non-whitespace tokens.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def token_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc token counts under two tokenizers: whitespace words and
    a BPE-ish regex pretokenizer (the unit LLM training budgets are
    quoted in). chars_per_token is the compression proxy quality
    filters threshold on. Map-side projection — no shuffle at any
    scale."""
    ws = tokens(F.col(text_col))
    bpe = F.filter(
        F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), F.lit(0)),
        lambda t: ~t.rlike(r"^\s+$"),
    )
    n_bpe = F.size(bpe)
    return df.select(
        F.col(id_col),
        F.size(ws).alias("n_tokens_ws"),
        n_bpe.alias("n_tokens_bpe"),
        F.round(
            F.length(text_col) * 1.0 / F.greatest(n_bpe, F.lit(1)), 6
        ).alias("chars_per_token"),
    )


# PII patterns restricted to the Java-regex ∩ RE2 common subset (no
# lookaround), applied in a FIXED order so the redacted text is
# byte-identical across engines
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_scrub(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII detection + redaction — the scrubbing stage every
    training-data pipeline runs before text ships. Per-doc match
    counts (on the original text) plus the md5 of the redacted text
    (each match class replaced by its `<CLASS>` token, fixed order),
    so the oracle proves the REDACTION is byte-identical, not just the
    counts. Map-side only; regexps are JVM codegen expressions."""
    counts = [
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
        ).alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    scrubbed = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()}>")
    return df.select(
        F.col(id_col), *counts, F.md5(scrubbed).alias("scrubbed_hash")
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    id_col: str = "doc_id",
    strata_col: str = "source",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic stratified sampling — the domain-mixing stage that
    sets per-source proportions of a training corpus. Each row draws a
    uniform bucket from md5(id) (stable across runs, engines, and
    cluster layouts — never `rand()`, which breaks retries and
    lineage-recompute), and survives iff bucket < rate(stratum).
    Map-side only: no shuffle, no sampling-induced skew, and the SAME
    row set on every re-execution — the property that makes training
    runs reproducible.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 10000
    )
    rate = F.lit(float(default_rate))
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == stratum, float(r)).otherwise(rate)
    return df.where(bucket < rate * 10000).select(
        F.col(id_col), F.col(strata_col), bucket.alias("sample_bucket")
    )


def assign_splits(
    df: DataFrame,
    splits: list[tuple[str, float]],
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic dataset split assignment — the train/val/test
    partition of a training corpus. Each row draws a uniform bucket in
    [0, 10000) from md5(key) (stable across runs, engines, cluster
    layouts; never `rand()`), and the cumulative split fractions carve
    the bucket space into contiguous ranges, so the assignment is a
    total, disjoint labeling.

    LEAKAGE SAFETY: pass the dedup-cluster keeper id (not the raw doc
    id) as `key_col` and every near-duplicate family lands in ONE
    split — eval can't see paraphrases of training rows. Fractions
    must sum to 1 (plan-time config error otherwise). Map-side
    projection: no shuffle at any scale.
    """
    total = sum(f for _, f in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    bucket = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 10000
    )
    col = None
    hi = 0.0
    for name, frac in splits[:-1]:
        hi += frac
        cond = bucket < int(round(hi * 10000))
        col = F.when(cond, name) if col is None else col.when(cond, name)
    last = splits[-1][0]
    col = F.lit(last) if col is None else col.otherwise(last)
    return df.withColumn("split", col).withColumn("split_bucket", bucket)


def budget_sample(
    df: DataFrame,
    budgets: dict[str, int],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_budget: int = 0,
) -> DataFrame:
    """Budget-targeted mixture sampling: take EXACTLY n_s rows per
    stratum (the "fill the per-domain token budget" mixing stage —
    where `stratified_sample` is rate-based and approximate in count,
    this is count-exact). Rows are ranked inside each stratum by
    md5(id) (a deterministic uniform shuffle, reproducible across
    retries and engines) and the top `budgets[stratum]` survive.

    Scale: one shuffle on the stratum key; the per-stratum sort is the
    standard window path and AQE splits skewed strata. When a single
    stratum is too large to sort, the two-phase bounded route is
    `operators/ingest.quantile_sample`'s shape: estimate the hash
    threshold at rank n_s from a sample, filter map-side, then
    tie-break only the boundary bucket.
    """
    from pyspark.sql import Window

    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(strata_col).orderBy(h, F.col(id_col))
    budget = F.lit(int(default_budget))
    for stratum, n in sorted(budgets.items()):
        budget = F.when(F.col(strata_col) == stratum, int(n)).otherwise(budget)
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= budget)
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_col: str = "source",
    docs_per_shard: int = 256,
) -> DataFrame:
    """Sequence packing: assign each document to a fixed-token-budget
    training sequence by running token count, packed WITHIN each
    sub-shard (deterministic id order). A doc starting before a
    seq_len boundary joins that sequence — the standard greedy
    concat-packing rule.

    Packing is per-sub-shard BY DESIGN, and the sub-shard key is
    `(shard, floor(id / docs_per_shard))`, NOT the shard alone: a
    global cumsum would be a global sort (one reducer at any scale),
    and partitioning by source alone is just as unbounded the other
    way — a corpus with 5 sources at 100 TB would sort ~20 TB through
    each window reducer. The id-range sub-shard caps every window
    partition at docs_per_shard documents regardless of corpus size,
    so the operator is one bounded-partition shuffle.

    Boundary semantics: each sub-shard packs independently, so its
    last sequence may be partial — the waste is ≤ one sequence per
    docs_per_shard documents (~0.4% at 256 docs × ~500 tokens vs a
    512-token budget), the standard packing tradeoff. A sequence is
    globally identified by (shard, subshard, seq_id); seq_id restarts
    per sub-shard.

    Returns (id, shard, subshard, n_tokens, seq_id).
    """
    from pyspark.sql import Window

    n_tok = F.size(tokens(F.col(text_col)))
    sub = F.floor(F.col(id_col) / F.lit(int(docs_per_shard)))
    w = (
        Window.partitionBy(shard_col, "subshard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        df.select(
            F.col(id_col),
            F.col(shard_col),
            sub.alias("subshard"),
            n_tok.alias("n_tokens"),
        )
        .withColumn(
            "seq_id", F.floor((cum - F.col("n_tokens")) / F.lit(int(seq_len)))
        )
    )


def chunk_passages(
    df: DataFrame,
    window: int = 32,
    stride: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping fixed-width token windows
    (RAG/retrieval passage chunking): chunk i covers words
    [i*stride, i*stride + window); the last chunk starts at
    ceil((n-window)/stride)*stride so every word is covered exactly
    once past the overlap and no degenerate fully-contained tail
    chunks are emitted. Emits (id, chunk_id, chunk_start,
    n_chunk_tokens, chunk_md5) — the md5 doubles as the chunk's
    content address for downstream chunk-level dedup / embedding
    joins.

    Scale: pure map-side explode (sequence + slice inside codegen, no
    shuffle, no UDF); output size is input tokens * (window/stride)
    overlap factor, fan-out bounded per row by the doc's own length.
    """
    tok = tokens(F.col(text_col))
    # integer ceil-div, no float: (n - window + stride - 1) div stride
    last_i = F.greatest(
        F.expr(
            f"(_n - {int(window)} + {int(stride) - 1}) div {int(stride)}"
        ),
        F.lit(0).cast("long"),
    )
    base = df.select(
        F.col(id_col),
        tok.alias("_tok"),
        F.size(tok).cast("long").alias("_n"),
    ).withColumn("_chunks", F.sequence(F.lit(0).cast("long"), last_i))
    start = F.col("chunk_id") * F.lit(int(stride))
    length = F.least(F.lit(int(window)).cast("long"), F.col("_n") - start)
    return (
        base.select(
            id_col,
            F.explode("_chunks").alias("chunk_id"),
            "_tok",
            "_n",
        )
        .select(
            F.col(id_col),
            "chunk_id",
            start.alias("chunk_start"),
            length.alias("n_chunk_tokens"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(
                        F.col("_tok"),
                        (start + 1).cast("int"),
                        length.cast("int"),
                    ),
                )
            ).alias("chunk_md5"),
        )
    )


def dup_span_stats(
    df: DataFrame,
    k: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplication mass per document (the
    suffix-array-free form of Lee et al. 2022's ExactSubstr dedup,
    "Deduplicating Training Data Makes Language Models Better"):
    every overlapping k-word window is content-hashed; a window is
    duplicated iff its hash occurs in >= 2 DISTINCT documents; the
    per-doc duplicated-token mass is the exact union length of the
    duplicated [p, p+k) intervals, computed with one lead() pass over
    the sorted starts (union += min(k, next_start - start)).

    Scale: the df-count on k-gram hashes replaces the pairwise join
    entirely — no candidate-pair explosion exists at any skew; the
    >=2-distinct-docs test is min(doc)!=max(doc) (no COUNT DISTINCT
    expansion); the interval-union window partitions by doc, bounded
    by document length. This is why ExactSubstr scales where
    suffix arrays don't distribute.
    """
    tok = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col), tok.alias("_tok"), F.size(tok).cast("long").alias("n_tokens")
    )
    wins = (
        base.where(F.col("n_tokens") >= k)
        .select(
            id_col,
            "n_tokens",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("n_tokens") - k)
            ).alias("p"),
            "_tok",
        )
        .select(
            id_col,
            "n_tokens",
            "p",
            F.md5(
                F.concat_ws(" ", F.slice("_tok", (F.col("p") + 1).cast("int"), k))
            ).alias("hsh"),
        )
    )
    dup = (
        wins.groupBy("hsh")
        .agg(F.min(id_col).alias("_lo"), F.max(id_col).alias("_hi"))
        .where(F.col("_lo") != F.col("_hi"))
        .select("hsh")
    )
    from pyspark.sql import Window

    dw = wins.join(dup, "hsh", "left_semi")
    w = Window.partitionBy(id_col).orderBy("p")
    spans = dw.withColumn("np", F.lead("p").over(w))
    gap = F.when(
        F.col("np").isNull(), F.lit(int(k)).cast("long")
    ).otherwise(F.least(F.lit(int(k)).cast("long"), F.col("np") - F.col("p")))
    agg = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_windows"),
        F.sum(gap).alias("dup_tokens"),
    )
    return (
        base.select(id_col, "n_tokens")
        .join(agg, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_dup_windows", F.lit(0).cast("long")).alias(
                "n_dup_windows"
            ),
            F.coalesce("dup_tokens", F.lit(0).cast("long")).alias("dup_tokens"),
        )
        .withColumn(
            "dup_ppm", F.expr("(dup_tokens * 1000000) div n_tokens")
        )
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
) -> DataFrame:
    """Learn the first `n_merges` BPE merge rules (Sennrich et al.
    2016) from a corpus: tokenize to words, aggregate the WORD
    FREQUENCY table once (the only corpus-scale pass), then run the
    merge loop on that table — each round counts weighted adjacent
    symbol pairs, picks the max (tie-break: pair string ascending),
    and applies it greedily left-to-right.

    Representation: each word is a bracket-wrapped symbol string
    ('<h><e><y>'); applying a merge is a literal `replace` of
    '<a><b>' with '<ab>', whose leftmost-non-overlapping semantics
    are identical across engines and match BPE's greedy scan
    (assumes alphanumeric words — no '<'/'>' in symbols, which the
    whitespace tokenizer guarantees for the corpus tables).

    Scale: this is why BPE training distributes — the corpus is
    touched ONCE (word-count hash-agg, map-side combined); the merge
    loop runs over the distinct-word table (vocabulary-sized, orders
    of magnitude smaller than the corpus). Returns (merge_rank,
    left_sym, right_sym, pair_count).

    Loop mechanics: each round's top-1 pair is a BOUNDED 1-row
    driver collect (the kmeans/IVF codebook posture — a trained
    tokenizer's merge table IS the model artifact, and collecting it
    driver-side is how every real BPE trainer works) and is applied
    to the vocab repr as LITERAL strings. Broadcasting the top-1 row
    back and joining per round instead costs a broadcast-exchange job
    + a lazy-checkpoint materialization per round — 21 sequential jobs
    for 6 merges at sf0.1, against ~8 in this form. The merge list is
    query output, so every build trains it on the input as it is now.
    """
    merges = bpe_train_merge_list(df, n_merges, text_col)
    return df.sparkSession.createDataFrame(
        merges,
        "merge_rank bigint, left_sym string, right_sym string, "
        "pair_count bigint",
    )


def bpe_train_merge_list(
    df: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
) -> list[tuple]:
    """The trained merge rules of :func:`bpe_train` as a plain list of
    (merge_rank, left_sym, right_sym, pair_count) tuples — the form
    :func:`bpe_segment_counts` consumes."""
    # the ONE corpus-scale pass, checkpointed eagerly so the merge
    # rounds never re-scan the corpus
    cur = (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
        .localCheckpoint(eager=True)
        .select(
            "word",
            "wc",
            F.regexp_replace("word", "(.)", "<$1>").alias("repr"),
        )
    )
    merges: list[tuple] = []
    for r in range(int(n_merges)):
        syms = F.expr("regexp_extract_all(repr, '<([^>]*)>', 1)")
        pairs = (
            cur.withColumn("syms", syms)
            .where(F.size("syms") >= 2)
            .select(
                "wc",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> concat(element_at(syms, i), chr(1), "
                        "element_at(syms, i + 1)))"
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("wc").alias("pair_count"))
        )
        row = (
            pairs.orderBy(F.col("pair_count").desc(), "pair")
            .limit(1)
            .collect()
        )
        if not row:
            break
        pair, pair_count = row[0]["pair"], row[0]["pair_count"]
        left, _, right = pair.partition("\x01")
        merges.append((r, left, right, int(pair_count)))
        # literal replace — vocab-sized map projection, no join, no
        # broadcast (F.lit, not an f-string into SQL: symbols from
        # arbitrary corpora may carry quote chars); lazy checkpoint
        # still cuts the O(rounds^2) lineage growth
        cur = cur.withColumn(
            "repr",
            F.replace(
                F.col("repr"),
                F.lit(f"<{left}><{right}>"),
                F.lit(f"<{left}{right}>"),
            ),
        ).localCheckpoint(eager=False)
    return merges


def bpe_segment_counts(
    df: DataFrame,
    merges,
    n_merges: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: dict | None = None,
) -> DataFrame:
    """Apply learned BPE merges to the corpus and count the resulting
    subword tokens per document (the learned-tokenizer twin of the
    regex-BPE proxy in `token_counts`).

    ``merges`` is the :func:`bpe_train_merge_list` list of
    (rank, left, right) tuples. Every merge applies as a LITERAL
    replace, so the whole segmentation is ONE map-side corpus pass
    inside codegen with zero joins.

    ``carry_cols`` ({name: Column expr}) projects extra expressions
    through the pass (e.g. the whitespace token count) so consumers
    don't re-scan and re-join the corpus for columns derivable from
    the same row."""
    carry = dict(carry_cols or {})
    cur = df.select(
        F.col(id_col),
        *[expr.alias(name) for name, expr in carry.items()],
        F.regexp_replace(
            F.concat_ws(
                "\x02", tokens(F.col(text_col))
            ),
            "([^\x02])",
            "<$1>",
        ).alias("repr"),
    )
    by_rank = {int(m[0]): (m[1], m[2]) for m in merges}
    for r in range(int(n_merges)):
        if r not in by_rank:
            break
        left, right = by_rank[r]
        cur = cur.withColumn(
            "repr",
            F.replace(
                F.col("repr"),
                F.lit(f"<{left}><{right}>"),
                F.lit(f"<{left}{right}>"),
            ),
        )
    n_units = F.size(F.expr("regexp_extract_all(repr, '<([^>]*)>', 1)"))
    return cur.select(
        F.col(id_col),
        *[F.col(name) for name in carry],
        n_units.cast("long").alias("n_bpe_units"),
    )
