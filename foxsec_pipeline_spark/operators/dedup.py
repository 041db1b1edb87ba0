"""Deduplication operators for the training-data pipeline surface.

Seeded by the reference's similarity detector
(`customs/CustomsAccountCreationDist.java:56-126` — Levenshtein-ratio
clustering within a group) and generalized to the standard dedup
family: exact hash, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (100 TB):
- exact_dedup: one shuffle on the content hash; hash computed map-side
  so only (hash, id) shuffles if you project first.
- ngram-jaccard: explode-on-shingle equi-join — candidate generation
  is an equi-join on the shingle, never an O(n²) cross join; the
  per-shingle bucket size is the skew knob (cap via frequent-shingle
  pruning at scale).
- minhash_lsh: candidates meet only within (band, signature) buckets,
  the classic LSH bound; band count trades recall vs join fan-out.
- simhash: fingerprint is a fixed-width agg; near-dup = equal
  fingerprint (or hamming ≤ k via multi-probe of rotated bands).
All expressed with built-in expressions (md5/conv/transform/aggregate),
so whole-stage codegen applies and the DuckDB oracle can reproduce
results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    doc_fingerprint,
    md5_bucket,
    tokens,
)
from .skew import spread


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group by canonical content hash; keep min-id as the survivor.

    Returns (content_hash, keeper_id, n_docs) — one row per distinct
    content. `dropDuplicates` would pick an arbitrary survivor; min-id
    is deterministic (oracle-friendly) and what dedup pipelines want.
    """
    return (
        df.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def _shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int, distinct: bool = True
) -> DataFrame:
    """(id, __ss: array<string>) — per-doc word n-gram shingles built
    ENTIRELY map-side: zero exchanges, zero sorts, zero aggregates.

    r13 (guide §2.1/§2.2): replaces the posexplode + window-`lead`
    shingle pipeline, whose Window(partitionBy id) shuffled and sorted
    the WHOLE exploded token stream (|corpus tokens| rows) before any
    consumer aggregate. The r12 rejection of the `word_shingles` HOF
    does not apply here because its failure mode was never "HOFs are
    slow" but the lambda capturing `tokens(text)` — a regex split —
    re-evaluated PER ELEMENT once CollapseProject inlined it (the rule
    counts CONSUMER EXPRESSIONS, not occurrences, so a single-consumer
    layering does not protect a multiply-used subtree). The fix is a
    LET BINDING the optimizer cannot unpick: the split is the input of
    a single-element outer `transform`, so it evaluates exactly once
    per row and the n-gram lambda only touches the bound lambda
    VARIABLE (never an inlinable attribute). Short docs (< n tokens)
    yield an empty array — downstream explodes drop them, identical to
    the old size-filter, without a second split evaluation. Measured
    interleaved on sf0.1 documents (distinct shingle-hash stream,
    min of 3): let-bound form 0.40 s vs window-lead 0.60-0.81 s, equal
    row counts; shape pinned by tests/test_shingle_kernel.py.
    """
    tok_arr = F.array(tokens(F.col(text_col)))

    def grams(tok):
        return F.when(
            F.size(tok) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(tok) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(tok, i + j) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    sg = F.transform(tok_arr, grams)[0]
    if distinct:
        # string-distinct == the old 60-bit-hash distinct absent an
        # in-doc md5-prefix collision (odds ~C(52,2)·2^-60 ≈ 1e-15 per
        # doc — far below the 4e-7 cross-doc bound already accepted)
        sg = F.array_distinct(sg)
    return spread(df).select(F.col(id_col), sg.alias("__ss"))


def _shingled(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle_hash, n_shingles) exploded — the common candidate
    base. The join key is a 60-bit md5-prefix long, not the shingle
    string: the self-join shuffles (id, n_sh, int64) rows and compares
    longs instead of ~40-byte strings (collision odds at 1e6 distinct
    shingles ≈ 4e-7 — below any bench's noise floor).

    r13: built on `_shingle_arrays` — the per-doc distinct + count
    happen in the array domain (array_distinct/size) inside the same
    map pass, so the r12 shape's Exchange(id) + Sort over the token
    stream AND its collect_set aggregate are gone; md5 hashes after
    the explode in whole-stage codegen. First exchange a consumer
    pays is its own (e.g. groupBy(shingle)). n_sh is computed BELOW
    the explode (its own projection layer) so the Generate carries
    (id, n_sh) per output row, never the whole shingle array."""
    base = _shingle_arrays(df, id_col, text_col, n).select(
        F.col(id_col),
        F.col("__ss"),
        F.size("__ss").cast("long").alias("n_sh"),
    )
    return base.select(
        F.col(id_col), F.col("n_sh"), F.explode("__ss").alias("__s")
    ).select(
        F.col(id_col), F.col("n_sh"), md5_bucket(F.col("__s")).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int = 64,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard ≥ threshold.

    |A∩B| via shingle equi-join + count; |A∪B| = |A|+|B|-|A∩B|.
    One explode, one shuffle join on the shingle, one pair-group agg.

    `df_cap` is the document-frequency pruning knob: shingles shared
    by more than df_cap documents are dropped BEFORE pair generation.
    The per-shingle pair explode is quadratic in the shingle's doc
    frequency, so one boilerplate shingle shared by 10^5 docs would
    alone generate 5e9 pairs — the skew bomb at 100 TB. Pruned
    shingles no longer contribute to the intersection count, so
    jaccard is (slightly) underestimated for pairs that relied on
    frequent shingles; the oracle applies the identical cap. Measured
    on the driver testdata: max DF is 7 at sf0.01 and 25 at sf0.1, so
    the default cap of 64 changes nothing at test scale — it exists
    for the corpus where it matters.
    """
    ex = _shingled(df, id_col, text_col, n)
    # group docs per shingle and generate ordered pairs inside the
    # array (combinations via an indexed transform) rather than
    # self-joining: the self-join would recompute the whole
    # shingle+digest pipeline for both sides (no exchange reuse for
    # aliased subplans), and the pair stream shuffles once on the
    # shingle instead of twice.
    grouped = (
        ex.groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.struct(id_col, "n_sh"))).alias("docs"))
        .where((F.size("docs") >= 2) & (F.size("docs") <= int(df_cap)))
    )
    # AQE sizes the post-agg stage by its (tiny) byte count and
    # coalesces it to a few partitions — but the next stage EXPLODES
    # the doc arrays quadratically, multiplying work AQE can't see. An
    # explicit-width repartition of the (small) grouped rows spreads
    # the explode. Pair generation is two NATIVE Generate nodes with an
    # ordered post-filter (codegen) — an indexed-transform combinations
    # lambda produces fewer rows but evaluates interpreted, ~3× slower.
    par = df.sparkSession.sparkContext.defaultParallelism
    pairs = (
        grouped.repartition(par)
        .select("docs", F.explode("docs").alias("a"))
        .select("a", F.explode("docs").alias("b"))
        .where(F.col("a")[id_col] < F.col("b")[id_col])
        .groupBy(
            F.col("a")[id_col].alias("doc_a"),
            F.col("b")[id_col].alias("doc_b"),
            F.col("a")["n_sh"].alias("na"),
            F.col("b")["n_sh"].alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        pairs.where(jac >= F.lit(float(threshold)))
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash banding.

    Signature: num_hashes md5-permutation minima over word-n-gram
    shingles. Docs sharing any band (band_size consecutive signature
    slots) become a candidate pair. Join key is (band, band_sig) —
    an equi-join whose fan-out is bounded by bucket sizes, the LSH
    scale guarantee. Verify candidates with `ngram_jaccard_pairs`
    downstream if exact Jaccard is needed.
    """
    assert num_hashes % band_size == 0
    # signature is computed RELATIONALLY: explode shingle hashes, then
    # groupBy(id).agg(min(perm_i(h))) per permutation — the agg stays
    # codegen and map-side partial agg shrinks the exploded shingles
    # back to one row per (doc, partition) before the exchange, so the
    # shuffle is ~|docs| rows at any scale. An array-shaped signature
    # (transform + array_min per permutation) was rejected in r9/r12:
    # CollapseProject inlines it into every band column, duplicating
    # the HOF tree ~num_hashes^2 times (~1.7 s COMPILE vs 0.3 s run).
    # r13: the shingle stream itself is the map-side `_shingle_arrays`
    # kernel (per-doc distinct in the array domain; min per permutation
    # is duplicate-insensitive, so dedup'd shingles give the identical
    # signature) — the old window-lead form's Exchange(id) + Sort over
    # the full token stream is gone, and the ONLY exchange before
    # banding moves |docs| partial-agg rows, not |corpus tokens|.
    if hashed is None:
        hashed = (
            _shingle_arrays(df, id_col, text_col, n)
            .select(F.col(id_col), F.explode("__ss").alias("__s"))
            .select(
                F.col(id_col),
                (md5_bucket(F.col("__s")) % F.lit(MINHASH_P)).alias("__h"),
            )
        )
    # else: caller supplies (id_col, __h) shingle hashes — e.g. a
    # query that ALSO needs the hash table for its own legs passes the
    # shared (deduplicated) relation so the corpus shingle pipeline
    # exists once in the plan and ReuseExchange serves every consumer.
    # min() per permutation is duplicate-insensitive, so a distinct
    # hash set yields the identical signature (guide §2.4).
    sig = hashed.groupBy(id_col).agg(
        *[
            F.min(
                (F.lit(MINHASH_A[i]) * F.col("__h") + F.lit(MINHASH_B[i]))
                % F.lit(MINHASH_P)
            ).alias(f"__h{i}")
            for i in range(num_hashes)
        ]
    )
    n_bands = num_hashes // band_size
    bands = sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"__h{band * band_size + j}").cast("string")
                                for j in range(band_size)
                            ],
                        ).alias("band_sig"),
                    )
                    for band in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select(id_col, "bs.band", "bs.band_sig")
    # pairs are generated INSIDE each (band, band_sig) bucket by
    # grouping ids and exploding ordered combinations — a self-join on
    # the bucket key would re-evaluate the whole (higher-order,
    # interpreted) signature pipeline for both join sides, since
    # Catalyst gives aliased subplans no exchange reuse. One signature
    # pass, one shuffle on the bucket key; bucket width stays the LSH
    # fan-out bound either way.
    grouped = (
        bands.groupBy("band", "band_sig")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("docs"))
        .where(F.size("docs") >= 2)
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        grouped.repartition(par)
        .select("docs", F.explode("docs").alias("doc_a"))
        .select("doc_a", F.explode("docs").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


def dedup_clusters(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Resolve candidate pairs into duplicate clusters with a
    canonical keeper — the *action* step the candidate generators
    (jaccard / minhash / embedding) feed.

    Connected components by min-label propagation: every node starts
    labeled with itself; each round a node adopts the minimum label
    among itself and its neighbors; at fixpoint label(x) = min id of
    x's component, which doubles as the cluster keeper. Convergence
    needs O(diameter) rounds — near-dup graphs are dense clumps with
    tiny diameters, and `max_iterations` bounds the pathological chain
    case.

    Returns (id_col, cluster_keeper, cluster_size) for EVERY node in
    `nodes` — singletons keep themselves, so the output is directly a
    keep/drop decision: drop rows where id != cluster_keeper. Pair
    endpoints missing from `nodes` get a row too.

    Loop mechanics:
    - edges hold both directions of every pair, built in one pass by
      exploding a two-element array; duplicate edges are harmless to
      a min, so there is no distinct. Only edge-touched nodes enter
      the loop, with labels seeded at min(self, neighbors) by one
      aggregate over the edges.
    - each round is ONE aggregate: every node receives its neighbors'
      labels (edges joined to labels on dst) plus its own label,
      marked as its own, and `groupBy(node)` yields the new label
      (min) and the old one (the marked row) together — no join back.
    - the round's result is cut with an eager `localCheckpoint`, then
      one `first()` probe over rows whose label fell answers the
      fixpoint test. The checkpoint it replaced is released at once,
      and the edges after the loop, so only the final labels stay
      pinned, until the returned DataFrame is garbage-collected.
    - cluster_size is a count window over the label.
    """
    e = F.explode(
        F.array(
            F.struct(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
            F.struct(F.col(b_col).alias("src"), F.col(a_col).alias("dst")),
        )
    )
    edges = (
        pairs.select(e.alias("__e"))
        .select("__e.src", "__e.dst")
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        sent = edges.join(labels, edges["dst"] == labels["node"]).select(
            F.col("src").alias("node"),
            "label",
            F.lit(None).alias("__old"),
        )
        own = labels.select("node", "label", F.col("label").alias("__old"))
        upd = (
            own.unionByName(sent)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.max("__old").alias("__old"))
            .localCheckpoint(eager=True)
        )
        _release_checkpoint(labels)
        labels = upd
        if upd.where(F.col("label") < F.col("__old")).first() is None:
            break
    _release_checkpoint(edges)
    singletons = (
        nodes.select(F.col(id_col).alias("node"))
        .join(labels.select("node"), "node", "left_anti")
        .withColumn("label", F.col("node"))
    )
    return labels.select("node", "label").unionByName(singletons).select(
        F.col("node").alias(id_col),
        F.col("label").alias("cluster_keeper"),
        F.count(F.lit(1)).over(Window.partitionBy("label")).alias("cluster_size"),
    )


def _release_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD behind an eager `localCheckpoint` DataFrame.
    `DataFrame.unpersist` only drops cache-manager entries; a local
    checkpoint lives in the block manager until the ContextCleaner
    reclaims it, and a loop would otherwise pin one per round."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """Per-document SimHash fingerprint (bit-majority over token
    hashes), as (id, simhash int).

    Token hash = first ceil(bits/4) md5 hex chars -> `bits`-bit int
    (portable across engines; bits <= 60 so the value and every bit
    weight 2^b stay inside a signed 64-bit long in BOTH Spark and
    DuckDB). Bit b of the fingerprint is 1 iff sum over tokens of
    (+1 if bit set else -1) > 0, i.e. iff 2*#set > #tokens. Computed
    over the token array per row — no explode, no shuffle: a pure
    map-side fingerprint, which is what lets it run over 100 TB as a
    scan.

    The md5 token-hash array is MATERIALIZED in its own projection
    before the per-bit passes: higher-order functions evaluate
    interpreted and re-evaluate their input subtree, so referencing
    the hash expression from 16 per-bit aggregates re-ran md5 over
    every token 16x (measured ~3x end-to-end on the catalog bench).
    CollapseProject keeps the split because the array is referenced
    16 times and is not cheap to inline.
    """
    if not 1 <= bits <= 60:
        raise ValueError("bits must be in [1, 60] (signed-long safety)")
    nhex = (bits + 3) // 4
    df = spread(df)
    # per-token `bits`-bit portable hash, computed ONCE per row
    th = F.transform(
        tokens(F.col(text_col)),
        lambda t: F.conv(F.substring(F.md5(t), 1, nhex), 16, 10).cast("long"),
    )
    base = df.select(F.col(id_col), th.alias("__th"))

    # The per-bit majority sum is generated as ONE SQL string parsed
    # by a single F.expr: the Column-API form (60 filter() HOFs built
    # through py4j) cost ~7.6k gateway round-trips = 1.4 s of pure
    # DRIVER time per plan build (profiled; guide §1.2 — fixed driver
    # cost paid on every bench rep). The parsed tree is operator-
    # identical: integer bitwiseAND, NOT floor(h/2^b) — double
    # division silently drops low bits of hashes >= 2^53, which
    # corrupted every low-order fingerprint bit at 60-bit width
    # (exact at the old 16-bit width by luck of magnitude).
    fp_sql = " + ".join(
        f"(CASE WHEN 2 * size(filter(__th, h -> (h & {1 << b}) != 0))"
        f" > size(__th) THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return base.select(
        F.col(id_col), F.expr(fp_sql).cast("long").alias("simhash")
    )


def decontaminate(
    df: DataFrame,
    probe_predicate,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark/eval-set decontamination: flag training documents
    sharing any word-n-gram with the probe (eval) subset — the overlap
    rule used to keep test sets out of training corpora.

    `probe_predicate` selects the probe docs (an eval-set id list or
    flag column). Returns (id, n_overlap) for contaminated TRAINING
    docs only; n_overlap = how many of the doc's distinct shingles
    appear anywhere in the probe set. Scale shape: probe sets are
    small by nature, so their distinct-shingle side BROADCASTS and the
    corpus is one shingle pass + a map-side semi-join — the corpus
    never shuffles on the probe key.
    """
    sh = _shingled(df, id_col, text_col, n)
    probes = (
        sh.where(probe_predicate).select("shingle").distinct()
    )
    return (
        sh.where(~probe_predicate)
        .join(F.broadcast(probes), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def passage_dedup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 3,
) -> DataFrame:
    """Inter-document PASSAGE dedup stats (RefinedWeb-style): each doc
    splits into non-overlapping `window`-word chunks; a chunk whose
    text occurs anywhere else in the corpus (any doc, any position,
    including elsewhere in the same doc) is "duplicated". Returns
    (id, n_passages, n_dup_passages, dup_ratio) — the keep/trim signal
    a training-data pipeline acts on before exact/near dedup of whole
    documents catches reformatted copies.

    Scale shape: relational chunking (posexplode + one ordered
    group-concat per (doc, chunk)), global passage frequencies by one
    hash-agg on the passage, then an equi-join back on the passage
    string — two shuffles on uniformly-hashed keys, no pair explode
    anywhere. At 100 TB the passage join is the standard dedup-join;
    frequency skew (boilerplate passages) stays ONE ROW per passage on
    the agg side, so no hot reducer.
    """
    ex = spread(df).select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "__w")
    )
    ch = (
        ex.groupBy(id_col, (F.col("pos") / int(window)).cast("long").alias("__chunk"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "__w"))),
                    lambda x: x["__w"],
                ),
                " ",
            ).alias("__passage")
        )
    )
    gc = ch.groupBy("__passage").agg(F.count(F.lit(1)).alias("__g"))
    return (
        ch.join(gc, "__passage")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.count(F.when(F.col("__g") > 1, 1)).alias("n_dup_passages"),
            F.round(
                F.count(F.when(F.col("__g") > 1, 1)) / F.count(F.lit(1)), 6
            ).alias("dup_ratio"),
        )
    )


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    bands: int = 2,
    max_hamming: int = 1,
) -> DataFrame:
    """EXACT near-dup pairs by SimHash hamming distance <= max_hamming,
    found via band blocking: the fingerprint splits into `bands` equal
    bit-slices, and by pigeonhole any pair within hamming
    <= bands - 1 matches exactly on at least one slice — so for
    max_hamming <= bands - 1 the banded equi-join is COMPLETE, and the
    exact bit_count(xor) post-filter makes the output identical to the
    all-pairs scan (no recall question, unlike MinHash banding).

    Returns (doc_a, doc_b, hamming). Scale shape: fingerprints are
    map-side (see `simhash`); candidates are generated bucket-locally
    per (band, slice-value) — one shuffle on the slice key, pair
    volume = sum of bucket^2, never corpus^2. The fingerprint rides
    through the bucket explode as a (id, hash) struct, so the
    text-derived simhash is computed ONCE and the hamming filter needs
    no join back to the corpus (measured 2x on the catalog bench vs
    the join-back formulation, which re-ran the tokenizing projection
    on both join probes).
    """
    fp = simhash(df, id_col, text_col, bits)
    return hamming_pairs(
        fp, id_col=id_col, hash_col="simhash", bits=bits,
        bands=bands, max_hamming=max_hamming,
    )


def _chunked_self_pairs(grouped, arr_col, par, chunk=1024):
    """All element pairs (a, b) from each row's SORTED struct array,
    emitted through a chunk-pair grid: the array splits into
    `chunk`-element slices and every (slice_i, slice_j | i <= j)
    grid row becomes an independent unit of quadratic emission.

    Two scale properties the naive explode-the-array-per-element
    form lacks (measured on multimodal_phash_dedup at the 30x
    corpus, max bucket 8,298 docs, Sum n^2 = 512M):
    - the spread shuffle carries O(n * chunk) bytes per group
      instead of O(n^2) (each exploded element dragging the FULL
      array through the exchange) — 8 GB of struct arrays at 30x,
      the super-linear wall in STEPUP_r11's first phash row;
    - a hot group's emission runs at machine width instead of one
      task per group.

    Callers filter `a.<first_field> < b.<first_field>` — valid
    across chunks because slices of a sorted array are contiguous
    ranges — and project their own columns."""
    grid = (
        grouped.select(
            F.expr(
                f"transform(sequence(0, (size({arr_col})-1) div {chunk}),"
                f" c -> slice({arr_col}, c*{chunk}+1, {chunk}))"
            ).alias("__chunks")
        )
        .select(
            F.posexplode("__chunks").alias("__ci", "__ca"),
            F.col("__chunks"),
        )
        .select(
            "__ci", "__ca", F.posexplode("__chunks").alias("__cj", "__cb")
        )
        .where(F.col("__ci") <= F.col("__cj"))
        .select("__ca", "__cb")
    )
    return (
        grid.repartition(par)
        .select(F.explode("__ca").alias("a"), "__cb")
        .select("a", F.explode("__cb").alias("b"))
    )


def hamming_pairs(
    fp: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    bits: int = 16,
    bands: int = 2,
    max_hamming: int = 1,
) -> DataFrame:
    """Banded exact Hamming pair mining over ANY fingerprint column
    (SimHash, media perceptual hash, ...): the pigeonhole band join +
    exact bit_count post-filter documented on `simhash_hamming_pairs`,
    factored out so every 64-bit-ish fingerprint family shares one
    scale shape. Input: (id_col, hash_col) rows; output
    (doc_a, doc_b, hamming), complete for max_hamming <= bands - 1."""
    if max_hamming > bands - 1:
        raise ValueError("completeness needs max_hamming <= bands - 1")
    assert bits % bands == 0
    bw = bits // bands
    slices = F.array(*[
        F.shiftright(F.col(hash_col), bw * i).bitwiseAND(F.lit(2 ** bw - 1))
        for i in range(bands)
    ])
    banded = fp.select(
        F.struct(F.col(id_col).alias("id"), F.col(hash_col).alias("h"))
        .alias("__m"),
        F.posexplode(slices).alias("__band", "__sv"),
    )
    grouped = (
        banded.groupBy("__band", "__sv")
        .agg(F.sort_array(F.collect_list("__m")).alias("__ms"))
        .where(F.size("__ms") >= 2)
    )
    par = fp.sparkSession.sparkContext.defaultParallelism
    return (
        _chunked_self_pairs(grouped, "__ms", par)
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h")))
            .cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= int(max_hamming))
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_ppm: int = 800_000,
    df_cap: int = 64,
) -> DataFrame:
    """Near-duplicate ORDERED pairs by shingle containment
    C(a→b) = |A∩B| / |A| ≥ threshold — the asymmetric measure that
    catches subset/superset duplication (a doc embedded in a longer
    one), which symmetric Jaccard structurally misses: a 100-shingle
    doc fully contained in a 10,000-shingle doc has C = 1.0 but
    jaccard ≈ 0.01. The standard second pass of a corpus dedup after
    Jaccard (quotes, boilerplate-wrapped reposts, truncated copies).

    Same candidate machinery as `ngram_jaccard_pairs` (shingle
    group + in-array pair generation, df_cap prunes the quadratic
    skew bomb); emits BOTH directions of each pair since containment
    is directional. Threshold and ratio in integer ppm — the filter
    compares `common * 1e6 >= threshold * n_a` in exact int64
    arithmetic (n_sh and common are ≤ doc length, no overflow).
    """
    ex = _shingled(df, id_col, text_col, n)
    grouped = (
        ex.groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.struct(id_col, "n_sh"))).alias("docs"))
        .where((F.size("docs") >= 2) & (F.size("docs") <= int(df_cap)))
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    pairs = (
        grouped.repartition(par)
        .select("docs", F.explode("docs").alias("a"))
        .select("a", F.explode("docs").alias("b"))
        .where(F.col("a")[id_col] != F.col("b")[id_col])
        .groupBy(
            F.col("a")[id_col].alias("doc_a"),
            F.col("b")[id_col].alias("doc_b"),
            F.col("a")["n_sh"].alias("n_a"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        pairs.where(
            F.col("common") * 1_000_000 >= F.lit(int(threshold_ppm)) * F.col("n_a")
        )
        .select(
            "doc_a", "doc_b", "n_a", "common",
            F.expr("(common * 1000000) div n_a").alias("containment_ppm"),
        )
    )


def bloom_decontaminate(
    df: DataFrame,
    probe_predicate,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    m_bits: int = 63488,
    k: int = 3,
) -> DataFrame:
    """Decontamination via a DETERMINISTIC Bloom filter — the scale
    path of `decontaminate`: instead of broadcasting the probe set's
    distinct shingles (O(probe-shingles) strings per executor), build
    an m-bit Bloom filter (m_bits/62 int64 words, k hash probes per
    shingle) and broadcast THAT — a fixed few KB regardless of probe
    size. False positives over-flag at the standard Bloom rate
    (~(1-e^{-kn/m})^k; with the 63,488-bit default and a few thousand
    probe shingles, well under 1%); false negatives are impossible,
    which is the direction that matters for decontamination.

    Every hash is integer arithmetic on the shingle's 60-bit md5
    prefix (h1 = low 32 bits, h2 = odd form of the high bits,
    pos_i = (h1 + i*h2) mod m — Kirsch-Mitzenmacher double hashing),
    so filter contents and membership answers are bit-identical
    across engines, partitionings, and retries — unlike
    DataFrame.stat.bloomFilter, whose seeds are engine-internal.
    Returns (id, n_shingles, n_flagged, is_contaminated) for every
    training (non-probe) doc. 62 usable bits per word keeps the
    1<<bit shift overflow-free on engines that check (DuckDB errors
    on 1<<63).
    """
    words = int(m_bits) // 62 * 62  # whole words only
    sh = _shingled(df, id_col, text_col, n)
    h1 = F.expr("shingle % 4294967296")
    h2 = F.expr("(shingle div 4294967296) * 2 + 1")
    probes = (
        sh.select(
            F.col(id_col), F.col("n_sh"), F.col("shingle"),
            F.explode(F.sequence(F.lit(0), F.lit(int(k) - 1))).alias("i"),
        )
        .withColumn("pos", (h1 + F.col("i") * h2) % F.lit(words))
        .withColumn("word", F.expr("pos div 62"))
        .withColumn("bit", (F.col("pos") % 62).cast("int"))
    )
    bloom = (
        probes.where(probe_predicate)
        .groupBy("word")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("wbits"))
    )
    hits = (
        probes.where(~probe_predicate)
        .join(F.broadcast(bloom), "word", "left")
        .withColumn(
            "hit",
            F.when(
                F.col("wbits").isNotNull()
                & (
                    F.expr("wbits & shiftleft(CAST(1 AS BIGINT), bit)") != 0
                ),
                1,
            ).otherwise(0),
        )
    )
    per_shingle = hits.groupBy(id_col, "shingle").agg(
        F.max("n_sh").alias("n_sh"), F.min("hit").alias("all_hit")
    )
    return per_shingle.groupBy(id_col).agg(
        F.max("n_sh").alias("n_shingles"),
        F.sum("all_hit").cast("long").alias("n_flagged"),
        (F.sum("all_hit") > 0).alias("is_contaminated"),
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    t_num: int = 3,
    t_den: int = 5,
    bitmask_vocab_cap: int = 62,
    multiword_vocab_cap: int = 8192,
    dense_emission_factor: float = 2.0,
    dense_docs_cap: int = 500_000,
) -> DataFrame:
    """LOSSLESS token-set Jaccard self-join at threshold t_num/t_den,
    with a STATISTICS-DRIVEN choice of physical algorithm (the same
    move Catalyst makes between broadcast and shuffle joins):

    - **Bitmask path** (measured vocabulary <= `bitmask_vocab_cap`):
      token sets are subsets of a tiny universe, so every set packs
      into one int64 bitmask. Docs compress to DISTINCT (mask, size)
      rows first — corpora with small vocabularies are exactly the
      corpora full of identical sets — and the pair stage compares
      distinct masks under a broadcast loop join (the broadcast side
      is the compressed mask table, bounded by min(#docs, 2^vocab)):
      popcount length-filter, then |∩| = bit_count(a&b). Qualifying
      mask pairs expand back to doc pairs map-side from the carried
      doc-id arrays; identical-mask groups (J = 1) pair by array
      combination with no join at all. Per-comparison cost is three
      int64 bit ops — this is why a 31-word corpus that makes prefix
      filtering degenerate (every token near-ubiquitous => candidate
      explosion) runs ~30x faster here.
    - **Prefix-filter path** (real-text vocabularies; the PPJoin
      candidate rule, Xiao et al. 2008 / Chaudhuri et al. 2006):
      order every doc's distinct tokens by global rarity and emit
      only the |d| - ceil(t*|d|) + 1 RAREST as join keys — any pair
      with J >= t provably shares a prefix token, so recall is 1.0 by
      construction. The PPJoin LENGTH filter (t_den*min(|A|,|B|) >=
      t_num*max(|A|,|B|)) prunes inside the join condition before
      the pair materializes. Verification is itself TIERED on the
      measured vocabulary: MID-VOCAB corpora (<= `multiword_vocab_cap`)
      pack every token set into ceil(vocab/62) int64 mask columns and
      score each pair as a static sum of bit_count(a&b) terms
      (register bit math, whole-stage codegen — ~10x cheaper per pair
      than array intersection); real-text vocabularies re-attach full
      sorted token arrays and compute the exact intersection map-side
      (`array_intersect`).
    - **Dense mask path** (mid vocab AND the measured candidate
      emission Sum_w C(prefix_df_w, 2) exceeds `dense_emission_factor`
      x C(n_docs, 2), n_docs <= `dense_docs_cap`): prefix filtering is
      output-sensitive, and on a pair-dense corpus its candidate
      stream plus the pair distinct cost MORE than sweeping every
      pair. Docs chunk into contiguous-id mask blocks; the chunk-pair
      grid explodes into a block-nested all-pairs sweep of static
      popcount math — one codegen stage, no pair shuffle, no distinct.

    Both paths are EXACT and return identical rows (cross-verified in
    tests against brute force AND against each other); the threshold
    test everywhere is the cross-multiplied integer comparison
    `t_den*|∩| >= t_num*|∪|` — t stays rational end to end, no float.

    Scale: the driver-side actions are bounded 1-row statistics
    collects (vocabulary count, doc count, candidate-emission
    estimate, array byte estimate — the Catalyst-statistics posture):
    they pick the physical path, size the pair-dedup exchange, and
    byte-bound the verify broadcasts. At
    real-text vocabularies the prefix path's join keys are rare by
    construction so per-key fan-out stays small; at degenerate
    vocabularies the bitmask path's broadcast side is the compressed
    distinct-set table and the quadratic stage is register-width bit
    math over it, with output expansion bounded by the true result
    size.
    """
    from pyspark.sql import Window

    tok = (
        df.select(
            F.col(id_col), F.explode(tokens(F.col(text_col))).alias("w")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_vocab = tok.select("w").distinct().count()
    if n_vocab <= bitmask_vocab_cap:
        return _jaccard_bitmask_path(tok, id_col, t_num, t_den)
    return _jaccard_prefix_path(
        tok,
        id_col,
        t_num,
        t_den,
        n_vocab,
        multiword_vocab_cap,
        dense_emission_factor,
        dense_docs_cap,
    )


def _jaccard_bitmask_path(tok, id_col, t_num, t_den):
    vocab = (
        tok.select("w")
        .distinct()
        .select(
            "w",
            (
                F.row_number().over(Window.orderBy("w")) - 1
            ).alias("bit"),
        )
    )
    masks = (
        tok.join(F.broadcast(vocab), "w")
        .groupBy(id_col)
        .agg(
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), bit)"))
            .cast("long")
            .alias("mask"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    dm = masks.groupBy("mask", "n").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    a = dm.alias("a")
    b = dm.alias("b")
    inter = F.expr("bit_count(a.mask & b.mask)").cast("long")
    uni = F.col("a.n") + F.col("b.n") - inter
    cross = (
        a.join(
            F.broadcast(b),
            (F.col("a.mask") < F.col("b.mask"))
            # PPJoin length filter on popcounts
            & (
                F.least(F.col("a.n"), F.col("b.n")) * t_den
                >= F.greatest(F.col("a.n"), F.col("b.n")) * t_num
            )
            & (inter * t_den >= uni * t_num),
        )
        .select(
            F.col("a.ids").alias("ids_a"),
            F.col("b.ids").alias("ids_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
            inter.alias("n_inter"),
        )
        .select(
            F.explode("ids_a").alias("x"),
            "ids_b",
            "na",
            "nb",
            "n_inter",
        )
        .select(
            "x",
            F.explode("ids_b").alias("y"),
            "na",
            "nb",
            "n_inter",
        )
        .select(
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
            F.when(F.col("x") < F.col("y"), F.col("na"))
            .otherwise(F.col("nb"))
            .alias("n_a"),
            F.when(F.col("x") < F.col("y"), F.col("nb"))
            .otherwise(F.col("na"))
            .alias("n_b"),
            "n_inter",
        )
    )
    # identical-set groups: every within-group pair has J = 1.
    # Ordered pair expansion as two chained codegen Generate stages
    # (posexplode + slice-explode), not the interpreted
    # flatten/transform HOF — same rewrite as
    # catalog_mining._basket_pairs (r9: 1.18 s -> 0.71 s on the
    # identical expansion).
    same = (
        dm.where(F.col("cnt") >= 2)
        .select("n", F.posexplode("ids").alias("_i", "doc_a"), "ids")
        .select(
            "n",
            "doc_a",
            F.explode(
                F.expr("slice(ids, _i + 2, size(ids))")
            ).alias("doc_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n").alias("n_a"),
            F.col("n").alias("n_b"),
            F.col("n").alias("n_inter"),
        )
    )
    out = cross.unionAll(same) if t_num <= t_den else cross
    return out.select(
        "doc_a",
        "doc_b",
        "n_a",
        "n_b",
        "n_inter",
        (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        .cast("long")
        .alias("n_union"),
    ).withColumn(
        "jaccard_ppm", F.expr("(n_inter * 1000000) div n_union")
    )


# Target pre-dedup candidate pairs of per-task state in the sparse
# path's pair-key exchange (~16 bytes/pair of dedup hash-map entry ->
# ~400 MB/task); the exchange width is ceil(emission / this), floored
# at machine parallelism.
_PAIRS_PER_DEDUP_TASK = 25_000_000

# One broadcast side of a verify dim (mask columns or token arrays)
# must fit this bound or the verify falls back to the AQE shuffle
# join. Shared by BOTH verify tiers (r12 — the array tier previously
# gated on a 2M-ROW count, an OOM-grade multi-GB broadcast on real
# text).
_BROADCAST_BYTES_CAP = 512 * 2**20

# Driver-side statistics of the most recent prefix-path planning
# decision (path taken, n_docs, emission, chosen width) — introspection
# for tests and debugging only; never read by the plans themselves.
_LAST_STATS: dict = {}


def _jaccard_prefix_path(
    tok,
    id_col,
    t_num,
    t_den,
    n_vocab=None,
    multiword_vocab_cap=8192,
    dense_emission_factor=2.0,
    dense_docs_cap=500_000,
):
    dfreq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("wdf"))
    ranked = tok.join(dfreq, "w").select(
        id_col,
        "w",
        F.row_number()
        .over(
            Window.partitionBy(id_col).orderBy("wdf", "w")
        )
        .cast("long")
        .alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy(id_col))
        .cast("long")
        .alias("n"),
    )
    # prefix length |d| - ceil(t|d|) + 1 with ceil in exact integers
    pref = ranked.where(
        F.col("r")
        <= F.col("n")
        - F.expr(f"(n * {t_num} + {t_den - 1}) div {t_den}")
        + 1
    ).select(id_col, "w", "n")
    # Candidate generation (r11 rewrite — the dense-corpus skew bomb):
    # the original pref-pref self-join placed every token's quadratic
    # pair emission in the ONE task that hashes the token. On a dense
    # corpus (the 10x near-dup replica testdata is 57%-pair-dense by
    # construction) hot prefix tokens stalled 22 straggler tasks for
    # minutes, and an explicit repartition that pins the stage width
    # also opts the join out of AQE skew splitting. Grouped-explode
    # form instead (the ngram_jaccard pattern — one shuffle on the
    # token, no aliased-subplan recompute), extended with a CHUNK
    # GRID: each token's sorted doc array splits into 1024-doc
    # chunks, and every (chunk_i, chunk_j | i <= j) grid row becomes
    # an independent unit of quadratic emission. A token shared by p
    # docs spreads over C(ceil(p/1024)+1, 2) tasks instead of one
    # p^2/2 task, so emission runs at machine width. Pair order stays
    # doc_a < doc_b because sort_array chunks are consecutive id
    # ranges. The PPJoin length filter prunes before the pair
    # materializes, exactly as in the join form.
    par = tok.sparkSession.sparkContext.defaultParallelism
    # DENSITY decision (r11): prefix filtering is output-sensitive —
    # its cost is the candidate emission Sum_w C(p_w, 2) over prefix
    # tokens, which beats brute force only when candidates << all
    # pairs. On a dense corpus (the 10x near-dup replica testdata:
    # vocab 2637, hottest token in 78% of docs, candidate emission
    # ~17x the C(n,2) bound) the candidate stream plus its distinct
    # costs far MORE than comparing every pair as register bit math.
    # Both sides of the tradeoff are measured from the data (two
    # cheap driver actions, the same posture as the vocab count) and
    # the dense path is only available when token sets pack into
    # multi-word masks and the mask table stays modest.
    #
    # n_docs and the emission estimate are computed UNCONDITIONALLY
    # (r12): the density decision consumes them when the vocab packs
    # into masks, and the pair-dedup exchange width below derives
    # from emission on EVERY sparse-path run — a fixed width was the
    # same class of constant the r11 AQE find replaced (held to ~6B
    # candidates at ~1 GB/task, then per-task dedup state grows
    # linearly with corpus). Both are 1-row bounded statistics,
    # memoized per (session, probe plan) — r13, the same
    # plan_stat_memo posture as the prefix strip, so bench reps and
    # repeat callers don't re-pay the token-stream pass at plan build.
    from ..session import plan_stat_memo

    n_docs = plan_stat_memo(
        tok.select(id_col).distinct(), lambda p: p.count()
    )
    emission = plan_stat_memo(
        pref.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("p"))
        .agg(F.sum(F.expr("p * (p - 1) div 2")).alias("em")),
        lambda p: p.collect()[0]["em"] or 0,
    )
    if n_vocab is not None and n_vocab <= multiword_vocab_cap:
        all_pairs = n_docs * (n_docs - 1) // 2
        if (
            n_docs <= dense_docs_cap
            and emission > dense_emission_factor * all_pairs
        ):
            _LAST_STATS.update(
                path="dense", n_docs=n_docs, emission=emission, width=None
            )
            return _jaccard_dense_mask_path(
                tok, id_col, t_num, t_den, n_vocab
            )
    grouped = (
        pref.groupBy("w")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col(id_col).alias("i"), F.col("n").alias("n"))
                )
            ).alias("ds")
        )
        .where(F.size("ds") >= 2)
    )
    # The distinct's hash distribution is satisfied by an
    # explicit-width exchange on the pair keys: without it AQE sizes
    # the read on the compresses-20x int-pair shuffle bytes and
    # coalesces the final dedup to ~10 tasks of 64M-entry hash maps
    # (a GC spiral measured to freeze the executor past the 120 s
    # heartbeat at the 10x corpus). Width is EMISSION-DERIVED (r12,
    # replacing a par*8 constant that was right at the 30x corpus's
    # ~6B-pair stream but nowhere else): target ~25M pre-dedup
    # candidate pairs of per-task dedup state, floored at machine
    # width — the estimate is the exact upper bound on rows entering
    # this exchange (the length filter only removes).
    width = max(par, -(-emission // _PAIRS_PER_DEDUP_TASK))
    _LAST_STATS.update(
        path="sparse", n_docs=n_docs, emission=emission, width=width
    )
    cand = (
        _chunked_self_pairs(grouped, "ds", par * 4)
        .where(
            (F.col("a.i") < F.col("b.i"))
            # PPJoin length filter: prune before the pair materializes
            & (
                F.least(F.col("a.n"), F.col("b.n")) * t_den
                >= F.greatest(F.col("a.n"), F.col("b.n")) * t_num
            )
        )
        .select(F.col("a.i").alias("doc_a"), F.col("b.i").alias("doc_b"))
        .repartition(width, "doc_a", "doc_b")
        .distinct()
    )
    # The verify fuses into the distinct's output stage (explicit
    # width above — no exchange in between), so the per-pair scoring
    # runs at machine width with no extra shuffle of the pair stream.
    if n_vocab is not None and n_vocab <= multiword_vocab_cap:
        return _verify_pairs_multiword(
            tok, cand, id_col, t_num, t_den, n_vocab, n_docs
        )
    return _verify_pairs_arrays(tok, cand, id_col, t_num, t_den)


def _multiword_masks(tok, id_col, n_vocab):
    """(id, n, m0..m{W-1}) — every token set packed into
    W = ceil(vocab/62) int64 mask COLUMNS (62 usable bits per word,
    the bloom-filter word discipline). Plain scalar expressions end
    to end; the global rank window runs over the (<= cap) vocabulary
    only."""
    words = (n_vocab + 61) // 62
    vocab = (
        tok.select("w")
        .distinct()
        .select(
            "w",
            (F.row_number().over(Window.orderBy("w")) - 1).alias("rk"),
        )
    )
    bits = tok.join(F.broadcast(vocab), "w").select(
        F.col(id_col),
        F.expr("rk div 62").cast("int").alias("wd"),
        F.expr("shiftleft(1L, cast(rk % 62 as int))").alias("bm"),
    )
    masks = bits.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.coalesce(
                F.bit_or(F.when(F.col("wd") == i, F.col("bm"))),
                F.lit(0).cast("long"),
            ).alias(f"m{i}")
            for i in range(words)
        ],
    )
    return masks, words


def _jaccard_dense_mask_path(tok, id_col, t_num, t_den, n_vocab):
    """DENSE-corpus exact Jaccard: compare every doc pair directly as
    multi-word mask bit math — no candidate generation, no pair
    distinct, no pair shuffle. Chosen by the emission estimate in
    `_jaccard_prefix_path` when the prefix join would emit more
    candidate rows than a block-nested sweep of all C(n,2) pairs
    costs (e.g. the 10x replica corpus: ~17x more).

    Shape: docs chunk into contiguous-id blocks of 4096 mask rows;
    the (chunk_i, chunk_j | i <= j) grid is a tiny nested-loop join
    (ceil(n/4096)^2/2 rows); each grid row explodes to its 16.7M
    probes AFTER an explicit-width spread, so the quadratic sweep
    runs at machine width in ONE whole-stage-codegen stage (two
    native Generates + filter + static popcount sum — the chunk
    arrays pipe between the fused Generates without row
    materialization). Cross-chunk pairs are already id-ordered by
    contiguity; in-chunk pairs order by the a.i < b.i filter. The
    PPJoin length filter prunes before the popcounts evaluate."""
    masks, words = _multiword_masks(tok, id_col, n_vocab)
    chunk = 4096
    # The un-partitioned row_number window below is a SINGLE-TASK sort
    # of the mask table — acceptable ONLY because the caller's
    # `dense_docs_cap` gate (default 500k docs, ~(words+1)*8 B/row)
    # bounds what can reach this path; a cap bump past a few million
    # rows would turn this into a driver-sized straggler and must come
    # with a partitioned chunk-id scheme (e.g. range-partition by id,
    # chunk within partitions). The gate is pinned by
    # tests/test_plans.py::test_dense_path_docs_cap_gates_single_task_sort.
    ch = masks.withColumn(
        "cid",
        F.expr(
            f"cast((row_number() over (order by {id_col}) - 1) "
            f"div {chunk} as int)"
        ),
    )
    chunks = ch.groupBy("cid").agg(
        F.collect_list(
            F.struct(
                F.col(id_col).alias("i"),
                F.col("n").alias("n"),
                *[F.col(f"m{k}").alias(f"m{k}") for k in range(words)],
            )
        ).alias("arr")
    )
    ga = chunks.select(F.col("cid").alias("ci"), F.col("arr").alias("ca"))
    gb = chunks.select(F.col("cid").alias("cj"), F.col("arr").alias("cb"))
    grid = ga.join(F.broadcast(gb), F.col("ci") <= F.col("cj"))
    par = tok.sparkSession.sparkContext.defaultParallelism
    inter = " + ".join(f"bit_count(a.m{k} & b.m{k})" for k in range(words))
    scored = (
        grid.repartition(par * 4)
        .select(F.explode("ca").alias("a"), "cb")
        .select("a", F.explode("cb").alias("b"))
        .where(
            (F.col("a.i") < F.col("b.i"))
            # PPJoin length filter before the popcounts evaluate
            & (
                F.least(F.col("a.n"), F.col("b.n")) * t_den
                >= F.greatest(F.col("a.n"), F.col("b.n")) * t_num
            )
        )
        .select(
            F.col("a.i").alias("doc_a"),
            F.col("b.i").alias("doc_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.expr(inter).cast("long").alias("n_inter"),
        )
        .withColumn(
            "n_union",
            (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("long"),
        )
    )
    return _jaccard_threshold_select(scored, t_num, t_den)


def _verify_pairs_multiword(tok, cand, id_col, t_num, t_den, n_vocab,
                            n_docs):
    """Exact verify for MID-VOCAB corpora (62 < vocab <= ~8k): every
    token set packs into ceil(vocab/62) int64 words, one mask COLUMN
    per word, and |∩| per candidate pair is a static sum of
    bit_count(a_i & b_i) terms — plain scalar expressions, fully
    whole-stage-codegen, no per-row hash set. Measured ~10x cheaper
    per pair than the array_intersect verify: the 10x replica corpus
    (vocab 2637 -> 43 words, ~700M candidate pairs) crawled past 9
    minutes under array_intersect and verifies in seconds as register
    bit math. The mask dim is ~(words+1)*8 bytes/doc, so it
    BROADCASTS up to `_BROADCAST_BYTES_CAP` of masks and falls back
    to an AQE shuffle join above that. The footprint is priced from
    the caller's n_docs scalar — no cache/count on the dim itself
    (the r11 form cached it to price the decision and leaked the
    cache entry for the session's life; the two mask-build subplans
    below are identical up to the output aliases, so ReuseExchange
    dedupes the one shuffle between them)."""
    masks, words = _multiword_masks(tok, id_col, n_vocab)
    bounded = n_docs * (words + 1) * 8 <= _BROADCAST_BYTES_CAP
    ma = masks.select(
        F.col(id_col).alias("doc_a"),
        F.col("n").alias("n_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(words)],
    )
    mb = masks.select(
        F.col(id_col).alias("doc_b"),
        F.col("n").alias("n_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(words)],
    )
    if bounded:
        ma, mb = F.broadcast(ma), F.broadcast(mb)
    inter = " + ".join(f"bit_count(a{i} & b{i})" for i in range(words))
    scored = (
        cand.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            F.expr(inter).cast("long").alias("n_inter"),
        )
        .withColumn(
            "n_union",
            (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("long"),
        )
    )
    return _jaccard_threshold_select(scored, t_num, t_den)


def _verify_pairs_arrays(tok, cand, id_col, t_num, t_den):
    """Exact verify for REAL-TEXT vocabularies: re-attach full sorted
    token arrays and compute the intersection map-side
    (array_intersect). The doc->token-set dim BROADCASTS when its
    estimated BYTES fit `_BROADCAST_BYTES_CAP` — the r11 gate was a
    2M-ROW count, which at a few hundred tokens/doc is a multi-GB
    OOM-grade broadcast on exactly the real-text corpora this tier
    exists for; the estimate (Σ len(w) string payload + ~8 B/element
    array overhead, one 1-row agg on tok) is the same driver-side
    pricing the mask tier applies to its footprint. Bounded -> the
    wide arrays never shuffle (map-side verify per pair); above the
    cap -> shuffle join with AQE. No cache on the dim: the two
    set-build subplans are identical up to output aliases, so
    ReuseExchange dedupes the one shuffle between them (the r11 cache
    leaked an executor-memory entry per invocation)."""
    from ..session import plan_stat_memo

    est_bytes = plan_stat_memo(
        tok.agg(
            F.sum(F.length("w")).cast("long").alias("b"),
            F.count(F.lit(1)).cast("long").alias("r"),
        ),
        lambda p: (lambda s: (s["b"] or 0) + 8 * (s["r"] or 0))(
            p.collect()[0]
        ),
    )
    sets = tok.groupBy(id_col).agg(
        F.sort_array(F.collect_list("w")).alias("ws"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    bounded = est_bytes <= _BROADCAST_BYTES_CAP
    sa = sets.select(
        F.col(id_col).alias("doc_a"),
        F.col("ws").alias("ws_a"),
        F.col("n").alias("n_a"),
    )
    sb = sets.select(
        F.col(id_col).alias("doc_b"),
        F.col("ws").alias("ws_b"),
        F.col("n").alias("n_b"),
    )
    if bounded:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            F.size(F.array_intersect("ws_a", "ws_b"))
            .cast("long")
            .alias("n_inter"),
        )
        .withColumn(
            "n_union",
            (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("long"),
        )
    )
    return _jaccard_threshold_select(scored, t_num, t_den)


def _jaccard_threshold_select(scored, t_num, t_den):
    # The threshold test is algebraically rearranged to reference
    # n_inter exactly ONCE: the naive `n_inter*t_den >= n_union*t_num`
    # references the intersection expression twice (directly and via
    # n_union), and CollapseProject + filter pushdown inline the FULL
    # intersection chain per reference — at W=43 mask words that is
    # ~700 fused ops per probe instead of ~350, a measured 2x on the
    # dense path's hot filter (the only expression that survives
    # column pruning under count()-style consumers).
    return scored.where(
        F.col("n_inter") * (t_den + t_num)
        >= (F.col("n_a") + F.col("n_b")) * t_num
    ).select(
        "doc_a",
        "doc_b",
        "n_a",
        "n_b",
        "n_inter",
        "n_union",
        F.expr("(n_inter * 1000000) div n_union").alias("jaccard_ppm"),
    )


def _deletion_variant_rows(
    names: DataFrame, block_cols: list[str], max_dist: int
) -> DataFrame:
    """(block..., __nm) -> (block..., __nm, __vh): one row per string
    reachable from __nm by deleting up to `max_dist` (<= 2)
    characters — the FastSS neighborhood (Bocek et al. 2007, public
    algorithm) — hashed to a 64-bit key. Built as three exploded legs
    of plain substr/concat expressions: higher-order `transform`
    lambdas evaluate INTERPRETED in Spark, measured 20 s for 20M
    variants at the 10x step-up, while explode + scalar expressions
    stay in whole-stage codegen. Only the HASH of each variant is
    kept: the candidate join never shuffles variant strings, and a
    hash collision merely adds a candidate pair for the exact verify
    to discard — completeness is unaffected."""
    nm = F.col("__nm")
    L = F.length(nm)

    def leg(df, variant):
        return df.select(
            *block_cols, "__nm", F.xxhash64(variant).alias("__vh")
        )

    v0 = leg(names, nm)
    i, j = F.col("__i"), F.col("__j")
    # deletions inside a run of identical characters coincide — keep
    # only the run-start position (sound: any (i, j) slides to a
    # canonical pair with i at its run start and j at max(run start,
    # i+1), producing the same variant). Pure codegen dedup; the rare
    # cross-gap merge duplicates that remain are absorbed by the
    # downstream pair distinct.
    run_start_i = (i == 1) | (
        nm.substr(i, F.lit(1)) != nm.substr(i - 1, F.lit(1))
    )
    run_start_j = (j == i + 1) | (
        nm.substr(j, F.lit(1)) != nm.substr(j - 1, F.lit(1))
    )
    v1 = leg(
        names.where(L >= 1)
        .withColumn("__i", F.explode(F.sequence(F.lit(1), L)))
        .where(run_start_i),
        F.concat(nm.substr(F.lit(1), i - 1), nm.substr(i + 1, L)),
    )
    legs = [v0, v1]
    if max_dist >= 2:
        v2 = leg(
            names.where(L >= 2)
            .withColumn("__i", F.explode(F.sequence(F.lit(1), L - 1)))
            .where(run_start_i)
            .withColumn("__j", F.explode(F.sequence(i + 1, L)))
            .where(run_start_j),
            F.concat(
                nm.substr(F.lit(1), i - 1),
                nm.substr(i + 1, j - i - 1),
                nm.substr(j + 1, L),
            ),
        )
        legs.append(v2)
    out = legs[0]
    for other in legs[1:]:
        out = out.unionByName(other)
    return out


def edit_distance_pairs_blocked(
    df: DataFrame,
    block_cols: list[str],
    id_col: str,
    name_col: str,
    max_dist: int = 2,
    hot_block_cutoff: int = 100_000,
    work_budget_pairs: int | None = 50_000_000,
    variant_max_len: int = 40,
) -> DataFrame:
    """Blocked record-linkage pair generation with an EXACT hot-block
    guard: all pairs within a block whose names are within `max_dist`
    Levenshtein distance, as (block_cols..., id_a, id_b, name_dist)
    with id_a < id_b.

    Blocks below the density-aware cutoff (see density.py — the r7
    step-up measured the all-pairs equi-join at 683.6 s on 10x data,
    125 uniformly dense blocks and no single one over a row cutoff)
    run the plain self-equi-join. Hot blocks switch to deletion-
    neighborhood blocking: if lev(a,b) <= k, an optimal alignment
    gives a common string reachable from BOTH by deleting <= k
    characters (delete a's chars aligned to substitutions/insertions,
    likewise b's), so joining the <= k-deletion neighborhoods is a
    COMPLETE candidate generator and the exact verify keeps the
    output identical to all-pairs — the guard changes the plan, never
    the result. Distinct names within a block are compressed first
    (same-name id pairs expand arithmetically at dist 0), so variant
    keys scale with DISTINCT names, ~L + C(L,2) keys each after
    run-compression.

    Names longer than `variant_max_len` (C(L,2) keys stop paying for
    themselves) stay on the exact join path: cross pairs are possible
    only within `max_dist` of the length boundary, so the long-side
    join admits any pair with max(len) > variant_max_len and length
    gap <= max_dist — exactness is preserved by splitting the pair
    space on max(len_a, len_b), not on membership.

    max_dist <= 2 only: the deletion neighborhood grows as C(L, k).
    Reference seam: the same within-block quadratic shape as
    `CustomsAccountCreationDist.java:56-126`; the blocking-key
    structure is the Fellegi-Sunter / dedupe.io standard.
    """
    if max_dist not in (1, 2):
        raise ValueError("edit_distance_pairs_blocked supports max_dist 1..2")
    from .density import density_hot_split

    base = df.select(
        *block_cols, F.col(id_col).alias("__id"), F.col(name_col).alias("__nm")
    )
    # r12 (guide §1.2 per-task work): strip the GLOBAL common name
    # prefix before anything touches __nm. Levenshtein is invariant
    # under removing a prefix common to both arguments, every name
    # shares the common prefix of lexicographic min/max (UTF-8 byte
    # order == code-point order, so python commonprefix matches
    # Spark's min/max), name-equality classes and pairwise length
    # gaps are preserved (all names lose exactly the same chars), and
    # Spark's levenshtein does not trim internally (microbenched ~2x
    # on fixed-format names). So the DP verify, the deletion-variant
    # fan-out (C(L,2) keys on the SHORTER stripped length), and the
    # emitted name_dist are all exact-identical. NOTE (r12 ADVICE):
    # the probe is an EAGER driver-blocking 1-row min/max job at
    # plan-construction time — memoized per (session, input plan) in
    # session.global_common_prefix_len, so only the FIRST invocation
    # on a given input pays the scan.
    from ..session import global_common_prefix_len

    _pre = global_common_prefix_len(base, "__nm")
    if _pre >= 2:
        base = base.withColumn(
            "__nm",
            F.col("__nm").substr(F.lit(_pre + 1), F.length("__nm")),
        )
    sizes = base.groupBy(*block_cols).agg(F.count(F.lit(1)).alias("__bsz"))
    cutoff, any_hot = density_hot_split(
        sizes, "__bsz", work_budget_pairs, int(hot_block_cutoff)
    )

    def _emit(pairs, dist):
        return pairs.select(
            *block_cols,
            F.least(F.col("__id_a"), F.col("__id_b")).alias("id_a"),
            F.greatest(F.col("__id_a"), F.col("__id_b")).alias("id_b"),
            dist.cast("long").alias("name_dist"),
        )

    def _exact_pairs(side, extra_cond=None):
        a = side.select(
            *block_cols, F.col("__id").alias("__id_a"),
            F.col("__nm").alias("__nm_a"),
        )
        b = side.select(
            *block_cols, F.col("__id").alias("__id_b"),
            F.col("__nm").alias("__nm_b"),
        )
        joined = a.join(b, block_cols).where(F.col("__id_a") < F.col("__id_b"))
        if extra_cond is not None:
            joined = joined.where(extra_cond)
        # length-gap prune BEFORE the DP: levenshtein(a, b) >=
        # |len(a) - len(b)|, so the gap test is a free (codegen
        # integer) necessary condition that spares the O(len_a *
        # len_b) DP on every pair it rejects. No-op on uniform-length
        # name corpora (this testdata post-strip), real on
        # heterogeneous names at scale (r13; VERDICT item 3). NOTE the
        # known double-DP on SURVIVORS stays by choice: the filter
        # predicate and the name_dist projection each evaluate the
        # 2-arg DP once, but survivors are output-sized, and the
        # single-eval alternative — the 3-arg banded levenshtein — is
        # ~2x slower PER CALL at the short post-strip lengths this
        # operator produces (r12 microbench), i.e. worse on every pair
        # instead of 2x on the few that match.
        joined = joined.where(
            F.abs(F.length("__nm_a") - F.length("__nm_b")) <= max_dist
        )
        joined = joined.withColumn(
            "name_dist", F.levenshtein(F.col("__nm_a"), F.col("__nm_b"))
        ).where(F.col("name_dist") <= max_dist)
        return _emit(joined, F.col("name_dist"))

    if not any_hot:
        # no block over the cutoff: the plan is exactly the plain
        # all-pairs equi-join — no flag join, no empty hot-path legs
        # (which would still run scans/distincts/checkpoint jobs)
        return _exact_pairs(base)

    hot_blocks = (
        sizes.where(F.col("__bsz") > cutoff)
        .select(*block_cols, F.lit(True).alias("__hot"))
    )
    flagged = base.join(F.broadcast(hot_blocks), block_cols, "left")

    small = flagged.where(F.col("__hot").isNull()).drop("__hot")
    small_pairs = _exact_pairs(small)

    hot = flagged.where(F.col("__hot")).drop("__hot")
    short = hot.where(F.length("__nm") <= variant_max_len)
    # long-name residue: exact join admitting only pairs whose longer
    # side crosses the variant cap (disjoint from the variant path by
    # construction; the length-gap prune keeps it from ever seeing a
    # short x short pair)
    long_margin = hot.where(
        F.length("__nm") > variant_max_len - max_dist
    )
    long_pairs = _exact_pairs(
        long_margin,
        (
            F.greatest(F.length("__nm_a"), F.length("__nm_b"))
            > variant_max_len
        )
        & (
            F.abs(F.length("__nm_a") - F.length("__nm_b"))
            <= F.lit(max_dist)
        ),
    )

    # distinct-name compression: candidates among DISTINCT short
    # names. The distinct-names frame is materialized EAGERLY
    # (localCheckpoint — name-cardinality, small): the self-join
    # consumes it from BOTH sides and a lazy checkpoint lets the two
    # concurrent join-input stages race to compute the
    # un-materialized lineage (measured 107.6 s vs 67.8 s eager at
    # the 10x step-up). The eager job only ever runs when a block is
    # actually hot — small scales return above, before this line.
    names = short.select(*block_cols, "__nm").distinct().localCheckpoint()
    var = _deletion_variant_rows(names, block_cols, max_dist)
    # distinct BEFORE the verify: measured A/B at the 10x step-up
    # (70-78 s vs 89-95 s interleaved in one session) — the distinct's
    # MAP-SIDE partial dedup collapses the ~5x candidate multiplicity
    # before the shuffle, so running the Levenshtein DP on the 14M
    # pre-distinct rows buys nothing and costs a wider join stage
    name_pairs = (
        var.select(*block_cols, F.col("__nm").alias("__nm_a"), "__vh")
        .join(
            var.select(*block_cols, F.col("__nm").alias("__nm_b"), "__vh"),
            [*block_cols, "__vh"],
        )
        .where(F.col("__nm_a") < F.col("__nm_b"))
        .drop("__vh")
        .distinct()
        .withColumn(
            "name_dist", F.levenshtein(F.col("__nm_a"), F.col("__nm_b"))
        )
        .where(F.col("name_dist") <= max_dist)
    )
    # expand verified name pairs back to id pairs
    ids = short.select(*block_cols, "__nm", "__id")
    cross = _emit(
        name_pairs.join(
            ids.select(*block_cols, F.col("__nm").alias("__nm_a"),
                       F.col("__id").alias("__id_a")),
            [*block_cols, "__nm_a"],
        ).join(
            ids.select(*block_cols, F.col("__nm").alias("__nm_b"),
                       F.col("__id").alias("__id_b")),
            [*block_cols, "__nm_b"],
        ),
        F.col("name_dist"),
    )
    # same-name id pairs (dist 0) expand within each name class
    same = _emit(
        ids.select(*block_cols, "__nm", F.col("__id").alias("__id_a"))
        .join(
            ids.select(*block_cols, "__nm", F.col("__id").alias("__id_b")),
            [*block_cols, "__nm"],
        )
        .where(F.col("__id_a") < F.col("__id_b")),
        F.lit(0),
    )
    return small_pairs.unionByName(long_pairs).unionByName(cross).unionByName(
        same
    )
