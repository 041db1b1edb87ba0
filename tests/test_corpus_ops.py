"""Round-6 corpus tranche: RAG chunking, exact-substring dedup,
Count-Min sketch, epoch/mixture planning — semantic properties and
the load-bearing plan shapes (the DuckDB value parity itself runs in
the catalog-wide sweep in test_catalog.py)."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from foxsec_pipeline_spark.operators.ingest import (
    countmin_cells,
    countmin_estimate,
)
from foxsec_pipeline_spark.operators.textanalysis import (
    chunk_passages,
    dup_span_stats,
)
from foxsec_pipeline_spark.plans.catalog import registry

from tests.conftest import SF_DIR


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def reg():
    return registry()


def test_chunk_passages_covers_every_word_exactly(spark):
    """Every word index in [0, n) is covered by >= 1 chunk, chunk i
    starts at i*stride, and the LAST chunk is never fully contained
    in its predecessor (no degenerate tails)."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(n)))
         for i, n in enumerate([1, 5, 31, 32, 33, 55, 56, 57, 99, 200])],
        "doc_id long, text string",
    )
    out = chunk_passages(docs, window=32, stride=24).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    lens = {0: 1, 1: 5, 2: 31, 3: 32, 4: 33, 5: 55, 6: 56, 7: 57,
            8: 99, 9: 200}
    for doc_id, rows in by_doc.items():
        n = lens[doc_id]
        rows.sort(key=lambda r: r.chunk_id)
        covered = set()
        for r in rows:
            assert r.chunk_start == r.chunk_id * 24
            assert 1 <= r.n_chunk_tokens <= 32
            covered.update(range(r.chunk_start,
                                 r.chunk_start + r.n_chunk_tokens))
        assert covered == set(range(n)), f"doc {doc_id}: coverage hole"
        if len(rows) > 1:
            last, prev = rows[-1], rows[-2]
            assert (last.chunk_start + last.n_chunk_tokens
                    > prev.chunk_start + prev.n_chunk_tokens), (
                f"doc {doc_id}: degenerate tail chunk")


def test_chunk_md5_is_content_address(spark):
    """Identical word windows in different docs hash identically —
    the property chunk-level dedup relies on."""
    shared = " ".join(f"s{j}" for j in range(32))
    docs = spark.createDataFrame(
        [(1, shared + " " + " ".join(f"a{j}" for j in range(20))),
         (2, shared + " " + " ".join(f"b{j}" for j in range(20)))],
        "doc_id long, text string",
    )
    out = chunk_passages(docs, window=32, stride=24).collect()
    first = {r.doc_id: r.chunk_md5 for r in out if r.chunk_id == 0}
    assert first[1] == first[2]


def test_dup_span_union_math_on_fixture(spark):
    """Two docs share a 20-word span; with k=16 that yields 5
    duplicated windows whose interval UNION is exactly 20 tokens (the
    overlap is not double-counted). A short doc (< k words) gets
    zeros, not dropped."""
    shared = [f"s{j}" for j in range(20)]
    a = [f"a{j}" for j in range(10)] + shared + [f"A{j}" for j in range(10)]
    b = [f"b{j}" for j in range(3)] + shared + [f"B{j}" for j in range(7)]
    docs = spark.createDataFrame(
        [(1, " ".join(a)), (2, " ".join(b)), (3, "tiny doc only")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dup_span_stats(docs, k=16).collect()}
    assert len(out) == 3
    for doc_id, n in ((1, 40), (2, 30)):
        r = out[doc_id]
        assert r.n_tokens == n
        assert r.n_dup_windows == 5  # starts offset..offset+4 inside span
        assert r.dup_tokens == 20   # union of the 5 overlapping windows
        assert r.dup_ppm == 20 * 1_000_000 // n
    assert out[3].n_dup_windows == 0 and out[3].dup_tokens == 0


def test_dup_span_requires_cross_doc(spark):
    """A span repeated WITHIN one doc only is not 'duplicated' under
    the >=2-distinct-docs rule (matching the oracle's min!=max)."""
    span = " ".join(f"s{j}" for j in range(16))
    docs = spark.createDataFrame(
        [(1, span + " mid1 mid2 mid3 " + span)],
        "doc_id long, text string",
    )
    out = dup_span_stats(docs, k=16).collect()
    assert out[0].n_dup_windows == 0


def test_countmin_estimate_is_one_sided(spark):
    """CM guarantees estimate >= true count for EVERY item — check it
    for the full bigram vocabulary on the real corpus, not just the
    probe set."""
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(F.split(F.trim("text"), r"\s+").alias("_tok"))
        .where(F.size("_tok") >= 2)
    )
    items = docs.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(_tok) - 1), "
                "i -> concat(element_at(_tok, i), ' ', "
                "element_at(_tok, i + 1)))"
            )
        ).alias("item")
    )
    cells = countmin_cells(items, "item", depth=4, width=128)
    exact = items.groupBy("item").agg(F.count(F.lit(1)).alias("n_exact"))
    est = countmin_estimate(exact.select("item"), cells, "item",
                            depth=4, width=128)
    bad = (
        exact.join(est, "item")
        .where(F.col("cm_estimate") < F.col("n_exact"))
        .count()
    )
    assert bad == 0


def test_countmin_cells_bounded_and_mergeable(spark):
    """The sketch is d*w cells max regardless of stream size, and
    building it over two halves then adding cellwise equals building
    it over the union — the mergeability that makes it a 100 TB
    sketch."""
    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{(i + 1) % 5} tok{i % 3}")
         for i in range(100)],
        "doc_id long, text string",
    )
    items = docs.select(
        F.explode(F.split("text", " ")).alias("item"), "doc_id"
    )
    full = countmin_cells(items.select("item"), "item", depth=4, width=32)
    assert full.count() <= 4 * 32
    a = countmin_cells(
        items.where(F.col("doc_id") < 50).select("item"),
        "item", depth=4, width=32)
    b = countmin_cells(
        items.where(F.col("doc_id") >= 50).select("item"),
        "item", depth=4, width=32)
    merged = (
        a.unionByName(b)
        .groupBy("cm_row", "cm_col")
        .agg(F.sum("cm_count").alias("cm_count"))
    )
    assert (
        merged.exceptAll(full).count() == 0
        and full.exceptAll(merged).count() == 0
    )


def test_epoch_plan_greedy_prefix_is_maximal(spark, reg):
    """Per source: achieved = full_epochs*avail + frac, frac fills
    the remainder WITHOUT exceeding it, and adding the next doc in
    hash order would overflow (greedy maximality)."""
    import duckdb

    rows = {r["source"]: r for r in (
        reg["epoch_mixture_plan"].fn(spark, SF_DIR)
        .toPandas().to_dict("records"))}
    con = duckdb.connect()
    docs = con.sql(
        f"""SELECT source, doc_id,
               len(string_split_regex(trim(text), '\\s+')) AS n
            FROM '{SF_DIR}/documents.parquet'
            ORDER BY source, md5(CAST(doc_id AS VARCHAR)), doc_id"""
    ).fetchall()
    per_source = {}
    for s, d, n in docs:
        per_source.setdefault(s, []).append(n)
    for s, r in rows.items():
        rem = r["target_tokens"] % r["avail_tokens"]
        assert r["achieved_tokens"] == (
            r["n_full_epochs"] * r["avail_tokens"] + r["frac_tokens"])
        assert r["frac_tokens"] <= rem
        cum, k = 0, 0
        for n in per_source[s]:
            if cum + n > rem:
                break
            cum += n
            k += 1
        assert (r["n_frac_docs"], r["frac_tokens"]) == (k, cum), s


def test_chunk_query_is_shuffle_free(spark, reg):
    """rag_chunk_passages is a pure map-side explode — any Exchange
    in the plan is a regression."""
    plan = plan_of(reg["rag_chunk_passages"].fn(spark, SF_DIR))
    assert "Exchange" not in plan, plan


def test_countmin_probe_join_broadcasts(spark, reg):
    """The d*w cell grid must broadcast to the probe join; shuffling
    the probe side against a KB-sized sketch is wrong at any scale."""
    plan = plan_of(reg["countmin_heavy_hitters"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_epoch_plan_broadcasts_plan_rows(spark, reg):
    plan = plan_of(reg["epoch_mixture_plan"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_exact_substring_no_pair_join(spark, reg):
    """The ExactSubstr plan must contain no cartesian/nested-loop —
    the df-count design has no pairwise stage at all."""
    plan = plan_of(reg["exact_substring_dedup"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bpe_train_matches_handrolled_reference(spark):
    """The distributed BPE trainer reproduces a hand-rolled
    scan-merge BPE (Sennrich et al. 2016) exactly, including the
    (count desc, pair asc) tie-break."""
    from collections import Counter

    from foxsec_pipeline_spark.operators.textanalysis import bpe_train

    texts = ["low lower lowest low low newer newest new",
             "wider wide widest low lower new new newer"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    got = sorted(
        (r.merge_rank, r.left_sym, r.right_sym, r.pair_count)
        for r in bpe_train(docs, n_merges=6).collect())

    words = Counter(" ".join(texts).split())
    reprs = {w: list(w) for w in words}
    expected = []
    for r in range(6):
        pc = Counter()
        for w, c in words.items():
            s = reprs[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        mx = max(pc.values())
        a, b = sorted(
            [p for p, c in pc.items() if c == mx],
            key=lambda p: p[0] + "\x01" + p[1])[0]
        expected.append((r, a, b, mx))
        for w in reprs:
            s, out, i = reprs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            reprs[w] = out
    assert got == expected


def test_bpe_train_touches_corpus_once(spark, reg):
    """BPE training distributes because the corpus is scanned exactly
    once: the word-count agg is checkpointed, so the merge-loop plan
    contains ZERO parquet re-scans (without the checkpoint, every
    round's top-1 branch re-derived the corpus agg)."""
    plan = plan_of(reg["bpe_train_merges"].fn(spark, SF_DIR))
    assert plan.count("Scan parquet") == 0, plan


def test_bpe_segment_bounds(spark, reg):
    """Subword counts are bounded: >= whitespace tokens (a merge
    never crosses a word boundary) and <= total characters."""
    rows = reg["bpe_token_counts"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_bpe_units >= r.n_tokens


def test_data_quality_checks_pass_on_clean_data(spark, reg):
    rows = {(r.table_name, r.check_name): r
            for r in reg["data_quality_checks"].fn(spark, SF_DIR).collect()}
    assert len(rows) == 7
    for key, r in rows.items():
        assert r.passed, key


def test_data_quality_checks_catch_injected_defects(spark, reg, tmp_path):
    """Write deliberately dirty tables and assert each constraint
    trips with the right violation mass."""
    import datetime as dt

    base = str(tmp_path)
    ts = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(1, ts, None, "view", 1.0, "p"),
         (2, ts, 7, "view", 1.0, "p")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{base}/events.parquet")
    spark.createDataFrame(
        [(1, 10, "O", 1.0, ts, "1-URGENT"),
         (1, 10, "F", 1.0, ts, "1-URGENT"),   # dup key
         (3, 99, "X", 1.0, ts, "1-URGENT")],  # orphan + bad status
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    ).write.parquet(f"{base}/orders.parquet")
    spark.createDataFrame(
        [(10, "a", "n", 1.0, "seg")],
        "c_custkey long, c_name string, c_nationkey string, "
        "c_acctbal double, c_mktsegment string",
    ).write.parquet(f"{base}/customer.parquet")
    spark.createDataFrame(
        [(1, 1, 1, 1, 99.0, 1.0, 0.5, 0.0)],  # qty + discount violations
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double",
    ).write.parquet(f"{base}/lineitem.parquet")

    rows = {(r.table_name, r.check_name): r
            for r in reg["data_quality_checks"].fn(spark, base).collect()}
    assert not rows[("events", "null_user_id")].passed
    assert rows[("events", "null_user_id")].metric == 500_000
    assert not rows[("events", "freshness_span_days")].passed  # span 0
    assert not rows[("orders", "unique_orderkey")].passed
    assert rows[("orders", "unique_orderkey")].metric == 333_333
    assert not rows[("orders", "fk_customer")].passed
    assert not rows[("orders", "accepted_status")].passed
    assert not rows[("lineitem", "quantity_range")].passed
    assert rows[("lineitem", "quantity_range")].metric == 1_000_000
    assert not rows[("lineitem", "discount_range")].passed


def test_data_quality_single_pass_per_table(spark, reg):
    """Every fact table is scanned exactly once; the FK dimension
    broadcasts."""
    plan = plan_of(reg["data_quality_checks"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    for tbl in ("events", "orders", "lineitem"):
        assert plan.count(f"{tbl}.parquet") == 1, (tbl, plan)


def test_skew_diagnosis_math(spark, reg):
    """Hot-key metrics recompute from first principles on the raw
    table: shares sum within the top-10, salt factor is exactly
    ceil(hot/p99)."""
    import duckdb

    rows = reg["skew_diagnosis"].fn(spark, SF_DIR).collect()
    assert len(rows) == 10
    con = duckdb.connect()
    counts = dict(con.sql(
        f"""SELECT user_id, count(*) FROM '{SF_DIR}/events.parquet'
            GROUP BY 1"""
    ).fetchall())
    total = sum(counts.values())
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r.user_id, r.n_rows) for r in rows] == top
    for r in rows:
        assert r.share_ppm == r.n_rows * 1_000_000 // total
        assert r.salt_factor == -(-r.n_rows // r.p99_count)
        assert r.p99_count >= r.p50_count


def test_zorder_bounds_both_extents(spark, reg):
    """The layout claim itself: a time-sorted layout leaves the user
    extent near full-width (no pruning for user filters), Z-order
    bounds BOTH dimensions well below half-width."""
    rows = {r.layout: r
            for r in reg["zorder_layout_stats"].fn(spark, SF_DIR).collect()}
    t, z = rows["time"], rows["zorder"]
    assert t.avg_user_extent_ppm > 500_000   # time layout: no user locality
    assert z.avg_user_extent_ppm < 250_000   # z-order: bounded user extent
    assert z.avg_time_extent_ppm < 250_000   # ...without giving up time
    assert z.n_buckets > 1 and t.n_buckets > 1


def test_skew_and_zorder_plan_shapes(spark, reg):
    """Scalar stats broadcast; the ranking runs over the distinct-key
    table; no nested-loop beyond the deliberate 1-row scalar joins."""
    for name in ("skew_diagnosis", "zorder_layout_stats"):
        plan = plan_of(reg[name].fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, (name, plan)
        assert "TakeOrdered" in plan or name != "skew_diagnosis", plan


def test_scd2_point_in_time_is_joinless(spark, reg):
    """The AS OF enrichment must be the union+window form — a real
    per-user range join would explode on hot users. No join operator
    of any kind may appear in the plan."""
    plan = plan_of(reg["scd2_point_in_time_join"].fn(spark, SF_DIR))
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, (op, plan)


def test_scd2_point_in_time_no_leakage(spark, reg):
    """Temporal correctness: every enriched fact's version is the one
    in effect AT the fact's ts — never a later version (the classic
    feature leak). Recomputed against the SCD2 table itself."""
    dim = reg["scd2_user_segment"].fn(spark, SF_DIR).collect()
    facts = reg["scd2_point_in_time_join"].fn(spark, SF_DIR).collect()
    by_user = {}
    for d in dim:
        by_user.setdefault(d.user_id, []).append(d)
    assert facts
    for f in facts:
        match = [d for d in by_user[f.user_id]
                 if d.valid_from <= f.ts
                 and (d.valid_to is None or f.ts < d.valid_to)]
        assert len(match) == 1, (f, match)
        assert (f.segment, f.version) == (
            match[0].segment, match[0].version)


def test_winnowing_guarantee_on_fixture(spark, reg, tmp_path):
    """The winnowing guarantee (Schleimer et al. 2003): any shared
    run of >= w + k - 1 = 7 words MUST share at least one selected
    fingerprint; and density stays near the theoretical 2/(w+1)."""
    shared = " ".join(f"s{j}" for j in range(7))
    docs = spark.createDataFrame(
        [(1, " ".join(f"a{j}" for j in range(20)) + " " + shared),
         (2, shared + " " + " ".join(f"b{j}" for j in range(20))),
         (3, " ".join(f"c{j}" for j in range(30)))],
        "doc_id long, text string",
    )
    docs = docs.withColumn("lang", F.lit("en")) \
               .withColumn("source", F.lit("s")) \
               .withColumn("n_chars", F.length("text"))
    base = str(tmp_path)
    docs.write.parquet(f"{base}/documents.parquet")
    rows = {r.doc_id: r
            for r in reg["winnowing_fingerprints"].fn(spark, base).collect()}
    assert rows[1].n_shared_fps >= 1
    assert rows[2].n_shared_fps >= 1
    assert rows[3].n_shared_fps == 0
    # density ~ 2/(w+1) = 0.4; generous band
    for r in rows.values():
        assert 150_000 <= r.density_ppm <= 700_000, r


def test_dup_span_stats_matches_bruteforce_on_random_corpus(spark):
    """Seeded random corpus over a 6-word alphabet (forcing heavy
    k-gram collisions), k=4: the distributed interval-union math must
    equal a brute-force Python reference exactly for every doc."""
    import random

    rng = random.Random(20240814)
    texts = {
        i: [rng.choice("abcdef") for _ in range(rng.randint(1, 30))]
        for i in range(50)
    }
    k = 4
    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in texts.items()],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_dup_windows, r.dup_tokens)
           for r in dup_span_stats(docs, k=k).collect()}

    owners = {}
    for i, ws in texts.items():
        for p in range(len(ws) - k + 1):
            owners.setdefault(tuple(ws[p:p + k]), set()).add(i)
    for i, ws in texts.items():
        starts = [p for p in range(len(ws) - k + 1)
                  if len(owners[tuple(ws[p:p + k])]) >= 2]
        covered = set()
        for p in starts:
            covered.update(range(p, p + k))
        assert got[i] == (len(starts), len(covered)), i


def test_winnowing_matches_bruteforce_selection(spark, reg, tmp_path):
    """The min-encoding trick must reproduce the textbook winnowing
    selection (rightmost minimum per window) exactly: fingerprint
    COUNTS per doc equal a brute-force Python winnower using the same
    md5-derived hashes."""
    import hashlib
    import random

    rng = random.Random(7)
    texts = {i: [rng.choice("abcdefgh") for _ in range(rng.randint(4, 40))]
             for i in range(30)}
    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in texts.items()],
        "doc_id long, text string",
    ).withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("s")).withColumn("n_chars", F.length("text"))
    base = str(tmp_path)
    docs.write.parquet(f"{base}/documents.parquet")
    got = {r.doc_id: r.n_fingerprints
           for r in reg["winnowing_fingerprints"].fn(spark, base).collect()}

    k, w = 4, 4
    for i, ws in texts.items():
        L = len(ws) - k + 1
        if L < 1:
            assert i not in got
            continue
        hs = [int(hashlib.md5(" ".join(ws[p:p + k]).encode())
                  .hexdigest()[:11], 16) for p in range(L)]
        sel = set()
        for p in range(0, L - w + 1):
            window = hs[p:p + w]
            m = min(window)
            q = max(j for j in range(w) if window[j] == m) + p
            sel.add((hs[q], q))
        if L >= w:
            assert got[i] == len(sel), i
        else:
            assert i not in got  # no full window exists


def test_prefix_jaccard_matches_bruteforce_all_pairs(spark):
    """Recall-1.0 claim of the prefix filter: on a seeded random
    corpus over a tiny alphabet (forcing many similar token sets),
    the PPJoin-pruned result must equal brute-force all-pairs
    token-set Jaccard >= 3/5 exactly — same pairs, same
    intersection/union counts."""
    import random

    from foxsec_pipeline_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    rng = random.Random(20250815)
    texts = {
        i: [rng.choice("abcdefgh") for _ in range(rng.randint(1, 12))]
        for i in range(60)
    }
    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in texts.items()],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): (r.n_inter, r.n_union)
        for r in prefix_filter_jaccard_pairs(docs, t_num=3, t_den=5).collect()
    }

    sets = {i: set(ws) for i, ws in texts.items()}
    want = {}
    ids = sorted(sets)
    for ai, a in enumerate(ids):
        for b in ids[ai + 1:]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if inter * 5 >= union * 3:
                want[(a, b)] = (inter, union)
    assert got == want


def test_triangles_match_bruteforce_on_sf0001(spark):
    """Degree-ordered triangle counting must equal a brute-force
    neighbor-intersection count over the identical edge set (built
    independently via DuckDB) — per node, exactly."""
    import duckdb

    from foxsec_pipeline_spark.plans.catalog import registry

    edges = duckdb.sql(
        "SELECT a.l_partkey AS u, b.l_partkey AS v "
        "FROM (SELECT DISTINCT l_orderkey, l_partkey FROM "
        "'/root/testdata/sf0.001/lineitem.parquet') a "
        "JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM "
        "'/root/testdata/sf0.001/lineitem.parquet') b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
        "GROUP BY 1, 2 HAVING count(*) >= 2"
    ).fetchall()
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want = {}
    eset = {(u, v) for u, v in edges}
    for u, v in eset:
        for w in adj[u] & adj[v]:
            for node in (u, v, w):
                want[node] = want.get(node, 0) + 1
    want = {n: c // 3 for n, c in want.items()}  # each tri seen 3x

    got = {
        r.part: r.n_triangles
        for r in registry()["copurchase_triangles"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert got == {n: c for n, c in want.items() if c > 0}


def test_pareto_frontier_matches_bruteforce(spark):
    """Two-phase (bucket-then-global) skyline must equal brute-force
    dominance over all parts at sf0.001."""
    import duckdb

    from foxsec_pipeline_spark.plans.catalog import registry

    pts = duckdb.sql(
        "SELECT p_partkey, CAST(round(p_retailprice*100) AS BIGINT), "
        "CAST(p_size AS BIGINT) "
        "FROM '/root/testdata/sf0.001/part.parquet'"
    ).fetchall()
    want = set()
    for k, pr, sz in pts:
        dominated = any(
            (pr2 <= pr and sz2 >= sz and (pr2 < pr or sz2 > sz))
            for _, pr2, sz2 in pts
        )
        if not dominated:
            want.add((k, pr, sz))
    got = {
        (r.p_partkey, r.price_cents, r.psize)
        for r in registry()["pareto_frontier_parts"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert got == want and len(got) > 0


def test_prefix_jaccard_prefix_path_matches_bruteforce_and_bitmask(
    spark, monkeypatch
):
    """A 120-word vocabulary forces the PPJoin prefix-filter path;
    its output must equal brute-force all-pairs AND the bitmask path
    is unavailable (>62 bits), so this pins the real-text code path's
    recall 1.0 and the paths' cross-consistency on a corpus the
    bitmask path can't take. All three mid-vocab tiers are pinned:
    120 <= _MULTIWORD_VOCAB_CAP exercises the multi-word mask popcount
    verify by default, _MULTIWORD_VOCAB_CAP=0 forces the token-array
    (array_intersect) verify, and _DENSE_EMISSION_FACTOR=0 forces the
    block-nested dense mask sweep — every variant must agree exactly
    with brute force."""
    import random

    from foxsec_pipeline_spark.operators import dedup as D
    from foxsec_pipeline_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    rng = random.Random(20250816)
    vocab = [f"w{i:03d}" for i in range(120)]
    texts = {}
    for i in range(0, 40, 2):
        base = rng.sample(vocab, rng.randint(5, 12))
        texts[i] = base
        # near-duplicate partner: drop/add one token
        mut = list(base)
        if rng.random() < 0.5 and len(mut) > 5:
            mut.pop(rng.randrange(len(mut)))
        else:
            mut.append(rng.choice([w for w in vocab if w not in mut]))
        texts[i + 1] = mut
    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in texts.items()],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): (r.n_inter, r.n_union)
        for r in prefix_filter_jaccard_pairs(docs, t_num=3, t_den=5).collect()
    }
    with monkeypatch.context() as m:
        m.setattr(D, "_MULTIWORD_VOCAB_CAP", 0)
        got_arrays = {
            (r.doc_a, r.doc_b): (r.n_inter, r.n_union)
            for r in prefix_filter_jaccard_pairs(
                docs, t_num=3, t_den=5
            ).collect()
        }
    # _DENSE_EMISSION_FACTOR=0 forces the block-nested dense mask path
    with monkeypatch.context() as m:
        m.setattr(D, "_DENSE_EMISSION_FACTOR", 0.0)
        got_dense = {
            (r.doc_a, r.doc_b): (r.n_inter, r.n_union)
            for r in prefix_filter_jaccard_pairs(
                docs, t_num=3, t_den=5
            ).collect()
        }
    sets = {i: set(ws) for i, ws in texts.items()}
    want = {}
    ids = sorted(sets)
    for ai, a in enumerate(ids):
        for b in ids[ai + 1:]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if inter * 5 >= union * 3:
                want[(a, b)] = (inter, union)
    assert got == want and len(want) >= 10
    assert got_arrays == want
    assert got_dense == want


def test_vocab_growth_matches_python_recount(spark, reg):
    """First-seen bigram bucketing recomputed in pure Python; the
    cumulative curve must be strictly positive, non-decreasing, and
    end at the total distinct-bigram count."""
    import re

    rows = sorted(
        reg["vocab_growth_curve"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.doc_bucket,
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    first = {}
    for d in docs:
        toks = re.split(r"\s+", d.text.strip())
        for a, b in zip(toks, toks[1:]):
            key = a + "\x02" + b
            if key not in first or d.doc_id < first[key]:
                first[key] = d.doc_id
    from collections import Counter

    buckets = Counter(fd // 10 for fd in first.values())
    assert {r.doc_bucket: r.new_units for r in rows} == dict(buckets)
    cum = 0
    for r in rows:
        cum += r.new_units
        assert r.cum_vocab == cum
    assert cum == len(first)
