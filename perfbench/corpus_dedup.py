"""corpus_dedup: a closed loop with one client over a seeded corpus.

One op = exact_dedup -> minhash_lsh_pairs -> dedup_clusters ->
ngram_jaccard_pairs, each output collected to the driver. The corpus
has planted near-duplicate clusters and a boilerplate pile of about
1 % identical docs. The workload never calls the parser or the
streaming engine, so it is the control for changes there.
"""

from __future__ import annotations

import hashlib
import os
import re
import statistics
import time
from itertools import combinations

import gen
import harness

N_DOCS = 2000
# the operators' defaults, which the op uses
NGRAM = 3
JACCARD_THRESHOLD = 0.5
DF_CAP = 64
NUM_HASHES = 8
BAND_SIZE = 2


def _shingles(text: str) -> frozenset:
    tok = text.strip().split()
    return frozenset(" ".join(tok[i:i + NGRAM]) for i in range(len(tok) - NGRAM + 1))


def _minhash_candidates(sh: dict) -> set:
    """MinHash banding over md5-prefix shingle hashes, with the
    package's permutation constants: docs sharing any band signature."""
    from foxsec_pipeline_spark.functions.text import (
        MINHASH_A, MINHASH_B, MINHASH_P)

    buckets: dict[tuple, list[int]] = {}
    for i, shingles in sh.items():
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % MINHASH_P
              for g in shingles]
        if not hs:
            continue
        sig = [min((MINHASH_A[k] * h + MINHASH_B[k]) % MINHASH_P for h in hs)
               for k in range(NUM_HASHES)]
        for band in range(NUM_HASHES // BAND_SIZE):
            key = (band, *sig[band * BAND_SIZE:(band + 1) * BAND_SIZE])
            buckets.setdefault(key, []).append(i)
    return {p for ds in buckets.values() if len(ds) > 1
            for p in combinations(sorted(ds), 2)}


def reference(ids, texts) -> dict:
    """Answers computed in plain Python from the generated corpus:
    exact-duplicate groups, MinHash candidate pairs, and the df-capped
    n-gram Jaccard pairs."""
    groups: dict[str, list[int]] = {}
    for i, t in zip(ids, texts):
        groups.setdefault(re.sub(r"\s+", " ", t.strip()).lower(), []).append(i)
    exact = sorted((min(g), len(g)) for g in groups.values())

    sh = {i: _shingles(t) for i, t in zip(ids, texts)}
    docs_of: dict[str, list[int]] = {}
    for i, s in sh.items():
        for g in s:
            docs_of.setdefault(g, []).append(i)
    common: dict[tuple, int] = {}
    for ds in docs_of.values():
        if 2 <= len(ds) <= DF_CAP:
            for p in combinations(sorted(ds), 2):
                common[p] = common.get(p, 0) + 1
    jaccard = {}
    for (a, b), c in common.items():
        j = c / (len(sh[a]) + len(sh[b]) - c)
        if j >= JACCARD_THRESHOLD:
            jaccard[(a, b)] = round(j, 6)
    return {"ids": list(ids), "exact": exact,
            "candidates": _minhash_candidates(sh), "jaccard": jaccard}


def _components(ids, pairs):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict[int, list[int]] = {}
    for i in ids:
        members.setdefault(find(i), []).append(i)
    return {i: (min(m), len(m)) for m in members.values() for i in m}


def check(ref: dict, result: dict) -> str | None:
    exact = sorted((r["keeper_id"], r["n_docs"]) for r in result["exact"])
    if exact != ref["exact"]:
        return "exact_dedup groups differ from the reference"
    cand = {(r["doc_a"], r["doc_b"]) for r in result["candidates"]}
    if cand != ref["candidates"]:
        return "minhash_lsh_pairs differ from the reference"
    want = _components(ref["ids"], cand)
    got = {r["doc_id"]: (r["cluster_keeper"], r["cluster_size"])
           for r in result["clusters"]}
    if got != want:
        return "dedup_clusters differ from the components of the candidates"
    jac = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in result["jaccard"]}
    if jac.keys() != ref["jaccard"].keys() or any(
            abs(jac[k] - v) > 1e-6 for k, v in ref["jaccard"].items()):
        return "ngram_jaccard_pairs differ from the reference"
    return None


def make_op(path: str):
    from foxsec_pipeline_spark.operators.dedup import (
        dedup_clusters, exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs)

    def op(ctx):
        tr, spark = ctx.tracer, ctx.spark
        with tr.span("corpus_dedup.op", kind="op", op=tr.new_op()):
            with tr.span("read_corpus"):
                corpus = spark.read.parquet(path)
            layer = "operators.dedup"
            with tr.span("exact_dedup", layer):
                exact_df = exact_dedup(corpus)
            with tr.span("exact_dedup.collect", layer, kind="action"):
                exact = exact_df.collect()
            with tr.span("minhash_lsh_pairs", layer):
                pairs_df = minhash_lsh_pairs(corpus)
            with tr.span("minhash_lsh_pairs.collect", layer, kind="action"):
                candidates = pairs_df.collect()
            with tr.span("dedup_clusters", layer):
                clusters_df = dedup_clusters(pairs_df, corpus)
            with tr.span("dedup_clusters.collect", layer, kind="action"):
                clusters = clusters_df.collect()
            with tr.span("ngram_jaccard_pairs", layer):
                jaccard_df = ngram_jaccard_pairs(corpus)
            with tr.span("ngram_jaccard_pairs.collect", layer, kind="action"):
                jaccard = jaccard_df.collect()
        result = {"exact": exact, "candidates": candidates,
                  "clusters": clusters, "jaccard": jaccard}
        outputs = {layer: [("exact_dedup", exact_df),
                           ("minhash_lsh_pairs", pairs_df),
                           ("dedup_clusters", clusters_df),
                           ("ngram_jaccard_pairs", jaccard_df)]}
        return result, outputs

    return op


def run(ctx) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    log = harness.OpLog()
    refs: list[dict] = []  # the corpus is the same in every set-up

    def prepare(ctx, r):
        ids, texts = gen.corpus(ctx.args.seed, N_DOCS)
        path = os.path.join(ctx.work, f"corpus{r}")
        os.makedirs(path)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": texts}),
                       os.path.join(path, "part-0.parquet"))
        t0 = time.time()
        if not refs:
            refs.append(reference(ids, texts))
        ref = refs[0]
        excluded = time.time() - t0
        op = make_op(path)

        def checker(res):
            return check(ref, res)

        harness.run_op(ctx, op, checker, log, traced=False)  # warm-up
        return (op, checker, len(ids)), excluded

    setups, (op, checker, n_rows) = harness.timed_setups(ctx, prepare)
    plain, traced = harness.closed_loop(ctx, op, checker, log)
    walls = [r[0] for r in plain]
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "input_rows_per_s": (n_rows / statistics.median(walls), "1/s"),
        "cpu_s_per_krow": (statistics.median(r[1] for r in plain)
                           / (n_rows / 1000.0), "s"),
        "latency_p50_s": (statistics.median(walls), "s"),
    }
    layers = {}
    if ctx.args.trace == 1:
        profile, _ = harness.profile_outputs(ctx, traced[-1][2])
        layers = harness.layer_metrics(ctx, plain, traced, profile)
        layers.update(dedup_layer_metrics(ctx, traced[-1][3]))
        layers.update(harness.session_metrics(ctx))
    return {"log": log, "e2e": e2e, "layers": layers,
            "samples": {"ops": len(walls), "op_wall_s": walls,
                        "setup_s": setups}}


def dedup_layer_metrics(ctx, result: dict) -> dict:
    """Pair counts of one traced op and the label-propagation rounds of
    its dedup_clusters call."""
    cand = {(r["doc_a"], r["doc_b"]) for r in result["candidates"]}
    verified = cand & {(r["doc_a"], r["doc_b"]) for r in result["jaccard"]}
    last = harness.op_root_spans(ctx)[-1]["op"]
    span = next(s for s in ctx.tracer.spans
                if s["op"] == last and s["name"] == "dedup_clusters")
    # every propagation round ends in one first() probe
    rounds = sum(1 for name, _ in ctx.tracer.job_stats(span)["actions"]
                 if name.startswith("first at"))
    return {
        "operators.dedup.candidate_pairs": float(len(cand)),
        "operators.dedup.verified_pairs": float(len(verified)),
        "operators.dedup.verified_over_candidates":
            len(verified) / len(cand) if cand else 0.0,
        "operators.dedup.cluster_rounds": float(rounds),
    }
