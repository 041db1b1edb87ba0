"""Row equality of `dedup_clusters` on generated graphs, against the
previous two-join loop (kept below as the reference) and a plain-Python
union-find, plus the number of jobs the loop fires."""

import random

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from foxsec_pipeline_spark.operators.dedup import dedup_clusters


def _reference_dedup_clusters(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """The previous form of `dedup_clusters`: distinct union of both
    edge directions, a neighbor-min aggregate joined back onto the
    labels each round, and sizes joined back onto the final labels."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
        .localCheckpoint(eager=True)
    )
    cached_rounds = []
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        upd = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
                (F.col("nlabel") < F.col("label")).cast("int").alias("__chg"),
            )
            .persist()
        )
        cached_rounds.append(upd)
        changed = upd.agg(F.max("__chg")).first()[0]
        labels = upd.drop("__chg")
        if not changed:
            break
    labels = labels.localCheckpoint(eager=True)
    for c in cached_rounds:
        c.unpersist(blocking=False)
    singletons = (
        nodes.select(F.col(id_col).alias("node"))
        .join(labels.select("node"), "node", "left_anti")
        .withColumn("label", F.col("node"))
    )
    labels = labels.unionByName(singletons)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias(id_col),
        F.col("label").alias("cluster_keeper"),
        "cluster_size",
    )


def _union_find(pairs, nodes):
    """{id: (min id of its component, component size)} over the pair
    endpoints and `nodes`."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for n in nodes:
        find(n)
    members = {}
    for x in list(parent):
        members.setdefault(find(x), []).append(x)
    return {x: (min(m), len(m)) for m in members.values() for x in m}


def _graph_chains_stars_cliques():
    pairs = []
    # chain 9-8-...-2 with its minimum at the far end: the label needs
    # several rounds to travel
    pairs += [(i, i - 1) for i in range(9, 2, -1)]
    # star centred on 20
    pairs += [(20, leaf) for leaf in range(21, 27)]
    # 5-clique
    clique = range(30, 35)
    pairs += [(a, b) for a in clique for b in clique if a < b]
    nodes = list(range(1, 40))  # 1, 27-29 and 35-39 are isolated
    return pairs, nodes


def _graph_duplicates_and_missing():
    # duplicate and reversed pairs, a self-loop, and endpoints (100,
    # 101, 102) that are absent from `nodes`
    pairs = [(1, 2), (2, 1), (1, 2), (2, 3), (3, 2), (5, 5), (6, 100),
             (100, 101), (7, 102), (102, 7)]
    nodes = [1, 2, 3, 4, 5, 6, 7, 8]
    return pairs, nodes


def _graph_random():
    # random trees (plus one extra edge) over shuffled ids, 2-6 nodes
    # each; 40 ids stay isolated. Shallow on purpose: the reference
    # nests its plan round over round and cannot run a graph that needs
    # many rounds (a 17-round graph brought its JVM down).
    rng = random.Random(13)
    nodes = rng.sample(range(1000), 200)
    pairs = []
    pos = 0
    while pos < 160:
        members = nodes[pos:pos + rng.randint(2, 6)]
        pos += len(members)
        for i in range(1, len(members)):
            pairs.append((members[i], rng.choice(members[:i])))
        if len(members) > 2:
            pairs.append(tuple(rng.sample(members, 2)))
    return pairs, nodes


GRAPHS = {
    "chains_stars_cliques": _graph_chains_stars_cliques,
    "duplicates_and_missing": _graph_duplicates_and_missing,
    "random": _graph_random,
}


def _frames(spark, pairs, nodes):
    return (
        spark.createDataFrame(pairs, "doc_a long, doc_b long"),
        spark.createDataFrame([(n,) for n in nodes], "doc_id long"),
    )


def _rows(df):
    return sorted((r.doc_id, r.cluster_keeper, r.cluster_size)
                  for r in df.collect())


@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_dedup_clusters_rows_match_reference_and_union_find(spark, graph):
    pairs, nodes = GRAPHS[graph]()
    pairs_df, nodes_df = _frames(spark, pairs, nodes)
    got = _rows(dedup_clusters(pairs_df, nodes_df))
    assert got == _rows(_reference_dedup_clusters(pairs_df, nodes_df))
    want = sorted((x, k, n) for x, (k, n) in _union_find(pairs, nodes).items())
    assert got == want


def test_dedup_clusters_cut_short_matches_reference(spark):
    """With fewer rounds than the chain needs, the partial labels still
    equal the reference's after the same number of rounds."""
    pairs = [(i, i - 1) for i in range(12, 1, -1)]
    pairs_df, nodes_df = _frames(spark, pairs, range(1, 14))
    got = _rows(dedup_clusters(pairs_df, nodes_df, max_iterations=2))
    assert got == _rows(
        _reference_dedup_clusters(pairs_df, nodes_df, max_iterations=2))
    assert len({k for _, k, _ in got}) > 2  # not yet converged


def _jobs(spark, build):
    """(result, names of the jobs `build()` fires)."""
    sc = spark.sparkContext
    group = f"dedup_clusters_jobs_{id(build)}"
    sc.setJobGroup(group, "job count")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    return out, [str(store.job(j).name()) for j in jobs]


def test_dedup_clusters_two_round_job_count(spark):
    """A graph whose seed labels are one hop short (3 is seeded 2, its
    keeper is 1) converges in two rounds: one that changes a label and
    one that confirms the fixpoint. Building the result fires
    - 1 job: the edge checkpoint (the pairs are local rows, no shuffle),
    - 2 jobs: the seed aggregate's shuffle and its checkpoint,
    - 6 jobs per round: the two join-side shuffles, the broadcast that
      adaptive execution turns the join into, the aggregate's shuffle,
      the checkpoint and the first() probe (local rows leave the
      checkpoints without size statistics, so the join is planned as a
      sort-merge join; over a parquet scan it is a broadcast from the
      start and a round is 4 jobs),
    so 15 jobs, two of them first() probes. The reference fires more.
    Of the four checkpoints only the final labels stay registered."""
    pairs_df, nodes_df = _frames(spark, [(2, 3), (1, 2)], range(1, 5))
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    out, names = _jobs(spark, lambda: dedup_clusters(pairs_df, nodes_df))
    assert len(set(jsc.getPersistentRDDs().keySet()) - before) == 1
    assert sum(n.startswith("first at") for n in names) == 2, names
    assert len(names) == 15, names
    assert _rows(out) == [(1, 1, 3), (2, 1, 3), (3, 1, 3), (4, 4, 1)]
    _, ref_names = _jobs(
        spark, lambda: _reference_dedup_clusters(pairs_df, nodes_df))
    assert len(ref_names) > len(names), ref_names
