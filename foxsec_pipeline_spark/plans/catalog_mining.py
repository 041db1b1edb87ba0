"""Catalog tranche: pattern-mining and
change-detection analytics — apriori-pruned frequent itemsets,
exact-integer mean-shift changepoint detection, row-level snapshot
diff (the CDC primitive between two table versions), and first-order
Markov transition matrices over per-user event streams.

These are the detection/ops analytics the reference's alerting
surface implies but never materializes as batch queries: association
mining over co-purchases, abuse-ramp changepoints on event volumes
(the batch twin of the threshold/seasonal detectors, cf.
`httprequest/ThresholdAnalysis.java`), incremental snapshot
reconciliation (what a BigQuery-sink consumer does downstream of
`CompositeOutput.java`), and behavioral transition profiling (the
state-sequence view that `authprofile/AuthStateModel.java` keys on).

Determinism discipline matches the rest of the catalog: ratios are
integer ppm via ``div``, argmax is either an integer-encoded ``max()``
or a windowed row_number with a total tie-break order, every DuckDB
aggregate that would widen to HUGEINT is cast back to BIGINT, and no
float ever reaches an output column except through an exact
cents/round conversion.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.dedup import bucket_pairs
from ..session import load_tables
from .catalog import register


def _t(spark, sf_dir, name):
    return load_tables(spark, sf_dir, name)[name]


# Apriori minimum support (orders containing the item) and minimum
# pair support. Low absolute values because the co-purchase matrix is
# sparse at test SF; at 100 TB these become relative thresholds but
# the two-stage prune shape is identical.
_MIN_ITEM_SUPP = 3
_MIN_PAIR_SUPP = 2


@register(
    "frequent_itemsets",
    f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), supp AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS supp
  FROM items GROUP BY l_partkey
), freq AS (
  SELECT l_partkey FROM supp WHERE supp >= {_MIN_ITEM_SUPP}
), fitems AS (
  SELECT i.l_orderkey, i.l_partkey
  FROM items i SEMI JOIN freq USING (l_partkey)
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS pair_support
  FROM fitems a JOIN fitems b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_MIN_PAIR_SUPP}
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_orders
  FROM (SELECT DISTINCT l_orderkey FROM lineitem)
)
SELECT p.part_a, p.part_b, p.pair_support,
       sa.supp AS supp_a, sb.supp AS supp_b,
       CAST(p.pair_support * 1000000 // sa.supp AS BIGINT)
         AS conf_ab_ppm,
       CAST(p.pair_support * 1000000 // sb.supp AS BIGINT)
         AS conf_ba_ppm,
       CAST(p.pair_support * t.n_orders * 1000000
            // (sa.supp * sb.supp) AS BIGINT) AS lift_ppm
FROM pairs p
CROSS JOIN tot t
JOIN supp sa ON p.part_a = sa.l_partkey
JOIN supp sb ON p.part_b = sb.l_partkey
""",
    doc="frequent-itemset / association-rule mining over co-purchased "
        "parts (classic apriori, pair order): per-order distinct item "
        "sets -> item support -> the APRIORI PRUNE (only items with "
        f"support >= {_MIN_ITEM_SUPP} enter pair generation — the "
        "downward-closure property makes this lossless for pairs with "
        f"support >= {_MIN_ITEM_SUPP}) -> within-order pair explode -> "
        "pair support, directed confidences, and lift, all in exact "
        "integer ppm. Scale: ONE lineitem scan -> per-order item "
        "baskets (one shuffle on the order key, localCheckpointed "
        "once for its three consumers — the leakage-audit precedent), "
        "then the pair explode is MAP-SIDE over each basket array, "
        "bounded by ORDER SIZE (<= 7 lineitems in this schema — "
        "quadratic only in a bounded constant, never in corpus size). "
        "The apriori prune is applied as the equivalent end-filter on "
        "supp_a/supp_b (downward closure: a pair containing an "
        "infrequent item is excluded either way, so pre-prune and "
        "post-filter return identical rows) with supports joining in "
        "as part-dimension broadcasts. No self-join, no all-pairs "
        "stage at any skew",
)
def q_frequent_itemsets(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # EAGER: three concurrent consumers (supp, pair explode, order
    # count) race a lazy checkpoint's cache population into
    # re-running the basket agg (the pagerank 182-s lesson;
    # interleaved A/B at sf0.1: 2.98 -> 2.38 s min, spikes gone)
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .localCheckpoint()
    )
    supp = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("supp"))
    )
    pairs = (
        bucket_pairs(baskets, "ps", "part_a", "part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_support"))
        .where(F.col("pair_support") >= _MIN_PAIR_SUPP)
    )
    tot = baskets.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    sa = supp.select(
        F.col("l_partkey").alias("part_a"), F.col("supp").alias("supp_a")
    )
    sb = supp.select(
        F.col("l_partkey").alias("part_b"), F.col("supp").alias("supp_b")
    )
    return (
        pairs.crossJoin(F.broadcast(tot))
        .join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .where(
            (F.col("supp_a") >= _MIN_ITEM_SUPP)
            & (F.col("supp_b") >= _MIN_ITEM_SUPP)
        )
        .select(
            "part_a",
            "part_b",
            "pair_support",
            "supp_a",
            "supp_b",
            F.expr("(pair_support * 1000000) div supp_a").alias(
                "conf_ab_ppm"
            ),
            F.expr("(pair_support * 1000000) div supp_b").alias(
                "conf_ba_ppm"
            ),
            F.expr(
                "(pair_support * n_orders * 1000000) div (supp_a * supp_b)"
            ).alias("lift_ppm"),
        )
    )


@register(
    "changepoint_mean_shift",
    """
WITH hourly AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS eh,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), seq AS (
  SELECT event_type, eh, c,
         CAST(row_number() OVER w AS BIGINT) AS i,
         CAST(sum(c) OVER w AS BIGINT) AS s1,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS s
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY eh
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), stat AS (
  SELECT event_type, eh, i, n, s, s1,
         abs(s1 * (n - i) - (s - s1) * i) AS d_stat,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY abs(s1 * (n - i) - (s - s1) * i) DESC, eh
         ) AS rn
  FROM seq WHERE i < n
)
SELECT event_type, n AS n_hours, s AS total_events,
       eh AS split_eh, i AS left_hours, s1 AS left_sum,
       CAST(s - s1 AS BIGINT) AS right_sum,
       CAST(d_stat AS BIGINT) AS d_stat
FROM stat WHERE rn = 1
""",
    doc="offline mean-shift changepoint per event type (the batch twin "
        "of the seasonal/threshold ramp detectors, cf. "
        "`httprequest/ThresholdAnalysis.java:74-129`'s spike "
        "semantics): hourly volumes -> for every candidate split after "
        "observed-hour i the EXACT INTEGER statistic |S1*(n-i) - "
        "S2*i| (the cross-multiplied between-segment mean difference "
        "scaled by i*(n-i) — argmax-equivalent to the unnormalized "
        "CUSUM peak, zero float hazard) -> earliest-hour argmax. "
        "Scale: the heavy agg is (type, hour) hash-agg with map-side "
        "combine; every window runs over the type x observed-hours "
        "table, whose size is hours-in-retention x type cardinality — "
        "INDEPENDENT of event count, so partitions stay KB-sized at "
        "100 TB",
)
def q_changepoint_mean_shift(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("eh"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("eh")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    seq = hourly.select(
        "event_type",
        "eh",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("eh"))
        .cast("long")
        .alias("i"),
        F.sum("c").over(wcum).cast("long").alias("s1"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
        F.sum("c").over(wall).cast("long").alias("s"),
    )
    d = F.abs(
        F.col("s1") * (F.col("n") - F.col("i"))
        - (F.col("s") - F.col("s1")) * F.col("i")
    )
    stat = seq.where(F.col("i") < F.col("n")).select(
        "event_type",
        "eh",
        "i",
        "n",
        "s",
        "s1",
        d.alias("d_stat"),
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                d.desc(), F.col("eh")
            )
        )
        .alias("rn"),
    )
    return stat.where(F.col("rn") == 1).select(
        "event_type",
        F.col("n").alias("n_hours"),
        F.col("s").alias("total_events"),
        F.col("eh").alias("split_eh"),
        F.col("i").alias("left_hours"),
        F.col("s1").alias("left_sum"),
        (F.col("s") - F.col("s1")).cast("long").alias("right_sum"),
        F.col("d_stat").cast("long").alias("d_stat"),
    )


@register(
    "snapshot_diff",
    """
WITH base AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders
), old AS (
  SELECT o_orderkey, price_cents FROM base WHERE o_orderkey % 97 <> 5
), new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN price_cents + 500
              ELSE price_cents END AS price_cents
  FROM base WHERE o_orderkey % 89 <> 3
)
SELECT CASE WHEN o.o_orderkey IS NULL THEN 'insert'
            WHEN n.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS op,
       CAST(coalesce(o.o_orderkey, n.o_orderkey) AS BIGINT)
         AS o_orderkey,
       CAST(coalesce(o.price_cents, -1) AS BIGINT) AS old_price_cents,
       CAST(coalesce(n.price_cents, -1) AS BIGINT) AS new_price_cents
FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
   OR o.price_cents <> n.price_cents
""",
    doc="row-level snapshot diff — the CDC primitive a warehouse "
        "consumer runs between two loads of the same table (what sits "
        "downstream of the BigQuery sink, `CompositeOutput.java:86-105`"
        "): two deterministic versions of orders (keys dropped from "
        "either side via modulus to simulate inserts/deletes; a "
        "modulus-selected slice re-priced to simulate updates), "
        "full-outer-joined on the primary key, classified "
        "insert/delete/update, unchanged rows suppressed; absent "
        "sides surface as -1 (column is a price in cents, always "
        ">= 0, so the sentinel is unambiguous). Scale: ONE full-outer "
        "join on a unique key — sort-merge with zero skew by "
        "construction (PK), no fan-out; output is only the changed "
        "rows, which is the point of shipping diffs instead of "
        "snapshots",
)
def q_snapshot_diff(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    old = base.where(F.col("o_orderkey") % 97 != 5)
    new = base.where(F.col("o_orderkey") % 89 != 3).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("price_cents") + 500
        )
        .otherwise(F.col("price_cents"))
        .alias("price_cents"),
    )
    o = old.alias("o")
    n = new.alias("n")
    j = o.join(
        n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer"
    )
    return j.where(
        F.col("o.o_orderkey").isNull()
        | F.col("n.o_orderkey").isNull()
        | (F.col("o.price_cents") != F.col("n.price_cents"))
    ).select(
        F.when(F.col("o.o_orderkey").isNull(), F.lit("insert"))
        .when(F.col("n.o_orderkey").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey"))
        .cast("long")
        .alias("o_orderkey"),
        F.coalesce(F.col("o.price_cents"), F.lit(-1))
        .cast("long")
        .alias("old_price_cents"),
        F.coalesce(F.col("n.price_cents"), F.lit(-1))
        .cast("long")
        .alias("new_price_cents"),
    )


@register(
    "markov_transitions",
    """
WITH e AS (
  SELECT event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS next_type
  FROM events
), t AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(count(*) AS BIGINT) AS n_transitions
  FROM e WHERE next_type IS NOT NULL GROUP BY 1, 2
), tot AS (
  SELECT from_type, CAST(sum(n_transitions) AS BIGINT) AS n_from
  FROM t GROUP BY 1
)
SELECT t.from_type, t.to_type, t.n_transitions, tot.n_from,
       CAST(t.n_transitions * 1000000 // tot.n_from AS BIGINT)
         AS p_ppm
FROM t JOIN tot USING (from_type)
""",
    doc="first-order Markov transition matrix over per-user event "
        "streams — the behavioral-state view `authprofile/"
        "AuthStateModel.java` keys on, materialized as a batch "
        "profile: events ordered per user (ts then event_id — a total "
        "order, so lead() is deterministic), adjacent-pair counts, "
        "and per-source-state transition probability in exact ppm. "
        "Scale: ONE shuffle on user_id for the lead() (same bounded "
        "per-user partition shape as every session operator in the "
        "catalog), then a hash-agg on the type x type matrix whose "
        "size is type-cardinality squared — tiny — and the row-count "
        "normalizer joins back as a broadcast",
)
def q_markov_transitions(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    t = (
        e.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )
    tot = t.groupBy("from_type").agg(
        F.sum("n_transitions").cast("long").alias("n_from")
    )
    return t.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "n_transitions",
        "n_from",
        F.expr("(n_transitions * 1000000) div n_from").alias("p_ppm"),
    )


@register(
    "copurchase_triangles",
    f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_MIN_PAIR_SUPP}
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs
  ) GROUP BY node
), oriented AS (
  SELECT CASE WHEN (du.degree, u) < (dv.degree, v) THEN u ELSE v END
           AS src,
         CASE WHEN (du.degree, u) < (dv.degree, v) THEN v ELSE u END
           AS dst
  FROM pairs
  JOIN deg du ON u = du.node
  JOIN deg dv ON v = dv.node
), wedges AS (
  SELECT a.src AS x,
         least(a.dst, b.dst) AS p, greatest(a.dst, b.dst) AS q
  FROM oriented a JOIN oriented b
    ON a.src = b.src AND a.dst < b.dst
), tri AS (
  SELECT w.x, w.p, w.q
  FROM wedges w SEMI JOIN pairs e ON w.p = e.u AND w.q = e.v
), corners AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT p AS node FROM tri
  UNION ALL SELECT q AS node FROM tri
), pn AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
  FROM corners GROUP BY node
)
SELECT pn.node AS part, pn.n_triangles, d.degree,
       CAST(pn.n_triangles * 2000000
            // (d.degree * (d.degree - 1)) AS BIGINT)
         AS clustering_ppm
FROM pn JOIN deg d ON pn.node = d.node
""",
    doc="exact triangle counting on the co-purchase graph (nodes = "
        "parts, edges = pairs co-occurring in >= 2 orders) with the "
        "DEGREE-ORDERED orientation (Cohen 2009 / Suri-Vassilvitskii "
        "2011): each undirected edge points from its lower-(degree, "
        "id) endpoint, so every triangle is generated exactly once "
        "from its minimum vertex and per-node wedge fan-out is "
        "bounded by out-degree <= O(sqrt(m)) even on power-law "
        "graphs — the orientation IS the skew defense. Wedge pairs "
        "canonicalize to (min id, max id) so the closing-edge check "
        "is a plain two-column equi-semi-join against the undirected "
        "edge list. Emits per-part triangle participation and the "
        "exact-integer local clustering coefficient "
        "2T/(d(d-1)) in ppm. Scale: edge gen is the bounded basket "
        "pair explode; degrees broadcast back (part-dimension); the "
        "wedge join is src-keyed with orientation-bounded fan-out",
)
def q_copurchase_triangles(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    # EAGER: the edge table has three concurrent consumers (degree
    # union-agg x2 sides, orientation join, closing-edge semi-join) —
    # a lazy checkpoint raced them into re-running the pair expansion
    # (10x batch reps measured [23.6 s, 279.6 s]; eager + freed
    # blocks: [12.1, 11.8])
    edges = (
        bucket_pairs(baskets, "ps", "u", "v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= _MIN_PAIR_SUPP)
        .select("u", "v")
        .localCheckpoint()
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    du = deg.select(
        F.col("node").alias("u"), F.col("degree").alias("du")
    )
    dv = deg.select(
        F.col("node").alias("v"), F.col("degree").alias("dv")
    )
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    a = oriented.alias("a")
    b = oriented.alias("b")
    wedges = a.join(
        b,
        (F.col("a.src") == F.col("b.src"))
        & (F.col("a.dst") < F.col("b.dst")),
    ).select(
        F.col("a.src").alias("x"),
        F.least(F.col("a.dst"), F.col("b.dst")).alias("p"),
        F.greatest(F.col("a.dst"), F.col("b.dst")).alias("q"),
    )
    tri = wedges.join(
        edges.select(F.col("u").alias("p"), F.col("v").alias("q")),
        ["p", "q"],
        "semi",
    )
    corners = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("p").alias("node")))
        .unionAll(tri.select(F.col("q").alias("node")))
    )
    pn = corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    return pn.join(deg, "node").select(
        F.col("node").alias("part"),
        "n_triangles",
        "degree",
        F.expr(
            "(n_triangles * 2000000) div (degree * (degree - 1))"
        ).alias("clustering_ppm"),
    )


@register(
    "sliding_distinct_hll_merge",
    """
WITH hourly AS (
  SELECT DISTINCT event_type,
         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS eh
  FROM events
), ev AS (
  SELECT event_type, user_id,
         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS eh
  FROM events
), x AS (
  SELECT e.event_type, e.user_id, e.eh + d.d AS win_eh
  FROM ev e CROSS JOIN (
    SELECT unnest(generate_series(0, 2)) AS d) d
), w AS (
  SELECT x.event_type, x.win_eh, x.user_id
  FROM x SEMI JOIN hourly h
    ON x.event_type = h.event_type AND x.win_eh = h.eh
)
SELECT event_type, win_eh,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS hll_ok
FROM w GROUP BY 1, 2
""",
    doc="sliding-window distinct users via MERGEABLE HLL sketches "
        "(Datasketches hll_sketch_agg/hll_union_agg): one hourly "
        "sketch per (type, hour) built in a single corpus pass, then "
        "every 3-hour window ending at an observed hour UNIONS the "
        "three hourly sketches — the raw events are never re-scanned "
        "per window, which is the only shape that works when windows "
        "overlap at 100 TB (exact distinct would re-shuffle the full "
        "user stream once per window). The estimate is checked "
        "against the exact sliding distinct (computed for the gate "
        "via a bounded x3 window-assignment fan-out) as a bound "
        "boolean — |est - exact| <= max(5, 6% of exact), ~3.8 rsd at "
        "lgK=12 — which the oracle emits as constant TRUE: the "
        "driver hash-match IS the sketch-accuracy test. At scale the "
        "exact column drops and the sketch is the answer; hourly "
        "sketches also roll up to days/weeks by the same union",
)
def q_sliding_distinct_hll_merge(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.expr("unix_micros(ts) div 3600000000").alias("eh"),
    )
    hourly_sk = ev.groupBy("event_type", "eh").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    hours = hourly_sk.select("event_type", "eh").localCheckpoint(
        eager=False
    )
    d3 = F.explode(F.sequence(F.lit(0), F.lit(2))).alias("d")
    sk_w = (
        hourly_sk.select("event_type", "eh", "sk", d3)
        .select(
            "event_type",
            (F.col("eh") + F.col("d")).alias("win_eh"),
            "sk",
        )
        .join(
            hours.select(
                "event_type", F.col("eh").alias("win_eh")
            ),
            ["event_type", "win_eh"],
            "semi",
        )
        .groupBy("event_type", "win_eh")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("long")
            .alias("n_est")
        )
    )
    exact_w = (
        ev.select("event_type", "user_id", "eh", d3)
        .select(
            "event_type",
            "user_id",
            (F.col("eh") + F.col("d")).alias("win_eh"),
        )
        .join(
            hours.select(
                "event_type", F.col("eh").alias("win_eh")
            ),
            ["event_type", "win_eh"],
            "semi",
        )
        .groupBy("event_type", "win_eh")
        .agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    )
    return exact_w.join(sk_w, ["event_type", "win_eh"]).select(
        "event_type",
        "win_eh",
        "n_exact",
        (
            F.abs(F.col("n_est") - F.col("n_exact"))
            <= F.greatest(
                F.lit(5).cast("long"),
                F.ceil(F.lit(0.06) * F.col("n_exact")).cast("long"),
            )
        ).alias("hll_ok"),
    )


@register(
    "pareto_frontier_parts",
    """
WITH p AS (
  SELECT p_partkey,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
         CAST(p_size AS BIGINT) AS psize
  FROM part
), f AS (
  SELECT p_partkey, price_cents, psize,
         max(psize) OVER (ORDER BY price_cents
           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_lt,
         max(psize) OVER (PARTITION BY price_cents) AS m_eq
  FROM p
)
SELECT p_partkey, price_cents, psize
FROM f
WHERE (m_lt IS NULL OR m_lt < psize) AND m_eq = psize
""",
    doc="skyline / Pareto-frontier query (minimize price, maximize "
        "size): a part survives iff no other part is at most its "
        "price AND at least its size with one strict — the classic "
        "two-criteria shortlist. Dominance resolves with two windows "
        "over integer cents: max size at STRICTLY lower price (RANGE "
        "... 1 PRECEDING) and max size at EQUAL price; ties on both "
        "axes co-survive. The Spark plan is TWO-PHASE: per-bucket "
        "frontiers first (hash buckets, windows partition-bounded), "
        "then the global frontier over the union of bucket frontiers "
        "— correct because dominance is transitive (a global survivor "
        "survives its bucket; a cross-bucket-dominated point is "
        "eliminated in phase 2), so the single-partition window only "
        "ever sees the tiny frontier union, never the full table. "
        "Brute-force-verified at sf0.001. The oracle is the direct "
        "one-pass global-window form",
)
def q_pareto_frontier_parts(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    p = part.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100)
        .cast("long")
        .alias("price_cents"),
        F.col("p_size").cast("long").alias("psize"),
    )

    def frontier(df, extra_part_cols):
        w_lt = (
            Window.partitionBy(*extra_part_cols)
            .orderBy("price_cents")
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        w_eq = Window.partitionBy(*extra_part_cols, "price_cents")
        f = df.select(
            "p_partkey",
            "price_cents",
            "psize",
            *extra_part_cols,
            F.max("psize").over(w_lt).alias("m_lt"),
            F.max("psize").over(w_eq).alias("m_eq"),
        )
        return f.where(
            (F.col("m_lt").isNull() | (F.col("m_lt") < F.col("psize")))
            & (F.col("m_eq") == F.col("psize"))
        ).select("p_partkey", "price_cents", "psize")

    bucketed = p.withColumn(
        "bkt", F.pmod(F.xxhash64("p_partkey"), F.lit(32))
    )
    local = frontier(bucketed, ["bkt"])
    return frontier(local, [])


@register(
    "weighted_median_price",
    """
WITH w AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS wt
  FROM lineitem GROUP BY 1, 2
), c AS (
  SELECT l_returnflag, price_cents, wt,
         CAST(sum(wt) OVER (PARTITION BY l_returnflag
           ORDER BY price_cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum,
         CAST(sum(wt) OVER (PARTITION BY l_returnflag) AS BIGINT)
           AS tot
  FROM w
)
SELECT l_returnflag, CAST(min(tot) AS BIGINT) AS total_weight,
       CAST(min(price_cents) AS BIGINT) AS weighted_median_cents
FROM c WHERE cum * 2 >= tot GROUP BY l_returnflag
""",
    doc="exact weighted median (lower weighted median: smallest price "
        "whose cumulative quantity-weight reaches half the total) per "
        "return flag, entirely in int64 cents — the robust 'typical "
        "price paid' statistic, no sketch and no float. The key scale "
        "move: the cumulative window runs over the (group, DISTINCT "
        "price) table produced by a partial-combinable hash-agg — NOT "
        "over raw lineitem rows — so a group with 10^10 rows but "
        "10^5 distinct prices windows over 10^5 rows. Heavier domains "
        "would bucket prices first (same two-phase posture as the "
        "deciles query); the selection itself is a filter + min, no "
        "second pass over data",
)
def q_weighted_median_price(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    w = li.groupBy(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("price_cents"),
    ).agg(
        F.sum(F.round(F.col("l_quantity")).cast("long"))
        .cast("long")
        .alias("wt")
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag")
    c = w.select(
        "l_returnflag",
        "price_cents",
        F.sum("wt").over(wcum).cast("long").alias("cum"),
        F.sum("wt").over(wall).cast("long").alias("tot"),
    )
    return (
        c.where(F.col("cum") * 2 >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.min("tot").cast("long").alias("total_weight"),
            F.min("price_cents")
            .cast("long")
            .alias("weighted_median_cents"),
        )
    )


@register(
    "theil_sen_trend",
    """
WITH hourly AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS eh,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), x AS (
  SELECT event_type, eh - min(eh) OVER (PARTITION BY event_type) AS x,
         y
  FROM hourly
), p AS (
  SELECT a.event_type,
         CAST(((b.y - a.y) * 1000000) // (b.x - a.x) AS BIGINT)
           AS uslope
  FROM x a JOIN x b
    ON a.event_type = b.event_type AND a.x < b.x
), c AS (
  SELECT event_type, uslope,
         CAST(count(*) AS BIGINT) AS wt
  FROM p GROUP BY 1, 2
), s AS (
  SELECT event_type, uslope, wt,
         CAST(sum(wt) OVER (PARTITION BY event_type ORDER BY uslope
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum,
         CAST(sum(wt) OVER (PARTITION BY event_type) AS BIGINT) AS tot
  FROM c
)
SELECT event_type, CAST(min(tot) AS BIGINT) AS n_pairs,
       CAST(min(uslope) AS BIGINT) AS ts_slope_uppm
FROM s WHERE cum * 2 >= tot GROUP BY event_type
""",
    doc="Theil-Sen robust trend per event type — the median of all "
        "pairwise slopes over hourly volumes, the estimator that "
        "shrugs off the outlier spikes that bend the OLS twin "
        "(hourly_trend_slopes): slopes are DEFINED as exact integer "
        "micro-slopes floor((dy*1e6)/dx) so both engines order and "
        "median them identically (a true rational median is not "
        "SQL-orderable; the micro-unit definition is engine-portable "
        "and loses < 1 micro-unit). The median reuses the "
        "weighted-median shape: pair slopes hash-agg to (type, "
        "uslope, weight) FIRST, the cumulative window runs over "
        "distinct slope values, never raw pairs. Scale: the pair join "
        "is per-type over the OBSERVED-HOURS table (retention-hours x "
        "types, independent of event count), so the quadratic stage "
        "is bounded by hours² per type — ~10^5 pairs for a month of "
        "hours — while the only fact-sized work is the first "
        "map-side-combining hash-agg",
)
def q_theil_sen_trend(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("eh"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    x = hourly.select(
        "event_type",
        (
            F.col("eh")
            - F.min("eh").over(Window.partitionBy("event_type"))
        ).alias("x"),
        "y",
    )
    a = x.alias("a")
    b = x.alias("b")
    p = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.expr("((b.y - a.y) * 1000000) div (b.x - a.x)").alias(
            "uslope"
        ),
    )
    c = p.groupBy("event_type", "uslope").agg(
        F.count(F.lit(1)).cast("long").alias("wt")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("uslope")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    s = c.select(
        "event_type",
        "uslope",
        F.sum("wt").over(wcum).cast("long").alias("cum"),
        F.sum("wt").over(wall).cast("long").alias("tot"),
    )
    return (
        s.where(F.col("cum") * 2 >= F.col("tot"))
        .groupBy("event_type")
        .agg(
            F.min("tot").cast("long").alias("n_pairs"),
            F.min("uslope").cast("long").alias("ts_slope_uppm"),
        )
    )


# PageRank: fixed iteration count (unrolled in the oracle), damping
# 85/100, ranks in integer micro-units so both engines compute the
# exact same numbers (positive integer division truncates identically).
_PR_ITERS = 3


def _pr_iter_cte(prev: str, this: str) -> str:
    return f"""{this} AS (
  SELECT e.dst AS node,
         CAST(150000 + (85 * sum(r.r // d.degree)) // 100 AS BIGINT) AS r
  FROM edges e
  JOIN {prev} r ON e.src = r.node
  JOIN deg d ON e.src = d.node
  GROUP BY e.dst
)"""


@register(
    "copurchase_pagerank",
    f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_MIN_PAIR_SUPP}
), edges AS (
  SELECT u AS src, v AS dst FROM pairs
  UNION ALL SELECT v AS src, u AS dst FROM pairs
), deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
  FROM edges GROUP BY src
), r0 AS (
  SELECT node, CAST(1000000 AS BIGINT) AS r FROM deg
), {", ".join(_pr_iter_cte(f"r{i}", f"r{i + 1}") for i in range(_PR_ITERS))}
SELECT rN.node AS part, d.degree, rN.r AS pagerank_ppm
FROM r{_PR_ITERS} rN JOIN deg d ON rN.node = d.node
""",
    doc="PageRank over the co-purchase graph (same bidirectional edge "
        f"construction as copurchase_triangles), {_PR_ITERS} power "
        "iterations at damping 85/100 with ranks in exact integer "
        "micro-units: contrib(u->v) = r(u) div deg(u), r'(v) = 150000 "
        "+ (85 * sum(contrib)) div 100 — every op is positive-integer "
        "division, so Spark `div` and DuckDB `//` agree bit-for-bit "
        "and the oracle simply unrolls the iterations as CTEs. The "
        "undirected graph has no dangling nodes (every vertex has an "
        "out-edge) so no mass-redistribution term is needed. Scale: "
        "the loop-invariant (src, dst, degree) edge table is built "
        "once and localCheckpointed; each iteration is ONE "
        "co-partitioned join (ranks are node-sized — AQE broadcasts "
        "them when small, and at 1000-executor scale both sides hash "
        "on src so the edge table never re-shuffles across "
        "iterations) plus ONE hash-agg on dst. Iterations are a fixed "
        "constant, not data-dependent, so ranks do NOT checkpoint per "
        "round (bounded lineage; the materialization cost measured 3x "
        "at sf0.1) — unbounded variants should checkpoint "
        "periodically like the dedup CC loop",
)
def q_copurchase_pagerank(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = (
        bucket_pairs(baskets, "ps", "u", "v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= _MIN_PAIR_SUPP)
        .select("u", "v")
    )
    edges = pairs.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(pairs.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    deg0 = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    # EAGER checkpoint, and deg re-derived FROM the materialized edge
    # table: the basket-pair expansion (the plan's dominant stage)
    # then runs exactly once — with deg kept as its own lineage, the
    # ranks init and final join re-execute the whole expansion
    # (ReuseExchange dedups subtrees within one plan only). Eager, not
    # lazy: a lazily-checkpointed RDD with several concurrent
    # downstream stages races on cache population and can compute the
    # expansion 3x (measured 182 s vs 58 s at 10x for the lazy form).
    # Interleaved A/B at 10x: 15.3-19.1 s (deg-recompute) ->
    # 9.3-15.8 s (this form); identical output.
    ed = edges.join(deg0, "src").localCheckpoint()
    deg = ed.select("src", "degree").distinct()
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(1000000).cast("long").alias("r")
    )
    # NO per-iteration localCheckpoint: with a FIXED small iteration
    # count the lineage is bounded and the checkpoint's per-round RDD
    # materialization dominates the plan (measured 3x at sf0.1:
    # 8.4s -> 2.8s). An unbounded-iteration variant should checkpoint
    # every few rounds like the dedup CC loop.
    for _ in range(_PR_ITERS):
        contrib = ed.join(
            ranks.withColumnRenamed("node", "src"), "src"
        ).select("dst", F.expr("r div degree").alias("c"))
        ranks = (
            contrib.groupBy("dst")
            .agg(
                F.expr(
                    "cast(150000 + (85 * sum(c)) div 100 as bigint)"
                ).alias("r")
            )
            .withColumnRenamed("dst", "node")
        )
    return ranks.join(
        deg.withColumnRenamed("src", "node"), "node"
    ).select(F.col("node").alias("part"), "degree", F.col("r").alias("pagerank_ppm"))


# Benford's-law expected first-digit shares, log10(1+1/d) rounded to
# ppm (the nine literals sum to exactly 1,000,000 so total-variation
# distances stay exact integers).
_BENFORD_PPM = [
    (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
    (6, 66947), (7, 57992), (8, 51153), (9, 45757),
]


@register(
    "benford_first_digit",
    f"""
WITH cents AS (
  SELECT c.c_mktsegment AS seg,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS c
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), digits AS (
  SELECT seg, CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS d
  FROM cents
), counts AS (
  SELECT seg, d, CAST(count(*) AS BIGINT) AS cnt
  FROM digits GROUP BY 1, 2
), n AS (
  SELECT seg, CAST(sum(cnt) AS BIGINT) AS n FROM counts GROUP BY 1
), bf AS (
  SELECT * FROM (VALUES
    {", ".join(f"({d}, {p})" for d, p in _BENFORD_PPM)}
  ) AS t(d, exp_ppm)
), dev AS (
  SELECT g.seg, g.n,
         abs(COALESCE(c.cnt, 0) * 1000000 // g.n - g.exp_ppm) AS dev
  FROM (SELECT n.seg, n.n, bf.d, bf.exp_ppm FROM n CROSS JOIN bf) g
  LEFT JOIN counts c ON g.seg = c.seg AND g.d = c.d
)
SELECT seg AS segment, CAST(min(n) AS BIGINT) AS n_orders,
       CAST(max(dev) AS BIGINT) AS max_dev_ppm,
       CAST(sum(dev) // 2 AS BIGINT) AS tv_ppm
FROM dev GROUP BY seg
""",
    doc="Benford's-law first-digit conformance per customer market "
        "segment over order totals — the classic forensic-accounting "
        "fraud screen (fabricated amounts skew away from the "
        "logarithmic first-digit distribution). First digit comes "
        "from the integer-cents string head (identical across "
        "engines; the leading digit of price and of price*100 "
        "coincide); expected shares are the nine hardcoded "
        "log10(1+1/d) ppm literals (summing to exactly 1e6), so "
        "observed-vs-expected deviations — max per digit and "
        "total-variation distance — are exact integers with zero "
        "log()/float hazard. Missing digits count as observed 0 via "
        "the segment x digit grid LEFT JOIN. Scale: the customer "
        "segment dim joins BROADCAST onto the orders scan; then one "
        "(segment, digit) hash-agg (<= 9 cells per segment, "
        "partial-aggregated map-side); the 9-row Benford table "
        "broadcasts; the grid is segment-dimension sized",
)
def q_benford_first_digit(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("seg"),
    )
    digits = orders.join(F.broadcast(cust), "o_custkey").select(
        "seg",
        F.expr(
            "cast(substr(cast(cast(round(o_totalprice * 100) as bigint)"
            " as string), 1, 1) as bigint)"
        ).alias("d"),
    )
    counts = digits.groupBy("seg", "d").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    n = counts.groupBy("seg").agg(F.sum("cnt").cast("long").alias("n"))
    bf = F.broadcast(
        counts.sparkSession.createDataFrame(
            _BENFORD_PPM, "d bigint, exp_ppm bigint"
        )
    )
    grid = n.crossJoin(bf)
    dev = grid.join(counts, ["seg", "d"], "left").select(
        "seg",
        "n",
        F.expr(
            "abs(coalesce(cnt, 0) * 1000000 div n - exp_ppm)"
        ).alias("dev"),
    )
    return dev.groupBy("seg").agg(
        F.min("n").cast("long").alias("n_orders"),
        F.max("dev").cast("long").alias("max_dev_ppm"),
        F.expr("cast(sum(dev) div 2 as bigint)").alias("tv_ppm"),
    ).select(
        F.col("seg").alias("segment"), "n_orders", "max_dev_ppm", "tv_ppm"
    )


_KS_CUTOFF = "1998-05-01 00:00:00"


@register(
    "ks_drift_orders",
    f"""
WITH v AS (
  SELECT c.c_mktsegment AS seg,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN o.o_orderdate < TIMESTAMP '{_KS_CUTOFF}'
              THEN 0 ELSE 1 END AS side
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), cnt AS (
  SELECT seg, v,
         CAST(count(*) FILTER (side = 0) AS BIGINT) AS ca,
         CAST(count(*) FILTER (side = 1) AS BIGINT) AS cb
  FROM v GROUP BY seg, v
), tot AS (
  SELECT seg, CAST(sum(ca) AS BIGINT) AS na,
         CAST(sum(cb) AS BIGINT) AS nb
  FROM cnt GROUP BY seg
), cum AS (
  SELECT c.seg, c.v, t.na, t.nb,
         CAST(sum(c.ca) OVER (PARTITION BY c.seg ORDER BY c.v) AS BIGINT)
           AS cuma,
         CAST(sum(c.cb) OVER (PARTITION BY c.seg ORDER BY c.v) AS BIGINT)
           AS cumb
  FROM cnt c JOIN tot t ON c.seg = t.seg
), dev AS (
  SELECT seg, v, na, nb,
         abs(cuma * 1000000 // na - cumb * 1000000 // nb) AS d
  FROM cum
), ks AS (
  SELECT seg, CAST(min(na) AS BIGINT) AS n_before,
         CAST(min(nb) AS BIGINT) AS n_after,
         CAST(max(d) AS BIGINT) AS ks_ppm
  FROM dev GROUP BY seg
)
SELECT k.seg AS segment, k.n_before, k.n_after, k.ks_ppm,
       CAST(min(d.v) AS BIGINT) AS ks_at_cents
FROM ks k JOIN dev d ON k.seg = d.seg AND d.d = k.ks_ppm
GROUP BY k.seg, k.n_before, k.n_after, k.ks_ppm
""",
    doc="two-sample Kolmogorov-Smirnov drift statistic per customer "
        "segment: order-value distribution before vs after "
        f"{_KS_CUTOFF.split(' ')[0]} (the month-over-month "
        "data-quality drift monitor for a continuously ingested "
        "fact table; TV-on-tokens covers categorical drift, KS "
        "covers ordered/numeric drift). Exact integers end to end: "
        "empirical CDFs are cumulative counts over the (segment, "
        "DISTINCT cents) table scaled to ppm via integer div, the "
        "statistic is their max absolute gap, and ks_at_cents pins "
        "the value where the gap is attained (min such value — "
        "deterministic). Evaluating the gap only at observed values "
        "is lossless: between consecutive observations both CDFs are "
        "constant. Scale: one fact scan + broadcast segment dim -> "
        "(seg, cents) hash-agg, so windows run over DISTINCT VALUES "
        "per segment, not rows (the weighted-median shape: 1e10 rows "
        "with 1e5 distinct prices windows over 1e5); the argmax join "
        "is against the 5-row ks table, broadcast",
)
def q_ks_drift_orders(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("seg"),
    )
    v = orders.join(F.broadcast(cust), "o_custkey").select(
        "seg",
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("v"),
        F.expr(
            f"case when o_orderdate < timestamp'{_KS_CUTOFF}'"
            " then 0 else 1 end"
        ).alias("side"),
    )
    cnt = v.groupBy("seg", "v").agg(
        F.sum(F.expr("if(side = 0, 1, 0)")).cast("long").alias("ca"),
        F.sum(F.expr("if(side = 1, 1, 0)")).cast("long").alias("cb"),
    )
    wtot = Window.partitionBy("seg")
    wcum = (
        Window.partitionBy("seg")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = cnt.select(
        "seg",
        "v",
        F.sum("ca").over(wtot).cast("long").alias("na"),
        F.sum("cb").over(wtot).cast("long").alias("nb"),
        F.sum("ca").over(wcum).cast("long").alias("cuma"),
        F.sum("cb").over(wcum).cast("long").alias("cumb"),
    ).select(
        "seg",
        "v",
        "na",
        "nb",
        F.expr(
            "abs(cuma * 1000000 div na - cumb * 1000000 div nb)"
        ).alias("d"),
    )
    ks = dev.groupBy("seg").agg(
        F.min("na").cast("long").alias("n_before"),
        F.min("nb").cast("long").alias("n_after"),
        F.max("d").cast("long").alias("ks_ppm"),
    ).select(
        F.col("seg").alias("kseg"), "n_before", "n_after", "ks_ppm"
    ).localCheckpoint(eager=False)
    return (
        dev.join(
            F.broadcast(ks),
            (F.col("seg") == F.col("kseg"))
            & (F.col("d") == F.col("ks_ppm")),
        )
        .groupBy("kseg", "n_before", "n_after", "ks_ppm")
        .agg(F.min("v").cast("long").alias("ks_at_cents"))
        .select(
            F.col("kseg").alias("segment"),
            "n_before",
            "n_after",
            "ks_ppm",
            "ks_at_cents",
        )
    )


@register(
    "hll_intersection_overlap",
    """
WITH u AS (
  SELECT DISTINCT event_type, user_id FROM events
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM u a JOIN u b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
), n AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM u GROUP BY 1
)
SELECT p.type_a, p.type_b, na.n AS n_a, nb.n AS n_b, p.n_inter,
       TRUE AS inter_within_bound
FROM pairs p
JOIN n na ON p.type_a = na.event_type
JOIN n nb ON p.type_b = nb.event_type
""",
    doc="audience-overlap estimation from MERGED HLL sketches with "
        "inclusion-exclusion — |A∩B| ≈ est(A) + est(B) - est(A∪B) — "
        "checked against the exact intersection: the query emits the "
        "exact counts plus a boolean asserting the sketch estimate "
        "lands within 5%% of the union size, and the oracle emits the "
        "same exact counts with constant TRUE, so the driver "
        "hash-match IS the accuracy gate (the sketch_distinct_users "
        "pattern). This is the operation sketches exist for at 100 "
        "TB: per-segment sketches are built ONCE (map-side "
        "combinable, KBs each) and any pair's overlap is answered by "
        "merging two sketches — no re-scan, no pairwise user-level "
        "join. The exact legs here are the verification harness, not "
        "the scale path. lgk=12 -> rsd ~1.6%%; inclusion-exclusion "
        "compounds three estimates, hence the 5%%-of-union bound",
)
def q_hll_intersection_overlap(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    u = ev.select("event_type", "user_id").distinct().localCheckpoint(
        eager=False
    )
    sk = u.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id, 12)").alias("sk"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    a = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("ska"),
        F.col("n").alias("n_a"),
    )
    b = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("skb"),
        F.col("n").alias("n_b"),
    )
    est = (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            F.expr("cast(hll_sketch_estimate(ska) as bigint)").alias("ea"),
            F.expr("cast(hll_sketch_estimate(skb) as bigint)").alias("eb"),
            F.expr(
                "cast(hll_sketch_estimate(hll_union(ska, skb)) as bigint)"
            ).alias("eu"),
        )
    )
    exact = (
        u.select(F.col("event_type").alias("type_a"), "user_id")
        .join(
            u.select(F.col("event_type").alias("type_b"), "user_id"),
            "user_id",
        )
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    return est.join(exact, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "n_inter",
        (
            F.expr("abs((ea + eb - eu) - n_inter)")
            <= F.expr("cast(ceil(0.05 * eu) as bigint)")
        ).alias("inter_within_bound"),
    )


@register(
    "beacon_detection",
    """
WITH e AS (
  SELECT user_id, event_type,
         CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t,
         event_id
  FROM events
), d AS (
  SELECT user_id, event_type,
         t - lag(t) OVER (PARTITION BY user_id, event_type
                          ORDER BY t, event_id) AS dt
  FROM e
), s AS (
  SELECT user_id, event_type,
         CAST(count(dt) AS BIGINT) AS n_deltas,
         CAST(sum(dt) AS BIGINT) AS span_s,
         CAST(sum(dt * dt) AS BIGINT) AS sum_sq
  FROM d WHERE dt IS NOT NULL
  GROUP BY 1, 2 HAVING count(dt) >= 5
)
SELECT user_id, event_type, n_deltas, span_s,
       CAST(n_deltas * sum_sq - span_s * span_s AS BIGINT) AS var_num,
       (100 * (n_deltas * sum_sq - span_s * span_s)
        < span_s * span_s) AS beacon_flag
FROM s
""",
    doc="beaconing detection for defensive monitoring: per (user, "
        "event_type) series with >= 5 inter-arrival deltas, flag "
        "machine-regular callbacks by the squared coefficient of "
        "variation of the deltas — cv^2 = var_num / span^2 where "
        "var_num = n*sum(d^2) - (sum d)^2 (the integer-exact "
        "dispersion form the seasonal z-test already uses) and "
        "sum(d) TELESCOPES to last-first, so span <= the table's "
        "time range and every product stays far inside int64. "
        "beacon_flag is cv^2 < 1% — human activity is bursty "
        "(cv ~ 1), C2 beacons and cron-like automation are "
        "metronomic (cv << 1). Deltas order by (t, event_id) for a "
        "total tie-break. Scale: one shuffle on the (user, type) "
        "key for the lag window, then a hash-agg on the same key "
        "(partitioning reuse); output is entity-dimension sized. "
        "The flag threshold is conservative on purpose — the exact "
        "integer comparison 100*var_num < span^2 never needs a "
        "float",
)
def q_beacon_detection(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts) div 1000000").alias("t"),
        "event_id",
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("t", "event_id")
    d = e.select(
        "user_id",
        "event_type",
        (F.col("t") - F.lag("t").over(w)).alias("dt"),
    ).where(F.col("dt").isNotNull())
    s = (
        d.groupBy("user_id", "event_type")
        .agg(
            F.count("dt").cast("long").alias("n_deltas"),
            F.sum("dt").cast("long").alias("span_s"),
            F.sum(F.col("dt") * F.col("dt")).cast("long").alias("sum_sq"),
        )
        .where(F.col("n_deltas") >= 5)
    )
    return s.select(
        "user_id",
        "event_type",
        "n_deltas",
        "span_s",
        F.expr(
            "cast(n_deltas * sum_sq - span_s * span_s as bigint)"
        ).alias("var_num"),
        F.expr(
            "100 * (n_deltas * sum_sq - span_s * span_s)"
            " < span_s * span_s"
        ).alias("beacon_flag"),
    )


@register(
    "copurchase_link_jaccard",
    f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_MIN_PAIR_SUPP}
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs
  ) GROUP BY node
), oriented AS (
  SELECT CASE WHEN (du.degree, u) < (dv.degree, v) THEN u ELSE v END
           AS src,
         CASE WHEN (du.degree, u) < (dv.degree, v) THEN v ELSE u END
           AS dst
  FROM pairs
  JOIN deg du ON u = du.node
  JOIN deg dv ON v = dv.node
), wedges AS (
  SELECT a.src AS x,
         least(a.dst, b.dst) AS p, greatest(a.dst, b.dst) AS q
  FROM oriented a JOIN oriented b
    ON a.src = b.src AND a.dst < b.dst
), tri AS (
  SELECT w.x, w.p, w.q
  FROM wedges w SEMI JOIN pairs e ON w.p = e.u AND w.q = e.v
), tri_edges AS (
  SELECT least(x, p) AS u, greatest(x, p) AS v FROM tri
  UNION ALL SELECT least(x, q), greatest(x, q) FROM tri
  UNION ALL SELECT p, q FROM tri
), cn AS (
  SELECT u, v, CAST(count(*) AS BIGINT) AS common_neighbors
  FROM tri_edges GROUP BY u, v
)
SELECT e.u, e.v,
       CAST(COALESCE(c.common_neighbors, 0) AS BIGINT)
         AS common_neighbors,
       du.degree AS deg_u, dv.degree AS deg_v,
       CAST(COALESCE(c.common_neighbors, 0) * 1000000
            // (du.degree + dv.degree - 2
                - COALESCE(c.common_neighbors, 0))
          AS BIGINT) AS link_jaccard_ppm
FROM pairs e
LEFT JOIN cn c ON e.u = c.u AND e.v = c.v
JOIN deg du ON e.u = du.node
JOIN deg dv ON e.v = dv.node
WHERE du.degree + dv.degree - 2 - COALESCE(c.common_neighbors, 0) > 0
""",
    doc="edge-level neighborhood Jaccard on the co-purchase graph — "
        "tie strength / link prediction (Liben-Nowell & Kleinberg "
        "2003's common-neighbors family): for each existing edge "
        "(u, v), cn = |N(u) ∩ N(v)| is exactly the number of "
        "triangles through that edge, harvested from the SAME "
        "degree-ordered triangle construction as "
        "copurchase_triangles (each triangle contributes its three "
        "canonical edges; no new join shape, the orientation's "
        "O(sqrt(m)) wedge bound carries over), and the Jaccard "
        "denominator is du + dv - 2 - cn (neighbor sets minus the "
        "endpoints themselves) in exact ppm. Edges whose endpoints "
        "have no other neighbors (denominator 0: the isolated-pair "
        "case where both degrees are 1) are excluded — their "
        "similarity is undefined rather than zero. Scale: identical "
        "posture to the triangle query plus one LEFT JOIN of the "
        "edge list against the (smaller) triangle-edge counts",
)
def q_copurchase_link_jaccard(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = (
        bucket_pairs(baskets, "ps", "u", "v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= _MIN_PAIR_SUPP)
        .select("u", "v")
        # EAGER: degree agg + both pair-join probes read this table
        # concurrently (A/B: 3.86 -> 3.18 s min, 7.7 s spike gone)
        .localCheckpoint()
    )
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        pairs.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    a = oriented.alias("a")
    b = oriented.alias("b")
    wedges = a.join(
        b,
        (F.col("a.src") == F.col("b.src"))
        & (F.col("a.dst") < F.col("b.dst")),
    ).select(
        F.col("a.src").alias("x"),
        F.least(F.col("a.dst"), F.col("b.dst")).alias("p"),
        F.greatest(F.col("a.dst"), F.col("b.dst")).alias("q"),
    )
    tri = wedges.join(
        pairs.select(F.col("u").alias("p"), F.col("v").alias("q")),
        ["p", "q"],
        "semi",
    )
    tri_edges = (
        tri.select(
            F.least("x", "p").alias("u"), F.greatest("x", "p").alias("v")
        )
        .unionAll(
            tri.select(
                F.least("x", "q").alias("u"),
                F.greatest("x", "q").alias("v"),
            )
        )
        .unionAll(tri.select(F.col("p").alias("u"), F.col("q").alias("v")))
    )
    cn = tri_edges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("common_neighbors")
    )
    return (
        pairs.join(cn, ["u", "v"], "left")
        .join(F.broadcast(du.withColumnRenamed("du", "deg_u")), "u")
        .join(F.broadcast(dv.withColumnRenamed("dv", "deg_v")), "v")
        .select(
            "u",
            "v",
            F.coalesce("common_neighbors", F.lit(0))
            .cast("long")
            .alias("common_neighbors"),
            "deg_u",
            "deg_v",
        )
        .where(
            F.expr("deg_u + deg_v - 2 - common_neighbors > 0")
        )
        .withColumn(
            "link_jaccard_ppm",
            F.expr(
                "(common_neighbors * 1000000)"
                " div (deg_u + deg_v - 2 - common_neighbors)"
            ),
        )
    )


# Violation penalty halving by age (12h half-life): 20 -> 10 -> 5 ->
# 2 -> 1 -> 0, an explicit integer table so both engines agree without
# relying on shift/pow semantics. Integer halving of 20 truncates at
# 2 (5 div 2), matching iprepd-style coarse decay steps.
_DECAY_CASE = (
    "CASE least((tnow - t) {div} 43200, 5) "
    "WHEN 0 THEN 20 WHEN 1 THEN 10 WHEN 2 THEN 5 "
    "WHEN 3 THEN 2 WHEN 4 THEN 1 ELSE 0 END"
)


@register(
    "reputation_decay",
    f"""
WITH now_t AS (
  SELECT CAST(max(epoch_us(ts)) // 1000000 AS BIGINT) AS tnow
  FROM events
), v AS (
  SELECT user_id, CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t
  FROM events WHERE event_type = 'error'
), d AS (
  SELECT user_id,
         CAST({_DECAY_CASE.format(div='//')} AS BIGINT) AS pen
  FROM v CROSS JOIN now_t
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_violations,
       CAST(count(*) * 20 AS BIGINT) AS raw_penalty,
       CAST(sum(pen) AS BIGINT) AS decayed_penalty,
       CAST(greatest(0, 100 - sum(pen)) AS BIGINT) AS reputation
FROM d GROUP BY user_id
""",
    doc="violation-reputation ledger with time decay — the batch twin "
        "of the lifecycle the reference delegates to the external "
        "iprepd service (violations submitted via the iprepd sink "
        "lower a source's reputation, which then heals after "
        "decay_after; `parser/IPrepdLog.java:38-43` parses the "
        "service's own decay logs): each 'error' event charges a "
        "20-point penalty that HALVES per 12h of age on an explicit "
        "integer table (20/10/5/2/1/0 — no pow(), no float, no "
        "engine shift-semantics risk), reputation = max(0, 100 - "
        "decayed sum). 'Now' is the table's max timestamp so the "
        "query is deterministic and replayable. Scale: the scalar "
        "max(ts) broadcasts as a 1-row cross join; then one "
        "hash-agg on user_id — two scans (one column each) or one "
        "with scan reuse, entity-dimension output",
)
def q_reputation_decay(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    now_t = ev.agg(
        F.expr("cast(max(unix_micros(ts)) div 1000000 as bigint)").alias(
            "tnow"
        )
    )
    v = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.expr("cast(unix_micros(ts) div 1000000 as bigint)").alias("t"),
    )
    d = v.crossJoin(F.broadcast(now_t)).select(
        "user_id",
        F.expr(
            "cast(" + _DECAY_CASE.format(div="div") + " as bigint)"
        ).alias("pen"),
    )
    return d.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_violations"),
        (F.count(F.lit(1)) * 20).cast("long").alias("raw_penalty"),
        F.sum("pen").cast("long").alias("decayed_penalty"),
        F.expr("cast(greatest(0, 100 - sum(pen)) as bigint)").alias(
            "reputation"
        ),
    )


@register(
    "top_session_paths",
    """
WITH e AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), tri AS (
  SELECT a.user_id,
         a.event_type || '>' || b.event_type || '>' || c.event_type
           AS path
  FROM e a
  JOIN e b ON a.user_id = b.user_id AND b.rn = a.rn + 1
  JOIN e c ON a.user_id = c.user_id AND c.rn = a.rn + 2
), counts AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM tri GROUP BY path
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY n_occurrences DESC, path)
              AS rk
  FROM counts
)
SELECT path, n_occurrences, n_users FROM ranked WHERE rk <= 20
""",
    doc="top user journeys: the 20 most frequent 3-step event-type "
        "paths across all users, with occurrence and distinct-user "
        "counts — the product-analytics path report that complements "
        "the first-order Markov matrix (markov_transitions gives "
        "edge probabilities; this surfaces the dominant multi-step "
        "sequences those edges compose into). Per-user total order "
        "is (ts, event_id) like every sequence op in the catalog. "
        "The oracle's rn self-joins are the semantic spec; the Spark "
        "plan builds each user's ordered event array ONCE and "
        "explodes its length-3 windows MAP-SIDE (the RAG-chunking "
        "shape) — one shuffle to assemble sequences, one hash-agg on "
        "the path, then the top-20 window runs over the PATH-COUNT "
        "table - bounded by |event types|^3 rows at any corpus "
        "size, so its single partition is trivially small. Path "
        "strings join with '>' which the event-type vocabulary "
        "cannot contain",
)
def q_top_session_paths(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    seqs = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .groupBy("user_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list("
                "struct(ts, event_id, event_type))), x -> x.event_type)"
            ).alias("seq")
        )
    )
    tri = seqs.select(
        "user_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(seq) - 2, 0)), "
                "i -> concat(element_at(seq, i), '>', "
                "element_at(seq, i + 1), '>', element_at(seq, i + 2)))"
            )
        ).alias("path"),
    )
    counts = tri.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("path"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 20)
        .select("path", "n_occurrences", "n_users")
    )


@register(
    "transition_dwell_times",
    """
WITH e AS (
  SELECT user_id, event_type,
         CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t,
         event_id
  FROM events
), p AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER w AS to_type,
         lead(t) OVER w - t AS dwell_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
), d AS (
  SELECT from_type, to_type, dwell_s FROM p WHERE to_type IS NOT NULL
), c AS (
  SELECT from_type, to_type, dwell_s,
         CAST(count(*) AS BIGINT) AS wt
  FROM d GROUP BY 1, 2, 3
), s AS (
  SELECT from_type, to_type, dwell_s, wt,
         CAST(sum(wt) OVER (PARTITION BY from_type, to_type
                            ORDER BY dwell_s) AS BIGINT) AS cum,
         CAST(sum(wt) OVER (PARTITION BY from_type, to_type)
           AS BIGINT) AS tot
  FROM c
)
SELECT from_type, to_type,
       CAST(min(tot) AS BIGINT) AS n_transitions,
       CAST(min(dwell_s) AS BIGINT) AS median_dwell_s
FROM s WHERE cum * 2 >= tot
GROUP BY from_type, to_type
""",
    doc="timing-aware journey analysis: the exact (lower) median "
        "dwell time per event-type transition — markov_transitions "
        "gives WHERE users go next, this gives HOW LONG they linger "
        "before each hop (the anomaly surface for scripted flows: "
        "human dwell medians are seconds-to-minutes, automation is "
        "near-zero). Adjacent pairs via lead() over the (ts, "
        "event_id)-total-ordered per-user stream; the median is the "
        "exact weighted-median shape — cumulative window over the "
        "(transition, DISTINCT dwell) hash-agg, so the windows run "
        "over distinct observed dwell values per transition, never "
        "raw rows. No sketch, no float. Scale: one shuffle on "
        "user_id for the lead, one hash-agg onto the transition x "
        "dwell grid, windows over that bounded grid",
)
def q_transition_dwell_times(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    e = ev.select(
        "user_id",
        "event_type",
        F.expr("cast(unix_micros(ts) div 1000000 as bigint)").alias("t"),
        "event_id",
    )
    p = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
        (F.lead("t").over(w) - F.col("t")).alias("dwell_s"),
    ).where(F.col("to_type").isNotNull())
    c = p.groupBy("from_type", "to_type", "dwell_s").agg(
        F.count(F.lit(1)).cast("long").alias("wt")
    )
    wcum = (
        Window.partitionBy("from_type", "to_type")
        .orderBy("dwell_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("from_type", "to_type")
    s = c.select(
        "from_type",
        "to_type",
        "dwell_s",
        F.sum("wt").over(wcum).cast("long").alias("cum"),
        F.sum("wt").over(wall).cast("long").alias("tot"),
    )
    return (
        s.where(F.col("cum") * 2 >= F.col("tot"))
        .groupBy("from_type", "to_type")
        .agg(
            F.min("tot").cast("long").alias("n_transitions"),
            F.min("dwell_s").cast("long").alias("median_dwell_s"),
        )
    )
