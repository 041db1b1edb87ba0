"""`scripts/plan_check.py`: `mask` — the Expand that rewrites several
distinct aggregates orders its distinct columns and numbers its groups
per JVM run; the masked plan must not — and the physical `shape`
counts that `diff` reports."""

from scripts.plan_check import differences, mask, shape

# one plan as two JVM runs printed it: count(DISTINCT props) and
# count(DISTINCT event_type) per (window, user_id)
RUN_A = """\
Project [w#11.start AS window_start#40, user_id#2L, n_accounts#30L]
+- Filter ((n_accounts#30L >= 6) AND (n_types#31L > 1))
   +- Aggregate [window#20, user_id#2L], [window#20 AS w#25, user_id#2L, count(props#5) FILTER (WHERE (gid#33 = 1)) AS n_accounts#30L, count(event_type#3) FILTER (WHERE (gid#33 = 2)) AS n_types#31L]
      +- Aggregate [window#20, user_id#2L, props#5, event_type#3, gid#33], [window#20, user_id#2L, props#5, event_type#3, gid#33]
         +- Expand [[window#20, user_id#2L, props#5, null, 1], [window#20, user_id#2L, null, event_type#3, 2]], [window#20, user_id#2L, props#5, event_type#3, gid#33]
            +- Relation [user_id#2L,event_type#3,props#5,window#20] parquet"""
RUN_B = """\
Project [w#111.start AS window_start#140, user_id#102L, n_accounts#130L]
+- Filter ((n_accounts#130L >= 6) AND (n_types#131L > 1))
   +- Aggregate [window#120, user_id#102L], [window#120 AS w#125, user_id#102L, count(props#105) FILTER (WHERE (gid#133 = 2)) AS n_accounts#130L, count(event_type#103) FILTER (WHERE (gid#133 = 1)) AS n_types#131L]
      +- Aggregate [window#120, user_id#102L, event_type#103, props#105, gid#133], [window#120, user_id#102L, event_type#103, props#105, gid#133]
         +- Expand [[window#120, user_id#102L, event_type#103, null, 1], [window#120, user_id#102L, null, props#105, 2]], [window#120, user_id#102L, event_type#103, props#105, gid#133]
            +- Relation [user_id#102L,event_type#103,props#105,window#120] parquet"""

# a regular aggregate (gid 0) beside two distinct ones, under a join
MIXED_A = """\
Join Inner, (late_supp#1 = s_suppkey#2)
:- Aggregate [k#3], [count(a#4) FILTER (WHERE (gid#9 = 1)) AS n_a#5, count(b#6) FILTER (WHERE (gid#9 = 2)) AS n_b#7, first(min(c)#8, true) FILTER (WHERE (gid#9 = 0)) AS late_supp#1]
:  +- Aggregate [k#3, a#4, b#6, gid#9], [k#3, a#4, b#6, gid#9, min(c#10) AS min(c)#8]
:     +- Expand [[k#3, null, null, 0, c#11], [k#3, a#4, null, 1, null], [k#3, null, b#6, 2, null]], [k#3, a#4, b#6, gid#9, c#10]
:        +- Relation [k#3,a#4,b#6,c#11] parquet
+- Relation [s_suppkey#2] parquet"""
MIXED_B = """\
Join Inner, (late_supp#1 = s_suppkey#2)
:- Aggregate [k#3], [count(a#4) FILTER (WHERE (gid#9 = 2)) AS n_a#5, count(b#6) FILTER (WHERE (gid#9 = 1)) AS n_b#7, first(min(c)#8, true) FILTER (WHERE (gid#9 = 0)) AS late_supp#1]
:  +- Aggregate [k#3, b#6, a#4, gid#9], [k#3, b#6, a#4, gid#9, min(c#10) AS min(c)#8]
:     +- Expand [[k#3, null, null, 0, c#11], [k#3, b#6, null, 1, null], [k#3, null, a#4, 2, null]], [k#3, b#6, a#4, gid#9, c#10]
:        +- Relation [k#3,a#4,b#6,c#11] parquet
+- Relation [s_suppkey#2] parquet"""


def test_mask_equates_two_orderings_of_one_distinct_rewrite():
    assert RUN_A != RUN_B
    assert mask(RUN_A) == mask(RUN_B)
    assert mask(MIXED_A) == mask(MIXED_B)
    assert "gid# = 0)) AS late_supp#" in mask(MIXED_A)


def test_mask_keeps_a_rewrite_over_another_distinct_column_apart():
    other = RUN_A.replace("props#5", "value#4").replace(
        "n_accounts", "n_values"
    )
    assert mask(other) != mask(RUN_A)
    swapped = RUN_A.replace(
        "count(props#5) FILTER (WHERE (gid#33 = 1))",
        "count(props#5) FILTER (WHERE (gid#33 = 2))",
    ).replace(
        "count(event_type#3) FILTER (WHERE (gid#33 = 2))",
        "count(event_type#3) FILTER (WHERE (gid#33 = 1))",
    )
    assert mask(swapped) != mask(RUN_A)


# an initial adaptive plan as `executedPlan()` prints it
PHYSICAL = """\
AdaptiveSparkPlan isFinalPlan=false
+- Project [doc_id#187L, cluster_size#189L]
   +- BroadcastHashJoin [vec_b#389L], [vec_b#403L], Inner, BuildRight, false
      :- SortMergeJoin [doc_id#0L], [node#184L], LeftAnti
      :  :- Sort [doc_id#0L ASC NULLS FIRST], false, 0
      :  :  +- Exchange hashpartitioning(doc_id#0L, 4), ENSURE_REQUIREMENTS, [plan_id=973]
      :  :     +- Generate explode(ids#381), [cell#279L], false, [vec_a#387L]
      :  :        +- FileScan parquet [doc_id#0L] Batched: true, Format: Parquet
      :  +- Sort [node#184L ASC NULLS FIRST], false, 0
      :     +- Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=974]
      :        +- Scan ExistingRDD[node#184L,label#185L]
      +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, true]),false), [plan_id=1279]
         +- CartesianProduct
            :- ArrowEvalPython [score(text#2)#9], [pythonUDF0#10], 200
            :  +- FileScan parquet [text#2] Batched: true, Format: Parquet
            +- *(1) BatchEvalPython [norm(x#3)#11], [pythonUDF1#12]
               +- LocalTableScan [x#3]"""


def test_shape_counts_physical_nodes():
    assert shape(PHYSICAL) == {
        "Exchange": 2, "BroadcastExchange": 1, "SortMergeJoin": 1,
        "BroadcastHashJoin": 1, "CartesianProduct": 1, "FileScan": 2,
        "Generate": 1, "BatchEvalPython": 1, "ArrowEvalPython": 1,
    }
    # names inside expressions and non-file scans are not nodes
    assert shape("Project [Exchange#1, Generate#2]\n+- Scan ExistingRDD[a#1]") == {}


def test_diff_reports_shape_deltas():
    a = {"q": {"plan": "p", "shape": {"Exchange": 2, "Generate": 1}}}
    b = {"q": {"plan": "p", "shape": {"Exchange": 3, "SortMergeJoin": 1}}}
    assert differences(a, b) == {
        "q": ["shape: Exchange 2 -> 3, SortMergeJoin 0 -> 1, Generate 1 -> 0"]
    }
    # a capture without shape counts (an older script) compares none
    assert differences({"q": {"plan": "p"}}, b) == {}
