"""`scripts/plan_check.py mask`: the Expand that rewrites several
distinct aggregates orders its distinct columns and numbers its groups
per JVM run; the masked plan must not."""

from scripts.plan_check import mask

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
