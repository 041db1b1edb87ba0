"""Density-aware hot-group detection shared by the quadratic-in-a-
block operators (`account_creation_dist`, `record_linkage_blocking`).

A 10x step-up measured the failure mode this module exists for: a
single-group row-count cutoff (100k) never engages when the data is
UNIFORMLY dense — 25 groups of 6k rows each is 450M exact pairs and
no group is individually "hot". The right trigger is the total
all-pairs work Σ n_g², compared against a work budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def density_hot_split(
    sizes: DataFrame,
    size_col: str,
    work_budget_pairs: int | None,
    absolute_cutoff: int,
) -> tuple[int, bool]:
    """Derive the group-size cutoff above which groups must leave the
    exact all-pairs path, and whether ANY group exceeds it.

    The cutoff is the largest size c such that the groups of size <= c
    together stay within `work_budget_pairs` of n² work (resolution:
    powers of two — a whole log2 bucket is either exact or hot, so the
    decision is deterministic and order-free), capped by
    `absolute_cutoff`; with work_budget_pairs=None the absolute cutoff
    alone applies. When no group exceeds it, callers can skip building
    the hot-path plan legs entirely (empty-frame subplans still run
    real jobs: scans, distincts, checkpoint materialization — measured
    ~3 s of pure overhead on the record-linkage query at sf0.1).

    `sizes` carries one row per group; one bounded collect serves both
    answers (per-log2-bucket work + max size): one row per log2 size
    bucket, <= 64 rows for any group size that fits in an int64.

    The bucket profile is a plan-construction STATISTIC: it is
    memoized per (session, probe plan) via session.plan_stat_memo, so
    repeat invocations on the same logical input (bench reps) skip
    the probe scan; the cutoff math re-runs from the memoized <=64-row
    profile, so different budget/cutoff arguments still resolve
    correctly."""
    from ..session import plan_stat_memo

    probe = (
        sizes.select(
            F.ceil(
                F.log2(F.greatest(F.col(size_col), F.lit(2)).cast("double"))
            ).cast("int").alias("__b"),
            (F.col(size_col).cast("double") * F.col(size_col)).alias("__w"),
            F.col(size_col).alias("__s"),
        )
        .groupBy("__b")
        .agg(F.sum("__w").alias("__w"), F.max("__s").alias("__s"))
        .orderBy("__b")
    )
    buckets = plan_stat_memo(
        probe,
        lambda p: [(r["__b"], r["__w"], r["__s"]) for r in p.collect()],
    )
    max_size = max((s for _, _, s in buckets), default=0)
    cutoff = int(absolute_cutoff)
    if work_budget_pairs is not None:
        cum = 0.0
        for b, w, _ in buckets:
            cum += w
            if cum > float(work_budget_pairs):
                # bucket __b covers sizes in (2^(b-1), 2^b]; admitting
                # it would blow the budget, so everything above the
                # bucket's lower bound is hot
                cutoff = min(cutoff, max(2 ** (b - 1), 1))
                break
    return cutoff, max_size > cutoff
