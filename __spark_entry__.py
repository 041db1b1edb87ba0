"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

The real surface lives in ``foxsec_pipeline_spark.plans.catalog``;
this module is a thin adapter.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from foxsec_pipeline_spark.plans.catalog import registry  # noqa: E402

# A CORRECTNESS_r*.json file records exactly the FIRST 50 rows of
# queries(), so the order decides what gets re-verified. CHANGED leads
# it: every query whose plan changed after the newest CORRECTNESS
# file. Add a name here in the change that alters its plan; drop it
# once a CORRECTNESS file records it green. A plan that reads a
# LogicalRDD (a build-time checkpoint, or a table that createDataFrame
# built from local rows) hides the work below that cut from the digest,
# so `scripts/plan_check.py` compares those queries by their output
# hash. The rest follow stalest-evidence first (see _ordered).
CHANGED = [
    # connected components: one aggregate and one probe per round, and
    # the caller's pairs checkpointed as given
    "dedup_clusters", "cluster_canonical_docs", "split_leakage_check",
    # shingle-kernel consumers with no after-plan evidence
    "dedup_minhash_lsh", "decontaminate", "bloom_decontaminate",
    "dedup_ngram_jaccard",
    # LSH buckets: guarded fixed-point conversion in both forms
    "ann_cosine_lsh", "dedup_embedding_cosine", "ann_cosine_lsh_multiprobe",
    # cosine scorers: zero norm clamped to 1; PQ encode drops null/empty
    "ann_cosine_topk", "ann_cosine_ivf", "ann_range_search_ivf",
    "ann_cosine_pq", "rrf_hybrid_fusion",
    # in-bucket pairs from the one pair kernel (dedup.bucket_pairs);
    # dedup_ngram_jaccard, dedup_minhash_lsh and dedup_embedding_cosine
    # changed too and are listed above
    "containment_dedup", "minhash_jaccard_estimate_error", "neardup_pair_recall",
    "prefix_jaccard_join", "semdedup", "winnowing_plagiarism_pairs",
    # alerts -> violations through the iprepd wire conversion
    "violation_projection",
    # batch parse: the parse counters' CollectMetrics node keeps
    # filters on parsed columns above the parse projections
    "parse_normalize", "customs_prefilter_split",
    # windows.windowed_agg: the grouping column keeps Spark's own name
    # (`window`, not `w`), or its start moves into the aggregate
    "account_enumeration", "alert_pipeline", "content_server_variance",
    "customs_alert_fanout", "customs_features", "customs_pipeline",
    "login_failure_at_risk_account", "source_login_failure_dist",
    "status_comparator",
    # salted second stage groups on window_start, not the window struct
    "salted_hard_limit",
]


def _green(row: dict) -> bool:
    return (
        bool(row.get("rows_match"))
        and bool(row.get("schema_match"))
        and bool(row.get("hash_match"))
        and row.get("err") is None
    )


def _rounds() -> list[tuple[int, dict]]:
    """[(round, {query: row})] from the CORRECTNESS_r*.json files next
    to this module, oldest round first. The round comes from the
    basename only, so a checkout path like /home/u/repo_r2 cannot
    shadow it."""
    out = []
    for path in glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m is not None:
            with open(path) as f:
                out.append((int(m.group(1)), json.load(f)))
    return sorted(out, key=lambda r: r[0])


def _last_green() -> dict[str, int]:
    """{query: newest round with a green row}; never-green queries are
    absent."""
    return {
        name: rnd
        for rnd, rows in _rounds()
        for name, row in rows.items()
        if _green(row)
    }


def _ordered():
    """CHANGED first, then the rest of the registry stalest last-green
    round first (never-green queries lead); ties keep registration
    order."""
    reg = registry()
    missing = [n for n in CHANGED if n not in reg]
    assert not missing, f"CHANGED references unknown queries: {missing}"
    last = _last_green()
    rest = sorted((n for n in reg if n not in CHANGED), key=lambda n: last.get(n, 0))
    return {n: reg[n] for n in [*CHANGED, *rest]}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: session analysis —
    the heart of the reference's heuristics (per-key session windows
    with inactivity gap) as one declarative Spark plan."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # NTZ parquet timestamps are cast to TIMESTAMP under the SESSION
    # timezone (load_tables); pin UTC so a driver-built session matches
    # the DuckDB oracle's naive-UTC reading regardless of machine tz
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spec = registry()["session_analysis"]
    return spec.fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            return fn(spark, sf_dir)

        return run

    return {name: _wrap(spec.fn) for name, spec in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (omitted entries
    fall back to the driver's rows-only check)."""
    return {
        name: spec.oracle.strip()
        for name, spec in _ordered().items()
        if spec.oracle is not None
    }
