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
# it: every query, in registry order, whose `scripts/plan_check.py`
# record (masked optimized-plan digest, schema, row count and hash,
# error) in PLAN_DIGEST.json differs from the snapshot PLAN_DIGEST_rK.json
# of the newest CORRECTNESS round K that has one. A plan that reads a
# LogicalRDD (a build-time checkpoint, or a table that createDataFrame
# built from local rows) hides the work below that cut from the digest,
# so plan_check always records those queries' output hash. The rest
# follow stalest-evidence first (see _ordered).
_DIGEST_FIELDS = ("plan", "schema", "n", "hash", "error")


def changed_between(snapshot: dict, current: dict, names) -> list[str]:
    """The `names`, in their order, whose digest fields differ between
    two plan_check captures, or that either capture lacks."""
    return [
        n for n in names
        if n not in snapshot or n not in current
        or any(snapshot[n].get(k) != current[n].get(k) for k in _DIGEST_FIELDS)
    ]


def _numbered(prefix: str) -> dict[int, str]:
    """{K: path} of the `<prefix>_rK.json` files next to this module.
    The round comes from the basename only, so a checkout path like
    /home/u/repo_r2 cannot shadow it."""
    out = {}
    for path in glob.glob(os.path.join(_HERE, f"{prefix}_r*.json")):
        m = re.fullmatch(rf"{prefix}_r(\d+)\.json", os.path.basename(path))
        if m is not None:
            out[int(m.group(1))] = path
    return out


def _read(path: str | None) -> dict:
    if path is None or not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def _changed() -> list[str]:
    """CHANGED against the newest snapshot at or below the newest
    CORRECTNESS round. Missing files only lengthen the list: an older
    snapshot differs in at least the same queries, and a missing
    snapshot or digest lists every query."""
    newest = max(_numbered("CORRECTNESS"), default=0)
    snapshots = {k: p for k, p in _numbered("PLAN_DIGEST").items() if k <= newest}
    snapshot = _read(snapshots[max(snapshots)] if snapshots else None)
    current = _read(os.path.join(_HERE, "PLAN_DIGEST.json"))
    return changed_between(snapshot, current, registry())


CHANGED = _changed()


def _green(row: dict) -> bool:
    return (
        bool(row.get("rows_match"))
        and bool(row.get("schema_match"))
        and bool(row.get("hash_match"))
        and row.get("err") is None
    )


def _rounds() -> list[tuple[int, dict]]:
    """[(round, {query: row})] from the CORRECTNESS_r*.json files next
    to this module, oldest round first."""
    return [(k, _read(p)) for k, p in sorted(_numbered("CORRECTNESS").items())]


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
