#!/usr/bin/env python
"""Compare every catalog query's plan (and optionally its output)
between two checkouts.

    python scripts/plan_check.py capture OUT.json [--sf DIR] [--rows] [-q NAME ...]
    python scripts/plan_check.py diff A.json B.json

`capture` builds each registered query on one session and records a
sha256 digest of its optimized logical plan, with the run-specific
parts masked: expression ids (`#12`, `#12L`), `plan_id=N`, `uuid(Some(N))`
seeds, lambda variable counters (`x_12`), CollectMetrics DataFrame ids
and timestamp literals folded from the session clock. The Expand that
rewrites several distinct aggregates orders its distinct columns and
numbers its groups (`gid = K`) differently per JVM run, so `mask`
sorts both (`_canonical_expand`). With
`--rows` it also records an order-insensitive hash of the output: the
row count plus the decimal sum of `xxhash64(to_json(struct(*)))`.

A query whose optimized plan reads a `LogicalRDD` (an eager
`localCheckpoint` taken while the plan is built, as in the
connected-components loop, or a table that `createDataFrame` built
from local rows) shows only the plan above that cut, so an equal
digest there does not prove equal work: `capture` marks such a query
`"cut": true` and always records its row hash.

`capture` also records the size of each optimized plan: its length in
characters (`plan_chars`) and its number of `from_json` calls
(`from_json`). An optimizer rule that inlines a wide projection into
a pushed-down filter multiplies both without changing the output.

`diff` prints the queries whose digest or row hash differs, the
queries present on one side only, and the queries whose plan grew to
more than twice its characters or `from_json` calls; it exits 1 when
anything differs.

Run `capture` from the root of each checkout with the same `--sf`
and the same `SPARK_GRAFT_CPUS` (explicit repartition widths follow the
session's parallelism), then `diff` the two files.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_MASKS = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"uuid\(Some\(-?\d+\)\)"), "uuid(Some(N))"),
    # lambda variables are named from a JVM-wide counter
    (re.compile(r"\blambda (\w+?)_\d+\b"), r"lambda \1_N"),
    # the DataFrame id that ends a CollectMetrics node
    (re.compile(r"(CollectMetrics [^\n]*\], )\d+$", re.M), r"\1N"),
    # current_timestamp()/now() folded to a literal by the optimizer
    (re.compile(r"\b1[5-9]\d{14}\b"), "<ts_us>"),
    (re.compile(r"\d{4}-\d\d-\d\d \d\d:\d\d:\d\d(\.\d+)?"), "<ts>"),
]


def _close(s: str, i: int) -> int:
    """Index of the bracket that closes the one at `s[i]`."""
    depth = 0
    for j in range(i, len(s)):
        depth += (s[j] in "([") - (s[j] in ")]")
        if depth == 0:
            return j
    raise ValueError(f"unbalanced brackets in {s!r}")


def _items(s: str) -> list[str]:
    """The top-level comma-separated items of a bracket list's body."""
    out, depth, start = [], 0, 0
    for j, c in enumerate(s):
        depth += (c in "([") - (c in ")]")
        if c == "," and depth == 0:
            out.append(s[start:j].strip())
            start = j + 1
    return out + [s[start:].strip()] if s.strip() else out


_NODE = re.compile(r"^[: ]*\+- ")
_GID = re.compile(r"gid# = (\d+)")


def _depth(line: str) -> int:
    m = _NODE.match(line)
    return m.end() if m else 0


def _canonical_expand(lines: list[str], i: int) -> None:
    """Rewrite the distinct-aggregate Expand on `lines[i]` and the
    nodes above it that name its columns and groups, in a form that
    does not depend on the rewrite's hash-map order: the distinct
    columns (those some projection nulls, left of `gid`) sorted by
    name, and the distinct groups numbered 1..n in the sorted order
    of their projections (the regular group keeps 0)."""
    line = lines[i]
    a = line.index("Expand [") + len("Expand ")
    b = _close(line, a)
    c = b + len("], [") - 1
    d = _close(line, c)
    projs = [_items(p[1:-1]) for p in _items(line[a + 1:b])]
    out = _items(line[c + 1:d])
    if "gid#" not in out:
        return
    g = out.index("gid#")
    block = [k for k in range(g) if any(p[k] == "null" for p in projs)]
    order = sorted(block, key=lambda k: out[k])
    perm = list(range(len(out)))
    for dst, src in zip(block, order):
        perm[dst] = src
    projs = [[p[k] for k in perm] for p in projs]
    distinct = sorted((p for p in projs if p[g] != "0"), key=lambda p: p[:g] + p[g + 1:])
    gids = {p[g]: str(n) for n, p in enumerate(distinct, 1)}
    for p in projs:
        p[g] = gids.get(p[g], p[g])
    projs.sort(key=lambda p: int(p[g]))
    lines[i] = (
        line[:a]
        + "[" + ", ".join("[" + ", ".join(p) + "]" for p in projs) + "], ["
        + ", ".join(out[k] for k in perm) + "]" + line[d + 1:]
    )
    old_cols = ", ".join(out[k] for k in block)
    new_cols = ", ".join(out[k] for k in order)
    depth, first = _depth(line), True
    for j in range(i - 1, -1, -1):
        if _depth(lines[j]) >= depth:
            continue
        depth = _depth(lines[j])
        if first:  # the Aggregate that groups the Expand's output
            lines[j] = lines[j].replace(old_cols, new_cols)
            first = False
        if _GID.search(lines[j]):
            lines[j] = _GID.sub(lambda m: f"gid# = {gids.get(m[1], m[1])}", lines[j])
            break


def mask(plan: str) -> str:
    for pat, rep in _MASKS:
        plan = pat.sub(rep, plan)
    lines = plan.split("\n")
    for i, line in enumerate(lines):
        if "Expand [" in line:
            _canonical_expand(lines, i)
    return "\n".join(lines)


def _row_hash(df) -> dict:
    from pyspark.sql import functions as F

    row = df.select(
        F.sum(
            F.xxhash64(F.to_json(F.struct(*df.columns))).cast("decimal(38,0)")
        ).cast("string").alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return {"n": row["n"], "hash": row["h"]}


def capture(out: str, sf_dir: str, rows: bool, names: list[str]) -> None:
    from foxsec_pipeline_spark.plans.catalog import registry
    from foxsec_pipeline_spark.session import get_spark

    spark = get_spark(app_name="plan_check")
    reg = registry()
    res = {}
    for name in names or list(reg):
        try:
            df = reg[name].fn(spark, sf_dir)
            plan = mask(df._jdf.queryExecution().optimizedPlan().toString())
            rec = {
                "plan": hashlib.sha256(plan.encode()).hexdigest(),
                "schema": df.schema.simpleString(),
                "plan_chars": len(plan),
                "from_json": plan.count("from_json("),
            }
            if "LogicalRDD" in plan:
                rec["cut"] = True
            if rows or rec.get("cut"):
                rec.update(_row_hash(df))
        except Exception as e:  # a failing query is a result too
            rec = {"error": f"{type(e).__name__}: {str(e)[:300]}"}
        res[name] = rec
        print(name, rec.get("plan", rec.get("error"))[:16],
              rec.get("n", ""), rec.get("hash", ""), flush=True)
    with open(out, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)


_SIZES = ("plan_chars", "from_json")
GROWTH_LIMIT = 2.0


def _grown(a: dict, b: dict) -> list[str]:
    """Size fields of `b` above GROWTH_LIMIT times `a`'s; a capture
    without size fields (an older script) compares nothing."""
    return [
        f"{k} {a[k]} -> {b[k]}"
        for k in _SIZES
        if k in a and k in b and b[k] > GROWTH_LIMIT * max(a[k], 1)
    ]


def diff(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    differ = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in a or name not in b:
            print(f"{name}: only in {a_path if name in a else b_path}")
            differ += 1
            continue
        fields = [k for k in sorted(a[name].keys() | b[name].keys())
                  if k not in _SIZES and a[name].get(k) != b[name].get(k)]
        grown = _grown(a[name], b[name])
        if grown:
            fields.append("plan grew: " + ", ".join(grown))
        if fields:
            print(f"{name}: {'; '.join(fields)}")
            differ += 1
    print(f"{differ} of {len(a.keys() | b.keys())} queries differ")
    return 1 if differ else 0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("capture")
    c.add_argument("out")
    c.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                   help="testdata directory (default $SPARK_GRAFT_SF_DIR)")
    c.add_argument("--rows", action="store_true")
    c.add_argument("-q", "--query", action="append", default=[])
    d = sub.add_parser("diff")
    d.add_argument("a")
    d.add_argument("b")
    args = ap.parse_args()
    if args.cmd == "capture":
        if not args.sf:
            ap.error("capture needs --sf or $SPARK_GRAFT_SF_DIR")
        capture(args.out, args.sf, args.rows, args.query)
    else:
        sys.exit(diff(args.a, args.b))


if __name__ == "__main__":
    main()
