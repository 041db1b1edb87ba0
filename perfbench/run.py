"""Benchmark of foxsec_pipeline_spark: one workload per invocation.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 12 --trace 0

Run from the repository root. Builds its inputs from ``--seed``,
measures for ``--seconds``, checks every output, and prints as its
last stdout line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics of a traced run with ``--trace 1``. The line
before it holds the full detail: every metric, samples, environment.
See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

WORKLOADS = ("stream_http", "corpus_dedup")


def _metric_names(kind: str) -> dict:
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[kind]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(os.getcwd(), "foxsec_pipeline_spark")):
        print("perfbench: run from the repository root (no foxsec_pipeline_spark "
              "package here)", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    import corpus_dedup
    import harness
    import stream_http

    steal0 = harness.cpu_steal_ticks()
    ctx = harness.Context(args, PROCESS_START)
    # a terminated run still stops its generator, query and JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        module = {"stream_http": stream_http, "corpus_dedup": corpus_dedup}
        res = module[args.workload].run(ctx)
        if args.trace == 1:
            trace_dir = os.path.join(ctx.root, ".bench_work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            roots = [{"op": r["op"], "wall_s": r["end"] - r["start"],
                      "self_s": ctx.tracer.self_time(r)}
                     for r in harness.op_root_spans(ctx)]
            ctx.tracer.write(
                os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json"),
                {"env": ctx.env, "layers": res["layers"], "root_self": roots})
    finally:
        ctx.cleanup()

    log = res["log"]
    e2e = {k: {"value": v, "unit": u} for k, (v, u) in res["e2e"].items()}
    if args.trace == 1:
        units = _metric_names("per_layer")
        undeclared = sorted(set(res["layers"]) - set(units))
        if undeclared:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {undeclared}")
        # a layer the workload never calls reports 0
        metrics = {k: {"value": res["layers"].get(k, 0.0), "unit": u}
                   for k, u in units.items()}
    else:
        metrics = {k: e2e[k] for k in _metric_names("end_to_end")}
    steal1 = harness.cpu_steal_ticks()
    ctx.env["cpu_steal_frac"] = ((steal1[0] - steal0[0])
                                 / max(1, steal1[1] - steal0[1]))
    detail = {
        "workload": args.workload, "seed": args.seed, "env": ctx.env,
        "failed_frac": log.failed / log.attempted if log.attempted else 1.0,
        "errors": log.errors, "end_to_end": e2e,
        "per_layer": res["layers"], "samples": res["samples"],
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": log.failed == 0 and log.attempted > 0,
                      "attempted": log.attempted, "failed": log.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
