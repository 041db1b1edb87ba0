"""stream_http: an open loop of HTTP log files through the streaming engine.

A generator process writes one file of seeded GLB lines per second on
a fixed schedule, whatever the query is doing. The query is
read_raw(streaming=True) -> parse_events -> watermark ->
hard_limit_analysis + error_rate_analysis -> to_alerts ->
alerts_to_json -> text sink on a processing-time trigger. Fixed
per-micro-batch costs set the latency.

The traced run adds a batch replay of the files the query consumed
through the same public calls, with CompositeOutput.write_batch as the
sink: it gives the per-layer split that a streaming plan cannot.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

import gen
import harness
import metrics

# One file per trigger interval, so every file waits the same time for
# its batch. On 4 cores a micro-batch costs about 1.2 s almost
# regardless of its rows; 400 lines every 2 s keep the query a little
# over half busy, below the knee where backlog and latency start to grow.
PERIOD_S = 2.0
TRIGGER_S = 2
LINES_PER_FILE = 400
WATERMARK = "5 seconds"
WARM_FILES = 2  # files consumed before the set-up counts as done
READY_TIMEOUT_S = 120


def _heuristics(ev):
    from pyspark.sql import functions as F

    from foxsec_pipeline_spark.operators import (
        error_rate_analysis, hard_limit_analysis)

    hl = hard_limit_analysis(ev, key="source_address", ts="timestamp",
                             duration=gen.WINDOW, max_count=gen.HARD_LIMIT)
    er = error_rate_analysis(
        ev, key="source_address",
        error_predicate=F.col("request_status").between(400, 499),
        ts="timestamp", duration=gen.WINDOW, max_errors=gen.MAX_ERRORS)
    return hl, er


def _alerts(hl, er):
    from pyspark.sql import functions as F

    from foxsec_pipeline_spark.alert.model import to_alerts

    def leg(df, sub):
        return to_alerts(df, category="httprequest", subcategory=sub,
                         severity="warn", timestamp_col="window_start",
                         summary=F.concat(F.lit(f"{sub} from "),
                                          F.col("source_address")))

    return leg(hl, "hard_limit").unionByName(leg(er, "error_rate"))


def pipeline(ctx, in_dir: str, streaming: bool):
    """The workload's chain of public calls, each in a span. Returns
    the layer outputs as {layer: [(name, DataFrame)]} and the alerts."""
    from foxsec_pipeline_spark.alert.model import alerts_to_json
    from foxsec_pipeline_spark.parser.parse import parse_events
    from foxsec_pipeline_spark.sources.input import InputElement, InputSpec

    tr, spark = ctx.tracer, ctx.spark
    with tr.span("read_raw", "sources"):
        raw = InputSpec([InputElement("bench", path=in_dir, fmt="text")]) \
            .read_raw(spark, streaming=streaming)
    with tr.span("parse_events", "parser"):
        ev = parse_events(raw)
    if streaming:
        ev = ev.withWatermark("timestamp", WATERMARK)
    with tr.span("heuristics", "operators.heuristics"):
        hl, er = _heuristics(ev)
    with tr.span("to_alerts", "alert"):
        alerts = _alerts(hl, er)
        js = alerts_to_json(alerts)
    outputs = {"sources": [("read_raw", raw)], "parser": [("parse_events", ev)],
               "operators.heuristics": [("hard_limit", hl), ("error_rate", er)],
               "alert": [("alerts_to_json", js)]}
    return outputs, alerts, js


def _grid_start() -> float:
    """Due time of file 0: a quarter interval past the latest trigger
    tick, so file 0 is already due when the query starts and its first
    batch reads it. The processing-time trigger fires on multiples of
    its interval since the epoch, so pinning the files' phase to that
    grid keeps the trigger wait the same in every run."""
    return (time.time() // TRIGGER_S) * TRIGGER_S + 0.25 * TRIGGER_S - TRIGGER_S


class Stream:
    """One generator process plus one running query, in their own dirs."""

    def __init__(self, ctx, r: int):
        base = os.path.join(ctx.work, f"stream{r}")
        self.in_dir = os.path.join(base, "in")
        self.ckpt = os.path.join(base, "ckpt")
        self.sink = os.path.join(base, "sink")
        self.manifest = os.path.join(base, "manifest.json")
        self.stop_file = os.path.join(base, "stop")
        os.makedirs(self.in_dir)
        self.query = None
        ctx.closers.append(self.close)
        self.gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"),
             "stream", "--seed", str(ctx.args.seed), "--out", self.in_dir,
             "--manifest", self.manifest, "--stop", self.stop_file,
             "--start", str(_grid_start()), "--period", str(PERIOD_S),
             "--lines", str(LINES_PER_FILE)])
        _, _, js = pipeline(ctx, self.in_dir, streaming=True)
        self.query = (js.writeStream.format("text")
                      .option("checkpointLocation", self.ckpt)
                      .trigger(processingTime=f"{TRIGGER_S} seconds")
                      .outputMode("append").start(self.sink))
        self.progress: dict[int, dict] = {}

    def poll(self) -> None:
        for p in self.query.recentProgress:
            self.progress[int(p.batchId)] = json.loads(p.json)
        if self.query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {self.query.exception()}")

    def committed_files(self) -> int:
        """Files read by a batch that has reported progress."""
        self.poll()
        return len(metrics.micro_batches(metrics.file_source_offsets(self.ckpt),
                                         list(self.progress.values())))

    def wait_ready(self) -> None:
        deadline = time.time() + READY_TIMEOUT_S
        while self.committed_files() < WARM_FILES:
            if time.time() > deadline:
                raise RuntimeError("stream not ready: too few files consumed")
            time.sleep(0.1)

    def finish(self) -> dict:
        """Stop the generator and let the query drain what it wrote.
        Records the query's logical plan; returns the generator's
        manifest."""
        open(self.stop_file, "w").close()
        deadline = time.time() + 30
        while not os.path.exists(self.manifest):
            if time.time() > deadline:
                raise RuntimeError("generator did not finish")
            time.sleep(0.05)
        self.query.processAllAvailable()
        self.poll()
        self.plan = self.query._jsq.streamingQuery().logicalPlan().toString()
        with open(self.manifest) as f:
            return json.load(f)

    def close(self) -> None:
        """Stop query and generator; safe to call more than once."""
        if not os.path.exists(self.stop_file):
            open(self.stop_file, "w").close()
        try:
            if self.query is not None:
                self.query.stop()
        finally:
            try:
                self.gen.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.gen.kill()
                self.gen.wait()


def emitted_alerts(lines) -> set:
    out = set()
    for line in lines:
        a = json.loads(line)
        ts = metrics.parse_progress_time(a["timestamp"])
        out.add((a["subcategory"], a["metadata"]["source_address"], int(ts)))
    return out


def _read_lines(path: str) -> list[str]:
    lines = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name)) as f:
                lines += [ln for ln in f.read().splitlines() if ln]
    return lines


def planted(files) -> set:
    return {(s, ip, int(w)) for f in files for s, ip, w in f["planted"]}


def run(ctx) -> dict:
    log = harness.OpLog()

    def prepare(ctx, r):
        ctx.tracer.enabled = ctx.args.trace == 1
        try:
            stream = Stream(ctx, r)
        finally:
            ctx.tracer.enabled = False
        stream.wait_ready()
        return stream, 0.0

    setups, stream = harness.timed_setups(ctx, prepare, teardown=Stream.close)
    me = os.getpid()
    first_measured = max(stream.progress) + 1
    t0 = time.time()
    cpu = []  # (time, process-tree CPU s), to split CPU by micro-batch

    def sample_cpu():
        cpu.append((time.time(), metrics.tree_cpu_s(me, exclude=[stream.gen.pid])))

    while time.time() < t0 + ctx.args.seconds:
        stream.poll()
        sample_cpu()
        time.sleep(0.2)
    t_end = time.time()
    stream.poll()
    commits_at_end = metrics.batch_commit_times(list(stream.progress.values()))
    manifest = stream.finish()
    sample_cpu()
    stream.close()

    progress = [stream.progress[b] for b in sorted(stream.progress)]
    measured = [p for p in progress if p["batchId"] >= first_measured]
    file_batch = metrics.micro_batches(metrics.file_source_offsets(stream.ckpt),
                                       progress)
    commits = metrics.batch_commit_times(progress)
    files = manifest["files"]
    window_files = [f for f in files if t0 <= f["due"] <= t_end]
    lat, unconsumed = metrics.due_latencies(window_files, file_batch, commits)
    log.add(len(window_files), unconsumed, f"{unconsumed} files never consumed")

    # outputs: every planted window the final watermark closed, nothing else
    wm = progress[-1].get("eventTime", {}).get("watermark")
    wm_s = metrics.parse_progress_time(wm) if wm else 0.0
    consumed = [f for f in files if f["name"] in file_batch]
    want = {a for a in planted(consumed) if a[2] + gen.FILE_SPAN_S <= wm_s}
    got = emitted_alerts(_read_lines(stream.sink))
    # numInputRows counts a row once per scan of the source, and the two
    # heuristic legs each scan it: compare against rows x scans
    scans = stream.plan.count("StreamingExecutionRelation FileStreamSource[")
    rows_in = sum(p["numInputRows"] for p in progress)
    rows_written = sum(f["rows"] for f in files)
    err = None
    if got != want:
        err = f"alerts differ: {len(got - want)} extra, {len(want - got)} missing"
    elif rows_in != scans * rows_written:
        err = (f"numInputRows {rows_in} != {scans} scans x "
               f"{rows_written} rows written")
    elif len(consumed) != len(files):
        err = f"{len(files) - len(consumed)} files never consumed"
    log.record(err is None, err or "")

    # rows per batch from the files it read: numInputRows counts scans
    batch_rows: dict[int, int] = {}
    file_rows = {f["name"]: f["rows"] for f in files}
    for name, b in file_batch.items():
        batch_rows[b] = batch_rows.get(b, 0) + file_rows.get(name, 0)
    # Per data batch: rows per second of its trigger time (capacity) and
    # CPU per 1000 rows from its trigger start to the next one, so the
    # interval holds the batch and the idle time it leaves. Medians over
    # batches: one batch slowed by a co-tenant burst or a JIT compile
    # cannot move them.
    starts = {p["batchId"]: metrics.parse_progress_time(p["timestamp"])
              for p in progress}
    rates, cpu_per_krow = [], []
    for p in measured:
        n, b = batch_rows.get(p["batchId"], 0), p["batchId"]
        if not n:
            continue
        rates.append(n / (p["durationMs"]["triggerExecution"] / 1e3))
        used = metrics.interval_delta(cpu, starts[b], starts.get(b + 1, 1e300))
        if used is not None:
            cpu_per_krow.append(used / (n / 1000.0))
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "input_rows_per_s": (statistics.median(rates), "1/s"),
        "cpu_s_per_krow": (statistics.median(cpu_per_krow), "s"),
        "latency_p50_s": (metrics.median(lat), "s"),
    }
    p95 = metrics.tail_percentile(lat, 95)
    e2e["latency_p95_s"] = (p95, "s")  # None unless >= 10 samples beyond it

    layers = {}
    if ctx.args.trace == 1:
        layers = traced_layers(ctx, stream, measured, files, file_batch,
                               commits_at_end, t0, t_end, log)
    return {"log": log, "e2e": e2e, "layers": layers,
            "samples": {"latency_files": len(lat), "batches": len(measured),
                        "source_scans": scans,
                        "batch_rows_ms": [(p["numInputRows"],
                                           p["durationMs"]["triggerExecution"])
                                          for p in measured],
                        "setup_s": setups, "latency_s": lat,
                        "cpu_s_per_krow": cpu_per_krow}}


def _p50(progress, key):
    vals = [p["durationMs"].get(key, 0) for p in progress]
    return float(statistics.median(vals)) if vals else 0.0


def traced_layers(ctx, stream, measured, files, file_batch, commits_at_end,
                  t0, t_end, log) -> dict:
    """Streaming-engine metrics from the query's progress, generator
    lateness, and the per-layer split from a batch replay of the
    consumed files (alternating untraced / traced ops)."""
    in_window = [p for p in measured
                 if t0 <= metrics.parse_progress_time(p["timestamp"]) < t_end]
    busy = sum(p["durationMs"]["triggerExecution"] for p in in_window) / 1e3
    last = measured[-1] if measured else {}
    state = last.get("stateOperators", [])
    backlog = sum(1 for f in files if f["written"] <= t_end and (
        file_batch.get(f["name"]) not in commits_at_end
        or commits_at_end[file_batch[f["name"]]] > t_end))
    out = {
        "streaming.query_planning_ms_p50": _p50(measured, "queryPlanning"),
        "streaming.add_batch_ms_p50": _p50(measured, "addBatch"),
        "streaming.wal_commit_ms_p50": _p50(measured, "walCommit"),
        "streaming.trigger_ms_p50": _p50(measured, "triggerExecution"),
        "streaming.batches": float(len(measured)),
        "streaming.busy_frac": busy / (t_end - t0),
        "streaming.state_rows": float(sum(s.get("numRowsTotal", 0) for s in state)),
        "streaming.state_mem_mb": sum(s.get("memoryUsedBytes", 0)
                                      for s in state) / 2**20,
        "streaming.backlog_files_end": float(backlog),
        "generator.late_s_max": max((f["written"] - f["due"] for f in files
                                     if t0 <= f["due"] <= t_end), default=0.0),
        "generator.rows_written": float(sum(f["rows"] for f in files)),
    }

    want = planted(files)
    n, failures = [0], [0]

    def op(ctx):
        from foxsec_pipeline_spark.sinks.output import CompositeOutput

        tr = ctx.tracer
        n[0] += 1
        path = os.path.join(ctx.work, "replay", f"op{n[0]}")
        with tr.span("replay.op", kind="op", op=tr.new_op()):
            outputs, alerts, _ = pipeline(ctx, stream.in_dir, streaming=False)
            with tr.span("write_batch", "sinks", kind="action") as rec:
                try:
                    CompositeOutput(file_path=path).write_batch(alerts)
                except Exception:
                    failures[0] += 1
                    raise
        return {"path": path, "span": rec}, outputs

    def check(res):
        got = emitted_alerts(_read_lines(res["path"]))
        return None if got == want else "replay alerts differ from the planted set"

    harness.run_op(ctx, op, check, log, traced=False)  # warm-up of the batch plan
    plain, traced = harness.closed_loop(ctx, op, check, log)
    profile, rows = harness.profile_outputs(ctx, traced[-1][2])
    out.update(harness.layer_metrics(ctx, plain, traced, profile))
    out.update(harness.session_metrics(ctx))

    res = traced[-1][3]
    write = ctx.tracer.job_stats(res["span"])
    sizes = [os.path.getsize(os.path.join(res["path"], f))
             for f in os.listdir(res["path"]) if f.startswith("part-")]
    ev = traced[-1][2]["parser"][0][1]
    out.update({
        "parser.raw_fallback_rows": float(
            ev.where(ev.payload_type == "raw").count()),
        "operators.heuristics.input_scans": float(write["input_scans"]),
        "operators.heuristics.alerts_hard_limit": float(rows["hard_limit"]),
        "operators.heuristics.alerts_error_rate": float(rows["error_rate"]),
        "alert.alerts_out": float(rows["alerts_to_json"]),
        "sinks.write_s": statistics.median(
            r[3]["span"]["end"] - r[3]["span"]["start"] for r in traced),
        "sinks.files_written": float(len(sizes)),
        "sinks.bytes_written": float(sum(sizes)),
        "sinks.write_failures": float(failures[0]),
        "sinks.jobs": float(write["jobs"]),
        "sinks.stages": float(write["stages"]),
    })
    return out
