"""Shared machinery of the workloads: pinned environment, Spark session
lifetime inside the checkout, the closed-loop op runner and the
per-layer profile pass of the traced run."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import metrics

SETUPS = 3  # set-ups per run; setup_s is their median
LAYERS = ("sources", "parser", "operators.heuristics", "operators.dedup", "alert")
LAZY_METRICS = ("build_s", "eager_jobs", "plan_s", "exec_s", "jobs", "stages",
                "tasks", "executor_cpu_s", "shuffle_write_mb", "spill_mb", "rows_out")
JOB_KEYS = ("jobs", "stages", "tasks", "executor_cpu_s", "shuffle_write_mb",
            "spill_mb")
PROFILE_KEYS = ("plan_s", "exec_s", "rows_out", "codegen_compiles",
                "codegen_compile_s") + JOB_KEYS


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: time the
    hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


class Context:
    """One benchmark run: arguments, scratch space under the checkout,
    pinned environment, the current Spark session and the tracer."""

    def __init__(self, args, process_start: float):
        self.args = args
        self.process_start = process_start
        self.root = os.getcwd()
        self.work = os.path.join(self.root, ".bench_work",
                                 f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.env = self._pin_env()
        self.spark = None
        self.tracer = None
        self.session_start_s: list[float] = []
        self.closers: list = []  # stop what the run started, last first

    def _pin_env(self) -> dict:
        """Fix everything the program reads from the environment, and
        keep every file Spark writes inside the checkout."""
        cpus = len(os.sched_getaffinity(0))
        ram = _ram_mb()
        # the package defaults (32 cores, 16g driver) oversubscribe a
        # small box and get the JVM OOM-killed; size both to the box
        driver_mb = max(1024, min(4096, ram // 4))
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_mb}m"
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = self.tmp
        os.environ["PYSPARK_PYTHON"] = sys.executable
        tempfile.tempdir = self.tmp
        return {"nproc": cpus, "ram_mb": ram, "loadavg": list(os.getloadavg()),
                "SPARK_GRAFT_CPUS": str(cpus),
                "SPARK_DRIVER_MEMORY": f"{driver_mb}m"}

    def start_session(self):
        from foxsec_pipeline_spark.session import get_spark
        from spans import Tracer

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                # no hsperfdata files in the system temp dir
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.session_start_s.append(time.perf_counter() - t0)
        self.tracer = Tracer(self.spark)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self):
        for pid in metrics.process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().strip() == "java":
                        return pid
            except OSError:
                continue
        return None

    def cleanup(self) -> None:
        """Stop every process and query the run started, then the
        session and the JVM, waiting for each to end, then remove the
        run's scratch space."""
        from pyspark import SparkContext

        try:
            for close in reversed(self.closers):
                close()
            self.stop_session()
        finally:
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
            shutil.rmtree(self.work, ignore_errors=True)


def timed_setups(ctx: Context, prepare, teardown=None):
    """Run SETUPS set-ups; each starts a fresh Spark session and calls
    ``prepare(ctx, r)``, which makes the seeded inputs and runs the
    workload's warm-up, and returns (state, excluded seconds). The
    first set-up is timed from process start, so it includes
    interpreter and JVM launch; ``teardown(state)`` and the session
    stop between set-ups are not timed. Returns (durations, the last
    set-up's state)."""
    times, state = [], None
    for r in range(SETUPS):
        if r:
            if teardown is not None:
                teardown(state)
            ctx.stop_session()
        t0 = ctx.process_start if r == 0 else time.time()
        ctx.start_session()
        state, excluded = prepare(ctx, r)
        # excluded: seconds the benchmark spent on its own reference
        # answers, which are not set-up work of the program
        times.append(time.time() - t0 - excluded)
    return times, state


class OpLog:
    """Outcome of every op: attempted, failed and the first errors."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def add(self, attempted: int, failed: int, why: str = "") -> None:
        self.attempted += attempted
        self.failed += failed
        if failed and len(self.errors) < 5:
            self.errors.append(why)

    def record(self, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(why)


def run_op(ctx: Context, op, check, log: OpLog, traced: bool):
    """Run and check one op. ``op(ctx)`` returns (result, outputs) and
    opens its root span through ``ctx.tracer``, which records nothing
    unless ``traced``; ``check(result)`` returns an error or None.
    Returns (wall_s, cpu_s, outputs, result), or None when the op
    raised."""
    me = os.getpid()
    ctx.tracer.enabled = traced
    c0 = metrics.tree_cpu_s(me)
    t0 = time.perf_counter()
    try:
        result, outputs = op(ctx)
    except Exception as e:  # an op failure is a measured outcome, not a crash
        log.record(False, f"{type(e).__name__}: {e}"[:300])
        return None
    finally:
        ctx.tracer.enabled = False
    wall = time.perf_counter() - t0
    cpu = metrics.tree_cpu_s(me) - c0
    err = check(result)
    log.record(err is None, err or "")
    return wall, cpu, outputs, result


MIN_OPS = 3  # so that one op slowed by a co-tenant burst cannot set the median


def closed_loop(ctx: Context, op, check, log: OpLog):
    """Run ops back to back for ``--seconds``, at least MIN_OPS. With
    tracing on, ops alternate untraced / traced so that both kinds are
    measured in one run; untraced ops give the end-to-end figures.
    Returns (untraced runs, traced runs) as run_op tuples."""
    plain, traced = [], []
    deadline = time.perf_counter() + ctx.args.seconds
    i = 0
    while True:
        use_trace = ctx.args.trace == 1 and i % 2 == 1
        res = run_op(ctx, op, check, log, use_trace)
        i += 1
        if res is not None:
            (traced if use_trace else plain).append(res)
        if time.perf_counter() >= deadline and i >= MIN_OPS:
            break
    return plain, traced


def profile_outputs(ctx: Context, outputs: dict) -> tuple[dict, dict]:
    """Profile pass of the traced run. ``outputs`` maps a layer to
    [(name, DataFrame)]. For each layer: time physical planning of its
    outputs and a noop write of them, with the jobs, stages, tasks,
    executor CPU, shuffle, spill and codegen of that write, and the
    rows it produced. Returns (per-layer sums, rows per output name)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    out, rows = {}, {}
    tracer = ctx.tracer
    tracer.enabled = True
    try:
        for layer, frames in outputs.items():
            acc = dict.fromkeys(PROFILE_KEYS, 0.0)
            for name, df in frames:
                # a fresh Dataset: the op may already have planned ``df``
                fresh = df.select("*")
                t0 = time.perf_counter()
                fresh._jdf.queryExecution().executedPlan()
                acc["plan_s"] += time.perf_counter() - t0
                obs = Observation()
                with tracer.span(f"{name}.exec", layer, kind="exec") as rec:
                    df.observe(obs, F.count(F.lit(1)).alias("rows")) \
                      .write.format("noop").mode("overwrite").save()
                acc["exec_s"] += rec["end"] - rec["start"]
                acc["codegen_compiles"] += rec["codegen_compiles"]
                acc["codegen_compile_s"] += rec["codegen_compile_s"]
                stats = tracer.job_stats(rec)
                for k in JOB_KEYS:
                    acc[k] += stats[k]
                rows[name] = obs.get["rows"]
                acc["rows_out"] += rows[name]
            out[layer] = acc
    finally:
        tracer.enabled = False
    return out, rows


def op_root_spans(ctx: Context) -> list[dict]:
    return [s for s in ctx.tracer.spans if s["kind"] == "op"]


def build_stats(ctx: Context) -> dict:
    """Per layer, the median over traced ops of the summed wall time
    and eager jobs of its build spans."""
    per_op: dict[str, dict[int, dict]] = {}
    for s in ctx.tracer.spans:
        if s["kind"] != "build" or s["layer"] is None or s["op"] is None:
            continue
        d = per_op.setdefault(s["layer"], {}).setdefault(
            s["op"], {"build_s": 0.0, "eager_jobs": 0})
        d["build_s"] += s["end"] - s["start"]
        d["eager_jobs"] += ctx.tracer.job_stats(s)["jobs"]
    return {layer: {k: statistics.median(d[k] for d in ops.values())
                    for k in ("build_s", "eager_jobs")}
            for layer, ops in per_op.items()}


def layer_metrics(ctx: Context, plain: list, traced: list, profile: dict) -> dict:
    """Flat ``<layer>.<metric>`` dict of the lazy layers, the tracing
    overhead (median traced op wall over median untraced op wall,
    minus one) and the largest share of an op's wall time that its
    root span spent outside every layer span."""
    builds = build_stats(ctx)
    out = {}
    for layer in LAYERS:
        vals = {**builds.get(layer, {}), **profile.get(layer, {})}
        for m in LAZY_METRICS:
            out[f"{layer}.{m}"] = float(vals.get(m, 0.0))
    out["parser.codegen_compiles"] = float(
        profile.get("parser", {}).get("codegen_compiles", 0.0))
    out["parser.codegen_compile_s"] = float(
        profile.get("parser", {}).get("codegen_compile_s", 0.0))
    plain_wall = statistics.median(r[0] for r in plain)
    traced_wall = statistics.median(r[0] for r in traced)
    out["trace.overhead_frac"] = traced_wall / plain_wall - 1.0
    out["trace.root_self_frac_max"] = max(
        ctx.tracer.self_time(r) / (r["end"] - r["start"])
        for r in op_root_spans(ctx))
    return out


def session_metrics(ctx: Context) -> dict:
    """Cold session start (JVM launch included), JVM GC time since
    launch and the JVM's peak resident set."""
    pid = ctx.jvm_pid()
    return {
        "session.start_s": ctx.session_start_s[0],
        "session.gc_s": ctx.tracer.jvm_counters()["gc_s"],
        "session.peak_rss_mb": metrics.peak_rss_mb(pid) if pid else 0.0,
    }
