"""Spans and per-layer counters for the traced benchmark run.

A span wraps one call into a package layer from the benchmark's own
code: name, layer, start, end, parent span and op id. While a span is
open, Spark jobs run under a job group named after it, so the status
store can attribute jobs, stages, tasks, executor CPU, shuffle and
spill to the span afterwards. Codegen and GC counters are read from
the JVM at span entry and exit. Spans stay in memory until
``write`` at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.enabled = False  # switched on per traced op
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self._next_op = 0
        self._jvm_refs = None

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    # -- JVM counters -----------------------------------------------------
    def jvm_counters(self) -> dict:
        """Cumulative JVM-wide counters: GC time, codegen compiles and
        codegen compile time."""
        if self._jvm_refs is None:
            # resolved once: every package step of a py4j lookup is a
            # round trip, and spans read these counters twice each
            jvm = self.spark.sparkContext._jvm
            self._jvm_refs = (
                list(jvm.java.lang.management.ManagementFactory
                     .getGarbageCollectorMXBeans()),
                jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME(),
                jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator,
            )
        gc_beans, compilations, codegen = self._jvm_refs
        return {"gc_s": sum(b.getCollectionTime() for b in gc_beans) / 1e3,
                "codegen_compiles": compilations.getCount(),
                "codegen_compile_s": codegen.compileTime() / 1e9}

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str | None = None, op: int | None = None,
             kind: str = "build"):
        """Record one span. ``kind`` is "build" for a public call that
        returns a lazy DataFrame (its jobs are eager jobs), "action" for
        the call that executes a layer's output, "op" for a root."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._next_id, "name": name, "layer": layer, "kind": kind,
               "op": op if op is not None else (parent or {}).get("op"),
               "parent": parent["id"] if parent else None,
               "group": f"perfbench-span-{self._next_id}"}
        self._next_id += 1
        rec["jvm0"] = self.jvm_counters()
        sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            jvm1 = self.jvm_counters()
            rec.update({k: jvm1[k] - rec["jvm0"][k] for k in jvm1})
            del rec["jvm0"]
            self.spans.append(rec)

    def job_stats(self, rec: dict) -> dict:
        """Jobs, executed stages, tasks, executor CPU, shuffle write,
        spill, stages that read input files and the actions (call site,
        SQL execution) behind the jobs, for one span's group. Call after
        the span's jobs have finished."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(rec["group"])
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_cpu_s": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0, "input_scans": 0,
               "actions": set()}
        seen = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            # one action can run several jobs (adaptive execution submits
            # each query stage as its own); they share one SQL execution
            pair = store.jobWithAssociatedSql(jid)
            job, sql = pair._1(), pair._2()
            out["actions"].add((str(job.name()),
                                sql.get() if sql.isDefined() else f"job{jid}"))
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if str(sd.status().toString()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (sd.memoryBytesSpilled()
                                    + sd.diskBytesSpilled()) / 2**20
                if sd.inputRecords() > 0:
                    out["input_scans"] += 1
        return out

    def self_time(self, rec: dict) -> float:
        """Duration of ``rec`` minus the part its direct children cover."""
        kids = sorted((s["start"], s["end"]) for s in self.spans
                      if s["parent"] == rec["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)
