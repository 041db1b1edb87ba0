"""Metric math for the benchmark: percentiles, open-loop latency and
process-tree CPU. Pure functions over plain values and files, so the
self-tests can feed them synthetic inputs."""

from __future__ import annotations

import datetime as _dt
import json
import math
import os
import statistics

MIN_BEYOND = 10  # a percentile is reported only with this many samples past it


def median(values):
    return statistics.median(values) if values else None


def percentile(values, q: float):
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(values, q: float = 95.0, min_beyond: int = MIN_BEYOND):
    """The q-th percentile, or None unless at least ``min_beyond``
    samples lie strictly beyond it. A p95 of 20 samples rests on one
    value; this rule keeps such numbers out of the report."""
    if not values:
        return None
    p = percentile(values, q)
    beyond = sum(1 for v in values if v > p)
    return p if beyond >= min_beyond else None


# -- open-loop latency ----------------------------------------------------

def file_source_offsets(checkpoint_dir: str) -> dict[str, int]:
    """File name -> source log offset at which the file stream source
    admitted it, from ``<checkpoint>/sources/0/<offset>``: a version
    line, then one JSON object per file. The offset advances only when
    files arrive, so it is not the micro-batch id."""
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for entry in os.listdir(log_dir):
        # compacted logs end in ".compact"; both hold the same entries
        batch = entry.split(".")[0]
        if not batch.isdigit():
            continue
        with open(os.path.join(log_dir, entry)) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def micro_batches(file_offset: dict[str, int], progress: list[dict]) -> dict[str, int]:
    """File name -> id of the micro-batch that read it. A batch reads
    the source offsets in (startOffset, endOffset] of its progress."""
    def log_offset(off):
        if isinstance(off, str):  # some writers keep offsets as JSON text
            off = json.loads(off)
        return (off or {}).get("logOffset", -1)

    batch_of = {}
    for p in progress:
        src = p["sources"][0]
        end = log_offset(src.get("endOffset"))
        start = log_offset(src.get("startOffset"))
        for off in range(start + 1, end + 1):
            batch_of[off] = int(p["batchId"])
    return {name: batch_of[off] for name, off in file_offset.items()
            if off in batch_of}


def parse_progress_time(ts: str) -> float:
    """StreamingQueryProgress.timestamp (ISO-8601 UTC) -> epoch seconds."""
    return _dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=_dt.timezone.utc).timestamp()


def batch_commit_times(progress: list[dict]) -> dict[int, float]:
    """batchId -> epoch seconds when the batch committed: the trigger's
    start plus its triggerExecution duration."""
    return {
        int(p["batchId"]): parse_progress_time(p["timestamp"])
        + p["durationMs"].get("triggerExecution", 0) / 1000.0
        for p in progress
    }


def due_latencies(files: list[dict], file_batch: dict[str, int],
                  commits: dict[int, float]) -> tuple[list[float], int]:
    """Latency of each file from its scheduled (due) write time to the
    commit of the micro-batch that consumed it. Returns (latencies,
    unconsumed) where unconsumed counts files never read or whose batch
    has no recorded commit."""
    lat, missing = [], 0
    for f in files:
        batch = file_batch.get(f["name"])
        if batch is None or batch not in commits:
            missing += 1
            continue
        lat.append(commits[batch] - f["due"])
    return lat, missing


def interval_delta(samples: list[tuple[float, float]], start: float,
                   end: float):
    """Increase of a sampled cumulative counter (e.g. CPU seconds) over
    [start, end], interpolating linearly between (time, value)
    samples; None unless the samples cover the interval."""
    if not samples or start < samples[0][0] or end > samples[-1][0]:
        return None

    def at(t):
        for (t0, v0), (t1, v1) in zip(samples, samples[1:]):
            if t0 <= t <= t1:
                return v0 if t1 == t0 else v0 + (v1 - v0) * (t - t0) / (t1 - t0)
        return samples[-1][1]

    return at(end) - at(start)


# -- /proc ----------------------------------------------------------------

def _stat_fields(proc: str, pid: int):
    with open(os.path.join(proc, str(pid), "stat")) as f:
        raw = f.read()
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int, proc: str = "/proc") -> list[int]:
    """Live pids of ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir(proc):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(proc, int(entry))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while we listed
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int, exclude=(), proc: str = "/proc") -> float:
    """CPU seconds (user + system) used so far by ``root`` and every
    live descendant, including children they have already reaped
    (cutime/cstime), minus the subtrees rooted at ``exclude``.

    Each live process counts its own time plus that of its waited-for
    children; a child still alive is counted once, by itself."""
    skip = set()
    for pid in exclude:
        skip.update(process_tree(pid, proc))
    ticks = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree(root, proc):
        if pid in skip:
            continue
        try:
            fields = _stat_fields(proc, pid)
        except OSError:
            continue
        total += sum(int(fields[i]) for i in (11, 12, 13, 14))
    return total / ticks


def peak_rss_mb(pid: int, proc: str = "/proc") -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    with open(os.path.join(proc, str(pid), "status")) as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
