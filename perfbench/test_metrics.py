"""Self-tests of the benchmark's metric math.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


def test_p95_needs_ten_samples_beyond_it():
    # nearest rank: p95 of 199 values is the 190th, leaving 9 beyond
    assert metrics.tail_percentile(list(range(199)), 95) is None
    assert metrics.tail_percentile(list(range(200)), 95) == 189
    # ties at the percentile do not count as beyond it
    assert metrics.tail_percentile([1.0] * 500, 95) is None
    assert metrics.tail_percentile([], 95) is None


def test_percentile_nearest_rank():
    assert metrics.percentile([5, 1, 3], 50) == 3
    assert metrics.percentile([5, 1, 3], 100) == 5
    assert metrics.percentile([5, 1, 3], 0) == 1


def _write_source_log(ckpt, offset, names):
    d = os.path.join(ckpt, "sources", "0")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, str(offset)), "w") as f:
        f.write("v1\n")
        for n in names:
            f.write(json.dumps({"path": f"file:///in/{n}", "timestamp": 0,
                                "batchId": offset}) + "\n")


def _progress(batch, start_off, end_off, ts, trigger_ms):
    src = {"startOffset": None if start_off is None else {"logOffset": start_off},
           "endOffset": {"logOffset": end_off}}
    return {"batchId": batch, "timestamp": ts, "sources": [src],
            "durationMs": {"triggerExecution": trigger_ms}}


def test_due_time_latency_from_checkpoint_log(tmp_path):
    ckpt = str(tmp_path)
    _write_source_log(ckpt, 0, ["a"])
    _write_source_log(ckpt, 1, ["b", "c"])
    _write_source_log(ckpt, 2, ["d"])
    # batch 1 is a no-data batch: source offsets advance only with
    # files, so offset 1 is read by micro-batch 2, offset 2 by batch 3
    # (offsets as JSON text, the other form writers use)
    progress = [
        _progress(0, None, 0, "2026-01-01T00:00:00.000Z", 1000),
        _progress(1, 0, 0, "2026-01-01T00:00:01.000Z", 500),
        _progress(2, 0, 1, "2026-01-01T00:00:03.000Z", 1500),
        {**_progress(3, None, None, "2026-01-01T00:00:06.000Z", 250),
         "sources": [{"startOffset": '{"logOffset":1}',
                      "endOffset": '{"logOffset":2}'}]},
    ]
    offsets = metrics.file_source_offsets(ckpt)
    assert offsets == {"a": 0, "b": 1, "c": 1, "d": 2}
    batches = metrics.micro_batches(offsets, progress)
    assert batches == {"a": 0, "b": 2, "c": 2, "d": 3}
    commits = metrics.batch_commit_times(progress)
    t0 = metrics.parse_progress_time("2026-01-01T00:00:00.000Z")
    files = [{"name": "b", "due": t0 + 2.0}, {"name": "c", "due": t0 + 2.5},
             {"name": "d", "due": t0 + 5.0}, {"name": "never", "due": t0}]
    lat, missing = metrics.due_latencies(files, batches, commits)
    assert lat == pytest.approx([2.5, 2.0, 1.25])
    assert missing == 1


def test_interval_delta_interpolates_samples():
    samples = [(0.0, 0.0), (1.0, 4.0), (3.0, 6.0)]
    assert metrics.interval_delta(samples, 0.5, 2.0) == pytest.approx(5.0 - 2.0)
    assert metrics.interval_delta(samples, 0.0, 3.0) == pytest.approx(6.0)
    # not covered by the samples
    assert metrics.interval_delta(samples, -1.0, 2.0) is None
    assert metrics.interval_delta(samples, 1.0, 3.5) is None
    assert metrics.interval_delta([], 0.0, 1.0) is None


def _proc_entry(proc, pid, ppid, utime, stime, cutime, cstime, comm="x"):
    os.makedirs(os.path.join(proc, str(pid)))
    rest = ["S", ppid, pid, pid, 0, -1, 0, 0, 0, 0, 0,
            utime, stime, cutime, cstime, 20, 0, 1, 0]
    with open(os.path.join(proc, str(pid), "stat"), "w") as f:
        f.write(f"{pid} ({comm}) " + " ".join(str(x) for x in rest) + "\n")


def test_process_tree_cpu_sum(tmp_path):
    proc = str(tmp_path)
    ticks = os.sysconf("SC_CLK_TCK")
    _proc_entry(proc, 100, 1, 10, 5, 7, 3, comm="python3 (driver) x")
    _proc_entry(proc, 101, 100, 100, 20, 0, 0, comm="java")
    _proc_entry(proc, 102, 101, 4, 1, 0, 0)         # python worker
    _proc_entry(proc, 103, 100, 50, 50, 0, 0)       # excluded generator
    _proc_entry(proc, 104, 103, 9, 9, 0, 0)         # ...and its child
    _proc_entry(proc, 200, 1, 999, 999, 0, 0)       # not in the tree
    os.makedirs(os.path.join(proc, "self"))          # non-pid entries are skipped
    assert sorted(metrics.process_tree(100, proc)) == [100, 101, 102, 103, 104]
    want = (10 + 5 + 7 + 3) + (100 + 20) + (4 + 1)
    assert metrics.tree_cpu_s(100, exclude=[103], proc=proc) == pytest.approx(
        want / ticks)
    assert metrics.tree_cpu_s(100, proc=proc) == pytest.approx(
        (want + 100 + 18) / ticks)


def test_peak_rss(tmp_path):
    d = tmp_path / "42"
    d.mkdir()
    (d / "status").write_text("Name:\tjava\nVmHWM:\t  2048 kB\nVmRSS:\t1024 kB\n")
    assert metrics.peak_rss_mb(42, str(tmp_path)) == 2.0
