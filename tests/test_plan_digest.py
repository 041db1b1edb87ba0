"""The committed plan digest (`PLAN_DIGEST.json`) matches the tree:
every change to a query's optimized plan, schema, physical shape or
cut-query output ships with a deliberate digest diff, and so with a
`CHANGED` entry in `__spark_entry__.py`."""

import json
import os
import subprocess
import sys

import pytest

from tests.conftest import SF_DIR
from scripts.plan_check import differences

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the digest is pinned to the smallest scale factor and to a width of
# 4 (explicit repartition widths follow the session's parallelism),
# whatever scale and width the rest of the suite runs at
DIGEST_SF_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
DIGEST_CPUS = "4"


def _capture(out: str) -> list[str]:
    return ["scripts/plan_check.py", "capture", out, "--sf", DIGEST_SF_DIR]


@pytest.mark.skipif(not os.path.isdir(DIGEST_SF_DIR), reason="no sf0.001 testdata")
def test_plan_digest_is_current(tmp_path):
    out = tmp_path / "digest.json"
    env = {**os.environ, "SPARK_GRAFT_CPUS": DIGEST_CPUS, "SPARK_DRIVER_MEMORY": "2g"}
    run = subprocess.run(
        [sys.executable, *_capture(str(out))],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=900,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    with open(os.path.join(ROOT, "PLAN_DIGEST.json")) as f:
        committed = json.load(f)
    with open(out) as f:
        captured = json.load(f)
    found = differences(committed, captured, "PLAN_DIGEST.json", "this tree")
    assert not found, (
        "\n".join(f"{name}: {'; '.join(fields)}" for name, fields in found.items())
        + f"\n{len(found)} queries differ from PLAN_DIGEST.json; regenerate it with"
        + f"\n  SPARK_GRAFT_CPUS={DIGEST_CPUS} python {' '.join(_capture('PLAN_DIGEST.json'))}"
    )
