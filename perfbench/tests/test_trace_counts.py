"""Two traced runs of one workload with the same seed must report the
same per-layer counts (jobs, stages, tasks, files, buckets, bytes):
counts are what a change to one layer is judged by, so they may not
depend on timing or on the status store's retention.

Runs the benchmark twice as a subprocess (about a minute each):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], result
    return result["metrics"]


def test_cdc_upsert_counts_repeat_at_same_seed():
    a, b = traced("cdc_upsert", 7), traced("cdc_upsert", 7)
    counts = sorted(k for k, v in a.items() if v["unit"] in ("count", "B"))
    assert "loader.jobs" in counts and "sink.upsert_buckets_touched" in counts
    assert a["sink.upsert_jobs"]["value"] > 0
    assert {k: a[k]["value"] for k in counts} == {k: b[k]["value"] for k in counts}
