"""Self-test of the benchmark: the deterministic work counters repeat
exactly across two runs with the same seed, and every run passes its
correctness checks.

Each run starts its own JVM and takes about a minute, so the test is marked
slow. Run it from the repository root::

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_once(workload: str, seed: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "3", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report_line, last_line = proc.stdout.strip().splitlines()[-2:]
    return json.loads(report_line)["report"], json.loads(last_line)


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["catchup_drain", "mq_tail"])
def test_counters_repeat_for_same_seed(workload):
    first, first_last = run_once(workload, 7)
    second, second_last = run_once(workload, 7)
    for last in (first_last, second_last):
        assert last["correct"] and last["failed"] == 0, last
    assert first["counters"] == second["counters"]
    assert first["counters"]["events_in"] > 0
