"""Tests of the pass accounting in run.py, with a fake workload.

Run with: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import workloads  # noqa: E402


class FakeWorkload:
    def __init__(self, fail_check: bool) -> None:
        self.fail_check = fail_check

    def run_pass(self, out_dir, spans):
        return {}

    def check_pass(self, out_dir, result):
        workloads.require(not self.fail_check, "fake check")
        return {"ok": True}


def runner(tmp_path, fail_check: bool) -> run.Runner:
    args = argparse.Namespace(workload="transcripts_batch", seed=0, seconds=0.0)
    r = run.Runner(args, str(tmp_path))
    r.wl = FakeWorkload(fail_check)
    return r


def test_checked_passes_are_timed(tmp_path):
    r = runner(tmp_path, fail_check=False)
    walls = r.timed_passes()
    assert len(walls) == run.MIN_PASSES
    assert (r.ops.attempted, r.ops.failed) == (run.MIN_PASSES, 0)


def test_failed_checks_are_not_timed(tmp_path):
    r = runner(tmp_path, fail_check=True)
    walls = r.timed_passes()
    assert walls == []
    assert r.ops.failed == r.ops.attempted == run.MIN_PASSES + 1
    assert r.ops.failed_ratio == 1.0
