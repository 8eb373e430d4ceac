"""tools/ab.py end to end: an A/B of one query between HEAD and the
working tree reports equal values and leaves no git worktree behind."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]


def _worktrees() -> str:
    return subprocess.run(
        ["git", "-C", str(ROOT), "worktree", "list", "--porcelain"],
        check=True, capture_output=True, text=True,
    ).stdout


def test_ab_against_head_is_equal_and_cleans_up(sf_dir):
    head = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--verify", "HEAD"], capture_output=True)
    if head.returncode != 0:
        pytest.skip("needs a git checkout with a HEAD commit")
    before = _worktrees()
    run = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "ab.py"), "HEAD", "v1_top_actors",
         "--sf", sf_dir, "--reps", "1"],
        capture_output=True, text=True, timeout=900,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    out = json.loads(run.stdout.strip().splitlines()[-1])
    assert out["equal"] is True
    rec = out["queries"]["v1_top_actors"]
    assert rec["equal"] is True and rec["rows"]["base"] == rec["rows"]["head"] > 0
    assert len(rec["base_s"]) == len(rec["head_s"]) == 1
    assert _worktrees() == before
