"""The external driver builds its OWN SparkSession (no session.py
factory). Every query must still be correct there: registry.load
applies the correctness-critical confs (nanos-as-long, UTC, Arrow) at
runtime. This test reproduces the driver exactly: a fresh subprocess
running the full oracle-compare harness on a bare unconfigured session
(tools/check_correctness.py --plain). Timeout sized to the registry:
406 queries including multi-commit storage workloads and iterative
graph/eval queries run ~15-22 min at sf0.001 on a busy box (the r9
growth to 406 blew the old 1200s budget mid-suite)."""

import os
import subprocess
import sys

import pytest

pytestmark = pytest.mark.mirror


def test_all_queries_match_oracle_on_plain_session():
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(os.path.dirname(__file__), "..", "tools", "check_correctness.py"),
            "--plain",
            "--sf",
            "/root/testdata/sf0.001",
        ],
        capture_output=True,
        text=True,
        timeout=2400,
    )
    tail = out.stdout.replace("\r", "\n")
    assert "queries ok" in tail and "FAIL" not in tail, (
        tail[-2000:] + out.stderr[-1000:]
    )
    assert out.returncode == 0
