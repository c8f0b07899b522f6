"""The benchmark's own self-check (perfbench/selftest.py): every
correctness check perfbench applies to an operation's output must accept
the right answer and reject wrong ones. Runs without Spark in about a
second."""

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_perfbench_selftest_passes():
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "selftest.py")],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
