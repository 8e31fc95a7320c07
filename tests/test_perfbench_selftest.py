"""The benchmark's output checkers stay sound: ``perfbench/selftest.py``
feeds each checker a right and a corrupted result and exits non-zero if a
checker accepts a wrong one or rejects a right one.  Needs no Spark."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_checkers_selftest():
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "selftest.py")],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
