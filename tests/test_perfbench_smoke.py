"""The benchmark's ``dashboard`` workload still runs against the program and
its checker still accepts every response: a one-second traced run, made
from a temporary working directory so that the repository's own
``.perfbench/`` is never touched.  Also pins the jobs an aggregates request
runs, as the benchmark's tracer counts them."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_dashboard_traced_smoke():
    # A short path: the run's unix sockets live under its working directory,
    # and pytest's tmp_path can exceed the AF_UNIX path limit.
    work = tempfile.mkdtemp(prefix="pb-")
    try:
        # run.py takes the program from its working directory
        os.symlink(os.path.join(ROOT, "kafkasparkstream_spark"),
                   os.path.join(work, "kafkasparkstream_spark"))
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload",
             "dashboard", "--seed", "1", "--seconds", "1", "--trace", "1"],
            cwd=work, env=dict(os.environ, PYTHONPATH=ROOT),
            capture_output=True, text=True, timeout=600,
        )
        recorded = os.path.exists(os.path.join(work, ".perfbench", "records.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] is True and out["failed"] == 0, out
    assert out["metrics"]["api.aggregates.spark_jobs"]["value"] <= 3, out["metrics"]
    assert recorded  # in the temporary directory, not the repository
