"""perf.py: the one timing and A/B harness.

The round-order check is pure Python. The end-to-end check runs ``perf.py
ab`` at sf0.001 with two configs that differ in one Spark conf, and
requires each config's child to have run under its own value.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import perf
from tests.conftest import SF_SMOKE


def test_round_order_alternates():
    configs = ["a", "b", "c"]
    orders = [perf.round_order(configs, r) for r in range(4)]
    assert orders == [["a", "b", "c"], ["c", "b", "a"]] * 2


def test_parse_config_splits_spark_confs_from_env():
    cfg = perf.parse_config(["c8", "SPARK_GRAFT_CPUS=8", "spark.sql.x=a=b"])
    assert cfg == {"name": "c8", "env": {"SPARK_GRAFT_CPUS": "8"},
                   "conf": {"spark.sql.x": "a=b"}}


def test_ab_runs_each_config_under_its_own_conf(tmp_path):
    out = tmp_path / "ab.json"
    key = "spark.sql.autoBroadcastJoinThreshold"
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_SMOKE, SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [sys.executable, perf.__file__, "ab", "--queries", "total_count",
         "--config", "small", f"{key}=1024",
         "--config", "large", f"{key}=4096",
         "--rounds", "1", "--repeat", "1", "--out", str(out)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    doc = json.loads(out.read_text())
    assert doc["sf_dir"] == SF_SMOKE
    assert set(doc["configs"]) == {"small", "large"}
    for name, value in (("small", "1024"), ("large", "4096")):
        entry = doc["configs"][name]
        assert entry["conf"] == {key: value}
        (run,) = entry["runs"]
        assert "error" not in run, run.get("error")
        assert run["conf"] == {key: value}
        assert run["cores"] == 2
        assert run["queries"]["total_count"]["rows"] == 1
        assert len(run["queries"]["total_count"]["times"]) == 1
        assert entry["min"]["total_count"] == run["queries"]["total_count"]["times"][0]
