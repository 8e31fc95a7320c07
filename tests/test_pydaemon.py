"""The preloaded worker daemon (pydaemon) — wiring + preload effect.

The optimization (OPTIMIZATION_r09.md, guide §4.5): numpy/pandas/pyarrow
import once in the daemon, before fork, so every worker starts warm. These
tests pin (a) the module contract pyspark.daemon expects, and (b) that a
live worker really does see the heavy modules already imported at task
start — i.e. the preload survives the fork and no worker re-imports.
"""

from __future__ import annotations

import os

import pandas as pd


def test_pydaemon_module_contract():
    """pydaemon only preloads modules: pyspark.daemon keeps its own
    worker_main (the fork path resolves it from module globals at call
    time) and the manager entry stays importable."""
    import pyspark.daemon as stock

    import kafkasparkstream_spark.pydaemon as pyd

    assert pyd._daemon is stock
    assert stock.worker_main.__module__ != pyd.__name__
    assert callable(stock.manager)


def test_worker_starts_with_heavy_modules_preloaded(spark):
    """A worker forked from the preloaded daemon must have numpy/pandas/
    pyarrow in sys.modules BEFORE the task body imports anything — the
    whole point of the custom daemon module."""
    if spark.conf.get("spark.python.daemon.module", "") != (
        "kafkasparkstream_spark.pydaemon"
    ):
        import pytest

        pytest.skip("session not using the preloaded daemon")

    def probe(it):
        import sys

        # Evaluated at generator start, before touching the batch: were the
        # heavy modules already present when the task began?
        pre = {m: (m in sys.modules) for m in ("numpy", "pandas", "pyarrow")}
        for batch in it:
            yield pd.DataFrame(
                {
                    "mod": list(pre),
                    "preloaded": [pre[m] for m in pre],
                    "pid": [os.getpid()] * len(pre),
                }
            )

    rows = (
        spark.range(4, numPartitions=4)
        .mapInPandas(probe, "mod string, preloaded boolean, pid long")
        .collect()
    )
    assert rows, "probe returned nothing"
    missing = {r.mod for r in rows if not r.preloaded}
    assert not missing, f"workers started without preloaded modules: {missing}"
