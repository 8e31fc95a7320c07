"""PySpark worker daemon with the heavy Python-boundary imports preloaded.

Spark's stock ``pyspark.daemon`` forks one worker process per task slot;
each fork inherits the daemon's imported modules via copy-on-write, but
the stock daemon imports only pyspark itself — numpy, pandas and pyarrow
load lazily inside each WORKER the first time an Arrow kernel touches
them. That first-touch import is pure per-worker overhead (it re-parses
the same modules in every worker process), and on syscall-expensive
sandboxes it is multi-second: measured on this box, a cold worker pays
~2-4 s of sys-time importing numpy+pandas+pyarrow, and because the idle
worker pool rotates, a single-task Arrow stage keeps landing on cold
workers — ``knn_graph`` at sf0.1 measured 15.1 s on a fresh session vs
2.1 s once every pooled worker had finally imported numpy
(OPTIMIZATION_r09.md, guide §4.5: heavyweight init belongs where it is
amortised — here, ONCE per executor in the daemon, inherited by every
fork, instead of once per worker process).

Wiring: ``spark.python.daemon.module = kafkasparkstream_spark.pydaemon``
(set by :func:`kafkasparkstream_spark.session.get_spark`; the launched
command becomes ``python -m kafkasparkstream_spark.pydaemon
pyspark.worker``). ``pyspark.daemon`` resolves the worker module from
``sys.argv[1]`` at import time, so delegating to its ``manager()`` after
the preloads preserves stock behavior exactly — same fork protocol, same
reuse/authentication path, same worker ``main``. On a cluster the only
requirement is what any custom daemon module needs: the package
importable on the executors' PYTHONPATH.

The imports are deliberately unconditional: if one is missing the daemon
dies loudly at startup (Spark surfaces the stderr), which is strictly
better than every kernel failing later with the same ImportError.
"""

import os

# Defensive twin of session._disable_thp_if_requested(): the prctl is
# normally inherited from the driver through the JVM, but a daemon
# launched under a foreign driver still gets the THP opt-out this way
# (measured ~50× first-touch fault penalty with THP compaction on this
# host; see session.py).
if os.environ.get("SPARK_GRAFT_DISABLE_THP", "1") == "1":
    try:
        import ctypes

        ctypes.CDLL("libc.so.6", use_errno=True).prctl(41, 1, 0, 0, 0)
    except Exception:
        pass

import numpy  # noqa: F401  (preload: BLAS kernels)
import pandas  # noqa: F401  (preload: pandas-UDF path)
import pyarrow  # noqa: F401  (preload: Arrow serde)

# The worker-side serializer stack pyspark.worker reaches for on the first
# Arrow batch — importing it here means the fork starts with the whole
# Python boundary warm, not just the third-party libraries.
import pyspark.sql.pandas.serializers  # noqa: F401

import pyspark.daemon as _daemon

if __name__ == "__main__":
    _daemon.manager()
