"""Registry-wide audit for re-executed Python kernels.

The hazard (found on knn_jaccard_links / knn_triangle_stats, round 4): a
DataFrame produced by an expensive Arrow kernel (applyInPandas GEMM tiles,
mapInPandas decoders, ...) feeds MULTIPLE consumers — a degree aggregate
plus both sides of a self-join, say — and Spark plans the whole upstream
subtree once PER CONSUMER. Nothing fails and small-SF benches barely
notice (warm Python workers, tiny inputs), but the kernel's cost is
multiplied by its fan-out: measured 4x cold at sf0.1 and ~2x at sf1.0 on
the kNN wedge query before its edge list got a localCheckpoint barrier.

This script plans every registry query against a given SF dir — the plan
is never collected, though building a query may run small probe jobs its
constructor owns (e.g. knn_graph's block-count; barriers use
``localCheckpoint(eager=False)`` so no kernel executes) — and flags any
physical plan in which the same Python-eval node —
(node type, kernel function name) — appears more than once. A duplicated
kernel node means the optimizer could not share the subtree (no
ReusedExchange covers Python evals without an intervening exchange), so
the kernel WILL run once per occurrence. Fix pattern: `localCheckpoint()`
the kernel's output before fanning out (the repo's standing barrier
idiom; see operators/graph.py triangle_stats).

Plans containing two DIFFERENT kernels are fine — that's composition,
not recomputation.

Usage:
    python scripts/recompute_audit.py [sf_dir]   # default /root/testdata/sf0.01
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Python-eval node, capturing the kernel's function name where the plan
# prints one, e.g. "FlatMapGroupsInPandas [ti, tj], tile_kernel(...)".
_KERNEL = re.compile(
    r"(FlatMapGroupsInPandas|MapInPandas|ArrowEvalPython|BatchEvalPython"
    r"|FlatMapCoGroupsInPandas|PythonMapInArrow)\S*\s+(?:\[[^\]]*\],\s*)?(\w+)\("
)

# Queries whose duplicate kernel is sanctioned (none today). Name -> reason.
SANCTIONED: dict[str, str] = {}


def simple_plan(df) -> str:
    """simple-mode physical plan — the ONLY mode that prints the kernel's
    Python function name inline with the node (formatted mode moves it to
    the detail section, where node occurrences can't be counted from the
    tree)."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    return df._jdf.queryExecution().explainString(mode)


def flagged_kernels(plan: str) -> dict[tuple[str, str], int]:
    """(node type, kernel fn) -> occurrence count, for counts > 1.

    `plan` must be a simple-mode explain string (see simple_plan)."""
    counts: dict[tuple[str, str], int] = {}
    for ln in plan.splitlines():
        m = _KERNEL.search(ln)
        if m:
            key = (m.group(1), m.group(2))
            counts[key] = counts.get(key, 0) + 1
    return {k: c for k, c in counts.items() if c > 1}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from kafkasparkstream_spark.util import query_scope
    from kafkasparkstream_spark.session import get_spark

    spark = get_spark(app_name="recompute-audit")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    bad, errors = {}, {}
    names = sorted(E.queries())
    for name in names:
        # streaming replays execute side effects at build time — plan-only
        # audit would still run them; their batch twins are audited instead.
        if name.startswith("streaming_") or name == "python_stream_source_gen":
            continue
        try:
            with query_scope(spark, name):
                df = E.queries()[name](spark, sf_dir)
                plan = df._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001 - record and move on
            errors[name] = repr(e)[:120]
            continue
        dup = flagged_kernels(plan)
        if dup:
            if name in SANCTIONED:
                print(f"SANCTIONED {name}: {SANCTIONED[name]}")
            else:
                bad[name] = dup
    for name, dup in sorted(bad.items()):
        print(f"FLAG {name}: {dup}")
    for name, err in sorted(errors.items()):
        print(f"ERR  {name}: {err}")
    print(
        f"=== audited {len(names)} queries at {sf_dir}: "
        f"{len(bad)} flagged, {len(errors)} plan errors"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
