"""Registry-wide audit for statically-misestimated broadcast joins.

The hazard (found on dedup_containment, round 3): Catalyst's static
sizeInBytes through a persisted-but-unmaterialized cache with a Generate
(explode) on top lands under the broadcast threshold, and with no shuffle
below the join AQE never gets runtime stats to correct it — so a
fact-sized side (exploded shingles, vocab aggregate, array-carrying
verify side) gets broadcast. Invisible at bench SFs, 250 s/OOM at sf1.0+.

This script plans (never executes) every registry query against a given
SF dir and flags each BroadcastExchange whose build subtree contains a
Generate or an InMemoryTableScan with NO intervening shuffle Exchange —
i.e. a broadcast justified by neither real file statistics nor AQE
runtime statistics. Broadcasts of raw parquet scans (real size stats)
and of aggregates sitting above an Exchange (AQE-informed) are not
flagged.

Usage:
    python scripts/broadcast_audit.py [sf_dir]      # default .scratch/sf1.0
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _depth(line: str) -> int:
    """Tree depth of a simple-mode explain line (indent of its +-/:- marker)."""
    m = re.search(r"[+:]-", line)
    return m.start() if m else -1


def flagged_broadcasts(plan: str) -> list[str]:
    """Hazard signatures in a simple-mode physical plan string.

    Returns one descriptor per BroadcastExchange whose subtree reaches a
    Generate/InMemoryTableScan without crossing a shuffle Exchange.
    """
    lines = [ln for ln in plan.splitlines() if ln.strip()]
    out = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        d = _depth(ln)
        # Shuffle crossings are PER-BRANCH: a shuffle Exchange only covers
        # its own subtree (the contiguous deeper lines that follow it), not
        # sibling branches of the broadcast build side.  Tracking a single
        # boolean let a shuffle in one child suppress flagging a
        # Generate/InMemoryTableScan in a shuffle-free sibling — a false
        # negative in exactly the misplan class this audit gates.  Keep a
        # stack of the depths of shuffle nodes whose subtree we're inside;
        # pop when the walk rises back to (or above) that depth.
        shuffle_depths: list[int] = []
        for sub in lines[i + 1 :]:
            sd = _depth(sub)
            if sd >= 0 and sd <= d:
                break  # left the broadcast subtree
            if sd >= 0:
                while shuffle_depths and sd <= shuffle_depths[-1]:
                    shuffle_depths.pop()  # left that shuffle's subtree
            # Shuffle exchange in either explain mode: simple prints
            # "Exchange hashpartitioning(...)" / "Exchange SinglePartition",
            # formatted prints a bare "Exchange (n)" tree line.
            if (
                re.search(r"\bExchange\b", sub)
                and "BroadcastExchange" not in sub
                and "ReusedExchange" not in sub
            ):
                # Unparseable depth (wrapped line): fall back to covering the
                # rest of the broadcast subtree, as the old boolean did.
                shuffle_depths.append(sd if sd >= 0 else d + 1)
            elif ("Generate" in sub or "InMemoryTableScan" in sub) and not shuffle_depths:
                out.append(sub.strip()[:90])
                break
    return out


# Queries whose flagged broadcast is DECLARED (F.broadcast on a side whose
# boundedness is the operator's documented contract), not estimated — the
# plan text can't distinguish the two, so sanction by name with the reason.
SANCTIONED = {
    "dedup_incremental": "delta side broadcasts by contract "
    "(incremental_minhash_pairs: each crawl batch vs the corpus)",
    "ann_lsh_multiprobe_topk": "the broadcast Generate is the 10-row "
    "QUERY side exploding to (bits+1) probe buckets — bounded by "
    "num_queries x 5, by design (candidates never explode)",
    "ann_ivfpq_topk": "broadcast Generates are the 10-row query side's "
    "probe lists (nprobe rows/query) and ADC LUT (64 rows/query) — both "
    "bounded by num_queries, by design",
    "ann_recall_report": "composes the ANN queries above; same bounded "
    "query-side Generates",
    "ann_ivfpq_rerank_topk": "the broadcast subtree is the ADC shortlist "
    "(num_queries x shortlist id pairs) whose plan contains ivfpq's "
    "bounded query-side Generates — broadcasting the shortlist against "
    "the vector table is the operator's design",
    "ann_ivfpq_rerank_adaptive": "same rerank topology as "
    "ann_ivfpq_rerank_topk with the corpus-adaptive shortlist depth "
    "(max(50, n/20) id pairs x num_queries — still tiny vs the corpus)",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scratch/sf1.0"

    from kafkasparkstream_spark.session import get_spark

    spark = get_spark(app_name="broadcast-audit")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    from kafkasparkstream_spark.util import query_scope

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
        hits = flagged_broadcasts(plan)
        if hits:
            if name in SANCTIONED:
                print(f"SANCTIONED {name}: {SANCTIONED[name]}")
            else:
                bad[name] = hits
    for name, hits in sorted(bad.items()):
        print(f"FLAG {name}")
        for h in hits:
            print(f"     {h}")
    for name, err in sorted(errors.items()):
        print(f"ERR  {name}: {err}")
    print(f"=== audited {len(names)} queries at {sf_dir}: "
          f"{len(bad)} flagged, {len(errors)} plan errors")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
