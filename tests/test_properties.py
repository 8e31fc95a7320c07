"""Property-based tests (hypothesis): distributed operators vs pure-Python
reference implementations on adversarial small inputs.

The oracle-parity suite checks fixed datasets; these generate edge-case
shapes (empty sides, all-ties timestamps, single keys, gap boundaries) that
fixed fixtures miss. The Spark result must equal a 20-line in-memory
reference implementation on every generated input.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

BASE = dt.datetime(2024, 1, 1, 10, 0, 0)

_row = st.tuples(
    st.integers(min_value=0, max_value=3),      # key
    st.integers(min_value=0, max_value=120),    # seconds offset
    st.integers(min_value=-50, max_value=50),   # value
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), False),
        StructField("user_id", LongType(), False),
        StructField("ts", TimestampType(), False),
        StructField("value", DoubleType(), False),
    ]
)


def _mk_df(spark, rows):
    data = [
        (i, k, BASE + dt.timedelta(seconds=s), float(v))
        for i, (k, s, v) in enumerate(rows)
    ]
    return spark.createDataFrame(data, EVENT_SCHEMA)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(left=st.lists(_row, max_size=12), right=st.lists(_row, max_size=12))
def test_asof_join_matches_reference(spark, left, right):
    from kafkasparkstream_spark.operators.temporal import asof_join

    ldf = _mk_df(spark, left)
    # Dedup right per (key, ts) by max event_id — the operator's contract.
    rdf = (
        _mk_df(spark, right)
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("value"))
    )
    got = {
        r["event_id"]: (r["prev_ts"], r["prev_value"])
        for r in asof_join(
            ldf.select("event_id", "user_id", "ts", "value"),
            rdf,
            key_col="user_id",
            ts_col="ts",
            value_cols=("value",),
        ).collect()
    }

    # Reference: latest deduped right row with r.ts <= l.ts per key.
    rref = {}
    for i, (k, s, v) in enumerate(right):
        ts = BASE + dt.timedelta(seconds=s)
        cur = rref.get((k, ts))
        if cur is None or i > cur[0]:
            rref[(k, ts)] = (i, float(v))
    for i, (k, s, v) in enumerate(left):
        lts = BASE + dt.timedelta(seconds=s)
        cands = [(ts, val) for (kk, ts), (_, val) in rref.items() if kk == k and ts <= lts]
        want = max(cands) if cands else (None, None)
        assert got[i] == want, f"left row {i}: got {got[i]}, want {want}"


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(_row, max_size=15), gap=st.integers(min_value=1, max_value=60))
def test_sessionize_matches_reference(spark, rows, gap):
    from kafkasparkstream_spark.operators.temporal import sessionize

    df = _mk_df(spark, rows)
    got = {
        r["event_id"]: r["session_id"]
        for r in sessionize(df, gap_seconds=gap).collect()
    }

    # Reference: sort each key's rows by (ts, event_id); gap > `gap` starts
    # a new session.
    per_key: dict[int, list[tuple[dt.datetime, int]]] = {}
    for i, (k, s, _) in enumerate(rows):
        per_key.setdefault(k, []).append((BASE + dt.timedelta(seconds=s), i))
    want = {}
    for k, items in per_key.items():
        items.sort()
        sid, prev = 0, None
        for ts, i in items:
            if prev is None or (ts - prev).total_seconds() > gap:
                sid += 1
            want[i] = sid
            prev = ts
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(_row, min_size=1, max_size=15), w=st.integers(min_value=5, max_value=60))
def test_range_join_count_matches_reference(spark, rows, w):
    from kafkasparkstream_spark.operators.temporal import range_join_count

    df = _mk_df(spark, rows)
    left = df
    right = df.select("user_id", "ts")
    got = {
        r["event_id"]: r["n_in_range"]
        for r in range_join_count(left, right, "user_id", "ts", window_seconds=w).collect()
    }
    for i, (k, s, _) in enumerate(rows):
        lts = BASE + dt.timedelta(seconds=s)
        n = sum(
            1
            for (kk, ss, _) in rows
            if kk == k
            and BASE + dt.timedelta(seconds=ss) > lts - dt.timedelta(seconds=w)
            and BASE + dt.timedelta(seconds=ss) <= lts
        )
        assert got[i] == n, f"row {i}: got {got[i]}, want {n}"


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ids=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=30, unique=True))
def test_dataset_split_is_stable_and_total(spark, ids):
    """Split labels are a pure function of the id: invariant under row order
    and partitioning, and the three splits partition the input."""
    from kafkasparkstream_spark.operators.sampling import dataset_split

    df = spark.createDataFrame([(i,) for i in ids], "event_id long")
    a = {r["event_id"]: r["split"] for r in dataset_split(df, "event_id").collect()}
    b = {
        r["event_id"]: r["split"]
        for r in dataset_split(df.repartition(7).sort(F.desc("event_id")), "event_id").collect()
    }
    assert a == b
    assert set(a) == set(ids)


def test_minhash_lsh_no_false_positives(spark):
    """LSH candidates are verified with exact Jaccard, so every emitted pair
    must also appear (same score) in the exhaustive n-gram Jaccard output —
    LSH may only *miss* pairs, never invent them."""
    from kafkasparkstream_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
    from kafkasparkstream_spark.tables import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.01")
    lsh = {(r.doc_a, r.doc_b): r.jaccard for r in minhash_lsh_pairs(docs).collect()}
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, max_shingle_freq=None).collect()
    }
    assert set(lsh) <= set(exact)
    assert all(exact[k] == v for k, v in lsh.items())
    # And recall is sane for this corpus (the S-curve should catch most).
    assert len(lsh) >= 0.8 * len(exact), f"LSH recall collapsed: {len(lsh)}/{len(exact)}"


def test_simhash_banding_full_recall(spark):
    """4 bands over 64 bits guarantee recall for Hamming <= 3 (pigeonhole):
    banded candidate generation must find EVERY pair the exhaustive
    all-pairs Hamming scan finds."""
    from pyspark.sql import functions as F

    from kafkasparkstream_spark.operators.dedup import simhash, simhash_pairs
    from kafkasparkstream_spark.tables import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    banded = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(docs).collect()}

    sig = simhash(docs, bits=64).collect()
    exact = {}
    rows = [(r.doc_id, r.simhash) for r in sig]
    for i, (ida, sa) in enumerate(rows):
        for idb, sb in rows[i + 1 :]:
            h = sum(1 for x, y in zip(sa, sb) if x != y)
            if h <= 3:
                key = (min(ida, idb), max(ida, idb))
                exact[key] = h
    assert banded == exact


def test_salted_agg_correct_under_extreme_skew(spark):
    """One key owning 90% of rows — the case salting exists for. The
    two-phase result must equal the plain one-phase aggregate exactly."""
    from pyspark.sql import functions as F

    from kafkasparkstream_spark.operators.aggregates import salted_group_agg

    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(F.lit("cold")).alias("k"),
        (F.col("id") % 997).cast("double").alias("value"),
    )
    got = {
        r["k"]: (r["cnt"], r["sum_value"], r["min_value"], r["max_value"])
        for r in salted_group_agg(df, key_col="k").collect()
    }
    plain = {
        r["k"]: (r["cnt"], r["s"], r["mn"], r["mx"])
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 4).alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert got == plain
    assert got["hot"][0] == 18_000


def test_kmeans_recovers_planted_clusters(spark):
    """Lloyd's iterations must recover two well-separated planted clusters
    regardless of which points seeded the centroids, and must tolerate an
    empty cluster (a far-out seed that captures nothing after the first
    update)."""
    from kafkasparkstream_spark.operators.similarity import kmeans_cluster_stats

    dim = 8
    rows = []
    # vec_ids 0,1 are the seeds; 0 sits in cluster A, 1 in cluster B.
    for i in range(40):
        base = 0.0 if i % 2 == 0 else 10.0
        vec = [base + ((i * 7 + j) % 5) * 0.01 for j in range(dim)]
        rows.append((i, vec, i % 2))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])

    out = {r["cluster_id"]: r for r in kmeans_cluster_stats(df, k=2, iters=3).collect()}
    assert set(out) == {0, 1}
    assert out[0]["n_members"] == 20 and out[1]["n_members"] == 20
    # label == cluster parity by construction → per-cluster label is pure.
    assert out[0]["avg_label"] == 0.0 and out[1]["avg_label"] == 1.0


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(_row, max_size=16))
def test_time_weighted_avg_matches_reference(spark, rows):
    """TWA vs a pure-Python reference: per key, ordered by (ts, event_id),
    each value weighted by the interval to the next reading; last reading
    carries no weight; single-reading keys emit nothing."""
    from collections import defaultdict

    from kafkasparkstream_spark.operators.temporal import time_weighted_avg

    df = _mk_df(spark, rows)
    got = {
        r["user_id"]: (r["twa_value"], r["n_intervals"], r["span_seconds"])
        for r in time_weighted_avg(df).collect()
    }

    by_key = defaultdict(list)
    for i, (k, s, v) in enumerate(rows):
        by_key[k].append((s, i, float(v)))
    from decimal import ROUND_HALF_UP, Decimal

    def round_half_up(x, dp=4):  # Spark/DuckDB ROUND, not Python banker's
        return float(Decimal(repr(x)).quantize(Decimal("1e-%d" % dp), ROUND_HALF_UP))

    want = {}
    for k, seq in by_key.items():
        seq.sort()
        if len(seq) < 2:
            continue
        ws, span = 0.0, 0.0
        for (s0, _, v0), (s1, _, _) in zip(seq, seq[1:]):
            dur = float(s1 - s0)
            ws += v0 * dur
            span += dur
        if span == 0:
            continue  # zero-span keys are excluded (undefined TWA)
        want[k] = (round_half_up(ws / span), len(seq) - 1, round_half_up(span))
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k][0] - want[k][0]) < 1e-9, (k, got[k], want[k])
        assert got[k][1:] == want[k][1:]


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(st.tuples(
    st.integers(min_value=0, max_value=2),   # key
    st.integers(min_value=0, max_value=60),  # seconds
    st.sampled_from(["a", "b"]),             # attribute
), min_size=1, max_size=16))
def test_scd2_history_matches_reference(spark, rows):
    """SCD2 vs a pure-Python reference: change rows only, intervals closed
    by the next change, exactly one open (is_current) interval per key."""
    from collections import defaultdict

    from kafkasparkstream_spark.operators.temporal import scd2_history

    data = [
        (i, k, BASE + dt.timedelta(seconds=s), attr)
        for i, (k, s, attr) in enumerate(rows)
    ]
    from pyspark.sql.types import StringType as _Str

    scd_schema = StructType(
        [
            StructField("event_id", LongType(), False),
            StructField("user_id", LongType(), False),
            StructField("ts", TimestampType(), False),
            StructField("event_type", _Str(), False),
        ]
    )
    df = spark.createDataFrame(data, scd_schema)
    got = [
        (r["user_id"], r["event_type"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_history(df).collect()
    ]

    by_key = defaultdict(list)
    for i, (k, s, attr) in enumerate(rows):
        by_key[k].append((s, i, attr))
    want = []
    for k, seq in sorted(by_key.items()):
        seq.sort()
        changes = []
        prev = None
        for s, _i, attr in seq:
            if prev is None or attr != prev:
                changes.append((s, attr))
            prev = attr
        for (s, attr), nxt in zip(changes, changes[1:] + [None]):
            want.append(
                (
                    k,
                    attr,
                    BASE + dt.timedelta(seconds=s),
                    BASE + dt.timedelta(seconds=nxt[0]) if nxt else None,
                    nxt is None,
                )
            )
    far = dt.datetime(9999, 1, 1)

    def canon(t):
        return (t[0], t[2], t[1], t[3] or far, t[4])

    assert sorted(got, key=canon) == sorted(want, key=canon)


def test_approx_decile_labels_consistent_with_exact(spark):
    """The sketch-based decile labeler must agree with exact NTILE away from
    bucket boundaries and never be off by more than one decile at them."""
    from kafkasparkstream_spark.operators.windows import approx_decile_labels
    from kafkasparkstream_spark.tables import load_table
    from pyspark.sql.window import Window

    events = load_table(spark, "events", "/root/testdata/sf0.01")
    w = Window.orderBy(F.asc("value"), F.asc("event_id"))
    exact = events.select(
        "event_id", "value", F.ntile(10).over(w).alias("exact_decile")
    )
    approx = approx_decile_labels(events).select("event_id", "decile")
    joined = exact.join(approx, "event_id")
    diffs = joined.select(
        F.max(F.abs(F.col("exact_decile") - F.col("decile"))).alias("max_diff"),
        F.avg((F.col("exact_decile") == F.col("decile")).cast("double")).alias("agree"),
    ).collect()[0]
    assert diffs["max_diff"] <= 1
    assert diffs["agree"] > 0.95


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=40), min_size=1, max_size=8
    ),
    size=st.integers(min_value=2, max_value=6),
    stride_delta=st.integers(min_value=1, max_value=4),
)
def test_chunk_grid_matches_reference(spark, texts, size, stride_delta):
    """Closed-form chunk grid == brute-force sliding-window reference for
    arbitrary token counts, sizes, and strides (stride <= size)."""
    from kafkasparkstream_spark.operators.text import chunk_documents

    stride = max(size - stride_delta, 1)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_start"], r["chunk_len"], r["n_tokens"])
        for r in chunk_documents(df, size=size, stride=stride).collect()
    }
    expected = {}
    for i, t in enumerate(texts):
        import re

        # mirror split(trim(text), ' +'): empty text -> one empty token
        toks = re.split(" +", t.strip())
        n = len(toks)
        starts = [0]
        while starts[-1] + size < n:
            starts.append(starts[-1] + stride)
        for ci, s in enumerate(starts):
            expected[(i, ci)] = (s, min(size, n - s), n)
    assert got == expected


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(_row, min_size=1, max_size=24))
def test_funnel_matches_reference(spark, rows):
    """Ordered funnel == brute-force per-user scan: stage k's timestamp is
    the min event of that type strictly after stage k-1's."""
    from kafkasparkstream_spark.operators.temporal import ordered_funnel

    types = ["signup", "click", "purchase"]
    data = [
        (i, k, BASE + dt.timedelta(seconds=s), types[abs(v) % 3])
        for i, (k, s, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = {
        r["stage_name"]: r["n_users"]
        for r in ordered_funnel(df, stages=tuple(types)).collect()
    }
    by_user: dict = {}
    for _, u, ts, et in data:
        by_user.setdefault(u, []).append((ts, et))
    counts = dict.fromkeys(types, 0)
    for evs in by_user.values():
        prev = None
        for stage in types:
            cand = [ts for ts, et in evs if et == stage and (prev is None or ts > prev)]
            if not cand:
                break
            prev = min(cand)
            counts[stage] += 1
    assert got == counts


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    old=st.lists(
        st.tuples(st.integers(0, 8), st.one_of(st.none(), st.integers(-3, 3))),
        max_size=10,
        unique_by=lambda t: t[0],
    ),
    new=st.lists(
        st.tuples(st.integers(0, 8), st.one_of(st.none(), st.integers(-3, 3))),
        max_size=10,
        unique_by=lambda t: t[0],
    ),
)
def test_snapshot_diff_matches_reference_with_nulls(spark, old, new):
    """CDC classification == dict-diff reference, including NULL compare
    values (NULL==NULL must read unchanged, NULL vs value changed)."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from kafkasparkstream_spark.tables import snapshot_diff

    schema = StructType(
        [StructField("id", LongType(), False), StructField("v", DoubleType(), True)]
    )
    odf = spark.createDataFrame(
        [(k, float(v) if v is not None else None) for k, v in old], schema
    )
    ndf = spark.createDataFrame(
        [(k, float(v) if v is not None else None) for k, v in new], schema
    )
    got = {
        r["id"]: r["change_type"]
        for r in snapshot_diff(odf, ndf, ("id",), ("v",)).collect()
    }
    o, n = dict(old), dict(new)
    expected = {}
    for k in set(o) | set(n):
        if k not in n:
            expected[k] = "removed"
        elif k not in o:
            expected[k] = "added"
        elif o[k] != n[k]:
            expected[k] = "changed"
        else:
            expected[k] = "unchanged"
    assert got == expected


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vecs=st.lists(
        st.lists(st.integers(-9, 9), min_size=4, max_size=4),
        min_size=3,
        max_size=12,
        unique_by=lambda v: tuple(v),
    )
)
def test_quantized_topk_matches_reference(spark, vecs):
    """Int8 quantized MIPS ranking == numpy reference (scale, floor(x/s+.5),
    integer dot, ties by neighbor id), including the all-zero-vector path."""
    import math

    from kafkasparkstream_spark.operators.similarity import quantized_topk

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    k = 3
    got = {
        (r["query_id"], r["rnk"]): (r["neighbor_id"], r["qdot"])
        for r in quantized_topk(df, num_queries=2, k=k, salt_buckets=4).collect()
    }

    def quant(v):
        s = max(abs(x) for x in v) / 127.0
        if s == 0.0:
            return 0.0, [0] * len(v)
        return s, [math.floor(x / s + 0.5) for x in v]

    qs = [quant([float(x) for x in v]) for v in vecs]
    expected = {}
    for qi in range(min(2, len(vecs))):
        scores = []
        for ci in range(len(vecs)):
            if ci == qi:
                continue
            sdot = sum(a * b for a, b in zip(qs[qi][1], qs[ci][1]))
            scores.append((-(sdot * qs[qi][0] * qs[ci][0]), ci))
        scores.sort()
        for rnk, (neg, ci) in enumerate(scores[:k], start=1):
            expected[(qi, rnk)] = (ci, round(-neg, 4))
    assert got == expected


def test_zvalue_interleave_roundtrip(spark):
    """Morton key property: de-interleaving the even/odd bits of
    zvalue_col([x, y]) recovers x and y exactly, for every row — the bit
    algebra is lossless, so per-file min/max spans of the sorted key bound
    BOTH dimensions (the data-skipping contract)."""
    from pyspark.sql import functions as F

    from kafkasparkstream_spark.tables import zvalue_col

    bits = 8
    df = spark.range(0, 512).select(
        (F.col("id") % 256).alias("x"), ((F.col("id") * 37) % 256).alias("y")
    )
    z = df.withColumn("z", zvalue_col([F.col("x"), F.col("y")], bits=bits))
    back_x = sum(
        (F.shiftright("z", 2 * b).bitwiseAND(F.lit(1)) * F.lit(1 << b))
        for b in range(bits)
    )
    back_y = sum(
        (F.shiftright("z", 2 * b + 1).bitwiseAND(F.lit(1)) * F.lit(1 << b))
        for b in range(bits)
    )
    bad = z.filter((back_x != F.col("x")) | (back_y != F.col("y"))).count()
    assert bad == 0


def test_weighted_reservoir_invariants(spark):
    """Efraimidis–Spirakis sample: exactly k per group (or the whole group
    when smaller), no replacement, rows drawn from the input, and the same
    sample under any input partitioning (content-keyed randomness)."""
    from pyspark.sql import functions as F

    from kafkasparkstream_spark.operators.sampling import weighted_reservoir_sample
    from kafkasparkstream_spark.tables import load_table

    events = load_table(spark, "events", "/root/testdata/sf0.001")

    def sample(df):
        out = weighted_reservoir_sample(
            df, "event_id", F.col("value") + F.lit(1.0), "event_type", k=5
        )
        return sorted((r.event_type, r.event_id) for r in out.collect())

    s1 = sample(events)
    s2 = sample(events.repartition(13))
    assert s1 == s2, "sample must not depend on partitioning"
    from collections import Counter

    per_group = Counter(t for t, _ in s1)
    sizes = {r.event_type: r["cnt"] for r in
             events.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    for g, n in per_group.items():
        assert n == min(5, sizes[g])
    assert len(set(s1)) == len(s1), "sampling is without replacement"


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=-10, max_value=10),  # x (small range → ties)
            st.integers(min_value=0, max_value=6),     # y
        ),
        min_size=1,
        max_size=25,
    ),
    width=st.sampled_from([1.0, 3.0, 100.0]),
)
def test_skyline_2d_matches_bruteforce(spark, pts, width):
    """The bucketed sweep must equal the quadratic strict-dominance scan on
    adversarial inputs: heavy x/y ties, single buckets, negative x, all
    points in one bucket (width=100) and one point per bucket (width=1)."""
    from kafkasparkstream_spark.operators.analytics import skyline_2d

    rows = [(i, float(x), y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x double, y long")
    got = {r["id"] for r in skyline_2d(df, "x", "y", bucket_width=width).collect()}
    want = {
        i
        for i, x, y in rows
        if not any(x2 > x and y2 > y for _, x2, y2 in rows)
    }
    assert got == want


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(_row, min_size=1, max_size=18))
def test_bounded_ewma_matches_reference(spark, rows):
    """The lag-expansion EWMA must equal the direct per-key weighted sum on
    arbitrary inputs (duplicate timestamps break ties by event_id; prefixes
    shorter than the tap depth renormalize)."""
    from kafkasparkstream_spark.operators.temporal import bounded_ewma

    df = _mk_df(spark, rows)
    got = {
        r["event_id"]: r["ewma"]
        for r in bounded_ewma(df, key="user_id", value="value").collect()
    }
    # reference: sort each key's rows by (ts, event_id), weighted sum of ≤8 taps
    by_key: dict[int, list] = {}
    for i, (k, s, v) in enumerate(rows):
        by_key.setdefault(k, []).append((BASE + dt.timedelta(seconds=s), i, float(v)))
    want = {}
    for seq in by_key.values():
        seq.sort()
        for pos in range(len(seq)):
            num = den = 0.0
            for k in range(min(8, pos + 1)):
                w = 0.5 ** k
                num += w * seq[pos - k][2]
                den += w
            want[seq[pos][1]] = num / den
    assert set(got) == set(want)
    for i in got:
        assert abs(got[i] - want[i]) < 1e-9, (i, got[i], want[i])


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(_row, min_size=1, max_size=20))
def test_debounce_matches_reference(spark, rows):
    """The keyed-lag debounce must agree with a sequential scan on
    adversarial gap patterns: equal timestamps (tie-broken by event_id),
    exact 5-second gaps (kept — the rule is strictly-greater), and single
    events. Note the operator debounces against the previous EVENT, not
    the previous KEPT event — a long burst with 4 s spacing keeps only its
    first row under the reference semantics pinned here."""
    from pyspark.sql import functions as F

    from kafkasparkstream_spark.operators.temporal import debounce

    df = _mk_df(spark, rows).withColumn("event_type", F.lit("t"))
    got = {
        r["event_id"]: r["keep"]
        for r in debounce(df).select("event_id", "keep").collect()
    }
    by_key: dict[int, list] = {}
    for i, (k, s, v) in enumerate(rows):
        by_key.setdefault(k, []).append((BASE + dt.timedelta(seconds=s), i))
    want = {}
    for seq in by_key.values():
        seq.sort()
        prev = None
        for ts, i in seq:
            want[i] = prev is None or (ts - prev).total_seconds() > 5
            prev = ts
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    baskets=st.lists(
        st.lists(st.integers(min_value=0, max_value=6), min_size=0, max_size=6),
        min_size=1,
        max_size=8,
    )
)
def test_basket_pair_expansion_matches_reference(spark, baskets):
    """The JVM array-comb pair expansion (transform/filter/flatten over
    collect_set) must produce exactly the sorted unique pairs of each
    basket — including empty and single-item baskets (no pairs) and
    duplicate items (deduped by collect_set)."""
    from pyspark.sql import functions as F

    rows = [(i, f"b{x}") for i, items in enumerate(baskets) for x in items]
    if not rows:
        return
    df = spark.createDataFrame(rows, "oid long, brand string")
    got = (
        df.groupBy("oid")
        .agg(F.collect_set("brand").alias("bs"))
        .select(
            "oid",
            F.explode(
                F.expr(
                    "flatten(transform(bs, x -> "
                    "transform(filter(bs, y -> y > x), y -> struct(x AS a, y AS b))))"
                )
            ).alias("p"),
        )
        .select("oid", "p.a", "p.b")
        .collect()
    )
    got_set = {(r["oid"], r["a"], r["b"]) for r in got}
    want = set()
    for i, items in enumerate(baskets):
        uniq = sorted({f"b{x}" for x in items})
        for ai in range(len(uniq)):
            for bi in range(ai + 1, len(uniq)):
                want.add((i, uniq[ai], uniq[bi]))
    assert got_set == want


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),   # hour slot
            st.integers(min_value=-20, max_value=20), # value
        ),
        min_size=1,
        max_size=10,
    )
)
def test_resample_interp_matches_pandas(spark, pts):
    """The distributed linear gap fill must match pandas' interpolate on
    the same hourly grid (observed points averaged per bucket first, on
    the same integer ten-thousandths grid)."""
    import pandas as pd

    from kafkasparkstream_spark.operators.aggregates import resample_interp

    rows = [
        (i, 0, BASE + dt.timedelta(hours=h), float(v))
        for i, (h, v) in enumerate(pts)
    ]
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    got = {
        r["bucket"]: r["value_interp"]
        for r in resample_interp(df, key_col="user_id", unit="hour").collect()
    }
    pdf = pd.DataFrame(
        {"h": [h for h, _ in pts], "v": [float(v) for _, v in pts]}
    )
    bucketed = pdf.groupby("h")["v"].mean().round(4)
    grid = pd.Series(
        index=range(bucketed.index.min(), bucketed.index.max() + 1), dtype=float
    )
    grid.loc[bucketed.index] = bucketed
    filled = grid.interpolate(method="linear")
    for h, v in filled.items():
        b = BASE.replace(minute=0, second=0) + dt.timedelta(hours=int(h))
        assert b in got, (h, got)
        assert abs(got[b] - round(v, 4)) <= 1.5e-4, (h, got[b], v)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    revs=st.lists(
        st.integers(min_value=1, max_value=1000), min_size=2, max_size=15
    )
)
def test_gini_rank_sum_matches_definition(spark, revs):
    """The Lorenz rank-sum Gini used by nation_revenue_gini must equal the
    mean-absolute-difference definition G = Σ|xi−xj| / (2n²·mean) on
    arbitrary positive revenue vectors (including heavy ties)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = spark.createDataFrame(
        [(0, i, float(r)) for i, r in enumerate(revs)], "g int, id int, r double"
    )
    wp = Window.partitionBy("g")
    rk = (
        df.withColumn("i", F.row_number().over(wp.orderBy("r", "id")))
        .withColumn("n", F.count(F.lit(1)).over(wp))
        .withColumn("tot", F.sum("r").over(wp))
    )
    got = rk.groupBy("g").agg(
        (
            2.0 * F.sum(F.col("i") * F.col("r")) / (F.max("n") * F.max("tot"))
            - (F.max("n") + 1.0) / F.max("n")
        ).alias("gini")
    ).collect()[0]["gini"]
    n = len(revs)
    mean = sum(revs) / n
    mad = sum(abs(a - b) for a in revs for b in revs) / (n * n)
    want = mad / (2 * mean)
    assert abs(got - want) < 1e-9, (got, want, revs)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(_row, min_size=2, max_size=16))
def test_cusum_argmax_matches_reference(spark, rows):
    """The windowed CUSUM deviation and its argmax must equal a sequential
    scan: cumulative (value − running position × mean) with ties on
    |deviation| resolved to the earliest timestamp."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = _mk_df(spark, rows).withColumn("event_type", F.lit("t"))
    base = df.select(
        "event_type", "ts", "event_id",
        F.round(F.col("value") * 100, 0).alias("vc"),
    )
    tot = base.groupBy("event_type").agg(
        F.sum("vc").alias("s"), F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = base.join(F.broadcast(tot), "event_type").withColumn(
        "dev",
        F.sum("vc").over(w)
        - F.row_number().over(
            Window.partitionBy("event_type").orderBy("ts", "event_id")
        )
        * (F.col("s") / F.col("n")),
    )
    r = c.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.abs("dev").desc(), "ts")
        ),
    ).filter(F.col("rn") == 1)
    got = r.select("ts", F.abs("dev").alias("cusum")).collect()[0]

    seq = sorted(
        (BASE + dt.timedelta(seconds=s), i, float(v) * 100)
        for i, (k, s, v) in enumerate(rows)
    )
    mean = sum(v for _, _, v in seq) / len(seq)
    cum, best = 0.0, None
    for pos, (ts, _, v) in enumerate(seq, start=1):
        cum += v
        dev = abs(cum - pos * mean)
        # exact comparisons: every term is the same IEEE op sequence Spark
        # runs, so values are bit-identical and ties are exact, never eps
        if best is None or dev > best[0]:
            best = (dev, ts)
    assert abs(got["cusum"] - best[0]) < 1e-9
    assert got["ts"].replace(tzinfo=None) == best[1]


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    purchases=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 120)), min_size=1, max_size=6),
    touches=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 120)), max_size=10),
)
def test_first_touch_attribution_matches_reference(spark, purchases, touches):
    """Each purchase credits the EARLIEST same-user touch in [t-1h, t) —
    checked against a brute-force scan including boundary cases: a touch
    at exactly t is excluded, at exactly t-1h included, ties on timestamp
    break by event_id."""
    import datetime as dt2

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    rows = []
    for i, (u, s) in enumerate(purchases):
        rows.append((i, u, "purchase", 0.0, BASE + dt2.timedelta(minutes=s)))
    off = len(purchases)
    for j, (u, s) in enumerate(touches):
        rows.append((off + j, u, "click", 0.0, BASE + dt2.timedelta(minutes=s)))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, ts timestamp"
    )
    p = df.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    e = df.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    cand = p.join(e, "user_id").filter(
        (F.col("ts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("ts") < F.col("pts"))
    )
    w = Window.partitionBy("purchase_id").orderBy("ts", "event_id")
    got = {
        r["purchase_id"]: r["event_id"]
        for r in cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    want = {}
    for i, (u, s) in enumerate(purchases):
        pt = BASE + dt2.timedelta(minutes=s)
        cands = [
            (BASE + dt2.timedelta(minutes=ts), off + j)
            for j, (tu, ts) in enumerate(touches)
            if tu == u
            and pt - dt2.timedelta(hours=1) <= BASE + dt2.timedelta(minutes=ts) < pt
        ]
        if cands:
            want[i] = min(cands)[1]
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=60), min_size=2, max_size=10
    )
)
def test_edit_distance_blocking_matches_bruteforce(spark, docs):
    """The SHIPPED edit_distance_pairs operator must equal the brute-force
    scan restricted to the same blocking rule — including short texts
    (block = whole text), whitespace-only docs (trim!), and the
    length-difference prune (which must never drop a qualifying pair)."""
    from kafkasparkstream_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    pairs = edit_distance_pairs(df, block_chars=8, max_dist=5)
    got = {(r["id_a"], r["id_b"], r["edit_dist"]) for r in pairs.collect()}

    def lev(x, y):
        prev = list(range(len(y) + 1))
        for i, cx in enumerate(x, 1):
            cur = [i]
            for j, cy in enumerate(y, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (cx != cy)))
            prev = cur
        return prev[-1]

    want = set()
    trimmed = [d.strip() for d in docs]
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            if trimmed[i][:8] == trimmed[j][:8]:
                d = lev(trimmed[i], trimmed[j])
                if d <= 5:
                    want.add((i, j, d))
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pts=st.lists(
        st.tuples(st.integers(-8, 8), st.integers(0, 6)), min_size=1, max_size=20
    ),
    mx=st.booleans(),
    my=st.booleans(),
)
def test_skyline_direction_variants_match_bruteforce(spark, pts, mx, my):
    """All four better-direction combinations of the skyline must equal the
    quadratic strict-dominance scan with the corresponding comparisons."""
    from kafkasparkstream_spark.operators.analytics import skyline_2d

    rows = [(i, float(x), y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x double, y long")
    got = {
        r["id"]
        for r in skyline_2d(df, "x", "y", bucket_width=3.0, maximize=(mx, my)).collect()
    }

    def better(a, b, want_max):  # is a strictly better than b on this axis?
        return a > b if want_max else a < b

    want = {
        i
        for i, x, y in rows
        if not any(
            better(x2, x, mx) and better(y2, y, my) for _, x2, y2 in rows
        )
    }
    assert got == want


_word = st.sampled_from(["aa", "bb", "cc", "dd"])


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(_word, min_size=0, max_size=10).map(" ".join),
        min_size=2,
        max_size=8,
    ),
    threshold=st.sampled_from([0.34, 0.5, 0.6, 0.75, 0.8, 1.0]),
)
def test_containment_prefix_filter_matches_bruteforce(spark, docs, threshold):
    """The prefix-filtered containment_pairs plan must equal the quadratic
    scan at EVERY threshold — the pigeonhole prefix size ``n − ⌈t·n⌉ + 1``
    sits on a ceil boundary exactly where a float-noise overestimate of
    ``t·n`` would silently drop a qualifying pair (the failure mode the
    1e-9 epsilon in _prefix_verified_common guards). The 4-word alphabet
    forces hot shingles (replica-heavy docfreq skew), short docs exercise
    the empty-shingle path, and t=1.0 makes the prefix exactly one
    shingle."""
    import math
    import re

    from kafkasparkstream_spark.operators.dedup import containment_pairs
    from kafkasparkstream_spark.util import query_scope

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    with query_scope(spark, "containment_property"):
        got = {
            (r["doc_a"], r["doc_b"], r["containment"])
            for r in containment_pairs(
                df, n=3, threshold=threshold, max_shingle_freq=None
            ).collect()
        }

    def sh(text):
        toks = [t for t in re.split(" +", text.strip())]
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = [sh(t) for t in docs]
    want = set()
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            m = min(len(sets[i]), len(sets[j]))
            if m == 0:
                continue
            cont = len(sets[i] & sets[j]) / m
            if cont >= threshold:
                want.add((i, j, round(cont, 4)))
    assert got == want
