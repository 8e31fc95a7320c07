"""Physical-plan regression tests — the 100 TB guardrails.

Correctness tests prove the answers match; these prove the *plans* stay
scale-worthy: filters reach the parquet scan, small dimensions broadcast,
top-k plans as TakeOrderedAndProject, aggregates map-side-combine, and no
query silently degenerates into a cartesian / broadcast-nested-loop join.
A regression here is invisible at sf0.1 and fatal at 100 TB.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.01"


from kafkasparkstream_spark.plans.audit import explain_str, plan_report


def _plan(spark, name: str) -> str:
    return explain_str(E.queries()[name](spark, SF_DIR))


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan, "shipdate filter not pushed to scan"
    # Column pruning: the 16-column lineitem scan must read only what Q1 uses.
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema


def test_equality_filter_pushdown(spark):
    plan = _plan(spark, "top_orders_by_revenue")
    assert "EqualTo(c_mktsegment,BUILDING)" in plan, "dim filter not pushed"


def test_star_join_broadcasts_dimensions(spark):
    plan = _plan(spark, "region_revenue")
    assert plan.count("BroadcastHashJoin") >= 4, "dimension joins must broadcast"
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, "no dim is big enough to justify SMJ here"


def test_exists_becomes_semi_join(spark):
    plan = _plan(spark, "order_priority_counts")
    assert "LeftSemi" in plan, "EXISTS must plan as a semi join, not join+distinct"


def test_topk_plans_as_take_ordered(spark):
    plan = _plan(spark, "latest_100")
    assert "TakeOrderedAndProject" in plan, (
        "ORDER BY + LIMIT must not global-sort; expected TakeOrderedAndProject"
    )


def test_windowed_agg_partial_aggregation(spark):
    plan = _plan(spark, "windowed_agg_1min")
    assert plan.count("HashAggregate") >= 2, "missing map-side partial aggregate"
    assert "Exchange" in plan


def test_no_degenerate_joins_anywhere(spark):
    """No registered query may plan a cartesian product; nested-loop joins
    are allowed only when one side is a broadcast of a deliberately tiny
    relation (none currently qualify).

    Uses the shared fixture session: a fresh ``get_spark()`` here would
    getOrCreate the SAME JVM session and silently re-apply its default
    ``spark.sql.shuffle.partitions`` as a runtime conf, quadrupling the
    state-store partition count for every streaming test that follows
    (measured: the eviction test went 20 s -> 88 s from exactly that)."""
    offenders = {}
    for name in sorted(E.queries()):
        if name in (
            "streaming_windowed_agg",
            "streaming_running_totals",
            "streaming_upsert_agg",
        ):
            continue  # runs a stream; plan inspected via its batch twin
        try:
            plan = _plan(spark, name)
        except Exception as ex:  # pragma: no cover - surface as failure below
            offenders[name] = f"explain failed: {ex}"
            continue
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        if "BroadcastNestedLoopJoin" in plan and name not in (
            "bm25_search",  # 1-row corpus-stats (N, avgdl) broadcast
            "wealthy_inactive_customers",  # 1-row global-avg(acctbal) broadcast
            "tfidf_top_terms",  # 1-row corpus doc-count broadcast
            "unigram_logprob_score",  # 1-row corpus token-total broadcast
            "time_decay_value_by_type",  # 1-row max(ts) decay anchor broadcast
            "ann_quantized_topk",  # 10-row quantized query side broadcast
            "rolling_7d_active_users",  # 1-row max-day anchor broadcast
            "psi_value_drift",  # 1-row bucket-totals broadcast
            "session_type_pairs",  # 1-row session-total broadcast
            "knn_triangle_stats",  # 1-row wedge/edge-count stat broadcasts
            "label_confusion_cosine",  # |labels|-row centroid pair inequality join
            "brand_basket_lift",  # 1-row basket-total broadcast
            "rfm_segment_counts",  # 1-row anchor-date + median-cuts broadcasts
            "revenue_rank_stability",  # 1-row mid-date broadcast + 100-row pair join
            "streaming_batch_parity_audit",  # 1-row count x 1-row mismatch-count combine
            "dsir_importance_weights",  # 1-row corpus bigram-totals (R,T,V) broadcast
            "perplexity_buckets_ccnet",  # 1-row corpus token-total broadcast (unigram LM)
            "mixture_epochs_plan",  # 1-row corpus token-totals broadcast
            "ann_recall_report",  # 1-row matched-count x 1-row possible-count combines
            "approx_distinct_user_count",  # 1-row sketch x 1-row exact gate combine
        ):
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, f"degenerate join plans: {offenders}"


def test_dedup_exact_single_shuffle(spark):
    report = plan_report(E.queries()["dedup_exact"](spark, SF_DIR))
    # One hash-agg exchange on the digest; anything more is wasted motion.
    assert report.exchanges == 1 and not report.degenerate


def test_partition_pruning_on_partitioned_sink(spark, tmp_path):
    """The engine's managed-table layout: a date-partitioned write must let
    a time filter prune to PartitionFilters (directory-level skip) instead
    of scanning every file."""
    from pyspark.sql import functions as F

    from kafkasparkstream_spark.tables import load_table, write_partitioned

    events = load_table(spark, "events", SF_DIR).withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_date")
    write_partitioned(events, path)

    one_day = events.select(F.max(F.to_date("ts")).alias("d")).collect()[0]["d"]
    q = spark.read.parquet(path).filter(F.col("event_date") == F.lit(one_day))
    report = plan_report(q)
    assert any("event_date" in pf for pf in report.partition_filters), (
        f"filter not pushed to partition level: {report}"
    )
    # And the pruned read returns exactly that day's rows.
    expected = events.filter(F.col("event_date") == F.lit(one_day)).count()
    assert q.count() == expected > 0


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must hash-join with ZERO
    exchanges — the at-rest co-location strategy for the big recurring
    orders⋈lineitem join at 100 TB. A plain parquet join of the same data
    needs an exchange on each side; bucketing moves that shuffle to write
    time, once, instead of per query."""
    from pyspark.sql import functions as F

    from kafkasparkstream_spark.tables import load_table, write_bucketed

    orders = load_table(spark, "orders", SF_DIR)
    lineitem = load_table(spark, "lineitem", SF_DIR).select(
        "l_orderkey", "l_extendedprice"
    )
    write_bucketed(orders, "orders_b", "o_orderkey", num_buckets=8)
    write_bucketed(lineitem, "lineitem_b", "l_orderkey", num_buckets=8)

    # AQE's planner must not demote the bucketed scan's reported
    # partitioning; autoBroadcast must not paper over the exchange question.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("orders_b")
            .join(
                spark.table("lineitem_b"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        plan = explain_str(joined)
        pre_agg = plan.split("HashAggregate")[-1]  # below the final agg
        assert "Exchange" not in pre_agg, (
            "bucketed join must not shuffle either side:\n" + plan
        )
        # Same answer as the plain-parquet join.
        expected = (
            orders.join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderpriority")
            .count()
            .collect()
        )
        got = {r["o_orderpriority"]: r["cnt"] for r in joined.collect()}
        assert got == {r["o_orderpriority"]: r["count"] for r in expected}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_q6_all_predicates_pushed(spark):
    """Q6 is pure scan bandwidth at 100 TB: every predicate must reach the
    parquet reader, and the plan must be scan → filter → partial/final agg
    with no exchange beyond the single-row final."""
    plan = _plan(spark, "revenue_change_forecast")
    assert "GreaterThanOrEqual(l_shipdate" in plan and "LessThan(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount" in plan and "LessThan(l_quantity" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_q19_single_join_not_union(spark):
    """Q19's OR-of-ANDs must stay ONE join with a residual disjunction —
    not expand into a union of three joins."""
    plan = _plan(spark, "disjunctive_filter_revenue")
    # formatted explain lists each node once in the tree and once in the
    # details; "Join type:" appears exactly once per physical join node.
    assert plan.count("Join type:") == 1, plan
    assert "Union" not in plan


def test_cosine_neardup_default_path_no_driver_collect(spark, monkeypatch):
    """The default near-dup path must never pull the candidate table to the
    driver (round-1 VERDICT: toPandas() here is a driver OOM at 100 TB).
    Plan construction + execution run with collect-to-driver APIs poisoned;
    only the row-count action used for block sizing is allowed."""
    from pyspark.sql import DataFrame

    from kafkasparkstream_spark.operators.similarity import cosine_neardup_pairs
    from kafkasparkstream_spark.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")

    def boom(self, *a, **k):  # pragma: no cover - should never run
        raise AssertionError("driver-side collect in default neardup path")

    monkeypatch.setattr(DataFrame, "toPandas", boom)
    out = cosine_neardup_pairs(emb)  # builds the plan; count() is allowed
    monkeypatch.setattr(DataFrame, "collect", boom)
    assert out.count() >= 0  # executes the tiled plan without collecting


def test_cosine_neardup_blocked_matches_broadcast(spark):
    """Exactness of the tiling: forcing multiple blocks must reproduce the
    broadcast path's pair set bit-for-bit (every unordered pair scored in
    exactly one tile)."""
    from kafkasparkstream_spark.operators.similarity import cosine_neardup_pairs
    from kafkasparkstream_spark.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    tiled = cosine_neardup_pairs(emb, n_blocks=5).collect()
    bcast = cosine_neardup_pairs(emb, small_corpus=True).collect()
    assert [tuple(r) for r in tiled] == [tuple(r) for r in bcast]
    assert len(tiled) > 0


def test_waiting_suppliers_no_self_join_blowup(spark):
    """Q21-shape: the one-pass aggregate rewrite must keep lineitem to ONE
    scanned aggregation plus semi joins — never the textbook EXISTS /
    NOT-EXISTS double self-join — and the two dimensions must broadcast."""
    plan = _plan(spark, "waiting_suppliers")
    assert "LeftSemi" in plan, "qualifying-order probe must be a semi join"
    assert plan.count("Join type:") <= 4, plan
    assert plan.count("BroadcastHashJoin") >= 2, "supplier/nation must broadcast"
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_pack_sequences_window_is_keyed(spark):
    """The packing cumsum must run as a keyed window (hash partitioned by
    lang, source), never a global single-partition sort — the difference
    between per-stream parallelism and a 100 TB pipeline stalling on one
    reducer."""
    plan = _plan(spark, "pack_sequences_512")
    assert "Window" in plan
    win_part = plan.split("Window")[1]
    assert "Exchange SinglePartition" not in plan, plan
    assert "hashpartitioning(lang" in plan, "window must partition by stream keys"


def test_shard_stats_single_aggregation(spark):
    """Shard balance report: the COUNT(DISTINCT lang) expands to Spark's
    standard two-phase distinct aggregate — (shard, lang) partial, then
    shard final, then the tiny 16-row sort. Three exchanges, all sized to
    the shard/lang key space, none to the corpus; the hash projection
    itself must add no motion."""
    report = plan_report(E.queries()["shard_balance_stats"](spark, SF_DIR))
    assert report.exchanges <= 3 and not report.degenerate, report


def test_doc_chunk_overlap_no_join_no_agg(spark):
    """Chunking is closed-form: a sequence+explode projection. Any join,
    aggregate, or non-output-sort exchange is wasted motion at 100 TB."""
    plan = _plan(spark, "doc_chunk_overlap")
    assert "Join" not in plan, plan
    assert "HashAggregate" not in plan, plan
    assert "Generate" in plan and "explode(" in plan, (
        "chunk grid must come from explode"
    )


def test_mad_outliers_fact_joins_broadcast(spark):
    """Both per-key stat tables (median, MAD — |keys| rows each) must ride
    back onto the fact scans as broadcasts; a sort-merge join here would
    shuffle the full events table twice for a 5-row lookup."""
    plan = _plan(spark, "mad_outliers_per_type")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_bigram_topk_partial_aggregation(spark):
    """The (lang, bigram) count must map-side-combine before its exchange,
    and the per-lang ranking must hash-partition by lang, not single-sort."""
    plan = _plan(spark, "bigram_top_per_lang")
    assert plan.count("HashAggregate") >= 2, "missing map-side partial aggregate"
    assert "Exchange SinglePartition" not in plan, plan


def test_quantized_topk_salted_two_phase(spark):
    """The quantized MIPS ranking must run its per-bucket partial top-k
    before the global one — two Window operators, the first partitioned by
    (query, salt) — so no reducer ever sees a query's full candidate set."""
    plan = _plan(spark, "ann_quantized_topk")
    assert plan.count("Window") >= 2, plan
    assert "pmod(hash(neighbor_id" in plan, "salted partial top-k missing"
    assert "SortMergeJoin" not in plan


def test_key_skew_report_two_hash_aggs(spark):
    """Skew diagnosis must stay two hash-aggs (keyed partials → 1-row
    global) — no window, no sort, no join anywhere."""
    plan = _plan(spark, "key_skew_report")
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_funnel_single_user_shuffle(spark):
    """The three stage-windows and the per-user collapse must all ride ONE
    hashpartitioning(user_id) exchange — a funnel that re-shuffles per
    stage pays |stages|× the network at 100 TB. The only other exchange is
    the 1-row final aggregate."""
    plan = _plan(spark, "funnel_conversion")
    assert plan.count("hashpartitioning(user_id") <= 1, plan
    assert "Join" not in plan, plan


def test_quality_audit_single_scan(spark):
    """All declared constraints must fold into ONE scan's aggregate — an
    audit that re-reads the table per check multiplies 100 TB by the
    constraint count."""
    plan = _plan(spark, "data_quality_audit")
    # formatted explain names each node twice (tree + detail section):
    # 2 occurrences == exactly one scan node.
    assert plan.count("Scan parquet") == 2, plan
    assert "Join" not in plan, plan


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Runtime bloom-filter join pruning: with a selective filter on the
    build side of a shuffle join, Catalyst injects a bloom_filter_agg on the
    dim side and a might_contain probe into the fact scan's filter — at
    100 TB this drops most fact rows BEFORE the join shuffle. Size
    thresholds make it invisible at test scale, so pin it with thresholds
    lowered to prove the engine's plans are eligible (no expression blocks
    the rewrite)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        sel = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
        j = (
            lineitem.join(sel, lineitem.l_orderkey == sel.o_orderkey)
            .groupBy()
            .agg(F.sum("l_quantity").alias("q"))
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, "bloom filter not created on build side"
        assert "might_contain" in plan, "bloom probe not injected into fact side"
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_zorder_layout_tightens_file_spans(spark, tmp_path):
    """zorder_write must cluster both dimensions: the average per-file
    (max-min) span of each z-ordered column should be far below the
    unordered layout's (where every file spans ~the full domain). Tight
    per-file spans are exactly what parquet row-group min/max skipping
    prunes on — the observable layout contract of the Z-order curve."""
    from pyspark.sql import functions as F

    from kafkasparkstream_spark.tables import load_table, zorder_write

    events = load_table(spark, "events", SF_DIR).select("user_id", "value")
    plain, zpath = str(tmp_path / "plain"), str(tmp_path / "zorder")
    events.repartition(8).write.parquet(plain)
    zorder_write(events, ["user_id", "value"], zpath, n_files=8)

    def avg_spans(path):
        df = spark.read.parquet(path).withColumn("_f", F.input_file_name())
        spans = df.groupBy("_f").agg(
            (F.max("user_id") - F.min("user_id")).alias("su"),
            (F.max("value") - F.min("value")).alias("sv"),
        )
        row = spans.agg(F.avg("su"), F.avg("sv")).first()
        return row[0], row[1]

    pu, pv = avg_spans(plain)
    zu, zv = avg_spans(zpath)
    # Both dimensions must tighten substantially (8 files over 2 dims ⇒
    # expect ~2-4x per dimension; unordered files span the whole domain).
    assert zu < pu * 0.6, f"user_id span not tightened: {zu} vs {pu}"
    assert zv < pv * 0.6, f"value span not tightened: {zv} vs {pv}"


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling (enabled in session.py): a join where one key
    owns ~90% of the rows must re-plan at runtime with the skewed partition
    split (SortMergeJoin(skew=true) + 'AQEShuffleRead ... skewed') instead
    of one straggler reducer absorbing the hot key — the difference between
    hours and minutes on a 100 TB skewed join. Thresholds are lowered so
    the behavior is observable at test scale."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 300000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
        )
        j = left.join(right, "k").groupBy().agg(F.sum("attr").alias("s"))
        j.collect()  # AQE re-plans at runtime; inspect the EXECUTED plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE did not split the skewed partition"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_window_fusion_on_lag_family_operators(spark):
    """The 8 EWMA taps must fuse into a SINGLE WindowExec pass; the
    drawdown's peak-over-cum is a sequential dependency (two Window nodes
    are inherent) but both must ride ONE user_id shuffle — a second
    hashpartitioning exchange means the shared sort order was lost."""
    import re

    plan = _plan(spark, "ewma_value_per_user")
    n_windows = len(re.findall(r"\(\d+\) Window\b", plan))
    assert n_windows == 1, f"ewma: expected 1 WindowExec, saw {n_windows}"

    plan = _plan(spark, "max_drawdown_per_user")
    n_ex = plan.count("hashpartitioning(user_id")
    assert n_ex == 1, f"drawdown: expected 1 user_id exchange, saw {n_ex}"


def test_basket_lift_has_no_fact_join(spark):
    """brand_basket_lift's pair generation is a JVM array comb over
    collect_set baskets — a SortMergeJoin/ShuffledHashJoin in the plan
    means the expensive self-join came back."""
    plan = _plan(spark, "brand_basket_lift")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_plan_report_detects_degenerate_joins(spark):
    """The watchdog's watchdog: plan_report must actually flag a cartesian
    product and a broadcast-nested-loop join when one is planned — if
    Spark ever renames these nodes, every guard in this file silently
    stops guarding, so this test plants real degenerate plans and expects
    the alarm."""
    from pyspark.sql import functions as F

    a = spark.range(5)
    b = spark.range(5).withColumnRenamed("id", "id2")
    cross = a.crossJoin(b)
    rep = plan_report(cross)
    assert rep.degenerate, f"cartesian not flagged: {rep}"

    bnlj = a.join(F.broadcast(b), F.col("id") < F.col("id2"))
    rep2 = plan_report(bnlj)
    assert rep2.degenerate, f"BNLJ not flagged: {rep2}"

    clean = a.join(b, F.col("id") == F.col("id2"))
    assert not plan_report(clean).degenerate


def test_semdedup_pairs_keyed_on_cluster(spark):
    """SemDeDup's whole point is that the quadratic cosine work is keyed by
    cluster_id — an equi-join per cluster, never a global cartesian or a
    nested-loop over the corpus."""
    plan = _plan(spark, "semdedup_clusters")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "cluster_id" in plan


def test_split_leakage_train_side_semi_joins_no_broadcast(spark):
    """The train shingle set must reduce via LEFT SEMI against the test set
    (bounded survivor set), not a global distinct of the train side — and
    because the registered query audits a PROPORTIONAL 90/10 split, the
    corpus-proportional test side must SHUFFLE, never broadcast
    (broadcast_test=False; semantics parity with the broadcast path is
    test_split_leakage_shuffle_mode_matches_broadcast_mode)."""
    plan = _plan(spark, "split_leakage_check")
    assert "LeftSemi" in plan, "train shingles must semi-join the test set"
    assert "BroadcastExchange" not in plan, (
        "proportional-split leakage audit must not broadcast the test side"
    )


def test_extreme_events_single_pass_no_window(spark):
    """max_by/min_by pulls the extreme rows in one partial-aggregated pass —
    a Window or a self-join in this plan means the cheap formulation
    regressed to shuffle-the-fact-table."""
    plan = _plan(spark, "extreme_events_by_type")
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2, "missing map-side partial aggregate"
    assert "Join" not in plan


def test_gopher_matrix_single_scan(spark):
    """All rule counts are conditional sums in ONE aggregate over one scan."""
    plan = _plan(spark, "gopher_rule_matrix")
    assert plan.count("InMemoryFileIndex") == 1, "expected exactly one scan"
    assert plan.count("HashAggregate") >= 2


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    """Runtime pruning, the 100 TB complement of static PartitionFilters:
    when the partition key is only constrained THROUGH a join (filter on a
    dimension attribute, not on the key), Spark must inject a dynamicpruning
    subquery into the fact scan so only the qualifying date directories are
    read — the star-schema pattern every date-partitioned warehouse query
    relies on."""
    from pyspark.sql import functions as F

    from kafkasparkstream_spark.tables import load_table, write_partitioned

    events = load_table(spark, "events", SF_DIR).withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_date_dpp")
    write_partitioned(events, path)
    fact = spark.read.parquet(path)

    dim = (
        events.select(F.to_date("ts").alias("d"))
        .distinct()
        .withColumn("is_weekend", F.dayofweek("d").isin(1, 7))
    )
    q = fact.join(dim, fact.event_date == dim.d).filter(F.col("is_weekend"))

    plan = explain_str(q)
    assert "dynamicpruning" in plan.lower(), (
        "fact scan should carry a runtime dynamicpruning filter on event_date"
    )
    expected = events.join(dim, events.event_date == dim.d).filter(
        F.col("is_weekend")
    ).count()
    assert q.count() == expected > 0


def test_edit_distance_kernel_stays_behind_barriers(spark):
    """The Levenshtein kernel must be fully materialized behind the
    checkpoint barriers: the final plan filters a precomputed edit_dist
    column over an ExistingRDD scan. A `levenshtein(` anywhere in this
    plan means a barrier was dropped and PushDownPredicates is free to pull
    the kernel below the fan-out exchange again (the 312.5 s -> 8.7 s sf1.0
    fix in SCALING.md)."""
    plan = _plan(spark, "dedup_edit_distance_blocked")
    assert "levenshtein" not in plan.lower(), "kernel leaked into the lazy plan"
    assert "ExistingRDD" in plan and "edit_dist" in plan


def test_edit_distance_kernel_executes_wide(spark):
    """Runtime complement of the barrier plan pin: a full-cluster-width
    stage must actually execute in the edit-distance job (the fan-out
    exchange ran). This alone would NOT have caught the original
    regression — its exchange also ran a wide pass-through stage while the
    kernel hid in the narrow map side — which is why the plan pin above
    (no `levenshtein` in the lazy plan) carries the single-eval/placement
    guarantee; together they cover the shape. The stage_task_widths tool
    itself is the interactive instrument: read WHICH stage is wide, not
    just that one is."""
    from kafkasparkstream_spark.operators.dedup import edit_distance_pairs
    from kafkasparkstream_spark.plans.audit import stage_task_widths
    from kafkasparkstream_spark.tables import load_table

    docs = load_table(spark, "documents", SF_DIR)
    widths = stage_task_widths(
        spark, lambda: edit_distance_pairs(docs).count()
    )
    assert widths, "no stages captured"
    want = spark.sparkContext.defaultParallelism
    assert max(widths.values()) >= want, (
        f"kernel never fanned out: stage widths {widths}, expected >= {want}"
    )


def test_containment_prefix_plan_shape(spark):
    """The prefix-filtered containment plan must keep its three scale
    properties: the docfreq build map-side-combines before its exchange,
    the per-doc prefix rank hash-partitions by doc (never a single global
    sort), and candidate pairs reduce through a distinct whose partial
    runs before the shuffle — so no stage ever sees the naive plan's
    sum-of-df^2 fanout in one reducer."""
    plan = _plan(spark, "dedup_containment")
    assert plan.count("HashAggregate") >= 2, "docfreq lost its partial aggregate"
    assert "Exchange SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 1, "prefix rank window missing"


def test_shingle_join_family_never_broadcasts_fact_sides(spark):
    """The shingle dedup family must keep its joins partitioned: Catalyst's
    static size estimate through the unmaterialized shingle cache (Generate
    over InMemoryRelation, no shuffle beneath for AQE to correct) claims the
    exploded shingle lists, vocab-sized docfreq, and array-carrying verify
    sides fit a broadcast — at sf1.0 that misplan cost 250 s / OOM. The
    merge/shuffle_hash hints make the join strategy unconditional, so this
    pin holds at every scale factor."""
    for name in (
        "dedup_containment",
        "dedup_ngram_jaccard",
        "dedup_ngram_jaccard_capped",
        "dedup_containment_capped",
        "dedup_minhash_lsh",
        "dedup_simhash_pairs",
    ):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" not in plan, f"{name} broadcasts a fact side"
        assert (
            plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") >= 1
        ), f"{name} lost its partitioned joins"


def test_broadcast_audit_flags_planted_misplan(spark):
    """The audit's audit: scripts/broadcast_audit.flagged_broadcasts must
    flag a REAL plan that broadcasts an exploded cached relation, and stay
    quiet on (a) the same join once the exploded side is hinted to shuffle
    and (b) a broadcast sitting above a shuffle Exchange (AQE-informed).
    If Spark renames the plan nodes, the registry-wide audit silently
    stops auditing — this test plants the hazard and expects the alarm."""
    import sys

    sys.path.insert(0, "scripts")
    from broadcast_audit import flagged_broadcasts

    from pyspark.sql import functions as F

    cached = (
        spark.range(200)
        .select(F.col("id"), F.array(F.col("id"), F.col("id") + 1).alias("arr"))
        .persist()
    )
    try:
        exploded = cached.select("id", F.explode("arr").alias("k"))
        fact = spark.range(1000).withColumnRenamed("id", "k")
        # Static estimate through the unmaterialized cache -> broadcast of
        # the Generate side.
        bad = fact.join(exploded, "k")
        plan_bad = explain_str(bad)
        if "BroadcastExchange" in plan_bad:  # the misplan this audit exists for
            assert flagged_broadcasts(plan_bad), plan_bad
        hinted = fact.join(exploded.hint("shuffle_hash"), "k")
        assert not flagged_broadcasts(explain_str(hinted))
        # Aggregate above an Exchange: runtime-informed, must NOT flag even
        # when broadcast.
        agg = exploded.groupBy("k").count()
        ok = fact.join(F.broadcast(agg), "k")
        assert not flagged_broadcasts(explain_str(ok))
    finally:
        cached.unpersist(blocking=True)


def test_broadcast_audit_shuffle_crossing_is_per_branch():
    """A shuffle Exchange in ONE child branch of the broadcast build side
    must not suppress flagging a Generate in a shuffle-free SIBLING branch
    (the single-boolean false negative). Synthetic tree: the broadcast
    builds a join whose left child aggregates above a shuffle, while the
    right child is a bare Generate — still a hazard."""
    import sys

    sys.path.insert(0, "scripts")
    from broadcast_audit import flagged_broadcasts

    plan = "\n".join(
        [
            "*(5) BroadcastHashJoin [k], [k], Inner, BuildRight",
            ":- *(1) ColumnarToRow",
            ":  +- FileScan parquet [k] ...",
            "+- BroadcastExchange HashedRelationBroadcastMode",
            "   +- *(4) SortMergeJoin [k], [k], Inner",
            "      :- *(2) HashAggregate(keys=[k], functions=[count(1)])",
            "      :  +- Exchange hashpartitioning(k, 8)",
            "      :     +- *(1) HashAggregate(keys=[k], functions=[partial_count(1)])",
            "      :        +- FileScan parquet [k] ...",
            "      +- *(3) Generate explode(arr), [k]",
            "         +- InMemoryTableScan [arr]",
        ]
    )
    assert flagged_broadcasts(plan), "sibling-branch Generate must be flagged"
    # Control: the same Generate UNDER the shuffle is runtime-informed.
    plan_ok = "\n".join(
        [
            "*(5) BroadcastHashJoin [k], [k], Inner, BuildRight",
            ":- FileScan parquet [k] ...",
            "+- BroadcastExchange HashedRelationBroadcastMode",
            "   +- Exchange hashpartitioning(k, 8)",
            "      +- Generate explode(arr), [k]",
            "         +- InMemoryTableScan [arr]",
        ]
    )
    assert not flagged_broadcasts(plan_ok)


def test_recompute_audit_flags_planted_kernel_fanout(spark):
    """The kernel-recompute audit's audit: scripts/recompute_audit.
    flagged_kernels must flag a REAL plan in which one applyInPandas
    kernel feeds two consumers without a barrier (the kernel node appears
    once per consumer — Spark re-executes it per branch), stay quiet once
    the kernel output is localCheckpoint'ed, and not confuse two DIFFERENT
    kernels with one recomputed kernel."""
    import sys

    sys.path.insert(0, "scripts")
    import pandas as pd
    from recompute_audit import flagged_kernels, simple_plan

    from pyspark.sql import functions as F

    def planted_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf

    def other_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf

    base = spark.range(100).select(
        (F.col("id") % 7).alias("g"), F.col("id").alias("v")
    )
    out = base.groupBy("g").applyInPandas(planted_kernel, "g long, v long")
    # two consumers of the same kernel output, no barrier -> duplicate node
    fanout = out.groupBy("g").count().join(out, "g")
    dup = flagged_kernels(simple_plan(fanout))
    assert dup and all(fn == "planted_kernel" for _, fn in dup), dup
    # barrier: the kernel materializes once, the plan reads the RDD twice
    barriered = out.localCheckpoint()
    fixed = barriered.groupBy("g").count().join(barriered, "g")
    assert not flagged_kernels(simple_plan(fixed))
    # composition of two DIFFERENT kernels is not recomputation
    two = out.join(
        base.groupBy("g").applyInPandas(other_kernel, "g long, v long"),
        "g",
    )
    assert not flagged_kernels(simple_plan(two))


def test_graph_queries_have_no_kernel_recompute(spark):
    """The round-4 fix stays fixed: the kNN-graph consumers (wedge links,
    triangle census, pagerank) plan the GEMM tile kernel at most once."""
    import sys

    sys.path.insert(0, "scripts")
    from recompute_audit import flagged_kernels, simple_plan

    for name in ("knn_jaccard_links", "knn_triangle_stats", "pagerank_knn_graph"):
        assert not flagged_kernels(simple_plan(E.queries()[name](spark, SF_DIR))), name


def test_capped_lsh_plan_shape(spark):
    """The star-cap path (r8 default) must keep the scale-safe plan: the
    bucket-size cap is ONE keyed Window pass (count + min over
    (band, bucket)) — no extra shuffle beyond the bucket key — and the
    bucket self-join stays partitioned (no fact-side broadcast, no
    cartesian). Pinned on the pairs stage; connected_components above it
    truncates plans via localCheckpoint."""
    from kafkasparkstream_spark.operators.dedup import minhash_lsh_pairs
    from kafkasparkstream_spark.tables import load_table

    docs = load_table(spark, "documents", SF_DIR)
    plan = explain_str(minhash_lsh_pairs(docs, threshold=0.5, max_bucket_size=2))
    assert "Window" in plan, "bucket-size cap lost its window pass"
    assert "BroadcastHashJoin" not in plan, "capped LSH broadcasts a fact side"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert (
        plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") >= 1
    ), "capped LSH lost its partitioned bucket join"
