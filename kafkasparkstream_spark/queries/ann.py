"""Similarity search over `embeddings` — brute-force / LSH / IVF /
PQ ANN, kNN graphs, clustering, and embedding-space audits."""

from __future__ import annotations

from kafkasparkstream_spark.operators import similarity  # noqa: E402
from kafkasparkstream_spark.tables import load_table
from kafkasparkstream_spark.util import current_scope
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from kafkasparkstream_spark.queries._shared import (  # noqa: E402
    ORACLE_SQL,
    register,
)

@register(
    "ann_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id, list_cosine_similarity(q.emb, c.emb) AS cos
        FROM q JOIN c ON neighbor_id <> query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 10
    ORDER BY query_id, rnk
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 for 10 query vectors."""
    df = similarity.brute_force_topk(load_table(spark, "embeddings", sf_dir))
    return df.withColumn("rnk", F.col("rnk").cast("int"))


@register(
    "ann_lsh_topk",
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               (CASE WHEN embedding[1] > 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[2] > 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[3] > 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[4] > 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, emb AS q_emb, bucket FROM e WHERE vec_id < 10),
    scored AS (
        SELECT query_id, e.vec_id AS neighbor_id, list_cosine_similarity(q_emb, e.emb) AS cos
        FROM q JOIN e ON q.bucket = e.bucket AND e.vec_id <> query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 10
    ORDER BY query_id, rnk
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed approximate cosine top-10 (probes own bucket only)."""
    df = similarity.lsh_bucketed_topk(load_table(spark, "embeddings", sf_dir))
    return df.withColumn("rnk", F.col("rnk").cast("int"))


@register(
    "ann_ivf_topk",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 16),
    assign AS (
        SELECT vec_id, emb, cid FROM (
            SELECT e.vec_id, e.emb, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY list_cosine_similarity(e.emb, c.cemb) DESC, c.cid) AS rn
            FROM e CROSS JOIN c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, q_emb, cid FROM (
            SELECT e.vec_id AS query_id, e.emb AS q_emb, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY list_cosine_similarity(e.emb, c.cemb) DESC, c.cid) AS rn
            FROM e CROSS JOIN c WHERE e.vec_id < 10
        ) WHERE rn <= 2
    ),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               list_cosine_similarity(p.q_emb, a.emb) AS cos
        FROM probes p JOIN assign a USING (cid)
        WHERE a.vec_id <> p.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 10
    ORDER BY query_id, rnk
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate cosine top-10: 16 deterministic centroids, 2 probes."""
    df = similarity.ivf_topk(load_table(spark, "embeddings", sf_dir))
    return df.withColumn("rnk", F.col("rnk").cast("int"))


@register(
    "kmeans_embeddings",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
    c0 AS (SELECT vec_id AS cid, emb FROM e WHERE vec_id < 8),
    d1 AS (SELECT e.vec_id, c0.cid, list_distance(e.emb, c0.emb) AS d FROM e CROSS JOIN c0),
    a1 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d1)
           WHERE rn = 1),
    x1 AS (SELECT a1.cid, unnest(e.emb) AS val, unnest(range(len(e.emb))) AS pos
           FROM e JOIN a1 USING (vec_id)),
    m1 AS (SELECT cid, pos, AVG(val) AS val FROM x1 GROUP BY 1, 2),
    c1 AS (SELECT cid, list(val ORDER BY pos) AS emb FROM m1 GROUP BY cid),
    d2 AS (SELECT e.vec_id, c1.cid, list_distance(e.emb, c1.emb) AS d FROM e CROSS JOIN c1),
    a2 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d2)
           WHERE rn = 1)
    SELECT cid AS cluster_id, COUNT(*) AS n_members,
           ROUND(AVG(CAST(label AS DOUBLE)), 4) AS avg_label
    FROM a2 JOIN e USING (vec_id)
    GROUP BY 1 ORDER BY 1
    """,
)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 2-iteration Lloyd's k-means (k=8, init = first k ids)
    over the embedding column; the oracle unrolls the same two assign/update
    rounds as CTEs. The distributed twin of IVF centroid training."""
    return similarity.kmeans_cluster_stats(load_table(spark, "embeddings", sf_dir))


@register(
    "embedding_neardup",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.emb, b.emb), 4) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.emb, b.emb) >= 0.35
    ORDER BY id_a, id_b
    """,
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs embedding-cosine near-duplicates at threshold 0.35."""
    return similarity.cosine_neardup_pairs(load_table(spark, "embeddings", sf_dir))


@register(
    "semdedup_clusters",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
    c0 AS (SELECT vec_id AS cid, emb FROM e WHERE vec_id < 8),
    d1 AS (SELECT e.vec_id, c0.cid, list_distance(e.emb, c0.emb) AS d FROM e CROSS JOIN c0),
    a1 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d1)
           WHERE rn = 1),
    x1 AS (SELECT a1.cid, unnest(e.emb) AS val, unnest(range(len(e.emb))) AS pos
           FROM e JOIN a1 USING (vec_id)),
    m1 AS (SELECT cid, pos, AVG(val) AS val FROM x1 GROUP BY 1, 2),
    c1 AS (SELECT cid, list(val ORDER BY pos) AS emb FROM m1 GROUP BY cid),
    d2 AS (SELECT e.vec_id, c1.cid, list_distance(e.emb, c1.emb) AS d FROM e CROSS JOIN c1),
    a2 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d2)
           WHERE rn = 1),
    av AS (SELECT a2.vec_id, a2.cid, e.emb FROM a2 JOIN e USING (vec_id)),
    dup AS (SELECT b.cid, b.vec_id
            FROM av a JOIN av b ON a.cid = b.cid AND a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.emb, b.emb) >= 0.4
            GROUP BY 1, 2),
    m AS (SELECT cid, COUNT(*) AS n_members FROM a2 GROUP BY 1),
    d AS (SELECT cid, COUNT(*) AS n_dups FROM dup GROUP BY 1)
    SELECT m.cid AS cluster_id,
           n_members,
           COALESCE(n_dups, 0) AS n_dups,
           n_members - COALESCE(n_dups, 0) AS n_kept,
           ROUND(CAST(COALESCE(n_dups, 0) AS DOUBLE) / n_members, 4) AS dup_rate
    FROM m LEFT JOIN d USING (cid)
    ORDER BY 1
    """,
)
def semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means-bucketed semantic dedup (cosine ≥ 0.4 to a lower-id
    row in the same cluster ⇒ duplicate). The oracle unrolls the same two
    deterministic Lloyd iterations as `kmeans_embeddings`, then applies the
    within-cluster pair rule declaratively."""
    return similarity.semdedup_stats(load_table(spark, "embeddings", sf_dir))


@register(
    "knn_graph",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    scored AS (
        SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
               list_cosine_similarity(a.emb, b.emb) AS cos
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT vec_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY ROUND(cos * 10000, 0) DESC, neighbor_id) AS rnk
        FROM scored
    )
    SELECT vec_id, neighbor_id, ROUND(cos, 4) AS cosine, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 5
    ORDER BY vec_id, rnk
    """,
)
def knn_graph_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbor graph over all embeddings, block-tiled
    (each block pair one GEMM, partial top-k per tile, window reduce)."""
    return similarity.knn_graph(load_table(spark, "embeddings", sf_dir), k=5)


@register(
    "user_series_knn",
    oracle="""
    WITH cents AS (
        SELECT user_id, CAST(day(ts) AS INT) AS d,
               SUM(CAST(round(value * 100, 0) AS BIGINT)) AS s
        FROM events GROUP BY 1, 2
    ),
    days AS (SELECT unnest(range(1, 32)) AS d),
    grid AS (
        SELECT u.user_id, days.d, COALESCE(c.s, 0) AS s
        FROM (SELECT DISTINCT user_id FROM cents) u
        CROSS JOIN days
        LEFT JOIN cents c ON c.user_id = u.user_id AND c.d = days.d
    ),
    vec AS (SELECT user_id, list(CAST(s AS DOUBLE) ORDER BY d) AS v
            FROM grid GROUP BY user_id),
    scored AS (
        SELECT a.user_id, b.user_id AS neighbor_user_id,
               list_cosine_similarity(a.v, b.v) AS cos
        FROM vec a JOIN vec b ON a.user_id <> b.user_id
    ),
    ranked AS (
        SELECT user_id, neighbor_user_id, cos,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ROUND(cos * 10000, 0) DESC, neighbor_user_id) AS rnk
        FROM scored
    )
    SELECT user_id, neighbor_user_id, ROUND(cos, 4) AS cosine, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY user_id, rnk
    """,
)
def user_series_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search (the distributed-top-k-similarity
    problem of e.g. EDBT'19's streaming-series search, batch form): each
    user's daily-spend series becomes a dense vector, then the exact
    block-tiled kNN machinery finds the 3 most-cosine-similar users — the
    behavioral-cohort / anomaly-peer query.

    Portability: per-day sums accumulate on the exact cents grid (int64),
    so both engines build bit-identical vectors before any float math; the
    day index is day-of-month (31 slots, so month-boundary spillover like
    the sf1.0 replica's Jan-31 jitter is kept, not silently dropped), no
    anchor job needed. Ranking rides the knn family's 4dp-grid + id
    tie-break total order. Scale shape: the series build is one fact-sized
    map-side-combined aggregate to |users|×31 cells, pinned with
    localCheckpoint so knn_graph's block-count probe reads the small
    materialized vector table instead of re-running the fact aggregate —
    at 100 TB the fact scan runs once and the kNN cost depends only on
    |users|."""
    events = load_table(spark, "events", sf_dir)
    cents = F.rint(F.col("value") * 100).cast("long")
    daily = (
        events.groupBy("user_id", F.dayofmonth("ts").alias("d"))
        .agg(F.sum(cents).alias("s"))
    )
    vec = (
        daily.groupBy("user_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("d", "s"))).alias("m"))
        .select(
            "user_id",
            F.transform(
                F.sequence(F.lit(1), F.lit(31)),
                lambda d: F.coalesce(F.element_at(F.col("m"), d), F.lit(0)).cast("double"),
            ).alias("series"),
        )
        .transform(current_scope().checkpoint)
    )
    return (
        similarity.knn_graph(vec, k=3, id_col="user_id", vec_col="series")
        .withColumnRenamed("vec_id", "user_id")
        .withColumnRenamed("neighbor_id", "neighbor_user_id")
    )


@register(
    "embedding_norm_stats",
    oracle="""
    WITH n AS (
        SELECT label,
               sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                            x -> x * x))) AS nrm
        FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(nrm), 4) AS avg_norm,
           ROUND(MIN(nrm), 4) AS min_norm,
           ROUND(MAX(nrm), 4) AS max_norm
    FROM n GROUP BY 1 ORDER BY 1
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm audit of the embedding column — fused JVM
    zip_with/aggregate norm, one hash-agg to |labels| rows."""
    return similarity.norm_stats_by_label(load_table(spark, "embeddings", sf_dir))


@register(
    "ann_quantized_topk",
    oracle="""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    s AS (
        SELECT vec_id, emb,
               nullif(list_max(list_transform(emb, x -> abs(x))) / 127.0, 0.0)
                   AS scale
        FROM v
    ),
    q AS (
        SELECT vec_id, coalesce(scale, 0.0) AS scale,
               list_transform(emb,
                   x -> CAST(coalesce(floor(x / scale + 0.5), 0) AS BIGINT))
                   AS qv
        FROM s
    ),
    p AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               list_dot_product(a.qv, b.qv) * a.scale * b.scale AS qdot
        FROM q a JOIN q b ON a.vec_id < 10 AND b.vec_id <> a.vec_id
    ),
    r AS (
        SELECT query_id, neighbor_id, qdot,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY qdot DESC, neighbor_id) AS rnk
        FROM p
    )
    SELECT query_id, neighbor_id, ROUND(qdot, 4) AS qdot, CAST(rnk AS INT) AS rnk
    FROM r WHERE rnk <= 10 ORDER BY query_id, rnk
    """,
)
def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized inner-product top-10: integer-exact scoring, salted
    two-phase ranking — the 4×-bandwidth ANN scale path, bit-identical
    across engines."""
    return similarity.quantized_topk(load_table(spark, "embeddings", sf_dir))


@register(
    "embedding_pca_variance",
    oracle="""
    WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    d AS (SELECT unnest(range(1, 65)) AS j),
    v AS (SELECT j, VAR_SAMP(emb[j]) AS vj FROM e, d GROUP BY j),
    t AS (SELECT SUM(vj) AS tr FROM v),
    m AS (SELECT
            CAST(ROUND(tr / POWER(10, FLOOR(LOG10(tr)) - 3), 0) AS BIGINT)
                AS sig4,
            CAST(FLOOR(LOG10(tr)) AS INT) AS ex
          FROM t)
    -- Mantissa-overflow fold (r8 ADVICE): mirror the engine's
    -- if sig4 == 10000: sig4=1000, exp+=1 normalization so a trace that
    -- straddles a power of 10 cross-engine still hash-matches.
    SELECT CAST(10 AS INT) AS n_components,
           CASE WHEN sig4 = 10000 THEN 1000 ELSE sig4 END AS trace_sig4,
           CAST(CASE WHEN sig4 = 10000 THEN ex + 1 ELSE ex END AS INT)
               AS trace_exp,
           TRUE AS eigenpairs_certified,
           TRUE AS shares_descending,
           TRUE AS shares_sum_to_one
    FROM m
    """,
)
def embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA spectrum certificate, HASH-GATED (round-7 close of the last
    no_oracle row): the one-pass Gram-partial covariance runs as before,
    the driver-side eigendecomposition is certified in-query (residual /
    orthonormality / ordering / trace identities), and the hashed output
    is the covariance trace as a 4-significant-digit mantissa + exponent
    (r7 ADVICE: coarse relative units so cross-engine summation-order
    disagreement can't straddle a rounding boundary) — recomputed by the
    oracle as Σ per-dimension VAR_SAMP — plus the certificate booleans.
    The numeric top-10 spectrum report remains available via
    operators/similarity.py:pca_variance_spectrum, which pytest pins to a
    single-machine numpy reference (tests/test_semantics.py)."""
    return similarity.pca_spectrum_certificate(
        load_table(spark, "embeddings", sf_dir)
    )


def _pagerank_oracle_sql(iterations: int = 10) -> str:
    """Unrolled power-iteration SQL twin over the kNN-5 edge list."""
    parts = ["""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    scored AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               list_cosine_similarity(a.emb, b.emb) AS cos
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
    ),
    g AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src ORDER BY ROUND(cos * 10000, 0) DESC, dst) AS rnk
            FROM scored) WHERE rnk <= 5
    ),
    nodes AS (SELECT vec_id FROM embeddings),
    nc AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS deg FROM g GROUP BY 1),
    r0 AS (SELECT vec_id, 1.0 / nc.n AS rank FROM nodes, nc)"""]
    for i in range(1, iterations + 1):
        parts.append(f""",
    c{i} AS (
        SELECT g.dst AS vec_id, SUM(r.rank / d.deg) AS inflow
        FROM g JOIN r{i-1} r ON g.src = r.vec_id JOIN deg d ON d.src = g.src
        GROUP BY 1
    ),
    r{i} AS (
        SELECT n.vec_id, 0.15 / nc.n + 0.85 * coalesce(c{i}.inflow, 0) AS rank
        FROM nodes n CROSS JOIN nc LEFT JOIN c{i} USING (vec_id)
    )""")
    parts.append(f"""
    SELECT vec_id, ROUND(rank, 6) AS rank FROM r{iterations} ORDER BY vec_id
    """)
    return "".join(parts)


@register("pagerank_knn_graph", oracle=_pagerank_oracle_sql(10))
def pagerank_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-graph centrality: 10 power iterations of PageRank over
    the exact kNN-5 cosine graph — the representative-sample /
    duplication-hub ranking; every iteration one edge-keyed join + agg."""
    from kafkasparkstream_spark.operators.graph import pagerank

    emb = load_table(spark, "embeddings", sf_dir)
    edges = similarity.knn_graph(emb, k=5).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    return pagerank(edges, emb.select("vec_id"), iterations=10)


@register(
    "cross_modal_search",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id, list_cosine_similarity(q.emb, c.emb) AS cos
        FROM q JOIN c ON neighbor_id <> query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored
    )
    SELECT r.query_id, r.neighbor_id, ROUND(r.cos, 4) AS cosine,
           CAST(r.rnk AS INT) AS rnk, d.lang, d.source,
           CAST(d.n_chars AS BIGINT) AS n_chars
    FROM ranked r JOIN documents d ON d.doc_id = r.neighbor_id
    WHERE r.rnk <= 5
    ORDER BY r.query_id, r.rnk
    """,
)
def cross_modal_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal retrieval: embedding-space kNN → document metadata in one
    plan. The ANN result (25 rows) is the BROADCAST side of the enrichment
    join — the corpus-sized documents table never shuffles; at 100 TB the
    retrieval fan-out stays k·queries rows against a pruned doc scan."""
    emb = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    topk = similarity.brute_force_topk(emb, num_queries=5, k=5)
    return (
        docs.join(F.broadcast(topk), docs.doc_id == topk.neighbor_id)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.col("rnk").cast("int").alias("rnk"),
            "lang",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
        )
        .orderBy("query_id", "rnk")
    )


@register(
    "knn_triangle_stats",
    oracle="""
    WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    scored AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               list_cosine_similarity(a.emb, b.emb) AS cos
        FROM e0 a JOIN e0 b ON a.vec_id <> b.vec_id
    ),
    g AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src ORDER BY ROUND(cos * 10000, 0) DESC, dst) AS rnk
            FROM scored) WHERE rnk <= 5
    ),
    e AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v FROM g),
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM e ab
        JOIN e bc ON ab.v = bc.u
        JOIN e ac ON ac.u = ab.u AND ac.v = bc.v
    ),
    deg AS (
        SELECT n, COUNT(*) AS d FROM (
            SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e
        ) GROUP BY n
    ),
    st AS (SELECT COUNT(*) AS n_nodes,
                  CAST(SUM(d * (d - 1)) / 2 AS BIGINT) AS n_wedges FROM deg),
    ec AS (SELECT COUNT(*) AS n_edges FROM e)
    SELECT CAST(st.n_nodes AS BIGINT) AS n_nodes,
           CAST(ec.n_edges AS BIGINT) AS n_edges,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles,
           st.n_wedges,
           ROUND(3.0 * tri.n_triangles / st.n_wedges, 4) AS clustering_coeff
    FROM tri, st, ec
    """,
)
def knn_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifold-quality signal: triangle census + global clustering
    coefficient of the exact kNN-5 cosine graph (operators/graph.py:
    triangle_stats — ordered two-join enumeration, degree-sum wedges)."""
    from kafkasparkstream_spark.operators.graph import triangle_stats

    emb = load_table(spark, "embeddings", sf_dir)
    edges = similarity.knn_graph(emb, k=5).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    out = triangle_stats(edges)
    return out.select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
        F.col("n_wedges").cast("long").alias("n_wedges"),
        "clustering_coeff",
    )


def _label_centroids(emb: DataFrame) -> DataFrame:
    """(label, c) mean-embedding table: one posexplode → (label, dim) mean
    (the only fact-sized shuffle, map-side combined), re-assembled into an
    ordered array per label — labels × dims rows, broadcastable."""
    e = emb.select("label", F.col("embedding").cast("array<double>").alias("emb"))
    pos = (
        e.select("label", F.posexplode("emb").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg("x").alias("m"))
    )
    return (
        pos.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("_im"))
        .select("label", F.expr("transform(_im, s -> s.m)").alias("c"))
    )


@register(
    "label_separability",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    pos AS (
        SELECT label, i, AVG(emb[i]) AS m
        FROM e, (SELECT unnest(range(1, 1 + len(emb))) AS i
                 FROM (SELECT emb FROM e LIMIT 1)) idx
        GROUP BY 1, 2
    ),
    cent AS (SELECT label, list(m ORDER BY i) AS c FROM pos GROUP BY label),
    sc AS (
        SELECT e.label,
               list_cosine_similarity(e.emb, cent.c) AS cos
        FROM e JOIN cent USING (label)
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(cos), 4) AS avg_cos_to_centroid,
           ROUND(MIN(cos), 4) AS min_cos_to_centroid
    FROM sc GROUP BY label ORDER BY label
    """,
)
def label_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality diagnostic per class label: each label's mean
    vector (centroid) and how tightly members cohere to it (avg/min cosine).
    Loose clusters flag label noise or an under-trained encoder before any
    model consumes the embeddings.

    Shape: one posexplode → (label, dim) mean (the only fact-sized
    shuffle, map-side combined), centroids re-assembled label-side
    (labels × dims rows — broadcastable), then a broadcast join back and a
    zip_with/aggregate dot product per row — no Python, no driver math.
    """
    from kafkasparkstream_spark.operators.similarity import dot, norm

    emb = load_table(spark, "embeddings", sf_dir)
    e = emb.select("vec_id", "label", F.col("embedding").cast("array<double>").alias("emb"))
    # centroid norm precomputed once per label, not per corpus row
    cent = _label_centroids(emb).withColumn("c_norm", norm(F.col("c")))
    sc = e.join(F.broadcast(cent), "label").withColumn(
        "cos", dot(F.col("emb"), F.col("c")) / (norm(F.col("emb")) * F.col("c_norm"))
    )
    return (
        sc.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("cos"), 4).alias("avg_cos_to_centroid"),
            F.round(F.min("cos"), 4).alias("min_cos_to_centroid"),
        )
        .orderBy("label")
    )


@register(
    "label_confusion_cosine",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    pos AS (
        SELECT label, i, AVG(emb[i]) AS m
        FROM e, (SELECT unnest(range(1, 1 + len(emb))) AS i
                 FROM (SELECT emb FROM e LIMIT 1)) idx
        GROUP BY 1, 2
    ),
    cent AS (SELECT label, list(m ORDER BY i) AS c FROM pos GROUP BY label)
    SELECT a.label AS label_a, b.label AS label_b,
           ROUND(list_cosine_similarity(a.c, b.c), 4) AS centroid_cos
    FROM cent a JOIN cent b ON a.label < b.label
    ORDER BY label_a, label_b
    """,
)
def label_confusion_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-collision matrix: pairwise cosine between label centroids —
    labels whose centroids nearly coincide are indistinguishable to any
    downstream model (label noise, or classes that should merge). Pairs are
    labels² rows over broadcast-sized centroids; the corpus is scanned once
    for the (label, dim) means."""
    from kafkasparkstream_spark.operators.similarity import cosine

    emb = load_table(spark, "embeddings", sf_dir)
    cent = _label_centroids(emb)
    a = cent.select(F.col("label").alias("label_a"), F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), F.col("c").alias("cb"))
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(cosine(F.col("ca"), F.col("cb")), 4).alias("centroid_cos"),
        )
        .orderBy("label_a", "label_b")
    )


@register(
    "embedding_dim_variance",
    oracle="""
    WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    x AS (
        SELECT u.i - 1 AS dim, e.emb[u.i] AS v
        FROM e, (SELECT unnest(range(1, 1 + len(emb))) AS i
                 FROM (SELECT emb FROM e LIMIT 1)) u
    ),
    d AS (
        SELECT dim, AVG(v) AS mean_v, var_pop(v) AS var_v
        FROM x GROUP BY dim
    )
    SELECT CAST(dim AS INT) AS dim,
           ROUND(mean_v, 6) AS mean_v,
           ROUND(var_v, 6) AS variance,
           ROUND(var_v / SUM(var_v) OVER (), 6) AS var_share
    FROM d ORDER BY dim
    """,
)
def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance audit of the embedding column — the
    dead-dimension detector (a coordinate with ~zero variance carries no
    signal; a dominant variance share flags a rogue feature or a collapsed
    encoder). One posexplode → (dim) hash aggregate, map-side combined to
    |dims| rows; the variance-share denominator is a window over that tiny
    output. 100 TB shape: the explode multiplies rows by dim count but every
    downstream structure is |dims|-sized — no driver math, no collect."""
    from pyspark.sql.window import Window

    emb = load_table(spark, "embeddings", sf_dir)
    d = (
        emb.select(F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v"))
        .groupBy("dim")
        .agg(F.avg("v").alias("mean_v"), F.var_pop("v").alias("var_v"))
    )
    w = Window.partitionBy()
    return (
        d.select(
            F.col("dim").cast("int").alias("dim"),
            F.round("mean_v", 6).alias("mean_v"),
            F.round("var_v", 6).alias("variance"),
            F.round(F.col("var_v") / F.sum("var_v").over(w), 6).alias("var_share"),
        )
        .orderBy("dim")
    )


@register(
    "embedding_anisotropy",
    oracle="""
    WITH e AS (
        SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    n AS (
        SELECT label, emb,
               sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm
        FROM e
    ),
    u AS (SELECT label, list_transform(emb, x -> x / nrm) AS uv, nrm FROM n),
    x AS (
        SELECT u.label, i.i, u.uv[i.i] AS v
        FROM u, (SELECT unnest(range(1, 1 + len(emb))) AS i
                 FROM (SELECT emb FROM e LIMIT 1)) i
    ),
    m AS (SELECT label, i, AVG(v) AS mv FROM x GROUP BY label, i),
    a AS (SELECT label, SUM(mv * mv) AS aniso FROM m GROUP BY label),
    s AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               AVG(nrm) AS avg_norm
        FROM n GROUP BY label
    )
    SELECT s.label, s.n_vecs,
           ROUND(s.avg_norm, 4) AS avg_norm,
           ROUND(a.aniso, 6) AS anisotropy
    FROM s JOIN a USING (label)
    ORDER BY label
    """,
)
def embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label anisotropy of the embedding space: the squared norm of the
    mean *unit* vector — 0 for directionally uniform embeddings, →1 when
    every vector points the same way (the "narrow cone" pathology of
    contrastive/LM encoders, Ethayarajh 2019). Equals the expected pairwise
    cosine between members, without materializing any pair.

    100 TB shape: row-local normalization (JVM transform/aggregate — no
    Python), one posexplode → (label, dim) mean (the only fact-sized
    shuffle, map-side combined), then |labels|×|dims| → |labels| sums and a
    broadcast-sized equi-join with the per-label norm stats. Contrast with
    the naive avg-pairwise-cosine, which is quadratic in corpus size.
    """
    emb = load_table(spark, "embeddings", sf_dir)
    e = emb.select("label", F.col("embedding").cast("array<double>").alias("emb"))
    n = e.withColumn(
        "nrm",
        F.sqrt(F.aggregate("emb", F.lit(0.0), lambda a, x: a + x * x)),
    )
    # ONE fact pass: the exploded rows carry nrm, so the (label, dim)
    # aggregate yields the unit-component means AND (replicated per dim,
    # divided back out by max) the per-label norm sums and counts — no
    # second scan of the embedding table.
    m = (
        n.select("label", "nrm", F.posexplode(F.expr("transform(emb, x -> x / nrm)")).alias("i", "v"))
        .groupBy("label", "i")
        .agg(
            F.avg("v").alias("mv"),
            F.sum("nrm").alias("sn"),
            F.count(F.lit(1)).alias("nv"),
        )
    )
    return (
        m.groupBy("label")
        .agg(
            F.max("nv").cast("long").alias("n_vecs"),
            F.round(F.max("sn") / F.max("nv"), 4).alias("avg_norm"),
            F.round(F.sum(F.col("mv") * F.col("mv")), 6).alias("anisotropy"),
        )
        .orderBy("label")
    )


@register(
    "knn_jaccard_links",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    scored AS (
        SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
               list_cosine_similarity(a.emb, b.emb) AS cos
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT vec_id, neighbor_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY ROUND(cos * 10000, 0) DESC, neighbor_id) AS rnk
        FROM scored
    ),
    knn AS (SELECT vec_id, neighbor_id FROM ranked WHERE rnk <= 5),
    deg AS (SELECT vec_id, COUNT(*) AS d FROM knn GROUP BY vec_id),
    inter AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, COUNT(*) AS n_common
        FROM knn a JOIN knn b
          ON a.neighbor_id = b.neighbor_id AND a.vec_id < b.vec_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(n_common AS BIGINT) AS n_common,
           ROUND(n_common * 1.0 / (da.d + db.d - n_common), 6) AS jaccard
    FROM inter
    JOIN deg da ON da.vec_id = inter.id_a
    JOIN deg db ON db.vec_id = inter.id_b
    WHERE n_common >= 2
    ORDER BY jaccard DESC, id_a, id_b
    LIMIT 20
    """,
)
def knn_jaccard_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the k-NN graph: neighborhood Jaccard similarity
    for vector pairs sharing ≥2 of their top-5 neighbors — the classic
    common-neighbors score, here used as a near-duplicate/cluster-seed
    signal on embeddings ("two points whose neighbor sets agree are
    interchangeable"). The wedge self-join on neighbor_id is the same
    bounded fan-out shape as knn_triangle_stats: each node has exactly k
    out-edges, so a shared neighbor fans out to ≤k² wedges — linear in
    nodes, never all-pairs. Degrees ride a tiny broadcast join; the final
    top-20 is a TakeOrdered."""
    # Barrier the kNN edge list: it feeds the degree aggregate AND both
    # sides of the wedge self-join, and without lineage truncation each
    # consumer re-runs the GEMM tile kernel (measured 4x cold at sf0.1).
    # The materialized set is n·k rows — linear in corpus size.
    edges = (
        similarity.knn_graph(load_table(spark, "embeddings", sf_dir), k=5)
        .select("vec_id", "neighbor_id")
        # eager=False: see triangle_stats — barrier without executing the
        # kernel at DataFrame-construction time.
        .transform(current_scope().checkpoint, eager=False)
    )
    deg = edges.groupBy("vec_id").agg(F.count(F.lit(1)).alias("d"))
    a, b = edges.alias("a"), edges.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.neighbor_id") == F.col("b.neighbor_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= 2)
    )
    da = deg.select(F.col("vec_id").alias("id_a"), F.col("d").alias("da"))
    db = deg.select(F.col("vec_id").alias("id_b"), F.col("d").alias("db"))
    return (
        inter.join(F.broadcast(da), "id_a")
        .join(F.broadcast(db), "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(
                F.col("n_common") / (F.col("da") + F.col("db") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "id_a", "id_b")
        .limit(20)
    )


@register(
    "hard_negatives_topk",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    scored AS (
        SELECT a.vec_id, a.label AS label_a, b.vec_id AS neighbor_id,
               b.label AS label_b,
               list_cosine_similarity(a.emb, b.emb) AS cos,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY ROUND(list_cosine_similarity(a.emb, b.emb)
                                                 * 10000, 0) DESC, b.vec_id) AS knn_rnk
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY ROUND(cos, 4) DESC, neighbor_id)
                      AS rnk
        FROM scored WHERE knn_rnk <= 25 AND label_a <> label_b
    )
    SELECT vec_id, neighbor_id AS negative_id,
           label_a AS anchor_label, label_b AS negative_label,
           ROUND(cos, 4) AS cosine
    FROM ranked WHERE rnk <= 2
    ORDER BY vec_id, rnk
    """,
)
def hard_negatives_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: each vector's top-2
    most-similar embeddings carrying a DIFFERENT label — the pairs that
    teach a metric model the most (easy negatives are already far away).
    Same block-tiled GEMM top-k as the kNN graph, with the cross-label
    filter applied BEFORE the per-anchor rank so a same-label near-dup
    can't crowd a true hard negative out of the k slots. Labels ride the
    broadcastable (id, label) projection; nothing new is quadratic.

    The 25-neighbor oversample bounds the work; it is exact as long as no
    anchor's top 25 neighbors are ALL same-label (true here — verified
    against the unbounded oracle; re-size the oversample for corpora with
    tighter label clustering)."""
    emb = load_table(spark, "embeddings", sf_dir)
    labels = emb.select("vec_id", "label")
    # oversample neighbors (k=25) so the cross-label filter still leaves ≥2
    # per anchor, then re-rank among negatives only
    from pyspark.sql.window import Window

    edges = similarity.knn_graph(emb, k=25)
    la = labels.select(F.col("vec_id"), F.col("label").alias("anchor_label"))
    lb = labels.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("negative_label")
    )
    neg = (
        edges.join(F.broadcast(la), "vec_id")
        .join(F.broadcast(lb), "neighbor_id")
        .filter(F.col("anchor_label") != F.col("negative_label"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        neg.withColumn("rnk2", F.row_number().over(w))
        .filter(F.col("rnk2") <= 2)
        .select(
            "vec_id",
            F.col("neighbor_id").alias("negative_id"),
            "anchor_label",
            "negative_label",
            "cosine",
        )
        .orderBy("vec_id", "rnk2")
    )


@register(
    "pq_codebook_distortion",
    oracle="""
    WITH c AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
                      embedding AS cemb
               FROM (SELECT vec_id, embedding FROM embeddings
                     ORDER BY vec_id LIMIT 16)),
    p AS (SELECT e.vec_id, CAST(ss.s AS INT) AS subspace, c.cid,
                 list_sum(list_transform(range(1, 17),
                   i -> (CAST(e.embedding[CAST(ss.s * 16 + i AS INT)] AS DOUBLE)
                         - CAST(c.cemb[CAST(ss.s * 16 + i AS INT)] AS DOUBLE)) ^ 2))
                 AS d2
          FROM embeddings e CROSS JOIN range(0, 4) ss(s) CROSS JOIN c),
    a AS (SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
                                       ORDER BY ROUND(d2, 6), cid) AS rn
          FROM p)
    SELECT subspace, cid AS centroid, COUNT(*) AS n_assigned,
           CAST(SUM(CAST(ROUND(ROUND(d2, 6) * 1000000, 0) AS BIGINT)) AS BIGINT)
               AS distortion_micro
    FROM a WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def pq_codebook_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook seeding report: 4 subspaces x 16
    codewords (the 16 lowest-vec_id vectors), per-codeword assignment
    counts and integer-exact squared-error distortion
    (operators/similarity.py:pq_distortion)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.pq_distortion(emb, n_subspaces=4, n_centroids=16, dim=64)


@register(
    "ann_lsh_multiprobe_topk",
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               (CASE WHEN embedding[1] > 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[2] > 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[3] > 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[4] > 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings
    ),
    q0 AS (SELECT vec_id AS query_id, emb AS q_emb, bucket FROM e
           WHERE vec_id < 10),
    q AS (SELECT query_id, q_emb,
                 unnest([bucket,
                         (CASE WHEN bucket[1] = '1' THEN '0' ELSE '1' END) || bucket[2:4],
                         bucket[1] || (CASE WHEN bucket[2] = '1' THEN '0' ELSE '1' END) || bucket[3:4],
                         bucket[1:2] || (CASE WHEN bucket[3] = '1' THEN '0' ELSE '1' END) || bucket[4],
                         bucket[1:3] || (CASE WHEN bucket[4] = '1' THEN '0' ELSE '1' END)])
                     AS bucket
          FROM q0),
    scored AS (
        SELECT query_id, e.vec_id AS neighbor_id,
               list_cosine_similarity(q_emb, e.emb) AS cos
        FROM q JOIN e ON q.bucket = e.bucket AND e.vec_id <> query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 10
    ORDER BY query_id, rnk
    """,
)
def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH top-10: own bucket + every Hamming-1 bucket —
    the Lv et al. 2007 recall/candidate trade on the same index
    (operators/similarity.py:lsh_multiprobe_topk)."""
    df = similarity.lsh_multiprobe_topk(load_table(spark, "embeddings", sf_dir))
    return df.withColumn("rnk", F.col("rnk").cast("int"))


def _ann_recall_oracle_sql() -> str:
    """Recall oracle composed from the existing ANN oracles: the
    exact-cosine top-10 is ground truth; each approximate method's top-10
    is intersected with it per query."""
    ex = ORACLE_SQL["ann_cosine_topk"]
    methods = {
        "ivf": ORACLE_SQL["ann_ivf_topk"],
        "lsh": ORACLE_SQL["ann_lsh_topk"],
        "lsh_multiprobe": ORACLE_SQL["ann_lsh_multiprobe_topk"],
        "quantized": ORACLE_SQL["ann_quantized_topk"],
    }
    # ivfpq (+rerank) register later in the module; the final recomposition
    # at the bottom of the file folds them in once their oracles exist.
    if "ann_ivfpq_topk" in ORACLE_SQL:
        methods["ivfpq"] = ORACLE_SQL["ann_ivfpq_topk"]
    if "ann_ivfpq_rerank_topk" in ORACLE_SQL:
        methods["ivfpq_rerank"] = ORACLE_SQL["ann_ivfpq_rerank_topk"]
    arms = []
    for name, sql in sorted(methods.items()):
        arms.append(f"""
    SELECT '{name}' AS method,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM (SELECT query_id, neighbor_id FROM ({ex}) x) e
            JOIN (SELECT query_id, neighbor_id FROM ({sql}) y) a
            USING (query_id, neighbor_id)) AS n_matched,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ({ex}) z) AS n_possible""")
    body = "\n    UNION ALL\n".join(arms)
    return f"""
    SELECT method, n_matched, n_possible,
           ROUND(n_matched * 1.0 / n_possible, 4) AS recall
    FROM ({body}) t
    ORDER BY method
    """


@register("ann_recall_report", oracle=_ann_recall_oracle_sql())
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@10 of every approximate ANN path against the exact
    cosine top-10 — the index-quality report an ANN deployment ships with.
    The oracle is COMPOSED from the four existing ANN oracles (exact as
    ground truth), so the recall arithmetic itself is gate-checked, not
    just asserted in tests. All four method results are k x queries rows;
    the intersections are tiny joins."""
    from kafkasparkstream_spark.util import fanout

    scope = current_scope()
    emb = load_table(spark, "embeddings", sf_dir)
    # ONE scan + ONE round-robin fanout shared by every arm (r9): the table
    # has 7 consumers (exact ground truth + 6 approximate indexes), and each
    # previously re-scanned the parquet and paid its own fanout exchange.
    # The lazy localCheckpoint materializes on the first arm's job; every
    # later arm reads the cached blocks. At 100 TB this is the §5 cache
    # trade done right: 7 consumers, recompute = a full table scan each.
    # The table-sized blocks live until the query scope exits.
    base = scope.checkpoint(fanout(emb.select("vec_id", "embedding")), eager=False)
    # Barrier: `exact` has |methods|+1 consumers (one intersection join per
    # method + the possible-count) and each would re-execute the GEMM
    # kernel (recompute audit flagged 6 evaluations).
    exact = scope.checkpoint(
        similarity.brute_force_topk(base).select("query_id", "neighbor_id"),
        eager=False,
    )
    # One PQ kernel run for both ivfpq arms: the 50-deep shortlist's first
    # 10 ranks ARE ivfpq_topk(k=10) (same ADC window order), and the rerank
    # arm re-scores the same shortlist — barriered so the kernel executes
    # once (recompute_audit r8: was 2x).
    short50 = scope.checkpoint(similarity.ivfpq_topk(base, k=50), eager=False)
    methods = {
        "ivf": similarity.ivf_topk(base),
        "ivfpq": short50.filter(F.col("rnk") <= 10),
        "ivfpq_rerank": similarity.ivfpq_rerank_topk(base, shortlist_df=short50),
        "lsh": similarity.lsh_bucketed_topk(base),
        "lsh_multiprobe": similarity.lsh_multiprobe_topk(base),
        "quantized": similarity.quantized_topk(base),
    }
    possible = exact.agg(F.count(F.lit(1)).alias("n_possible"))
    parts = []
    for name in sorted(methods):
        appx = methods[name].select("query_id", "neighbor_id")
        matched = exact.join(appx, ["query_id", "neighbor_id"]).agg(
            F.count(F.lit(1)).alias("n_matched")
        )
        parts.append(
            matched.crossJoin(possible).select(
                F.lit(name).alias("method"), "n_matched", "n_possible"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "method",
        "n_matched",
        "n_possible",
        F.round(F.col("n_matched") / F.col("n_possible"), 4).alias("recall"),
    ).orderBy("method")


@register(
    "embedding_decontamination",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    ev AS (SELECT emb AS ev_emb FROM e WHERE vec_id < 10),
    mx AS (SELECT e.vec_id, e.label,
                  ROUND(MAX(list_cosine_similarity(e.emb, ev.ev_emb)), 4)
                      AS max_cos
           FROM e CROSS JOIN ev
           WHERE e.vec_id >= 10
           GROUP BY e.vec_id, e.label)
    SELECT label, COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN max_cos >= 0.95 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cos95,
           CAST(SUM(CASE WHEN max_cos >= 0.99 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cos99,
           MAX(max_cos) AS max_cosine
    FROM mx GROUP BY label ORDER BY label
    """,
)
def embedding_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval-leakage screen: per-label counts of corpus
    vectors whose max cosine to the 10-vector eval set crosses the
    0.95/0.99 near-dup bars
    (operators/similarity.py:embedding_decontamination)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.embedding_decontamination(emb)


def _ivfpq_oracle_sql(k: int) -> str:
    """IVF-PQ ADC oracle, parameterized on the result depth so the
    rerank query can reuse it as a shortlist CTE."""
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    c AS (SELECT CAST(vec_id AS INT) AS cid, emb AS cemb FROM e WHERE vec_id < 16),
    coarse AS (
        SELECT vec_id, cid AS coarse FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND(list_cosine_similarity(e.emb, c.cemb), 6)
                                DESC, c.cid) AS rn
            FROM e CROSS JOIN c) t
        WHERE rn = 1),
    pc AS (
        SELECT e.vec_id, CAST(ss.s AS INT) AS s, c.cid AS code,
               ROUND(list_sum(list_transform(range(1, 17),
                 i -> (e.emb[CAST(ss.s * 16 + i AS INT)]
                       - c.cemb[CAST(ss.s * 16 + i AS INT)]) ^ 2)), 6) AS d2
        FROM e CROSS JOIN range(0, 4) ss(s) CROSS JOIN c),
    codes AS (
        SELECT vec_id, s, code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                         ORDER BY d2, code) AS rn
            FROM pc) t
        WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 10),
    pr AS (
        SELECT query_id, cid AS coarse FROM (
            SELECT q.query_id, c.cid,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY ROUND(list_cosine_similarity(q.qemb, c.cemb), 6)
                                DESC, c.cid) AS rn
            FROM q CROSS JOIN c) t
        WHERE rn <= 2),
    lut AS (
        SELECT q.query_id, CAST(ss.s AS INT) AS s, c.cid AS code,
               list_sum(list_transform(range(1, 17),
                 i -> q.qemb[CAST(ss.s * 16 + i AS INT)]
                      * c.cemb[CAST(ss.s * 16 + i AS INT)])) AS pdot
        FROM q CROSS JOIN range(0, 4) ss(s) CROSS JOIN c),
    sc AS (
        SELECT pr.query_id, coarse.vec_id AS neighbor_id, SUM(lut.pdot) AS adot
        FROM coarse
        JOIN pr USING (coarse)
        JOIN codes ON codes.vec_id = coarse.vec_id
        JOIN lut ON lut.query_id = pr.query_id
                AND lut.s = codes.s AND lut.code = codes.code
        WHERE coarse.vec_id <> pr.query_id
        GROUP BY 1, 2),
    ranked AS (
        SELECT query_id, neighbor_id, ROUND(adot, 4) AS approx_dot,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY ROUND(adot, 4) DESC, neighbor_id) AS rnk
        FROM sc)
    SELECT query_id, neighbor_id, approx_dot, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {k}
    ORDER BY query_id, rnk
    """


@register("ann_ivfpq_topk", oracle=_ivfpq_oracle_sql(10))
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-10 with asymmetric distance computation:
    coarse routing + 4-byte PQ codes + per-query LUT scoring — candidates
    are ranked without ever rereading their raw vectors
    (operators/similarity.py:ivfpq_topk)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.ivfpq_topk(emb)


def _ivfpq_rerank_oracle_sql(depth: "int | str" = 50) -> str:
    """Shortlist (ivfpq at ``depth`` — an int literal or a scalar-subquery
    SQL expression) + exact-cosine re-rank."""
    return f"""
    WITH short AS (SELECT query_id, neighbor_id FROM ({_ivfpq_oracle_sql(depth)}) t),
    e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    rr AS (SELECT s.query_id, s.neighbor_id,
                  list_cosine_similarity(qe.emb, ne.emb) AS cos
           FROM short s
           JOIN e2 qe ON qe.vec_id = s.query_id
           JOIN e2 ne ON ne.vec_id = s.neighbor_id),
    rranked AS (SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, neighbor_id) AS rnk
                FROM rr)
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rnk
    FROM rranked WHERE rnk <= 10
    ORDER BY query_id, rnk
    """


@register("ann_ivfpq_rerank_topk", oracle=_ivfpq_rerank_oracle_sql(50))
def ann_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ shortlist-50 + exact cosine re-rank — the production ANN
    topology that breaks the ADC quantization ceiling
    (operators/similarity.py:ivfpq_rerank_topk). Explicit depth-50 pin
    (the operator DEFAULT is corpus-adaptive since r9 — a fixed depth is
    a measured recall cliff across scale decades; the adaptive mode is
    gated separately by `ann_ivfpq_rerank_adaptive`)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.ivfpq_rerank_topk(emb, shortlist=50)


#: The adaptive-depth rule as a DuckDB scalar subquery — MIRRORS
#: operators/similarity.py:adaptive_shortlist_depth (floor 50, denom 20)
#: so the oracle computes the depth from the same corpus count the engine
#: counts. CEIL over a float divide equals Python's -(-n//20) for any
#: corpus size representable in a double (n < 2^53).
_ADAPTIVE_DEPTH_SQL = (
    "(SELECT GREATEST(50, CAST(CEIL(COUNT(*) / 20.0) AS BIGINT)) FROM embeddings)"
)


@register(
    "ann_ivfpq_rerank_adaptive",
    oracle=_ivfpq_rerank_oracle_sql(_ADAPTIVE_DEPTH_SQL),
)
def ann_ivfpq_rerank_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE rerank operating point, oracle-gated at its own
    semantics (r8 verdict #2): shortlist depth = max(50, ceil(n/20)) —
    the measured knee of the depth-recall curve across three scale
    decades (recall@10 = 0.84 / 0.96 / 1.0 at sf0.1 / sf1.0 / sf10,
    where the fixed depth-100 point decays 0.84 → 0.68; ANN_RECALL.json).
    The oracle computes the SAME depth rule in SQL from COUNT(*), so
    wherever the rule engages (sf0.1+: depth 100 / 400 / 1600 ≠ 50) the
    adaptive arithmetic itself is checked cross-engine, not just the
    rerank. The exact depth-50 contract stays pinned by
    `ann_ivfpq_rerank_topk`; the operator DEFAULT is the adaptive mode —
    what a 100 TB user gets without reading the depth-recall artifact."""
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.ivfpq_rerank_topk(emb)


ORACLE_SQL["ann_recall_report"] = _ann_recall_oracle_sql()
