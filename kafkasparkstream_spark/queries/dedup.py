"""Deduplication over `documents` — exact, n-gram Jaccard,
MinHash+LSH (all-pairs and star-capped), SimHash, containment, edit
distance, incremental, and the end-to-end training pipeline."""

from __future__ import annotations

from kafkasparkstream_spark.operators import dedup  # noqa: E402
from kafkasparkstream_spark.operators import text as text_ops  # noqa: E402
from kafkasparkstream_spark.tables import load_table
from kafkasparkstream_spark.util import current_scope
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from kafkasparkstream_spark.queries._shared import (  # noqa: E402
    register,
)

_SHINGLES_CTE = """
    t AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents),
    s AS (SELECT doc_id,
                 unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
          FROM t),
    sz AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY doc_id)
"""


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content digest → (keeper id, copy count)."""
    return dedup.exact_dedup(load_table(spark, "documents", sf_dir))


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(common * 1.0 / (x.n_sh + y.n_sh - common), 4) AS jaccard
    FROM pairs
    JOIN sz x ON doc_a = x.doc_id
    JOIN sz y ON doc_b = y.doc_id
    WHERE common * 1.0 / (x.n_sh + y.n_sh - common) >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs at threshold 0.5. Explicit
    all-pairs mode (max_shingle_freq=None): this contract's pair output is
    inherently quadratic in clone count and full-run infeasible at sf10
    (slice-oracled, PAIR_SF10.json); the scale-safe star-capped DEFAULT is
    gated separately by `dedup_ngram_jaccard_capped`."""
    return dedup.ngram_jaccard_pairs(
        load_table(spark, "documents", sf_dir), threshold=0.5, max_shingle_freq=None
    )


_STARCAP_CAND_CTE = """
    fq AS (SELECT sh, COUNT(*) AS n, MIN(doc_id) AS smin FROM s GROUP BY sh),
    -- Two-arm formulation so the star cap is STRUCTURALLY bounded in the
    -- oracle engine, not dependent on filter pushdown: the single-join
    -- form (s a JOIN fq JOIN s b WHERE n <= cap OR a = smin) left DuckDB
    -- enumerating the full quadratic a x b fanout before filtering at
    -- sf10 (51+ GB spill, the exact-oracle ENOSPC pattern). Arm 1 joins
    -- only rare-shingle rows (cap in the JOIN condition); arm 2 is
    -- fq x s (linear: one hub edge per hot-shingle occurrence). UNION
    -- dedups; the candidate set is identical (verified row-equal at
    -- sf0.01 against the single-join form).
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM s a JOIN fq z ON a.sh = z.sh AND z.n <= 2
        JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
        UNION
        SELECT z.smin AS doc_a, b.doc_id AS doc_b
        FROM fq z JOIN s b ON b.sh = z.sh AND b.doc_id > z.smin
        WHERE z.n > 2
    ),
    common AS (
        SELECT doc_a, doc_b, count(*) AS common
        FROM cand
        JOIN s sa ON sa.doc_id = doc_a
        JOIN s sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
        GROUP BY 1, 2
    )
"""


@register(
    "dedup_ngram_jaccard_capped",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    {_STARCAP_CAND_CTE}
    SELECT doc_a, doc_b,
           ROUND(common * 1.0 / (x.n_sh + y.n_sh - common), 4) AS jaccard
    FROM common
    JOIN sz x ON doc_a = x.doc_id
    JOIN sz y ON doc_b = y.doc_id
    WHERE common * 1.0 / (x.n_sh + y.n_sh - common) >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE n-gram Jaccard mode, oracle-gated at its own
    semantics (r8 verdict #1, extending the capped-LSH template of
    `dedup_minhash_lsh_capped`): shingles shared by more than
    max_shingle_freq=2 documents contribute only STAR candidates around
    their min doc id, bounding both candidate fanout and pair output
    linearly in the corpus — the exact all-pairs contract is quadratic in
    clone count and measured infeasible at full sf10 (ENOSPC ~80 GB,
    SCALE_DECADES 12.3×/11.5× per data decade).

    The oracle MIRRORS the star cap in SQL (shingle docfreq + min-id star
    restriction, then exact common-count verify), so the gate checks the
    ENGINE bit-for-bit at every SF. The cap of 2 is chosen BELOW the gate
    corpus's hottest shingle (sf0.01 max docfreq = 7; 151 shingles
    exceed the cap) AND so the capped output visibly DIVERGES from
    all-pairs at the gate SF (24 vs 25 pairs at sf0.01) — a cap-ignoring
    engine hash-mismatches rather than passing vacuously. The operator
    DEFAULT is the capped mode (max_shingle_freq=50, the LSH knee); the
    exact contract stays pinned by `dedup_ngram_jaccard`
    (max_shingle_freq=None)."""
    return dedup.ngram_jaccard_pairs(
        load_table(spark, "documents", sf_dir), threshold=0.5, max_shingle_freq=2
    )


def _minhash_sig_sql(num_hashes: int = 16) -> str:
    # Mirrors dedup.minhash_signatures exactly: base = first 8 hex chars of
    # md5(shingle) as int; mh_h = (A[h]*base + B[h]) mod P.
    from kafkasparkstream_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    base = "CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT)"
    mins = ",\n               ".join(
        f"min(({MINHASH_A[h]} * {base} + {MINHASH_B[h]}) % {MINHASH_P}) AS mh{h}"
        for h in range(num_hashes)
    )
    return f"sig AS (SELECT doc_id,\n               {mins}\n        FROM s GROUP BY doc_id)"


def _band_sql(bands: int = 4, rows: int = 4) -> str:
    parts = []
    for b in range(bands):
        cols = " || '|' || ".join(f"mh{b * rows + r}" for r in range(rows))
        parts.append(f"SELECT doc_id, {b} AS band, {cols} AS bucket FROM sig")
    return "bk AS (" + "\n        UNION ALL ".join(parts) + ")"


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    {_minhash_sig_sql(16)},
    {_band_sql(4, 4)},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT doc_a, doc_b, count(*) AS common
        FROM cand
        JOIN s sa ON sa.doc_id = doc_a
        JOIN s sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(common * 1.0 / (x.n_sh + y.n_sh - common), 4) AS jaccard
    FROM common
    JOIN sz x ON doc_a = x.doc_id
    JOIN sz y ON doc_b = y.doc_id
    WHERE common * 1.0 / (x.n_sh + y.n_sh - common) >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands × 4 rows) candidates, exact-Jaccard verified.

    Explicit ``max_bucket_size=None``: this query's oracle enumerates ALL
    verified pairs, so it pins the exact pair-level contract. The operator
    DEFAULT is the hot-bucket star cap (scale-safe at 100 TB; pair-level
    recall inside an oversized bucket drops to the hub's star — see
    ``dedup_minhash_lsh_capped`` for the cluster-grain gate of that mode)."""
    return dedup.minhash_lsh_pairs(
        load_table(spark, "documents", sf_dir), threshold=0.5, max_bucket_size=None
    )


_LSH_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_minhash_sig_sql(16)},
    {_band_sql(4, 4)},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT doc_a, doc_b, count(*) AS common
        FROM cand
        JOIN s sa ON sa.doc_id = doc_a
        JOIN s sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sz x ON doc_a = x.doc_id
        JOIN sz y ON doc_b = y.doc_id
        WHERE common * 1.0 / (x.n_sh + y.n_sh - common) >= 0.5
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    walk(u, lbl) AS (
        SELECT DISTINCT u, u FROM edges
        UNION
        SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.u
    )
    SELECT u AS doc_id, MIN(lbl) AS cluster_id
    FROM walk GROUP BY u ORDER BY doc_id
    """


@register("dedup_clusters", oracle=_LSH_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup groups: MinHash+LSH pairs clustered into connected
    components by distributed min-label propagation; the oracle computes
    the same components with a recursive CTE (reachable-set minimum).
    Explicit all-pairs mode: this oracle's grain is components over ALL
    verified pairs, and capped-vs-all-pairs cluster parity measurably
    breaks on mixed-family hot buckets at sf1.0 (SKEW_BENCH.json) — the
    capped default is gated separately by `dedup_minhash_lsh_capped`."""
    pairs = dedup.minhash_lsh_pairs(
        load_table(spark, "documents", sf_dir), threshold=0.5, max_bucket_size=None
    )
    return dedup.connected_components(pairs)


_LSH_CAPPED_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_minhash_sig_sql(16)},
    {_band_sql(4, 4)},
    bsz AS (
        SELECT band, bucket, COUNT(*) AS n, MIN(doc_id) AS bmin
        FROM bk GROUP BY band, bucket
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bk a
        JOIN bsz z ON a.band = z.band AND a.bucket = z.bucket
        JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
        WHERE z.n <= 2 OR a.doc_id = z.bmin
    ),
    common AS (
        SELECT doc_a, doc_b, count(*) AS common
        FROM cand
        JOIN s sa ON sa.doc_id = doc_a
        JOIN s sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sz x ON doc_a = x.doc_id
        JOIN sz y ON doc_b = y.doc_id
        WHERE common * 1.0 / (x.n_sh + y.n_sh - common) >= 0.5
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    walk(u, lbl) AS (
        SELECT DISTINCT u, u FROM edges
        UNION
        SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.u
    )
    SELECT u AS doc_id, MIN(lbl) AS cluster_id
    FROM walk GROUP BY u ORDER BY doc_id
    """


@register("dedup_minhash_lsh_capped", oracle=_LSH_CAPPED_CLUSTERS_ORACLE)
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE dedup mode, oracle-gated at its own semantics (r7
    verdict #1): star-cap hot LSH buckets at max_bucket_size=2 — chosen
    BELOW the gate corpus's largest bucket (sf0.01 has 3-doc buckets;
    sf0.1 up to 19) so the star-edge path actually executes under the
    driver gate rather than being vacuously equal — then cluster with
    connected components.

    The oracle MIRRORS the star cap in SQL (bucket size + min-id star
    restriction, then exact-Jaccard verify, then recursive-CTE
    components), so the gate checks the ENGINE bit-for-bit at every SF.
    It deliberately does NOT assert capped == all-pairs clusters: that
    parity holds for clique-shaped clone groups (the planted 1k-clone
    fixture, tests/test_lsh_skew.py) but was MEASURED to break on the
    real replica corpus at sf1.0 — mixed-family hot buckets lose
    member–member edges whose endpoints fail hub verification — with a
    0.09–0.4% doc-assignment delta across caps 2..50 (SKEW_BENCH.json
    real_corpus_parity). Approximation quality is a measured artifact;
    engine correctness is this gate. The exact all-pairs contract stays
    pinned by `dedup_minhash_lsh` / `dedup_clusters` (explicit
    max_bucket_size=None). At 100 TB this query's plan — bounded star
    candidates, no quadratic bucket join — is the library default."""
    pairs = dedup.minhash_lsh_pairs(
        load_table(spark, "documents", sf_dir), threshold=0.5, max_bucket_size=2
    )
    return dedup.connected_components(pairs)


def _minhash_side_sql(
    sfx: str, where: str, num_hashes: int = 16, bands: int = 4, src: str = "documents"
) -> str:
    """Shingle→signature→bucket CTE chain over ``src`` (suffix distinguishes
    multiple chains in one query, e.g. incoming vs corpus)."""
    from kafkasparkstream_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    rows = num_hashes // bands
    base = "CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT)"
    mins = ",\n             ".join(
        f"min(({MINHASH_A[h]} * {base} + {MINHASH_B[h]}) % {MINHASH_P}) AS mh{h}"
        for h in range(num_hashes)
    )
    band_parts = []
    for b in range(bands):
        cols = " || '|' || ".join(f"mh{b * rows + r}" for r in range(rows))
        band_parts.append(f"SELECT doc_id, {b} AS band, {cols} AS bucket FROM sig{sfx}")
    bands_sql = "\n        UNION ALL ".join(band_parts)
    return f"""
    t{sfx} AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
               FROM {src} WHERE {where}),
    s{sfx} AS (SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
          FROM t{sfx}),
    sz{sfx} AS (SELECT doc_id, count(*) AS n_sh FROM s{sfx} GROUP BY doc_id),
    sig{sfx} AS (SELECT doc_id, {mins} FROM s{sfx} GROUP BY doc_id),
    bk{sfx} AS ({bands_sql})
"""


_INC_SPLIT = (
    "CAST(('0x' || substr(md5('inc' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10"
)


@register(
    "dedup_incremental",
    oracle=f"""
    WITH {_minhash_side_sql('_i', _INC_SPLIT)},
    {_minhash_side_sql('_c', 'NOT (' + _INC_SPLIT + ')')},
    cand AS (
        SELECT DISTINCT i.doc_id AS incoming_id, c.doc_id AS corpus_id
        FROM bk_i i JOIN bk_c c ON i.band = c.band AND i.bucket = c.bucket
    ),
    common AS (
        SELECT incoming_id, corpus_id, count(*) AS common
        FROM cand
        JOIN s_i sa ON sa.doc_id = incoming_id
        JOIN s_c sb ON sb.doc_id = corpus_id AND sb.sh = sa.sh
        GROUP BY 1, 2
    )
    SELECT incoming_id, corpus_id,
           ROUND(common * 1.0 / (x.n_sh + y.n_sh - common), 4) AS jaccard
    FROM common
    JOIN sz_i x ON incoming_id = x.doc_id
    JOIN sz_c y ON corpus_id = y.doc_id
    WHERE common * 1.0 / (x.n_sh + y.n_sh - common) >= 0.5
    ORDER BY incoming_id, corpus_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production dedup shape: a ~10% 'incoming' batch (hash-split) checked
    against the remaining 'corpus' — cross-set banded-minhash candidates,
    exact-Jaccard verified; no corpus-vs-corpus work."""
    from kafkasparkstream_spark.operators.sampling import _hash_bucket

    docs = load_table(spark, "documents", sf_dir)
    bucket = _hash_bucket(F.col("doc_id"), "inc")
    incoming = docs.filter(bucket < 10)
    corpus = docs.filter(~(bucket < 10))
    return dedup.incremental_minhash_pairs(incoming, corpus, threshold=0.5)


@register(
    "training_pipeline_e2e",
    oracle=f"""
    WITH q AS (
        SELECT doc_id,
               ROUND(least(len(toks) / 64.0, 1.0)
                     * (0.5 + 0.5 * least(len(list_filter(toks, tk -> list_contains(['the','a','of','and','is','to','in','that'], tk))) / greatest(len(toks) * 0.05, 1.0), 1.0))
                     * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)), 4) AS quality
        FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents)
    ),
    kept AS (
        SELECT d.doc_id, d.text, q.quality
        FROM documents d JOIN q USING (doc_id)
        WHERE q.quality >= 0.25
    ),
    norm AS (
        SELECT doc_id, text, quality,
               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                                   ' +', ' ', 'g')) AS norm_text
        FROM kept
    ),
    keepers AS (SELECT MIN(doc_id) AS doc_id FROM norm GROUP BY md5(norm_text)),
    kd AS (SELECT n.doc_id, n.text, n.quality FROM norm n JOIN keepers USING (doc_id)),
    {_minhash_side_sql('_p', 'TRUE', src='kd')},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bk_p a JOIN bk_p b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT doc_a, doc_b, count(*) AS common
        FROM cand
        JOIN s_p sa ON sa.doc_id = doc_a
        JOIN s_p sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
        GROUP BY 1, 2
    ),
    nd_drop AS (
        SELECT DISTINCT doc_b AS doc_id
        FROM common
        JOIN sz_p x ON doc_a = x.doc_id
        JOIN sz_p y ON doc_b = y.doc_id
        WHERE common * 1.0 / (x.n_sh + y.n_sh - common) >= 0.5
    ),
    final AS (
        SELECT doc_id, quality FROM kd
        WHERE doc_id NOT IN (SELECT doc_id FROM nd_drop)
    ),
    labeled AS (
        SELECT quality,
               CASE WHEN CAST(('0x' || substr(md5('split0' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                    WHEN CAST(('0x' || substr(md5('split0' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM final
    )
    SELECT split, COUNT(*) AS n_docs, ROUND(AVG(quality), 4) AS avg_quality
    FROM labeled GROUP BY split ORDER BY split
    """,
)
def training_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data pipeline as ONE lazy Catalyst plan:
    quality-filter → normalize → exact dedup (keep smallest id per
    normalized-content hash) → MinHash near-dup drop → deterministic
    train/val/test split → per-split stats. Every stage is an operator from
    this package composed declaratively — Catalyst fuses and optimizes the
    whole thing end to end.

    Plan shape (r10): quality is computed INLINE in the scan projection
    (a per-row function of text — the old quality_score self-join re-read
    the corpus and paid an exchange for it, guide §2.4); the exact-dedup
    keeper join probes with ``kept`` directly (the old probe side was
    ``norm``, re-running the regex normalization only to drop it); and the
    metadata-sized keeper id table sits behind a lazy localCheckpoint so
    the two kd consumers (LSH pair-gen, final stats) don't re-run the
    normalize+aggregate subtree. 9 corpus scans → 3."""
    from kafkasparkstream_spark.operators import sampling as sampling_ops

    docs = load_table(spark, "documents", sf_dir)
    kept = docs.select(
        "doc_id", "text", text_ops.quality_col("text").alias("quality")
    ).filter(F.col("quality") >= 0.25)
    norm = kept.withColumn("norm_text", text_ops.normalize_text_col("text"))
    keepers = (
        norm.groupBy(F.md5(F.col("norm_text").cast("binary")).alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .transform(current_scope().checkpoint, eager=False)
    )
    kd = kept.join(keepers, "doc_id").select("doc_id", "text", "quality")
    # Pair-grain victim set (doc_b side of every verified pair) → explicit
    # all-pairs mode so the oracle's pair enumeration stays the contract.
    pairs = dedup.minhash_lsh_pairs(
        kd.select("doc_id", "text"), threshold=0.5, max_bucket_size=None
    )
    nd_drop = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    final = kd.join(nd_drop, "doc_id", "left_anti")
    labeled = sampling_ops.dataset_split(final, "doc_id")
    return (
        labeled.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
        .orderBy("split")
    )


def _simhash_sig_cte(bits: int) -> str:
    # Mirrors dedup.simhash: coin j = bit 3-(j%4) of hex char j//4 of
    # md5(token), generated from the same _NIBBLE_BIT_SETS constants.
    from kafkasparkstream_spark.operators.dedup import _NIBBLE_BIT_SETS

    bit_cases = []
    for j in range(bits):
        charset = ",".join(f"'{c}'" for c in _NIBBLE_BIT_SETS[j % 4])
        bit_cases.append(
            f"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN substr(h, {j // 4 + 1}, 1) "
            f"IN ({charset}) THEN 1 ELSE -1 END)) >= 0 THEN '1' ELSE '0' END"
        )
    sig = " || ".join(bit_cases)
    return f"""
    t AS (SELECT doc_id, list_transform(string_split_regex(trim(text), ' +'), tk -> md5(tk)) AS hs
          FROM documents),
    sig AS (SELECT doc_id, {sig} AS simhash FROM t)
"""


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {_simhash_sig_cte(16)}
    SELECT doc_id, simhash FROM sig
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signature per document (sign-of-sum over token-hash bits)."""
    return dedup.simhash(load_table(spark, "documents", sf_dir))


def _hamming_sql(bits: int) -> str:
    return " + ".join(
        f"(CASE WHEN substr(sig_a, {j + 1}, 1) <> substr(sig_b, {j + 1}, 1) THEN 1 ELSE 0 END)"
        for j in range(bits)
    )


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_simhash_sig_cte(64)},
    bk AS (
        SELECT doc_id, simhash, b.band, substr(simhash, b.band * 16 + 1, 16) AS chunk
        FROM sig, (SELECT unnest(range(4)) AS band) b
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sig_a, b.simhash AS sig_b
        FROM bk a JOIN bk b ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT doc_a, doc_b, CAST({_hamming_sql(64)} AS INT) AS hamming FROM cand
    )
    SELECT doc_a, doc_b, hamming
    FROM scored WHERE hamming <= 3
    ORDER BY doc_a, doc_b
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup pairs: 4×16-bit banded candidates, exact
    Hamming ≤ 3 verification (full recall by pigeonhole)."""
    return dedup.simhash_pairs(load_table(spark, "documents", sf_dir))


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_minhash_sig_sql(16)},
    {_band_sql(4, 4)},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT doc_a, doc_b, count(*) AS common
        FROM cand
        JOIN s sa ON sa.doc_id = doc_a
        JOIN s sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sz x ON doc_a = x.doc_id
        JOIN sz y ON doc_b = y.doc_id
        WHERE common * 1.0 / (x.n_sh + y.n_sh - common) >= 0.5
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    walk(u, lbl) AS (
        SELECT DISTINCT u, u FROM edges
        UNION
        SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.u
    ),
    clu AS (SELECT u AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY u),
    m AS (SELECT c.cluster_id, c.doc_id, d.n_chars,
                 row_number() OVER (PARTITION BY c.cluster_id
                                    ORDER BY d.n_chars DESC, c.doc_id) AS rn
          FROM clu c JOIN documents d USING (doc_id))
    SELECT cluster_id,
           MAX(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc_id,
           MAX(CASE WHEN rn = 1 THEN n_chars END) AS canonical_len,
           COUNT(*) AS cluster_size,
           COUNT(*) - 1 AS n_dropped
    FROM m GROUP BY cluster_id ORDER BY cluster_id
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup decision stage: per near-dup cluster (MinHash+LSH →
    connected components), keep the longest member (ties → smallest id)
    and report how many copies each canonical absorbs. Explicit
    all-pairs mode — the oracle clusters ALL verified pairs and capped
    parity breaks on mixed-family hot buckets (see dedup_clusters)."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5, max_bucket_size=None)
    clusters = dedup.connected_components(pairs)
    return dedup.keep_best_per_cluster(docs, clusters)


@register(
    "dedup_source_matrix",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    {_minhash_sig_sql(16)},
    {_band_sql(4, 4)},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT doc_a, doc_b, count(*) AS common
        FROM cand
        JOIN s sa ON sa.doc_id = doc_a
        JOIN s sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sz x ON doc_a = x.doc_id
        JOIN sz y ON doc_b = y.doc_id
        WHERE common * 1.0 / (x.n_sh + y.n_sh - common) >= 0.5
    )
    SELECT least(da.source, db.source) AS source_x,
           greatest(da.source, db.source) AS source_y,
           COUNT(*) AS n_pairs
    FROM pairs
    JOIN documents da ON doc_a = da.doc_id
    JOIN documents db ON doc_b = db.doc_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup leakage matrix by source pair (off-diagonal = cross-corpus
    duplication, the train/eval contamination signal) over the MinHash+LSH
    verified pair list. Pair-grain oracle → explicit all-pairs mode."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5, max_bucket_size=None)
    return dedup.pair_source_matrix(docs, pairs)


@register(
    "dedup_containment",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(common * 1.0 / least(x.n_sh, y.n_sh), 4) AS containment
    FROM pairs
    JOIN sz x ON doc_a = x.doc_id
    JOIN sz y ON doc_b = y.doc_id
    WHERE common * 1.0 / least(x.n_sh, y.n_sh) >= 0.8
    ORDER BY doc_a, doc_b
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dups (short-doc-inside-long-doc) — the
    quote/boilerplate catcher Jaccard misses. Explicit all-pairs mode
    (max_shingle_freq=None → the exact prefix-filtered plan): quadratic
    pair output, full-run infeasible at sf10 (slice-oracled,
    PAIR_SF10.json); the scale-safe star-capped DEFAULT is gated
    separately by `dedup_containment_capped`."""
    return dedup.containment_pairs(
        load_table(spark, "documents", sf_dir), max_shingle_freq=None
    )


@register(
    "dedup_containment_capped",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    {_STARCAP_CAND_CTE}
    SELECT doc_a, doc_b,
           ROUND(common * 1.0 / least(x.n_sh, y.n_sh), 4) AS containment
    FROM common
    JOIN sz x ON doc_a = x.doc_id
    JOIN sz y ON doc_b = y.doc_id
    WHERE common * 1.0 / least(x.n_sh, y.n_sh) >= 0.8
    ORDER BY doc_a, doc_b
    """,
)
def dedup_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE containment mode, oracle-gated at its own semantics
    (r8 verdict #1): the same frequency-star-capped candidate generation
    as `dedup_ngram_jaccard_capped` (cap=2, mirrored in the oracle SQL),
    verified with exact containment (common / min set size) at 0.8.
    Prefix filtering — the exact contract's plan — bounds the candidate
    JOIN but not the pair OUTPUT; a 100-replica clique still emits 4,950
    qualifying pairs each shipping two shingle arrays through the verify
    shuffle (measured ENOSPC ~80 GB at sf10). The star cap bounds both:
    candidate fanout ≤ (cap+1)·Σ n_sh, output linear in clone count. The
    operator DEFAULT is capped (max_shingle_freq=50); the exact contract
    stays pinned by `dedup_containment` (max_shingle_freq=None)."""
    return dedup.containment_pairs(
        load_table(spark, "documents", sf_dir), max_shingle_freq=2
    )


@register(
    "dedup_edit_distance_blocked",
    oracle="""
    WITH d AS (SELECT doc_id, trim(text) AS t FROM documents),
    b AS (SELECT doc_id, t, substr(t, 1, 32) AS blk FROM d)
    SELECT a.doc_id AS id_a, bb.doc_id AS id_b,
           CAST(levenshtein(a.t, bb.t) AS BIGINT) AS edit_dist
    FROM b a JOIN b bb
      ON a.blk = bb.blk AND a.doc_id < bb.doc_id
    WHERE levenshtein(a.t, bb.t) <= 40
    ORDER BY id_a, id_b
    """,
)
def dedup_edit_distance_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by bounded edit distance with prefix blocking:
    only documents sharing their first 32 characters are compared, then
    Levenshtein (JVM built-in, O(len²) per pair) verifies within the
    block. Blocking is what makes edit distance usable at scale — the
    quadratic cost is confined to each block's candidates (the same
    prune-then-verify shape as MinHash→Jaccard, with a cheaper prune and a
    costlier verify); an all-pairs Levenshtein would be O(n²·len²). The
    equi-join on the block key is an ordinary shuffled hash join."""
    docs = load_table(spark, "documents", sf_dir)
    return dedup.edit_distance_pairs(
        docs, block_chars=32, max_dist=40
    ).orderBy("id_a", "id_b")


@register(
    "exact_substring_dedup",
    oracle="""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
               FROM documents),
    g0 AS (SELECT doc_id,
                  unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                         i -> struct_pack(s := i - 1,
                              gram := toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
                      AS u
           FROM t),
    g AS (SELECT doc_id, u.s AS s, u.gram AS gram FROM g0),
    d AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
    sd AS (SELECT doc_id, list(s ORDER BY s) AS starts
           FROM g JOIN d USING (gram) GROUP BY doc_id),
    c AS (SELECT t.doc_id, toks, coalesce(starts, []) AS starts
          FROM t LEFT JOIN sd USING (doc_id)),
    k AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                 list_filter(list_transform(range(1, len(toks) + 1), i -> CASE
                   WHEN len(list_filter(starts,
                            s -> s <= i - 1 AND s > i - 1 - 3)) = 0
                   THEN toks[i] END), x -> x IS NOT NULL) AS kept
          FROM c)
    SELECT doc_id, n_tokens,
           CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
           md5(coalesce(array_to_string(kept, ' '), '')) AS cleaned_md5
    FROM k ORDER BY doc_id
    """,
)
def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicate-text-datasets-style exact substring removal (Lee et al.
    2022): every token span whose 3-gram occurs >= 2 times corpus-wide is
    deleted, and the oracle hash-matches the md5 of each RECONSTRUCTED
    document — reconstruction parity, not just counts
    (operators/text.py:remove_duplicated_spans)."""
    docs = load_table(spark, "documents", sf_dir)
    return text_ops.remove_duplicated_spans(docs, n=3)
