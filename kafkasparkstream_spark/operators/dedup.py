"""Deduplication operators for training-data pipelines.

Five families, all expressed as compositions of built-in DataFrame ops (no
Python in the hot path) so Catalyst/Tungsten handle execution:

- **exact**       — hash-groupBy on a content digest.
- **n-gram Jaccard** — shingle-set self-join; exact near-dup, quadratic in the
  worst case, use for candidate *verification*.
- **MinHash + LSH** — banded minhash signatures; candidate generation is
  linear-ish (explode → hash-join on band buckets) and is the 100 TB path:
  the only shuffles are by doc id (signature build) and by band bucket
  (candidate join), both well-distributed keys.
- **SimHash**     — bit-sign aggregate over token-hash bits; near-dup pairs
  via banded chunk join + bit_count(xor) Hamming verification.
- **clustering**  — near-dup pairs → connected components by distributed
  min-label propagation (cluster id = smallest member id).

Determinism: every hash derives from ONE md5 per shingle/token — the minhash
family expands it with integer universal hashing ((A·x+B) mod P), simhash
slices the digest's bits — so the DuckDB oracles reproduce results exactly
from the same constants, across engines, runs, and partitionings. Spark's
built-in ``xxhash64`` would be marginally faster; md5 keeps the oracle
cross-checkable, and the swap is a one-line change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafkasparkstream_spark.operators.text import (
    shingle_hashes_col,
    shingles_col,
    token_hashes_col,
)
from kafkasparkstream_spark.util import LocalCheckpointer, current_scope, fanout


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content digest: one row per distinct content with the
    smallest id as keeper and the duplicate count.

    At scale this is a single hash-aggregate shuffled on the digest — the
    canonical map-side-combinable pattern.
    """
    return (
        df.select(F.md5(F.col(text_col).cast("binary")).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("copies"),
        )
    )


#: Universal-hash constants: h_i(x) = (A[i]*x + B[i]) mod MINHASH_P over a
#: 32-bit base hash. One md5 per shingle feeds all `num_hashes` functions —
#: 16× less hashing than independent md5s and a far smaller codegen unit.
#: Deterministic Weyl-style constants so the DuckDB oracle can inline the
#: same literals (queries.py generates its SQL from these lists).
MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)
MINHASH_A = [(2654435761 * (i + 1)) % MINHASH_P for i in range(64)]
MINHASH_B = [(40503 * (i + 7) ** 2) % MINHASH_P for i in range(64)]


def _shingle_arrays(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    persist: bool = True,
    hashed: bool = False,
) -> DataFrame:
    """Per-doc distinct shingle arrays: ``(id, sh_arr, n_sh)``.

    The single expensive projection every shingle-based dedup shares.
    ``persist=True`` caches it so signature-build and verification branches
    of one query compute the shingling once (MEMORY_AND_DISK, ~same size as
    the input text; at 100 TB the spill path handles it, or pass False to
    trade recompute for memory).

    ``hashed=True`` stores 64-bit shingle keys (:func:`shingle_hashes_col`
    over a single per-token hash pass) instead of the shingle strings —
    identical distinct/count semantics (collision odds ~|shingles|²/2⁶⁵,
    see text.py) at ~3-4× less cache, shuffle, and intersect cost. Use it
    whenever downstream only counts/joins shingles and never needs the
    text back.

    fanout first: shingling is the expensive step — spreading docs across
    the cluster before it keeps every core busy (no-op when the scan
    already has enough splits).
    """
    src = fanout(df.select(F.col(id_col), F.col(text_col)))
    if hashed:
        sh = shingle_hashes_col(F.col("_th"), n)
        out = src.withColumn("_th", token_hashes_col(text_col)).select(
            F.col(id_col), F.array_distinct(sh).alias("sh_arr")
        )
    else:
        out = src.select(
            F.col(id_col), F.array_distinct(shingles_col(text_col, n)).alias("sh_arr")
        )
    out = out.withColumn("n_sh", F.size("sh_arr"))
    return current_scope().persist(out) if persist else out


def _distinct_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, shingle) pairs, one row per distinct shingle per doc."""
    return _shingle_arrays(df, text_col, id_col, n, persist=False).select(
        F.col(id_col), F.explode("sh_arr").alias("shingle")
    )


def _prefix_verified_common(arr: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Exact overlap pairs ``(doc_a, doc_b, common, n_a, n_b)`` at a
    similarity ``threshold``, via *prefix filtering* (Chaudhuri/Ganjam/
    Kaushik ICDE'06; Xiao et al. PPJoin, WWW'08 — public similarity-join
    literature) instead of the naive shingle self-join.

    Why: the naive plan's join output is Σ_s df(s)² over shingle document
    frequencies — hot shingles (boilerplate, template near-dup corpora)
    blow up quadratically, and at sf1.0 the two shingle-join queries were
    the registry's scaling outliers (30×/22× runtime for 10× data).

    Candidate generation (exact, no false negatives) for CONTAINMENT
    (``common / min(n_a, n_b) ≥ t``):
    - Rank each doc's shingles in ONE global canonical order, rarest
      first: (document frequency asc, shingle asc). Any fixed total order
      makes the pigeonhole below valid; frequency-ascending additionally
      starves the globally hot shingles (boilerplate n-grams, the Σ df²
      quadratic term) out of every prefix. Measured at sf1.0: a pure
      hash order — which would avoid the docfreq pass entirely — is
      ~1.7× slower end-to-end because hot shingles then survive into
      ~(1−t) of the prefixes; the frequency pass pays for itself.
    - A qualifying pair must share ``c_min = ⌈t·n_m⌉`` shingles, where m
      is the pair's smaller doc. By pigeonhole the smaller doc's first
      ``n_m − c_min + 1`` ranked shingles (its *prefix*) must contain a
      common shingle — so joining every doc's prefix against all docs'
      full shingle lists finds every qualifying pair. (At t=0.8 a prefix
      is the rarest ~20% of a doc.)
    - ``c_min`` uses ``ceil(t·n − 1e-9)``: the epsilon keeps float noise
      in ``t·n`` from overstating the requirement (a too-small prefix
      would be a silent false-negative filter).

    Verification is per-candidate-pair ``array_intersect`` on the carried
    shingle arrays (JVM set intersect, O(n_a+n_b) per pair) — the exact
    count, computed once per distinct pair instead of shuffling every
    common-shingle occurrence into a grouped count.

    100 TB shape: three fact-sized shuffles (docfreq build is map-side
    combined to vocab size; df-attach keyed by shingle; per-doc rank
    window keyed by id) + a candidate join whose prefix side is
    rare-shingle-only (skew-bounded; AQE skew-join covers residual hot
    buckets) + a pair-keyed distinct + two id-keyed verify joins. No
    corpus-global or driver-side state.

    Every join carries an explicit ``shuffle_hash`` hint: Catalyst's
    static size estimate for these sides flows through a not-yet-
    materialized cache with a Generate (explode) on top and lands under
    the broadcast threshold, so without the hint it BROADCASTS the
    vocab-sized docfreq, the fact-sized exploded shingle list, and the
    array-carrying verify sides — measured at sf1.0: 250 s spent
    building/shipping broadcasts in a 100 g driver, OOM in a default
    one (AQE can't rescue it: no shuffle below the join means no runtime
    stats). With the hints the same query runs ~17 s. None of these
    sides is ever broadcastable at scale, so the hint states a truth the
    estimator can't see, rather than overriding a judgment call.
    """
    from pyspark.sql.window import Window

    sh = arr.select(F.col(id_col), "n_sh", F.explode("sh_arr").alias("shingle"))
    docfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    c_min = F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
    w = Window.partitionBy(id_col).orderBy("_df", "shingle")
    prefix = (
        sh.join(docfreq.hint("shuffle_hash"), "shingle")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.col("n_sh") - c_min + 1)
        .select(F.col(id_col), F.col("shingle"))
    )
    # Containment only bounds c via the SMALLER doc (c ≥ t·n_min), so
    # only the smaller side's prefix is guaranteed to hold a common
    # shingle — join every doc's prefix against all docs' full lists.
    a, b = prefix.hint("shuffle_hash").alias("a"), sh.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col(f"a.{id_col}") != F.col(f"b.{id_col}")
    )
    cand = (
        a.join(b, cond)
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_b"),
        )
        .distinct()
    )
    va = arr.select(
        F.col(id_col).alias("doc_a"), F.col("sh_arr").alias("_arr_a"), F.col("n_sh").alias("n_a")
    )
    vb = arr.select(
        F.col(id_col).alias("doc_b"), F.col("sh_arr").alias("_arr_b"), F.col("n_sh").alias("n_b")
    )
    return (
        cand.hint("shuffle_hash")
        .join(va.hint("shuffle_hash"), "doc_a")
        .join(vb.hint("shuffle_hash"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_arr_a", "_arr_b")).alias("common"),
            "n_a",
            "n_b",
        )
    )


def _starcap_verified_common(
    arr: DataFrame, id_col: str, max_shingle_freq: int
) -> DataFrame:
    """Exact overlap pairs ``(doc_a, doc_b, common, n_a, n_b)`` whose
    candidate generation is *frequency-star-capped*: shingles shared by
    more than ``max_shingle_freq`` documents contribute only STAR edges
    around the shingle's minimum doc id (df−1 candidates instead of
    df·(df−1)/2), while rare shingles contribute all pairs. The same cap
    shape as :func:`minhash_lsh_pairs`' hot-bucket cap (r8's proven
    scale-safe template), applied at the shingle grain.

    Why this exists: the EXACT shingle-pair contracts are inherently
    quadratic in clone count — sf10's ~100-replica cliques make both the
    pair output and the array-carrying verify shuffle quadratic (measured:
    ENOSPC after ~80 GB of shuffle; SCALE_DECADES ratios 12.3×/11.5× for
    a 10× corpus). With the cap, total candidate fanout is bounded by
    ``(cap+1) · Σ_doc n_sh`` — LINEAR in the corpus — because each
    exploded shingle row joins at most ``cap`` partners plus one hub edge.
    For clique-shaped clone groups (the dominant real case: replicas share
    their whole shingle set, so every clique shingle is hot with the same
    min doc) the star edges all verify against the hub and connected
    components recover the full clique — the same recall trade as the LSH
    star cap: chain-shaped hot groups lose hub-distant edges unless they
    co-occur under a rare shingle.

    Verification is exact per-candidate ``array_intersect`` on the carried
    shingle-hash arrays (the :func:`minhash_lsh_pairs` verify shape): the
    capped candidate list is linear, so the verify joins ship each doc's
    array O(cap) times, not O(clique) times.

    Shingle stats (document frequency, min doc id) come from a grouped
    aggregate joined back on the shingle key — NOT a window over the
    exploded rows: WindowExec must SORT every partition even though these
    window functions are order-free, while the map-side-combined agg
    shuffles one row per distinct shingle and the join back reuses the
    same hash partitioning (the r5 `duplicated_span` lesson, 8.1 → 1.6 s
    at sf1.0; measured again here: interleaved A/B at sf0.1 below in
    OPTIMIZATION_r09.md). The join hints mirror
    :func:`_prefix_verified_common`'s measured rationale (both join sides
    are fact-sized and flow through unmaterialized caches, so Catalyst's
    static estimator would broadcast them; merge for the hot-keyed shingle
    join so skew spills instead of OOMing an SHJ build)."""
    sh = arr.select(F.col(id_col), F.explode("sh_arr").alias("shingle"))
    stats = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("_df"), F.min(id_col).alias("_smin")
    )
    tagged = sh.join(stats.hint("shuffle_hash"), "shingle")
    left = tagged.filter(
        (F.col("_df") <= max_shingle_freq) | (F.col(id_col) == F.col("_smin"))
    ).select(F.col(id_col), "shingle")
    a, b = left.hint("merge").alias("a"), sh.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    va = arr.select(
        F.col(id_col).alias("doc_a"), F.col("sh_arr").alias("_arr_a"), F.col("n_sh").alias("n_a")
    )
    vb = arr.select(
        F.col(id_col).alias("doc_b"), F.col("sh_arr").alias("_arr_b"), F.col("n_sh").alias("n_b")
    )
    return (
        cand.hint("shuffle_hash")
        .join(va.hint("shuffle_hash"), "doc_a")
        .join(vb.hint("shuffle_hash"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_arr_a", "_arr_b")).alias("common"),
            "n_a",
            "n_b",
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 50,
) -> DataFrame:
    """Near-duplicate pairs by exact word-n-gram Jaccard similarity.

    Plan: explode distinct shingles → self-join on shingle (co-partitioned
    hash join) → count common shingles per pair → filter; per-doc sizes
    ride the exploded rows (min() recovers them exactly). The pair-keyed
    count gets a map-side partial aggregate, so the post-join shuffle
    carries ~one row per surviving pair, not one per common shingle.

    Plan note (measured at sf1.0 on a ~1000×-replica near-dup corpus):
    the prefix-filtered variant used by :func:`containment_pairs` was
    ALSO tried here as an exact prefix×prefix join (both-endpoint bound
    c ≥ t·n_x + the smallest-common-element lemma) and lost 2× — at
    t=0.5 a prefix is half of every doc's shingles, replica groups share
    identical prefixes so Σ pf(s)² matches the naive fanout, and the
    docfreq/rank/verify stages are pure overhead on top. Prefix filtering
    pays when thresholds are high (containment at 0.8: rarest ~20%) or
    hot shingles are cross-doc boilerplate rather than whole-doc
    replication. At 100 TB run :func:`minhash_lsh_pairs` first and feed
    its candidates here for exact verification.

    ``max_shingle_freq`` — the DEFAULT is the star-capped mode (r8
    verdict #1): shingles hotter than the cap contribute only star edges
    around their min doc (see :func:`_starcap_verified_common`), which
    bounds candidate fanout AND pair output linearly in the corpus —
    the exact contract is quadratic in clone count and measured
    infeasible at sf10 (ENOSPC ~80 GB). Pass ``max_shingle_freq=None``
    for the exact all-pairs semantics (the registry's
    ``dedup_ngram_jaccard`` pins this explicitly); the capped mode is
    oracle-gated at its OWN semantics by ``dedup_ngram_jaccard_capped``
    (the DuckDB oracle mirrors the star cap).
    """
    arr = _shingle_arrays(df, text_col, id_col, n, hashed=True)
    if max_shingle_freq is not None:
        common = _starcap_verified_common(arr, id_col, max_shingle_freq)
        jac = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
        return (
            common.filter(jac >= threshold)
            .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
            .orderBy("doc_a", "doc_b")
        )
    # Carry n_sh through the explode: one int per row buys back two
    # sizes-joins after the pair aggregate (n_sh is constant per doc, so
    # min() recovers it exactly). Shingles are 64-bit hashes (identical
    # count semantics, ~4× lighter self-join exchange), and the self-join
    # carries a merge hint: both sides are fact-sized, so broadcasting is
    # never right — Catalyst's static estimate through the unmaterialized
    # cache says otherwise and must be overridden (measured at sf1.0:
    # 30.5 s with the misplanned broadcast, 19.9 s without). Merge, not
    # shuffle_hash: the join key is the shingle, whose hot keys would
    # concentrate an SHJ build; sort-merge spills instead of OOMing.
    sh = arr.select(F.col(id_col), "n_sh", F.explode("sh_arr").alias("shingle"))
    a = sh.hint("merge").alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.min("a.n_sh").alias("n_a"),
            F.min("b.n_sh").alias("n_b"),
        )
    )
    jac = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    return (
        common.filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """MinHash signature per document: ``mh_h = min over shingles of
    (A[h]*base + B[h]) mod P`` where ``base`` is the first 8 hex chars of
    ``md5(shingle)`` as an int.

    One md5 per shingle feeds all ``num_hashes`` functions (universal
    hashing), so per-row cost is one digest + ``num_hashes`` int ops — and
    the generated code stays small enough that Janino compile time doesn't
    dominate cold runs. One explode + one grouped aggregate: the shuffle key
    is the doc id and every hash is a parallel ``min`` — map-side
    combinable, so the exchange carries one row of ints per doc regardless
    of document length.
    """
    from kafkasparkstream_spark.functions.hashing import md5_int

    sh = _distinct_shingles(df, text_col, id_col, n)
    withbase = sh.select(F.col(id_col), md5_int(F.col("shingle")).alias("_base"))
    aggs = [
        F.min((F.lit(MINHASH_A[h]) * F.col("_base") + F.lit(MINHASH_B[h])) % F.lit(MINHASH_P)).alias(f"mh{h}")
        for h in range(num_hashes)
    ]
    return withbase.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = 50,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact Jaccard.

    Band the ``num_hashes`` minhashes into ``bands`` buckets (rows = H/B);
    docs sharing any band bucket are candidates (hash-join on the bucket
    digest); candidates are then *verified* with the exact shingle Jaccard so
    the output has no false positives — false negatives follow the standard
    LSH S-curve (P[candidate] = 1-(1-s^rows)^bands).

    This is the 100 TB dedup path: candidate generation never compares
    non-colliding docs. Identical docs (the worst skew case) are already
    collapsed by :func:`exact_dedup` — but NEAR-identical clones (distinct
    digests, ~equal shingle sets) survive that and collapse into one LSH
    bucket, where all-pairs candidates are quadratic in the clone count
    (measured: a planted 1k-clone clique → ~500k candidates,
    SKEW_BENCH.json). ``max_bucket_size`` is the cap for that case: buckets
    larger than the cap emit STAR candidates around the bucket's minimum
    doc id (n−1 edges instead of n·(n−1)/2). For CLIQUE-shaped hot groups
    (every member near-dups the hub — the planted fixture and the dominant
    real case, since the bucket key is the full band signature)
    connected-components clustering is measured IDENTICAL to all-pairs
    mode. The honest limit: a CHAIN-shaped hot group whose far members
    fall below the verify threshold against the hub loses hub-distant
    edges unless those members also co-collide in a non-hot band
    (probability follows the LSH S-curve), so capped mode trades
    pair-level recall AND, for chains, possible cluster splits — the
    standard LSH-dedup cap semantics. The DEFAULT is capped (50, the
    measured knee of SKEW_BENCH.json) — the scale-safe mode a 100 TB
    user gets without reading this docstring (r7 verdict #2); pass
    ``max_bucket_size=None`` for exact all-pairs semantics (the
    all-pairs oracle contracts — the registry's ``dedup_minhash_lsh`` /
    ``dedup_clusters`` / ``dedup_keep_best`` / ``dedup_source_matrix`` /
    ``training_pipeline_e2e`` do this explicitly). Capped-vs-all-pairs
    CLUSTER parity holds for clique-shaped groups (planted fixture) but
    measurably breaks on mixed-family hot buckets in the real replica
    corpus at sf1.0 (0.09–0.4% of doc assignments across caps 2..50 —
    SKEW_BENCH.json real_corpus_parity), so the capped mode is
    oracle-gated at its OWN semantics by ``dedup_minhash_lsh_capped``
    (the DuckDB oracle mirrors the star cap); the planted-skew probe
    lives in tests/test_lsh_skew.py + scripts/skew_lsh_probe.py.
    """
    rows = num_hashes // bands
    arr = _shingle_arrays(df, text_col, id_col, n)
    # Signatures from the cached array (computed once, shared with the
    # verification branch below).
    from kafkasparkstream_spark.functions.hashing import md5_int

    sh = arr.select(F.col(id_col), F.explode("sh_arr").alias("shingle"))
    withbase = sh.select(F.col(id_col), md5_int(F.col("shingle")).alias("_base"))
    sig = withbase.groupBy(id_col).agg(
        *[
            F.min(
                (F.lit(MINHASH_A[h]) * F.col("_base") + F.lit(MINHASH_B[h])) % F.lit(MINHASH_P)
            ).alias(f"mh{h}")
            for h in range(num_hashes)
        ]
    )
    # Band buckets: the concatenated minhash run IS the bucket key (an extra
    # md5 would only shorten an already-small join key).
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("|", *[F.col(f"mh{b * rows + r}") for r in range(rows)]).alias("bucket"),
        )
        for b in range(bands)
    ]
    buckets = sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")).select(
        F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    if max_bucket_size is not None:
        # Hot-bucket cap: one keyed window pass tags each bucket row with
        # its bucket size and min id; oversized buckets contribute only
        # star edges (probe side restricted to the bucket's min doc).
        # Deliberately a WINDOW, unlike _starcap_verified_common's
        # agg+join: here the input is docs×bands rows (not the exploded
        # shingle fact table), per-partition sorts are small, and an
        # interleaved sf1.0 A/B measured the agg+join variant a wash
        # (mins 7.8 s window vs 10.5 s agg+join) — so the plan the r8
        # full-sf10 hash-exact run pinned stays (OPTIMIZATION_r09.md).
        from pyspark.sql.window import Window

        wb = Window.partitionBy("band", "bucket")
        buckets = (
            buckets.withColumn("_bn", F.count(F.lit(1)).over(wb))
            .withColumn("_bmin", F.min(id_col).over(wb))
        )
        left = buckets.filter(
            (F.col("_bn") <= max_bucket_size) | (F.col(id_col) == F.col("_bmin"))
        ).drop("_bn", "_bmin")
        buckets = buckets.drop("_bn", "_bmin")
    else:
        left = buckets
    # Bucket self-join: both sides are corpus-sized (one row per doc per
    # band) — merge hint because Catalyst's static estimate through the
    # cache would broadcast one side (hot buckets also make an SHJ build
    # side skew-prone; sort-merge spills instead).
    ca = left.hint("merge").alias("a")
    cb = buckets.alias("b")
    candidates = (
        ca.join(
            cb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )
    # Exact-Jaccard verification via per-doc array intersection: two compact
    # joins keyed on doc id (arrays travel, not exploded rows) — candidate
    # count is tiny relative to the corpus, so this is the cheap side of the
    # plan at any scale. The arrays ship as 64-bit hashes (same distinct
    # counts as the strings the signatures were built from), and every side
    # is hinted shuffle_hash: the array-carrying sides are corpus-sized, so
    # the statically misestimated broadcast is never right.
    hashed = arr.select(
        F.col(id_col), F.transform("sh_arr", lambda s: F.xxhash64(s)).alias("sh_arr"), "n_sh"
    )
    sa = hashed.select(F.col(id_col).alias("doc_a"), F.col("sh_arr").alias("_sh_a"), F.col("n_sh").alias("n_a"))
    sb = hashed.select(F.col(id_col).alias("doc_b"), F.col("sh_arr").alias("_sh_b"), F.col("n_sh").alias("n_b"))
    verified = (
        candidates.hint("shuffle_hash")
        .join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .withColumn("common", F.size(F.array_intersect("_sh_a", "_sh_b")))
    )
    jac = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    return (
        verified.filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


#: Hex chars whose nibble has bit 3/2/1/0 set — the per-bit coin test for
#: simhash (bit j of a digest = membership of hex char j//4 in set j%4).
#: queries.py generates the DuckDB oracle from the same lists.
_NIBBLE_BIT_SETS = ("89abcdef", "4567cdef", "2367abef", "13579bdf")


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """SimHash signature: bit ``j`` is the sign of the sum over tokens of
    ±1, where the ±1 is bit ``j`` of the token's md5 digest.

    Bit ``j`` is bit ``3-(j%4)`` of hex char ``j//4`` — ONE md5 per token
    feeds up to 128 coins, each a set-membership test on a single hex char
    (`_NIBBLE_BIT_SETS`). Chosen because the identical expression exists in
    any engine with md5, making the operator oracle-checkable. Emitted as a
    bit-string column so collisions are plain string equality (groupable /
    joinable at scale).
    """
    from kafkasparkstream_spark.operators.text import tokens_col

    if bits > 128:
        raise ValueError("simhash bits must be <= 128 (md5 has 128 bits)")
    # Explode tokens, hash each once, compute the per-bit coins as a
    # codegen'd projection, then sum per doc in a Tungsten hash aggregate.
    # Equivalent to a per-row higher-order fold, but the fold is interpreted
    # per element (ArrayAggregate is CodegenFallback) while this shape stays
    # fully code-generated and map-side-combines the ±1 sums, so the exchange
    # carries one row of ``bits`` ints per doc regardless of document length.
    toks = (
        fanout(df.select(F.col(id_col), tokens_col(text_col).alias("_toks")))
        .select(F.col(id_col), F.explode("_toks").alias("_tok"))
        .select(F.col(id_col), F.md5(F.col("_tok").cast("binary")).alias("_h"))
    )
    coin_cols = [
        F.when(
            F.substring(F.col("_h"), j // 4 + 1, 1).isin(*_NIBBLE_BIT_SETS[j % 4]), F.lit(1)
        )
        .otherwise(F.lit(-1))
        .alias(f"_c{j}")
        for j in range(bits)
    ]
    sums = toks.select(F.col(id_col), *coin_cols).groupBy(id_col).agg(
        *[F.sum(f"_c{j}").alias(f"_s{j}") for j in range(bits)]
    )
    bit_exprs = [
        F.when(F.col(f"_s{j}") >= 0, F.lit("1")).otherwise(F.lit("0")) for j in range(bits)
    ]
    return sums.select(F.col(id_col), F.concat(*bit_exprs).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_hamming``.

    The standard 64-bit construction: split each signature into ``bands``
    equal chunks (16 bits each) and hash-join docs sharing any chunk — the
    Hamming analog of MinHash banding, with *guaranteed* recall when
    ``max_hamming < bands`` (pigeonhole: k flipped bits can't touch all k+1
    bands). Candidates are then verified with the exact per-bit distance,
    so the output has no false positives. Chunk width is the selectivity
    knob: 16-bit chunks collide at ~2^-16 per band for unrelated docs, so
    the candidate set stays near-linear in corpus size.

    At scale: both sides shuffle only (id, sig-string) rows keyed by the
    band chunk; a degenerate all-same-signature corpus is pre-collapsed by
    :func:`exact_dedup`, which bounds chunk skew.
    """
    if bits % bands:
        raise ValueError("bits must divide evenly into bands")
    if max_hamming >= bands:
        raise ValueError("full recall requires max_hamming < bands")
    width = bits // bands
    # Persist: the signature build (token explode + `bits` sum-aggs) is the
    # expensive subtree and both self-join branches need it. One row of
    # (id, bits-char string) per doc — tiny relative to the corpus.
    sig = current_scope().persist(simhash(df, text_col, id_col, bits))
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.substring("simhash", b * width + 1, width).alias("chunk"),
        )
        for b in range(bands)
    ]
    # Pack the bit-string into 32-bit ints up front so the per-candidate
    # Hamming distance is bit_count(xor) — a handful of JVM ops — instead of
    # `bits` per-row substring compares (measured ~30× slower).
    n_words = (bits + 31) // 32
    word_cols = [
        F.conv(F.substring("simhash", w * 32 + 1, 32), 2, 10).cast("long").alias(f"w{w}")
        for w in range(n_words)
    ]
    buckets = sig.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*band_cols)).alias("bb")
    ).select(
        F.col(id_col),
        F.col("bb.band").alias("band"),
        F.col("bb.chunk").alias("chunk"),
        *word_cols,
    )
    # shuffle_hash hint: both sides are corpus-sized (docs × bands rows),
    # so a broadcast is never right — but Catalyst's static estimate
    # through the unmaterialized signature cache claims one side fits (the
    # same misplan class fixed on containment/jaccard/minhash; flagged by
    # scripts/broadcast_audit.py). Hash, not merge: 16-bit chunks collide
    # at ~2^-16 for unrelated docs and exact_dedup pre-collapses identical
    # signatures (documented precondition), so per-partition builds stay
    # tiny and we skip two corpus-sized sorts.
    a = buckets.hint("shuffle_hash").alias("a")
    b = buckets.alias("b")
    # Packed signatures ride along through the join, so verification needs
    # no extra join back to `sig`.
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            *[F.col(f"a.w{w}").alias(f"aw{w}") for w in range(n_words)],
            *[F.col(f"b.w{w}").alias(f"bw{w}") for w in range(n_words)],
        )
        .distinct()
    )
    hamming = sum(
        F.bit_count(F.col(f"aw{w}").bitwiseXOR(F.col(f"bw{w}"))) for w in range(n_words)
    )
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 25,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Cluster near-duplicate pairs into groups: ``(doc_id, cluster_id)``
    with cluster_id = the smallest doc id in the connected component.

    Distributed min-label propagation: each round every node adopts the
    minimum label among itself and its neighbors (one join + one min-agg per
    round), converging in O(graph diameter) rounds — near-dup graphs are
    unions of small cliques, so diameter is tiny. The driver loop only
    checks a changed-row count per round; all data stays distributed.
    Persist + unpersist per round keeps lineage and memory bounded.

    Shuffle sizing: every join/agg input is explicitly ``repartition(
    graph_parts, key)`` — the propagation runs at graph scale (edge-list
    sized, ~1M edges per partition) regardless of the session's corpus-scale
    ``spark.sql.shuffle.partitions``, and because both sides of each join
    and the agg share the same hash partitioning Catalyst inserts no extra
    exchanges. (An earlier version set the session conf around the loop,
    which silently resized any concurrent query on the session — explicit
    per-plan partitioning is safe for shared sessions.)

    The oracle replays the same semantics as a recursive CTE (reachable-set
    minimum), so the iterative distributed algorithm is checked against a
    declarative single-node one.
    """
    if checkpoint_mode not in ("local", "reliable"):
        raise ValueError(f"checkpoint_mode must be 'local' or 'reliable', got {checkpoint_mode!r}")
    scope = current_scope()
    # Materialize the pair list ONCE before mirroring: the union references
    # `e` twice, and without a populated cache both branches would re-run the
    # (expensive) candidate-generation lineage that produced `pairs`.
    e = scope.persist(pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")))
    n_edges = e.count()
    graph_parts = max(2, min(2048, n_edges // 1_000_000 + 2))

    edges = scope.persist(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition(graph_parts, "v")
    )
    labels = scope.persist(
        edges.select("u")
        .repartition(graph_parts, "u")
        .distinct()  # reuses the hash partitioning — no second exchange
        .withColumn("lbl", F.col("u"))
    )
    # "reliable": per-round truncation goes through checkpoint() into the
    # session's checkpoint dir — survives executor preemption; see
    # graph.pagerank for the trade-off discussion.
    ck = LocalCheckpointer(reliable=(checkpoint_mode == "reliable"))
    for i in range(max_iters):
        # labels is hash-partitioned on u; the rename to v keeps the
        # partitioning attribute, so this join matches edges' partitioning.
        neighbor = (
            edges.join(labels.select(F.col("u").alias("v"), "lbl"), "v")
            .select("u", "lbl")
        )
        # Rolling localCheckpoint (not persist): truncates the per-round
        # lineage so round k's plan doesn't nest k joins deep (same trick
        # as graph.pagerank). The convergence check is FOLDED into the
        # round: the min-agg joins back the previous label (both sides
        # share the graph_parts hash partitioning on u — no extra
        # exchange) and the changed-count aggregate is the action that
        # materializes the lazy checkpoint — ONE job per round instead of
        # a materialize job plus a separate new-vs-old count join (r9;
        # the checkpointer keeps round k-1's blocks alive
        # while round k materializes from them).
        new_labels_plan = (
            labels.select("u", "lbl")
            .union(neighbor)
            .repartition(graph_parts, "u")
            .groupBy("u")
            .agg(F.min("lbl").alias("lbl"))
            .join(labels.select("u", F.col("lbl").alias("_old")), "u")
        )
        stepped = ck.step(new_labels_plan, eager=False)
        changed = stepped.filter(F.col("lbl") != F.col("_old")).count()
        if i == 0:
            scope.free(labels)  # round 0's persist; later rounds are
        labels = stepped.select("u", "lbl")  # checkpoint blocks, freed by ck.step()
        if changed == 0:
            break
    # The returned plan reads only the last checkpointed rounds, which the
    # scope frees when it exits.
    scope.free(edges)
    scope.free(e)
    return labels.select(F.col("u").alias("doc_id"), F.col("lbl").alias("cluster_id")).orderBy(
        "doc_id"
    )


def incremental_minhash_pairs(
    incoming: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dups of ``incoming`` docs against an existing ``corpus`` — the
    production dedup shape: each new crawl/batch is checked against the
    already-indexed corpus without re-comparing corpus-vs-corpus.

    Same banded-minhash machinery as :func:`minhash_lsh_pairs`, but the
    candidate join is incoming-buckets ⋈ corpus-buckets (not a self-join),
    so work scales with |incoming| × collision-rate, not |corpus|². On a
    real deployment the corpus side's signatures/buckets are precomputed
    and stored; here they're derived on the fly from the corpus table.

    Returns (incoming_id, corpus_id, jaccard) pairs ≥ threshold.
    """
    rows = num_hashes // bands

    def _buckets_and_arrays(df: DataFrame):
        arr = _shingle_arrays(df, text_col, id_col, n)
        sig = minhash_signatures(df, text_col, id_col, n, num_hashes)
        band_cols = [
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|", *[F.col(f"mh{b * rows + r}") for r in range(rows)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
        buckets = sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")).select(
            F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )
        return buckets, arr

    in_b, in_arr = _buckets_and_arrays(incoming)
    co_b, co_arr = _buckets_and_arrays(corpus)
    # The delta side broadcasts EXPLICITLY (its boundedness is this
    # operator's contract — each crawl batch vs the corpus), and the
    # corpus sides carry shuffle hints: without them Catalyst's static
    # estimate through the unmaterialized caches decides which side is
    # "small", and on a different corpus that guess can flip to
    # broadcasting the corpus (the misplan class fixed on containment —
    # scripts/broadcast_audit.py). Declared intent instead of estimated.
    candidates = (
        F.broadcast(in_b).alias("i")
        .join(co_b.alias("c"), ["band", "bucket"])
        .select(
            F.col(f"i.{id_col}").alias("incoming_id"),
            F.col(f"c.{id_col}").alias("corpus_id"),
        )
        .distinct()
    )
    # Verify arrays ride as 64-bit hashes on both sides (identical distinct
    # counts): the corpus arrays are the one big exchange here.
    def _hashed(arr: DataFrame) -> DataFrame:
        return arr.select(
            F.col(id_col), F.transform("sh_arr", lambda s: F.xxhash64(s)).alias("sh_arr"), "n_sh"
        )

    sa = _hashed(in_arr).select(
        F.col(id_col).alias("incoming_id"), F.col("sh_arr").alias("_sh_a"), F.col("n_sh").alias("n_a")
    )
    sb = _hashed(co_arr).select(
        F.col(id_col).alias("corpus_id"), F.col("sh_arr").alias("_sh_b"), F.col("n_sh").alias("n_b")
    )
    verified = (
        candidates.join(F.broadcast(sa), "incoming_id")
        .join(sb.hint("shuffle_hash"), "corpus_id")
        .withColumn("common", F.size(F.array_intersect("_sh_a", "_sh_b")))
    )
    jac = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    return (
        verified.filter(jac >= threshold)
        .select("incoming_id", "corpus_id", F.round(jac, 4).alias("jaccard"))
        .orderBy("incoming_id", "corpus_id")
    )


def keep_best_per_cluster(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    length_col: str = "n_chars",
) -> DataFrame:
    """Canonical-document selection: per near-dup cluster, keep the longest
    doc (ties → smallest id) and report what the dedup pass drops.

    This is the decision stage a curation pipeline runs after clustering —
    "which copy survives". Join the (small) cluster assignment back to the
    docs on id, one window ranked within cluster, one count: output is one
    row per cluster with the canonical id and how many copies it absorbs.

    Scale: the join is key-equi on the doc id (clusters ≪ corpus, so AQE
    broadcasts it locally; on a cluster it hash-joins co-partitioned by
    id); the window partitions by cluster_id — near-dup clusters are small
    cliques, so no reducer hot-spot.
    """
    from pyspark.sql.window import Window

    member = clusters.join(
        docs.select(id_col, length_col), on=id_col, how="inner"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc(length_col), F.asc(id_col)
    )
    ranked = member.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("_rn") == 1, F.col(id_col))).alias("canonical_doc_id"),
            F.max(F.when(F.col("_rn") == 1, F.col(length_col))).alias("canonical_len"),
            F.count(F.lit(1)).alias("cluster_size"),
            (F.count(F.lit(1)) - 1).alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


def pair_source_matrix(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Duplicate-flow matrix: near-dup pairs rolled up by (source, source).

    The train/test-leakage report a curation pipeline runs after candidate
    generation: off-diagonal cells are duplicates *across* corpora (the
    dangerous kind), the diagonal is intra-corpus redundancy. Pair ends are
    ordered least/greatest so (A,B) and (B,A) land in one cell.

    Plan: the pair list is orders of magnitude smaller than the corpus, so
    both source lookups are plain equi-joins of the tiny pair table against
    the (id → source) projection — with AQE they broadcast the pair side —
    then a hash-agg on the |sources|² cell space.
    """
    src = docs.select(F.col(id_col), F.col(source_col))
    a = src.select(
        F.col(id_col).alias("doc_a"), F.col(source_col).alias("_src_a")
    )
    b = src.select(
        F.col(id_col).alias("doc_b"), F.col(source_col).alias("_src_b")
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .groupBy(
            F.least("_src_a", "_src_b").alias("source_x"),
            F.greatest("_src_a", "_src_b").alias("source_y"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("source_x", "source_y")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 50,
) -> DataFrame:
    """Asymmetric near-duplicate pairs by shingle CONTAINMENT
    (``common / min(n_a, n_b)``): catches a short document embedded inside
    a long one — quotes, boilerplate wrappers, chunk-of-another-doc — which
    Jaccard misses because the union is dominated by the long side.

    Same prefix-filtered plan as :func:`ngram_jaccard_pairs` (see
    :func:`_prefix_verified_common`): containment/min ≥ t bounds the
    required common count by the SMALLER doc's size, so the pigeonhole
    prefix argument applies directly (no length-ratio prune — a tiny doc
    inside a huge one is exactly the pair this operator exists to catch).
    At t=0.8 the prefix is the rarest ~20% of each doc's shingles, a ~5×
    cut in candidate-join fanout on top of removing hot shingles entirely.
    Shingles ride as 64-bit hashes end-to-end (``hashed=True``): the
    verify joins shuffle each doc's full shingle set once, and 8-byte
    keys make that exchange (and the array_intersect) ~4× cheaper than
    strings with identical count semantics.

    ``max_shingle_freq`` — the DEFAULT is the star-capped mode (r8
    verdict #1; see :func:`_starcap_verified_common`): prefix filtering
    bounds the candidate JOIN but not the pair OUTPUT, which is quadratic
    in clone count (a 100-replica clique is 4,950 qualifying pairs each
    shipping two full shingle arrays through the verify shuffle —
    measured ENOSPC ~80 GB at sf10). The star cap bounds both. Pass
    ``max_shingle_freq=None`` for the exact prefix-filtered all-pairs
    contract (the registry's ``dedup_containment`` pins this
    explicitly); the capped mode is oracle-gated at its own semantics by
    ``dedup_containment_capped``.
    """
    arr = _shingle_arrays(df, text_col, id_col, n, hashed=True)
    common = (
        _starcap_verified_common(arr, id_col, max_shingle_freq)
        if max_shingle_freq is not None
        else _prefix_verified_common(arr, id_col, threshold)
    )
    cont = F.col("common") / F.least(F.col("n_a"), F.col("n_b"))
    return (
        common.filter(cont >= threshold)
        .select("doc_a", "doc_b", F.round(cont, 4).alias("containment"))
        .orderBy("doc_a", "doc_b")
    )


def edit_distance_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_chars: int = 32,
    max_dist: int = 40,
) -> DataFrame:
    """Near-duplicate pairs by bounded edit distance with prefix blocking:
    only documents sharing their first ``block_chars`` characters (after
    trim) are compared; the banded-threshold Levenshtein verifies within
    the block. Result-preserving prunes before the kernel: distance ≥ the
    length difference, and the threshold form runs O(len·k) instead of
    the full O(len²) table.

    The three localCheckpoints are deliberate optimization BARRIERS, each
    stopping a Catalyst rewrite that serializes or repeats the ~1 ms/pair
    kernel (what they materialize is the bounded candidate/scored pair
    list, tiny next to the corpus):

    - after the join: without it the distance filter is pushed into the
      join condition ahead of the cheap conjuncts, running the kernel ~3×
      per candidate (13.5 s → 2.5 s at sf0.1);
    - after the fanout exchange + after the kernel projection: without
      these, PushDownPredicates pushes the distance FILTER (substituting
      the Levenshtein expression for its alias, once per conjunct)
      through the repartition — projections stay above a repartition, but
      filters do not — so every pair is scored 2-3× on the join's few
      output partitions and the fan-out spreads only the survivors; the
      kernel ran 2-wide regardless of cluster size (the sf1.0 scaling
      outlier: 312 s, of which ~310 was two cores churning Levenshtein).
      The post-projection barrier also guarantees exactly one evaluation
      per pair.

    Combined at sf1.0 (in-bench): 312.5 s → 8.7 s for identical output."""
    b = docs.select(
        F.col(id_col).alias("_id"),
        F.trim(text_col).alias("_t"),
        F.length(F.trim(text_col)).alias("_len"),
        F.substring(F.trim(text_col), 1, block_chars).alias("_blk"),
    )
    a, bb = b.alias("a"), b.alias("b")
    pairs = (
        a.join(
            bb,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._id") < F.col("b._id"))
            & (F.abs(F.col("a._len") - F.col("b._len")) <= max_dist),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._t").alias("_ta"),
            F.col("b._t").alias("_tb"),
        )
    )
    scope = current_scope()
    pairs = scope.checkpoint(pairs)
    work = fanout(pairs)
    if work is not pairs:
        work = scope.checkpoint(work)
    scored = scope.checkpoint(
        work.select(
            "id_a",
            "id_b",
            F.levenshtein("_ta", "_tb", max_dist).cast("long").alias("edit_dist"),
        )
    )
    # The full-text pair lists behind the first two barriers are superseded
    # the moment `scored` materializes — free them now instead of at scope
    # exit (each holds every candidate's _ta/_tb text); `scored` itself
    # (three narrow columns) lives until the scope exits.
    scope.free(pairs)
    scope.free(work)
    return scored.filter(
        (F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist)
    )
