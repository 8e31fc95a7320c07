"""Text-analysis operators for training-data pipelines.

Language-ID, quality scoring, token counting, and document fingerprinting over
a ``documents(doc_id, text, …)`` table. Everything here is built from
``pyspark.sql.functions`` — array/lambda/regexp expressions that stay inside
whole-stage codegen. No Python UDFs anywhere in this module: at 100 TB a
per-row Python hop on the documents table is the difference between minutes
and days.

Scale notes: all operators are embarrassingly parallel per-document projections
(no shuffle at all until an optional rollup), so they scale linearly with
input splits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafkasparkstream_spark.util import current_scope

#: Tiny per-language stopword lists for the n-gram/stopword language heuristic.
#: Ordered dict — ties resolve to the first language listed.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en": ("the", "a", "of", "and", "is", "to", "in", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "est", "un", "une", "dans"),
    "zh": ("de", "le", "shi", "bu", "wo", "you", "zai", "ta"),
}

#: Stopwords used by the quality score (density of function words is a cheap
#: fluency signal).
QUALITY_STOPWORDS: tuple[str, ...] = LANG_STOPWORDS["en"]

#: "BPE-ish" token pattern: runs of letters, runs of digits, or a single
#: non-alphanumeric symbol — approximates subword pre-tokenization.
BPE_TOKEN_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def tokens_col(text_col: str = "text") -> Column:
    """Whitespace tokenization as a column expression."""
    return F.split(F.trim(F.col(text_col)), " +")


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token counts: whitespace tokens and BPE-ish regex tokens."""
    return df.select(
        "doc_id",
        F.size(tokens_col(text_col)).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_PATTERN), 0)).alias(
            "bpe_tokens"
        ),
        F.length(F.col(text_col)).alias("n_chars_measured"),
    )


def quality_col(text_col: str = "text") -> Column:
    """The composite quality score as a pure COLUMN expression (the same
    4dp value ``quality_score`` emits). Exists so consumers that need
    quality next to other columns of the same row (training pipeline,
    weighted sampling) can compute it inline in their scan projection
    instead of calling :func:`quality_score` and self-joining the corpus
    back on doc_id — the join re-scans the fact table and pays an
    exchange for a value that is a per-row function of ``text_col``
    (guide §2.4: remove shuffles outright)."""
    toks = tokens_col(text_col)
    sw = F.array([F.lit(w) for w in QUALITY_STOPWORDS])
    n = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.round(
        F.least(n / F.lit(64.0), F.lit(1.0))
        * (F.lit(0.5) + F.lit(0.5) * F.least(n_stop / F.greatest(n * F.lit(0.05), F.lit(1.0)), F.lit(1.0)))
        * (n_uniq / n),
        4,
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality signals per document.

    - ``n_tokens`` / ``n_uniq_tokens`` — length and lexical diversity
    - ``stopword_ratio`` — density of English function words
    - ``avg_token_len`` — degenerate tokens (too short/long) signal noise
    - ``uniq_ratio`` — near-1.0 means no repetition; near-0 means boilerplate
    - ``quality`` — composite in [0,1]: diversity × stopword presence × a
      length band, a rough analog of published heuristic filters (e.g. C4's
      length/stopword rules). Needed standalone? :func:`quality_col` is the
      same value as a column expression.
    """
    toks = tokens_col(text_col)
    sw = F.array([F.lit(w) for w in QUALITY_STOPWORDS])
    n = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    # Sum of token lengths == length of the separator-less concat — a
    # whole-stage-codegen intrinsic instead of an interpreted ArrayAggregate
    # fold (CodegenFallback island splitting the projection's codegen span);
    # exact integer arithmetic either way, so the 4dp round is bit-identical.
    avg_len = F.round(
        F.length(F.concat_ws("", toks)).cast("double") / n,
        4,
    )
    stop_ratio = F.round(n_stop / n, 4)
    uniq_ratio = F.round(n_uniq / n, 4)
    quality = quality_col(text_col)
    return df.select(
        "doc_id",
        n.alias("n_tokens"),
        n_uniq.alias("n_uniq_tokens"),
        avg_len.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        uniq_ratio.alias("uniq_ratio"),
        quality.alias("quality"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-overlap language identification.

    Scores each language by the number of token occurrences hitting its
    stopword list; predicts the argmax (ties → first language in
    ``LANG_STOPWORDS`` order; all-zero → 'unknown'). A real deployment would
    swap in character-n-gram profiles; the operator shape (pure column
    expressions, argmax over per-language scores) is the scalable part.
    """
    toks = tokens_col(text_col)
    out = df.select("doc_id", "lang", toks.alias("_toks"))
    score_cols = []
    for lang, words in LANG_STOPWORDS.items():
        arr = F.array([F.lit(w) for w in words])
        col_name = f"score_{lang}"
        out = out.withColumn(
            col_name, F.size(F.filter(F.col("_toks"), lambda t: F.array_contains(arr, t)))
        )
        score_cols.append((lang, col_name))
    best = F.greatest(*[F.col(c) for _, c in score_cols])
    pred = F.lit("unknown")
    # Build CASE in reverse so earlier languages win ties.
    for lang, col_name in reversed(score_cols):
        pred = F.when((F.col(col_name) == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return out.withColumn("pred_lang", pred).drop("_toks")


def shingles_col(text_col: str = "text", n: int = 3) -> Column:
    """Word n-gram shingles as an array column (empty if doc shorter than n).

    Built as n−1 chained ``zip_with``s over shifted slices (position i
    concatenates toks[i..i+n-1]) — whole-array vectorized ops instead of a
    per-position index lambda with n ``element_at`` probes; same output
    strings, ~2× less build CPU on long documents.
    """
    toks = tokens_col(text_col)
    m = F.size(toks) - (n - 1)
    acc = F.slice(toks, 1, m)
    for j in range(2, n + 1):
        acc = F.zip_with(
            acc, F.slice(toks, j, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(F.size(toks) >= n, acc).otherwise(
        F.array().cast("array<string>")
    )


def token_hashes_col(text_col: str = "text") -> Column:
    """Per-token xxhash64 array — materialize this with ``withColumn``
    BEFORE building shingle hashes so each token is hashed once, not once
    per shingle position."""
    return F.transform(tokens_col(text_col), lambda t: F.xxhash64(t))


def shingle_hashes_col(th_col: Column, n: int) -> Column:
    """64-bit word-n-gram shingle keys from a materialized token-hash array:
    each position combines its n consecutive token hashes with a
    rotate-5-xor mix (order-sensitive, pure bitwise → no ANSI overflow).

    Equivalent to distinct/join semantics on the shingle *strings* —
    collision odds are ~|shingles|²/2⁶⁵ — while never materializing them:
    a hashed shingle is 8 bytes instead of ~n·avg_token_len, which cuts
    both the build CPU (no concat) and every downstream exchange that
    carries shingles. Empty array for docs shorter than n tokens.
    """
    def _mix(acc: Column, h: Column) -> Column:
        return (
            F.shiftleft(acc, 5)
            .bitwiseOR(F.shiftrightunsigned(acc, 59))
            .bitwiseXOR(h)
        )

    # n-1 chained zip_withs over shifted slices: position i combines
    # th[i..i+n-1] left-to-right, identical to a per-position fold (the
    # fold's zero mixes to h itself) but as whole-array vectorized ops —
    # no per-position slice allocation.
    m = F.size(th_col) - (n - 1)
    acc = F.slice(th_col, 1, m)
    for j in range(2, n + 1):
        acc = F.zip_with(acc, F.slice(th_col, j, m), _mix)
    return F.when(F.size(th_col) >= n, acc).otherwise(
        F.array().cast("array<bigint>")
    )


def doc_fingerprint(
    df: DataFrame, text_col: str = "text", n: int = 3, k: int = 5
) -> DataFrame:
    """Min-k shingle-hash fingerprint (a deterministic rolling-hash analog).

    md5 each word-``n``-gram, keep the ``k`` lexicographically smallest
    digests, join with '|'. Documents sharing most content produce identical
    or near-identical fingerprints; used as a cheap containment-dedup key.
    """
    from kafkasparkstream_spark.util import fanout

    sh = shingles_col(text_col, n)
    hashed = F.array_sort(F.transform(sh, lambda s: F.md5(s.cast("binary"))))
    fp = F.concat_ws("|", F.slice(hashed, 1, k))
    # Row-local min-k (no shuffle of shingle hashes — at scale that matters
    # more than the fanout's one small repartition of raw docs).
    return fanout(df.select("doc_id", text_col)).select("doc_id", fp.alias("fingerprint"))


def normalize_text_col(text_col: str = "text") -> Column:
    """Canonical text normalization for dedup/fingerprint pre-processing:
    lowercase → strip non-alphanumerics to spaces → collapse whitespace →
    trim. Pure Catalyst expressions (SQL twin: lower / regexp_replace /
    trim), so it runs inside codegen and is reproducible in any engine."""
    lowered = F.lower(F.col(text_col))
    alnum = F.regexp_replace(lowered, "[^a-z0-9]+", " ")
    return F.trim(F.regexp_replace(alnum, " +", " "))


def normalize_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document normalized text + before/after size accounting (the
    shrinkage ratio is a cheap corpus-quality signal)."""
    norm = normalize_text_col(text_col)
    return df.select(
        "doc_id",
        F.length(F.col(text_col)).alias("raw_chars"),
        F.length(norm).alias("norm_chars"),
        norm.alias("norm_text"),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """BM25 keyword retrieval over the corpus: score =
    Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl)), idf = ln((N-df+0.5)/(df+0.5)+1).

    Plan: ONE tokenize pass — a narrow per-document projection computes
    the length and each query term's in-array count (higher-order
    ``filter``, no explode, no fact shuffle at all), materialized once so
    its three consumers (corpus stats, per-term df, scoring) never re-run
    the tokenizer. The checkpoint doubles as the pushdown barrier: the
    ``tf > 0`` filter on the melted rows cannot be substituted below the
    fan-out exchange. Downstream is doc-count-sized: a |terms|-row df
    broadcast and a 1-row (N, avgdl) broadcast. Scores are deterministic
    closed-form arithmetic, so the DuckDB oracle reproduces them
    bit-for-bit at the 4dp grid.
    """
    from kafkasparkstream_spark.util import fanout

    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    def _eq(term: str):
        # NB: a 2-arg lambda would make F.filter pass the array INDEX as
        # the second argument — close over the term instead.
        return lambda x: x == F.lit(term)

    tf_cols = [
        F.size(F.filter("_toks", _eq(t))).alias(f"_tf_{i}")
        for i, t in enumerate(query_terms)
    ]
    per_doc = (
        fanout(df.select(F.col(id_col), tokens_col(text_col).alias("_toks")))
        .select(F.col(id_col), F.size("_toks").alias("dl"), *tf_cols)
        .transform(current_scope().checkpoint)
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    melted = F.array(
        *[
            F.struct(F.lit(t).alias("term"), F.col(f"_tf_{i}").alias("tf"))
            for i, t in enumerate(query_terms)
        ]
    )
    tf = (
        per_doc.select(F.col(id_col), F.col("dl"), F.explode(melted).alias("_p"))
        .select(id_col, "dl", F.col("_p.term").alias("term"), F.col("_p.tf").alias("tf"))
        .filter(F.col("tf") > 0)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_s",
            idf
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("_s"), 4).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), F.asc(id_col)).limit(top_k)


def tfidf_top_terms(df: DataFrame, text_col: str = "text", k: int = 1) -> DataFrame:
    """Per-document top-k terms by TF-IDF (idf = ln(N/df), no smoothing).

    Shape at scale: one explode → (doc, term) tf aggregate (shuffles on the
    composite key, map-side combined), a term-level df aggregate whose output
    is vocabulary-sized (broadcastable), and a 1-row corpus-count broadcast —
    so the fact-sized data shuffles exactly once. The top-k rank partitions
    by doc_id, reusing fine-grained parallelism; scores are rounded to the
    4dp grid *before* ranking so the rank order is identical in any engine.
    """
    from pyspark.sql.window import Window

    toks = df.select("doc_id", F.explode(tokens_col(text_col)).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = df.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("doc_freq")),
                4,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "doc_id", F.col("tok").alias("top_term"), "tf", "doc_freq", "tfidf"
        )
        .orderBy("doc_id")
    )


def decontamination_overlap(
    df: DataFrame,
    benchmark_sources: tuple[str, ...] = ("src0",),
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination scan: for every training document, the
    fraction of its distinct word n-grams (n=8, the published-eval
    convention) that also appear in any benchmark document — the score used
    to drop pretraining docs that leak eval data.

    Plan: both sides explode to distinct (doc, shingle) rows; the benchmark
    side collapses to a DISTINCT shingle set, which is tiny relative to the
    corpus (benchmarks are fixed-size while training corpora grow), so
    Catalyst/AQE broadcasts it and the training side never shuffles — the
    only exchange is the per-doc count aggregation, partial map-side. At
    100 TB of training text vs megabytes of benchmarks, that is the only
    shape that works.

    Shingles are 64-bit hashes (:func:`shingle_hashes_col`), never strings:
    8-gram strings average ~50 bytes and dominate both the build CPU and
    the broadcast size; the hash keys carry identical distinct/join
    semantics at 8 bytes (16.2 s → ~1 s at sf0.1 vs the string
    version).
    """
    from kafkasparkstream_spark.util import fanout

    is_bench = F.col("source").isin(*benchmark_sources)
    hashed = fanout(df.select(id_col, "source", F.col(text_col))).withColumn(
        "_th", token_hashes_col(text_col)
    )
    sh = F.explode(F.array_distinct(shingle_hashes_col(F.col("_th"), n))).alias("sh")
    train = hashed.filter(~is_bench).select(F.col(id_col), sh)
    bench = hashed.filter(is_bench).select(sh).distinct()
    return (
        train.join(bench.withColumn("_hit", F.lit(1)), "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_contaminated"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_contaminated",
            F.round(F.col("n_contaminated") / F.col("n_shingles"), 4).alias(
                "contamination_ratio"
            ),
        )
        .orderBy(id_col)
    )


def gopher_rule_matrix(
    df: DataFrame,
    group_col: str = "source",
    ntok_lo: int = 30,
    ntok_hi: int = 90,
    mwl_lo: float = 4.0,
    mwl_hi: float = 5.0,
    min_stopwords: int = 2,
    min_uniq_ratio: float = 0.4,
) -> DataFrame:
    """Gopher-style quality rule matrix (Rae et al. 2021, arXiv:2112.11446
    §A1.1 — public recipe): INDEPENDENT pass counts per rule per group, the
    diagnostic complement to `quality_filter_funnel`'s cumulative cascade.
    The funnel tells you what the pipeline keeps; the matrix tells you which
    rule is doing the cutting, per source — the report you read before
    re-weighting a 100 TB crawl mix.

    Rules (thresholds adapted to the corpus token scale, same measurement
    conventions as the funnel): word-count band, mean-word-length band,
    minimum stopword occurrences, minimum distinct-token ratio.

    One scan, pure column expressions, one |groups|-row exchange with
    map-side partials — per-rule counts are conditional sums, not one job
    per rule.
    """
    toks = tokens_col("text")
    n_tok = F.size(toks)
    mean_len = (F.length(F.trim(F.col("text"))) - (n_tok - 1)) / n_tok
    sw = F.array(F.lit("the"), F.lit("a"))
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    uniq_ratio = F.size(F.array_distinct(toks)) / n_tok
    r_wordcount = n_tok.between(ntok_lo, ntok_hi)
    r_meanlen = mean_len.between(mwl_lo, mwl_hi)
    r_stopwords = n_stop >= min_stopwords
    r_uniq = uniq_ratio >= min_uniq_ratio
    r_all = r_wordcount & r_meanlen & r_stopwords & r_uniq
    cnt = lambda c: F.sum(c.cast("long"))  # noqa: E731
    return (
        df.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            cnt(r_wordcount).alias("pass_wordcount"),
            cnt(r_meanlen).alias("pass_mean_word_len"),
            cnt(r_stopwords).alias("pass_stopwords"),
            cnt(r_uniq).alias("pass_uniq_ratio"),
            cnt(r_all).alias("pass_all"),
        )
        .withColumn("pass_rate", F.round(F.col("pass_all") / F.col("n_docs"), 4))
        .orderBy(group_col)
    )


def split_leakage_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    train_pct: int = 90,
    salt: str = "split0",
    broadcast_test: bool = True,
) -> DataFrame:
    """Train/test contamination audit for a hash-keyed split: for every TEST
    document, the fraction of its distinct word ``n``-grams that appear in
    ANY train document. The split itself is the engine-portable md5 bucket
    (same rule as ``sampling.dataset_split``), so the audit is reproducible
    under reprocessing and appends — the check you run before trusting held-out
    eval numbers on a deduplicated-but-not-decontaminated corpus.

    Plan: the train shingles LEFT SEMI against the test shingle set, so only
    train-shingles-also-in-test survive (bounded by the test set) and the
    train side is never collapsed to a global distinct. With
    ``broadcast_test=True`` (default) the test set and the survivor set are
    broadcast and the 100 TB train side never shuffles — RIGHT ONLY when the
    held-out side is a genuinely small eval slice. For a PROPORTIONAL split
    like this 90/10 (test = 10% of the corpus, which at 100 TB is 10 TB and
    must never broadcast), pass ``broadcast_test=False``: the semi join and
    the per-doc rejoin become ordinary shuffle hash joins partitioned on the
    shingle key — one extra exchange of the test side, same output.
    """
    from kafkasparkstream_spark.functions.hashing import hash_bucket
    from kafkasparkstream_spark.util import fanout

    is_train = hash_bucket(F.col(id_col), 100, salt) < train_pct
    hashed = fanout(df.select(id_col, text_col)).withColumn(
        "_th", token_hashes_col(text_col)
    )
    sh = F.explode(F.array_distinct(shingle_hashes_col(F.col("_th"), n))).alias("sh")
    test_sh = hashed.filter(~is_train).select(F.col(id_col), sh)
    train_sh = hashed.filter(is_train).select(sh)
    # Shuffle mode must HINT the partitioned join: without it, Catalyst's
    # static size estimate through the Generate-derived shingle sides still
    # lands under the auto-broadcast threshold at small SFs — the exact
    # misestimated-broadcast class scripts/broadcast_audit.py gates, and a
    # fact-sized broadcast at the 10%-of-corpus scale this mode exists for.
    maybe_bc = (
        F.broadcast if broadcast_test else (lambda d: d.hint("shuffle_hash"))
    )
    leaked = (
        train_sh.join(
            maybe_bc(test_sh.select("sh").distinct()), "sh", "left_semi"
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        test_sh.join(maybe_bc(leaked), "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_leaked"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_leaked",
            F.round(F.col("n_leaked") / F.col("n_shingles"), 4).alias("leak_ratio"),
        )
        .orderBy(id_col)
    )


def quality_filter_funnel(
    df: DataFrame,
    min_chars: int = 150,
    langs: tuple[str, ...] = ("en", "de", "fr", "es"),
    min_tokens: int = 30,
    mean_len_lo: float = 3.0,
    mean_len_hi: float = 12.0,
) -> DataFrame:
    """Survivor counts through a cumulative quality-filter cascade (the
    standard pretraining-corpus funnel report: how many docs each rule
    costs).

    One scan: every stage predicate is a column expression evaluated
    per-row, survivors counted with conditional sums in a single ungrouped
    aggregate (partial map-side, 1-row exchange), then unpivoted to
    (stage, n_docs) rows with ``stack`` — no self-joins, no second scan,
    no window. The same report at 100 TB costs exactly one pass.
    """
    toks = tokens_col("text")
    n_tok = F.size(toks)
    mean_len = (F.length(F.trim(F.col("text"))) - (n_tok - 1)) / n_tok  # avg token len
    s1 = F.col("n_chars") >= min_chars
    s2 = s1 & F.col("lang").isin(*langs)
    s3 = s2 & (n_tok >= min_tokens)
    s4 = s3 & mean_len.between(mean_len_lo, mean_len_hi)
    cnt = lambda c: F.sum(c.cast("long"))  # noqa: E731
    agg = df.agg(
        F.count(F.lit(1)).alias("c0"),
        cnt(s1).alias("c1"),
        cnt(s2).alias("c2"),
        cnt(s3).alias("c3"),
        cnt(s4).alias("c4"),
    )
    stages = agg.select(
        F.expr(
            "stack(5, 0, 'all', c0, 1, 'min_chars', c1, 2, 'lang_known', c2,"
            " 3, 'min_tokens', c3, 4, 'mean_word_len', c4) AS (stage, stage_name, n_docs)"
        ),
        F.col("c0").alias("_total"),
    )
    return stages.select(
        "stage",
        "stage_name",
        "n_docs",
        F.round(F.col("n_docs") / F.col("_total"), 4).alias("retention"),
    ).orderBy("stage")


def pii_scan_stats(df: DataFrame, group_col: str = "lang") -> DataFrame:
    """PII exposure report per group: how many documents match email / phone
    patterns, plus a short-token count as a populated control column (the
    synthetic corpus contains no PII, so the control proves the scan
    executes; on real crawl data the PII columns light up).

    Pure column-expression regex (`rlike` compiles once per task, evaluated
    in codegen) — a per-row Python UDF here would be the classic 100×
    slow-path mistake. One scan, one tiny per-group exchange. Patterns stay
    within the regex subset shared by Java and RE2 so any engine scores
    identically.
    """
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"[0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{4}"
    shortish = r"(^| )[a-z]{1,3}( |$)"  # control: 1-3 char lowercase token
    has = lambda p: F.sum(F.col("text").rlike(p).cast("long"))  # noqa: E731
    return (
        df.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            has(email).alias("docs_with_email"),
            has(phone).alias("docs_with_phone"),
            has(shortish).alias("docs_with_short_token"),
        )
        .select(
            group_col,
            "n_docs",
            "docs_with_email",
            "docs_with_phone",
            "docs_with_short_token",
            F.round(
                (F.col("docs_with_email") + F.col("docs_with_phone"))
                / F.col("n_docs"),
                4,
            ).alias("pii_doc_ratio"),
        )
        .orderBy(group_col)
    )


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Intra-document repetition signals (Gopher-style filter inputs).

    - ``dup_token_ratio`` — fraction of tokens that are repeats of an
      earlier token (1 − distinct/total); boilerplate and keyword-stuffed
      pages score high.
    - ``top_token_ratio`` — share of the single most frequent token; a
      page that is one word repeated scores ~1.0.
    - ``dup_bigram_ratio`` — same for adjacent-token bigrams, the
      published repetition rule that catches looping generations.

    Token stats (total / distinct / most-frequent counts) run as one
    explode + two keyed hash-aggs — linear with map-side partials, versus
    the O(u·n) per-row count-of-every-distinct-token lambda this replaces
    (measured 3.7 s → ~1 s at sf0.1). The bigram ratio stays a per-row
    ``array_distinct`` expression (linear, zero shuffle) and rides back on
    a doc-grain hash join. All inputs to every ratio are exact integers,
    so the 4-dp snap is engine-independent.
    """
    counts = (
        df.select("doc_id", F.explode(tokens_col(text_col)).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tok_stats = counts.groupBy("doc_id").agg(
        F.sum("c").alias("_n"),
        F.count(F.lit(1)).alias("_nu"),
        F.max("c").alias("_top"),
    )
    toks = tokens_col(text_col)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    n_bi = F.size(bigrams)
    n_bi_uniq = F.size(F.array_distinct(bigrams))
    bi = df.select(
        "doc_id",
        F.when(n_bi > 0, F.round(F.lit(1.0) - n_bi_uniq / n_bi, 4))
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_ratio"),
    )
    return tok_stats.join(bi, "doc_id").select(
        "doc_id",
        F.col("_n").cast("int").alias("n_tokens"),
        F.round(F.lit(1.0) - F.col("_nu") / F.col("_n"), 4).alias("dup_token_ratio"),
        F.round(F.col("_top") / F.col("_n"), 4).alias("top_token_ratio"),
        "dup_bigram_ratio",
    )


def token_length_histogram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-wide token-length distribution: for each whitespace-token
    length, total occurrences and distinct tokens of that length.

    Explode → hash-aggregate on a key space of ~30 lengths: the partial
    aggregate collapses each input split to ≤ |lengths| rows before the
    exchange, so the shuffle is O(splits × lengths) regardless of corpus
    size — the cheapest possible full-corpus histogram.
    """
    tok = F.explode(tokens_col(text_col)).alias("tok")
    return (
        df.select(tok)
        .groupBy(F.length("tok").cast("int").alias("token_len"))
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("tok").alias("n_distinct_tokens"),
        )
        .orderBy("token_len")
    )


def token_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Shannon entropy of the token distribution (bits).

    ``entropy = -Σ (c_u/n)·log2(c_u/n)`` over distinct-token counts —
    computed as the algebraically identical ``log2(n) - Σ c·log2(c) / n``
    so one explode + two keyed hash-aggs replace the per-row
    O(u·n) array-lambda scan (filter-count of every distinct token against
    the full token array): linear work, map-side partials, shuffles keyed
    by (doc, token) then doc (measured 15 s → ~1 s at sf0.1). Also emits
    the normalized ``entropy_ratio = entropy / log2(n_uniq)`` in [0,1]
    (NULL for single-token-vocabulary docs, where the ratio is 0/0) — low
    entropy flags boilerplate/looping text that raw dup-token ratios miss.
    """
    counts = (
        df.select("doc_id", F.explode(tokens_col(text_col)).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("_n"),
        F.count(F.lit(1)).alias("_nu"),
        F.sum(F.col("c") * F.log2("c")).alias("_clog"),
    )
    ent = F.log2(F.col("_n")) - F.col("_clog") / F.col("_n")
    return per_doc.select(
        "doc_id",
        F.col("_n").cast("int").alias("n_tokens"),
        F.col("_nu").cast("int").alias("n_uniq_tokens"),
        F.round(ent, 4).alias("entropy"),
        F.when(F.col("_nu") > 1, F.round(ent / F.log2(F.col("_nu").cast("double")), 4))
        .otherwise(F.lit(None).cast("double"))
        .alias("entropy_ratio"),
    )


def chunk_documents(
    df: DataFrame, text_col: str = "text", size: int = 64, stride: int = 48
) -> DataFrame:
    """Sliding-window document chunking — the pretokenization step every
    training pipeline runs before packing: split each doc into windows of
    ``size`` whitespace tokens advancing by ``stride`` (``size - stride``
    tokens of overlap between neighbors).

    The chunk plan is closed-form: the number of chunks is
    ``1 + ceil(max(0, n - size) / stride)``, chunk starts are the stride
    multiples, and ``chunk_idx = chunk_start / stride`` — so the whole
    operator is one ``sequence`` + ``posexplode`` projection with no
    shuffle, no state, and identical output on any engine or partitioning.
    At 100 TB the explode multiplies rows ~n/stride-fold inside the scan
    stage; downstream stages see the chunk grain directly.
    """
    toks = tokens_col(text_col)
    n = F.size(toks)
    # ceil(max(0, n - size) / stride) via integer arithmetic.
    n_extra = F.greatest(F.lit(0), n - F.lit(size))
    last_start = (
        F.floor((n_extra + F.lit(stride - 1)) / F.lit(stride)) * F.lit(stride)
    ).cast("int")
    starts = F.sequence(F.lit(0), last_start, F.lit(stride))
    return (
        df.select("doc_id", n.alias("n_tokens"), F.explode(starts).alias("chunk_start"))
        .select(
            "doc_id",
            (F.col("chunk_start") / F.lit(stride)).cast("int").alias("chunk_idx"),
            "chunk_start",
            F.least(F.lit(size), F.col("n_tokens") - F.col("chunk_start"))
            .cast("int")
            .alias("chunk_len"),
            "n_tokens",
        )
        .orderBy("doc_id", "chunk_idx")
    )


def top_bigrams_per_group(
    df: DataFrame, group_col: str = "lang", text_col: str = "text", k: int = 10
) -> DataFrame:
    """Top-k whitespace bigrams per group — the collocation report used to
    spot templated/boilerplate slices of a corpus.

    Bigrams are built row-local with ``zip_with`` over two shifted slices
    (pure codegen, no shuffle), then one explode feeds a hash aggregate on
    (group, bigram) — map-side partials collapse repeats before the only
    data-sized exchange. The ``row_number`` ranking runs per group over
    distinct-bigram cardinality, not corpus cardinality. Ties break on the
    bigram string so every engine ranks identically.
    """
    toks = tokens_col(text_col)
    bigrams = F.when(
        F.size(toks) > 1,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        df.select(F.col(group_col), F.explode(bigrams).alias("bigram"))
        .groupBy(group_col, "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("cnt"), F.asc("bigram"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .orderBy(group_col, "rnk")
    )


def vocab_jaccard_between_groups(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus slices (sources) — the
    curation matrix answering "which sources say the same things".

    Shape: one explode → distinct to the (group, token) grain, then a
    token-keyed self-join. Because the left/right sides are *distinct*
    (group, token) sets, each token matches at most |groups| rows per side,
    so the join fanout is bounded by |groups|² per token — never quadratic
    in corpus size. Per-group vocabulary sizes ride in on a broadcast.
    """
    vocab = (
        df.select(F.col(group_col).alias("grp"), F.explode(tokens_col(text_col)).alias("tok"))
        .distinct()
    )
    sizes = vocab.groupBy("grp").agg(F.count(F.lit(1)).alias("n_vocab"))
    a, b = vocab.alias("a"), vocab.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok")) & (F.col("a.grp") < F.col("b.grp")),
        )
        .groupBy(
            F.col("a.grp").alias("source_a"), F.col("b.grp").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("common_tokens"))
    )
    return (
        common.join(
            F.broadcast(sizes.withColumnRenamed("n_vocab", "vocab_a")),
            F.col("source_a") == F.col("grp"),
        )
        .drop("grp")
        .join(
            F.broadcast(sizes.withColumnRenamed("n_vocab", "vocab_b")),
            F.col("source_b") == F.col("grp"),
        )
        .drop("grp")
        .select(
            "source_a",
            "source_b",
            "vocab_a",
            "vocab_b",
            "common_tokens",
            F.round(
                F.col("common_tokens")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("common_tokens")),
                4,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def ngram_novelty(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Per-document novel n-gram rate: the fraction of a doc's distinct
    n-grams whose corpus-wide FIRST occurrence (minimum doc_id) is the doc
    itself — the "how much genuinely new text does each doc add" curve
    dataset builders plot against corpus position.

    Plan: the per-doc denominator (distinct-shingle count) is row-local
    (``size(array_distinct(...))``, no shuffle at all), so the only
    exploded traffic is ONE hash-agg to (shingle → min doc_id), re-aggregated
    to (doc → novel count) — the first-occurrence table never joins back to
    the exploded fact. Shingles are 64-bit hashes
    (:func:`shingle_hashes_col`), not strings, so the one data-sized
    exchange carries 8-byte keys. Compared to the explode→agg→join-back
    shape this removes the join AND a second full explode shuffle
    (~14 s → ~2.4 s at sf0.1, with the corpus fanned out so the
    shingle-hash projection uses every core).
    """
    from kafkasparkstream_spark.util import fanout

    # fanout: shingle hashing is the expensive projection and the corpus
    # may arrive as one split; both downstream branches inherit the spread.
    # The barrier matters too: hashed feeds TWO consumers (the row-local
    # denominator and the exploded min-doc agg) — without lineage
    # truncation each consumer re-runs the tokenize+shingle projection
    # over the full corpus (the same multi-consumer recompute class as
    # the kNN kernels, just expression-level); eager=False keeps query
    # construction execution-free for plan audits.
    hashed = (
        fanout(df.select("doc_id", F.col(text_col)))
        .withColumn("_th", token_hashes_col(text_col))
        .withColumn("_sh", F.array_distinct(shingle_hashes_col(F.col("_th"), n)))
        .drop(text_col, "_th")
        .transform(current_scope().checkpoint, eager=False)
    )
    base = hashed.select(
        "doc_id", F.size("_sh").cast("long").alias("n_shingles")
    ).filter(F.col("n_shingles") > 0)
    sh = hashed.select("doc_id", F.explode("_sh").alias("sh"))
    novel = (
        sh.groupBy("sh")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_n_novel"))
    )
    return (
        base.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("_n_novel"), F.lit(0)).alias("n_novel"),
            F.round(
                F.coalesce(F.col("_n_novel"), F.lit(0)) / F.col("n_shingles"), 4
            ).alias("novelty_ratio"),
        )
        .orderBy("doc_id")
    )


def token_fertility_by_lang(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Tokenizer-fertility report per language: BPE-ish subword tokens per
    whitespace word and characters per subword token — the numbers that
    decide how expensive each language is to train on under a given
    tokenizer.

    Pure projection (two regexp/size expressions) plus one hash-agg to
    |languages| rows; ratios aggregate from exact integer counts.
    """
    ws = F.size(tokens_col(text_col))
    bpe = F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_PATTERN), 0))
    return (
        df.select(
            "lang",
            ws.alias("_ws"),
            bpe.alias("_bpe"),
            F.length(F.col(text_col)).alias("_chars"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_ws").alias("ws_tokens"),
            F.sum("_bpe").alias("bpe_tokens"),
            F.round(F.sum("_bpe") / F.sum("_ws"), 4).alias("fertility"),
            F.round(F.sum("_chars") / F.sum("_bpe"), 4).alias("chars_per_bpe_token"),
        )
        .orderBy("lang")
    )


def unigram_logprob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document mean token log2-probability under the corpus's own
    unigram (MLE) distribution — the classic cheap "perplexity-lite" quality
    signal: word-salad and boilerplate score low, fluent text scores high
    (no external LM needed; the corpus is its own model).

    Shape at scale: one explode → (doc, token) tf aggregate (the ONLY
    fact-sized shuffle, map-side combined on the composite key), a
    vocabulary-sized token-count rollup derived FROM that aggregate (never a
    second scan of the corpus), a 1-row total broadcast, and a broadcast join
    of tf against the vocab — natural-language vocabularies are Zipfian, so
    the distinct-token table is millions of rows against trillions of corpus
    tokens and broadcasting it keeps the scoring join shuffle-free.
    """
    from kafkasparkstream_spark.util import fanout

    tf = (
        fanout(df.select("doc_id", F.col(text_col)))
        .select("doc_id", F.explode(tokens_col(text_col)).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        # Barrier: tf has TWO consumers (the vocab rollup and the scoring
        # join probe) whose differing column pruning defeats exchange reuse
        # — without it the explode+aggregate re-runs and the corpus is
        # scanned twice (measured sf1.0: 7.1→3.4 s cold, 2.0→1.5 s warm).
        .transform(current_scope().checkpoint, eager=False)
    )
    vocab = tf.groupBy("tok").agg(F.sum("c").alias("vc"))
    total = vocab.agg(F.sum("vc").cast("double").alias("n"))
    return (
        tf.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("c") * F.log2(F.col("vc") / F.col("n"))) / F.sum("c"), 4
            ).alias("mean_logprob"),
            F.sum("c").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


def duplicated_span_stats(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Per-document duplicated-span rate: the fraction of a doc's distinct
    n-gram spans that also occur in at least one OTHER document — the
    complement of :func:`ngram_novelty` (which credits first occurrences)
    and the per-doc evidence behind span-level dedup decisions: a doc whose
    spans mostly exist elsewhere is a stitch-up of other documents even when
    no single pairwise Jaccard crosses the near-dup bar.

    Plan: one explode of distinct 64-bit shingle hashes, a map-side-combined
    count to (shingle → n_docs), and a shuffle-hash join back on the same
    8-byte key — Catalyst reuses the explode's exchange for both the
    aggregate and the join side (ReusedExchange), so the fact-sized data
    moves once and is hash-probed, never sorted. The previous plan used a
    window count over the shingle key instead: same single exchange, but
    WindowExec must SORT the full exploded table by shingle (25M rows at
    sf1.0) — measured 8.1 s vs 1.6-2.2 s warm for this plan. The barrier
    on ``hashed`` stops the tokenize+shingle projection from re-running
    for the join's second consumer (same class as ngram_novelty).
    """
    from kafkasparkstream_spark.util import fanout

    hashed = (
        fanout(df.select("doc_id", F.col(text_col)))
        .withColumn("_th", token_hashes_col(text_col))
        .withColumn("_sh", F.array_distinct(shingle_hashes_col(F.col("_th"), n)))
        .drop(text_col, "_th")
        .transform(current_scope().checkpoint, eager=False)
    )
    sh = hashed.select("doc_id", F.explode("_sh").alias("sh"))
    # distinct-per-doc explode ⇒ count(*) over the shingle == #docs containing it
    freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("n_docs"))
    per_span = sh.join(freq.hint("shuffle_hash"), "sh")
    return (
        per_span.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("n_docs") > 1).cast("long")).alias("n_duplicated"),
            F.round(
                F.sum((F.col("n_docs") > 1).cast("long")) / F.count(F.lit(1)), 4
            ).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


def dsir_importance(
    df: DataFrame, text_col: str = "text", target_lang: str = "en"
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023)
    weights under hashed-bigram bag-of-words models: per document, the mean
    per-occurrence log2 likelihood ratio between a *target* distribution
    (here: the ``target_lang`` slice of the corpus itself) and the *raw*
    distribution (the whole corpus), both add-1 smoothed over the raw
    bigram vocabulary. Documents whose n-gram profile looks like the target
    get weight > 0 and survive importance resampling; off-distribution
    documents score negative.

    Shape at scale (same skeleton as :func:`unigram_logprob`): ONE explode
    of 64-bit hashed bigrams → (doc, bigram) tf aggregate (the only
    fact-sized shuffle, map-side combined), a vocabulary-sized rollup with
    a conditional target-count (never a second corpus scan), a 1-row totals
    broadcast, and a broadcast join of tf against the vocab — Zipf keeps
    the bigram vocabulary broadcastable while the corpus is not. Keying
    counts on 64-bit shingle hashes instead of bigram strings halves the
    exchange width; collision odds ~|V|²/2⁶⁵ (see shingle_hashes_col).
    """
    from kafkasparkstream_spark.util import fanout

    base = (
        fanout(df.select("doc_id", "lang", F.col(text_col)))
        .withColumn("_th", token_hashes_col(text_col))
        .withColumn("_bg", shingle_hashes_col(F.col("_th"), 2))
        .drop(text_col, "_th")
    )
    tf = (
        base.select("doc_id", (F.col("lang") == target_lang).alias("is_t"),
                    F.explode("_bg").alias("g"))
        .groupBy("doc_id", "is_t", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        # Same two-consumer barrier as unigram_logprob: vocab rollup +
        # scoring join would otherwise each re-run the explode from the
        # scan (wash at sf1.0 wall — 7.3 vs 7.2 s warm — but one corpus
        # scan instead of two is the scale-governing term).
        .transform(current_scope().checkpoint, eager=False)
    )
    vocab = tf.groupBy("g").agg(
        F.sum("c").alias("rc"),
        F.sum(F.when(F.col("is_t"), F.col("c")).otherwise(F.lit(0))).alias("tc"),
    )
    totals = vocab.agg(
        F.sum("rc").cast("double").alias("R"),
        F.sum("tc").cast("double").alias("T"),
        F.count(F.lit(1)).cast("double").alias("V"),
    )
    return (
        tf.join(F.broadcast(vocab), "g")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            # + 0.0 normalizes IEEE -0.0 → +0.0: a doc whose weight is
            # ~±1e-12 (pure summation noise around an exactly-balanced
            # ratio) rounds to a SIGNED zero whose sign differs by engine
            # — found by the sf0.1 sweep, invisible at the sf0.01 gate.
            (
                F.round(
                    F.sum(
                        F.col("c")
                        * (
                            F.log2((F.col("tc") + 1) / (F.col("T") + F.col("V")))
                            - F.log2((F.col("rc") + 1) / (F.col("R") + F.col("V")))
                        )
                    )
                    / F.sum("c"),
                    4,
                )
                + F.lit(0.0)
            ).alias("dsir_weight"),
            F.sum("c").alias("n_bigrams"),
        )
        .orderBy("doc_id")
    )


def perplexity_buckets(df: DataFrame, text_col: str = "text") -> DataFrame:
    """CCNet-style perplexity bucketing: score every document with the
    corpus-unigram mean log2-probability (:func:`unigram_logprob`), then
    split each language into head / middle / tail terciles by that score
    (head = most fluent). CCNet buckets on a KenLM-perplexity percentile
    per language; the corpus's own unigram LM is the external-model-free
    analog, and the bucketing machinery — per-language ntile over a scored
    corpus — is identical.

    Scale: the scoring pass is unigram_logprob's plan; the tercile is one
    window over (lang) ordered by the 4dp-rounded score (rounding first
    makes the sort key reproducible across engines), then a 15-row rollup.
    A per-language range partition of a 100 TB corpus sorts each language's
    docs once — the same cost as any global ranking, and the result is a
    constant-size report.
    """
    scored = unigram_logprob(df, text_col).join(
        df.select("doc_id", "lang"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy(F.desc("mean_logprob"), F.asc("doc_id"))
    bucketed = scored.withColumn("_t", F.ntile(3).over(w)).withColumn(
        "bucket",
        F.when(F.col("_t") == 1, F.lit("head"))
        .when(F.col("_t") == 2, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
    return (
        bucketed.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("mean_logprob").alias("min_logprob"),
            F.max("mean_logprob").alias("max_logprob"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
        )
        .orderBy("lang", "bucket")
    )


def curriculum_difficulty_deciles(
    df: DataFrame, text_col: str = "text", distributed_threshold: int = 250_000
) -> DataFrame:
    """Curriculum-ordering report: rank documents by an integer-exact
    difficulty proxy (token count × distinct-token count — long, lexically
    diverse documents are "hard"; short repetitive ones are "easy") and
    roll up each decile. Curriculum schedulers consume exactly this: a
    difficulty-ordered manifest with per-decile token budgets.

    The proxy is a BIGINT product of two counts, so the decile boundaries
    are bit-reproducible on any engine — no float ordering anywhere. One
    narrow projection (difficulty per doc), then the size-adaptive exact
    global ntile (``windows.global_exact_ntile``: single window task below
    250k rows, range-partitioned sort + broadcast offsets above it — never
    a corpus-sized single-task sort), one 10-row rollup.
    """
    from kafkasparkstream_spark.operators.windows import global_exact_ntile

    toks = tokens_col(text_col)
    per_doc = df.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(toks).cast("long") * F.size(F.array_distinct(toks)).cast("long")).alias(
            "difficulty"
        ),
        # Barrier: above the threshold the distributed-ntile path consumes
        # this projection THREE times (pre-count, range-partitioner
        # sampling, checkpoint materialization) and tokenization is the
        # expensive part — sf10 probe measured 19.7 s without the barrier,
        # ~7 s with it. The 24-byte projection is what materializes, never
        # the corpus text.
    ).transform(current_scope().checkpoint, eager=False)
    return (
        global_exact_ntile(
            per_doc, ["difficulty", "doc_id"], 10, distributed_threshold
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("difficulty").alias("min_difficulty"),
            F.max("difficulty").alias("max_difficulty"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.round(F.sum("n_tokens") / F.count(F.lit(1)), 4).alias("avg_tokens"),
        )
        .orderBy("decile")
    )


def bpe_train_merges(df: DataFrame, text_col: str = "text", merges: int = 10) -> DataFrame:
    """Byte-Pair-Encoding merge training, the distributed way: learn the
    top-``merges`` BPE merge rules from the corpus and return the merge
    table (rank, left, right, pair_count) — the artifact a tokenizer
    trainer ships. Classic BPE (Sennrich et al. 2016) counts symbol pairs
    over word *types* weighted by word frequency, merges the most frequent
    pair, and repeats.

    Scale shape: the corpus collapses to the word-type frequency table in
    ONE map-side-combined aggregate (the only fact-sized shuffle; Zipf
    makes the type table ~millions of rows against trillions of corpus
    tokens). Each merge round is then vocabulary-sized work: explode
    adjacent symbol pairs weighted by type frequency, aggregate, and pull
    exactly ONE row (the argmax pair) to the driver — never the table.
    The word state is the armored symbol STRING (see
    :func:`_bpe_merge_replace`) and each merge is one codegen'd ``replace``
    whose left-to-right non-overlapping scan IS the greedy leftmost-first
    BPE contract (on "aaa" with rule (a,a) it yields [aa, a]); an
    interpreted ``F.aggregate`` left fold computed the same thing with
    O(len²) array copies per word (r9 A/B: new wins 8/8 order-alternated
    reps at sf0.1, med 2.64 → 2.42 s, exact merge-table parity at
    sf0.01/sf0.1). Ten rounds = ten vocab-sized jobs with plans kept
    flat by a per-round persist/unpersist ladder.

    Ties break (count DESC, pair ASC) so the learned table is
    deterministic on any engine and partitioning.

    Precondition (armored-string encoding): word types must contain no
    0x20 space — guaranteed here because ``tokens_col`` splits on
    whitespace; a caller feeding tokens from a different tokenizer must
    re-establish it or merges would silently corrupt.
    """
    types = (
        df.select(F.explode(tokens_col(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    learned = _bpe_train_from_types(types, merges)
    spark = df.sparkSession
    return spark.createDataFrame(
        learned, "rank int, left string, right string, pair_count bigint"
    ).orderBy("rank")


def _bpe_train_from_types(types: DataFrame, merges: int) -> list[tuple[int, str, str, int]]:
    """BPE merge loop over a prepared word-TYPE frequency table
    ``(w, freq)`` — factored out of :func:`bpe_train_merges` so
    :func:`bpe_encode_stats` can feed it the type table derived from its
    own (lang, token) rollup instead of paying a second full corpus
    explode+aggregate (r10: the corpus collapses to the vocabulary ONCE;
    at 100 TB that is one corpus pass saved per fertility report)."""
    sep = " "  # never appears inside whitespace-tokenized symbols
    scope = current_scope()
    words = scope.persist(
        # char-split start state ((?!^)(?!$) interior-only split — a bare
        # (?!^) also matches end-of-string and leaves a phantom '' symbol
        # that would then win merges), armored as the two-space string
        types.select(F.col("freq"), _bpe_armor(F.col("w")).alias("s"))
    )
    learned: list[tuple[int, str, str, int]] = []
    # ONE job per merge round: the pairs argmax both materializes the
    # current symbol table into its (lazy) cache and returns the 1-row
    # answer; the PREVIOUS round's table is released only after that, so
    # no extra count() materialization jobs are needed (measured: 8 rounds
    # dropped ~2 s of pure job latency at sf0.1).
    prev: DataFrame | None = None
    for rank in range(1, merges + 1):
        pairs = (
            words.select("freq", F.split(F.trim("s"), _BPE_SEP2).alias("_sy"))
            .select(
                "freq",
                F.explode(
                    F.when(
                        F.size("_sy") >= 2,
                        F.zip_with(
                            F.slice("_sy", 1, F.size("_sy") - 1),
                            F.slice("_sy", 2, F.size("_sy") - 1),
                            lambda a, b: F.concat(a, F.lit(sep), b),
                        ),
                    ).otherwise(F.array().cast("array<string>"))
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), F.asc("pair")).limit(1).collect()
        if prev is not None:  # current table is cached now; parent can go
            scope.free(prev)
            prev = None
        if not top or top[0]["cnt"] <= 0:
            break
        left, right = top[0]["pair"].split(sep, 1)
        learned.append((rank, left, right, int(top[0]["cnt"])))
        nxt = scope.persist(
            words.select("freq", _bpe_merge_replace(F.col("s"), left, right).alias("s"))
        )
        prev, words = words, nxt
    scope.free(words)
    if prev is not None:
        scope.free(prev)
    return learned


def quality_logreg_fit(
    df: DataFrame, text_col: str = "text", iterations: int = 5, lr: float = 1.0
) -> DataFrame:
    """Distributed logistic-regression training — full-batch gradient
    descent for a quality/language classifier (features: capped length,
    lexical diversity, stopword density; label: is-English). This is the
    fastText-style quality-filter trainer every curation pipeline runs,
    expressed as the canonical distributed-ML loop: per iteration ONE
    map-side-combined aggregate over the corpus produces the 4-component
    gradient (a 1-row driver pull — the k-row pattern, never the data),
    and the weight update is driver-side scalar arithmetic.

    The feature projection is computed once and persisted — iterations + 1
    passes over a 4-double-wide cached table, not the corpus. At 100 TB
    the cache becomes DISK_ONLY storage or a parquet staging write; the
    loop shape (aggregate → 1-row pull → broadcast-as-literals) is
    unchanged and is exactly how a parameter-server-free distributed GD
    works. Returns one row: the learned weights (4dp) and the final
    training log-loss — deterministic across engines because every
    per-row quantity is an exact ratio of integer counts and the gradient
    means differ only by summation order (noise ~1e-12, six orders under
    the 4dp grid)."""
    toks = tokens_col(text_col)
    sw = F.array([F.lit(w) for w in QUALITY_STOPWORDS])
    n = F.size(toks)
    scope = current_scope()
    feats = scope.persist(
        df.select(
            (F.least(n, F.lit(128)) / F.lit(128.0)).alias("x1"),
            (F.size(F.array_distinct(toks)) / n).alias("x2"),
            (F.size(F.filter(toks, lambda t: F.array_contains(sw, t))) / n).alias("x3"),
            (F.col("lang") == "en").cast("double").alias("y"),
        )
    )
    w = [0.0, 0.0, 0.0, 0.0]
    for _ in range(iterations):
        z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2") \
            + F.lit(w[3]) * F.col("x3")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        r = feats.agg(
            F.avg(p - F.col("y")).alias("g0"),
            F.avg((p - F.col("y")) * F.col("x1")).alias("g1"),
            F.avg((p - F.col("y")) * F.col("x2")).alias("g2"),
            F.avg((p - F.col("y")) * F.col("x3")).alias("g3"),
        ).collect()[0]
        w = [w[k] - lr * r[f"g{k}"] for k in range(4)]
    z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2") \
        + F.lit(w[3]) * F.col("x3")
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    loss = feats.agg(
        F.round(
            F.avg(-(F.col("y") * F.log(p) + (1 - F.col("y")) * F.log(1 - p))), 4
        ).alias("log_loss")
    ).collect()[0]["log_loss"]
    scope.free(feats)
    spark = df.sparkSession
    return spark.createDataFrame(
        # + 0.0 normalizes IEEE -0.0 → +0.0 (signed-zero hash hazard — see
        # dsir_importance)
        [(iterations, *[round(v, 4) + 0.0 for v in w], float(loss) + 0.0)],
        "iterations int, w0 double, w1 double, w2 double, w3 double, log_loss double",
    )


def remove_duplicated_spans(
    df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Exact substring deduplication in the deduplicate-text-datasets
    style (Lee et al. 2022): delete every token span that occurs at least
    twice anywhere in the corpus (including within one document). Any
    duplicated substring of >= n tokens contains a duplicated n-gram, so
    marking the tokens covered by duplicated n-gram occurrences removes
    exactly the >= n-token duplicated substrings — the n-gram table plays
    the role of the paper's suffix array, with the same removal semantics
    at span granularity n.

    Plan (scale shape = duplicated_span_stats + a rebuild projection):
    ONE explode of per-position 64-bit n-gram hashes, a map-side-combined
    (hash -> occurrence count) aggregate, a shuffle_hash join back on the
    8-byte key keeping only duplicated occurrences, a per-doc
    sort_array(collect_list(start)) rollup (starts are a tiny fraction of
    tokens), and a final per-row token filter: token i survives unless a
    duplicated n-gram starts in (i-n, i]. The rebuild is pure column
    lambdas — the corpus text never shuffles, only (doc_id, start)
    pairs do.

    Returns ``doc_id, n_tokens, n_removed, cleaned_md5`` — the md5 of the
    space-rejoined surviving tokens, so an oracle can hash-match the
    reconstruction without carrying the cleaned corpus through the
    comparator.
    """
    from kafkasparkstream_spark.util import fanout

    base = (
        fanout(df.select("doc_id", F.col(text_col)))
        .withColumn("_toks", tokens_col(text_col))
        .withColumn("_th", F.transform("_toks", lambda t: F.xxhash64(t)))
        .withColumn("_sh", shingle_hashes_col(F.col("_th"), n))
        .drop(text_col, "_th")
        # two consumers: occurrence explode + rebuild
        .transform(current_scope().checkpoint, eager=False)
    )
    occ = base.select(
        "doc_id", F.posexplode("_sh").alias("s", "h")  # s: 0-based start
    )
    freq = occ.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
    dup_starts = (
        occ.join(freq.hint("shuffle_hash"), "h")
        .filter(F.col("cnt") >= 2)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("s")).alias("_starts"))
    )
    joined = base.join(dup_starts, "doc_id", "left").withColumn(
        "_starts", F.coalesce(F.col("_starts"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.col("_toks"),
        lambda t, i: ~F.exists(
            F.col("_starts"), lambda s: (s <= i) & (s > i - n)
        ),
    )
    return joined.select(
        "doc_id",
        F.size("_toks").cast("long").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).cast("long").alias("n_removed"),
        F.md5(F.array_join(kept, " ")).alias("cleaned_md5"),
    ).orderBy("doc_id")


#: Two-space symbol separator for the armored-string BPE encoding: a word's
#: symbols are joined as ``' ' || join(syms, '  ') || ' '`` so every symbol
#: carries exactly one space on each side and the literal pattern
#: ``' L  R '`` matches precisely adjacent symbol pairs. Symbols come from
#: whitespace-tokenized words, so they can never contain a space themselves.
_BPE_SEP2 = "  "


def _bpe_armor(col: Column) -> Column:
    """Encode a word as the armored symbol string (char-split start state)."""
    return F.concat(
        F.lit(" "), F.array_join(F.split(col, "(?!^)(?!$)"), _BPE_SEP2), F.lit(" ")
    )


def _bpe_merge_replace(s: Column, left: str, right: str) -> Column:
    """Apply one learned BPE merge rule to an armored symbol string.

    ``replace``'s simultaneous left-to-right non-overlapping scan reproduces
    the greedy leftmost-first BPE fold exactly (on 'aaa' with rule (a,a):
    '␣a␣␣a␣␣a␣' → '␣aa␣␣a␣' = [aa, a]) — the SAME representation the DuckDB
    oracle uses (queries/text.py:_bpe_oracle_ctes), so the cross-engine gate
    checks identical semantics. Unlike the previous interpreted
    ``F.aggregate`` left fold (CodegenFallback, O(len²) array copies per
    word), this is a whole-stage-codegen JVM string intrinsic; measured
    min 3.29 → 2.78 s on bpe_encode_stats at sf0.1 (r9, interleaved A/B,
    exact row parity at sf0.01 AND sf0.1)."""
    return F.replace(
        s,
        F.lit(f" {left}{_BPE_SEP2}{right} "),
        F.lit(f" {left}{right} "),
    )


def bpe_encode_stats(
    df: DataFrame, text_col: str = "text", merges: int = 8
) -> DataFrame:
    """Tokenizer APPLICATION: train ``merges`` BPE rules on the corpus
    (:func:`bpe_train_merges`), encode the corpus with them, and report
    per-language fertility — whitespace tokens vs BPE symbols vs
    characters, plus the symbols-per-word compression ratio. This is the
    fertility check every tokenizer change ships with.

    Scale shape: encoding happens on the word-TYPE table (distinct tokens),
    never the corpus — each type is armored into the two-space symbol
    string and run through the learned merges ONCE as chained codegen'd
    ``replace`` calls (see :func:`_bpe_merge_replace`), then broadcast-joined
    back to the Zipfian (lang, token, count) rollup. The corpus pays exactly
    ONE explode + map-side-combined aggregate in the whole query (r10):
    the trainer's word-frequency table is derived from the persisted
    (lang, token, count) rollup by a vocab-sized re-aggregate
    (sum over lang == the corpus token count) instead of a second full
    corpus pass; the merges touch |vocab| rows. Same precondition as
    :func:`bpe_train_merges`: tokens are whitespace-split, so no symbol
    can contain the armoring space.
    """
    tl = (
        df.select("lang", F.explode(tokens_col(text_col)).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # Lazy checkpoint, NOT persist: three consumers (trainer word-freq
        # derivation, the type-table distinct, the final fertility rollup)
        # share one materialization, and the RDD grain means a repeated
        # invocation re-executes from parquet instead of silently hitting
        # the CacheManager's plan-matched cache from a previous run (the
        # module-wide convention for multi-consumer barriers; the blocks
        # live until the query scope exits).
        .transform(current_scope().checkpoint, eager=False)
    )
    types_freq = tl.groupBy(F.col("tok").alias("w")).agg(F.sum("cnt").alias("freq"))
    learned = [
        (left, right) for _rank, left, right, _cnt in
        _bpe_train_from_types(types_freq, merges)  # k-row pull
    ]
    s = _bpe_armor(F.col("tok"))
    for left, right in learned:
        s = _bpe_merge_replace(s, left, right)
    types = tl.select("tok").distinct().select(
        "tok", F.size(F.split(F.trim(s), _BPE_SEP2)).alias("bpe_len")
    )
    return (
        tl.join(F.broadcast(types), "tok")
        .groupBy("lang")
        .agg(
            F.sum("cnt").alias("ws_tokens"),
            F.sum(F.col("cnt") * F.col("bpe_len")).alias("bpe_tokens"),
            F.sum(F.col("cnt") * F.length("tok")).alias("n_chars"),
            F.round(
                F.sum(F.col("cnt") * F.col("bpe_len")) / F.sum("cnt"), 4
            ).alias("symbols_per_word"),
        )
        .orderBy("lang")
    )
