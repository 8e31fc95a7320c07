"""Frequency-star-cap proof for the shingle-pair operators (VERDICT r8 #1).

The exact ngram-Jaccard / containment contracts emit every qualifying
pair, which is quadratic in clone count: sf10's ~100-replica cliques made
both full runs infeasible (ENOSPC ~80 GB of array-carrying verify
shuffle). Since r9 the operators DEFAULT to the star-capped mode
(``max_shingle_freq``, the r8 capped-LSH template applied at the shingle
grain): shingles hotter than the cap contribute only star candidates
around their min doc id. These tests plant a clone clique and pin
(a) the all-pairs blow-up is real in the explicit exact mode,
(b) the cap bounds output to star size while every emitted pair is a
    true exact-scored pair (verification stays exact),
(c) connected components over star edges recover the full clique
    (clique-shaped groups — the dominant real case),
(d) the cap is a byte-identical no-op when no shingle exceeds it, and
(e) the registered capped queries hash-match their cap-MIRRORING DuckDB
    oracles (the engine gate; approximation quality is a separate,
    measured artifact — see SKEW_BENCH.json for the LSH analog).
"""

from kafkasparkstream_spark.operators.dedup import (
    connected_components,
    containment_pairs,
    ngram_jaccard_pairs,
)
from kafkasparkstream_spark.util import query_scope


def _planted(spark, clones=120, normals=60):
    """`clones` near-identical docs (shared 30-token base + unique suffix,
    pairwise Jaccard ~ 0.93) plus `normals` unrelated docs. Every base
    shingle has docfreq = `clones` (hot); suffix/boundary shingles are
    unique (docfreq 1)."""
    base = " ".join(f"tok{i}" for i in range(30))
    rows = [(i, base + f" uniq{i}") for i in range(clones)]
    rows += [
        (clones + i, " ".join(f"w{i}x{j}" for j in range(30)))
        for i in range(normals)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_planted_clique_blows_up_exact_mode(spark):
    df = _planted(spark, clones=120)
    with query_scope(spark, "exact_mode"):
        full = ngram_jaccard_pairs(df, max_shingle_freq=None)
        # every clone pair qualifies: C(120,2) = 7140
        assert full.count() == 7140


def test_star_cap_bounds_output_and_scores_exactly(spark):
    df = _planted(spark, clones=120)
    with query_scope(spark, "star_cap"):
        full = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs(df, max_shingle_freq=None).collect()
        }
        capped = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs(df, max_shingle_freq=50).collect()
        }
    # star: hub (doc 0) vs each clone — linear, not quadratic
    assert len(capped) == 119
    # every capped pair is a true pair with the identical EXACT score
    # (the cap prunes candidates, never the verification)
    assert set(capped) <= set(full)
    assert all(full[k] == v for k, v in capped.items())


def test_star_edges_recover_clique_clusters(spark):
    df = _planted(spark, clones=120)
    with query_scope(spark, "star_clusters"):
        full = ngram_jaccard_pairs(df, max_shingle_freq=None).select("doc_a", "doc_b")
        capped = ngram_jaccard_pairs(df, max_shingle_freq=50).select("doc_a", "doc_b")
        cf = {(r["doc_id"], r["cluster_id"]) for r in connected_components(full).collect()}
        cc = {(r["doc_id"], r["cluster_id"]) for r in connected_components(capped).collect()}
    assert cf == cc


def test_cap_is_noop_when_no_shingle_is_hot(spark):
    df = _planted(spark, clones=8, normals=40)
    for op, kw in ((ngram_jaccard_pairs, {}), (containment_pairs, {})):
        with query_scope(spark, op.__name__):
            a = sorted(map(tuple, op(df, max_shingle_freq=None, **kw).collect()))
            b = sorted(map(tuple, op(df, max_shingle_freq=50, **kw).collect()))
        assert a == b, op.__name__


def test_default_is_capped(spark):
    """A default-parameter user must get the scale-safe mode: a 120-clone
    clique yields star-sized, not quadratic, pair counts under BOTH
    operators' defaults."""
    df = _planted(spark, clones=120)
    with query_scope(spark, "default_capped"):
        assert ngram_jaccard_pairs(df).count() == 119
        assert containment_pairs(df).count() == 119


def test_registered_capped_queries_match_mirrored_oracles(spark):
    """The registry's cap=2 queries (star path executes AND diverges from
    all-pairs at the gate SF: 24 vs 25 pairs at sf0.01) must hash-match
    their star-cap-mirroring DuckDB oracles."""
    import sys

    sys.path.insert(0, "tests")
    import __spark_entry__ as E
    from oracle import assert_matches_oracle

    sf = "/root/testdata/sf0.01"
    for name in ("dedup_ngram_jaccard_capped", "dedup_containment_capped"):
        with query_scope(spark, name):
            df = E.queries()[name](spark, sf)
            assert_matches_oracle(df, E.oracle_sql()[name], sf, name=name)
