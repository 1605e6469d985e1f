"""Hot-shingle document-frequency cap: a single boilerplate gram shared by
every doc must not emit a quadratic pair set when the cap is on (the
default). Guards the 100 TB failure mode where one stopword 5-gram shared
by 1e5 docs explodes into 1e10 pairs from one posting group."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from phoebe_spark.operators.dedup import ngram_jaccard_pairs

N_DOCS = 60


@pytest.fixture(scope="module")
def boilerplate_docs(spark):
    # every doc shares exactly one hot 5-gram; all other grams are unique
    rows = [
        (i, f"common1 common2 common3 common4 common5 u{i}a u{i}b u{i}c u{i}d")
        for i in range(N_DOCS)
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_uncapped_goes_quadratic(boilerplate_docs):
    pairs = ngram_jaccard_pairs(
        boilerplate_docs, n=5, threshold=0.01, max_shingle_freq=None
    )
    assert pairs.count() == N_DOCS * (N_DOCS - 1) // 2


def test_default_cap_bounds_pairs(boilerplate_docs):
    # default cap (1000) admits the gram at 60 docs; an explicit cap below
    # the gram's document frequency drops it and the pair set collapses
    pairs = ngram_jaccard_pairs(
        boilerplate_docs, n=5, threshold=0.01, max_shingle_freq=10
    )
    assert pairs.count() == 0


def test_cap_preserves_true_neardups(spark):
    # two near-identical docs share many RARE grams: they must survive the
    # cap even when a hot boilerplate gram is dropped corpus-wide
    body = " ".join(f"w{i}" for i in range(30))
    rows = [(0, body + " tail0"), (1, body + " tail1")]
    rows += [
        (i, f"common1 common2 common3 common4 common5 u{i}a u{i}b u{i}c u{i}d")
        for i in range(2, 42)
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(df, n=5, threshold=0.5, max_shingle_freq=10).collect()
    }
    assert got == {(0, 1)}


# -- winnowing fingerprints -------------------------------------------------


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing's core property: two documents sharing a substring of at
    least k + window - 1 chars share at least one fingerprint; disjoint
    texts (different alphabets of grams) share none."""
    from phoebe_spark.operators.dedup import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (1, f"AAAA {shared} BBBB"),
            (2, f"XXXX {shared} YYYY"),
            (3, "zebra zebu zygote zen zesty zinc zonal zoom"),
        ],
        "doc_id LONG, text STRING",
    )
    fps = winnow_fingerprints(docs, k=8, window=4)
    sets: dict[int, set[int]] = {}
    for r in fps.collect():
        sets.setdefault(r["doc"], set()).add(r["fp"])
    assert sets[1] & sets[2], "docs sharing a long substring must share fingerprints"
    assert not (sets[1] & sets[3]), "disjoint docs should not collide"
    # density: ~2/(w+1) of gram positions become fingerprints, never zero
    assert 0 < len(sets[1]) < len(f"AAAA {shared} BBBB")


def test_winnow_length_gate(spark):
    """Docs shorter than k + window - 1 produce no full window, hence no
    fingerprints (and no degenerate sequence() output)."""
    from phoebe_spark.operators.dedup import winnow_fingerprints

    docs = spark.createDataFrame(
        [(1, "tiny"), (2, "exactly11ch")], "doc_id LONG, text STRING"
    )
    out = winnow_fingerprints(docs, k=8, window=4).collect()
    assert {r["doc"] for r in out} == {2}


def test_dedup_components_chain_triangle_singletons(spark):
    """Min-label propagation: a 4-chain, a triangle, and an isolated pair
    resolve to their min-id components; unpaired docs don't appear."""
    from phoebe_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),       # chain 1-2-3-4
            (10, 11), (11, 12), (10, 12), # triangle
            (20, 21),                     # pair
        ],
        "doc_a LONG, doc_b LONG",
    )
    out = {r["doc"]: r["component"] for r in dedup_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_dedup_components_shallow_graph_converges_in_one_block(spark):
    """Round-12 convergence flag: the per-block changed flag reads the
    SECOND fused propagation step only, so a depth-1 graph (pairs /
    triangles — step 2 moves nothing) reaches a detected fixpoint inside
    the first block. max_iter=1 must therefore return correct labels
    with NO non-convergence warning (the old block-start flag warned,
    because step 1 had moved labels). A 5-chain needs more than one
    block and must still warn at max_iter=1."""
    import warnings

    from phoebe_spark.operators.dedup import dedup_components

    shallow = spark.createDataFrame(
        [(1, 2), (10, 11), (11, 12), (10, 12)], "doc_a LONG, doc_b LONG"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out = {
            r["doc"]: r["component"]
            for r in dedup_components(shallow, max_iter=1).collect()
        }
    assert out == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10}

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "doc_a LONG, doc_b LONG"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always", RuntimeWarning)
        dedup_components(chain, max_iter=1).collect()
    assert any("did not converge" in str(w.message) for w in caught)
    # and with the budget it needs, the chain resolves fully
    full = {r["doc"]: r["component"] for r in dedup_components(chain).collect()}
    assert full == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_hash_split_deterministic_and_nested(spark):
    """hash_split: stable across invocations, shares near the request, and
    hash_sample cuts nest (1% subset of 10%) at the same salt."""
    from phoebe_spark.operators.sampling import hash_sample, hash_split

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"]: r["split"] for r in hash_split(df).collect()}
    s2 = {r["doc_id"]: r["split"] for r in hash_split(df).collect()}
    assert s1 == s2
    from collections import Counter

    shares = Counter(s1.values())
    assert abs(shares["train"] / 5000 - 0.9) < 0.03
    assert abs(shares["val"] / 5000 - 0.05) < 0.02
    assert abs(shares["test"] / 5000 - 0.05) < 0.02

    small = {r["doc_id"] for r in hash_sample(df, 0.01).collect()}
    big = {r["doc_id"] for r in hash_sample(df, 0.10).collect()}
    assert small <= big and len(small) > 0
    # independent salt draws a different set
    other = {r["doc_id"] for r in hash_sample(df, 0.10, salt="v2").collect()}
    assert other != big


def test_stratified_hash_sample_rates_and_nesting(spark):
    from phoebe_spark.operators.sampling import hash_sample, stratified_hash_sample

    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "common").otherwise("rare").alias("source"),
    )
    fr = {"common": 0.1, "rare": 0.9}
    out = stratified_hash_sample(df, fr, strata_col="source").groupBy("source").count()
    got = {r["source"]: r["count"] for r in out.collect()}
    assert got["common"] == pytest.approx(200, rel=0.25)
    assert got["rare"] == pytest.approx(1800, rel=0.1)
    # determinism + unlisted-stratum default 0
    again = {r["source"]: r["count"] for r in
             stratified_hash_sample(df, fr, strata_col="source").groupBy("source").count().collect()}
    assert again == got
    assert stratified_hash_sample(df, {"common": 0.5}, strata_col="source").filter(
        F.col("source") == "rare").count() == 0
    # same salt => a stratum's 10% cut nests inside its 50% cut
    small = {r["doc_id"] for r in stratified_hash_sample(df, {"common": 0.1}, strata_col="source").collect()}
    big = {r["doc_id"] for r in stratified_hash_sample(df, {"common": 0.5}, strata_col="source").collect()}
    assert small <= big


def test_edit_distance_verify_exact_boundary(spark):
    """sim == min_sim pairs must survive the banded prefilter: 1-0.8
    rounds DOWN in binary FP, so an unpadded floor() threshold would
    silently drop the exact-boundary pair (confirmed regression)."""
    from phoebe_spark.operators.dedup import edit_distance_verify

    docs = spark.createDataFrame(
        [(1, "abcde"), (2, "abcdX")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    rows = edit_distance_verify(docs, pairs, min_sim=0.8).collect()
    assert len(rows) == 1
    assert rows[0]["lev"] == 1 and rows[0]["sim"] == 0.8


def test_prefix_filter_matches_brute_force(spark):
    """The prefix filter must be EXACT: identical pair set + scores to a
    brute-force all-pairs Jaccard, including threshold-boundary pairs and
    near-subset (containment) cases."""
    import itertools

    from phoebe_spark.operators.dedup import prefix_filter_jaccard_pairs

    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    rows = [
        (1, base),                                  # identical pair (J=1)
        (2, base),
        (3, base + " x0 x1"),                       # near-dup of 1/2
        (4, "w5 w6 w7 w8 w9 y0 y1 y2 y3 y4"),       # overlaps tail
        (5, "z0 z1 z2 z3 z4 z5 z6 z7 z8 z9"),       # disjoint
        (6, "w0 w1 w2 w3 w4"),                      # strict subset prefix (containment=1 vs 1)
        (7, "a b"),                                 # tiny (below n -> empty set)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = 0.5
    got = {
        (r["doc_a"], r["doc_b"]): (round(r["jaccard"], 9), round(r["containment"], 9))
        for r in prefix_filter_jaccard_pairs(df, n=3, threshold=t).collect()
    }

    def shingles(text):
        ws = text.split()
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)} if len(ws) >= 3 else set()

    want = {}
    sets = {i: shingles(tx) for i, tx in rows}
    for a, b in itertools.combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        if inter == 0:
            continue
        j = inter / (len(sa) + len(sb) - inter)
        if j >= t:
            want[(a, b)] = (round(j, 9), round(inter / min(len(sa), len(sb)), 9))
    assert got == want
    assert (1, 2) in got and got[(1, 2)] == (1.0, 1.0)
    # doc6 is a strict subset (containment 1.0) but J = 3/8 < t: the
    # operator filters on JACCARD, so the brute-force dict correctly
    # excludes it — containment-only pairs are a reporting column, not a
    # keep criterion.
    assert (1, 6) not in got


def test_prefix_filter_boundary_threshold(spark):
    """A pair sitting EXACTLY at the threshold must be kept (>=, and the
    ceil slack may only widen the candidate prefix, never narrow it)."""
    from phoebe_spark.operators.dedup import prefix_filter_jaccard_pairs

    # two docs, 1-gram sets {a,b,c,d} and {c,d,e,f}: inter=2, union=6,
    # J = 1/3 exactly
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "c d e f")], "doc_id long, text string"
    )
    got = prefix_filter_jaccard_pairs(df, n=1, threshold=1 / 3).collect()
    assert len(got) == 1 and abs(got[0]["jaccard"] - 1 / 3) < 1e-12
