"""Exact n-gram Jaccard pairs + connected-components near-dup collapse.

The exact operator is the no-miss complement of the MinHash LSH pipeline
(operators/dedup.py): same shingle definition, inverted-index plan.  The
reference has no dedup surface (SURVEY §2.8) — these extend the engine for
the training-data-pipeline workload.
"""

import pytest
from pyspark.sql import functions as F

from spark_gp_spark.operators import dedup as D


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (3, "the quick brown fox jumps over a lazy dog"),     # near-dup of 1
        (4, "completely different text about spark engines"),
        (5, "completely different text about spark engines"), # exact dup of 4
        (6, "nothing in common with anything else here today"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_jaccard_values(spark, docs):
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, threshold=0.3, max_posting_size=None).collect()
    }
    # identical texts → jaccard exactly 1.0
    assert out[(4, 5)] == 1.0
    # 9-token docs, one word differs → 7 shingles each, 6 common → 6/8
    assert out[(1, 2)] == pytest.approx(6 / 8, abs=1e-6)
    # doc 6 shares nothing above threshold
    assert not any(6 in p for p in out)


def test_prefix_filter_is_lossless(spark, docs):
    naive = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.4).collect()
    }
    pref = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.4, prefix=True).collect()
    }
    assert naive == pref and len(naive) > 0


def test_exact_superset_of_minhash(spark, docs):
    exact = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5, max_posting_size=None).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(docs, threshold=0.5, max_band_size=None).collect()
    }
    # LSH can only miss candidates, never invent qualifying pairs
    assert approx <= exact


def test_posting_cap_drops_hot_shingles(spark):
    # 20 docs sharing one boilerplate sentence + a unique tail: with the cap
    # below 20 the boilerplate shingles are dropped and no pair qualifies.
    rows = [(i, "shared boilerplate header line for every document "
               f"unique tail {i} {i * 7} {i * 13}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = D.ngram_jaccard_pairs(df, threshold=0.5, max_posting_size=10)
    uncapped = D.ngram_jaccard_pairs(df, threshold=0.5, max_posting_size=None)
    assert capped.count() == 0
    assert uncapped.count() > 0


def test_neardup_components(spark, docs):
    comp = D.neardup_components(docs, threshold=0.5, max_posting_size=None)
    by_id = {r.doc_id: (r.component, r.component_size) for r in comp.collect()}
    # 1–2 qualifies (6/8); 1–3 is 4/10 < 0.5 so 3 stays a singleton.
    assert by_id[1] == (1, 2) and by_id[2] == (1, 2)
    assert by_id[3] == (3, 1)
    assert by_id[4] == (4, 2) and by_id[5] == (4, 2)
    assert by_id[6] == (6, 1)


def test_components_on_chain_graph(spark):
    # A 6-node path graph exercises multi-hop labelling (diameter 5).
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 15)], "id_a long, id_b long"
    )
    nodes = spark.range(10, 17).select(F.col("id").alias("doc_id"))
    comp = D.connected_components(edges, nodes)
    got = {r.doc_id: r.component for r in comp.collect()}
    assert got == {i: 10 for i in range(10, 16)} | {16: 16}


def _chain(spark, n=40, singletons=3):
    """n-node path 0-1-…-(n-1) (diameter n-1) plus isolated nodes."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    nodes = spark.range(n + singletons).select(F.col("id").alias("doc_id"))
    expect = {i: 0 for i in range(n)} | {i: i for i in range(n, n + singletons)}
    return edges, nodes, expect


def _labels(frame):
    return {r.doc_id: r.component for r in frame.collect()}


def test_above_cap_chain_is_exact_without_warning(spark, monkeypatch):
    """A diameter-39 chain forced above the edge cap must come back with
    exact min-id labels and no warning — no round budget can leave it
    partially labelled."""
    import warnings

    edges, nodes, expect = _chain(spark)
    monkeypatch.setattr(D, "_DRIVER_LOCAL_EDGES", 0)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = _labels(D.connected_components(edges, nodes))
    assert got == expect
    assert not [w for w in caught if issubclass(w.category, UserWarning)]


def test_driver_local_union_find_matches_loop(spark, docs, monkeypatch):
    """Both regimes of ``connected_components`` — driver union-find at or
    below the edge cap, the large-star/small-star loop above it — label
    EXACTLY alike: on the near-dup fixture graph, on a multi-hop chain, and
    on either side of the cap boundary, where the edge count picks the
    regime."""
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.5, max_posting_size=None)
    nodes = docs.select("doc_id")
    edges, cnodes, chain = _chain(spark)
    below = _labels(D.connected_components(pairs, nodes))

    # cap boundary: the chain's 39 edges with cap 38 take the star regime,
    # cap 39 stays on the union-find; cap 0 sends the fixture graph above
    seeds = []
    star_seed = D._star_seed
    monkeypatch.setattr(D, "_star_seed", lambda e: seeds.append(1) or star_seed(e))
    monkeypatch.setattr(D, "_DRIVER_LOCAL_EDGES", 0)
    assert _labels(D.connected_components(pairs, nodes)) == below
    assert len(seeds) == 1
    monkeypatch.setattr(D, "_DRIVER_LOCAL_EDGES", 38)
    assert _labels(D.connected_components(edges, cnodes)) == chain
    assert len(seeds) == 2
    monkeypatch.setattr(D, "_DRIVER_LOCAL_EDGES", 39)
    assert _labels(D.connected_components(edges, cnodes)) == chain
    assert len(seeds) == 2


def test_star_components_match_propagation_on_neardup_graph(spark, docs):
    """``connected_components_star`` called directly labels the near-dup
    fixture graph like ``connected_components`` at its default cap."""
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.5, max_posting_size=None)
    nodes = docs.select("doc_id")
    a = _labels(D.connected_components(pairs, nodes))
    b = _labels(D.connected_components_star(pairs, nodes))
    assert a == b


def test_star_components_on_planted_chain(spark):
    """200-node chain (diameter 199): large-star/small-star must label it in
    O(log² n) alternation rounds where propagation would need ~200."""
    edges, nodes, expect = _chain(spark, n=200)
    assert _labels(D.connected_components_star(edges, nodes)) == expect
