"""Tests for operators/graph.py on shapes the near-dup query can't
hit: long chains (multi-round propagation), multiple components, and
the non-convergence guard.
"""

from __future__ import annotations

import pytest

from crypto_data_pipeline_spark.operators.graph import connected_components


def _cc(spark, pairs, **kw):
    edges = spark.createDataFrame(pairs, "a long, b long")
    rows = connected_components(edges, "a", "b", **kw).collect()
    return {r.v: r.component for r in rows}


def test_chain_collapses_to_min(spark):
    # 0-1-2-3-4-5: label 0 must travel the whole chain (≥ ~log/diam rounds)
    got = _cc(spark, [(i, i + 1) for i in range(5)])
    assert got == {i: 0 for i in range(6)}


def test_two_components_and_star(spark):
    got = _cc(spark, [(10, 11), (11, 12), (3, 7), (3, 5), (3, 9)])
    assert got == {10: 10, 11: 10, 12: 10, 3: 3, 5: 3, 7: 3, 9: 3}


def test_cycle_and_duplicate_edges(spark):
    got = _cc(spark, [(1, 2), (2, 3), (3, 1), (2, 1), (1, 2)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_nonconvergence_raises(spark):
    """A loop that runs out of rounds raises and releases the edge and
    label checkpoints it made."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc(spark, [(i, i + 1) for i in range(30)], max_iter=2)
    assert jsc.getPersistentRDDs().size() == before


def test_cc_loops_leave_session_conf_alone(spark, conf_sets):
    """Neither loop sets session conf, which a query planned on another
    thread of the same session would see (a silver built meanwhile
    reads its bucket count from ``spark.sql.shuffle.partitions``)."""
    pairs = [(i, i + 1) for i in range(5)] + [(10, 11)]
    want = {**{i: 0 for i in range(6)}, 10: 10, 11: 10}
    assert _cc(spark, pairs) == want
    assert _star(spark, pairs) == want
    assert conf_sets == []


def _star(spark, pairs, **kw):
    from crypto_data_pipeline_spark.operators.graph import connected_components_star

    edges = spark.createDataFrame(pairs, "a long, b long")
    rows = connected_components_star(edges, "a", "b", **kw).collect()
    return {r.v: r.component for r in rows}


@pytest.mark.slow
def test_star_matches_minlabel_on_basic_shapes(spark):
    for pairs in (
        [(i, i + 1) for i in range(5)],
        [(10, 11), (11, 12), (3, 7), (3, 5), (3, 9)],
        [(1, 2), (2, 3), (3, 1), (2, 1), (1, 2)],
    ):
        assert _star(spark, pairs) == _cc(spark, pairs)


def test_star_converges_fast_on_long_chain(spark):
    """The adversarial case for min-label: a 200-node path has diameter
    200, but the star algorithm must close it in O(log n) rounds."""
    pairs = [(i, i + 1) for i in range(200)]
    got = _star(spark, pairs, max_iter=12)  # would raise if > 12 rounds
    assert got == {i: 0 for i in range(201)}


def test_star_matches_minlabel_on_random_graph(spark):
    import random

    rng = random.Random(42)
    pairs = [(rng.randrange(120), rng.randrange(120)) for _ in range(80)]
    pairs = [(a, b) for a, b in pairs if a != b]
    assert _star(spark, pairs) == _cc(spark, pairs)


def test_pagerank_star_graph_properties(spark):
    """On a symmetric star (hub 0 <-> leaves 1..5): ranks sum to 1,
    the hub outranks every leaf, and leaves tie exactly."""
    from crypto_data_pipeline_spark.operators.graph import pagerank

    leaves = list(range(1, 6))
    edges = spark.createDataFrame(
        [(0, x) for x in leaves] + [(x, 0) for x in leaves], "src long, dst long"
    )
    ranks = {r.id: r.rank for r in pagerank(edges, iters=20).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    hub, leaf_ranks = ranks[0], [ranks[x] for x in leaves]
    assert all(hub > lr for lr in leaf_ranks)
    assert max(leaf_ranks) - min(leaf_ranks) < 1e-12


def test_triangle_count_known_graphs(spark):
    """K4 has 4 triangles (id sum = sum over the four 3-subsets); a
    star has none (the celebrity-node case the orientation caps); a
    triangle with a pendant edge has exactly 1; duplicate/reversed
    edge listings must not double-count."""
    from crypto_data_pipeline_spark.operators.graph import triangle_count

    def tri(edges):
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        r = triangle_count(df, "id_a", "id_b").collect()[0]
        return (r["n_triangles"], r["vertex_id_sum"])

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    # triangles: 123,124,134,234 -> sums 6+7+8+9 = 30
    assert tri(k4) == (4, 30)
    assert tri(k4 + [(2, 1), (4, 3), (1, 2)]) == (4, 30)  # dups/reversals
    star = [(0, i) for i in range(1, 9)]
    assert tri(star) == (0, 0)
    assert tri([(1, 2), (2, 3), (1, 3), (3, 9)]) == (1, 6)
