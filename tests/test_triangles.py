"""Triangle counting vs nx.triangles (SURVEY.md §5 item 2)."""

import pytest

from cryptowalletcommunitydetection_spark import datagen
from cryptowalletcommunitydetection_spark.graph import (
    triangle_count,
    triangles_per_vertex,
)
from tests.oracles import nx_triangles

SHAPES = {
    "ring": datagen.ring(10),            # 0 triangles
    "two_cliques": datagen.two_cliques_bridge(5),
    "erdos_renyi": datagen.erdos_renyi(35, 0.12, seed=5),
    "star": datagen.star(12),            # 0 triangles
}


@pytest.mark.parametrize("local", [True, False], ids=["local", "distributed"])
@pytest.mark.parametrize("name", sorted(SHAPES) + ["empty"])
def test_triangles_match_networkx(spark, name, local):
    pairs = SHAPES.get(name, [])
    oracle = nx_triangles(pairs)
    edges = datagen.edges_df(spark, pairs)
    got = {
        r["id"]: r["triangles"]
        for r in triangles_per_vertex(edges, local=local).collect()
    }
    assert got == oracle
    assert triangle_count(edges, local=local) == sum(oracle.values()) // 3


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_clustering_coefficient_matches_networkx(spark, name):
    import networkx as nx

    from cryptowalletcommunitydetection_spark.graph.triangles import (
        clustering_coefficient,
    )

    pairs = SHAPES[name]
    g = nx.Graph()
    g.add_edges_from(pairs)
    want = nx.clustering(g)
    got = {
        r["id"]: r["coeff"]
        for r in clustering_coefficient(datagen.edges_df(spark, pairs)).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_transitivity_matches_networkx(spark, name):
    import networkx as nx

    from cryptowalletcommunitydetection_spark.graph.triangles import transitivity

    pairs = SHAPES[name]
    g = nx.Graph()
    g.add_edges_from(pairs)
    want = nx.transitivity(g)
    got = transitivity(datagen.edges_df(spark, pairs))
    assert abs(got - want) < 1e-12


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_sampled_p1_equals_exact(spark, name):
    from cryptowalletcommunitydetection_spark.graph.triangles import (
        triangle_count_sampled,
    )

    pairs = SHAPES[name]
    edges = datagen.edges_df(spark, pairs)
    exact = triangle_count(edges)
    assert triangle_count_sampled(edges, p=1.0) == exact


def test_sampled_estimate_concentrates(spark):
    # triangle-rich ER graph; hash-coin sparsifier is deterministic per
    # (edge, seed), so this asserts a reproducible estimate, not a flaky
    # random draw. Averaging over seeds tightens concentration like
    # DOULION's repeated-trials analysis.
    from cryptowalletcommunitydetection_spark.graph.triangles import (
        triangle_count_sampled,
    )

    pairs = datagen.erdos_renyi(120, 0.25, seed=7)
    edges = datagen.edges_df(spark, pairs).cache()
    exact = triangle_count(edges)
    assert exact > 300  # rich enough for the concentration bound to bite
    ests = [
        triangle_count_sampled(edges, p=0.7, seed=s) for s in (1, 2, 3)
    ]
    mean = sum(ests) / len(ests)
    assert abs(mean - exact) / exact < 0.15
    edges.unpersist()


def test_sampled_rejects_bad_p(spark):
    from cryptowalletcommunitydetection_spark.graph.triangles import (
        triangle_count_sampled,
    )

    edges = datagen.edges_df(spark, datagen.ring(5))
    for bad in (0.0, -0.1, 1.5):
        with pytest.raises(ValueError):
            triangle_count_sampled(edges, p=bad)
