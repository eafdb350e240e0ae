"""Multi-source BFS distances vs the NetworkX oracle."""

import networkx as nx
import pytest

from cryptowalletcommunitydetection_spark import datagen
from cryptowalletcommunitydetection_spark.graph.paths import (
    eccentricity_lower_bound, multi_source_distances,
)

SHAPES = {
    "ring": datagen.ring(12),
    "star": datagen.star(15),
    "two_cliques": datagen.two_cliques_bridge(5),
    "erdos_renyi": datagen.erdos_renyi(40, 0.08, seed=7),
    "disconnected": datagen.two_cliques_bridge(4) + [(50, 51), (51, 52)],
}


def _g(pairs):
    g = nx.Graph()
    g.add_edges_from(pairs)
    return g


def _src_df(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], ["id"])


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_nearest_source_matches_networkx(spark, name):
    pairs = SHAPES[name]
    g = _g(pairs)
    verts = sorted(g)
    seeds = [verts[0], verts[-1]]
    got = {
        r["id"]: r["dist"]
        for r in multi_source_distances(
            spark, datagen.edges_df(spark, pairs), _src_df(spark, seeds)
        ).collect()
    }
    want = {}
    for s in seeds:
        for v, d in nx.single_source_shortest_path_length(g, s).items():
            want[v] = min(want.get(v, d), d)
    assert got == want


def test_per_source_matches_networkx(spark):
    pairs = datagen.two_cliques_bridge(5)
    g = _g(pairs)
    seeds = [0, 9]
    got = {
        (r["id"], r["source"]): r["dist"]
        for r in multi_source_distances(
            spark,
            datagen.edges_df(spark, pairs),
            _src_df(spark, seeds),
            per_source=True,
        ).collect()
    }
    want = {
        (v, s): d
        for s in seeds
        for v, d in nx.single_source_shortest_path_length(g, s).items()
    }
    assert got == want


def test_directed_distances(spark):
    pairs = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 4)]
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    got = {
        r["id"]: r["dist"]
        for r in multi_source_distances(
            spark, edges, _src_df(spark, [0]), directed=True
        ).collect()
    }
    g = nx.DiGraph()
    g.add_edges_from(pairs)
    assert got == nx.single_source_shortest_path_length(g, 0)


def test_unreachable_carry_no_row(spark):
    pairs = datagen.two_cliques_bridge(4) + [(50, 51)]
    got = multi_source_distances(
        spark, datagen.edges_df(spark, pairs), _src_df(spark, [50])
    ).collect()
    ids = {r["id"] for r in got}
    assert ids == {50, 51}  # the far component is not reached


def test_source_outside_graph_self_only(spark):
    pairs = datagen.ring(6)
    got = {
        r["id"]: r["dist"]
        for r in multi_source_distances(
            spark, datagen.edges_df(spark, pairs), _src_df(spark, [999])
        ).collect()
    }
    assert got == {999: 0}


def test_eccentricity_lower_bound(spark):
    pairs = datagen.ring(12)  # diameter 6
    assert (
        eccentricity_lower_bound(
            spark, datagen.edges_df(spark, pairs), _src_df(spark, [0])
        )
        == 6
    )


def test_double_sweep_diameter(spark):
    from cryptowalletcommunitydetection_spark.graph.paths import (
        double_sweep_diameter,
    )

    # exact on trees/paths; on the ring the double sweep returns the
    # true diameter as well
    pairs = datagen.ring(12)
    edges = datagen.edges_df(spark, pairs)
    assert double_sweep_diameter(spark, edges, _src_df(spark, [3])) == 6
    # path graph: start mid-path, sweep finds an end, second sweep
    # spans the whole path
    path = [(i, i + 1) for i in range(9)]
    g = _g(path)
    edges = datagen.edges_df(spark, path)
    assert (
        double_sweep_diameter(spark, edges, _src_df(spark, [4]))
        == nx.diameter(g)
    )


def test_harmonic_centrality_from_sources(spark):
    from cryptowalletcommunitydetection_spark.graph.paths import (
        harmonic_centrality_from_sources,
    )

    pairs = datagen.erdos_renyi(30, 0.12, seed=5)
    g = _g(pairs)
    verts = sorted(g)
    seeds = [verts[0], verts[7], verts[-1]]
    got = {
        r["id"]: r["harmonic"]
        for r in harmonic_centrality_from_sources(
            spark, datagen.edges_df(spark, pairs), _src_df(spark, seeds)
        ).collect()
    }
    want = nx.harmonic_centrality(g, sources=seeds)
    for v, h in want.items():
        assert got.get(v, 0.0) == pytest.approx(h, abs=1e-9), v


def test_distances_release_checkpoints(spark):
    """Frontier and settled tables are local checkpoints, which
    ``DataFrame.unpersist`` cannot free: a normal return leaves only
    the result's own checkpoint pinned, and a call that raises at
    ``max_iter`` leaves nothing."""
    edges = datagen.edges_df(spark, SHAPES["ring"])
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    out = multi_source_distances(spark, edges, _src_df(spark, [0]))
    assert out.count() == 12
    leaves = out._jdf.queryExecution().analyzed().collectLeaves()
    own = {leaves.apply(i).rdd().id() for i in range(leaves.size())}
    assert set(jsc.getPersistentRDDs().keys()) - before <= own
    with pytest.raises(RuntimeError):
        multi_source_distances(spark, edges, _src_df(spark, [0]), max_iter=2)
    assert set(jsc.getPersistentRDDs().keys()) - before <= own
