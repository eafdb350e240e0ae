"""Betweenness-from-sources vs a pure-Python Brandes oracle.

The oracle is the textbook Brandes dependency accumulation (Brandes
2001) restricted to a source set — the exact spec the distributed
level-synchronous sweep implements. A full-source undirected run is
also cross-checked against nx.betweenness_centrality (whose pair
convention halves the undirected sum).
"""

from collections import deque

import networkx as nx
import pytest

from cryptowalletcommunitydetection_spark import datagen
from cryptowalletcommunitydetection_spark.graph.centrality import (
    betweenness_from_sources,
)

SHAPES = {
    "ring": datagen.ring(10),
    "star": datagen.star(9),
    "two_cliques": datagen.two_cliques_bridge(4),
    "erdos_renyi": datagen.erdos_renyi(30, 0.12, seed=7),
}


def _brandes(adj, sources):
    """{v: sum of dependencies over the given sources}."""
    bc = {v: 0.0 for v in adj}
    for s in sources:
        stack, pred = [], {v: [] for v in adj}
        sigma = {v: 0.0 for v in adj}
        dist = {v: -1 for v in adj}
        sigma[s], dist[s] = 1.0, 0
        q = deque([s])
        while q:
            v = q.popleft()
            stack.append(v)
            for w in adj[v]:
                if dist[w] < 0:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    pred[w].append(v)
        delta = {v: 0.0 for v in adj}
        while stack:
            w = stack.pop()
            for v in pred[w]:
                delta[v] += (sigma[v] / sigma[w]) * (1.0 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return bc


def _adj(pairs, directed=False):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, [])
        if not directed:
            adj[b].append(a)
            adj.setdefault(a, [])
    return adj


def _src_df(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], ["id"])


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_matches_brandes_sampled_sources(spark, name):
    pairs = SHAPES[name]
    adj = _adj(pairs)
    verts = sorted(adj)
    seeds = [verts[0], verts[len(verts) // 2], verts[-1]]
    got = {
        r["id"]: r["betweenness"]
        for r in betweenness_from_sources(
            spark, datagen.edges_df(spark, pairs), _src_df(spark, seeds)
        ).collect()
    }
    want = _brandes(adj, seeds)
    # only reached vertices carry rows; here every shape is connected
    # from the seeds except isolated leftovers of the oracle dict
    for v, b in got.items():
        assert b == pytest.approx(want[v], abs=1e-9), v


def test_full_sources_match_networkx(spark):
    pairs = datagen.two_cliques_bridge(4)
    g = nx.Graph()
    g.add_edges_from(pairs)
    verts = sorted(g)
    got = {
        r["id"]: r["betweenness"]
        for r in betweenness_from_sources(
            spark, datagen.edges_df(spark, pairs), _src_df(spark, verts)
        ).collect()
    }
    nx_bc = nx.betweenness_centrality(g, normalized=False)
    # undirected nx halves the summed dependencies (each pair twice)
    for v in verts:
        assert got[v] == pytest.approx(2.0 * nx_bc[v], abs=1e-9), v


def test_directed(spark):
    pairs = [(0, 1), (1, 2), (1, 3), (2, 4), (3, 4)]
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    got = {
        r["id"]: r["betweenness"]
        for r in betweenness_from_sources(
            spark, edges, _src_df(spark, [0]), directed=True
        ).collect()
    }
    want = _brandes(_adj(pairs, directed=True), [0])
    for v, b in got.items():
        assert b == pytest.approx(want[v], abs=1e-9), v


def test_bridge_vertex_dominates(spark):
    # two cliques joined through a bridge: the bridge endpoints carry
    # the highest betweenness
    pairs = datagen.two_cliques_bridge(5)
    verts = sorted({v for p in pairs for v in p})
    got = {
        r["id"]: r["betweenness"]
        for r in betweenness_from_sources(
            spark, datagen.edges_df(spark, pairs), _src_df(spark, verts)
        ).collect()
    }
    top2 = sorted(got, key=got.get, reverse=True)[:2]
    # the bridge edge is (0, 5) by construction — its endpoints broker
    # every cross-clique shortest path
    assert set(top2) == {0, 5}


def test_releases_intermediate_checkpoints(spark):
    """The BFS levels, the per-level dependency rows and the level that
    ends the forward sweep are local checkpoints, which
    ``DataFrame.unpersist`` cannot free: only the result's own
    checkpoint may stay pinned."""
    pairs = SHAPES["erdos_renyi"]
    edges = datagen.edges_df(spark, pairs)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    out = betweenness_from_sources(spark, edges, _src_df(spark, [pairs[0][0]]))
    assert out.count() > 1
    leaves = out._jdf.queryExecution().analyzed().collectLeaves()
    own = {leaves.apply(i).rdd().id() for i in range(leaves.size())}
    assert set(jsc.getPersistentRDDs().keys()) - before <= own
