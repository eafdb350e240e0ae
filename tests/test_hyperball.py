"""HyperBall approximate neighborhood function vs exact BFS oracles.

At these graph sizes every ball holds far fewer items than the HLL
sketch's exact-mode capacity (~2^lg_k/4 for lg_k=12), so the Datasketches
HIP estimates are exact and the comparisons below use tight tolerances —
the test pins the ALGORITHM (ball recursion, harmonic accumulation,
neighborhood-function bookkeeping), with sketch error excluded by
construction.
"""

import math

import networkx as nx
import pytest

from cryptowalletcommunitydetection_spark import datagen
from cryptowalletcommunitydetection_spark.graph.hyperball import (
    _effective_diameter, hyperball,
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


def _exact_nf(g):
    """N(r) = Σ_v |B(v, r)| for r = 0..max over all vertices."""
    per_v = {v: nx.single_source_shortest_path_length(g, v) for v in g}
    rmax = max((max(d.values()) for d in per_v.values()), default=0)
    nf = []
    for r in range(rmax + 1):
        nf.append(sum(1 for d in per_v.values() for x in d.values() if x <= r))
    return nf, per_v


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_hyperball_matches_exact_bfs(spark, name):
    pairs = SHAPES[name]
    g = _g(pairs)
    res = hyperball(spark, datagen.edges_df(spark, pairs))
    assert res.converged

    nf_exact, per_v = _exact_nf(g)
    # neighborhood function: saturated tail means our nf may be one entry
    # longer (the confirming round) — compare the common prefix + final
    assert res.neighborhood[0] == pytest.approx(len(g), rel=0.02)
    assert res.neighborhood[-1] == pytest.approx(nf_exact[-1], rel=0.02)
    for r in range(1, min(len(res.neighborhood), len(nf_exact))):
        assert res.neighborhood[r] == pytest.approx(nf_exact[r], rel=0.02)

    rows = {r["id"]: r for r in res.per_vertex.collect()}
    assert set(rows) == set(g)
    harm_exact = nx.harmonic_centrality(g)
    for v in g:
        assert rows[v]["ball"] == pytest.approx(len(per_v[v]), rel=0.02)
        assert rows[v]["harmonic"] == pytest.approx(
            harm_exact[v], rel=0.02, abs=1e-9
        )

    # distance statistics derived from the neighborhood function
    dists = [
        d for v, dd in per_v.items() for u, d in dd.items() if u != v
    ]
    if dists:
        assert res.avg_distance == pytest.approx(
            sum(dists) / len(dists), rel=0.02
        )


def test_hyperball_directed_out_balls(spark):
    # chain 0 -> 1 -> 2 -> 3: out-ball sizes 4, 3, 2, 1
    pairs = [(0, 1), (1, 2), (2, 3)]
    res = hyperball(spark, datagen.edges_df(spark, pairs), directed=True)
    rows = {r["id"]: r for r in res.per_vertex.collect()}
    assert {v: round(rows[v]["ball"]) for v in rows} == {0: 4, 1: 3, 2: 2, 3: 1}
    # harmonic along out-distances: v=0 sees d=1,2,3
    assert rows[0]["harmonic"] == pytest.approx(1 + 0.5 + 1 / 3, rel=0.02)
    assert rows[3]["harmonic"] == pytest.approx(0.0, abs=1e-9)


def test_hyperball_assume_canonical_parity(spark):
    pairs = datagen.erdos_renyi(30, 0.1, seed=3)
    e = datagen.edges_df(spark, pairs)
    from cryptowalletcommunitydetection_spark.graph.edges import canonicalize_edges

    a = hyperball(spark, e)
    b = hyperball(spark, canonicalize_edges(e), assume_canonical=True)
    ra = sorted(map(tuple, a.per_vertex.collect()))
    rb = sorted(map(tuple, b.per_vertex.collect()))
    assert ra == rb
    assert a.neighborhood == b.neighborhood


def test_release_frees_every_round_state(spark):
    """Each round's sketch state is a local checkpoint, which
    ``DataFrame.unpersist`` cannot free: once the result is consumed and
    released, no persistent RDD id is left behind."""
    edges = datagen.edges_df(spark, SHAPES["erdos_renyi"])
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    res = hyperball(spark, edges)
    assert res.supersteps > 1
    res.per_vertex.collect()
    res.release()
    assert set(jsc.getPersistentRDDs().keys()) - before == set()


def test_effective_diameter_interpolation():
    # N = [4, 10, 16, 16]: target 0.9*16 = 14.4 lands between r=1 and r=2
    assert _effective_diameter([4.0, 10.0, 16.0, 16.0]) == pytest.approx(
        1 + (14.4 - 10) / 6
    )
    # already saturated at r=0 (edgeless graph)
    assert _effective_diameter([5.0]) == 0.0
    # ring of 12: diameter 6, N(r) = 12 * (2r+1) for r < 6, 144 at 6
    nf = [12.0 * min(2 * r + 1, 12) for r in range(7)]
    ed = _effective_diameter(nf)
    assert 4.0 < ed <= 6.0 and not math.isnan(ed)
