"""HITS hubs/authorities vs a direct numpy power-iteration oracle
(same L1-normalized update rule, independently implemented), plus
local/distributed physical parity and the symmetric-graph identity."""

import numpy as np
import pytest

from cryptowalletcommunitydetection_spark import datagen
from cryptowalletcommunitydetection_spark.graph.hits import hits
from tests.pins import nothing_left_pinned


def np_hits(pairs, tol=1e-8, max_iter=300, directed=True):
    """Reference implementation over directed (u, v) pairs."""
    es = set()
    for u, v in pairs:
        if u == v:
            continue
        es.add((u, v))
        if not directed:
            es.add((v, u))
    ids = sorted({x for e in es for x in e})
    idx = {x: i for i, x in enumerate(ids)}
    n = len(ids)
    src = np.array([idx[u] for u, _ in sorted(es)])
    dst = np.array([idx[v] for _, v in sorted(es)])
    h = np.full(n, 1.0 / n)
    a = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        a_raw = np.bincount(dst, weights=h[src], minlength=n)
        h_raw = np.bincount(src, weights=a_raw[dst], minlength=n)
        a_new = a_raw / a_raw.sum()
        h_new = h_raw / h_raw.sum()
        delta = np.abs(a_new - a).sum() + np.abs(h_new - h).sum()
        a, h = a_new, h_new
        if delta < tol:
            break
    return {ids[i]: (h[i], a[i]) for i in range(n)}


SHAPES = {
    "two_cliques": datagen.two_cliques_bridge(4),
    "star": datagen.star(8),
    "chain_dag": [(i, i + 1) for i in range(8)] + [(0, 5), (2, 7)],
    "bipartite-ish": [(0, 10), (1, 10), (2, 10), (0, 11), (3, 11),
                      (10, 0), (11, 2)],
}


@pytest.mark.parametrize("name", sorted(SHAPES))
@pytest.mark.parametrize("directed", [True, False])
def test_vs_numpy_oracle(spark, name, directed):
    pairs = SHAPES[name]
    edges = datagen.edges_df(spark, pairs)
    res = hits(spark, edges, directed=directed)
    assert res.converged
    want = np_hits(pairs, directed=directed)
    got = {r["id"]: (r["hub"], r["authority"])
           for r in res.scores.collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == pytest.approx(want[k][0], abs=1e-6)
        assert got[k][1] == pytest.approx(want[k][1], abs=1e-6)


def test_local_distributed_parity(spark):
    pairs = SHAPES["chain_dag"]
    edges = datagen.edges_df(spark, pairs)
    loc = hits(spark, edges, local=True)
    dist = hits(spark, edges, local=False)
    a = {r["id"]: (r["hub"], r["authority"]) for r in loc.scores.collect()}
    b = {r["id"]: (r["hub"], r["authority"]) for r in dist.scores.collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert a[k][0] == pytest.approx(b[k][0], abs=1e-6)
        assert a[k][1] == pytest.approx(b[k][1], abs=1e-6)
    # plus non-ASCII keys (with a self-loop and a duplicate row) both
    # ways, int64 keys and an empty table, capped at 4 supersteps
    names = ["Z", "a", "é", "z", "中", "\ue000", "\U0001F600", "ÿ"]
    uni = [(names[a % 8] + str(a // 8), names[b % 8] + str(b // 8))
           for a, b in datagen.erdos_renyi(24, 0.15, seed=4)]
    uni = spark.createDataFrame(uni + [("é0", "é0"), uni[0]], "src string, dst string")
    ints = [(a * 1_000_003, b * 1_000_003) for a, b in datagen.erdos_renyi(30, 0.1, seed=5)]
    for edges, directed in (
        (uni, True),
        (uni, False),
        (spark.createDataFrame(ints, "src long, dst long"), True),
        (spark.createDataFrame([], "src string, dst string"), True),
    ):
        loc = hits(spark, edges, max_iter=4, directed=directed, local=True)
        dist = hits(spark, edges, max_iter=4, directed=directed, local=False)
        a = {r["id"]: (r["hub"], r["authority"]) for r in loc.scores.collect()}
        b = {r["id"]: (r["hub"], r["authority"]) for r in dist.scores.collect()}
        assert a.keys() == b.keys()
        for k in a:
            assert a[k] == pytest.approx(b[k], abs=1e-12)
        assert (loc.supersteps, loc.converged) == (dist.supersteps, dist.converged)


def test_symmetric_hub_equals_authority(spark):
    edges = datagen.edges_df(spark, datagen.two_cliques_bridge(5))
    res = hits(spark, edges, directed=False)
    for r in res.scores.collect():
        assert r["hub"] == pytest.approx(r["authority"], abs=1e-9)


def test_authority_concentrates_on_sink(spark):
    """All hubs point at one sink: the sink owns ~all authority and no
    hub mass; the pointers split the hub mass."""
    pairs = [(i, 99) for i in range(1, 9)]
    edges = datagen.edges_df(spark, pairs)
    res = hits(spark, edges, directed=True)
    got = {r["id"]: r for r in res.scores.collect()}
    assert got[99]["authority"] == pytest.approx(1.0, abs=1e-9)
    assert got[99]["hub"] == pytest.approx(0.0, abs=1e-9)
    for i in range(1, 9):
        assert got[i]["hub"] == pytest.approx(1 / 8, abs=1e-9)


def test_distributed_loop_releases_superseded_states(spark):
    """Each superstep state is a local checkpoint, which
    ``DataFrame.unpersist`` cannot free: only the returned scores' own
    checkpoint may stay pinned after the distributed loop."""
    edges = datagen.edges_df(spark, SHAPES["chain_dag"])
    with nothing_left_pinned(spark) as keep:
        res = hits(spark, edges, local=False)
        keep.append(res.scores)
    assert res.supersteps > 1
