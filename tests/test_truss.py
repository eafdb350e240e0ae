"""k-truss / edge support vs the NetworkX oracle (SURVEY.md §2.9
extension).

``nx.k_truss`` edge-set equality is the semantics contract, on both
physical strategies (single-task numpy peel kernel vs the distributed
wedge-closure peel loop). Edge support is cross-checked against
``nx.triangles``-style per-edge common-neighbor counts.
"""

import networkx as nx
import pytest

from cryptowalletcommunitydetection_spark import datagen
from cryptowalletcommunitydetection_spark.graph.truss import edge_support, k_truss

SHAPES = {
    "ring": datagen.ring(12),
    "star": datagen.star(15),
    "two_cliques": datagen.two_cliques_bridge(6),
    "clique_tail": [(i, j) for i in range(5) for j in range(i + 1, 5)]
    + [(4, 10), (10, 11), (11, 12)],
    "erdos_renyi": datagen.erdos_renyi(40, 0.12, seed=7),
    "overlapping_cliques": [(i, j) for i in range(6) for j in range(i + 1, 6)]
    + [(i, j) for i in range(4, 10) for j in range(i + 1, 10)],
}


def _nx_graph(pairs):
    g = nx.Graph()
    g.add_edges_from(pairs)
    return g


def _nx_support(pairs):
    g = _nx_graph(pairs)
    return {
        tuple(sorted((u, v))): len(set(g[u]) & set(g[v])) for u, v in g.edges()
    }


@pytest.mark.parametrize("local", [True, False], ids=["local", "distributed"])
@pytest.mark.parametrize("name", sorted(SHAPES))
def test_edge_support_matches_common_neighbors(spark, name, local):
    pairs = SHAPES[name]
    edges = datagen.edges_df(spark, pairs)
    got = {
        (r["src"], r["dst"]): r["support"]
        for r in edge_support(edges, local=local).collect()
    }
    assert got == _nx_support(pairs)


@pytest.mark.parametrize("local", [True, False], ids=["local", "distributed"])
@pytest.mark.parametrize("k", [2, 3, 4, 5])
@pytest.mark.parametrize("name", sorted(SHAPES))
def test_k_truss_matches_networkx(spark, name, k, local):
    pairs = SHAPES[name]
    want = {
        tuple(sorted(e)) for e in nx.k_truss(_nx_graph(pairs), k).edges()
    }
    edges = datagen.edges_df(spark, pairs)
    got = {
        (r["src"], r["dst"])
        for r in k_truss(edges, k, local=local).collect()
    }
    assert got == want


def test_local_equals_distributed_string_keys(spark):
    pairs = datagen.erdos_renyi(45, 0.18, seed=3)
    rows = [(f"w{a:03d}", f"w{b:03d}") for a, b in pairs]
    # plus non-ASCII keys, int64 keys and an empty table
    names = ["Z", "a", "é", "z", "中", "\ue000", "\U0001F600", "ÿ"]
    uni = [(names[a % 8] + str(a // 8), names[b % 8] + str(b // 8))
           for a, b in datagen.erdos_renyi(24, 0.2, seed=4)]
    ints = [(a * 1_000_003, b * 1_000_003) for a, b in datagen.erdos_renyi(24, 0.2, seed=5)]
    for edges in (
        spark.createDataFrame(rows, ["src", "dst"]),
        spark.createDataFrame(uni, "src string, dst string"),
        spark.createDataFrame(ints, "src long, dst long"),
        spark.createDataFrame([], "src string, dst string"),
    ):
        for k in (3, 4):
            loc = {(r["src"], r["dst"]) for r in k_truss(edges, k, local=True).collect()}
            dist = {(r["src"], r["dst"]) for r in k_truss(edges, k, local=False).collect()}
            assert loc == dist
        sup_l = {
            (r["src"], r["dst"]): r["support"]
            for r in edge_support(edges, local=True).collect()
        }
        sup_d = {
            (r["src"], r["dst"]): r["support"]
            for r in edge_support(edges, local=False).collect()
        }
        assert sup_l == sup_d


def test_noncanonical_input_collapses(spark):
    """Self-loops dropped, duplicates / reversed orientations merged —
    support must not double-count parallel edges."""
    pairs = SHAPES["two_cliques"]
    noisy = pairs + [(b, a) for a, b in pairs] + [(0, 0)] + pairs[:4]
    edges = datagen.edges_df(spark, noisy)
    for local in (True, False):
        got = {
            (r["src"], r["dst"]): r["support"]
            for r in edge_support(edges, local=local).collect()
        }
        assert got == _nx_support(pairs)


def test_peeling_is_iterative_not_one_shot(spark):
    """A chain of triangles sharing edges: the one-shot support filter
    keeps edges the true fixpoint peels (removal cascades). Pins the
    loop semantics on both paths."""
    # two triangles sharing an edge, plus a pendant triangle row:
    # 4-truss of this graph is empty, but every edge of the K4 minus
    # one edge graph has support >= 1 initially
    pairs = [(0, 1), (1, 2), (0, 2), (2, 3), (0, 3)]  # K4 minus (1,3)
    want = {tuple(sorted(e)) for e in nx.k_truss(_nx_graph(pairs), 4).edges()}
    assert want == set()  # oracle sanity: peeling cascades to empty
    edges = datagen.edges_df(spark, pairs)
    for local in (True, False):
        got = {(r["src"], r["dst"]) for r in k_truss(edges, 4, local=local).collect()}
        assert got == want


def test_distributed_peel_releases_superseded_rounds(spark):
    """Each peel round is a local checkpoint, which
    ``DataFrame.unpersist`` cannot free: after a peel of >= 2 rounds
    only the result's own checkpoint stays pinned."""
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    cascade = [(10, 11), (11, 12), (10, 12), (12, 13), (10, 13)]  # peels in 2 rounds
    edges = datagen.edges_df(spark, k4 + cascade)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    out = k_truss(edges, 4, local=False)
    assert {(r["src"], r["dst"]) for r in out.collect()} == set(k4)
    leaves = out._jdf.queryExecution().analyzed().collectLeaves()
    own = {leaves.apply(i).rdd().id() for i in range(leaves.size())}
    assert set(jsc.getPersistentRDDs().keys()) - before <= own
