"""LPA vs the deterministic pure-Python oracle (SURVEY.md §5 item 2)."""

import pytest

from cryptowalletcommunitydetection_spark import datagen
from cryptowalletcommunitydetection_spark.graph import label_propagation
from tests.oracles import sync_min_lpa

SHAPES = {
    "two_cliques": datagen.two_cliques_bridge(6),
    "star": datagen.star(10),
    "erdos_renyi": datagen.erdos_renyi(30, 0.08, seed=11),
    "disconnected": datagen.two_cliques_bridge(4) + [(50, 51), (51, 52)],
}


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_lpa_matches_oracle(spark, name):
    pairs = SHAPES[name]
    edges = datagen.edges_df(spark, pairs)
    res = label_propagation(spark, edges, max_iter=20)
    got = {r["id"]: r["label"] for r in res.labels.collect()}
    assert got == sync_min_lpa(pairs, max_iter=20)


def test_lpa_local_path_equals_distributed(spark):
    """The single-task local kernel (auto-selected below
    LOCAL_LPA_MAX_EDGES) produces exactly the distributed loop's labels,
    superstep count and convergence flag — weighted and unweighted,
    directed and undirected. Integral weights make the vote sums exact
    in both paths, so the min-(−score, label) tie-break cannot diverge."""
    from cryptowalletcommunitydetection_spark.graph.lpa import label_propagation

    pairs = datagen.erdos_renyi(50, 0.1, seed=9) + datagen.two_cliques_bridge(6)
    w = [(f"v{a}", f"v{b}", float((a * b) % 4 + 1)) for a, b in pairs]
    # non-ASCII keys, whose min-label ties resolve in UTF-8 byte order
    # (U+E000 sorts before U+1F600 there, after it in UTF-16), int64
    # keys, and an empty edge table
    names = ["Z", "a", "é", "z", "中", "\ue000", "\U0001F600", "ÿ"]
    uni = [(names[a % 8] + str(a // 8), names[b % 8] + str(b // 8), float(a % 2 + 1))
           for a, b in datagen.erdos_renyi(24, 0.15, seed=4)]
    ints = [(a * 1_000_003, b * 1_000_003, float(a % 3 + 1))
            for a, b in datagen.erdos_renyi(30, 0.1, seed=5)]
    cases = [
        spark.createDataFrame(w, ["src", "dst", "weight"]),
        spark.createDataFrame(uni, "src string, dst string, weight double"),
        spark.createDataFrame(ints, "src long, dst long, weight double"),
        spark.createDataFrame([], "src string, dst string, weight double"),
    ]
    for edges in cases:
        for weighted in (False, True):
            for directed in (False, True):
                loc = label_propagation(
                    spark, edges, max_iter=6, weighted=weighted,
                    directed=directed, local=True,
                )
                dist = label_propagation(
                    spark, edges, max_iter=6, weighted=weighted,
                    directed=directed, local=False,
                )
                l = {r["id"]: r["label"] for r in loc.labels.collect()}
                d = {r["id"]: r["label"] for r in dist.labels.collect()}
                assert l == d
                assert loc.supersteps == dist.supersteps
                assert loc.converged == dist.converged
