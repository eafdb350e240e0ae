"""k-core / coreness vs the NetworkX oracle (SURVEY.md §2.9 extension).

``nx.core_number`` is the semantics contract (reference analogue: the
significance-threshold wallet pruning at
`jobs/dex_wallets/lp_traders_job.py:15,70`, generalized to the graph
itself). Both physical strategies — the single-task vectorized H-index
kernel and the distributed histogram+window superstep loop — are pinned
to the oracle and to each other on every shape.
"""

import networkx as nx
import pytest

from cryptowalletcommunitydetection_spark import datagen
from cryptowalletcommunitydetection_spark.graph.kcore import (
    core_numbers, degeneracy, k_core,
)
from tests.pins import nothing_left_pinned

SHAPES = {
    "ring": datagen.ring(12),
    "star": datagen.star(15),
    "two_cliques": datagen.two_cliques_bridge(6),
    "clique_tail": [(i, j) for i in range(5) for j in range(i + 1, 5)]
    + [(4, 10), (10, 11), (11, 12)],
    "erdos_renyi": datagen.erdos_renyi(40, 0.12, seed=7),
    "disconnected": datagen.two_cliques_bridge(4) + [(50, 51), (51, 52)],
}


def _nx_core(pairs):
    g = nx.Graph()
    g.add_edges_from(pairs)
    return nx.core_number(g)


@pytest.mark.parametrize("local", [True, False], ids=["local", "distributed"])
@pytest.mark.parametrize("name", sorted(SHAPES))
def test_core_numbers_match_networkx(spark, name, local):
    pairs = SHAPES[name]
    edges = datagen.edges_df(spark, pairs)
    res = core_numbers(spark, edges, local=local)
    got = {r["id"]: r["core"] for r in res.cores.collect()}
    assert res.converged
    assert got == _nx_core(pairs)


def test_local_equals_distributed_string_keys(spark):
    pairs = datagen.erdos_renyi(60, 0.1, seed=3)
    rows = [(f"w{a:03d}", f"w{b:03d}") for a, b in pairs]
    edges = spark.createDataFrame(rows, ["src", "dst"])
    loc = core_numbers(spark, edges, local=True)
    dist = core_numbers(spark, edges, local=False)
    l = {r["id"]: r["core"] for r in loc.cores.collect()}
    d = {r["id"]: r["core"] for r in dist.cores.collect()}
    assert l == d
    oracle = {f"w{v:03d}": c for v, c in _nx_core(pairs).items()}
    assert l == oracle
    # plus non-ASCII keys, int64 keys and an empty table: same cores,
    # same superstep count and the same per-superstep deltas
    names = ["Z", "a", "é", "z", "中", "\ue000", "\U0001F600", "ÿ"]
    uni = [(names[a % 8] + str(a // 8), names[b % 8] + str(b // 8))
           for a, b in datagen.erdos_renyi(30, 0.15, seed=4)]
    ints = [(a * 1_000_003, b * 1_000_003) for a, b in datagen.erdos_renyi(30, 0.15, seed=5)]
    for edges in (
        spark.createDataFrame(uni, "src string, dst string"),
        spark.createDataFrame(ints, "src long, dst long"),
        spark.createDataFrame([], "src string, dst string"),
    ):
        loc = core_numbers(spark, edges, local=True)
        dist = core_numbers(spark, edges, local=False)
        assert ({r["id"]: r["core"] for r in loc.cores.collect()}
                == {r["id"]: r["core"] for r in dist.cores.collect()})
        assert loc.supersteps == dist.supersteps
        assert [m["delta"] for m in loc.metrics] == [m["delta"] for m in dist.metrics]


def test_noncanonical_input_collapses(spark):
    """Self-loops dropped, duplicate rows / reversed orientations merge —
    degrees (and thus coreness) must not be inflated."""
    pairs = datagen.two_cliques_bridge(5)
    noisy = pairs + [(b, a) for a, b in pairs] + [(0, 0), (1, 1)] + pairs[:3]
    edges = datagen.edges_df(spark, noisy)
    for local in (True, False):
        res = core_numbers(spark, edges, local=local)
        got = {r["id"]: r["core"] for r in res.cores.collect()}
        assert got == _nx_core(pairs)


@pytest.mark.parametrize("k", [1, 2, 3, 5])
def test_k_core_subgraph_matches_networkx(spark, k):
    pairs = SHAPES["clique_tail"] + datagen.erdos_renyi(25, 0.15, seed=5)
    g = nx.Graph()
    g.add_edges_from(pairs)
    want = {tuple(sorted(e)) for e in nx.k_core(g, k).edges()}
    edges = datagen.edges_df(spark, pairs)
    got = {(r["src"], r["dst"]) for r in k_core(spark, edges, k).collect()}
    assert got == want


def test_degeneracy(spark):
    pairs = SHAPES["erdos_renyi"]
    g = nx.Graph()
    g.add_edges_from(pairs)
    edges = datagen.edges_df(spark, pairs)
    assert degeneracy(spark, edges) == max(nx.core_number(g).values())


def test_assume_canonical_contract(spark):
    """Canonical input under the contract flag == defensive path."""
    pairs = sorted({(min(a, b), max(a, b)) for a, b in SHAPES["erdos_renyi"]})
    edges = datagen.edges_df(spark, pairs)
    fast = core_numbers(spark, edges, assume_canonical=True)
    slow = core_numbers(spark, edges)
    f = {r["id"]: r["core"] for r in fast.cores.collect()}
    s = {r["id"]: r["core"] for r in slow.cores.collect()}
    assert f == s == _nx_core(pairs)


def test_run_dir_resume(spark, tmp_path):
    """A capped run checkpoints its monotone upper-bound state; the rerun
    resumes from the cap and converges to the same coreness a straight
    run produces."""
    pairs = datagen.erdos_renyi(40, 0.15, seed=13)
    edges = datagen.edges_df(spark, pairs)
    rd = str(tmp_path / "kcore_run")
    with pytest.raises(RuntimeError, match="fixpoint"):
        core_numbers(spark, edges, max_iter=1, run_dir=rd)
    resumed = core_numbers(spark, edges, max_iter=50, run_dir=rd)
    straight = core_numbers(spark, edges, local=False)
    r = {x["id"]: x["core"] for x in resumed.cores.collect()}
    s = {x["id"]: x["core"] for x in straight.cores.collect()}
    assert r == s == _nx_core(pairs)
    assert resumed.converged


@pytest.mark.parametrize("local", [True, False], ids=["local", "distributed"])
def test_capped_run_raises(spark, local):
    """Below the fixpoint the state is only an upper bound on coreness:
    both paths raise instead of returning it, and leave nothing pinned."""
    edges = datagen.edges_df(spark, datagen.erdos_renyi(40, 0.15, seed=13))
    with nothing_left_pinned(spark):
        with pytest.raises(RuntimeError, match="fixpoint"):
            core_numbers(spark, edges, max_iter=1, local=local)


def test_distributed_loop_releases_superseded_states(spark):
    """Each superstep state is a local checkpoint, which
    ``DataFrame.unpersist`` cannot free: only the returned cores' own
    checkpoint may stay pinned after the distributed loop."""
    edges = datagen.edges_df(spark, SHAPES["erdos_renyi"])
    with nothing_left_pinned(spark) as keep:
        res = core_numbers(spark, edges, local=False)
        keep.append(res.cores)
    assert res.supersteps > 1
