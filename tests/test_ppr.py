"""Personalized PageRank vs the numpy oracle (nx personalization +
dangling defaults) — allclose atol 1e-6, both physical strategies.

The wallet-domain use: rank every wallet by seeded-random-walk
proximity to a known set (exchange deposit wallets, flagged addresses)
— the seeded variant of the reference's global importance ranking.
"""

import numpy as np
import pytest

from cryptowalletcommunitydetection_spark import datagen
from cryptowalletcommunitydetection_spark.graph import pagerank
from tests.oracles import nx_pagerank

SHAPES = {
    "ring": datagen.ring(12),
    "star": datagen.star(15),
    "two_cliques": datagen.two_cliques_bridge(5),
    "erdos_renyi": datagen.erdos_renyi(40, 0.04, seed=7),
}


def _compare(got_rows, oracle, atol=1e-6):
    got = {r["id"]: r["rank"] for r in got_rows}
    assert set(got) == set(oracle)
    g = np.array([got[k] for k in sorted(got)])
    o = np.array([oracle[k] for k in sorted(oracle)])
    assert np.allclose(g, o, atol=atol), np.abs(g - o).max()


def _seeds_df(spark, seeds):
    return spark.createDataFrame(list(seeds.items()), ["id", "weight"])


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_ppr_matches_oracle(spark, name):
    pairs = SHAPES[name]
    verts = sorted({v for p in pairs for v in p})
    seeds = {verts[0]: 1.0, verts[len(verts) // 2]: 2.0}
    edges = datagen.edges_df(spark, pairs)
    res = pagerank(
        spark, edges, tol=1e-9, weighted=False,
        personalization=_seeds_df(spark, seeds),
    )
    assert res.converged
    _compare(res.ranks.collect(), nx_pagerank(pairs, personalization=seeds))


def test_ppr_local_equals_distributed(spark):
    pairs = datagen.erdos_renyi(40, 0.06, seed=11)
    verts = sorted({v for p in pairs for v in p})
    seeds = {verts[1]: 1.0, verts[3]: 0.5}
    edges = datagen.edges_df(spark, pairs)
    pers = _seeds_df(spark, seeds)
    loc = pagerank(
        spark, edges, tol=1e-10, strategy="local", personalization=pers
    )
    dist = pagerank(
        spark, edges, tol=1e-10, strategy="broadcast", personalization=pers
    )
    l = {r["id"]: r["rank"] for r in loc.ranks.collect()}
    d = {r["id"]: r["rank"] for r in dist.ranks.collect()}
    assert set(l) == set(d)
    for k in l:
        assert l[k] == pytest.approx(d[k], abs=1e-8)


def test_ppr_directed_dangling(spark):
    # chain with a dangling sink: dangling mass must redistribute to the
    # SEEDS, not uniformly (nx dangling=personalization default)
    pairs = [(0, 1), (1, 2), (2, 3)]
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    seeds = {0: 1.0}
    res = pagerank(
        spark, edges, tol=1e-10, directed=True,
        personalization=_seeds_df(spark, seeds),
    )
    _compare(
        res.ranks.collect(),
        nx_pagerank(pairs, directed=True, personalization=seeds),
        atol=1e-8,
    )


def test_ppr_string_keys_encoded_path(spark):
    pairs = datagen.erdos_renyi(50, 0.05, seed=3)
    rows = [(f"w{a:03d}", f"w{b:03d}") for a, b in pairs]
    edges = spark.createDataFrame(rows, ["src", "dst"])
    verts = sorted({v for r in rows for v in r})
    seeds = {verts[0]: 1.0, verts[5]: 3.0}
    pers = _seeds_df(spark, seeds)
    # force the distributed loop so the int64-encoding path carries the
    # teleport ids through the same re-keying
    res = pagerank(
        spark, edges, tol=1e-9, strategy="broadcast", personalization=pers
    )
    oracle = nx_pagerank(
        [(f"w{a:03d}", f"w{b:03d}") for a, b in pairs],
        personalization=seeds,
    )
    _compare(res.ranks.collect(), oracle)


def test_ppr_seed_outside_graph_dropped(spark):
    pairs = datagen.ring(8)
    edges = datagen.edges_df(spark, pairs)
    seeds = {0: 1.0, 999: 50.0}  # 999 not in the graph
    res = pagerank(
        spark, edges, tol=1e-10, personalization=_seeds_df(spark, seeds)
    )
    _compare(res.ranks.collect(), nx_pagerank(pairs, personalization={0: 1.0}))


def test_ppr_no_mass_raises(spark):
    pairs = datagen.ring(6)
    edges = datagen.edges_df(spark, pairs)
    with pytest.raises(ValueError, match="no positive weight"):
        pagerank(
            spark, edges, personalization=_seeds_df(spark, {999: 1.0})
        )
    with pytest.raises(ValueError, match="no positive weight"):
        pagerank(
            spark, edges, strategy="broadcast",
            personalization=_seeds_df(spark, {999: 1.0}),
        )


def _resume_keyed_on_seeds(spark, tmp_path, strategy):
    # same graph, different seeds, same run_dir: the manifest identity
    # includes the teleport vector, so run B must NOT resume run A
    pairs = datagen.two_cliques_bridge(5)
    edges = datagen.edges_df(spark, pairs)
    d = str(tmp_path / "ppr_run")
    a = pagerank(
        spark, edges, tol=1e-9, run_dir=d, strategy=strategy,
        personalization=_seeds_df(spark, {0: 1.0}),
    )
    # a manifest-backed result may read its run_dir checkpoints lazily —
    # materialize BEFORE run B resets the directory for the new identity
    a_rows = a.ranks.collect()
    b = pagerank(
        spark, edges, tol=1e-9, run_dir=d, strategy=strategy,
        personalization=_seeds_df(spark, {9: 1.0}),
    )
    _compare(a_rows, nx_pagerank(pairs, personalization={0: 1.0}))
    _compare(b.ranks.collect(), nx_pagerank(pairs, personalization={9: 1.0}))


def test_ppr_resume_keyed_on_seeds(spark, tmp_path):
    _resume_keyed_on_seeds(spark, tmp_path, "auto")


def test_ppr_resume_keyed_on_seeds_distributed(spark, tmp_path):
    _resume_keyed_on_seeds(spark, tmp_path, "broadcast")


@pytest.mark.parametrize("strategy", ["auto", "broadcast"])
def test_ppr_no_mass_releases_caches(spark, strategy):
    """The zero-teleport-mass error leaves no persisted RDD behind, on
    the local kernel and on the (string-key encoded) distributed loop."""
    edges = spark.createDataFrame(
        [(f"w{a}", f"w{b}") for a, b in datagen.ring(6)], "src string, dst string"
    )
    seeds = spark.createDataFrame([("nope", 1.0)], "id string, weight double")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    with pytest.raises(ValueError, match="no positive weight"):
        pagerank(spark, edges, strategy=strategy, personalization=seeds)
    assert set(jsc.getPersistentRDDs().keys()) - before == set()