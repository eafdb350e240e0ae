"""PageRank vs nx.pagerank(alpha=0.85) — allclose atol 1e-6 (BASELINE.md)."""

import json
import os

import numpy as np
import pytest

from cryptowalletcommunitydetection_spark import datagen
from cryptowalletcommunitydetection_spark.graph import canonicalize_edges, pagerank
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


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_pagerank_matches_networkx(spark, name):
    pairs = SHAPES[name]
    edges = datagen.edges_df(spark, pairs)
    res = pagerank(spark, edges, tol=1e-8, weighted=False)
    assert res.converged
    _compare(res.ranks.collect(), nx_pagerank(pairs))


def test_pagerank_weighted(spark):
    pairs = [(1, 2, 3), (2, 3, 1), (1, 3, 5), (3, 4, 2)]
    pdf_pairs = [(s, d) for s, d, _ in pairs]
    edges = spark.createDataFrame(pairs, "src long, dst long, weight long")
    res = pagerank(spark, edges, tol=1e-8, weighted=True)
    _compare(res.ranks.collect(), nx_pagerank(pairs, weighted=True))
    # and the unweighted view of the same edges
    res_u = pagerank(spark, edges, tol=1e-8, weighted=False)
    _compare(res_u.ranks.collect(), nx_pagerank(pdf_pairs))


def test_pagerank_dangling_directed(spark):
    # directed chain with a dangling sink — exercises dangling-mass term
    pairs = [(1, 2), (2, 3), (1, 3), (4, 3)]
    oracle = nx_pagerank(pairs, directed=True)
    edges = datagen.edges_df(spark, pairs)
    res = pagerank(spark, edges, tol=1e-8, directed=True, weighted=False)
    _compare(res.ranks.collect(), oracle)


def test_pagerank_reference_fixture(spark, reference_pairs_pdf):
    pairs = list(reference_pairs_pdf.itertuples(index=False, name=None))
    edges = canonicalize_edges(
        spark.createDataFrame(
            reference_pairs_pdf.rename(
                columns={"from_address": "src", "to_address": "dst"}
            ),
            schema="src string, dst string",
        )
    )
    res = pagerank(spark, edges, tol=1e-8, weighted=False)
    assert res.converged
    _compare(res.ranks.collect(), nx_pagerank(pairs))


def test_pagerank_copartition_strategy_same_result(spark):
    pairs = datagen.erdos_renyi(30, 0.08, seed=3)
    edges = datagen.edges_df(spark, pairs)
    res = pagerank(spark, edges, tol=1e-8, strategy="copartition", weighted=False)
    _compare(res.ranks.collect(), nx_pagerank(pairs))


def test_pagerank_strategies_agree(spark):
    """All three physical strategies produce identical ranks for a fixed
    iteration count (same arithmetic, different physical plans)."""
    pairs = datagen.erdos_renyi(40, 0.12) + datagen.star(15)
    edges = datagen.edges_df(spark, pairs)
    results = {}
    for strat in ("broadcast", "copartition", "blocked"):
        res = pagerank(spark, edges, tol=0.0, strategy=strat, max_iter=8)
        results[strat] = {r["id"]: r["rank"] for r in res.ranks.collect()}
    base = results["broadcast"]
    for strat in ("copartition", "blocked"):
        assert max(abs(results[strat][k] - base[k]) for k in base) < 1e-12


def test_pagerank_broadcast_update_join_same_result(spark):
    """The broadcast_update_join escape hatch (rank-update join as a
    broadcast probe instead of the default SortMergeJoin) changes only
    the physical plan, never the ranks."""
    pairs = datagen.erdos_renyi(40, 0.12) + datagen.star(15)
    edges = datagen.edges_df(spark, pairs)
    base = pagerank(spark, edges, tol=0.0, strategy="broadcast", max_iter=8)
    hinted = pagerank(
        spark, edges, tol=0.0, strategy="broadcast", max_iter=8,
        broadcast_update_join=True,
    )
    b = {r["id"]: r["rank"] for r in base.ranks.collect()}
    h = {r["id"]: r["rank"] for r in hinted.ranks.collect()}
    assert max(abs(h[k] - b[k]) for k in b) < 1e-12


def test_pagerank_one_spark_job_per_superstep(spark):
    """The dangling-mass sum is fused into the delta aggregate: each
    superstep launches exactly ONE Spark action/job (setup jobs aside).
    Verified by differencing job counts between a 3- and a 6-superstep
    run. AQE is disabled for the measurement (it splits one action into
    one job per query stage) and the copartition strategy avoids
    broadcast-exchange jobs — neither changes the action count."""
    pairs = [(1, 2), (2, 3), (1, 3), (4, 3)]  # includes a dangling sink
    edges = datagen.edges_df(spark, pairs)
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    abj = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # a BroadcastExchange materializes through its own (future) job even
    # inside a single action — disable it so jobs == actions
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def jobs_for(max_iter, group):
            sc.setJobGroup(group, group, interruptOnCancel=False)
            res = pagerank(
                spark, edges, tol=0.0, max_iter=max_iter, weighted=False,
                directed=True, strategy="copartition",
            )
            sc.setJobGroup(None, None)
            assert res.supersteps == max_iter
            return len(sc.statusTracker().getJobIdsForGroup(group))

        j3 = jobs_for(3, "pr_jobs_3")
        j6 = jobs_for(6, "pr_jobs_6")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abj)
    assert j6 - j3 == 3, (j3, j6)


def test_pagerank_local_path_equals_distributed(spark):
    """The single-task local strategy (auto-selected below
    LOCAL_PR_MAX_EDGES) reproduces the distributed loop term for term:
    same superstep count, same convergence flag, ranks equal within
    float64 summation-order noise (observed ~1e-18, asserted 1e-12 —
    far inside the 1e-6 north-rule contract). Covers dangling sinks
    (directed), weights, and isolated vertices from the `vertices`
    param."""
    pairs = datagen.erdos_renyi(60, 0.08, seed=3) + datagen.star(9)
    w = [(f"v{a}", f"v{b}", float((a + b) % 5 + 1)) for a, b in pairs]
    # non-ASCII keys (byte order != ASCII order), int64 keys, and an
    # empty edge table, each with an isolated vertex where it has edges
    uni = [("é", "z", 2.0), ("z", "中", 1.0), ("Z", "é", 3.0), ("中", "\U0001F600", 1.0),
           ("\ue000", "Z", 1.0), ("a", "\U0001F600", 2.0)]
    ints = [(a * 1_000_003, b * 1_000_003, float(a % 3 + 1))
            for a, b in datagen.erdos_renyi(30, 0.1, seed=5)]
    cases = [
        (spark.createDataFrame(w, ["src", "dst", "weight"]), "isolated"),
        (spark.createDataFrame(uni, "src string, dst string, weight double"), "ñ_isolated"),
        (spark.createDataFrame(ints, "src long, dst long, weight double"), -7),
        (spark.createDataFrame([], "src string, dst string, weight double"), None),
    ]
    for edges, isolated in cases:
        verts = None
        if isolated is not None:
            id_type = edges.schema["src"].dataType.simpleString()
            verts = spark.createDataFrame([(isolated,)], f"id {id_type}")
        for directed in (False, True):
            loc = pagerank(
                spark, edges, tol=1e-9, weighted=True, directed=directed,
                vertices=verts, strategy="local",
            )
            dist = pagerank(
                spark, edges, tol=1e-9, weighted=True, directed=directed,
                vertices=verts, strategy="copartition",
            )
            l = {r["id"]: r["rank"] for r in loc.ranks.collect()}
            d = {r["id"]: r["rank"] for r in dist.ranks.collect()}
            assert set(l) == set(d)
            assert isolated is None or isolated in l
            assert loc.supersteps == dist.supersteps
            assert loc.converged and dist.converged
            assert max((abs(l[k] - d[k]) for k in l), default=0.0) < 1e-12


def test_pagerank_auto_selects_local_with_and_without_run_dir(spark, tmp_path):
    pairs = datagen.two_cliques_bridge(5)
    edges = datagen.edges_df(spark, pairs)
    auto = pagerank(spark, edges, tol=1e-9, weighted=False)
    forced = pagerank(spark, edges, tol=1e-9, weighted=False, strategy="local")
    a = {r["id"]: r["rank"] for r in auto.ranks.collect()}
    f = {r["id"]: r["rank"] for r in forced.ranks.collect()}
    # identical bits: auto below the size gate IS the local kernel
    assert a == f
    assert [m["k"] for m in auto.metrics] == list(range(auto.supersteps))
    # a checkpointed run below the gate runs the same kernel, with or
    # without the strategy forced, and records every superstep
    for strategy in ("auto", "local"):
        d = str(tmp_path / strategy)
        res = pagerank(
            spark, edges, tol=1e-9, weighted=False, strategy=strategy, run_dir=d
        )
        assert {r["id"]: r["rank"] for r in res.ranks.collect()} == a
        assert res.supersteps == auto.supersteps
        with open(os.path.join(d, "manifest.json")) as fh:
            steps = json.load(fh)["supersteps"]
        assert [s["k"] for s in steps] == list(range(res.supersteps))
        assert all(s["partitions"] for s in steps), "lineage per superstep"
