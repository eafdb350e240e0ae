"""Hot-path audit (SURVEY.md §5 item 6, BASELINE.md): physical plans must
contain no BatchEvalPython (row-at-a-time Python UDF) anywhere. The
Python-executing nodes on the hot paths are Arrow MapInPandas in the
extraction stage and the one-task Arrow MapInArrow of the small-graph
kernels (graph/local_kernel.py), whose input carries no Exchange under
``assume_canonical``; the results those kernels return are plain scans.
(hits, k-core, truss and the walk kernels still run MapInPandas tasks.)"""

import pytest

from cryptowalletcommunitydetection_spark import datagen
from cryptowalletcommunitydetection_spark.graph import (
    canonicalize_edges,
    connected_components,
    derive_edges,
    label_propagation,
    pagerank,
    symmetrize,
    triangles_per_vertex,
)
from cryptowalletcommunitydetection_spark.graph.rollup import bipartite_group_rollup


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_edge_derivation_plan(spark):
    files = datagen.gen_files(spark, n_repos=2, files_per_repo=3)
    plan = _plan(derive_edges(files))
    assert "BatchEvalPython" not in plan


def test_graph_pipeline_plans_pure_jvm(spark):
    edges = datagen.edges_df(spark, datagen.two_cliques_bridge(4))
    for df in (
        canonicalize_edges(edges),
        symmetrize(canonicalize_edges(edges)),
        triangles_per_vertex(edges),
        bipartite_group_rollup(
            spark,
            edges.selectExpr(
                "cast(src as string) from_address", "cast(dst as string) to_address"
            ),
        ),
    ):
        plan = _plan(df)
        assert "BatchEvalPython" not in plan
        # no Python at all beyond extraction and the kernel's own task
        assert "MapInPandas" not in plan and "MapInArrow" not in plan


@pytest.mark.parametrize("name", ["pagerank", "cc", "lpa", "triangles"])
def test_local_kernels_do_not_shuffle_canonical_input(spark, monkeypatch, name):
    """Under assume_canonical the small-graph path runs no Exchange: the
    kernel's input plan, and every frame the operator persists or
    checkpoints on the way, is free of one. A plan fact, not a timing."""
    pairs = sorted({tuple(sorted((f"v{a}", f"v{b}")))
                    for a, b in datagen.erdos_renyi(40, 0.1, seed=2)})
    edges = spark.createDataFrame(
        [(a, b, 1 + len(a + b) % 3) for a, b in pairs], "src string, dst string, weight long"
    )
    plans = {}
    cls = type(edges)  # Spark's concrete (classic) DataFrame class
    for method in ("mapInArrow", "persist", "localCheckpoint"):
        original = getattr(cls, method)

        def spy(self, *args, _original=original, _method=method, **kwargs):
            plans.setdefault(_method, []).append(_plan(self))
            return _original(self, *args, **kwargs)

        monkeypatch.setattr(cls, method, spy)
    calls = {
        "pagerank": lambda: pagerank(spark, edges, assume_canonical=True).ranks,
        "cc": lambda: connected_components(spark, edges, assume_canonical=True),
        "lpa": lambda: label_propagation(spark, edges, assume_canonical=True).labels,
        "triangles": lambda: triangles_per_vertex(edges, assume_canonical=True),
    }
    assert calls[name]().count() > 0
    assert len(plans["mapInArrow"]) == 1
    for method, seen in plans.items():
        for plan in seen:
            assert "Exchange" not in plan, (method, plan)
