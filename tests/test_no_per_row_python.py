"""Hot-path audit (SURVEY.md §5 item 6, BASELINE.md): physical plans must
contain no BatchEvalPython (row-at-a-time Python UDF) anywhere. The
Python-executing nodes on the hot paths are Arrow MapInPandas in the
extraction stage and the walk module's Arrow alias-table build. The
small-graph kernels (graph/local_kernel.py), the walk corpora included,
run no Python task: one ``toArrow()`` collect, whose input carries no
Exchange under ``assume_canonical``, feeds a numpy body in the driver,
and the results they return are plain scans."""

import ast
import re
from pathlib import Path

import pytest

from cryptowalletcommunitydetection_spark import datagen, graph
from cryptowalletcommunitydetection_spark.graph import (
    canonicalize_edges,
    connected_components,
    core_numbers,
    derive_edges,
    edge_support,
    label_propagation,
    pagerank,
    symmetrize,
    triangles_per_vertex,
)
from cryptowalletcommunitydetection_spark.graph.hits import hits
from cryptowalletcommunitydetection_spark.graph.rollup import bipartite_group_rollup
from cryptowalletcommunitydetection_spark.graph.walks import random_walks


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


def test_python_tasks_enter_graph_through_known_kernels():
    """Python tasks enter graph/ only through the extraction kernel
    (edges.py) and the alias-table build (walks.py); the small-graph
    boundary (local_kernel.py) runs its bodies in the driver. A new
    operator runs its numpy body on ``run_kernel`` instead of growing
    its own task and its own copy of the key indexing."""
    sources = {f.name: f.read_text() for f in sorted(Path(graph.__file__).parent.glob("*.py"))}
    sites = {name: len(re.findall(r"\.mapIn(?:Pandas|Arrow)\(", src)) for name, src in sources.items()}
    assert {name: n for name, n in sites.items() if n} == {
        "edges.py": 1, "walks.py": 1,
    }
    assert [name for name, src in sources.items() if "factorize(" in src] == []


def test_superstep_lifecycle_lives_in_plans():
    """The distributed loops' checkpointing, release, resume and metrics
    live in plans/superstep.py, and the driver-side kernels commit
    through ``RunManifest.commit``. Outside plans/ only CC's star loop
    (not ported yet) records supersteps itself, and no graph operator
    sets session conf: ``scoped_conf`` narrows it for a plan and
    restores it."""
    package = Path(graph.__file__).parent.parent
    sites = set()
    for f in sorted(package.rglob("*.py")):
        if f.parent.name == "plans":
            continue
        for node in ast.parse(f.read_text()).body:
            for sub in ast.walk(node):
                if (isinstance(sub, ast.Call) and isinstance(sub.func, ast.Attribute)
                        and sub.func.attr == "record_superstep"):
                    sites.add((f"{f.parent.name}/{f.name}", getattr(node, "name", None)))
    assert sites == {("graph/cc.py", "_cc_loop")}
    graph_dir = Path(graph.__file__).parent
    assert [f.name for f in graph_dir.glob("*.py") if "spark.conf.set(" in f.read_text()] == []


@pytest.mark.parametrize(
    "name", ["pagerank", "cc", "lpa", "triangles", "hits", "kcore", "truss", "walks"]
)
def test_local_kernels_do_not_shuffle_canonical_input(spark, monkeypatch, name):
    """Under assume_canonical the small-graph path runs no Exchange: the
    plan of the kernel's one ``toArrow()`` collect, and every frame the
    operator persists or checkpoints on the way, is free of one. A plan
    fact, not a timing."""
    pairs = sorted({tuple(sorted((f"v{a}", f"v{b}")))
                    for a, b in datagen.erdos_renyi(40, 0.1, seed=2)})
    edges = spark.createDataFrame(
        [(a, b, 1 + len(a + b) % 3) for a, b in pairs], "src string, dst string, weight long"
    )
    plans = {}
    cls = type(edges)  # Spark's concrete (classic) DataFrame class
    for method in ("toArrow", "persist", "localCheckpoint"):
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
        "hits": lambda: hits(spark, edges, assume_canonical=True).scores,
        "kcore": lambda: core_numbers(spark, edges, assume_canonical=True).cores,
        "truss": lambda: edge_support(edges, assume_canonical=True),
        "walks": lambda: random_walks(edges, strategy="local", assume_canonical=True),
    }
    assert calls[name]().count() > 0
    assert len(plans["toArrow"]) == 1
    for method, seen in plans.items():
        for plan in seen:
            assert "Exchange" not in plan, (method, plan)
