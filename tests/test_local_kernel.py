"""The single-task Arrow boundary of the small-graph kernels
(graph/local_kernel.py): a failing numpy body leaves nothing pinned."""

from importlib import import_module

import pytest

from cryptowalletcommunitydetection_spark import datagen


def _module(name):
    # the graph package re-exports functions under some module names
    return import_module(f"cryptowalletcommunitydetection_spark.graph.{name}")


OPERATORS = {
    "pagerank": ("pagerank", "_pagerank_body", lambda m, spark, e: m.pagerank(spark, e)),
    "lpa": ("lpa", "_lpa_body", lambda m, spark, e: m.label_propagation(spark, e)),
    "cc": ("cc", "_cc_body", lambda m, spark, e: m.connected_components(spark, e)),
    "triangles": ("triangles", "_triangle_body", lambda m, spark, e: m.triangles_per_vertex(e)),
    "hits": ("hits", "_hits_body", lambda m, spark, e: m.hits(spark, e)),
    "kcore": ("kcore", "_kcore_body", lambda m, spark, e: m.core_numbers(spark, e)),
    "truss": ("truss", "_truss_body", lambda m, spark, e: m.k_truss(e, 3)),
}


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_kernel_failure_releases_caches(spark, monkeypatch, name):
    """When the numpy body raises inside the task, the operator's probe
    cache, its pinned input and the kernel's own output checkpoint are
    all released: no new persistent RDD id remains."""
    module_name, factory, call = OPERATORS[name]
    module = _module(module_name)

    def failing_body(g):
        raise RuntimeError("injected kernel failure")

    monkeypatch.setattr(module, factory, lambda *a, **k: failing_body)
    edges = spark.createDataFrame(
        [(f"w{a}", f"w{b}") for a, b in datagen.ring(6)], "src string, dst string"
    )
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    with pytest.raises(Exception, match="injected kernel failure"):
        call(module, spark, edges)
    assert set(jsc.getPersistentRDDs().keys()) - before == set()
