"""The driver-side Arrow boundary of the small-graph kernels
(graph/local_kernel.py): a failing numpy body leaves nothing pinned, a
small-graph call is one Spark job with the size gate applied in its
collect, its result is a plain one-partition scan, calls on one session
may run concurrently, and a call past the gate falls through to the
distributed path after reading at most gate + 1 edge rows."""

import glob
import logging
import os
import sys
import threading
from importlib import import_module

import numpy as np
import pytest

from cryptowalletcommunitydetection_spark import datagen
from tests.pins import nothing_left_pinned


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
    """When the numpy body raises, the operator's pinned input is
    released: no new persistent RDD and no cache entry remains."""
    module_name, factory, call = OPERATORS[name]
    module = _module(module_name)

    def failing_body(g):
        raise RuntimeError("injected kernel failure")

    monkeypatch.setattr(module, factory, lambda *a, **k: failing_body)
    edges = spark.createDataFrame(
        [(f"w{a}", f"w{b}") for a, b in datagen.ring(6)], "src string, dst string"
    )
    with nothing_left_pinned(spark):
        with pytest.raises(Exception, match="injected kernel failure"):
            call(module, spark, edges)


def _rows(df, key):
    return {key(r): r[-1] for r in df.collect()}


# Every auto site of the size gate: its module, its gate constant, the
# call (``force`` pins the local kernel, ``canon`` is the call's
# ``assume_canonical``), the
# frames whose own checkpoint the result keeps, and the result as
# Python values with the tolerance of the path parity (0 = exact).
SITES = {
    "pagerank": (
        "pagerank", "LOCAL_PR_MAX_EDGES",
        lambda spark, e, force, canon=True: _module("pagerank").pagerank(
            spark, e, assume_canonical=canon, strategy="local" if force else "auto"),
        lambda r: [r.ranks], lambda r: _rows(r.ranks, lambda x: x[0]), 1e-6,
    ),
    "cc": (
        "cc", "LOCAL_CC_MAX_EDGES",
        lambda spark, e, force, canon=True: _module("cc").connected_components(
            spark, e, assume_canonical=canon, local=force or None),
        lambda r: [r], lambda r: _rows(r, lambda x: x[0]), 0,
    ),
    "lpa": (
        "lpa", "LOCAL_LPA_MAX_EDGES",
        lambda spark, e, force, canon=True: _module("lpa").label_propagation(
            spark, e, assume_canonical=canon, local=force or None),
        lambda r: [r.labels], lambda r: _rows(r.labels, lambda x: x[0]), 0,
    ),
    "triangles_per_vertex": (
        "triangles", "LOCAL_TRI_MAX_EDGES",
        lambda spark, e, force, canon=True: _module("triangles").triangles_per_vertex(
            e, assume_canonical=canon, local=force or None),
        lambda r: [r], lambda r: _rows(r, lambda x: x[0]), 0,
    ),
    "triangle_count": (
        "triangles", "LOCAL_TRI_MAX_EDGES",
        lambda spark, e, force, canon=True: _module("triangles").triangle_count(
            e, assume_canonical=canon, local=force or None),
        lambda r: [], lambda r: r, 0,
    ),
    "edge_support": (
        "truss", "LOCAL_TRUSS_MAX_EDGES",
        lambda spark, e, force, canon=True: _module("truss").edge_support(
            e, assume_canonical=canon, local=force or None),
        lambda r: [r], lambda r: _rows(r, lambda x: (x[0], x[1])), 0,
    ),
    "k_truss": (
        "truss", "LOCAL_TRUSS_MAX_EDGES",
        lambda spark, e, force, canon=True: _module("truss").k_truss(
            e, 3, assume_canonical=canon, local=force or None),
        lambda r: [r], lambda r: sorted(tuple(x) for x in r.collect()), 0,
    ),
    "core_numbers": (
        "kcore", "LOCAL_KCORE_MAX_EDGES",
        lambda spark, e, force, canon=True: _module("kcore").core_numbers(
            spark, e, assume_canonical=canon, local=force or None),
        lambda r: [r.cores], lambda r: _rows(r.cores, lambda x: x[0]), 0,
    ),
    "hits": (
        "hits", "LOCAL_HITS_MAX_EDGES",
        lambda spark, e, force, canon=True: _module("hits").hits(
            spark, e, assume_canonical=canon, local=force or None),
        lambda r: [r.scores], lambda r: {x[0]: (x[1], x[2]) for x in r.scores.collect()}, 1e-6,
    ),
}

# canonical (src < dst, distinct, loop-free): two triangle-rich
# components and a tail, so every operator has something to find
PAIRS = datagen.two_cliques_bridge(4) + [(20, 21), (20, 22), (21, 22), (22, 23)]
# the same graph with reversed and repeated rows: 5 more distinct rows
RAW_PAIRS = PAIRS + [(b, a) for a, b in PAIRS[:5]] + PAIRS[:3]


def _equal(a, b, tol):
    if not tol:
        return a == b
    return a.keys() == b.keys() and all(np.allclose(a[k], b[k], rtol=0, atol=tol) for k in a)


@pytest.mark.parametrize("name", sorted(SITES))
def test_small_call_is_one_spark_job(spark, name):
    """Below the gate the call runs exactly one Spark job (with AQE on,
    as ``build_session`` sets it): the kernel task applies the gate, so
    no count runs in front of it."""
    _, _, call, _, _, _ = SITES[name]
    edges = datagen.edges_df(spark, PAIRS)
    sc = spark.sparkContext
    group = f"one-job-{name}"
    sc.setJobGroup(group, group, interruptOnCancel=False)
    try:
        res = call(spark, edges, False)
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    if name == "cc":
        # community_rollup sizes its shuffles from this hint
        assert res._cwcd_n_edges == len(PAIRS)


@pytest.mark.parametrize("canon", [True, False], ids=["canonical", "raw"])
@pytest.mark.parametrize("name", sorted(SITES))
def test_past_the_gate_falls_through_to_the_distributed_path(
    spark, monkeypatch, caplog, name, canon
):
    """With the gate at a few rows, the task reads at most gate + 1 edge
    rows, gives up, and the distributed path returns what the forced
    local kernel returns, leaving nothing pinned but its result — also
    the cache that carries a raw input's canonicalization from the
    kernel job to the distributed path."""
    module_name, gate_name, call, kept, value, tol = SITES[name]
    pairs = PAIRS if canon else RAW_PAIRS
    edges = datagen.edges_df(spark, pairs)
    want = value(call(spark, edges, True, canon))
    monkeypatch.setattr(_module(module_name), gate_name, 3)
    logger = "cryptowalletcommunitydetection_spark.graph.local_kernel"
    with caplog.at_level(logging.INFO, logger=logger):
        with nothing_left_pinned(spark) as keep:
            res = call(spark, edges, False, canon)
            keep.extend(kept(res))
    skips = [r.args for r in caplog.records if r.getMessage().startswith("local kernel skipped")]
    assert len(skips) == 1
    rows_read, gate = skips[0]
    assert gate < rows_read <= gate + 1
    assert _equal(value(res), want, tol)
    if name == "cc":
        assert res._cwcd_n_edges == len(set(pairs))


@pytest.mark.parametrize("name", sorted(SITES))
def test_local_result_is_one_partition_scan(spark, tmp_path, name):
    """The local result reads the driver's Arrow batches: its plan runs
    no Python task, embeds no LocalRelation and reads no local
    checkpoint, and its Parquet write is one part file."""
    _, _, call, kept, _, _ = SITES[name]
    edges = datagen.edges_df(spark, PAIRS)
    for df in kept(call(spark, edges, False)):
        qe = df._jdf.queryExecution()
        assert "MapInArrow" not in qe.executedPlan().toString()
        assert "LocalRelation" not in qe.optimizedPlan().toString()
        leaves = qe.analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            assert leaf.nodeName() == "LogicalRDD"
            assert not leaf.rdd().isLocallyCheckpointed()
        out = str(tmp_path / "out")
        df.write.parquet(out)
        assert len(glob.glob(os.path.join(out, "part-*"))) == 1


def test_concurrent_calls_on_one_session(spark):
    """Six threads run PageRank and CC at once on one session with a
    short switch interval: each result equals the sequential one and is
    an RDD scan, never a LocalRelation (the Arrow threshold the result
    conversion narrows is session-global, so a lost update would show
    as one), and the threshold is restored."""
    pr = _module("pagerank")
    cc = _module("cc")
    key = "spark.sql.execution.arrow.localRelationThreshold"
    before = spark.conf.get(key)
    edges = datagen.edges_df(spark, PAIRS)
    calls = {
        "pagerank": lambda: pr.pagerank(spark, edges, assume_canonical=True).ranks,
        "cc": lambda: cc.connected_components(spark, edges, assume_canonical=True),
    }
    want = {name: _rows(fn(), lambda x: x[0]) for name, fn in calls.items()}
    names = sorted(calls) * 3
    got, errors = [], []
    start = threading.Barrier(len(names))

    def run(name):
        try:
            start.wait()
            for _ in range(2):
                df = calls[name]()
                plan = df._jdf.queryExecution().optimizedPlan().toString()
                got.append((name, "LocalRelation" in plan, _rows(df, lambda x: x[0])))
        except BaseException as err:  # surfaced below
            errors.append(err)

    threads = [threading.Thread(target=run, args=(name,)) for name in names]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(got) == 2 * len(names)
    for name, local_relation, rows in got:
        assert not local_relation
        assert _equal(want[name], rows, 0 if name == "cc" else 1e-12)
    assert spark.conf.get(key) == before
