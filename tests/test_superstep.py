"""The superstep loop (plans/superstep.py) owns the lifecycle of the
distributed PageRank, LPA, k-core and HITS loops: a superstep that
fails leaves no cache and no local checkpoint pinned, and the
session conf an operator narrows for its loop is restored on every exit.
"""

import itertools

import pytest

from cryptowalletcommunitydetection_spark import datagen
from cryptowalletcommunitydetection_spark.graph import (
    core_numbers,
    label_propagation,
    pagerank,
)
from cryptowalletcommunitydetection_spark.graph.hits import hits
from cryptowalletcommunitydetection_spark.plans.superstep import scoped_conf
from tests.pins import nothing_left_pinned


class Injected(RuntimeError):
    pass


# each operator, and which DataFrame.collect opens its superstep 2: the
# setup actions of these calls are counts, and each superstep measures
# with one collect (two for HITS)
RUNS = {
    "pagerank": (lambda spark, e: pagerank(spark, e, strategy="broadcast", directed=True), 2),
    "lpa": (lambda spark, e: label_propagation(spark, e, local=False), 2),
    "kcore": (lambda spark, e: core_numbers(spark, e, local=False), 2),
    "hits": (lambda spark, e: hits(spark, e, local=False), 3),
}


@pytest.mark.parametrize("name", sorted(RUNS))
def test_failed_superstep_releases_everything(spark, monkeypatch, name):
    edges = datagen.edges_df(spark, datagen.erdos_renyi(40, 0.15, seed=13))
    run, nth = RUNS[name]
    calls = itertools.count(1)
    cls = type(edges)  # Spark's concrete (classic) DataFrame class
    collect = cls.collect

    def failing_collect(self):
        if next(calls) == nth:
            raise Injected(f"action {nth}")
        return collect(self)

    with nothing_left_pinned(spark):
        monkeypatch.setattr(cls, "collect", failing_collect)
        with pytest.raises(Injected):
            run(spark, edges)
        monkeypatch.undo()


def test_decoded_pagerank_keeps_only_its_result_pinned(spark):
    """String keys run the loop on int64 vids and decode the ranks into
    a pinned copy; the loop's last state is released after the decode."""
    edges = spark.createDataFrame(
        [(f"w{a}", f"w{b}") for a, b in datagen.erdos_renyi(30, 0.15, seed=3)],
        "src string, dst string",
    )
    with nothing_left_pinned(spark) as keep:
        res = pagerank(spark, edges, strategy="broadcast")
        keep.append(res.ranks)
    assert res.supersteps > 1


def test_scoped_conf_restores_when_the_body_raises(spark):
    key, aqe = "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"
    saved = spark.conf.get(key), spark.conf.get(aqe)
    spark.conf.set(key, "16")
    spark.conf.set(aqe, "true")
    try:
        with pytest.raises(Injected):
            with scoped_conf(spark, 50_000, {aqe: "false"}):
                assert (spark.conf.get(key), spark.conf.get(aqe)) == ("8", "false")
                raise Injected("body")
        assert (spark.conf.get(key), spark.conf.get(aqe)) == ("16", "true")
        with scoped_conf(spark, 10_000_000):  # never widens
            assert spark.conf.get(key) == "16"
    finally:
        spark.conf.set(key, saved[0])
        spark.conf.set(aqe, saved[1])
