"""Incremental maintenance (graph/incremental.py + pagerank init_ranks).

The reference recomputes its clustering from scratch every scheduler
window (services/wallet_clustering.py:51-59 rebuilds the whole graph per
run; the last_synced cursor at utils/file_utils.py:51-66 only bounds the
INGEST). These tests pin the incremental twins: condensed-CC over a
delta must equal a full run over base ∪ delta EXACTLY, and a warm-started
PageRank must reach the same fixed point as a cold run (init moves the
starting point, never the answer).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cryptowalletcommunitydetection_spark import datagen
from cryptowalletcommunitydetection_spark.graph import (
    connected_components,
    incremental_components,
    pagerank,
)


def _labels(df):
    return {r["id"]: r["component"] for r in df.collect()}


def _ranks(res):
    return {r["id"]: r["rank"] for r in res.ranks.collect()}


def _assert_close(a: dict, b: dict, atol=1e-8):
    assert set(a) == set(b)
    diffs = [abs(a[k] - b[k]) for k in a]
    assert max(diffs) < atol, f"max diff {max(diffs)}"


# ---------------------------------------------------------------- CC ---


SCENARIOS = {
    # the bridge edge merges the two clique components
    "merge_two_components": (
        [(i, j) for i in range(5) for j in range(i + 1, 5)]
        + [(5 + i, 5 + j) for i in range(5) for j in range(i + 1, 5)],
        [(0, 5)],
    ),
    # delta entirely inside one existing component (remap is a no-op)
    "within_component": (datagen.ring(12), [(0, 6), (3, 9)]),
    # delta introduces brand-new vertices attached to an old component
    "new_vertices_attach": (datagen.ring(10), [(0, 100), (100, 101)]),
    # delta is a disjoint brand-new component
    "new_component_only": (datagen.ring(10), [(200, 201), (201, 202)]),
    # hygiene: self-loops and duplicate orientations in the delta
    "dirty_delta": (datagen.ring(10), [(3, 3), (0, 5), (5, 0), (0, 5)]),
}


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_incremental_cc_matches_full(spark, name):
    base_pairs, delta_pairs = SCENARIOS[name]
    base = datagen.edges_df(spark, base_pairs)
    delta = datagen.edges_df(spark, delta_pairs)

    prior = connected_components(spark, base)
    inc = incremental_components(spark, prior, delta)
    full = connected_components(spark, base.unionByName(delta))
    assert _labels(inc) == _labels(full)


def test_incremental_cc_random_delta(spark):
    rng = np.random.default_rng(7)
    base_pairs = datagen.erdos_renyi(80, 0.03, seed=11)
    # delta mixes old-old, old-new and new-new endpoints
    delta_pairs = [
        (int(rng.integers(0, 80)), int(rng.integers(0, 120))) for _ in range(25)
    ]
    base = datagen.edges_df(spark, base_pairs)
    delta = datagen.edges_df(spark, delta_pairs)

    prior = connected_components(spark, base)
    inc = incremental_components(spark, prior, delta)
    full = connected_components(spark, base.unionByName(delta))
    assert _labels(inc) == _labels(full)


def test_incremental_cc_reference_fixture(spark, reference_pairs_pdf):
    """String-keyed real workload: hold out a 15% tail of the pair list
    as the delta batch and re-converge incrementally."""
    pdf = reference_pairs_pdf.rename(
        columns={"from_address": "src", "to_address": "dst"}
    )
    cut = int(len(pdf) * 0.85)
    base = spark.createDataFrame(pdf.iloc[:cut], schema="src string, dst string")
    delta = spark.createDataFrame(pdf.iloc[cut:], schema="src string, dst string")

    prior = connected_components(spark, base)
    inc = incremental_components(spark, prior, delta)
    full = connected_components(
        spark, spark.createDataFrame(pdf, schema="src string, dst string")
    )
    assert _labels(inc) == _labels(full)


def test_incremental_cc_empty_delta(spark):
    base = datagen.edges_df(spark, datagen.ring(8))
    prior = connected_components(spark, base)
    inc = incremental_components(
        spark, prior, datagen.edges_df(spark, [])
    )
    assert _labels(inc) == _labels(prior)


# ---------------------------------------------------------- PageRank ---


def test_warm_start_same_fixed_point_local(spark):
    """Local kernel: warm-starting from the ranks of a DIFFERENT (base)
    graph converges to the same vector a cold run does."""
    base_pairs = datagen.erdos_renyi(60, 0.06, seed=3)
    delta_pairs = [(1, 58), (2, 57), (0, 60), (60, 61)]
    base = datagen.edges_df(spark, base_pairs)
    new = base.unionByName(datagen.edges_df(spark, delta_pairs))

    prior = pagerank(spark, base, tol=1e-10)
    cold = pagerank(spark, new, tol=1e-10)
    warm = pagerank(spark, new, tol=1e-10, init_ranks=prior.ranks)
    assert warm.converged
    _assert_close(_ranks(cold), _ranks(warm))


def test_warm_start_fewer_supersteps(spark):
    """The point of the warm start: after a small delta, re-convergence
    from the prior vector takes a fraction of the cold supersteps."""
    base_pairs = datagen.erdos_renyi(120, 0.04, seed=5)
    base = datagen.edges_df(spark, base_pairs)
    new = base.unionByName(datagen.edges_df(spark, [(0, 119), (3, 118)]))

    prior = pagerank(spark, base, tol=1e-10)
    cold = pagerank(spark, new, tol=1e-10)
    warm = pagerank(spark, new, tol=1e-10, init_ranks=prior.ranks)
    assert warm.converged and cold.converged
    assert warm.supersteps < cold.supersteps, (
        f"warm {warm.supersteps} !< cold {cold.supersteps}"
    )
    _assert_close(_ranks(cold), _ranks(warm))


def test_warm_start_distributed_string_keys_dangling(spark):
    """Forced-distributed loop + string keys (exercises the xxhash64
    encode of the init table) + a directed dangling vertex (exercises
    the warm dangling-mass aggregate)."""
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")]  # d dangles
    edges = spark.createDataFrame(
        pd.DataFrame(pairs, columns=["src", "dst"]), "src string, dst string"
    )
    cold = pagerank(spark, edges, directed=True, tol=1e-12,
                    strategy="broadcast")
    # prior: a deliberately lopsided but positive vector, with an id the
    # graph doesn't contain (dropped) and a non-positive row (discarded)
    prior = spark.createDataFrame(
        pd.DataFrame(
            [("a", 0.7), ("b", 0.1), ("zz", 0.5), ("c", -1.0)],
            columns=["id", "rank"],
        )
    )
    warm = pagerank(spark, edges, directed=True, tol=1e-12,
                    strategy="broadcast", init_ranks=prior)
    assert warm.converged
    _assert_close(_ranks(cold), _ranks(warm), atol=1e-9)


def test_warm_start_duplicate_prior_ids_do_not_duplicate_state(spark):
    edges = datagen.edges_df(spark, datagen.ring(12))
    dup = spark.createDataFrame(
        pd.DataFrame([(0, 0.3), (0, 0.2), (5, 0.5)], columns=["id", "rank"]),
        "id long, rank double",
    )
    warm = pagerank(spark, edges, tol=1e-10, strategy="broadcast",
                    init_ranks=dup)
    ranks = _ranks(warm)
    assert len(ranks) == 12
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    cold = pagerank(spark, edges, tol=1e-10)
    _assert_close(_ranks(cold), ranks)


def _warm_start_ignored_on_manifest_resume(spark, tmp_path, strategy):
    """A checkpointed run's state supersedes any init_ranks a resume
    passes — the resumed result equals the uninterrupted run."""
    edges = datagen.edges_df(spark, datagen.erdos_renyi(40, 0.05, seed=9))
    full = pagerank(
        spark, edges, tol=1e-8, strategy=strategy, run_dir=str(tmp_path / "full")
    )

    d = str(tmp_path / "part")
    partial = pagerank(
        spark, edges, tol=1e-8, max_iter=3, strategy=strategy, run_dir=d
    )
    assert not partial.converged
    junk = spark.createDataFrame(
        pd.DataFrame([(0, 0.99), (1, 0.01)], columns=["id", "rank"]),
        "id long, rank double",
    )
    resumed = pagerank(
        spark, edges, tol=1e-8, strategy=strategy, run_dir=d, init_ranks=junk
    )
    assert resumed.converged
    _assert_close(_ranks(full), _ranks(resumed), atol=1e-12)


def test_warm_start_ignored_on_manifest_resume(spark, tmp_path):
    _warm_start_ignored_on_manifest_resume(spark, tmp_path, "auto")


def test_warm_start_ignored_on_manifest_resume_distributed(spark, tmp_path):
    _warm_start_ignored_on_manifest_resume(spark, tmp_path, "broadcast")