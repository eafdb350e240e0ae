"""Resume-from-checkpoint equivalence (SURVEY.md §5 item 4).

Kill-after-superstep-k is simulated by capping max_iter; the rerun with
the same run_dir must resume at k+1 and converge to the same state as an
uninterrupted run.
"""

import json
import os

import numpy as np

from cryptowalletcommunitydetection_spark import datagen
from cryptowalletcommunitydetection_spark.graph import (
    connected_components,
    label_propagation,
    pagerank,
)
from cryptowalletcommunitydetection_spark.plans.checkpoint import RunManifest


def _ranks(res):
    return {r["id"]: r["rank"] for r in res.ranks.collect()}


def _resume_equivalence(spark, tmp_path, strategy):
    pairs = datagen.erdos_renyi(40, 0.05, seed=9)
    edges = datagen.edges_df(spark, pairs)

    full = pagerank(
        spark, edges, tol=1e-8, strategy=strategy, run_dir=str(tmp_path / "full")
    )
    assert full.converged

    part_dir = str(tmp_path / "part")
    partial = pagerank(
        spark, edges, tol=1e-8, max_iter=3, strategy=strategy, run_dir=part_dir
    )
    assert not partial.converged
    resumed = pagerank(spark, edges, tol=1e-8, strategy=strategy, run_dir=part_dir)
    assert resumed.converged
    assert resumed.supersteps == full.supersteps
    # resumed run starts where the partial one stopped
    assert min(m["k"] for m in resumed.metrics if "completed_at" in m) == 0
    ks = [m["k"] for m in resumed.metrics]
    assert ks == list(range(resumed.supersteps)), (
        "manifest must have one record per superstep"
    )

    a, b = _ranks(full), _ranks(resumed)
    assert set(a) == set(b)
    diffs = [abs(a[k] - b[k]) for k in a]
    assert np.max(diffs) < 1e-12


def test_pagerank_resume_equivalence(spark, tmp_path):
    """Auto strategy: below the size gate the local kernel checkpoints."""
    _resume_equivalence(spark, tmp_path, "auto")


def test_pagerank_resume_equivalence_distributed(spark, tmp_path):
    _resume_equivalence(spark, tmp_path, "broadcast")


def test_pagerank_run_dir_across_key_spaces_starts_fresh(spark, tmp_path):
    """String ids: the distributed loop stores xxhash64 vids, the local
    kernel original keys. A run_dir written by one and reused by the
    other must start fresh, never resume in the wrong key space."""
    pairs = datagen.erdos_renyi(40, 0.05, seed=9)
    edges = spark.createDataFrame(
        [(f"w{a}", f"w{b}") for a, b in pairs], "src string, dst string"
    )
    d = str(tmp_path / "pr")
    pagerank(spark, edges, tol=1e-8, max_iter=3, strategy="broadcast", run_dir=d)
    reused = pagerank(spark, edges, tol=1e-8, run_dir=d)
    fresh = pagerank(spark, edges, tol=1e-8)
    assert reused.supersteps == fresh.supersteps
    assert [m["k"] for m in reused.metrics] == list(range(fresh.supersteps))
    assert _ranks(reused) == _ranks(fresh)
    with open(os.path.join(d, "manifest.json")) as f:
        assert json.load(f)["params"]["ids"] == "key"


def test_pagerank_broadcast_resize_never_raises_shuffle_partitions(
    spark, tmp_path, monkeypatch
):
    """The broadcast regime shrinks the rank-state shuffles for small
    graphs; it must never raise them above the session's setting. The
    superstep states reuse the edge partitioning, so their file counts
    alone cannot show a raised setting: the spy also records the value
    in effect when each superstep is checkpointed."""
    edges = datagen.edges_df(spark, datagen.erdos_renyi(40, 0.05, seed=9))
    key = "spark.sql.shuffle.partitions"
    seen = []
    checkpoint = RunManifest.checkpoint

    def spy(self, df, k):
        seen.append(int(spark.conf.get(key)))
        return checkpoint(self, df, k)

    monkeypatch.setattr(RunManifest, "checkpoint", spy)
    before = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        d = str(tmp_path / "pr")
        res = pagerank(spark, edges, tol=1e-6, strategy="broadcast", run_dir=d)
        assert spark.conf.get(key) == "4"
    finally:
        spark.conf.set(key, before)
    assert len(seen) == res.supersteps and max(seen) <= 4, seen
    for s in res.metrics:
        assert 0 < len(s["partitions"]) <= 4, s["partitions"]


def test_pagerank_resume_is_noop_after_convergence(spark, tmp_path):
    edges = datagen.edges_df(spark, datagen.ring(8))
    d = str(tmp_path / "pr")
    r1 = pagerank(spark, edges, tol=1e-8, run_dir=d)
    steps_before = len(r1.metrics)
    r2 = pagerank(spark, edges, tol=1e-8, run_dir=d)
    assert len(r2.metrics) == steps_before
    assert _ranks(r1) == _ranks(r2)


def test_cc_resume(spark, tmp_path):
    pairs = datagen.erdos_renyi(60, 0.03, seed=13)
    edges = datagen.edges_df(spark, pairs)
    d = str(tmp_path / "cc")
    full = {r["id"]: r["component"] for r in connected_components(spark, edges).collect()}
    partial = connected_components(spark, edges, max_iter=1, run_dir=d, strict=False)
    partial.count()
    resumed = {
        r["id"]: r["component"]
        for r in connected_components(spark, edges, run_dir=d).collect()
    }
    assert resumed == full


def test_lpa_resume(spark, tmp_path):
    pairs = datagen.two_cliques_bridge(6)
    edges = datagen.edges_df(spark, pairs)
    d = str(tmp_path / "lpa")
    full = {r["id"]: r["label"] for r in label_propagation(spark, edges).labels.collect()}
    label_propagation(spark, edges, max_iter=1, run_dir=d)
    resumed = {
        r["id"]: r["label"]
        for r in label_propagation(spark, edges, run_dir=d).labels.collect()
    }
    assert resumed == full


def _resume_rejects_changed_weights(spark, tmp_path, strategy):
    """Same topology, different weights = a DIFFERENT input: reusing the
    run_dir must start fresh, not serve the old input's checkpointed
    state (the manifest hash covers the transition column p)."""
    pairs = datagen.two_cliques_bridge(5)
    base = datagen.edges_df(spark, pairs)
    import pyspark.sql.functions as F

    w1 = base.select(
        "src", "dst", ((F.col("src") + F.col("dst")) % 3 + 1.0).alias("weight")
    )
    w2 = base.select(
        "src", "dst", ((F.col("src") * F.col("dst")) % 5 + 1.0).alias("weight")
    )
    d = str(tmp_path / "prw")
    pagerank(spark, w1, tol=1e-10, weighted=True, strategy=strategy, run_dir=d)
    resumed = pagerank(
        spark, w2, tol=1e-10, weighted=True, strategy=strategy, run_dir=d
    )
    fresh = pagerank(spark, w2, tol=1e-10, weighted=True, strategy=strategy)
    a, b = _ranks(resumed), _ranks(fresh)
    assert set(a) == set(b)
    assert max(abs(a[k] - b[k]) for k in a) < 1e-12


def test_pagerank_resume_rejects_changed_weights(spark, tmp_path):
    _resume_rejects_changed_weights(spark, tmp_path, "auto")


def test_pagerank_resume_rejects_changed_weights_distributed(spark, tmp_path):
    _resume_rejects_changed_weights(spark, tmp_path, "broadcast")


def test_lpa_resume_rejects_changed_weights(spark, tmp_path):
    pairs = datagen.two_cliques_bridge(5)
    base = datagen.edges_df(spark, pairs)
    import pyspark.sql.functions as F

    w1 = base.select(
        "src", "dst", ((F.col("src") + F.col("dst")) % 3 + 1.0).alias("weight")
    )
    w2 = base.select(
        "src", "dst", ((F.col("src") * F.col("dst")) % 5 + 1.0).alias("weight")
    )
    d = str(tmp_path / "lpaw")
    label_propagation(spark, w1, weighted=True, run_dir=d)
    resumed = label_propagation(spark, w2, weighted=True, run_dir=d)
    fresh = label_propagation(spark, w2, weighted=True)
    got = {r["id"]: r["label"] for r in resumed.labels.collect()}
    want = {r["id"]: r["label"] for r in fresh.labels.collect()}
    assert got == want


def _manifest_records_partition_lineage(spark, tmp_path, strategy):
    edges = datagen.edges_df(spark, datagen.ring(8))
    d = str(tmp_path / "pr")
    res = pagerank(spark, edges, tol=1e-6, strategy=strategy, run_dir=d)
    with open(os.path.join(d, "manifest.json")) as f:
        m = json.load(f)
    assert m["algo"] == "pagerank"
    assert len(m["supersteps"]) == res.supersteps
    for s in m["supersteps"]:
        assert "wall_ms" in s and "delta" in s
        assert s["partitions"], "per-partition lineage must be recorded"
        assert all("rows" in p and "file" in p for p in s["partitions"])


def test_manifest_records_partition_lineage(spark, tmp_path):
    _manifest_records_partition_lineage(spark, tmp_path, "auto")


def test_manifest_records_partition_lineage_distributed(spark, tmp_path):
    _manifest_records_partition_lineage(spark, tmp_path, "broadcast")
