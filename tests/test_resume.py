"""Resume-from-checkpoint equivalence (SURVEY.md §5 item 4).

Kill-after-superstep-k is simulated by capping max_iter; the rerun with
the same run_dir must resume at k+1 and converge to the same state as an
uninterrupted run.
"""

import json
import os

import numpy as np
import pytest

from cryptowalletcommunitydetection_spark import datagen
from cryptowalletcommunitydetection_spark.graph import (
    connected_components,
    core_numbers,
    label_propagation,
    pagerank,
)
from cryptowalletcommunitydetection_spark.plans.checkpoint import RunManifest
from tests.pins import nothing_left_pinned


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


def _cc_resume(spark, tmp_path, local):
    pairs = datagen.erdos_renyi(60, 0.03, seed=13)
    edges = datagen.edges_df(spark, pairs)
    d = str(tmp_path / "cc")
    full = {r["id"]: r["component"] for r in connected_components(spark, edges).collect()}
    partial = connected_components(spark, edges, max_iter=1, run_dir=d, strict=False, local=local)
    partial.count()
    resumed = {
        r["id"]: r["component"]
        for r in connected_components(spark, edges, run_dir=d, local=local).collect()
    }
    assert resumed == full


def test_cc_resume(spark, tmp_path):
    """Below the gate the kernel's one superstep is the final labels."""
    _cc_resume(spark, tmp_path, None)


def test_cc_resume_distributed(spark, tmp_path):
    _cc_resume(spark, tmp_path, False)


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


class Killed(RuntimeError):
    pass


def _killed_then_resumed(spark, tmp_path, monkeypatch, run):
    """Run ``run(run_dir)`` killed right after superstep 2's state is
    written and before the manifest records it, then rerun it. The kill
    leaves nothing pinned; the rerun resumes after superstep 1 (its
    first state written is superstep 2's) and returns the same as an
    uninterrupted run. ``RunManifest.checkpoint`` writes the states of
    both paths: Spark's, and the driver-side kernel's."""
    d = str(tmp_path / "killed")
    checkpoint = RunManifest.checkpoint

    def killing_checkpoint(self, df, k):
        out = checkpoint(self, df, k)
        if k == 2:
            raise Killed("after the state of superstep 2 was written")
        return out

    with nothing_left_pinned(spark):
        monkeypatch.setattr(RunManifest, "checkpoint", killing_checkpoint)
        with pytest.raises(Killed):
            run(d)
        monkeypatch.undo()
    assert [s["k"] for s in RunManifest.load(d).supersteps] == [0, 1]
    written = []

    def spy(self, df, k):
        written.append(k)
        return checkpoint(self, df, k)

    monkeypatch.setattr(RunManifest, "checkpoint", spy)
    resumed = run(d)
    monkeypatch.undo()
    assert written[0] == 2, written
    straight = run(str(tmp_path / "straight"))
    assert (resumed.supersteps, resumed.converged) == (straight.supersteps, straight.converged)
    assert [m["k"] for m in resumed.metrics] == list(range(straight.supersteps))
    return resumed, straight


def test_pagerank_resume_after_killed_superstep(spark, tmp_path, monkeypatch):
    edges = datagen.edges_df(spark, datagen.erdos_renyi(40, 0.05, seed=9))
    resumed, straight = _killed_then_resumed(
        spark, tmp_path, monkeypatch,
        lambda d: pagerank(spark, edges, tol=1e-4, strategy="broadcast", run_dir=d),
    )
    a, b = _ranks(resumed), _ranks(straight)
    assert set(a) == set(b)
    assert max(abs(a[k] - b[k]) for k in a) < 1e-12


def _lpa_killed(spark, tmp_path, monkeypatch, local):
    edges = datagen.edges_df(spark, datagen.erdos_renyi(36, 0.15, seed=21))
    resumed, straight = _killed_then_resumed(
        spark, tmp_path, monkeypatch,
        lambda d: label_propagation(spark, edges, run_dir=d, local=local),
    )
    assert resumed.converged
    labels = [{r["id"]: r["label"] for r in x.labels.collect()} for x in (resumed, straight)]
    assert labels[0] == labels[1]


def test_lpa_resume_after_killed_superstep(spark, tmp_path, monkeypatch):
    _lpa_killed(spark, tmp_path, monkeypatch, False)


def test_lpa_resume_after_killed_superstep_local(spark, tmp_path, monkeypatch):
    """The driver-side kernel commits each superstep: a body killed
    after superstep 2's state was written resumes at superstep 2."""
    _lpa_killed(spark, tmp_path, monkeypatch, None)


def _kcore_killed(spark, tmp_path, monkeypatch, local):
    edges = datagen.edges_df(spark, datagen.erdos_renyi(36, 0.15, seed=21))
    resumed, straight = _killed_then_resumed(
        spark, tmp_path, monkeypatch, lambda d: core_numbers(spark, edges, run_dir=d, local=local),
    )
    cores = [{r["id"]: r["core"] for r in x.cores.collect()} for x in (resumed, straight)]
    assert cores[0] == cores[1]


def test_kcore_resume_after_killed_superstep(spark, tmp_path, monkeypatch):
    _kcore_killed(spark, tmp_path, monkeypatch, False)


def test_kcore_resume_after_killed_superstep_local(spark, tmp_path, monkeypatch):
    _kcore_killed(spark, tmp_path, monkeypatch, None)


def test_kcore_run_dir_reused_on_changed_input_starts_fresh(spark, tmp_path):
    """A run dir written by a capped run on graph A, reused on a graph B
    with as many edges, starts fresh: B's cores, not A's state."""
    a = datagen.erdos_renyi(40, 0.15, seed=13)
    b = datagen.erdos_renyi(40, 0.2, seed=14)[: len(a)]
    assert len(b) == len(a) and set(b) != set(a)
    d = str(tmp_path / "kcore")
    with pytest.raises(RuntimeError, match="fixpoint"):
        core_numbers(spark, datagen.edges_df(spark, a), max_iter=1, run_dir=d)
    edges_b = datagen.edges_df(spark, b)
    reused = core_numbers(spark, edges_b, run_dir=d)
    straight = core_numbers(spark, edges_b)
    assert reused.supersteps == straight.supersteps
    assert [m["k"] for m in reused.metrics] == list(range(straight.supersteps))
    got = {r["id"]: r["core"] for r in reused.cores.collect()}
    assert got == {r["id"]: r["core"] for r in straight.cores.collect()}


# every operator with a run_dir, by path: the call, its result as
# Python values, and the tolerance of the path parity (0 = exact)
_RUNS = {
    "pagerank": (
        lambda spark, e, d, local, **kw: pagerank(
            spark, e, tol=1e-8, run_dir=d, strategy={None: "auto", False: "broadcast"}[local],
            **kw),
        lambda r: {x["id"]: x["rank"] for x in r.ranks.collect()}, 1e-9,
    ),
    "lpa": (
        lambda spark, e, d, local, **kw: label_propagation(
            spark, e, run_dir=d, local=local, **kw),
        lambda r: {x["id"]: x["label"] for x in r.labels.collect()}, 0,
    ),
    "kcore": (
        lambda spark, e, d, local, **kw: core_numbers(spark, e, run_dir=d, local=local, **kw),
        lambda r: {x["id"]: x["core"] for x in r.cores.collect()}, 0,
    ),
    "cc": (
        lambda spark, e, d, local, **kw: connected_components(
            spark, e, run_dir=d, local=local, **kw),
        lambda r: {x["id"]: x["component"] for x in r.collect()}, 0,
    ),
}
_PATHS = {"local": None, "distributed": False}


def _close(a, b, tol):
    return a.keys() == b.keys() and all(abs(a[k] - b[k]) <= tol for k in a)


def _supersteps(d):
    return sorted(f for f in os.listdir(d) if f.startswith("superstep_"))


def _holds_one_state(d):
    """Resume reads only the last state, so a finished run dir holds the
    manifest plus that one state, while the manifest keeps one record
    per superstep."""
    records = RunManifest.load(d).supersteps
    assert _supersteps(d) == [f"superstep_{records[-1]['k']:05d}"]
    assert [s["k"] for s in records] == list(range(len(records)))


@pytest.mark.parametrize("name", sorted(_RUNS))
def test_finished_distributed_run_dir_holds_one_state(spark, tmp_path, name):
    call, _, _ = _RUNS[name]
    edges = datagen.edges_df(spark, datagen.erdos_renyi(36, 0.15, seed=21))
    d = str(tmp_path / "run")
    call(spark, edges, d, _PATHS["distributed"])
    _holds_one_state(d)


def test_fresh_start_clears_the_other_runs_states(spark, tmp_path):
    """A run dir reused on another input starts fresh, and the states of
    the run it replaces go with that run's manifest."""
    d = str(tmp_path / "run")
    a = datagen.edges_df(spark, datagen.erdos_renyi(36, 0.15, seed=21))
    label_propagation(spark, a, max_iter=5, run_dir=d)
    assert _supersteps(d) == ["superstep_00004"]
    b = label_propagation(spark, datagen.edges_df(spark, datagen.two_cliques_bridge(4)), run_dir=d)
    assert b.supersteps < 5
    _holds_one_state(d)


@pytest.mark.parametrize("path", sorted(_PATHS))
def test_earlier_result_stays_readable_after_a_resume(spark, tmp_path, path):
    """A later call that resumes a run dir and continues it deletes only
    the states it wrote: the state an earlier call returned (which the
    distributed path reads lazily from the run dir) stays."""
    edges = datagen.edges_df(spark, datagen.erdos_renyi(36, 0.15, seed=21))
    local = _PATHS[path]
    d = str(tmp_path / "run")
    first = label_propagation(spark, edges, max_iter=2, run_dir=d, local=local)
    assert not first.converged
    resumed = label_propagation(spark, edges, run_dir=d, local=local)
    assert resumed.converged and resumed.supersteps > 3
    assert _supersteps(d) == ["superstep_00001", f"superstep_{resumed.supersteps - 1:05d}"]
    capped = label_propagation(spark, edges, max_iter=2, local=local)
    got = {r["id"]: r["label"] for r in first.labels.collect()}
    assert got == {r["id"]: r["label"] for r in capped.labels.collect()}


@pytest.mark.parametrize("order", ["local-then-distributed", "distributed-then-local"])
@pytest.mark.parametrize("name", ["pagerank", "lpa", "kcore"])
def test_run_dir_resumes_across_strategies(spark, tmp_path, name, order):
    """With int64 keys both paths write states in the same key space and
    key the manifest alike, so a run dir capped on one path resumes on
    the other after its last superstep and ends where a straight run
    ends."""
    call, values, tol = _RUNS[name]
    first, second = [_PATHS[p] for p in order.split("-then-")]
    edges = datagen.edges_df(spark, datagen.erdos_renyi(36, 0.15, seed=21))
    d = str(tmp_path / "run")
    try:
        call(spark, edges, d, first, max_iter=2)
    except RuntimeError:  # k-core refuses to return a capped state
        assert name == "kcore"
    records = RunManifest.load(d).supersteps
    assert [s["k"] for s in records] == [0, 1]
    resumed = call(spark, edges, d, second)
    straight = call(spark, edges, str(tmp_path / "straight"), second)
    assert resumed.metrics[:2] == records
    assert (resumed.supersteps, resumed.converged) == (straight.supersteps, straight.converged)
    assert _close(values(resumed), values(straight), tol)


@pytest.mark.parametrize("name", sorted(_RUNS))
def test_small_run_dir_call_is_one_spark_job(spark, tmp_path, name):
    """Below the gate a run_dir call is one Spark job, fresh or resumed:
    the kernel keys the manifest over its collected rows and reads the
    resume state with pyarrow. Its result equals the call without
    run_dir bit for bit, and the finished run dir holds one state."""
    call, values, _ = _RUNS[name]
    edges = datagen.edges_df(spark, datagen.erdos_renyi(36, 0.15, seed=21))
    sc = spark.sparkContext
    d = str(tmp_path / "run")
    for leg in ("fresh", "resumed"):
        group = f"run-dir-one-job-{name}-{leg}"
        sc.setJobGroup(group, group, interruptOnCancel=False)
        try:
            res = call(spark, edges, d, None, assume_canonical=True)
        finally:
            sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1, leg
        assert values(res) == values(call(spark, edges, None, None, assume_canonical=True))
        _holds_one_state(d)
