"""Synchronous label propagation with deterministic min-label tie-break.

North-rule community-detection analogue of the reference's wallet
clustering (SURVEY.md §2.9 G7). Spec (shared with the pure-Python oracle
in tests/oracles.py, since NetworkX's asyn LPA is randomized):

- label_0(v) = v
- label_{k+1}(v) = the neighbor label with the greatest total incident
  weight (count if unweighted); ties broken by the smallest label;
  isolated vertices keep their label
- stop when no label changes, or after ``max_iter`` supersteps
  (synchronous LPA can 2-cycle on bipartite structures — the cap plus
  checkpointed per-step metrics make that observable and resumable).

Below ``LOCAL_LPA_MAX_EDGES`` the supersteps run as one numpy task.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.checkpoint import RunManifest, release_local_checkpoint
from .edges import canonicalize_edges, symmetrize, vertices_of
from .local_kernel import KEY, run_kernel


@dataclass
class LPAResult:
    labels: DataFrame
    supersteps: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


LOCAL_LPA_MAX_EDGES = 4_000_000
"""Size gate (directed vote rows) below which the superstep loop runs
as a single vectorized numpy task — the same physical-strategy
principle as the CC and PageRank fast paths: below the gate,
distributed supersteps are pure job-scheduling latency. The probe is
one count over the input rows: undirected input is canonical, so it
counts 2× its rows, exactly the deduped vote rows; directed input
counts its non-loop rows, an upper bound on the deduped vote rows (the
kernel dedups). Vote sums are float64 in both paths; with integral
weights (including the unweighted unit vote) sums are exact below 2^53
regardless of order, so the min-(−score, label) tie-break is
bit-identical to the distributed hash-agg argmax. ``run_dir``
checkpointing always uses the distributed loop.

The 4M value is measured, not guessed (``bench_scripts/lpa_crossover.py``,
local[32], fresh JVM per level, min-of-2, identical label sketches): at
4M vote rows the paths tie (16.8 s local vs 18.8 s distributed); at 8M
the loop wins 25.6 vs 40.4 s and at 16M it wins 35.5 vs 93.3 s. Full
table in ``BENCH/BASELINE.md``."""


def _lpa_body(max_iter: int, directed: bool):
    """The local path's synchronous LPA, as a ``run_kernel`` body.

    The body builds the vote table itself: undirected canonical rows
    vote both ways; directed rows are deduplicated per (src, dst),
    weights summed, or one unit vote when unweighted. Codes are in key
    order, so "smallest label" ties resolve to the distributed loop's
    winner. Per superstep: one (dst, label) key compaction + bincount
    + lexsorted group-head pick — the vectorized twin of the two hash
    aggs in the distributed superstep. The meta record carries the step
    count, the convergence flag and one record per superstep (``k``,
    ``wall_ms``, ``delta`` = changed labels)."""

    def body(g):
        import time

        import numpy as np

        nn = g.n
        src, dst, w = g.src, g.dst, g.weight
        if directed:
            key, inv = np.unique(src * nn + dst, return_inverse=True)
            w = np.bincount(inv, weights=w) if w is not None else np.ones(len(key))
            src, dst = key // nn, key % nn
        else:
            src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
            w = np.concatenate([w, w]) if w is not None else np.ones(len(src))

        lab = np.arange(nn, dtype=np.int64)  # label_0(v) = v
        steps, converged, records = 0, False, []
        for k in range(max_iter):
            t0 = time.monotonic()
            # (dst, neighbor-label) vote sums
            uk, ki = np.unique(dst * nn + lab[src], return_inverse=True)
            s = np.bincount(ki, weights=w)
            kd = uk // nn
            kl = uk % nn
            # per dst: max score, tie -> smallest label. uk is sorted by
            # (kd, kl); reorder by (kd, -s, kl) and take each group head.
            o = np.lexsort((kl, -s, kd))
            kd_o, kl_o = kd[o], kl[o]
            head = np.ones(len(o), dtype=bool)
            head[1:] = kd_o[1:] != kd_o[:-1]
            new = lab.copy()
            new[kd_o[head]] = kl_o[head]
            changed = int((new != lab).sum())
            lab = new
            steps = k + 1
            records.append({"k": k, "wall_ms": (time.monotonic() - t0) * 1e3, "delta": changed})
            if changed == 0:
                converged = True
                break
        return (
            {"id": np.arange(nn), "label": lab},
            {"k": steps, "conv": converged, "steps": records},
        )

    return body


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 20,
    weighted: bool = False,
    directed: bool = False,
    run_dir: str | None = None,
    local: bool | None = None,
    assume_canonical: bool = False,
) -> LPAResult:
    """DataFrame[id, label] after synchronous min-tie-break LPA.

    ``assume_canonical`` (undirected only): input is guaranteed already
    canonical (src < dst, one row per unordered pair, no self-loops —
    the ``derive_edges`` output contract), so the defensive
    ``canonicalize_edges`` groupBy — one full |E|-scale shuffle — is
    skipped. A contract, not a hint: duplicate orientations passed
    under it would cast double votes.

    ``local`` picks the physical strategy below ``LOCAL_LPA_MAX_EDGES``
    vote rows: ``None`` (default) auto-selects the single-task
    vectorized kernel when ``run_dir`` is not requested; ``False``
    forces the distributed superstep loop; ``True`` forces the local
    kernel regardless of size (expert). Label parity between the two
    paths is exact for integral weights (see LOCAL_LPA_MAX_EDGES) and
    tested."""
    has_w = weighted and "weight" in edges.columns
    cols = ["src", "dst"] + (["weight"] if has_w else [])
    if directed:
        # same hygiene as the undirected path: self-loops never vote for
        # their own label, duplicate rows collapse (weights summed when
        # weighted, a single unit vote otherwise)
        base = edges.filter(F.col("src") != F.col("dst")).select(*cols)
    elif assume_canonical:
        base = edges.select(*cols)
    else:
        # nx.Graph semantics: duplicate rows / orientations collapse
        base = canonicalize_edges(edges, weight="weight" if has_w else None).select(*cols)

    # local fast path: size-probe the input rows (see LOCAL_LPA_MAX_EDGES);
    # the cache feeds the kernel, or the vote table of the distributed loop
    probe_cache = None
    try:
        if run_dir is None and local is None:
            probe_cache = base = base.persist(StorageLevel.MEMORY_AND_DISK)
            local = base.count() * (1 if directed else 2) <= LOCAL_LPA_MAX_EDGES
        if run_dir is None and local:
            out = run_kernel(
                base, _lpa_body(max_iter, directed), {"id": KEY, "label": KEY},
                weight=has_w,
            )
            return LPAResult(out.rows, out.meta["k"], out.meta["conv"], out.meta["steps"])

        w = F.col("weight") if has_w else F.lit(1)
        if directed:
            if has_w:
                e = base.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
            else:
                e = base.distinct().select("src", "dst", w.alias("weight"))
        else:
            e = symmetrize(base.select("src", "dst", w.alias("weight")), weight=True)
        # distributed loop ahead: lay the vote table out partitioned AND
        # sorted on the per-round join key — an un-laid-out cache makes
        # every round's sort-merge join re-exchange and re-sort all 2|E|
        # vote rows (the graph/hits.py layout measurement; for LPA at 11M
        # canonical edges see BENCH/BASELINE.md). One exchange + sort,
        # bought once; the local kernel path above never pays it.
        e = (
            e.repartition("src").sortWithinPartitions("src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        e.count()
    finally:
        if probe_cache is not None:
            probe_cache.unpersist()

    verts = vertices_of(e).persist(StorageLevel.MEMORY_AND_DISK)
    labels = verts.select("id", F.col("id").alias("label"))

    manifest = None
    start_k = 0
    params = {"weighted": has_w, "directed": directed}
    if run_dir is not None:
        # key the manifest on the input identity so a different edge
        # table in the same run_dir starts fresh instead of resuming.
        # ``e`` always carries a weight column (lit(1) when unweighted)
        # and is deduplicated by construction above, so hashing
        # (src, dst, weight) covers weighted-vote changes and cannot
        # suffer pairwise XOR cancellation of duplicate rows.
        sk = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("src", "dst", "weight")).alias("h"),
        ).collect()[0]
        params = {**params, "input_rows": sk["n"], "input_hash": sk["h"]}
        manifest = RunManifest.open_or_create(run_dir, "lpa", params)
        last = manifest.last_complete()
        if last >= 0:
            labels = manifest.load_state(spark, last).select("id", "label")
            start_k = last + 1
            if any(s["k"] == last and s.get("delta") == 0 for s in manifest.supersteps):
                return LPAResult(labels, last + 1, True, manifest.metrics())
    labels = labels.localCheckpoint(eager=True) if manifest is None else labels

    converged = False
    steps = start_k
    local_metrics: list[dict] = []
    # seed with the initial pinned state so round 0 releases it
    prev_ckpt = labels if manifest is None else None
    for k in range(start_k, max_iter):
        t0 = time.monotonic()
        nbr = e.join(labels, e.src == labels.id).select(
            F.col("dst"), F.col("label"), F.col("weight")
        )
        scores = nbr.groupBy("dst", "label").agg(F.sum("weight").alias("_s"))
        # argmax by (greatest _s, then smallest label) as a hash agg:
        # min(struct(-_s, label)) picks the same winner a
        # row_number window over (desc _s, asc label) would, without
        # the window's per-partition sort — two hash aggs per superstep
        # (both with map-side partial aggregation), no sort anywhere
        best = (
            scores.groupBy("dst")
            .agg(
                F.min(
                    F.struct((-F.col("_s")).alias("_ns"), F.col("label"))
                ).alias("_b")
            )
            .select(F.col("dst").alias("id"), F.col("_b.label").alias("_new"))
        )
        new_labels = (
            labels.join(best, "id", "left")
            .select("id", F.coalesce("_new", F.col("label")).alias("label"),
                    F.col("label").alias("_old"))
        )
        # checkpoint BEFORE the changed-count so the superstep computes
        # once: the count below is the action that materializes it
        if manifest is not None:
            new_labels = manifest.checkpoint(new_labels, k)
        else:
            new_labels = new_labels.localCheckpoint(eager=False)
        # one action: changed-count and row-count fused
        agg_row = new_labels.agg(
            F.sum((F.col("label") != F.col("_old")).cast("long")).alias("_chg"),
            F.count(F.lit(1)).alias("_n"),
        ).collect()[0]
        changed = int(agg_row["_chg"] or 0)
        wall_ms = (time.monotonic() - t0) * 1e3
        entry = {"k": k, "wall_ms": wall_ms, "delta": changed}
        local_metrics.append(entry)
        if manifest is not None:
            manifest.record_superstep(
                spark, k, wall_ms=wall_ms, delta=changed, rows=agg_row["_n"]
            )
        if prev_ckpt is not None and manifest is None:
            release_local_checkpoint(prev_ckpt)
        prev_ckpt = new_labels
        labels = new_labels.select("id", "label")
        steps = k + 1
        if changed == 0:
            converged = True
            break

    e.unpersist()
    verts.unpersist()
    metrics = manifest.metrics() if manifest is not None else local_metrics
    return LPAResult(labels, steps, converged, metrics)
