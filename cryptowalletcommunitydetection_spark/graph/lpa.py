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

Below ``LOCAL_LPA_MAX_EDGES`` the supersteps run as one numpy body in
the driver, with or without ``run_dir`` (the kernel commits one state
per superstep). Above it they run on plans/superstep.py's
``run_supersteps``: one changed-count aggregate per superstep computes
and pins the new labels (a local checkpoint, or Parquet under
``run_dir``), and every cache and state is released also when a
superstep fails. A run dir is keyed on the input's content identity,
so a changed input starts fresh, and resumes on either path.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.checkpoint import RunManifest, content_identity, release_local_checkpoint
from ..plans.superstep import count_changed, run_supersteps, unchanged
from .edges import canonicalize_edges, symmetrize, vertices_of
from .local_kernel import KEY, Resumable, iterate, run_kernel


@dataclass
class LPAResult:
    labels: DataFrame
    supersteps: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


LOCAL_LPA_MAX_EDGES = 4_000_000
"""Size gate (directed vote rows) below which the superstep loop runs
as one vectorized numpy body in the driver — the same physical-strategy
principle as the CC and PageRank fast paths: below the gate,
distributed supersteps are pure job-scheduling latency. The kernel's
collect counts the input rows (``run_kernel``'s ``max_edge_rows``):
undirected input is canonical, so 2× its rows, exactly the deduped
vote rows; directed input counts its non-loop rows, an upper bound on
the deduped vote rows (the kernel dedups). Vote sums are float64 in
both paths; with integral weights (including the unweighted unit
vote) sums are exact below 2^53 regardless of order, so the
min-(−score, label) tie-break is bit-identical to the distributed
hash-agg argmax. The gate applies with or without ``run_dir``.

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
    winner. Per superstep (on ``iterate``): one (dst, label) key
    compaction + bincount + lexsorted group-head pick — the vectorized
    twin of the two hash aggs in the distributed superstep, with the
    same records (``delta`` = changed labels, ``rows`` = vertices)."""

    def body(g):
        nn = g.n
        src, dst, w = g.src, g.dst, g.weight
        if directed:
            key, inv = np.unique(src * nn + dst, return_inverse=True)
            w = np.bincount(inv, weights=w) if w is not None else np.ones(len(key))
            src, dst = key // nn, key % nn
        else:
            src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
            w = np.concatenate([w, w]) if w is not None else np.ones(len(src))

        def step(lab):
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
            return new, {"delta": int((new != lab).sum()), "rows": nn}

        # label_0(v) = v
        lab, meta = iterate(g, np.arange(nn, dtype=np.int64), step, unchanged, max_iter)
        return {"id": np.arange(nn), "label": lab}, meta

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
    vote rows: ``None`` (default) auto-selects the driver-side
    vectorized kernel, with or without ``run_dir``; ``False`` forces
    the distributed superstep loop; ``True`` forces the local kernel
    regardless of size (expert). Label parity between the two paths is
    exact for integral weights (see LOCAL_LPA_MAX_EDGES) and tested.

    ``run_dir`` makes the run resumable one superstep at a time on
    either path (see ``RunManifest``): the manifest is keyed on the
    input rows (weights as doubles), and a run dir written by one path
    resumes on the other."""
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

    # local fast path (see LOCAL_LPA_MAX_EDGES); shuffled rows are
    # pinned lazily for a fall-through past the gate (see run_kernel)
    params = {"weighted": has_w, "directed": directed}
    pinned = None
    if local is None and not (directed or assume_canonical):
        pinned = base = base.localCheckpoint(eager=False)
    manifest = None
    try:
        if local is not False:
            out = run_kernel(
                base, _lpa_body(max_iter, directed), {"id": KEY, "label": KEY},
                weight=has_w,
                max_edge_rows=None if local else LOCAL_LPA_MAX_EDGES // (1 if directed else 2),
                run=None if run_dir is None else Resumable(run_dir, "lpa", params, ("label", KEY)),
            )
            if out is not None:
                return LPAResult(out.rows, out.meta["k"], out.meta["conv"], out.meta["steps"])
        if run_dir is not None:
            # the kernel's key: the input rows, weights as doubles
            w = [F.col("weight").cast("double")] if has_w else []
            manifest = RunManifest.open_or_create(
                run_dir, "lpa", {**params, "input": content_identity(base, "src", "dst", *w)},
            )

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
        if pinned is not None:
            release_local_checkpoint(pinned)

    verts = vertices_of(e).persist(StorageLevel.MEMORY_AND_DISK)

    def step(prev: DataFrame, _: dict) -> DataFrame:
        labels = prev.select("id", "label")
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
        return (
            labels.join(best, "id", "left")
            .select("id", F.coalesce("_new", F.col("label")).alias("label"),
                    F.col("label").alias("_old"))
        )

    # one action per superstep: the changed-count and row-count aggregate
    res = run_supersteps(
        verts.select("id", F.col("id").alias("label")), step,
        count_changed("label"), unchanged,
        max_iter=max_iter, manifest=manifest, inputs=(e, verts),
    )
    return LPAResult(
        res.state.select("id", "label"), res.supersteps, res.converged, res.metrics
    )
