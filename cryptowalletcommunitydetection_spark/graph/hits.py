"""HITS hubs/authorities (Kleinberg 1999) as iterative joins.

Beyond-reference link-analysis extension (SURVEY.md §2.9): the engine's
PageRank ranks vertices by stationary visit probability; HITS ranks
them on two coupled axes — a good HUB points at good authorities, a
good AUTHORITY is pointed at by good hubs — the natural decomposition
for directed wallet-flow / dependency graphs (exchange deposit wallets
are authorities of user-wallet hubs).

Update rule per superstep, L1-normalized (the networkx convention, so
pytest oracles compare directly):

    a_raw(v) = Σ_{u→v} h(u)         # one join + agg on dst
    h_raw(u) = Σ_{u→v} a_raw(v)     # one join + agg on src (NEW a)
    a = a_raw/Σa_raw,  h = h_raw/Σh_raw
    delta = Σ|a - a_old| + Σ|h - h_old|   (converged when < tol)

Physical design, same shapes as graph/pagerank.py's copartition loop:

- The directed edge table is persisted once; each superstep is two
  equi-joins of the |V|-row score state against it with map-side
  partial aggregation — the edge table never re-shuffles (its cached
  partitioning is reused by both joins), only score rows move.
- Two driver actions per superstep: the fused norm aggregate
  (Σa_raw, Σh_raw — doubles as the state checkpoint's materializing
  action) and the delta aggregate over the now-cached state. (PageRank
  manages one action because its normalizer is closed-form; HITS'
  norms depend on the raw sums themselves.)
- Superstep state is an eager localCheckpoint (leaf plan, superseded
  checkpoints released) — the same unbounded-lineage discipline as
  every iterative operator here.
- Below ``LOCAL_HITS_MAX_EDGES`` a single-task vectorized numpy body
  on ``run_kernel`` (graph/local_kernel.py, the one Arrow boundary of
  the small-graph paths, as PageRank's local path) runs the identical
  update rule; it deduplicates directed rows and symmetrizes canonical
  ones itself, so no Spark-side distinct or symmetrize runs. The gate
  value is inherited from the measured PageRank crossover
  (LOCAL_PR_MAX_EDGES — the join/agg shapes per superstep match;
  not independently re-measured).

``directed=False`` symmetrizes the canonical edge table; on a
symmetric graph hubs == authorities (both converge to the principal
eigenvector direction of the adjacency), which the tests pin.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ..plans.checkpoint import release_local_checkpoint
from .edges import canonicalize_edges, symmetrize, vertices_of
from .local_kernel import KEY, run_kernel

LOCAL_HITS_MAX_EDGES = 4_000_000
"""Directed edge rows below which the single-task kernel runs
(inherited from graph/pagerank.py's measured LOCAL_PR_MAX_EDGES — the
per-superstep join/agg shape is the same; not re-measured)."""


@dataclass
class HitsResult:
    scores: DataFrame  # id, hub, authority
    supersteps: int
    converged: bool


_HITS_FIELDS = {"id": KEY, "hub": DoubleType(), "authority": DoubleType()}


def _hits_body(tol: float, max_iter: int, directed: bool):
    """The local path's power iteration, as a ``run_kernel`` body over
    loop-free directed rows (deduplicated here) or, with
    ``directed=False``, canonical rows (symmetrized here) — the same
    update rule, normalization and stopping test as the distributed
    loop. The meta record carries the step count and the convergence
    flag."""

    def body(g):
        import numpy as np

        n, src, dst = g.n, g.src, g.dst
        if directed:
            key = np.unique(src * n + dst)
            src, dst = key // n, key % n
        else:
            src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
        h = np.full(n, 1.0 / max(n, 1))
        a = h.copy()
        steps, converged = 0, n == 0
        while not converged and steps < max_iter:
            a_raw = np.bincount(dst, weights=h[src], minlength=n)
            h_raw = np.bincount(src, weights=a_raw[dst], minlength=n)
            na, nh = a_raw.sum(), h_raw.sum()
            a_new = a_raw / na if na > 0 else a_raw
            h_new = h_raw / nh if nh > 0 else h_raw
            delta = np.abs(a_new - a).sum() + np.abs(h_new - h).sum()
            a, h = a_new, h_new
            steps += 1
            converged = bool(delta < tol)
        return {"id": np.arange(n), "hub": h, "authority": a}, {"k": steps, "conv": converged}

    return body


def hits(
    spark: SparkSession,
    edges: DataFrame,
    tol: float = 1e-8,
    max_iter: int = 300,
    directed: bool = True,
    assume_canonical: bool = False,
    local: bool | None = None,
) -> HitsResult:
    """Hub/authority scores: HitsResult(scores=DataFrame[id, hub,
    authority], supersteps, converged).

    ``directed=True`` (default) reads ``edges`` as directed (src -> dst;
    deduped and self-loop-filtered unless ``assume_canonical``);
    ``directed=False`` canonicalizes and symmetrizes first (hubs ==
    authorities then, by symmetry). ``local`` forces the physical
    strategy (None = auto by ``LOCAL_HITS_MAX_EDGES``); results are
    identical (parity-tested). The kernel path reads its input rows
    once, so they are persisted only for the size probe.
    """
    if directed:
        rows = edges.select("src", "dst")
        if not assume_canonical:
            rows = rows.filter(F.col("src") != F.col("dst"))
    else:
        rows = (edges if assume_canonical else canonicalize_edges(edges)).select("src", "dst")
    probed = local is None
    try:
        if probed:
            # the probe fills the cache the kernel or the loop reads; it
            # counts directed rows before the dedup, an upper bound
            rows = rows.persist()
            local = rows.count() * (1 if directed else 2) <= LOCAL_HITS_MAX_EDGES
        if local:
            out = run_kernel(rows, _hits_body(tol, max_iter, directed), _HITS_FIELDS)
            return HitsResult(out.rows, out.meta["k"], out.meta["conv"])
        if not directed:
            e = symmetrize(rows, weight=False)
        else:
            e = rows if assume_canonical else rows.distinct()
        return _distributed_hits(e.persist(), tol, max_iter)
    finally:
        if probed:
            rows.unpersist()


def _distributed_hits(e: DataFrame, tol: float, max_iter: int) -> HitsResult:
    """The superstep loop over the persisted directed edge table ``e``,
    which it releases."""
    try:
        verts = vertices_of(e).persist()
        n = verts.count()
        if n == 0:
            empty = verts.select(
                "id", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
            ).localCheckpoint(eager=True)
            verts.unpersist()
            return HitsResult(empty, 0, True)
        # cache the edge table PRE-PARTITIONED AND PRE-SORTED on each
        # superstep join key (one copy per key — 2x edge storage, bought
        # once; the graph/pagerank.py norm_edges pattern): an
        # un-partitioned cache re-exchanges all 2|E| edge rows in BOTH
        # per-superstep joins, and a partitioned-but-unsorted cache
        # still re-SORTS them per join per superstep. Measured at 11M
        # canonical edges (22M directed), local[32], 10-superstep walls
        # including the one-time cache build: 174-225 s un-partitioned,
        # 109-154 s partitioned, 79 s (best clean) partitioned+sorted;
        # marginal cost per EXTRA superstep of the final plan (the
        # iters=12 minus iters=2 protocol, one-time costs cancel):
        # ~5.5 s — ~3.7x PageRank's 1.5 s on the same graph, consistent
        # with 2x the join+agg rounds, 2 actions, and double-width state
        e_src = (
            e.repartition("src").sortWithinPartitions("src").persist()
        )
        e_dst = (
            e.repartition("dst").sortWithinPartitions("dst").persist()
        )
        state = verts.select(
            "id",
            F.lit(1.0 / n).alias("hub"),
            F.lit(1.0 / n).alias("authority"),
        ).localCheckpoint(eager=True)
        prev = state
        converged = False
        steps = 0
        for k in range(max_iter):
            h_side = state.select(F.col("id").alias("_hid"), F.col("hub"))
            a_raw = (
                e_src.join(h_side, e_src.src == F.col("_hid"))
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("hub").alias("_ar"))
            )
            ar_side = a_raw.select(F.col("id").alias("_aid"), F.col("_ar"))
            h_raw = (
                e_dst.join(ar_side, e_dst.dst == F.col("_aid"))
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum("_ar").alias("_hr"))
            )
            raw = (
                state.join(a_raw, "id", "left")
                .join(h_raw, "id", "left")
                .select(
                    "id",
                    F.coalesce("_hr", F.lit(0.0)).alias("_hr"),
                    F.coalesce("_ar", F.lit(0.0)).alias("_ar"),
                    F.col("hub").alias("_h_old"),
                    F.col("authority").alias("_a_old"),
                )
                .localCheckpoint(eager=False)
            )
            # action 1: norms (materializes the checkpoint)
            norm_row = raw.agg(
                F.sum("_hr").alias("_nh"), F.sum("_ar").alias("_na")
            ).collect()[0]
            nh = float(norm_row["_nh"] or 0.0)
            na = float(norm_row["_na"] or 0.0)
            nh = nh if nh > 0 else 1.0
            na = na if na > 0 else 1.0
            # action 2: L1 delta of the normalized update (scan of the
            # now-cached |V|-row state — no joins)
            delta = raw.agg(
                F.sum(
                    F.abs(F.col("_hr") / nh - F.col("_h_old"))
                    + F.abs(F.col("_ar") / na - F.col("_a_old"))
                ).alias("_d")
            ).collect()[0]["_d"]
            state = raw.select(
                "id",
                (F.col("_hr") / nh).alias("hub"),
                (F.col("_ar") / na).alias("authority"),
            )
            release_local_checkpoint(prev)
            prev = raw
            steps = k + 1
            if delta < tol:
                converged = True
                break
        out = state.localCheckpoint(eager=True)
        release_local_checkpoint(prev)
        e_src.unpersist()
        e_dst.unpersist()
        verts.unpersist()
        return HitsResult(out, steps, converged)
    finally:
        e.unpersist()
