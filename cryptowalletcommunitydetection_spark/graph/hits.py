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
- The loop is plans/superstep.py's ``run_supersteps``, shared with
  PageRank, LPA and k-core: the checkpointed state is the raw
  (unnormalized) score table, which the next superstep and the result
  normalize by the norms its record carries; superseded states are
  released, every cache and state also when a superstep fails, and
  each superstep returns one metrics record.
- Below ``LOCAL_HITS_MAX_EDGES`` a driver-side vectorized numpy body
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

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ..plans.checkpoint import release_local_checkpoint
from ..plans.superstep import run_supersteps
from .edges import canonicalize_edges, symmetrize, vertices_of
from .local_kernel import KEY, iterate, run_kernel

LOCAL_HITS_MAX_EDGES = 4_000_000
"""Directed edge rows below which the driver-side kernel runs
(inherited from graph/pagerank.py's measured LOCAL_PR_MAX_EDGES — the
per-superstep join/agg shape is the same; not re-measured), counted by
the kernel's own collect (``run_kernel``'s ``max_edge_rows``)."""


@dataclass
class HitsResult:
    scores: DataFrame  # id, hub, authority
    supersteps: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


_HITS_FIELDS = {"id": KEY, "hub": DoubleType(), "authority": DoubleType()}


def _hits_body(tol: float, max_iter: int, directed: bool):
    """The local path's power iteration, as a ``run_kernel`` body over
    loop-free directed rows (deduplicated here) or, with
    ``directed=False``, canonical rows (symmetrized here) — the same
    update rule, normalization and stopping test as the distributed
    loop. The supersteps run on ``iterate``, with the distributed
    loop's records (``delta``, ``rows`` = vertices)."""

    def body(g):
        n, src, dst = g.n, g.src, g.dst
        if directed:
            key = np.unique(src * n + dst)
            src, dst = key // n, key % n
        else:
            src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])

        def step(state):
            h, a = state
            a_raw = np.bincount(dst, weights=h[src], minlength=n)
            h_raw = np.bincount(src, weights=a_raw[dst], minlength=n)
            na, nh = a_raw.sum(), h_raw.sum()
            a_new = a_raw / na if na > 0 else a_raw
            h_new = h_raw / nh if nh > 0 else h_raw
            delta = np.abs(a_new - a).sum() + np.abs(h_new - h).sum()
            return (h_new, a_new), {"delta": float(delta), "rows": n}

        h0 = np.full(n, 1.0 / max(n, 1))
        (h, a), meta = iterate(
            g, (h0, h0), step, lambda m: m["delta"] < tol, max_iter if n else 0,
        )
        meta["conv"] = meta["conv"] or n == 0
        return {"id": np.arange(n), "hub": h, "authority": a}, meta

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
    authority], supersteps, converged, metrics).

    ``directed=True`` (default) reads ``edges`` as directed (src -> dst;
    deduped and self-loop-filtered unless ``assume_canonical``);
    ``directed=False`` canonicalizes and symmetrizes first (hubs ==
    authorities then, by symmetry). ``local`` forces the physical
    strategy (None = auto by ``LOCAL_HITS_MAX_EDGES``); results are
    identical (parity-tested). The kernel's collect applies the gate, so a
    small call is one Spark job. ``metrics``
    holds one record per superstep (``k``, ``wall_ms``, ``delta``,
    ``rows``; the distributed loop adds the norms it divided by).
    """
    if directed:
        rows = edges.select("src", "dst")
        if not assume_canonical:
            rows = rows.filter(F.col("src") != F.col("dst"))
    else:
        rows = (edges if assume_canonical else canonicalize_edges(edges)).select("src", "dst")
    # shuffled rows are pinned for a fall-through (see run_kernel)
    pin = local is None and not (directed or assume_canonical)
    if pin:
        rows = rows.localCheckpoint(eager=False)
    try:
        if local is not False:
            # gated on directed rows before the dedup, an upper bound
            out = run_kernel(
                rows, _hits_body(tol, max_iter, directed), _HITS_FIELDS,
                max_edge_rows=None if local else LOCAL_HITS_MAX_EDGES // (1 if directed else 2),
            )
            if out is not None:
                return HitsResult(out.rows, out.meta["k"], out.meta["conv"], out.meta["steps"])
        if not directed:
            e = symmetrize(rows, weight=False)
        else:
            e = rows if assume_canonical else rows.distinct()
        return _distributed_hits(e.persist(), tol, max_iter)
    finally:
        if pin:
            release_local_checkpoint(rows)


def _normalized(raw: DataFrame, record: dict) -> DataFrame:
    """The scores of a raw state: each side divided by its norm."""
    return raw.select(
        "id",
        (F.col("_hr") / record["hub_norm"]).alias("hub"),
        (F.col("_ar") / record["authority_norm"]).alias("authority"),
    )


def _distributed_hits(e: DataFrame, tol: float, max_iter: int) -> HitsResult:
    """The superstep loop over the persisted directed edge table ``e``,
    which it releases."""
    verts = vertices_of(e).persist()
    n = verts.count()
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
    e_src = e.repartition("src").sortWithinPartitions("src").persist()
    e_dst = e.repartition("dst").sortWithinPartitions("dst").persist()

    def step(prev: DataFrame, last: dict) -> DataFrame:
        state = _normalized(prev, last)
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
        return (
            state.join(a_raw, "id", "left")
            .join(h_raw, "id", "left")
            .select(
                "id",
                F.coalesce("_hr", F.lit(0.0)).alias("_hr"),
                F.coalesce("_ar", F.lit(0.0)).alias("_ar"),
                F.col("hub").alias("_h_old"),
                F.col("authority").alias("_a_old"),
            )
        )

    def measure(raw: DataFrame) -> dict:
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
        return {"delta": delta, "rows": n, "hub_norm": nh, "authority_norm": na}

    # the initial raw state is uniform with unit norms; an empty graph
    # runs no superstep and returns the empty (converged) state
    uniform = F.lit(1.0 / max(n, 1))
    res = run_supersteps(
        verts.select("id", uniform.alias("_hr"), uniform.alias("_ar")),
        step, measure, lambda m: m["delta"] < tol,
        max_iter=max_iter if n else 0, first={"hub_norm": 1.0, "authority_norm": 1.0},
        inputs=(e, verts, e_src, e_dst),
    )
    return HitsResult(
        _normalized(res.state, res.record), res.supersteps, res.converged or n == 0,
        res.metrics,
    )
