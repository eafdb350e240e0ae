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
- Below ``LOCAL_HITS_MAX_EDGES`` a single-task vectorized numpy kernel
  (a ``coalesce(1).mapInPandas`` task, the shape of PageRank's local
  path) runs the identical update rule;
  the gate value is inherited from the measured PageRank crossover
  (LOCAL_PR_MAX_EDGES — the join/agg shapes per superstep match;
  not independently re-measured).

``directed=False`` symmetrizes the canonical edge table first; on a
symmetric graph hubs == authorities (both converge to the principal
eigenvector direction of the adjacency), which the tests pin.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.checkpoint import release_local_checkpoint
from .edges import canonicalize_edges, symmetrize, vertices_of

LOCAL_HITS_MAX_EDGES = 4_000_000
"""Directed edge rows below which the single-task kernel runs
(inherited from graph/pagerank.py's measured LOCAL_PR_MAX_EDGES — the
per-superstep join/agg shape is the same; not re-measured)."""


@dataclass
class HitsResult:
    scores: DataFrame  # id, hub, authority
    supersteps: int
    converged: bool


def _directed_edges(edges: DataFrame, directed: bool,
                    assume_canonical: bool) -> DataFrame:
    if directed:
        e = edges.select("src", "dst")
        if not assume_canonical:
            e = e.filter(F.col("src") != F.col("dst")).distinct()
        return e
    canon = edges if assume_canonical else canonicalize_edges(edges)
    return symmetrize(canon.select("src", "dst"), weight=False)


def _local_hits(e: DataFrame, tol: float, max_iter: int) -> HitsResult:
    """Single-task numpy power iteration (small graphs)."""
    from pyspark.sql.types import (
        BooleanType, DoubleType, StructField, StructType,
    )

    key_t = e.schema["src"].dataType
    out_schema = StructType([
        StructField("id", key_t),
        StructField("hub", DoubleType()),
        StructField("authority", DoubleType()),
        StructField("_converged", BooleanType()),
        StructField("_steps", DoubleType()),
    ])

    def kernel(batches):
        import numpy as np
        import pandas as pd

        srcs, dsts = [], []
        for pdf in batches:
            srcs.append(pdf["src"].to_numpy())
            dsts.append(pdf["dst"].to_numpy())
        if not srcs:
            return
        src = np.concatenate(srcs)
        dst = np.concatenate(dsts)
        all_keys = np.concatenate([src, dst])
        # string keys: pd.factorize (C hash) + argsort of the uniques —
        # same sorted-id mapping as np.unique, measured ~10x faster than
        # object-dtype unique (see graph/pagerank.py's kernel)
        if all_keys.dtype == object:
            codes, uniques = pd.factorize(all_keys)
            order_u = np.argsort(uniques)
            pos = np.empty(len(order_u), dtype=np.int64)
            pos[order_u] = np.arange(len(order_u))
            inv = pos[codes]
            ids = uniques[order_u]
        else:
            ids, inv = np.unique(all_keys, return_inverse=True)
        s_idx, d_idx = inv[: len(src)], inv[len(src):]
        n = len(ids)
        h = np.full(n, 1.0 / n)
        a = np.full(n, 1.0 / n)
        converged = False
        steps = 0
        for k in range(max_iter):
            a_raw = np.bincount(d_idx, weights=h[s_idx], minlength=n)
            h_raw = np.bincount(s_idx, weights=a_raw[d_idx], minlength=n)
            na, nh = a_raw.sum(), h_raw.sum()
            a_new = a_raw / na if na > 0 else a_raw
            h_new = h_raw / nh if nh > 0 else h_raw
            delta = np.abs(a_new - a).sum() + np.abs(h_new - h).sum()
            a, h = a_new, h_new
            steps = k + 1
            if delta < tol:
                converged = True
                break
        yield pd.DataFrame({
            "id": ids, "hub": h, "authority": a,
            "_converged": np.full(n, converged),
            "_steps": np.full(n, float(steps)),
        })

    out = e.coalesce(1).mapInPandas(kernel, out_schema)
    out = out.localCheckpoint(eager=True)
    first = out.select("_converged", "_steps").limit(1).collect()
    if not first:  # empty edge table
        return HitsResult(out.select("id", "hub", "authority"), 0, True)
    return HitsResult(
        out.select("id", "hub", "authority"),
        int(first[0]["_steps"]),
        bool(first[0]["_converged"]),
    )


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
    identical (parity-tested).
    """
    e = _directed_edges(edges, directed, assume_canonical).persist()
    try:
        m = e.count()  # probe doubles as cache materialization
        if m == 0:
            empty = e.select(
                F.col("src").alias("id"),
                F.lit(0.0).alias("hub"),
                F.lit(0.0).alias("authority"),
            ).limit(0)
            return HitsResult(empty.localCheckpoint(eager=True), 0, True)
        if local is None:
            local = m <= LOCAL_HITS_MAX_EDGES
        if local:
            return _local_hits(e, tol, max_iter)

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
