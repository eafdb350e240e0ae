"""k-truss decomposition: triangle-support peeling over the edge table.

Cohesion extension of the reference's wallet-clustering workload
(SURVEY.md §2.9): where k-core (graph/kcore.py) keeps wallets with
>= k surviving links, k-truss keeps LINKS embedded in >= k-2 surviving
triangles — the standard stronger community-core notion (Cohen 2008).
It is the edge analogue of the reference's pre-clustering significance
cut (`/root/reference/jobs/dex_wallets/lp_traders_job.py:15,70`), and
pairs with the engine's triangle machinery the way coreness pairs with
degree.

Semantics match ``networkx.k_truss``: the maximal subgraph in which
every edge participates in at least k-2 triangles *of that subgraph*
(fixpoint of peel-below-threshold; for k <= 2 the edge set is
unchanged).

Physical strategy (same adaptive playbook as graph/triangles.py, whose
oriented wedge-closure pipeline each peel round reuses):

- **Distributed peel loop.** Per round: orient the surviving edges by
  (degree, id), enumerate closed wedges — every triangle exactly once,
  with wedge fan-out bounded O(sqrt m) per vertex by the orientation
  (the hub-skew mitigation) — explode each triangle into its three
  canonical edges, count support per edge with one map-side-combinable
  groupBy, and inner-join the survivors. Rounds are lineage-cut with
  ``localCheckpoint`` (the loop is data-dependent; an unbounded plan
  would re-run every prior round's join tree). The number of rounds is
  the peeling depth, typically small; each round's cost shrinks with
  the surviving edge set.
- **Single-task numpy kernel** below ``LOCAL_TRUSS_MAX_EDGES`` canonical
  edges: a ``run_kernel`` body (graph/local_kernel.py, the one Arrow
  boundary of the small-graph paths) over the canonical rows. It runs
  graph/triangles.py's wedge enumerator — the same orient →
  per-degree-class wedge enumeration → searchsorted closure test the
  triangle body runs — scatters each closed wedge onto its two legs and
  its closer, and peels in-process until fixpoint. The gate inherits
  the measured triangle-kernel crossover (LOCAL_TRI_MAX_EDGES): every
  truss round *is* one triangle pass, and the peel loop amplifies the
  per-round winner.

Exact integer semantics on both paths — parity is exact (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..plans.checkpoint import release_local_checkpoint
from .local_kernel import KEY, run_kernel
from .triangles import (
    LOCAL_TRI_MAX_EDGES, _canonical, _closed_wedges_of, _oriented, _wedge_enumerator,
)

LOCAL_TRUSS_MAX_EDGES = LOCAL_TRI_MAX_EDGES
"""Size gate (canonical edge rows) for the in-process peel kernel.
Pinned to the measured triangle crossover: a truss round is exactly one
triangle enumeration, so the per-round winner is the same and the peel
loop multiplies the gap (the kernel additionally skips the per-round
checkpoint + count actions the distributed loop needs); the kernel's
collect applies it (``run_kernel``'s ``max_edge_rows``)."""

_EDGE_FIELDS = {"src": KEY, "dst": KEY}
_SUPPORT_FIELDS = {**_EDGE_FIELDS, "support": LongType()}

_MAX_PEEL_ROUNDS = 10_000
"""Safety bound; the loop terminates on its own (each round either
removes >= 1 edge or stops, so rounds <= |E|)."""


def _triangle_edge_pairs(d: DataFrame) -> DataFrame:
    """Closed wedges over the oriented table ``d`` -> one row per
    (triangle, member edge), edges in canonical (least, greatest)
    form: DataFrame[src, dst]."""
    tri = _closed_wedges_of(d)
    member = F.explode(
        F.array(
            F.struct(
                F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst")
            ),
            F.struct(
                F.least("b", "c").alias("src"), F.greatest("b", "c").alias("dst")
            ),
            F.struct(
                F.least("a", "c").alias("src"), F.greatest("a", "c").alias("dst")
            ),
        )
    ).alias("e")
    return tri.select(member).select("e.src", "e.dst")


def edge_support(
    edges: DataFrame,
    assume_canonical: bool = False,
    local: bool | None = None,
) -> DataFrame:
    """DataFrame[src, dst, support] — per canonical edge, the number of
    triangles it participates in (0 for triangle-free edges).

    ``local`` forces the physical strategy; None auto-selects by the
    ``LOCAL_TRUSS_MAX_EDGES`` gate, which the kernel's collect applies to
    the canonical rows (one Spark job on a small canonical graph,
    nothing left pinned); the distributed path persists the table for
    its several consumers."""
    e = _canonical(edges, assume_canonical)
    # shuffled rows are pinned for a fall-through (see run_kernel)
    pin = local is None and not assume_canonical
    if pin:
        e = e.localCheckpoint(eager=False)
    try:
        if local is not False:
            out = run_kernel(
                e, _truss_body(None), _SUPPORT_FIELDS,
                max_edge_rows=None if local else LOCAL_TRUSS_MAX_EDGES,
            )
            if out is not None:
                return out.rows
        e = e if pin else e.persist()
        d = _oriented(e).persist()
        try:
            sup = (
                _triangle_edge_pairs(d)
                .groupBy("src", "dst")
                .agg(F.count(F.lit(1)).alias("support"))
            )
            out = e.join(sup, ["src", "dst"], "left").select(
                "src",
                "dst",
                F.coalesce("support", F.lit(0)).alias("support"),
            )
            return out.localCheckpoint(eager=True)
        finally:
            d.unpersist()
    finally:
        if pin:
            release_local_checkpoint(e)
        elif e.is_cached:
            e.unpersist()


def k_truss(
    edges: DataFrame,
    k: int,
    assume_canonical: bool = False,
    local: bool | None = None,
) -> DataFrame:
    """Edges of the k-truss: DataFrame[src, dst] (canonical), the
    maximal subgraph where every edge closes >= k-2 triangles within
    the subgraph. ``nx.k_truss`` edge-set semantics; k <= 2 returns the
    canonical edge set unchanged."""
    e = _canonical(edges, assume_canonical)
    if k <= 2:
        return e.localCheckpoint(eager=True)
    pin = local is None and not assume_canonical  # as in edge_support
    if pin:
        e = e.localCheckpoint(eager=False)
    try:
        if local is not False:
            out = run_kernel(
                e, _truss_body(k), _EDGE_FIELDS,
                max_edge_rows=None if local else LOCAL_TRUSS_MAX_EDGES,
            )
            if out is not None:
                return out.rows
        return _distributed_k_truss(e, k)
    finally:
        if pin:
            release_local_checkpoint(e)


def _distributed_k_truss(e: DataFrame, k: int) -> DataFrame:
    """Peel loop over the canonical edge table, which it reads once into
    the first round's checkpoint. Each round is a local checkpoint,
    released once the next one is counted; only the result's stays."""
    threshold = k - 2
    cur = e.localCheckpoint(eager=True)
    try:
        n_prev = cur.count()
        for _ in range(_MAX_PEEL_ROUNDS):
            if n_prev == 0:
                break
            d = _oriented(cur).persist()
            try:
                sup = (
                    _triangle_edge_pairs(d)
                    .groupBy("src", "dst")
                    .agg(F.count(F.lit(1)).alias("support"))
                )
                # inner join: edges closing zero triangles have no support
                # row and are peeled implicitly (threshold >= 1 here)
                nxt = (
                    cur.join(sup, ["src", "dst"])
                    .filter(F.col("support") >= threshold)
                    .select("src", "dst")
                    .localCheckpoint(eager=True)
                )
            finally:
                d.unpersist()
            n = nxt.count()
            release_local_checkpoint(cur)
            cur = nxt
            if n == n_prev:
                break
            n_prev = n
    except BaseException:
        release_local_checkpoint(cur)
        raise
    return cur


def _truss_body(k: int | None):
    """The local path's support / peel pass, as a ``run_kernel`` body
    over the canonical edge codes.

    ``k=None``: one support pass -> (src, dst, support) per edge.
    ``k`` set: peel edges with support < k-2 until none is left to peel
    -> the surviving (src, dst). Support comes from graph/triangles.py's
    wedge enumerator: each closed wedge adds one to its two legs and its
    closer, positions in the enumerator's lexsort order, which one
    scatter through that permutation maps back to edge rows."""
    closed_wedges = _wedge_enumerator()

    def body(g):
        import numpy as np

        def support(u, v):
            order, _, _, slabs = closed_wedges(g.n, u, v)
            hits = np.zeros(len(u), dtype=np.int64)
            for legs in slabs:
                for pos in legs:
                    np.add.at(hits, pos, 1)
            sup = np.empty_like(hits)
            sup[order] = hits
            return sup

        if k is None:
            return {"src": g.src, "dst": g.dst, "support": support(g.src, g.dst)}, {}
        alive = np.arange(len(g.src))
        while len(alive):
            keep = support(g.src[alive], g.dst[alive]) >= k - 2
            if keep.all():
                break
            alive = alive[keep]
        return {"src": g.src[alive], "dst": g.dst[alive]}, {}

    return body
