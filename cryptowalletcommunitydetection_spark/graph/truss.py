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
  edges: the same orient → per-degree-class wedge enumeration →
  searchsorted closure test as graph/triangles.py's kernel, extended to
  scatter support onto edges (wedge legs map positionally, the closer
  via one searchsorted) and peel in-process until fixpoint. The gate
  inherits the measured triangle-kernel crossover
  (LOCAL_TRI_MAX_EDGES): every truss round *is* one triangle pass, and
  the peel loop amplifies the per-round winner.

Exact integer semantics on both paths — parity is exact (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .triangles import LOCAL_TRI_MAX_EDGES, _canonical, _closed_wedges_of, _oriented

LOCAL_TRUSS_MAX_EDGES = LOCAL_TRI_MAX_EDGES
"""Size gate (canonical edge rows) for the in-process peel kernel.
Pinned to the measured triangle crossover: a truss round is exactly one
triangle enumeration, so the per-round winner is the same and the peel
loop multiplies the gap (the kernel additionally skips the per-round
checkpoint + count actions the distributed loop needs)."""

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
    ``LOCAL_TRUSS_MAX_EDGES`` gate (one probe count, which doubles as
    the cache materialization — same pattern as
    graph/triangles.py:triangle_count)."""
    e = _canonical(edges, assume_canonical).persist()
    d = None
    try:
        if local is None:
            local = e.count() <= LOCAL_TRUSS_MAX_EDGES
        if local:
            out = _local_truss_kernel(e, k=None)
        else:
            d = _oriented(e).persist()
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
        if d is not None:
            d.unpersist()
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
    e = _canonical(edges, assume_canonical).persist()
    try:
        if k <= 2:
            return e.localCheckpoint(eager=True)
        if local is None:
            local = e.count() <= LOCAL_TRUSS_MAX_EDGES
        if local:
            return _local_truss_kernel(e, k=k).localCheckpoint(eager=True)
        return _distributed_k_truss(e, k)
    finally:
        e.unpersist()


def _distributed_k_truss(e: DataFrame, k: int) -> DataFrame:
    """Peel loop over a persisted canonical edge table."""
    threshold = k - 2
    cur = e.localCheckpoint(eager=True)
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
        cur = nxt
        if n == n_prev:
            break
        n_prev = n
    return cur


def _local_truss_kernel(canon: DataFrame, k: int | None) -> DataFrame:
    """Single-task vectorized support / peel kernel.

    ``k=None``: one support pass over all edges ->
    DataFrame[src, dst, support]. ``k`` set: peel to the k-truss
    fixpoint -> DataFrame[src, dst].

    Same encoding as graph/triangles.py:_triangle_body —
    factorized codes, (degree, code) orientation, per-degree-class
    wedge enumeration in bounded slabs, searchsorted closure test —
    plus per-edge scatter: a closed wedge's two legs map back to edge
    rows positionally through the lexsort permutation, the closing edge
    through the sorted-key permutation."""
    src_type = canon.schema["src"].dataType.simpleString()
    dst_type = canon.schema["dst"].dataType.simpleString()
    ids = canon.select("src", "dst")
    want_support = k is None
    schema = (
        f"src {src_type}, dst {dst_type}, support long"
        if want_support
        else f"src {src_type}, dst {dst_type}"
    )
    threshold = None if k is None else k - 2

    def kernel(batches):
        import numpy as np
        import pandas as pd

        srcs, dsts = [], []
        for pdf in batches:
            srcs.append(pdf["src"].to_numpy())
            dsts.append(pdf["dst"].to_numpy())
        if not srcs:
            return
        src0 = np.concatenate(srcs)
        dst0 = np.concatenate(dsts)
        codes, uniques = pd.factorize(np.concatenate([src0, dst0]))
        n = len(uniques)
        u0 = codes[: len(src0)].astype(np.int64)
        v0 = codes[len(src0):].astype(np.int64)

        WEDGE_CHUNK = 16_000_000  # int64 keys per slab (~128 MB/array)

        def support_of(u, v):
            """Per-edge triangle support on the subgraph (u, v)."""
            m = len(u)
            sup = np.zeros(m, dtype=np.int64)
            if m == 0:
                return sup
            deg = np.bincount(u, minlength=n) + np.bincount(v, minlength=n)
            order_key = deg.astype(np.int64) * (n + 1) + np.arange(
                n, dtype=np.int64
            )
            ku, kv = order_key[u], order_key[v]
            a = np.where(ku < kv, u, v)
            b = np.where(ku < kv, v, u)
            rank = np.empty(n, dtype=np.int64)
            rank[np.argsort(order_key)] = np.arange(n, dtype=np.int64)
            ra, rb = rank[a], rank[b]
            keys = ra * n + rb
            key_perm = np.argsort(keys)  # sorted-key pos -> edge row
            edge_keys = keys[key_perm]
            o = np.lexsort((rb, ra))  # lexsort pos -> edge row
            ra_s, rb_s = ra[o], rb[o]
            starts_all, counts_all = np.unique(
                ra_s, return_index=True, return_counts=True
            )[1:]
            for kk in np.unique(counts_all):
                if kk < 2:
                    continue
                sel = counts_all == kk
                s_k = starts_all[sel]
                i, j = np.triu_indices(kk, 1)
                npairs = len(i)
                step = max(1, WEDGE_CHUNK // npairs)
                for lo in range(0, len(s_k), step):
                    s_c = s_k[lo : lo + step]
                    idx = s_c[:, None] + np.arange(kk)[None, :]
                    nrb_m = rb_s[idx]  # (chunk, kk), rank-sorted
                    wkeys = (nrb_m[:, i] * n + nrb_m[:, j]).ravel()
                    pos = np.searchsorted(edge_keys, wkeys)
                    hit = (pos < len(edge_keys)) & (
                        edge_keys[np.minimum(pos, len(edge_keys) - 1)]
                        == wkeys
                    )
                    if not hit.any():
                        continue
                    # legs (apex, b_i) / (apex, b_j): positions in the
                    # lexsort order map straight back to edge rows
                    leg1 = o[idx[:, i].ravel()[hit]]
                    leg2 = o[idx[:, j].ravel()[hit]]
                    closer = key_perm[pos[hit]]
                    np.add.at(sup, leg1, 1)
                    np.add.at(sup, leg2, 1)
                    np.add.at(sup, closer, 1)
            return sup

        if want_support:
            yield pd.DataFrame(
                {
                    "src": src0,
                    "dst": dst0,
                    "support": support_of(u0, v0),
                }
            )
            return

        alive = np.ones(len(u0), dtype=bool)
        while alive.any():
            live_idx = np.flatnonzero(alive)
            sup = support_of(u0[live_idx], v0[live_idx])
            drop = sup < threshold
            if not drop.any():
                break
            alive[live_idx[drop]] = False
        yield pd.DataFrame({"src": src0[alive], "dst": dst0[alive]})

    return ids.coalesce(1).mapInPandas(kernel, schema)
