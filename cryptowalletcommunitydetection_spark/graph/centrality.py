"""Betweenness centrality from a source set (Brandes, level-synchronous).

North-rule extension (SURVEY.md §2.9): communities say who clusters
together; betweenness says which wallets BROKER between clusters (the
bridge/mixer wallets) — the standard next question over the same graph.
Exact betweenness is O(|V|·|E|); the practical form at scale is the
pivot-sampled estimator (Brandes & Pich 2007): run the exact dependency
accumulation from a sampled source set S and scale by n/|S|. This
module computes the exact sum of dependencies for a GIVEN source set —
sampling is the caller's choice of S, so the estimator's randomness
never hides inside the operator (tests pin the exact per-source
semantics against a pure-Python Brandes oracle).

Algorithm (per all sources SIMULTANEOUSLY, state keyed (source, id)):

1. forward multi-source BFS that also counts shortest paths:
   sigma(v) = Σ sigma(u) over frontier predecessors — exact in one
   level-synchronous step because every shortest-path predecessor of a
   dist-(d+1) vertex sits at dist d (the whole frontier),
2. backward sweep by DESCENDING level: delta(v) = Σ_{w: succ}
   sigma(v)/sigma(w) · (1 + delta(w)); betweenness(v) = Σ_s delta_s(v)
   over non-source v.

Scale design: per superstep the shuffled streams are the frontier's
neighborhood (map-side combined on (source, vertex)) and a level's
boundary join — the edge table joins from one persisted partitioning
and never re-shuffles; supersteps = O(diameter) forward + O(diameter)
backward TOTAL (not per source); state is |S|·|reached| rows — the
stated cost of landmark-style operators (keep |S| bounded, e.g. 16-256
pivots). Everything is DataFrame joins/aggregates; no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.checkpoint import release_local_checkpoint
from .edges import canonicalize_edges, symmetrize


def betweenness_from_sources(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    directed: bool = False,
    max_iter: int = 10_000,
    assume_canonical: bool = False,
) -> DataFrame:
    """DataFrame[id, betweenness] — Σ over s in ``sources`` of the
    Brandes dependency of s on each vertex (source rows excluded, like
    nx; vertices never on any s-shortest path carry betweenness 0.0 and
    ARE listed if reached). For the sampled estimator multiply by
    n/|sources| (and divide by 2 on undirected graphs if comparing with
    nx.betweenness_centrality's pair convention).

    ``assume_canonical``: caller guarantees src < dst, one row per
    unordered pair, no self-loops — skips the defensive
    ``canonicalize_edges`` shuffle (undirected input only).
    """
    if directed:
        e = edges.select("src", "dst").distinct()
    else:
        if assume_canonical:
            canon = edges.select("src", "dst")
        else:
            canon = canonicalize_edges(edges).select("src", "dst")
        e = symmetrize(canon, weight=False)
    # partitioned AND sorted on the per-round join key (src): an
    # un-laid-out cache re-exchanges + re-sorts all 2|E| rows in every
    # round's sort-merge join (graph/hits.py layout measurement)
    e = (
        e.repartition("src").sortWithinPartitions("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e.count()

    # ---- forward: (source, id, dist, sigma) --------------------------
    frontier = (
        sources.select("id").distinct().select(
            F.col("id").alias("source"), F.col("id"),
            F.lit(0).alias("dist"), F.lit(1.0).alias("sigma"),
        )
    ).localCheckpoint(eager=True)
    settled = frontier
    pins: list[DataFrame] = []
    max_dist = 0
    for _ in range(max_iter):
        cand = (
            frontier.join(e, frontier.id == e.src)
            .select(
                "source", F.col("dst").alias("id"),
                (F.col("dist") + 1).alias("dist"), "sigma",
            )
            # all shortest-path predecessors of a next-level vertex are
            # IN the current frontier -> one map-side-combined sum per
            # (source, vertex) is the exact path count
            .groupBy("source", "id")
            .agg(F.min("dist").alias("dist"), F.sum("sigma").alias("sigma"))
        )
        new = cand.join(settled, ["source", "id"], "left_anti")
        new = new.localCheckpoint(eager=True)
        if new.isEmpty():
            release_local_checkpoint(new)
            break
        max_dist += 1
        nxt = settled.unionByName(new).localCheckpoint(eager=True)
        for p in pins:
            release_local_checkpoint(p)
        pins = [settled, frontier]
        settled, frontier = nxt, new
    else:
        raise RuntimeError(
            f"forward BFS did not drain within max_iter={max_iter} "
            "supersteps; re-run with a higher max_iter"
        )

    # ---- backward: delta by descending level -------------------------
    # settled is pinned; level slices filter it (no reshuffle of edges).
    # delta starts 0 at the deepest level; one join per level TOTAL
    # (all sources share the sweep). Each level's contribution is pinned
    # once and collected in a list; the accumulated dependency table is
    # built by ONE union after the loop (re-unioning + re-checkpointing
    # the accumulator per level copied O(depth²) rows and leaked a
    # checkpoint per level).
    delta: DataFrame | None = None  # rows (source, id, delta) of level d+1
    contribs: list[DataFrame] = []  # per-level pinned dependency rows
    for d in range(max_dist - 1, -1, -1):
        lv = settled.filter(F.col("dist") == d).select(
            "source", "id", "sigma"
        )
        lw = settled.filter(F.col("dist") == d + 1).select(
            F.col("source").alias("_sw"), F.col("id").alias("_w"),
            F.col("sigma").alias("_sigw"),
        )
        if delta is not None:
            lw = lw.join(
                delta.select(
                    F.col("source").alias("_sw"), F.col("id").alias("_w"),
                    F.col("delta").alias("_dw"),
                ),
                ["_sw", "_w"], "left",
            ).select("_sw", "_w", "_sigw", F.coalesce("_dw", F.lit(0.0)).alias("_dw"))
        else:
            lw = lw.select("_sw", "_w", "_sigw", F.lit(0.0).alias("_dw"))
        contrib = (
            lv.join(e, lv.id == e.src)
            .join(lw, (F.col("dst") == F.col("_w")) & (lv.source == F.col("_sw")))
            .groupBy("source", "id")
            .agg(
                F.sum(
                    (F.col("sigma") / F.col("_sigw")) * (F.lit(1.0) + F.col("_dw"))
                ).alias("delta")
            )
        )
        contrib = contrib.localCheckpoint(eager=True)
        contribs.append(contrib)
        delta = contrib

    e.unpersist()
    verts = settled.select("id").distinct()
    if not contribs:
        out = verts.select("id", F.lit(0.0).alias("betweenness"))
    else:
        acc = contribs[0]
        for c in contribs[1:]:
            acc = acc.unionByName(c)
        # Brandes excludes v == s PER RUN (a source still accrues
        # betweenness from OTHER sources' sweeps)
        dep = (
            acc.filter(F.col("id") != F.col("source"))
            .groupBy("id")
            .agg(F.sum("delta").alias("betweenness"))
        )
        out = verts.join(dep, "id", "left").select(
            "id", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness")
        )
    # pin the result, then release EVERY intermediate checkpoint — the
    # settled/frontier tables and the per-level contribs are superseded
    # by out; repeated calls in one session no longer accumulate blocks
    out = out.localCheckpoint(eager=True)
    for p in pins + contribs + [settled, frontier]:
        release_local_checkpoint(p)
    return out
