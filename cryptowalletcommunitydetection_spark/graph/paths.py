"""Multi-source BFS distances (landmark / nearest-seed hop counts).

North-rule extension (SURVEY.md §2.9): the reference's clustering tells
you WHICH wallets form a community; hop distance to a seed set (known
exchange deposit wallets, flagged addresses) tells you HOW CLOSE every
other wallet sits to it — the standard frontier query over the same
graph, and the building block for diameter estimates and landmark
embeddings. ``nx.single_source_shortest_path_length`` is the semantics
contract (tested).

Scale design — frontier expansion, not matrix powers:

- per superstep the ONLY shuffled streams are the current frontier's
  out-neighborhood (map-side min-combined on the vertex key) and its
  anti-join probe against the settled table; the edge table is joined
  from its persisted partitioning and never re-shuffled,
- BFS finality: an unweighted vertex's distance is FINAL the first time
  it is reached, so settled vertices never re-enter — the frontier
  shrinks to 0 and per-superstep work is proportional to the boundary,
  not the graph,
- ``per_source=False`` (default) keeps state at |V| rows (distance to
  the NEAREST source). ``per_source=True`` computes one distance per
  (vertex, source) pair — landmark mode; state is |V|·|sources| rows,
  so keep the landmark set small (the caller's contract, stated here
  rather than silently sampled),
- one Spark action per superstep (the frontier count that is also the
  termination probe); state and frontier are localCheckpoint-pinned and
  superseded checkpoints are released each round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.checkpoint import release_local_checkpoint
from .edges import canonicalize_edges, symmetrize


def multi_source_distances(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    directed: bool = False,
    per_source: bool = False,
    max_iter: int = 10_000,
    assume_canonical: bool = False,
) -> DataFrame:
    """BFS hop counts from ``sources`` (DataFrame[id]).

    Returns DataFrame[id, dist] (nearest source, default) or
    DataFrame[id, source, dist] (``per_source=True``). Unreachable
    vertices carry no row (semantics of
    ``nx.single_source_shortest_path_length``). Source ids absent from
    the graph still seed themselves at distance 0 (they are vertices of
    the query, reachable from nothing).

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

    key = ["id", "source"] if per_source else ["id"]
    src0 = sources.select("id").distinct()
    if per_source:
        frontier = src0.select(
            "id", F.col("id").alias("source"), F.lit(0).alias("dist")
        )
    else:
        frontier = src0.select("id", F.lit(0).alias("dist"))
    settled = frontier = frontier.localCheckpoint(eager=True)
    new = None
    try:
        for _ in range(max_iter):
            cand = (
                frontier.join(e, frontier.id == e.src)
                .select(
                    F.col("dst").alias("id"),
                    *(["source"] if per_source else []),
                    (F.col("dist") + 1).alias("dist"),
                )
                # min-combine BEFORE the anti-join probe: map-side partial
                # agg collapses the neighborhood stream to one row per key
                .groupBy(*key)
                .agg(F.min("dist").alias("dist"))
            )
            new = cand.join(settled, key, "left_anti").localCheckpoint(eager=True)
            if new.isEmpty():
                return settled
            settled_next = settled.unionByName(new).localCheckpoint(eager=True)
            # both new checkpoints are materialized: the superseded
            # settled table and frontier are no longer read
            release_local_checkpoint(settled)
            if frontier is not settled:
                release_local_checkpoint(frontier)
            settled, frontier = settled_next, new
        raise RuntimeError(
            f"BFS frontier did not drain within max_iter={max_iter} "
            "supersteps — the graph's diameter exceeds the cap; re-run "
            "with a higher max_iter"
        )
    except BaseException:
        release_local_checkpoint(settled)
        raise
    finally:
        e.unpersist()
        # the empty last frontier, and the one before it unless it is
        # the result itself (a first round that settles nothing new)
        for p in (new, frontier):
            if p is not None and p is not settled:
                release_local_checkpoint(p)


def eccentricity_lower_bound(
    spark: SparkSession,
    edges: DataFrame,
    probe: DataFrame,
    **kwargs,
) -> int:
    """max BFS distance from the probe set — a diameter lower bound
    (the classic double-sweep building block)."""
    d = multi_source_distances(spark, edges, probe, **kwargs)
    row = d.agg(F.max("dist").alias("m")).collect()[0]
    return int(row["m"] or 0)


def harmonic_centrality_from_sources(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    directed: bool = False,
    assume_canonical: bool = False,
    max_iter: int = 10_000,
) -> DataFrame:
    """DataFrame[id, harmonic] — Σ_{s in sources, s != v, d(s,v) < ∞}
    1/d(s, v), i.e. ``nx.harmonic_centrality(G, sources=S)`` computed
    from ONE multi-source per-landmark BFS (the pivot-sampled estimator
    of Eppstein-Wang style: scale by n/|S| for the full-graph figure —
    harmonic handles disconnected graphs where classic closeness
    breaks, which is why it is the landmark default here). Same
    |S|·|reached| state cost as every landmark operator, stated not
    sampled-away."""
    d = multi_source_distances(
        spark, edges, sources, directed=directed, per_source=True,
        assume_canonical=assume_canonical, max_iter=max_iter,
    )
    return (
        d.filter(F.col("dist") > 0)
        .groupBy("id")
        .agg(F.sum(1.0 / F.col("dist")).alias("harmonic"))
    )


def double_sweep_diameter(
    spark: SparkSession,
    edges: DataFrame,
    probe: DataFrame,
    assume_canonical: bool = False,
    max_iter: int = 10_000,
) -> int:
    """Double-sweep diameter lower bound (Magnien, Latapy, Habib 2009):
    BFS from a probe vertex, then BFS again from the farthest vertex
    found — the second sweep's eccentricity. Exact on trees, and the
    standard tight estimator on real-world graphs; undirected only
    (the sweep-back argument needs symmetric reachability). ``probe``
    may hold several start vertices — the sweep restarts from the
    single farthest vertex of the combined first pass."""
    first = multi_source_distances(
        spark, edges, probe,
        assume_canonical=assume_canonical, max_iter=max_iter,
    )
    far = first.orderBy(F.desc("dist"), F.asc("id")).limit(1).select("id")
    return eccentricity_lower_bound(
        spark, edges, far,
        assume_canonical=assume_canonical, max_iter=max_iter,
    )
