"""Incremental graph maintenance: re-converge after an edge delta
without touching the full edge table.

The reference re-runs its whole clustering from scratch every scheduler
window: the `last_synced` cursor (reference `utils/file_utils.py:51-66`)
advances per batch, but `services/wallet_clustering.py:51-59` rebuilds
the NetworkX graph and recomputes every component over ALL edges each
time. At the 10^12-file posture a full pass per ingest batch is the one
cost that cannot stand; this module pairs with the log-structured edge
table (sources/edge_log.py, O(batch) ingest) to make the ANALYTICS side
incremental too:

- connected components: ``incremental_components`` condenses the prior
  labeling — prior components become super-vertices — and runs CC over
  (condensed delta edges) only: O(|Δ| + |V|) instead of O(|E|). Exact
  (same labels as a full run over base ∪ delta) because components are
  internally connected and the label is the min member key, which is
  preserved under condensation (min of mins of merged parts = global
  min). Additions only — deletions can split a component, which
  condensation cannot see; re-run the full CC after a deleting compact.

- PageRank: ``pagerank(..., init_ranks=prior.ranks)`` (graph/pagerank.py)
  warm-starts the power iteration from the previous run's vector. The
  fixed point is init-independent for α < 1, so the result contract is
  unchanged; what the warm start buys is supersteps — after a small
  delta the prior vector is near the new fixed point and the geometric
  α^k error burn-down starts near the tolerance instead of at Θ(1).
  This does touch the full edge table (the transition structure
  changed), but the superstep loop — the dominant cost, one full
  scatter/gather per iteration — runs a fraction of its cold length
  (measured in BENCH/BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cc import connected_components


def incremental_components(
    spark: SparkSession,
    prior_labels: DataFrame,
    delta_edges: DataFrame,
    **cc_kwargs,
) -> DataFrame:
    """Labels for base ∪ delta given ``prior_labels`` over base.

    ``prior_labels``: DataFrame[id, component] — a COMPLETE labeling of
    the base graph with component = min member id (the
    ``connected_components`` output contract). ``delta_edges``: newly
    ADDED edges (src, dst; self-loops/duplicates tolerated). Returns the
    same DataFrame[id, component] a full ``connected_components`` run
    over base ∪ delta would (exact equality, tested).

    Plan shape: two broadcast-or-shuffle joins of the delta against the
    label table, one CC over the condensed graph (|condensed| ≤ 2·|Δ|
    vertices), one label-remap join back. The base EDGE table is never
    read — only its labeling. Deletions are out of contract (a deleted
    edge can split a component; condensation cannot observe that).

    ``cc_kwargs`` forward to ``connected_components`` (max_iter, local,
    strict, run_dir, pre_contract). Do not pass ``assume_canonical`` — the
    condensed table is not canonical (duplicate orientations and
    self-loops appear whenever two delta edges touch the same prior
    component; CC's defensive dedup handles them).
    """
    pl = prior_labels.select("id", "component")
    d = delta_edges.select("src", "dst").filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    # endpoints -> prior component; endpoints the base never saw stay
    # themselves (they are their own singleton "component")
    s = pl.select(F.col("id").alias("src"), F.col("component").alias("_cs"))
    t = pl.select(F.col("id").alias("dst"), F.col("component").alias("_cd"))
    condensed = (
        d.join(s, "src", "left")
        .join(t, "dst", "left")
        .select(
            F.coalesce("_cs", F.col("src")).alias("src"),
            F.coalesce("_cd", F.col("dst")).alias("dst"),
        )
    )
    cond = connected_components(spark, condensed, **cc_kwargs)

    # prior vertices: components touched by the delta re-label to the
    # condensed result; untouched components keep their label (no match)
    remap = cond.select(
        F.col("id").alias("component"), F.col("component").alias("_new")
    )
    out_prior = pl.join(remap, "component", "left").select(
        "id", F.coalesce("_new", F.col("component")).alias("component")
    )
    # vertices first seen in the delta (a condensed vertex that is not a
    # prior vertex — prior component ids are themselves prior vertices,
    # so this anti-join cannot misclassify them)
    new_vs = cond.join(pl.select("id"), "id", "left_anti")
    return out_prior.unionByName(new_vs.select("id", "component"))
