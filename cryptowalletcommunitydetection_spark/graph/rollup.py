"""Bipartite community rollup — the reference's end-to-end clustering query.

Distributed rebuild of ``get_group_full`` / ``get_user_depo``
(services/wallet_clustering.py:31-65): given wallet pairs
(from_address → to_address), cluster into connected components, then per
component report the user wallets (appear as a sender), deposit wallets
(never a sender), the component's edges, and counts.

Differences from the reference, by design:
- group ids are deterministic ``sha2(min member)`` instead of uuid4
  (services/wallet_clustering.py:6-7,33) so reruns and resumes agree,
- member/edge arrays are sorted (canonical order) instead of pandas
  insertion order,
- nothing materializes on the driver: the reference builds the whole
  graph and every component list in one Python process (the scalability
  wall this engine removes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import deterministic_id
from ..plans.superstep import scoped_conf
from .cc import connected_components
from .edges import canonicalize_edges


def bipartite_group_rollup(
    spark: SparkSession,
    pairs: DataFrame,
    from_col: str = "from_address",
    to_col: str = "to_address",
    run_dir: str | None = None,
    nsalt: int | None = None,
    assume_canonical: bool = False,
) -> DataFrame:
    """pairs(from, to) -> one row per community.

    Output: DataFrame[group_id string, component <keytype>,
    user_wallets array, deposit_wallets array,
    edges array<struct<src,dst>>, num_user int, num_depo int].

    ``nsalt``: two-phase salted collect for the member arrays — use when
    a single community can dominate a partition (collect_list has no
    map-side partial form, so a 10^7-member component would otherwise
    land on one task; see graph/skew.py::salted_collect). Results are
    identical with/without (tests/test_skew.py invariance applies).

    ``assume_canonical``: the pair table is guaranteed already canonical
    (distinct rows, from < to, endpoints never equal — e.g. disjoint
    labeled vertex sets), so the defensive canonicalize groupBy is
    skipped and the guarantee forwarded to CC's universe dedup: two
    |pairs|-scale exchanges elided.
    """
    # pairs feeds four scans (edges->cc, verts, senders, edge_comp); when
    # it is itself a join pipeline (the reference's trade-pair extraction
    # is a 4-table join) recomputing it per scan dominates the rollup.
    # Persist once; CC's first action materializes the cache.
    pairs = pairs.select(
        F.col(from_col).alias("from_address"), F.col(to_col).alias("to_address")
    ).persist()
    if assume_canonical:
        edges = pairs.select(
            F.col("from_address").alias("src"), F.col("to_address").alias("dst")
        )
    else:
        edges = canonicalize_edges(pairs, "from_address", "to_address")
    # every pair endpoint is a community member even when its only pair
    # is a self-transfer (canonicalize drops self-loops, so such wallets
    # would otherwise vanish; the reference's nx.Graph keeps them as
    # singleton groups)
    verts = (
        pairs.select(F.col("from_address").alias("id"))
        .unionByName(pairs.select(F.col("to_address").alias("id")))
        .filter(F.col("id").isNotNull())
        .distinct()
    )
    cc = connected_components(
        spark, edges, vertices=verts, run_dir=run_dir,
        assume_canonical=assume_canonical,
    )

    senders = pairs.select(F.col("from_address").alias("id")).distinct()
    # one left join + flag instead of a semi/anti pair: same partition
    # of the vertex set, half the join work (cc is scanned once)
    tagged = (
        cc.join(senders.withColumn("_s", F.lit(True)), "id", "left")
        .select("id", "component", F.coalesce("_s", F.lit(False)).alias("is_user"))
    )

    if nsalt:
        from .skew import salted_collect

        u = salted_collect(
            tagged.filter(F.col("is_user")), "component", "id", nsalt
        ).withColumnRenamed("values", "user_wallets")
        d = salted_collect(
            tagged.filter(~F.col("is_user")), "component", "id", nsalt
        ).withColumnRenamed("values", "deposit_wallets")
        empty = F.array().cast(u.schema["user_wallets"].dataType)
        member_rollup = u.join(d, "component", "full_outer").select(
            "component",
            F.coalesce("user_wallets", empty).alias("user_wallets"),
            F.coalesce("deposit_wallets", empty).alias("deposit_wallets"),
        )
    else:
        member_rollup = tagged.groupBy("component").agg(
            F.sort_array(
                F.collect_list(F.when(F.col("is_user"), F.col("id")))
            ).alias("user_wallets"),
            F.sort_array(
                F.collect_list(F.when(~F.col("is_user"), F.col("id")))
            ).alias("deposit_wallets"),
        )

    edge_comp = pairs.join(
        cc.select(F.col("id"), F.col("component")),
        pairs.from_address == F.col("id"),
    ).select(
        "component",
        F.struct(
            F.col("from_address").alias("src"), F.col("to_address").alias("dst")
        ).alias("edge"),
    )
    edge_rollup = edge_comp.groupBy("component").agg(
        F.sort_array(F.collect_set("edge")).alias("edges")
    )

    out = member_rollup.join(edge_rollup, "component", "left").select(
        # F4: sha2('group|<min member>') via functions/scalar.deterministic_id
        # — the uuid4 replacement (services/wallet_clustering.py:6-7,33);
        # oracle-checked in the community_rollup gate row
        deterministic_id(
            F.col("component").cast("string"), prefix="group"
        ).alias("group_id"),
        "component",
        "user_wallets",
        "deposit_wallets",
        F.coalesce("edges", F.array()).alias("edges"),
        F.size("user_wallets").alias("num_user"),
        F.size("deposit_wallets").alias("num_depo"),
    )

    # small-graph regime: CC's auto path already paid for the exact
    # distinct-edge count (no extra action here) — right-size the five
    # rollup shuffles to ~100k edges/partition and materialize while the
    # narrower width is in scope (shuffle.partitions binds at action
    # time, so a lazy return would replan at the session width), then
    # release the pairs cache. On the large path (hint missing or
    # > ~3.2M edges) out stays lazy at the session width and the pairs
    # cache is left for the caller's single consuming action (LRU-evicted
    # afterwards).
    n_edges = getattr(cc, "_cwcd_n_edges", None)
    if n_edges is not None and n_edges <= 3_200_000:
        with scoped_conf(spark, n_edges):
            out = out.localCheckpoint(eager=True)
        pairs.unpersist()
    return out
