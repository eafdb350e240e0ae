"""HyperBall: approximate neighborhood function / distance distribution.

North-rule extension (SURVEY.md §2.9 frontier family): the reference's
pipeline reports community membership; global distance statistics —
"how FAR is the typical wallet from the typical wallet" (average
distance, effective diameter, per-vertex harmonic centrality) — need
the neighborhood function N(v, r) = |{u : d(v, u) <= r}|, which per-source
BFS cannot deliver at scale (it is all-pairs work). HyperBall
(Boldi & Vigna, "In-Core Computation of Geometric Centralities with
HyperBall", 2013; the algorithm behind the Facebook "four degrees of
separation" measurement) replaces each exact ball with a HyperLogLog
sketch: B(v, r+1) = B(v, r) ∪ ⋃_{(v,u)∈E} B(u, r), where ∪ is the
registerwise-max HLL merge.

Spark-first mapping — the whole superstep is built-in JVM expressions
(Spark 4 Datasketches HLL columns), zero Python on the hot path:

- state: DataFrame[id, sketch(binary), card(double), harmonic(double)],
  one row per vertex;
- superstep: edges ⋈ state on the neighbor side (sketch gather), union
  with own state, ``groupBy(id).agg(hll_union_agg(sketch))`` (the HLL
  merge is associative and commutative, so Spark's partial aggregation
  map-side-combines messages before the shuffle). The previous round's
  (card, harmonic) scalars ride the vertex's own state row as
  null-elsewhere carry columns recovered by ``max`` in the SAME
  aggregation, so each superstep is exactly one shuffle — no second
  join back to state — and the per-vertex harmonic series
  Σ_r (|B(v,r)| - |B(v,r-1)|) / r accumulates in the agg output;
- one action per superstep: a (changed-count, sum(card)) probe that both
  materializes the round's localCheckpoint and detects the fixpoint
  (balls saturate exactly when no estimate moved);
- systolic sending (Boldi & Vigna §4.1): only vertices whose estimate
  moved last round re-send their sketch. B(v,r+1) ⊇ B(v,r) and the HLL
  merge is idempotent, so a stagnant neighbor's contribution is already
  inside every ball it feeds; skipping it is lossless while the sketch
  is in exact (coupon) mode — estimate unchanged ⟺ no new coupons —
  and in dense mode it is the same estimate-granularity approximation
  as the stopping rule itself. The active set shrinks geometrically
  past the effective diameter, so late supersteps shuffle only the
  frontier's sketches instead of |E| payloads every round;
- per-round shuffle volume is |E| + |V| sketch payloads of
  2^lg_k registers each — the scale knob the paper names: lg_k=12
  (default, ~1.6% relative error, ~4 KB/sketch) suits up to ~10^8
  vertices of executor memory per 400 GB; at 10^10-vertex scale pass
  lg_k=8 (~6.5% error, ~256 B/sketch). State never lands on the driver;
  the driver sees one scalar triple per round.

Estimates at small cardinalities are exact (the Datasketches HIP
estimator runs in sparse/exact mode until ~2^lg_k/4 items), so small
test graphs verify against exact BFS counts with a tight tolerance
(``tests/test_hyperball.py`` pins parity vs networkx).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.checkpoint import release_local_checkpoint
from .edges import canonicalize_edges, symmetrize, vertices_of


@dataclass
class HyperBallResult:
    per_vertex: DataFrame  # id, ball (≈|B(v, r_final)|), harmonic
    neighborhood: list  # N(r) = Σ_v |B(v, r)| for r = 0..r_final
    supersteps: int
    converged: bool
    avg_distance: float
    effective_diameter: float  # 90th-percentile interpolated radius
    metrics: list[dict] = field(default_factory=list)
    _state: DataFrame | None = None  # final checkpointed sketch table

    def release(self) -> None:
        """Drop the final round's localCheckpoint blocks. ``per_vertex``
        must be consumed (or re-pinned by the caller) first — after
        release it would recompute from a freed checkpoint."""
        if self._state is not None:
            release_local_checkpoint(self._state)
            self._state = None


def _effective_diameter(nf: list[float], alpha: float = 0.9) -> float:
    """Smallest (linearly interpolated) r with N(r) >= alpha * N(r_max) —
    the standard effective-diameter definition over the neighborhood
    function. nf[0] = N(0) = |V| (every vertex reaches itself)."""
    target = alpha * nf[-1]
    for r, n in enumerate(nf):
        if n >= target:
            if r == 0:
                return 0.0
            prev = nf[r - 1]
            if n == prev:
                return float(r)
            return (r - 1) + (target - prev) / (n - prev)
    return float(len(nf) - 1)


def hyperball(
    spark: SparkSession,
    edges: DataFrame,
    max_r: int = 64,
    lg_k: int = 12,
    directed: bool = False,
    assume_canonical: bool = False,
) -> HyperBallResult:
    """Approximate neighborhood function + harmonic centrality for every
    vertex, in O(effective diameter) supersteps of pure DataFrame ops.

    ``edges`` needs columns src, dst. Undirected by default (balls grow
    over the symmetrized edge set); ``directed=True`` grows the OUT-ball
    B(v, r+1) = {v} ∪ ⋃_{v→u} B(u, r) over the edges as given.

    ``assume_canonical``: caller guarantees the ``derive_edges`` output
    contract (src < dst, one row per unordered pair, no self-loops), so
    the defensive ``canonicalize_edges`` shuffle is skipped (undirected
    only).

    Returns per-vertex ``ball`` (≈ reachable-set size) and ``harmonic``
    (≈ Σ_{u≠v} 1/d(v,u)) estimates plus the global neighborhood
    function, average distance, and effective diameter. All estimates
    carry the HLL relative error for ``lg_k`` (~1.04/√2^lg_k).
    """
    if directed:
        e = (
            edges.select("src", "dst")
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
    else:
        if assume_canonical:
            canon = edges.select("src", "dst")
        else:
            canon = canonicalize_edges(edges).select("src", "dst")
        e = symmetrize(canon, weight=False)
    # partitioned AND sorted on the per-round join key (src): an
    # un-laid-out cache re-exchanges + re-sorts all 2|E| rows in every
    # round's sort-merge join (graph/hits.py layout measurement)
    e = e.repartition("src").sortWithinPartitions("src").persist()

    verts = vertices_of(e).persist()
    # one-element sketches: groupBy over the (distinct) vertex table —
    # every group is a single row, so this is a map-side build
    state = (
        verts.groupBy("id")
        .agg(F.hll_sketch_agg("id", F.lit(lg_k)).alias("sketch"))
        .select(
            "id",
            "sketch",
            F.hll_sketch_estimate("sketch").cast("double").alias("card"),
            F.lit(0.0).alias("harmonic"),
            F.lit(True).alias("changed"),
        )
        .localCheckpoint(eager=False)
    )

    def probe(df: DataFrame):
        # one action: materializes the round's checkpoint, counts the
        # active frontier (fixpoint when it empties), sums the estimates
        r = df.agg(
            F.sum(F.col("changed").cast("long")).alias("active"),
            F.sum("card").alias("s"),
        ).collect()[0]
        return int(r["active"]), float(r["s"])

    active, total = probe(state)
    nf = [total]
    metrics: list[dict] = []
    converged = False
    r = 0
    for r in range(1, max_r + 1):
        t0 = time.monotonic()
        # neighbor sketches ride with NULL carry columns; the vertex's own
        # state row carries (card, harmonic). After the union, one
        # groupBy recovers both the merged ball AND the previous round's
        # scalars via null-skipping max — every group has exactly one
        # non-null carry (its own row) — so the superstep is ONE shuffle
        # (edge join + partial-aggregated HLL merge), not merge + a
        # second join back to state.
        msgs = (
            e.join(
                state.where(F.col("changed")).select(
                    F.col("id").alias("dst"), "sketch"
                ),
                "dst",
            )
            .select(
                F.col("src").alias("id"),
                "sketch",
                F.lit(None).cast("double").alias("_pc"),
                F.lit(None).cast("double").alias("_ph"),
            )
        )
        own = state.select(
            "id",
            "sketch",
            F.col("card").alias("_pc"),
            F.col("harmonic").alias("_ph"),
        )
        merged = (
            msgs.unionByName(own)
            .groupBy("id")
            .agg(
                F.hll_union_agg("sketch").alias("sketch"),
                F.max("_pc").alias("_pc"),
                F.max("_ph").alias("_ph"),
            )
        )
        est = F.hll_sketch_estimate("sketch").cast("double")
        new_state = merged.select(
            "id",
            "sketch",
            est.alias("card"),
            (F.col("_ph") + (est - F.col("_pc")) / F.lit(float(r))).alias(
                "harmonic"
            ),
            (est != F.col("_pc")).alias("changed"),
        ).localCheckpoint(eager=False)
        active, total = probe(new_state)
        nf.append(total)
        metrics.append(
            {
                "r": r,
                "wall_ms": (time.monotonic() - t0) * 1e3,
                "sum_card": total,
                "active": active,
            }
        )
        release_local_checkpoint(state)
        state = new_state
        if active == 0:
            converged = True
            break

    e.unpersist()
    verts.unpersist()

    # distance distribution from the neighborhood function (driver-side,
    # O(r_final) scalars): pairs at distance exactly r = N(r) - N(r-1)
    reached = nf[-1] - nf[0]  # ordered pairs at distance >= 1
    if reached > 0:
        avg = sum(r_ * (nf[r_] - nf[r_ - 1]) for r_ in range(1, len(nf))) / reached
    else:
        avg = 0.0
    out = state.select("id", F.col("card").alias("ball"), "harmonic")
    return HyperBallResult(
        per_vertex=out,
        neighborhood=nf,
        supersteps=r,
        converged=converged,
        avg_distance=avg,
        effective_diameter=_effective_diameter(nf),
        metrics=metrics,
        _state=state,
    )
