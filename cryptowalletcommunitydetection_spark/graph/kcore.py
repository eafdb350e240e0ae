"""k-core decomposition (coreness) via distributed H-index fixpoint.

North-rule extension of the reference's wallet-clustering workload
(SURVEY.md §2.9): the reference prunes weakly-attached wallets before
clustering (e.g. the LP-balance threshold filter,
`jobs/dex_wallets/lp_traders_job.py:15,70` keeps only wallets above a
significance cut); k-core is the graph-native form of that cut — keep
the maximal subgraph where every wallet retains >= k links.

Algorithm (Lu, Zhang, Zhou, Stanley 2016): initialize c_0(v) = deg(v)
and iterate

    c_{k+1}(v) = H({ c_k(u) : u in N(v) })

where H is the H-index (the largest h such that at least h neighbors
have value >= h). The sequence is elementwise monotone nonincreasing
and its fixpoint is exactly the coreness of every vertex, so the loop
terminates (integer state, bounded below by 0) and the converged state
equals ``nx.core_number``. Convergence is typically a few supersteps
(it needs only as many rounds as the longest strictly-decreasing
dependency chain), far fewer than the |V| sequential peels of the
classic Batagelj-Zaversnik algorithm — which cannot be distributed,
while each H-index superstep is two shuffles of DataFrame built-ins.

Scale design (same physical-strategy playbook as PageRank/CC/LPA):
- the per-superstep message stream is compacted to a per-vertex VALUE
  HISTOGRAM first — ``groupBy(dst, value).count()`` gets map-side
  partial aggregation, so the shuffle moves one row per (vertex,
  distinct neighbor value), not one per edge; hub vertices with 10^6
  neighbors but few distinct neighbor values cost that few rows,
- the H-index is then a window over the (small) histogram: order values
  descending, h = max(min(value, cumulative_count)) — never a sort of
  the raw edge-scale message stream,
- below ``LOCAL_KCORE_MAX_EDGES`` the whole loop runs as ONE vectorized
  numpy task (the broadcast-join principle applied to the iteration;
  same gate rationale as graph/pagerank.py LOCAL_PR_MAX_EDGES): a
  ``run_kernel`` body (graph/local_kernel.py, the one Arrow boundary of
  the small-graph paths) that returns the distributed loop's
  per-superstep records and, at the cap, raises its error,
- the distributed loop runs on plans/superstep.py's
  ``run_supersteps``, as PageRank's, LPA's and HITS': one
  changed-count aggregate per superstep computes and pins the new
  state (a local checkpoint, or Parquet under ``run_dir``), each
  superstep returns one metrics record, and every cache and state is
  released also when a superstep fails,
- under ``run_dir`` either path is resumable one superstep at a time:
  the manifest is keyed on the edge set's content identity, so a
  changed input starts fresh and a run dir resumes on either path.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from pyspark.storagelevel import StorageLevel

from ..plans.checkpoint import RunManifest, content_identity, release_local_checkpoint
from ..plans.superstep import count_changed, run_supersteps, unchanged
from .edges import canonicalize_edges, symmetrize
from .local_kernel import KEY, Resumable, iterate, run_kernel

LOCAL_KCORE_MAX_EDGES = 4_000_000
"""Size gate (canonical undirected edge rows) below which the H-index
loop runs as one vectorized numpy body in the driver. MEASURED crossover
(bench_scripts/kcore_crossover.py, local[32], fresh-JVM min-of-2,
uniform random string-keyed graphs): local wins 5.2x at 1M raw rows,
1.8x at 2M, 1.4x at 4M, and LOSES 0.78x at 8M — the gate sits at the
last measured local win, applied by the kernel's own collect
(``run_kernel``'s ``max_edge_rows``). Integer state in both paths, so
local/distributed parity is exact (tested; the crossover script also
sketch-checks agreement at every level). The gate applies with or
without ``run_dir``."""


@dataclass
class CoreResult:
    cores: DataFrame  # [id, core]
    supersteps: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def _kcore_body(max_iter: int):
    """The local path's H-index iteration, as a ``run_kernel`` body over
    the canonical edge codes.

    Per superstep everything is numpy over the symmetrized edge arrays:
    one lexsort groups (vertex, neighbor-value desc), ranks come from
    group-head subtraction, candidates ``min(value, rank)`` reduce per
    group with ``np.maximum.reduceat`` — the vectorized twin of the
    histogram + window in the distributed superstep. Terminates at the
    exact coreness fixpoint (monotone nonincreasing integer state). The
    supersteps run on ``iterate``, with the distributed loop's records
    (``delta`` = changed cores, ``rows`` = vertices)."""

    def body(g):
        # symmetrized directed arrays: H-index gathers over in-neighbors
        s = np.concatenate([g.src, g.dst])
        t = np.concatenate([g.dst, g.src])

        def step(c):
            vals = c[s]
            o = np.lexsort((-vals, t))
            tt, vv = t[o], vals[o]
            head = np.ones(len(o), dtype=bool)
            head[1:] = tt[1:] != tt[:-1]
            starts = np.flatnonzero(head)
            gid = np.cumsum(head) - 1
            rank = np.arange(len(o), dtype=np.int64) - starts[gid] + 1
            # tt groups appear in ascending vertex code; every code is an
            # edge endpoint, so h aligns with 0..n-1
            h = np.maximum.reduceat(np.minimum(vv, rank), starts)
            new_c = np.minimum(c, h)
            return new_c, {"delta": int((new_c != c).sum()), "rows": g.n}

        c0 = np.bincount(t, minlength=g.n).astype(np.int64)  # c_0 = degree
        c, meta = iterate(g, c0, step, unchanged, max_iter)
        return {"id": np.arange(g.n), "core": c}, meta

    return body


def _unconverged(max_iter: int, run_dir: str | None) -> RuntimeError:
    return RuntimeError(
        f"k-core H-index iteration did not reach its fixpoint within "
        f"max_iter={max_iter} supersteps — the state is an upper bound "
        f"on coreness, not coreness. Re-run with a higher max_iter"
        + (" (the run_dir manifest resumes from the cap)." if run_dir
           else " or pass run_dir to make the run resumable.")
    )


def core_numbers(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 200,
    run_dir: str | None = None,
    local: bool | None = None,
    assume_canonical: bool = False,
) -> CoreResult:
    """DataFrame[id, core] — the coreness of every vertex
    (``nx.core_number`` semantics; self-loops dropped, duplicate rows /
    orientations collapse to one undirected edge, weights ignored).

    ``assume_canonical``: caller guarantees src < dst, one row per
    unordered pair, no self-loops (the ``derive_edges`` contract) — the
    defensive ``canonicalize_edges`` shuffle is skipped. A contract,
    not a hint: duplicate orientations would inflate degrees.

    ``local``: ``None`` auto-selects the driver-side vectorized kernel
    below ``LOCAL_KCORE_MAX_EDGES``, with or without ``run_dir``;
    ``False`` forces the distributed loop; ``True`` forces local.

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iter`` supersteps (unlike LPA's legitimate 2-cycles, a capped
    H-index run has NOT computed coreness — the monotone state is
    merely an upper bound). With ``run_dir`` the state up to the cap is
    checkpointed one superstep at a time on either path, so a rerun
    with a higher ``max_iter`` resumes instead of restarting.
    """
    if assume_canonical:
        canon = edges.select("src", "dst")
    else:
        canon = canonicalize_edges(edges).select("src", "dst")

    # shuffled rows are pinned for a fall-through (see run_kernel)
    pin = local is None and not assume_canonical
    if pin:
        canon = canon.localCheckpoint(eager=False)
    if local is not False:
        try:
            out = run_kernel(
                canon, _kcore_body(max_iter), {"id": KEY, "core": LongType()},
                max_edge_rows=None if local else LOCAL_KCORE_MAX_EDGES,
                # coreness is a function of the distinct canonical edge set only
                run=None if run_dir is None else Resumable(
                    run_dir, "kcore", {}, ("core", LongType())),
            )
        except BaseException:
            if pin:
                release_local_checkpoint(canon)
            raise
        if out is not None:
            if pin:
                release_local_checkpoint(canon)
            if not out.meta["conv"]:
                raise _unconverged(max_iter, run_dir)
            return CoreResult(out.rows, out.meta["k"], True, out.meta["steps"])
    if not pin:
        canon = canon.persist(StorageLevel.MEMORY_AND_DISK)

    # partitioned AND sorted on the per-round join key: an un-laid-out
    # cache re-exchanges + re-sorts all 2|E| rows in every round's
    # sort-merge join (graph/hits.py layout measurement; LPA/kcore
    # numbers in BENCH/BASELINE.md)
    e = (
        symmetrize(canon, weight=False)
        .repartition("src").sortWithinPartitions("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    manifest = None
    if run_dir is not None:
        manifest = RunManifest.open_or_create(
            run_dir, "kcore", {"input": content_identity(canon, "src", "dst")}
        )
    # histogram rows per vertex = distinct neighbor values (<= degree,
    # typically tiny); window sorts only that compacted stream
    wcum = (
        Window.partitionBy("dst")
        .orderBy(F.col("_cv").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    def step(prev: DataFrame, _: dict) -> DataFrame:
        cores = prev.select("id", "core")
        nbr = e.join(cores, e.src == cores.id).select(
            F.col("dst"), F.col("core").alias("_cv")
        )
        hist = nbr.groupBy("dst", "_cv").agg(F.count(F.lit(1)).alias("_n"))
        h = (
            hist.select(
                "dst", F.least(F.col("_cv"), F.sum("_n").over(wcum)).alias("_hh")
            )
            .groupBy("dst")
            .agg(F.max("_hh").alias("_h"))
            .select(F.col("dst").alias("id"), "_h")
        )
        return cores.join(h, "id", "left").select(
            "id",
            # every vertex has degree >= 1, but a checkpoint-resumed
            # state may carry ids the join misses only if the edge table
            # changed — least(old, coalesce(h, old)) keeps monotonicity
            F.least(F.col("core"), F.coalesce("_h", F.col("core"))).alias("core"),
            F.col("core").alias("_old"),
        )

    try:
        res = run_supersteps(
            e.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).cast("long").alias("core")),
            step, count_changed("core"), unchanged,
            max_iter=max_iter, manifest=manifest, inputs=(canon, e),
        )
    finally:
        if pin:
            release_local_checkpoint(canon)
    if not res.converged:
        release_local_checkpoint(res.state)
        raise _unconverged(max_iter, run_dir)
    return CoreResult(res.state.select("id", "core"), res.supersteps, True, res.metrics)


def k_core(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    assume_canonical: bool = False,
    **kwargs,
) -> DataFrame:
    """Canonical edges of the k-core subgraph (``nx.k_core(G, k)``):
    both endpoints have coreness >= k. Weight columns pass through."""
    res = core_numbers(
        spark, edges, assume_canonical=assume_canonical, **kwargs
    )
    if assume_canonical:
        canon = edges
    else:
        has_w = "weight" in edges.columns
        canon = canonicalize_edges(edges, weight="weight" if has_w else None)
    keep = res.cores.filter(F.col("core") >= k).select("id")
    out_cols = [c for c in canon.columns if c in ("src", "dst", "weight")]
    return (
        canon.join(keep.withColumnRenamed("id", "src"), "src", "semi")
        .join(keep.withColumnRenamed("id", "dst"), "dst", "semi")
        .select(*out_cols)
    )


def degeneracy(spark: SparkSession, edges: DataFrame, **kwargs) -> int:
    """max coreness (the graph's degeneracy); 0 for an empty graph."""
    res = core_numbers(spark, edges, **kwargs)
    row = res.cores.agg(F.max("core").alias("m")).collect()[0]
    return int(row["m"] or 0)
