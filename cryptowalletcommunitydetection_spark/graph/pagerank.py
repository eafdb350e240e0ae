"""PageRank as iterative scatter/gather DataFrame joins.

North-rule extension of the reference's clustering workload (SURVEY.md
§2.9 G6): same superstep/checkpoint machinery as connected components,
NetworkX-compatible semantics so ``nx.pagerank(alpha=0.85)`` is the test
oracle — per-vertex agreement within atol 1e-6:

  x_{k+1}(v) = (1-α)/N + α·( Σ_{u→v} x_k(u)·w(u,v)/W(u) + D_k/N )

with W(u) the out-weight sum, D_k the total rank mass on dangling
(out-degree-0) vertices, and L1 convergence Σ|x_{k+1}-x_k| < tol.

Scale design:
- the transition table ``norm_edges(src, dst, p)`` is computed once,
  hash-partitioned by src, persisted — supersteps never reshuffle the
  edge table on the scatter side,
- the rank table is |V| rows; when small it is broadcast to the edge
  partitions (zero-shuffle scatter), otherwise joined co-partitioned,
- the gather ``groupBy(dst).sum`` benefits from map-side partial
  aggregation, which neutralizes hub skew for algebraic aggregates
  (explicit salting helpers in graph/skew.py cover non-algebraic cases),
- with ``run_dir`` each superstep is checkpointed (Parquet) → lineage
  stays O(1) and the run resumes from the last complete superstep,
- below ``LOCAL_PR_MAX_EDGES`` the whole iteration runs as one
  vectorized numpy task instead, with or without ``run_dir`` (the task
  writes the same per-superstep Parquet states).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.checkpoint import RunManifest, release_local_checkpoint
from .edges import canonicalize_edges, symmetrize, vertices_of

# Above this vertex count the rank table is no longer broadcast.
BROADCAST_MAX_VERTICES = 2_000_000

LOCAL_PR_MAX_EDGES = 4_000_000
"""Size gate (normalized directed edge rows) below which the superstep
loop is replaced by a single-task vectorized numpy power iteration —
the same physical-strategy principle as the CC union-find fast path
(graph/cc.py LOCAL_CC_MAX_EDGES) and a broadcast join: when the whole
transition table fits one executor comfortably, ~100 supersteps of pure
job-scheduling latency (~400 ms each in local mode) dwarf the O(E) work
per iteration (a 1.2M-row scatter/gather is ~5 ms in numpy). Measured
crossover (BENCH/BASELINE.md, 20-superstep walls, local[32]): local
wins 1.9x at 2M normalized rows, loses 0.61x at 8M — 4M is the
bracketed midpoint, and also the memory-safe bound for one executor
(~200 MB edge index + key table). The gate applies with or without
``run_dir`` (the kernel then checkpoints each superstep itself); the
distributed loop covers everything above the gate, and
``strategy="broadcast"/"copartition"/"blocked"`` forces it. Parity
between the two paths is within float64 summation-order noise (≪ the
1e-6 convergence contract) and is tested."""


@dataclass
class PageRankResult:
    ranks: DataFrame
    supersteps: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def _decode_ranks(ranks: DataFrame, vdict: DataFrame | None) -> DataFrame:
    """Map vid-space ranks back to original keys (see _encode block in
    ``pagerank``). Rank values are unchanged by the bijective re-keying.
    Pinned eagerly so the persisted dict can be released immediately
    (same lifecycle as graph/cc.py::_decode_labels)."""
    if vdict is None:
        return ranks
    out = ranks.join(vdict, ranks.id == vdict.vid).select(
        F.col("key").alias("id"), "rank"
    )
    out = out.localCheckpoint(eager=True)
    vdict.unpersist()
    return out


def _local_pagerank(
    vertices: DataFrame | None,
    norm: DataFrame,
    alpha: float,
    tol: float,
    max_iter: int,
    init_ranks: DataFrame | None = None,
    personalization: DataFrame | None = None,
    run_dir: str | None = None,
    start_k: int = 0,
) -> PageRankResult:
    """Single-task power iteration over the (small) transition table.

    Input: ``norm(src, dst, p)`` — the same normalized transition table
    the distributed supersteps scatter. The vertex universe is derived
    from the edge endpoints inside the kernel (exactly ``vertices_of``'s
    set); only the optional extra ``vertices`` frame rides along as
    null-dst marker rows, so isolated vertices are part of the state as
    in the distributed loop. The kernel is vectorized numpy (one
    ``np.unique(return_inverse)`` index over a fixed-width-bytes view of
    string keys — C memcmp, not per-element Python compares — lexsorted
    edge order for run-to-run determinism, bincount gather); per-row
    Python never touches edge data. Update rule, dangling-mass
    handling, L1 convergence test and iteration count are the
    distributed loop's, term for term:

      rank' = (1-α)/n + α·dmass/n + α·Σ_{u→v} rank(u)·p(u,v)

    ``coalesce(1)`` is a narrow merge (no shuffle) of the transition
    table's partitions.

    ``init_ranks`` (DataFrame[id, rank], optional) warm-starts the
    iteration: rows ride the same input stream as dst-null rows whose
    ``p`` slot carries the prior rank. Init rows never expand the vertex
    universe (ids unknown to the current graph are dropped inside the
    kernel), missing vertices start at 1/n, and the assembled vector is
    renormalized to sum 1 — the fixed point is init-independent for
    α < 1, so warm vs cold results agree within the tol contract while
    a warm start near the solution saves most supersteps.

    ``start_k > 0`` resumes a checkpointed run: ``init_ranks`` is then the
    stored state after superstep ``start_k - 1``, taken verbatim (no
    filtering, no renormalization), so a resumed run is bit-identical to
    an uninterrupted one. With ``run_dir`` the task writes each
    superstep's state to ``RunManifest.step_path(k)/part-00000.parquet``
    (``id``, ``rank``) with pyarrow; recording it in the manifest is the
    caller's job, after the task has returned.

    The task emits one extra row (null ``id`` and ``rank``) whose
    ``_meta`` JSON carries the step count, the convergence flag and one
    record per superstep; it is read in the single collect after the
    kernel and becomes ``PageRankResult.metrics``.
    """
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    id_type = norm.schema["src"].dataType
    out_schema = StructType([
        StructField("id", id_type),
        StructField("rank", DoubleType()),
        StructField("_meta", StringType()),
    ])
    step_path = RunManifest(run_dir).step_path if run_dir is not None else None
    marked = norm.select("src", "dst", "p")
    if personalization is not None:
        # a 4th marker channel rides only when personalization is used,
        # so the default plan (and its job-count audit) is untouched:
        # dst-null + p-null + s-NON-null = teleport-weight row
        marked = marked.withColumn("s", F.lit(None).cast("double"))
    if vertices is not None:
        verts_marked = vertices.select(
            F.col("id").cast(id_type).alias("src"),
            F.lit(None).cast(id_type).alias("dst"),
            F.lit(None).cast("double").alias("p"),
        )
        if personalization is not None:
            verts_marked = verts_marked.withColumn(
                "s", F.lit(None).cast("double")
            )
        marked = marked.unionByName(verts_marked)
    if personalization is not None:
        w0 = F.col("weight").cast("double")
        marked = marked.unionByName(
            personalization.filter(
                w0.isNotNull() & ~F.isnan(w0) & (w0 > 0)
            ).select(
                F.col("id").cast(id_type).alias("src"),
                F.lit(None).cast(id_type).alias("dst"),
                F.lit(None).cast("double").alias("p"),
                w0.alias("s"),
            )
        )
    if init_ranks is not None:
        # dst-null + p-NON-null = init row (p-null dst-null rows are the
        # universe markers above); null priors are dropped here so they
        # can never masquerade as markers, and so are non-finite /
        # non-positive warm-start priors (a resumed state is kept whole)
        r0 = F.col("rank").cast("double")
        keep = r0.isNotNull()
        if start_k == 0:
            keep = keep & ~F.isnan(r0) & (r0 > 0)
        init_marked = init_ranks.filter(keep).select(
            F.col("id").cast(id_type).alias("src"),
            F.lit(None).cast(id_type).alias("dst"),
            r0.alias("p"),
        )
        if personalization is not None:
            init_marked = init_marked.withColumn(
                "s", F.lit(None).cast("double")
            )
        marked = marked.unionByName(init_marked)

    def power_iter(batches):
        import numpy as np
        import pandas as pd

        srcs, dsts, ps, vids = [], [], [], []
        init_keys, init_vals = [], []
        pers_keys, pers_vals = [], []
        pers_requested = False
        for pdf in batches:
            if "s" in pdf.columns:
                pers_requested = True
            isv = pdf["dst"].isna()
            if isv.any():
                vrows = pdf.loc[isv]
                has_r = vrows["p"].notna()
                if has_r.any():
                    init_keys.append(vrows.loc[has_r, "src"].to_numpy())
                    init_vals.append(
                        vrows.loc[has_r, "p"].to_numpy(dtype=np.float64)
                    )
                    vrows = vrows.loc[~has_r]
                if "s" in vrows.columns:
                    has_s = vrows["s"].notna()
                    if has_s.any():
                        pers_keys.append(vrows.loc[has_s, "src"].to_numpy())
                        pers_vals.append(
                            vrows.loc[has_s, "s"].to_numpy(dtype=np.float64)
                        )
                        vrows = vrows.loc[~has_s]
                if len(vrows):
                    vids.append(vrows["src"].to_numpy())
                e = pdf.loc[~isv]
            else:
                e = pdf
            srcs.append(e["src"].to_numpy())
            dsts.append(e["dst"].to_numpy())
            ps.append(e["p"].to_numpy(dtype=np.float64))
        all_keys = np.concatenate(vids + srcs + dsts)

        def summary(k, conv, n, steps=()):
            return pd.DataFrame({"id": [None], "rank": [None], "_meta": [
                json.dumps({"k": k, "conv": conv, "n": n, "steps": list(steps)})
            ]})

        if all_keys.size == 0:
            yield summary(start_k, True, 0)
            return
        # index in one pass. String keys go through pd.factorize (C hash
        # over all E rows) + an argsort of the V uniques only — measured
        # 5x over np.unique on a bytes view, 10x+ over object-dtype
        # unique, and the resulting (sorted-id) mapping is identical, so
        # the deterministic summation order is preserved.
        if all_keys.dtype == object:
            codes, uniques = pd.factorize(all_keys)
            order_u = np.argsort(uniques)
            pos = np.empty(len(order_u), dtype=np.int64)
            pos[order_u] = np.arange(len(order_u))
            inv = pos[codes]
            ids = uniques[order_u]
        else:
            ids, inv = np.unique(all_keys, return_inverse=True)
        nn = len(ids)
        n_v = sum(len(a) for a in vids)
        n_e = sum(len(a) for a in srcs)
        src_i = inv[n_v:n_v + n_e]
        dst_i = inv[n_v + n_e:]
        p = np.concatenate(ps) if ps else np.array([], dtype=np.float64)
        # deterministic summation order regardless of upstream Spark row
        # order: gather in (dst, src) order
        order = np.lexsort((src_i, dst_i))
        src_i, dst_i, p = src_i[order], dst_i[order], p[order]
        has_out = np.zeros(nn, dtype=bool)
        has_out[src_i] = True
        dang = ~has_out

        ranks = np.full(nn, 1.0 / nn, dtype=np.float64)
        if init_keys:
            ik = np.concatenate(init_keys)
            iv = np.concatenate(init_vals)
            # map prior ids onto the CURRENT universe; ids the graph no
            # longer contains are dropped (get_indexer returns -1)
            pos = pd.Index(ids).get_indexer(ik)
            ok = pos >= 0
            ranks[pos[ok]] = iv[ok]
            if start_k == 0:  # a resumed state stays verbatim
                s = float(ranks.sum())
                if np.isfinite(s) and s > 0:
                    ranks /= s
                else:  # degenerate prior: fall back to the cold start
                    ranks = np.full(nn, 1.0 / nn, dtype=np.float64)
        svec = None
        if pers_keys:
            # teleport vector: weights mapped onto the CURRENT universe
            # (ids outside the graph are dropped, like init priors),
            # normalized to sum 1. Emptiness after the drop was already
            # rejected driver-side; the guard here keeps the kernel total.
            pk = np.concatenate(pers_keys)
            pv = np.concatenate(pers_vals)
            pos = pd.Index(ids).get_indexer(pk)
            ok = pos >= 0
            svec = np.zeros(nn, dtype=np.float64)
            np.add.at(svec, pos[ok], pv[ok])
            st = float(svec.sum())
            if st > 0:
                svec /= st
            else:
                svec = None
        if pers_requested and svec is None:
            # zero teleport mass (no seed id exists in this universe):
            # signal with the k = -1 sentinel instead of iterating — the
            # driver raises the contract ValueError after the (eager)
            # materialization, so the caller still sees the error at the
            # call site without a separate pre-kernel existence-probe job
            yield summary(-1, False, nn)
            return
        if step_path is not None:
            import pyarrow as pa
            import pyarrow.parquet as pq

            id_arr = pa.array(ids)
        dmass = float(ranks[dang].sum())
        steps, converged, records = start_k, False, []
        for k in range(start_k, max_iter):
            t0 = time.monotonic()
            contrib = np.bincount(dst_i, weights=ranks[src_i] * p, minlength=nn)
            if svec is None:
                base = (1.0 - alpha) / nn + alpha * dmass / nn
                new = base + alpha * contrib
            else:
                # nx personalization semantics (dangling = teleport):
                # x' = (1-a)·s + a·(contrib + dmass·s)
                new = ((1.0 - alpha) + alpha * dmass) * svec + alpha * contrib
            delta = float(np.abs(new - ranks).sum())
            ranks = new
            dmass = float(ranks[dang].sum())
            if step_path is not None:
                d = step_path(k)
                shutil.rmtree(d, ignore_errors=True)  # stale files of an older run
                os.makedirs(d)
                pq.write_table(
                    pa.table({"id": id_arr, "rank": ranks}),
                    os.path.join(d, "part-00000.parquet"),
                )
            records.append({
                "k": k, "wall_ms": (time.monotonic() - t0) * 1e3,
                "delta": delta, "rows": nn, "dangling_mass_next": dmass,
            })
            steps = k + 1
            if delta < tol:
                converged = True
                break
        yield pd.DataFrame({"id": ids, "rank": ranks, "_meta": None})
        yield summary(steps, converged, nn, records)

    out = marked.coalesce(1).mapInPandas(power_iter, out_schema)
    out = out.localCheckpoint(eager=True)
    meta = json.loads(
        out.where(F.col("_meta").isNotNull()).select("_meta").collect()[0][0]
    )
    if personalization is not None and (meta["k"] < 0 or meta["n"] == 0):
        # k = -1 sentinel (or an empty universe) under a requested
        # personalization: the teleport vector has no mass on this graph
        release_local_checkpoint(out)
        raise ValueError(
            "personalization carries no positive weight on any vertex of "
            "this graph — the teleport distribution would be empty"
        )
    return PageRankResult(
        out.where(F.col("_meta").isNull()).select("id", "rank"),
        meta["k"], meta["conv"], meta["steps"],
    )


def _identity(df: DataFrame, *cols: str) -> list[int]:
    """Content key ``[rows, Σhi, Σlo]`` of ``df`` over ``cols``: the row
    count plus the sums of the two 32-bit halves of ``xxhash64(cols)``,
    in ONE single-stage aggregate (no groupBy shuffle). Order-independent
    and multiplicity-safe: a duplicated row adds its hash again, where an
    XOR would cancel the pair. The halves are summed as decimals, so no
    row count can overflow them under ANSI mode."""
    h = F.xxhash64(*cols)
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.shiftright(h, 32).cast("decimal(28,0)")),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF)).cast("decimal(28,0)")),
    ).collect()[0]
    return [int(row[0]), int(row[1] or 0), int(row[2] or 0)]


def _resume_point(manifest: RunManifest, tol: float) -> tuple[int, bool]:
    """Last recorded superstep of ``manifest`` (-1 if none) and whether
    the run had already converged there."""
    last = manifest.last_complete()
    done = any(
        s["k"] == last and s.get("delta") is not None and s["delta"] < tol
        for s in manifest.supersteps
    )
    return last, done


def _checkpointed_local(
    spark: SparkSession,
    run_dir: str,
    params: dict,
    vertices: DataFrame | None,
    norm: DataFrame,
    alpha: float,
    tol: float,
    max_iter: int,
    init_ranks: DataFrame | None,
    personalization: DataFrame | None,
) -> PageRankResult:
    """``_local_pagerank`` under a run manifest: resume from the last
    recorded state (``init_ranks`` is then ignored), let the kernel write
    one Parquet state per superstep, and record those supersteps — with
    footer lineage, zero Spark jobs — once the task has returned."""
    manifest = RunManifest.open_or_create(run_dir, "pagerank", params)
    last, done = _resume_point(manifest, tol)
    if done:
        return PageRankResult(
            manifest.load_state(spark, last).select("id", "rank"),
            last + 1, True, manifest.metrics(),
        )
    res = _local_pagerank(
        vertices, norm, alpha, tol, max_iter,
        manifest.load_state(spark, last) if last >= 0 else init_ranks,
        personalization, run_dir, last + 1,
    )
    for m in res.metrics:
        manifest.record_superstep(
            spark, m["k"], wall_ms=m["wall_ms"], delta=m["delta"],
            rows=m["rows"], extra={"dangling_mass_next": m["dangling_mass_next"]},
        )
    res.metrics = manifest.metrics()
    return res


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 300,
    weighted: bool = True,
    directed: bool = False,
    vertices: DataFrame | None = None,
    run_dir: str | None = None,
    strategy: str = "auto",
    num_partitions: int | None = None,
    adaptive_supersteps: bool | None = None,
    encode: bool | None = None,
    broadcast_update_join: bool = False,
    assume_canonical: bool = False,
    init_ranks: DataFrame | None = None,
    personalization: DataFrame | None = None,
) -> PageRankResult:
    """Iterative PageRank. ``edges``: src, dst [, weight].

    ``personalization`` (DataFrame[id, weight], optional) makes the
    teleport PERSONALIZED (nx.pagerank's ``personalization`` +
    ``dangling`` defaults): the restart distribution s is the given
    weights normalized to sum 1 over the vertices present in the graph,
    and dangling mass redistributes proportionally to s —

        x' = (1-α)·s + α·(Σ contrib + D·s)

    The wallet-domain use: rank every wallet by proximity to a seed set
    of known actors (exchange deposit wallets, flagged addresses) —
    the seeded variant of the reference's global importance ranking.
    Semantics: non-finite / non-positive weights are dropped, ids
    absent from the graph are dropped, remaining weights need not be
    normalized; raises ``ValueError`` when no teleport mass lands on
    the graph (the iteration would be undefined). Vertices outside the
    seed set get rank only through link structure — at convergence the
    score IS the seeded random walk's stationary distribution.

    ``init_ranks`` (DataFrame[id, rank], optional) warm-starts superstep
    0 from a prior rank vector — the incremental-maintenance path: after
    an EdgeLog delta ingest, seed with the previous run's ranks and the
    iteration re-converges in a fraction of the supersteps. The fixed
    point is init-independent for α < 1, so warm and cold results agree
    within the ``tol`` contract (tested); this changes WHERE the
    iteration starts, never what it converges to. Semantics: ids the
    current graph doesn't contain are dropped, vertices without a prior
    start at 1/N, the assembled vector is renormalized to sum 1, and
    non-finite / non-positive priors are discarded. Ignored when a
    ``run_dir`` manifest resumes checkpointed state (the state
    supersedes any prior); on the distributed loop it costs one extra
    Spark action at superstep 0 only (the normalization + dangling-mass
    aggregate), on the local path none (the prior rides the kernel's
    input).

    ``run_dir`` makes the run resumable: each superstep's state is
    written to ``run_dir/superstep_{k:05d}/`` and recorded, with wall,
    delta and per-file lineage, in ``run_dir/manifest.json``; a rerun
    with the same inputs and parameters resumes after the last recorded
    superstep (``max_iter`` may differ) and returns the stored state at
    once if that superstep had converged. A different input — edges,
    weights, ``vertices``, seeds — or a different key space (original
    keys on the local path, xxhash64 vids on the distributed path)
    starts fresh. Resume granularity is one superstep on the
    distributed loop and one kernel call on the local path: the kernel
    writes its states while it runs, but the manifest records them only
    after the task returns, so a call killed mid-kernel resumes from the
    previous call's last superstep and no record ever points at a
    partial file. ``run_dir`` must be a POSIX path that the driver and
    the executors both see.

    ``directed=False`` treats the input as canonical undirected edges and
    symmetrizes (NetworkX Graph semantics). ``tol`` is the absolute L1
    threshold on Σ|Δrank|.

    ``assume_canonical`` (undirected only): the caller guarantees the
    input is already canonical — src < dst, one row per unordered pair,
    no self-loops — so the defensive ``canonicalize_edges`` groupBy (a
    full |E|-scale shuffle before the first superstep) is skipped.
    ``derive_edges``/``cooccurrence_edges`` output satisfies this by
    construction; at the 10^12-file posture that skip removes one
    whole-edge-table exchange from the pipeline. Passing a
    non-canonical table under this flag double-counts duplicate
    orientations — it is a contract, not a hint.

    ``strategy`` picks the superstep physical plan:

    - "local" (auto-selected below ``LOCAL_PR_MAX_EDGES`` normalized
      edge rows): one vectorized power-iteration task over the whole
      transition table — the broadcast-join principle applied to the
      iteration itself; see ``_local_pagerank``. Resumable under
      ``run_dir`` like the distributed loop.
    - "broadcast": ranks broadcast to dst-partitioned edges; fastest
      while the rank table is broadcastable. Serial cost: building the
      broadcast (~|V|) every superstep.
    - "copartition": edges partitioned+sorted by src, rank table joined
      co-partitioned; per-superstep shuffle = rank table + scattered
      messages. Measured best non-broadcast strategy on uniform-degree
      graphs (17.0M vs blocked's 4.7M edge-traversals/s/superstep at
      |V|=4M, |E|=96M, local[32]).
    - "blocked" (GraphX-style vertex-cut): edges partitioned once by
      dst-block, a static routing table ships each rank only to blocks
      that reference it, scatter join co-partitioned on the block id,
      gather groupBy(bj, dst) block-local (no exchange; per-task agg
      maps bounded by |V|/partitions). Per-superstep shuffle is
      O(|V|·replication) routed ranks — never the (partially
      aggregated) message stream. MEASURED (BENCH/BASELINE.md): loses
      to copartition in local mode on both uniform (4.7M vs 17.0M
      edge-traversals/s/superstep) and hub-skewed graphs (8.1M vs
      21.5M with a 1.66M-degree hub) — map-side partial aggregation
      already absorbs hub skew for the algebraic gather, and local-mode
      shuffles move through shared memory, so what blocked saves is
      nearly free here. Kept for genuinely network-bound clusters where
      shuffling routed ranks instead of the message stream is the
      difference; never chosen by "auto".
    - "auto": broadcast while |V| ≤ 2M, else copartition.

    ``encode``: int64 re-keying of string vertex ids for the distributed
    loop (None = auto: on for string keys). See the inline block below —
    measured ~4x on the superstep's join+gather stage, and required for
    core-count scaling on string-keyed graphs; results are decoded back
    to the original keys, values identical up to float summation order.
    """
    has_w = weighted and "weight" in edges.columns
    if directed:
        e = edges
        if not has_w:
            e = e.select("src", "dst", F.lit(1).alias("weight"))
    else:
        if assume_canonical:
            canon = edges.select(
                "src", "dst",
                *([F.col("weight")] if has_w else []),
            )
        else:
            # nx.Graph semantics: duplicate rows / reversed orientations
            # collapse to one undirected edge (weights summed if weighted)
            canon = canonicalize_edges(edges, weight="weight" if has_w else None)
        if not has_w:
            canon = canon.select("src", "dst", F.lit(1).alias("weight"))
        e = symmetrize(canon, weight=True)

    out_w = e.groupBy("src").agg(F.sum("weight").alias("_wsum"))
    norm = e.join(out_w, "src").select(
        "src", "dst", (F.col("weight") / F.col("_wsum")).alias("p")
    )
    pers_clean = None
    if personalization is not None:
        w0 = F.col("weight").cast("double")
        pers_clean = (
            personalization.filter(w0.isNotNull() & ~F.isnan(w0) & (w0 > 0))
            # a duplicated seed id must not duplicate teleport rows:
            # collapse by summing (a seed listed twice carries 2x mass,
            # dict-merge semantics)
            .groupBy("id")
            .agg(F.sum(w0).alias("weight"))
        )

    # Manifest identity of a checkpointed run. max_iter is a stopping
    # condition, not part of the computation's identity — a resume may
    # raise it and continue the same run. The content keys (see
    # _identity) cover the transition column p — same topology with
    # changed weights is a DIFFERENT input — the extra `vertices`, and
    # the teleport input of a seeded run. "ids" (added where the path is
    # known) names the key space the stored states are written in.
    params = {"alpha": alpha, "tol": tol, "weighted": has_w, "directed": directed}
    # local fast path (see LOCAL_PR_MAX_EDGES). The size probe caches the
    # transition table and counts it — for a checkpointed run the same
    # single aggregate also yields the input identity. A fall-through to
    # the distributed loop reuses the cache for its one repartition pass
    # and releases it right after materializing norm_edges, so the probe
    # never recomputes the normalization and never doubles edge storage
    # for the rest of the run. The vertex universe is not materialized
    # at all on the local path — the kernel derives it from the edge
    # endpoints (+ the optional `vertices` marker rows).
    probe_cache = None
    if run_dir is not None or strategy in ("auto", "local"):
        probe_cache = norm.persist(StorageLevel.MEMORY_AND_DISK)
        if run_dir is not None:
            params["input"] = _identity(probe_cache, "src", "dst", "p")
            n_rows = params["input"][0]
            if vertices is not None:
                params["vertices"] = _identity(vertices, "id")
            if pers_clean is not None:
                params["personalization"] = _identity(pers_clean, "id", "weight")
        else:
            n_rows = None if strategy == "local" else probe_cache.count()
        if strategy == "local" or (
            strategy == "auto" and n_rows <= LOCAL_PR_MAX_EDGES
        ):
            # Zero teleport mass (seeded run, no seed id in the graph) is
            # detected INSIDE the kernel and signalled back through the
            # k = -1 sentinel; _local_pagerank raises the contract
            # ValueError at the call site. The kernel's output is
            # materialized eagerly inside, so the input cache can be
            # dropped before returning.
            try:
                if run_dir is None:
                    return _local_pagerank(
                        vertices, probe_cache, alpha, tol, max_iter,
                        init_ranks, pers_clean,
                    )
                return _checkpointed_local(
                    spark, run_dir, {**params, "ids": "key"}, vertices,
                    probe_cache, alpha, tol, max_iter, init_ranks, pers_clean,
                )
            finally:
                probe_cache.unpersist()
        norm = probe_cache

    # Int64 re-keying for the distributed loop (same mechanics as
    # graph/cc.py::_encode_keys; default ON for string keys). Every
    # superstep probes a broadcast HashedRelation and hash-aggregates on
    # the vertex key; with string keys that stage measured ~9M rows/s on
    # the 65M-row files-derived co-occurrence graph AND stopped scaling
    # with cores (UTF8String probe + allocation pressure), while int64
    # keys take Spark's dense LongHashedRelation / long hash-agg fast
    # paths: 2.1-2.8s vs 9-14s for the same join+gather at local[32]
    # (BENCH/BASELINE.md round-3 section). xxhash64(seed 42) is
    # deterministic, so run_dir resumes re-derive the same vids; a
    # detected 64-bit collision falls back to original keys (rank values
    # under a collision would silently merge vertices). The manifest
    # records the key space ("ids"), so a run_dir written in the other
    # key space starts fresh rather than resuming inconsistently.
    from pyspark.sql.types import StringType

    vdict = None
    is_string = isinstance(e.schema["src"].dataType, StringType)
    if encode is None:
        encode = is_string
    if encode and is_string:
        keys = vertices_of(e)
        if vertices is not None:
            keys = keys.unionByName(vertices.select("id")).distinct()
        vdict = keys.select(
            F.xxhash64(F.col("id"), F.lit(42)).alias("vid"),
            F.col("id").alias("key"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        chk = vdict.agg(
            F.count(F.lit(1)).alias("nk"), F.countDistinct("vid").alias("nv")
        ).collect()[0]
        if chk["nk"] != chk["nv"]:
            vdict.unpersist()
            vdict = None
        else:
            norm = norm.select(
                F.xxhash64(F.col("src"), F.lit(42)).alias("src"),
                F.xxhash64(F.col("dst"), F.lit(42)).alias("dst"),
                "p",
            )

    if vdict is not None:
        verts = vdict.select(F.col("vid").alias("id"))  # incl. marker-only ids
    else:
        verts = vertices_of(e)
        if vertices is not None:
            verts = verts.unionByName(vertices.select("id")).distinct()
    verts = verts.persist(StorageLevel.MEMORY_AND_DISK)
    # teleport vector for personalized runs: |V| rows of (id, _s), s
    # normalized over the vertices actually in the graph. Built once,
    # persisted (initial state + resume + warm start all join it); the
    # per-superstep update reads _s from the STATE, never this table.
    # The normalizing mass and the vertex count come out of ONE fused
    # aggregate over the joined table (a seeded run used to pay a
    # separate driver action for each).
    svec = None
    if pers_clean is not None:
        pc = pers_clean
        if vdict is not None:
            pc = pc.select(
                F.xxhash64(F.col("id"), F.lit(42)).alias("id"), "weight"
            )
        raw_s = verts.join(pc, "id", "left").select(
            "id", F.coalesce("weight", F.lit(0.0)).alias("_w")
        )
        row0 = raw_s.agg(
            F.count(F.lit(1)).alias("n"), F.sum("_w").alias("t")
        ).collect()[0]
        n = int(row0["n"])
        tot = float(row0["t"] or 0.0)
        if n > 0 and tot <= 0:
            for cached in (verts, probe_cache, vdict):
                if cached is not None:
                    cached.unpersist()
            raise ValueError(
                "personalization carries no positive weight on any vertex "
                "of this graph — the teleport distribution would be empty"
            )
        if n > 0:
            svec = raw_s.select(
                "id", (F.col("_w") / F.lit(tot)).alias("_s")
            ).persist(StorageLevel.MEMORY_AND_DISK)
    else:
        n = verts.count()
    if n == 0:
        empty = _decode_ranks(verts.select("id", F.lit(0.0).alias("rank")), vdict)
        verts.unpersist()
        if probe_cache is not None:
            probe_cache.unpersist()
        return PageRankResult(empty, 0, True)

    np = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    if strategy in ("auto", "local"):
        strategy = "broadcast" if n <= BROADCAST_MAX_VERTICES else "copartition"
    broadcast_ranks = strategy == "broadcast"
    # Partitioning of the persisted transition table:
    # - broadcast: scatter join is map-side, so partition by dst — the
    #   gather's map-side partial agg emits ~one row per dst and the
    #   shuffle moves ~|V| rows,
    # - copartition: partition by src (sorted) so the rank join streams
    #   the cached edge side,
    # - blocked (GraphX-style, for |V| too big to broadcast): partition
    #   by dst-block bj; a static routing table ships each rank only to
    #   the blocks that reference it, the scatter join is co-partitioned
    #   on bj, and the gather groupBy(bj, dst) is satisfied by the block
    #   partitioning — no exchange, per-task agg maps bounded by |V|/np.
    rt = None
    if strategy == "broadcast":
        norm_edges = norm.repartition(np, "dst")
    elif strategy == "copartition":
        norm_edges = norm.repartition(np, "src").sortWithinPartitions("src")
    elif strategy == "blocked":
        norm_edges = (
            norm.withColumn("bj", F.pmod(F.xxhash64("dst"), F.lit(np)))
            .repartition(np, "bj")
            .sortWithinPartitions("bj", "src")
        )
    else:
        raise ValueError(f"unknown strategy: {strategy}")
    norm_edges = norm_edges.persist(StorageLevel.MEMORY_AND_DISK)
    norm_edges.count()  # materialize once
    if probe_cache is not None:
        probe_cache.unpersist()  # norm_edges now carries the edge data
    if strategy == "blocked":
        rt = (
            norm_edges.select("bj", F.col("src").alias("id"))
            .distinct()
            .repartition(np, "id")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        rt.count()

    dangling = verts.join(
        norm_edges.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n_dangling = dangling.count()

    manifest = None
    start_k = 0
    # the dangling flag rides along in the state so the per-superstep agg
    # can produce the NEXT superstep's dangling mass together with the L1
    # delta — one Spark action per superstep, not two. Graphs with no
    # dangling vertices (every symmetrized undirected graph) skip the
    # flag entirely: dmass is identically 0 and the state stays 2 columns.
    if n_dangling > 0:
        ranks = verts.join(
            dangling.select("id", F.lit(True).alias("_dang")), "id", "left"
        ).select(
            "id", F.lit(1.0 / n).alias("rank"),
            F.coalesce("_dang", F.lit(False)).alias("_dang"),
        )
    else:
        ranks = verts.select("id", F.lit(1.0 / n).alias("rank"))
    if svec is not None:
        # the teleport weight rides in the state like _dang, so the
        # per-superstep update stays a single join + projection
        ranks = ranks.join(svec, "id")
    state_cols = (
        ["id", "rank"]
        + (["_dang"] if n_dangling > 0 else [])
        + (["_s"] if svec is not None else [])
    )
    # exact: the initial state is uniform, so dangling mass = |D| / n
    dmass = n_dangling / n
    if run_dir is not None:
        manifest = RunManifest.open_or_create(
            run_dir, "pagerank",
            {**params, "ids": "key" if vdict is None else "xxhash64"},
        )
        last, done = _resume_point(manifest, tol)
        if last >= 0:
            loaded = manifest.load_state(spark, last).select("id", "rank")
            if n_dangling > 0:
                ranks = loaded.join(
                    dangling.select("id", F.lit(True).alias("_dang")), "id", "left"
                ).select(
                    "id", "rank", F.coalesce("_dang", F.lit(False)).alias("_dang")
                )
            else:
                ranks = loaded
            if svec is not None:
                # _s is derived state: rebuild from the (identity-checked)
                # teleport vector rather than trusting stored columns
                ranks = ranks.join(svec, "id")
            start_k = last + 1
            if done:
                for cached in (verts, dangling, norm_edges, rt, svec):
                    if cached is not None:
                        cached.unpersist()
                return PageRankResult(
                    _decode_ranks(ranks.select("id", "rank"), vdict),
                    last + 1, True, manifest.metrics(),
                )
            # the restored state's dangling mass was recorded with it
            dmass = manifest.supersteps[-1]["dangling_mass_next"]
    if init_ranks is not None and start_k == 0:
        # warm start (see docstring): join the prior onto the CURRENT
        # universe, fill gaps with 1/n, renormalize. One extra action —
        # the total and next dangling mass come out of a single aggregate.
        r0 = F.col("rank").cast("double")
        init = init_ranks.filter(r0.isNotNull() & ~F.isnan(r0) & (r0 > 0)).select(
            F.col("id"), r0.alias("_r0")
        )
        if vdict is not None:
            init = init.select(
                F.xxhash64(F.col("id"), F.lit(42)).alias("id"), "_r0"
            )
        # defensive: a duplicated prior id would duplicate STATE rows and
        # corrupt every superstep after the left join below — collapse to
        # one row per id (max is as good as any: init only moves the
        # starting point, never the fixed point)
        init = init.groupBy("id").agg(F.max("_r0").alias("_r0"))
        warm = ranks.join(init, "id", "left").select(
            "id",
            F.coalesce("_r0", F.lit(1.0 / n)).alias("rank"),
            *(["_dang"] if n_dangling > 0 else []),
            *(["_s"] if svec is not None else []),
        )
        aggs = [F.sum("rank").alias("_t")] + (
            [F.sum(F.when(F.col("_dang"), F.col("rank"))).alias("_d")]
            if n_dangling > 0
            else []
        )
        row0 = warm.agg(*aggs).collect()[0]
        total = float(row0["_t"] or 0.0)
        if math.isfinite(total) and total > 0:
            ranks = warm.select(
                "id",
                (F.col("rank") / F.lit(total)).alias("rank"),
                *(["_dang"] if n_dangling > 0 else []),
                *(["_s"] if svec is not None else []),
            )
            dmass = (
                float(row0["_d"] or 0.0) / total if n_dangling > 0 else 0.0
            )
        # else: degenerate prior — keep the uniform cold start

    ranks = ranks.localCheckpoint(eager=True) if manifest is None else ranks

    converged = False
    steps = start_k
    local_metrics: list[dict] = []
    # seed with the initial pinned state so round 0 releases it (a None
    # seed leaked one |V|-sized checkpoint for the whole run)
    prev_ckpt = ranks if manifest is None else None
    # AQE re-plans every query stage; for the broadcast regime (small
    # rank table, coordination-bound supersteps) that planning overhead
    # exceeds any runtime re-optimization win (~18% per superstep
    # measured at sf0.1) — disable it for the loop only, restore after.
    # The shuffle-heavy strategies keep the session setting: at scale
    # AQE's skew-join and partition coalescing matter there.
    aqe_key = "spark.sql.adaptive.enabled"
    aqe_before = spark.conf.get(aqe_key)
    disable_aqe = adaptive_supersteps is False or (
        adaptive_supersteps is None and strategy == "broadcast"
    )
    if disable_aqe:
        spark.conf.set(aqe_key, "false")
    # In broadcast mode only the gather output / rank-state shuffles use
    # spark.sql.shuffle.partitions (the scatter join is map-side over the
    # persisted edge partitioning). For SMALL rank tables (<= 500k rows —
    # the coordination-bound regime) right-size those shuffles to ~100k
    # rows per partition, floor 8, instead of the session default:
    # measured 39.9s -> 30.3s at sf0.1 (|V|=16k, session default 32).
    # The result never exceeds the session value: the resize only shrinks.
    # Larger graphs keep the session setting (shrinking below the core
    # count would idle executors during the rank-state stages), and
    # copartition/blocked always keep it: their shuffle count must match
    # the persisted edge partitioning or joins re-exchange.
    sp_key = "spark.sql.shuffle.partitions"
    sp_before = spark.conf.get(sp_key)
    resize_sp = False
    if strategy == "broadcast" and n <= 500_000:
        try:
            rank_parts = min(int(sp_before), max(8, (n + 99_999) // 100_000))
            resize_sp = rank_parts != int(sp_before)
        except ValueError:  # non-numeric (e.g. "auto") — leave untouched
            resize_sp = False
    if resize_sp:
        spark.conf.set(sp_key, str(rank_parts))
    try:
        for k in range(start_k, max_iter):
            t0 = time.monotonic()
            if strategy == "blocked":
                # ship each rank to the dst-blocks that reference it (one
                # |V|·replication shuffle); the edge join and the gather are
                # then block-local — the big edge table never moves
                delivered = (
                    ranks.select("id", "rank").join(rt, "id")
                    .select(F.col("bj"), F.col("id").alias("_sid"), F.col("rank"))
                    .repartition(np, "bj")
                )
                ne, d = norm_edges.alias("e"), delivered.alias("d")
                contrib = (
                    ne.join(
                        d,
                        (F.col("e.bj") == F.col("d.bj"))
                        & (F.col("e.src") == F.col("d._sid")),
                    )
                    .groupBy(F.col("e.bj"), F.col("e.dst").alias("dst"))
                    .agg(F.sum(F.col("d.rank") * F.col("e.p")).alias("_c"))
                    .select("dst", "_c")
                )
            else:
                # copartition mode: no explicit repartition — the rank table
                # is |V| rows (cheap to shuffle when needed) and its
                # checkpointed partitioning from the previous superstep's
                # join is preserved, so Catalyst plans the scatter join
                # against the pre-partitioned, pre-sorted edge table without
                # touching the edge side
                rsmall = ranks.select("id", "rank")
                r = F.broadcast(rsmall) if broadcast_ranks else rsmall
                contrib = (
                    norm_edges.join(r, norm_edges.src == r.id)
                    .groupBy("dst")
                    .agg(F.sum(F.col("rank") * F.col("p")).alias("_c"))
                )
            # dmass is the dangling mass of the CURRENT state, produced by the
            # previous superstep's fused aggregate (uniform-state closed form
            # at k=0) — no extra per-superstep action. With a teleport
            # vector the base is per-vertex ((1-α)+α·D)·s(v), read from
            # the _s state column — same single join + projection.
            if svec is not None:
                base_expr = ranks["_s"] * F.lit((1.0 - alpha) + alpha * dmass)
            else:
                base_expr = F.lit((1.0 - alpha) / n + alpha * dmass / n)
            # join contrib back to the rank table (covers every vertex) and
            # carry the previous rank along — the L1 delta then needs no
            # second |V|⋈|V| join, just a single-stage agg over the
            # checkpointed result (one fewer shuffle per superstep).
            # With AQE off this left join plans as a SortMergeJoin —
            # an Exchange+Sort of the rank state plus a Sort of contrib
            # every superstep. Broadcasting contrib instead (it is ≤|V|
            # rows, the same size as the rank table the scatter join
            # already broadcasts) makes the superstep shuffle-free, but
            # measured interleaved A/B at |V|=50k / 16M directed edges,
            # local[32]: SMJ min-median 0.277 s/superstep vs broadcast
            # 0.313 s — the per-superstep driver collect+broadcast is
            # serial and costs what the (parallel, |V|-row) exchange+
            # sort saves. SMJ stays the default; the hint remains as an
            # explicit escape hatch for cluster regimes where a driver
            # round-trip is cheaper than an extra shuffle stage.
            cside = (
                F.broadcast(contrib) if broadcast_update_join else contrib
            )
            new_ranks = ranks.join(cside, ranks.id == cside.dst, "left").select(
                ranks.id.alias("id"),
                (base_expr + F.lit(alpha) * F.coalesce(F.col("_c"), F.lit(0.0))).alias(
                    "rank"
                ),
                F.col("rank").alias("_old"),
                *([ranks["_dang"]] if n_dangling > 0 else []),
                *([ranks["_s"]] if svec is not None else []),
            )
            if manifest is not None:
                new_ranks = manifest.checkpoint(new_ranks, k)
            else:
                # lazy local checkpoint: the fused agg below is the action
                # that computes AND pins the superstep state — one Spark job
                # per superstep instead of two
                new_ranks = new_ranks.localCheckpoint(eager=False)

            # ONE action: L1 delta (+ the next superstep's dangling mass when
            # the graph has dangling vertices)
            aggs = [F.sum(F.abs(F.col("rank") - F.col("_old"))).alias("_delta")]
            if n_dangling > 0:
                aggs.append(
                    F.sum(F.when(F.col("_dang"), F.col("rank")).otherwise(0.0)).alias("_dm")
                )
            agg_row = new_ranks.agg(*aggs).collect()[0]
            delta = agg_row["_delta"]
            dmass = (agg_row["_dm"] or 0.0) if n_dangling > 0 else 0.0
            wall_ms = (time.monotonic() - t0) * 1e3
            entry = {
                "k": k, "wall_ms": wall_ms, "delta": delta, "rows": n,
                "dangling_mass_next": dmass,
            }
            local_metrics.append(entry)
            if manifest is not None:
                manifest.record_superstep(
                    spark, k, wall_ms=wall_ms, delta=delta, rows=n,
                    extra={"dangling_mass_next": dmass},
                )
            # release the superseded superstep state (safe: the new state is
            # materialized) so long runs don't accumulate pinned blocks
            if prev_ckpt is not None and manifest is None:
                release_local_checkpoint(prev_ckpt)
            prev_ckpt = new_ranks
            ranks = new_ranks.select(*state_cols)
            steps = k + 1
            if delta < tol:
                converged = True
                break
    finally:
        if disable_aqe:
            spark.conf.set(aqe_key, aqe_before)
        if resize_sp:
            spark.conf.set(sp_key, sp_before)

    verts.unpersist()
    dangling.unpersist()
    norm_edges.unpersist()
    if rt is not None:
        rt.unpersist()
    if svec is not None:
        svec.unpersist()
    metrics = manifest.metrics() if manifest is not None else local_metrics
    return PageRankResult(
        _decode_ranks(ranks.select("id", "rank"), vdict), steps, converged, metrics
    )
