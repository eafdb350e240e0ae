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
- string vertex keys are re-keyed to int64 (xxhash64) for the
  superstep loop and decoded once at the end,
- the loop itself is plans/superstep.py's ``run_supersteps``: each
  state is a lazy local checkpoint (Parquet under ``run_dir``, so the
  run resumes from the last complete superstep) that the superstep's
  one fused aggregate — L1 delta plus the next dangling mass —
  computes and pins; superseded states are released, and every cache
  and state is released when a superstep fails,
- below ``LOCAL_PR_MAX_EDGES`` the whole iteration runs as one
  vectorized numpy body in the driver instead, with or without
  ``run_dir`` (the kernel commits the same per-superstep Parquet
  states), and builds the transition table itself from the input rows.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType
from pyspark.storagelevel import StorageLevel

from ..plans.checkpoint import RunManifest, content_identity, release_local_checkpoint
from ..plans.superstep import run_supersteps, scoped_conf
from .edges import canonicalize_edges, symmetrize, vertices_of
from .local_kernel import KEY, Resumable, iterate, run_kernel

# Above this vertex count the rank table is no longer broadcast.
BROADCAST_MAX_VERTICES = 2_000_000

LOCAL_PR_MAX_EDGES = 4_000_000
"""Size gate (normalized directed edge rows) below which the superstep
loop is replaced by a driver-side vectorized numpy power iteration —
the same physical-strategy principle as the CC local fast path
(graph/cc.py LOCAL_CC_MAX_EDGES) and a broadcast join: when the whole
transition table fits one executor comfortably, ~100 supersteps of pure
job-scheduling latency (~400 ms each in local mode) dwarf the O(E) work
per iteration (a 1.2M-row scatter/gather is ~5 ms in numpy). Measured
crossover (BENCH/BASELINE.md, 20-superstep walls, local[32]): local
wins 1.9x at 2M normalized rows, loses 0.61x at 8M — 4M is the
bracketed midpoint, and also the memory-safe bound for the driver
(~200 MB edge index + key table). The gate counts input rows (doubled
when undirected: canonical rows) in the kernel's own collect
(``run_kernel``'s ``max_edge_rows``), with or without ``run_dir`` (the
kernel then commits each superstep itself); the distributed loop
(``run_supersteps``, plans/superstep.py) covers everything above the
gate, and
``strategy="broadcast"/"copartition"`` forces it. Parity
between the two paths is within float64 summation-order noise (≪ the
1e-6 convergence contract) and is tested."""


@dataclass
class PageRankResult:
    ranks: DataFrame
    supersteps: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def _decode_ranks(ranks: DataFrame, vdict: DataFrame | None) -> DataFrame:
    """Map vid-space ranks back to original keys (see the re-keying block
    in ``pagerank``). Rank values are unchanged by the bijective re-keying.
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


_NO_TELEPORT = (
    "personalization carries no positive weight on any vertex of this "
    "graph — the teleport distribution would be empty"
)


def _pagerank_body(
    alpha: float,
    tol: float,
    max_iter: int,
    directed: bool,
    has_init: bool,
    has_pers: bool,
):
    """The local path's power iteration, as a ``run_kernel`` body.

    The body builds the transition table itself: it symmetrizes the
    canonical rows (undirected), divides each weight by its source's
    out-weight sum, and orders the rows by (dst, src), so the summation
    order does not depend on Spark's row order. The update rule,
    dangling-mass handling, L1 convergence test and iteration count
    are the distributed loop's, term for term:

      rank' = (1-α)/n + α·dmass/n + α·Σ_{u→v} rank(u)·p(u,v)

    Value channel 0 (``has_init``) holds prior ranks, the next one
    (``has_pers``) teleport weights; ids outside the universe are
    dropped. Priors never expand the universe, missing vertices start
    at 1/n, and the vector is renormalized to sum 1 (the fixed point is
    init-independent for α < 1), falling back to the cold start when it
    cannot. A resumed run (``g.start``) takes its stored state verbatim
    and ignores the priors, so it is bit-identical to an uninterrupted
    one. Teleport weights are summed per id and normalized; no mass on
    the graph is an error. The supersteps run on ``iterate``; each
    record carries ``dangling_mass_next``, which the distributed loop
    reads on a resume."""

    def body(g):
        nn = g.n
        if nn == 0:
            meta = {"k": 0, "conv": True, "steps": []}
            if has_pers:
                meta["error"] = _NO_TELEPORT
            return {"id": [], "rank": []}, meta
        src, dst = g.src, g.dst
        w = g.weight if g.weight is not None else np.ones(len(src))
        if not directed:
            src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
            w = np.concatenate([w, w])
        p = w / np.bincount(src, weights=w, minlength=nn)[src]
        order = np.lexsort((src, dst))
        src, dst, p = src[order], dst[order], p[order]
        dang = np.ones(nn, dtype=bool)
        dang[src] = False

        ranks = np.full(nn, 1.0 / nn, dtype=np.float64)
        if has_init and g.start is None:
            pos, val = g.values[0]
            ok = pos >= 0
            ranks[pos[ok]] = val[ok]
            s = float(ranks.sum())
            if np.isfinite(s) and s > 0:
                ranks /= s
            else:  # degenerate prior: fall back to the cold start
                ranks = np.full(nn, 1.0 / nn, dtype=np.float64)
        svec = None
        if has_pers:
            pos, val = g.values[int(has_init)]
            ok = pos >= 0
            svec = np.zeros(nn, dtype=np.float64)
            np.add.at(svec, pos[ok], val[ok])
            st = float(svec.sum())
            if not st > 0:
                return {"id": [], "rank": []}, {"error": _NO_TELEPORT}
            svec /= st

        def step(ranks):
            dmass = float(ranks[dang].sum())
            contrib = np.bincount(dst, weights=ranks[src] * p, minlength=nn)
            if svec is None:
                new = (1.0 - alpha) / nn + alpha * dmass / nn + alpha * contrib
            else:
                # nx personalization semantics (dangling = teleport):
                # x' = (1-a)·s + a·(contrib + dmass·s)
                new = ((1.0 - alpha) + alpha * dmass) * svec + alpha * contrib
            return new, {
                "delta": float(np.abs(new - ranks).sum()), "rows": nn,
                "dangling_mass_next": float(new[dang].sum()),
            }

        ranks, meta = iterate(g, ranks, step, lambda m: m["delta"] < tol, max_iter)
        return {"id": np.arange(nn), "rank": ranks}, meta

    return body


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
    supersedes any prior, and the prior is no part of the run's
    identity); on the distributed loop it costs one extra
    Spark action at superstep 0 only (the normalization + dangling-mass
    aggregate), on the local path none (the prior rides the kernel's
    input).

    ``run_dir`` makes the run resumable: each superstep's state is
    written to ``run_dir/superstep_{k:05d}/`` and recorded, with wall,
    delta and per-file lineage, in ``run_dir/manifest.json``, and the
    state it supersedes is deleted (see ``RunManifest``); a rerun
    with the same inputs and parameters resumes after the last recorded
    superstep (``max_iter`` may differ) and returns the stored state at
    once if that superstep had converged. A different input — edges,
    weights, ``vertices``, seeds — or a different key space (original
    keys on the local path, xxhash64 vids for string keys on the
    distributed path) starts fresh; with integer keys a run dir written
    by one path resumes on the other. Resume granularity is one
    superstep on both paths: the local kernel commits each superstep's
    state and record as it completes, and the manifest records a state
    only after its write returns, so no record ever points at a partial
    file. Below the gate the call stays one Spark job: the kernel keys
    the manifest over its collected rows and reads the resume state
    with pyarrow. ``run_dir`` must be a POSIX path that the driver and
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
      iteration itself; see ``_pagerank_body``. Resumable under
      ``run_dir`` like the distributed loop, one superstep at a time.
    - "broadcast": ranks broadcast to dst-partitioned edges; fastest
      while the rank table is broadcastable. Serial cost: building the
      broadcast (~|V|) every superstep.
    - "copartition": edges partitioned+sorted by src, rank table joined
      co-partitioned; per-superstep shuffle = rank table + scattered
      messages. Measured 17.0M edge-traversals/s/superstep at |V|=4M,
      |E|=96M, local[32].
    - "auto": broadcast while |V| ≤ 2M, else copartition.

    Both distributed plans shuffle at the session's
    ``spark.sql.shuffle.partitions`` width; the broadcast plan runs its
    loop with AQE off. String vertex ids are re-keyed to int64 for the
    distributed loop (see the inline block) and decoded back to the
    original keys at the end.
    """
    if strategy not in ("auto", "local", "broadcast", "copartition"):
        raise ValueError(f"unknown strategy: {strategy}")
    has_w = weighted and "weight" in edges.columns
    cols = ["src", "dst"] + (["weight"] if has_w else [])
    if directed or assume_canonical:
        base = edges.select(*cols)
    else:
        # nx.Graph semantics: duplicate rows / reversed orientations
        # collapse to one undirected edge (weights summed if weighted)
        base = canonicalize_edges(edges, weight="weight" if has_w else None).select(*cols)
    pers_clean = pers_rows = None
    if personalization is not None:
        w0 = F.col("weight").cast("double")
        pers_rows = personalization.filter(
            w0.isNotNull() & ~F.isnan(w0) & (w0 > 0)
        ).select("id", w0.alias("weight"))
        # a duplicated seed id must not duplicate teleport rows:
        # collapse by summing (a seed listed twice carries 2x mass,
        # dict-merge semantics; the local kernel sums in numpy)
        pers_clean = pers_rows.groupBy("id").agg(F.sum("weight").alias("weight"))

    # a null id is no vertex, on either path
    if vertices is not None:
        vertices = vertices.select("id").where(F.col("id").isNotNull())

    # Manifest identity of a checkpointed run. max_iter is a stopping
    # condition, not part of the computation's identity — a resume may
    # raise it and continue the same run. The content keys cover the
    # input rows with their weights (as doubles) — same topology with
    # changed weights is a DIFFERENT input — the extra `vertices`, and
    # the teleport rows of a seeded run: the local path's kernel
    # computes them over its collected rows, the distributed path with
    # content_identity, and both give the same key. "ids" names the key
    # space the stored states are written in.
    params = {"alpha": alpha, "tol": tol, "weighted": has_w, "directed": directed}
    # local fast path (see LOCAL_PR_MAX_EDGES); undirected input rows are
    # canonical, two transition rows each. The kernel's collect applies
    # the gate and returns None past it; it reads only the input rows,
    # so with assume_canonical nothing on this path shuffles. Shuffled
    # rows with a second reader ahead are pinned lazily (see run_kernel).
    gate = LOCAL_PR_MAX_EDGES // (1 if directed else 2)
    pinned = None
    if not (directed or assume_canonical) and (run_dir is not None or strategy == "auto"):
        pinned = base = base.localCheckpoint(eager=False)
    if strategy in ("local", "auto"):
        # Null, non-finite and non-positive priors are dropped here, and
        # the priors are no part of the run's identity; zero teleport
        # mass (seeded run, no seed id in the graph) is detected INSIDE
        # the kernel, and run_kernel raises the contract ValueError here.
        r0 = F.col("rank").cast("double")
        values = [init_ranks.filter(r0.isNotNull() & ~F.isnan(r0) & (r0 > 0)).select(
            "id", r0.alias("value"))] if init_ranks is not None else []
        if pers_rows is not None:
            values.append(pers_rows.select("id", F.col("weight").alias("value")))
        run = None if run_dir is None else Resumable(
            run_dir, "pagerank", {**params, "ids": "key"}, ("rank", DoubleType()),
            (None,) * (init_ranks is not None) + ("personalization",),
        )
        try:
            out = run_kernel(
                base, _pagerank_body(alpha, tol, max_iter, directed, init_ranks is not None,
                                     pers_rows is not None),
                {"id": KEY, "rank": DoubleType()}, weight=has_w, vertices=vertices,
                values=tuple(values), max_edge_rows=None if strategy == "local" else gate,
                run=run,
            )
        except BaseException:
            if pinned is not None:
                release_local_checkpoint(pinned)
            raise
        if out is not None:
            if pinned is not None:
                release_local_checkpoint(pinned)  # the result is pinned on its own
            return PageRankResult(out.rows, out.meta["k"], out.meta["conv"], out.meta["steps"])

    e = base.select("src", "dst", (F.col("weight") if has_w else F.lit(1)).alias("weight"))
    if not directed:
        e = symmetrize(e, weight=True)
    out_w = e.groupBy("src").agg(F.sum("weight").alias("_wsum"))
    norm = e.join(out_w, "src").select(
        "src", "dst", (F.col("weight") / F.col("_wsum")).alias("p")
    )

    # Int64 re-keying of string keys for the distributed loop (same
    # mechanics as graph/cc.py::_encode_keys). Every superstep probes a
    # broadcast HashedRelation and hash-aggregates on the vertex key;
    # with string keys that stage measured ~9M rows/s on the 65M-row
    # files-derived co-occurrence graph AND stopped scaling with cores
    # (UTF8String probe + allocation pressure), while int64 keys take
    # Spark's dense LongHashedRelation / long hash-agg fast paths:
    # 2.1-2.8s vs 9-14s for the same join+gather at local[32]
    # (BENCH/BASELINE.md round-3 section). xxhash64(seed 42) is
    # deterministic, so run_dir resumes re-derive the same vids; a
    # detected 64-bit collision falls back to original keys (rank values
    # under a collision would silently merge vertices). The manifest
    # records the key space ("ids"), so a run_dir written in the other
    # key space starts fresh rather than resuming inconsistently.
    from pyspark.sql.types import StringType

    # every cache below is released on the way out, also on failure
    vdict = verts = svec = norm_edges = dangling = None
    try:
        if run_dir is not None:
            w = [F.col("weight").cast("double")] if has_w else []
            params["input"] = content_identity(base, "src", "dst", *w)
            if vertices is not None:
                params["vertices"] = content_identity(vertices, "id")
            if pers_rows is not None:
                params["personalization"] = content_identity(pers_rows, "id", "weight")
        if isinstance(e.schema["src"].dataType, StringType):
            keys = vertices_of(e)
            if vertices is not None:
                keys = keys.unionByName(vertices).distinct()
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
                verts = verts.unionByName(vertices).distinct()
        verts = verts.persist(StorageLevel.MEMORY_AND_DISK)
        # teleport vector for personalized runs: |V| rows of (id, _s), s
        # normalized over the vertices actually in the graph. Built once,
        # persisted (initial state + resume + warm start all join it); the
        # per-superstep update reads _s from the STATE, never this table.
        # The normalizing mass and the vertex count come out of ONE fused
        # aggregate over the joined table (a seeded run used to pay a
        # separate Spark action for each).
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
                raise ValueError(_NO_TELEPORT)
            if n > 0:
                svec = raw_s.select(
                    "id", (F.col("_w") / F.lit(tot)).alias("_s")
                ).persist(StorageLevel.MEMORY_AND_DISK)
        else:
            n = verts.count()
        if n == 0:
            empty = verts.select("id", F.lit(0.0).alias("rank"))
            return PageRankResult(_decode_ranks(empty, vdict), 0, True)

        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if strategy in ("auto", "local"):
            strategy = "broadcast" if n <= BROADCAST_MAX_VERTICES else "copartition"
        broadcast_ranks = strategy == "broadcast"
        # Partitioning of the persisted transition table:
        # - broadcast: scatter join is map-side, so partition by dst — the
        #   gather's map-side partial agg emits ~one row per dst and the
        #   shuffle moves ~|V| rows,
        # - copartition: partition by src (sorted) so the rank join streams
        #   the cached edge side.
        if broadcast_ranks:
            norm_edges = norm.repartition(parts, "dst")
        else:
            norm_edges = norm.repartition(parts, "src").sortWithinPartitions("src")
        norm_edges = norm_edges.persist(StorageLevel.MEMORY_AND_DISK)
        norm_edges.count()  # materialize once
        if pinned is not None:
            release_local_checkpoint(pinned)  # norm_edges now carries the edges

        dangling = verts.join(
            norm_edges.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
        ).persist(StorageLevel.MEMORY_AND_DISK)
        n_dangling = dangling.count()

        # the dangling flag rides along in the state so the per-superstep
        # agg can produce the NEXT superstep's dangling mass together with
        # the L1 delta — one Spark action per superstep, not two. Graphs
        # with no dangling vertices (every symmetrized undirected graph)
        # skip the flag entirely: dmass is identically 0 and the state
        # stays 2 columns. The teleport weight rides along the same way,
        # so the per-superstep update stays a single join + projection.
        # Both are derived state: a resumed (id, rank) state is joined to
        # them again rather than trusting stored columns.
        def with_flags(ranks: DataFrame) -> DataFrame:
            if n_dangling > 0:
                ranks = ranks.join(
                    dangling.select("id", F.lit(True).alias("_dang")), "id", "left"
                ).select("id", "rank", F.coalesce("_dang", F.lit(False)).alias("_dang"))
            return ranks.join(svec, "id") if svec is not None else ranks

        ranks = with_flags(verts.select("id", F.lit(1.0 / n).alias("rank")))
        state_cols = (
            ["id", "rank"]
            + (["_dang"] if n_dangling > 0 else [])
            + (["_s"] if svec is not None else [])
        )
        # exact: the initial state is uniform, so dangling mass = |D| / n
        dmass = n_dangling / n
        manifest = None
        if run_dir is not None:
            manifest = RunManifest.open_or_create(
                run_dir, "pagerank",
                {**params, "ids": "key" if vdict is None else "xxhash64"},
            )
        if init_ranks is not None and (manifest is None or manifest.last_complete() < 0):
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

        def step(prev: DataFrame, last: dict) -> DataFrame:
            ranks = prev.select(*state_cols)
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
            # the dangling mass of the CURRENT state, produced by the
            # previous superstep's fused aggregate (uniform-state closed
            # form, or the warm start's aggregate, at a fresh start; the
            # manifest's record on a resume) — no extra per-superstep
            # action. With a teleport vector the base is per-vertex
            # ((1-α)+α·D)·s(v), read from the _s state column — same
            # single join + projection.
            dmass = last["dangling_mass_next"]
            if svec is not None:
                base_expr = ranks["_s"] * F.lit((1.0 - alpha) + alpha * dmass)
            else:
                base_expr = F.lit((1.0 - alpha) / n + alpha * dmass / n)
            # join contrib back to the rank table (covers every vertex) and
            # carry the previous rank along — the L1 delta then needs no
            # second |V|⋈|V| join, just a single-stage agg over the
            # checkpointed result (one fewer shuffle per superstep).
            # It stays a SortMergeJoin: broadcasting contrib measured
            # 0.313 vs 0.277 s/superstep (|V|=50k, 16M directed edges,
            # local[32]) — the serial driver collect+broadcast costs more
            # than the parallel |V|-row exchange+sort it saves.
            return ranks.join(contrib, ranks.id == contrib.dst, "left").select(
                ranks.id.alias("id"),
                (base_expr + F.lit(alpha) * F.coalesce(F.col("_c"), F.lit(0.0))).alias(
                    "rank"
                ),
                F.col("rank").alias("_old"),
                *([ranks["_dang"]] if n_dangling > 0 else []),
                *([ranks["_s"]] if svec is not None else []),
            )

        def measure(new: DataFrame) -> dict:
            # ONE action: L1 delta (+ the next superstep's dangling mass
            # when the graph has dangling vertices)
            aggs = [F.sum(F.abs(F.col("rank") - F.col("_old"))).alias("_delta")]
            if n_dangling > 0:
                aggs.append(
                    F.sum(F.when(F.col("_dang"), F.col("rank")).otherwise(0.0)).alias("_dm")
                )
            row = new.agg(*aggs).collect()[0]
            dm = (row["_dm"] or 0.0) if n_dangling > 0 else 0.0
            return {"delta": row["_delta"], "rows": n, "dangling_mass_next": dm}

        # AQE re-plans every query stage; for the broadcast regime (small
        # rank table, coordination-bound supersteps) that planning overhead
        # exceeds any runtime re-optimization win (~18% per superstep
        # measured at sf0.1) — disable it for the loop only. Copartition
        # keeps the session setting: at scale AQE's skew-join and
        # partition coalescing matter there.
        # In broadcast mode only the gather output / rank-state shuffles
        # use spark.sql.shuffle.partitions (the scatter join is map-side
        # over the persisted edge partitioning). For SMALL rank tables
        # (<= 500k rows — the coordination-bound regime) right-size those
        # shuffles to ~100k rows per partition: measured 39.9s -> 30.3s at
        # sf0.1 (|V|=16k, session default 32). Larger graphs keep the
        # session setting (shrinking below the core count would idle
        # executors during the rank-state stages), and copartition always
        # keeps it: its shuffle count must match the persisted edge
        # partitioning or joins re-exchange.
        with scoped_conf(
            spark,
            n if broadcast_ranks and n <= 500_000 else None,
            {"spark.sql.adaptive.enabled": "false"} if broadcast_ranks else None,
        ):
            res = run_supersteps(
                ranks, step, measure, lambda m: m["delta"] < tol,
                max_iter=max_iter, manifest=manifest,
                resume=lambda loaded: with_flags(loaded.select("id", "rank")),
                first={"dangling_mass_next": dmass},
            )
        ranks = res.state.select("id", "rank")
        if vdict is not None:
            ranks = _decode_ranks(ranks, vdict)
            release_local_checkpoint(res.state)  # the decoded ranks are pinned
        return PageRankResult(ranks, res.supersteps, res.converged, res.metrics)
    finally:
        if pinned is not None:
            release_local_checkpoint(pinned)
        for cached in (vdict, verts, svec, dangling, norm_edges):
            if cached is not None:
                cached.unpersist()
