"""Connected components via alternating large-star / small-star.

DataFrame-only rebuild of the reference's clustering core —
``nx.connected_components`` at services/wallet_clustering.py:15, which
materializes the whole graph in driver memory. Here the algorithm is
Kiveris et al., "Connected Components in MapReduce and Beyond" (SOCC
2014): O(log n) rounds of two join+groupBy passes, each expressible as
pure DataFrame ops, converging to star graphs rooted at each component's
minimum vertex id. Component id = min member (deterministic; the
reference's uuid4 group ids at services/wallet_clustering.py:33 are
replaced per SURVEY.md §7).

Scale notes: per round the state is at most one edge per vertex after
the first small-star, so the shuffled volume shrinks toward |V|;
convergence test is a distributed symmetric-difference count (driver
sees a scalar); every round is checkpointed to Parquet (lineage cut +
resume). One pinned distinct edge set seeds the loop, sizes every gate
and supplies the vertex universe of the final labels; from
``ENCODE_MIN_EDGES`` distinct edges on, string vertices run the loop
as int64 keys.

Below ``LOCAL_CC_MAX_EDGES`` (and for a pre-contracted graph under it)
one numpy body in the driver labels the whole vertex universe instead
(``_cc_body``), with or without ``run_dir``: under a run manifest it
records its final labels as one superstep.
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.checkpoint import RunManifest, release_local_checkpoint
from ..plans.superstep import scoped_conf, unchanged
from .local_kernel import KEY, Resumable, iterate, run_kernel


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every neighbor v > u to min(N(u) ∪ {u})."""
    sym = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionByName(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
    mins = mins.select("u", F.least(F.col("_mn"), F.col("u")).alias("m"))
    out = (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )
    # no distinct here: the small-star half re-orients and distincts
    # first thing, so a dedup at this point would just add a shuffle
    return out


def _round_step(prev: DataFrame):
    """One large-star + small-star round with intra-round pinning.

    Small-star orients edges (larger, smaller) and connects u and all
    its smaller neighbors to the minimum neighbor, output oriented
    src > dst. No input distinct: min() is duplicate-insensitive and
    duplicate (v, m) rows collapse in the output distinct.

    Small-star consumes its input three times (the nbrs join's probe
    side, and the mins agg feeding both that join's build side and the
    selfs branch). Compiled naively, each branch re-instantiates the whole
    large-star subtree — the pushed-down ``v > u`` filter makes the sym
    subplans non-canonical, so ReuseExchange never fires and round 1 at
    11M edges re-shuffles ~2|E| rows three times over. Pinning the
    large-star output (and the |V|-row mins table) with lazy
    localCheckpoints makes every consumer share ONE materialization,
    computed by the same action that materializes the round.

    Returns ``(stepped, pins)``; the caller releases ``pins`` after the
    round's materializing action.
    """
    large = _large_star(prev).localCheckpoint(eager=False)
    # large-star output is already oriented src > dst (v > u >= m), so
    # greatest/least are no-ops kept only for shape parity with
    # small-star's contract on arbitrary inputs
    oriented = large.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    mins = (
        oriented.groupBy("u").agg(F.min("v").alias("m")).localCheckpoint(eager=False)
    )
    nbrs = (
        oriented.join(mins, "u")
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )
    selfs = mins.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    stepped = (
        nbrs.unionByName(selfs)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return stepped, [large, mins]


PRE_CONTRACT_MIN_EDGES = 1_000_000
"""Distinct-edge count above which the distributed path runs hash-to-min
pre-contraction rounds before the star loop (``pre_contract=None``
auto). Below it the star loop alone is cheaper than the contraction's
fixed costs; the bound coincides with LOCAL_CC_MAX_EDGES, so on the
default auto path every distributed run is also a pre-contracted run."""

PRE_CONTRACT_MAX_ROUNDS = 16
"""Hash-to-min round cap before contraction. Each round moves only the
|V|-row label table against the cached pre-partitioned symmetric edge
table (the PageRank superstep shape — measured 14.6M edges/s vs the
star rounds' 108k/s at 11M edges, BENCH/distributed_r04.json): ~1.1s
per round at 11M edges, while each round contracts minima one more hop
out — anchors 137k @ 3 rounds -> 3.5k @ 6 on the 11M ER bench graph,
contracted edges 8.3M -> 263k. The loop stops early when label churn
stalls (see ``_min_label_contract``); the cap only bounds
pathological long-chain graphs, whose closure the star loop finishes
in O(log n) rounds regardless."""


def _min_label_contract(
    edges: DataFrame, max_rounds: int = PRE_CONTRACT_MAX_ROUNDS
):
    """Hash-to-min pre-contraction (the two-phase trick of Kiveris et
    al. §3: alternate cheap label propagation with graph contraction).

    Iterates ``l(v) <- min(l(v), min_{u∈N(v)} l(u))`` over the
    SYMMETRIC edge table cached pre-partitioned+pre-sorted on the join
    key — only the |V|-row label table shuffles per round — until
    label churn stalls (changed labels <= max(1024, |V|/256); an extra
    round costs ~1/round of the cheap shape while shrinking the star
    loop's input by ~an average-degree factor) or ``max_rounds``. Then
    the edge set is contracted through the labels: ``(l(src),
    l(dst))``, deduped, self-loops dropped. Anchors are real vertex
    ids with ``anchor(v) <= v`` and the component's min vertex
    anchoring itself, so min-anchor == min-member and the star loop's
    root ids stay exact after composition.

    Returns ``(anchors, contracted)``: anchors =
    DataFrame[src, l] covering every vertex of the non-loop edge set
    (an eager localCheckpoint the CALLER must release once the final
    labels are materialized); contracted = eager-checkpointed distinct
    non-loop anchor-space edges."""
    sym = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition("dst")
        .sortWithinPartitions("dst")
        .persist()
    )
    # round 1 rides the by-dst cache partitioning: min in-neighbor per
    # dst == min neighbor per vertex on a symmetric table
    labels = (
        sym.groupBy(F.col("dst").alias("src"))
        .agg(F.min("src").alias("_m"))
        .select("src", F.least("src", "_m").alias("l"))
        .localCheckpoint(eager=True)
    )
    try:
        n_v = labels.count()  # scan of the fresh checkpoint, no shuffle
        stall = max(1024, n_v // 256)
        # systolic frontier (the hyperball discipline): labels only
        # ever DECREASE, so a label needs re-sending to neighbors only
        # in the round after it changed — round 2 sends everything
        # (round 1's labels are all fresh), later rounds' message side
        # shrinks with the churn, which is what lets the loop run to a
        # near-fixpoint instead of stopping at 3 fixed rounds
        delta = labels
        for _ in range(max_rounds - 1):
            lab = delta.select(F.col("src").alias("_d"), F.col("l"))
            m = (
                sym.join(lab, sym.dst == F.col("_d"))
                .groupBy("src")
                .agg(F.min("l").alias("_ml"))
            )
            # the checkpoint carries the previous label as _old so the
            # churn probe and next frontier are scans of the block just
            # materialized; consumers project (src, l) off it lazily
            new = (
                labels.select("src", "l").join(m, "src", "left")
                .select(
                    "src",
                    F.col("l").alias("_old"),
                    F.least("l", F.coalesce("_ml", F.col("l"))).alias("l"),
                )
                .localCheckpoint(eager=True)
            )
            changed = new.filter(F.col("_old") != F.col("l")).count()
            release_local_checkpoint(labels)
            labels = new
            delta = new.filter(F.col("_old") != F.col("l"))
            if changed <= stall:
                break
        a_src = labels.select(F.col("src"), F.col("l").alias("_ls"))
        a_dst = labels.select(
            F.col("src").alias("dst"), F.col("l").alias("_ld")
        )
        contracted = (
            edges.select("src", "dst")
            .join(a_src, "src")
            .join(a_dst, "dst")
            .select(F.col("_ls").alias("src"), F.col("_ld").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        return labels, contracted
    finally:
        sym.unpersist()


def _edge_sketch(df: DataFrame):
    """(rows, xxhash64-sum) of a distinct edge set — one agg job.

    Equal sketches ⟹ equal sets except with ~2^-64 collision
    probability; used as the cheap per-round fixpoint probe, always
    confirmed by an exact one-sided except before declaring convergence."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor: order-independent and overflow-free under ANSI mode
        # (a sum of xxhash64 longs overflows); distinct sets, so no
        # pair-cancellation concern
        F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
    ).collect()[0]
    return r["n"], r["h"]


LOCAL_CC_MAX_EDGES = 1_000_000
"""Size gate (distinct non-loop edges) below which the star loop is
replaced by a driver-side vectorized hook-and-jump pass over the edge
set — the same physical-strategy principle as a broadcast join: when
one side of the problem fits the driver comfortably, a local
algorithm beats 5 × O(log n) distributed rounds of pure scheduling
latency. The kernel's collect counts the distinct rows, self-loops included
(the input rows under ``assume_canonical``, so nothing on the path
shuffles; ``run_kernel``'s ``max_edge_rows``), as it does for
a pre-contracted graph, with or without ``run_dir``. Above the gate the
alternating-star loop runs unchanged; ``local=False`` forces it
(equality between the two paths is exact and tested)."""

ENCODE_MIN_EDGES = 4_000_000
"""Distinct-edge count from which the distributed path re-keys string
vertices to int64 (xxhash64, seed 42) for the iterative loop. Below it
the re-keying's fixed costs (dictionary build + collision check + label
decode joins) exceed the per-round savings — measured at sf0.1 (44k
edges) they are ~2.4s of an ~8s run; from it on every round shuffles
fixed-width longs instead of variable-length keys. The probe is the
distinct-edge count the pinned edge universe already yields."""


_CC_FIELDS = {"id": KEY, "component": KEY}


def _cc_body():
    """The local path's components, as a ``run_kernel`` body: labels
    start as the vertex codes; each round hooks every root onto the
    smallest root among its tree's neighbours and pointer-jumps every
    label to its root, until no label moves. Labels only decrease, so
    the fixpoint is each component's minimum code — in key order, the
    star loop's min-member root. Every tree merges with a neighbour
    tree each round: O(log n) vectorized rounds, no per-row Python.
    Self-loop-only vertices and ``vertices`` markers are labelled too.
    The whole solve is one superstep of ``iterate`` (``delta`` 0: the
    labels are final), so a run manifest holds the final labels."""

    def body(g):
        u, v = g.src, g.dst

        def solve(lab):
            rounds = 0
            while True:
                m = np.minimum(lab[u], lab[v])
                new = lab.copy()
                np.minimum.at(new, lab[u], m)
                np.minimum.at(new, lab[v], m)
                while True:
                    nxt = new[new]
                    if np.array_equal(nxt, new):
                        break
                    new = nxt
                rounds += 1
                if np.array_equal(new, lab):
                    return lab, {"delta": 0, "rows": g.n, "rounds": rounds}
                lab = new

        lab, meta = iterate(g, np.arange(g.n, dtype=np.int64), solve, unchanged, 1)
        meta["edges"] = int(np.count_nonzero(u != v))
        return {"id": np.arange(g.n), "component": lab}, meta

    return body


def _encode_keys(edges: DataFrame, vertices: DataFrame | None):
    """xxhash64(seed 42) re-keying dictionary over every vertex key.

    Returns (vdict[vid, key], vertices_encoded); vdict is None when a
    64-bit collision was detected among the keys (labels in vid space
    would silently merge distinct vertices — the caller keeps the
    original keys; the algorithm is key-type agnostic)."""
    keys = edges.select(F.col("src").alias("key")).unionByName(
        edges.select(F.col("dst").alias("key"))
    )
    if vertices is not None:
        keys = keys.unionByName(
            vertices.select(F.col("id").alias("key")).filter(F.col("id").isNotNull())
        )
    vdict = (
        keys.distinct()
        .select(F.xxhash64(F.col("key"), F.lit(42)).alias("vid"), "key")
        .persist()
    )
    chk = vdict.agg(
        F.count(F.lit(1)).alias("nk"), F.countDistinct("vid").alias("nv")
    ).collect()[0]
    if chk["nk"] != chk["nv"]:
        vdict.unpersist()
        return None, vertices
    verts_enc = None
    if vertices is not None:
        verts_enc = vertices.filter(F.col("id").isNotNull()).select(
            F.xxhash64(F.col("id"), F.lit(42)).alias("id")
        )
    return vdict, verts_enc


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 50,
    run_dir: str | None = None,
    strict: bool = True,
    local: bool | None = None,
    assume_canonical: bool = False,
    pre_contract: bool | None = None,
) -> DataFrame:
    """DataFrame[id, component] with component = min member id.

    ``pre_contract`` (distributed path only; ``None`` = auto above
    ``PRE_CONTRACT_MIN_EDGES``): run adaptive
    hash-to-min label rounds against the cached symmetric edge table —
    only the |V|-row label table shuffles per round — then contract the
    edge set through the labels before the star loop, and compose the
    star roots back through the anchors afterwards. Labels are exactly
    equal either way (min-anchor == min-member; parity-tested); the
    star loop then closes a graph typically orders of magnitude
    smaller. Skipped when the distributed path runs under ``run_dir``
    (the resume manifest's per-round state is star-round state; a
    resumable pre-phase would change its semantics).

    ``assume_canonical``: the caller guarantees the input satisfies the
    ``derive_edges`` output contract (src < dst, one row per unordered
    pair, no self-loops — hence already distinct), so the defensive
    ``.distinct()`` that seeds the universe/probe skips its |E|-scale
    exchange; the single materializing action it funds is kept. CC's
    labels depend only on the distinct edge set, so this flag cannot
    change results — only an input that VIOLATES the contract would
    (duplicates would corrupt the fixpoint sketch counts).

    ``edges`` needs columns src, dst (any orderable type; self-loops and
    duplicate orientations tolerated). ``vertices`` (DataFrame[id])
    optionally adds isolated vertices (own singleton components).
    ``run_dir`` enables a Parquet state per superstep + manifest (see
    ``RunManifest``); a rerun with the same run_dir resumes from the last
    complete superstep. The local kernel's one superstep is the final
    labels, the star loop's are its rounds; the two key their manifests
    differently, so a run dir written by one path starts fresh on the
    other.

    The deduped edge set is materialized in original key space — the
    same single action that seeds the fixpoint probe — and its exact
    count picks the key space of the distributed loop: from
    ``ENCODE_MIN_EDGES`` distinct edges on, string vertices are re-keyed
    to int64 (xxhash64, seed 42), so every per-round shuffle moves and
    compares fixed-width longs, and the final labels are remapped so
    ``component`` is the min ORIGINAL key of each component (exact
    equality with the original-key result; a 64-bit collision, p ~2^-64,
    is detected and falls back to original keys).

    For small graphs (<= 3.2M distinct edges) the loop also right-sizes
    ``spark.sql.shuffle.partitions`` to ~100k edges/partition (floor 8,
    never above the session setting, restored afterwards) — the same
    measured treatment as the PageRank broadcast regime.

    ``local`` picks the physical strategy below ``LOCAL_CC_MAX_EDGES``
    distinct edges: ``None`` (default) auto-selects the driver-side
    numpy fast path, with or without ``run_dir``; ``False``
    forces the distributed star loop; ``True`` forces the local kernel
    regardless of size (expert). Both produce bitwise-identical labels.
    """
    from pyspark.sql.types import StringType

    raw = (
        edges.select("src", "dst")
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    )
    dedup = raw if assume_canonical else raw.distinct()
    # ONE materialization of the distinct edge set INCLUDING self-loops.
    # It serves four roles off a single action: the fixpoint-probe seed
    # (self-loops filtered, a narrow op over the checkpoint), the size
    # probe of every gate below, the vertex universe for the final label
    # join (no re-scan of the upstream pipeline — for a derived edge
    # table that re-scan was the single largest cost of the run), and
    # the manifest input identity (self-loop-only vertices are part of
    # the OUTPUT as singletons, so they belong in the identity; the
    # previous self-loop-free hash let two inputs differing only in
    # such a vertex share a resume state). Shuffled rows are pinned in
    # it before a speculative kernel call already (see run_kernel).
    pin = local is None and not assume_canonical
    universe = dedup.localCheckpoint(eager=False) if pin else dedup
    if local is not False:
        # small-graph fast path: one numpy body instead of ~5 distributed
        # rounds (measured crossover in BENCH/)
        try:
            kernel = run_kernel(
                universe, _cc_body(), _CC_FIELDS, vertices=vertices,
                max_edge_rows=None if local else LOCAL_CC_MAX_EDGES,
                run=None if run_dir is None else Resumable(run_dir, "cc", {}, ("component", KEY)),
            )
        except BaseException:
            if pin:
                release_local_checkpoint(universe)
            raise
        if kernel is not None:
            if pin:
                release_local_checkpoint(universe)
            out = kernel.rows
            out._cwcd_n_edges = kernel.meta["edges"]
            return out
    if not pin:
        universe = dedup.localCheckpoint(eager=False)
    non_loop = F.col("src") != F.col("dst")
    h42 = lambda c: F.xxhash64(F.col(c), F.lit(42))  # noqa: E731
    r = universe.agg(
        F.count(F.lit(1)).alias("n_all"),
        F.bit_xor(F.xxhash64("src", "dst")).alias("h_all"),
        F.count(F.when(non_loop, 1)).alias("n_e"),
        F.bit_xor(F.when(non_loop, F.xxhash64("src", "dst"))).alias("h_e"),
        # seed sketch in re-keyed long space, in case re-keying triggers
        # (same single action; picks the space after seeing n_e)
        F.bit_xor(
            F.when(non_loop, F.xxhash64(h42("src"), h42("dst")))
        ).alias("h_enc"),
    ).collect()[0]
    input_sketch = (r["n_all"], r["h_all"])
    n_edges = r["n_e"]
    vdict = None
    is_string = isinstance(raw.schema["src"].dataType, StringType)
    if is_string and n_edges >= ENCODE_MIN_EDGES:
        vdict, vertices = _encode_keys(universe, vertices)
    if vdict is not None:
        # injective on vertices (collision-checked) => the mapped
        # edge set is still distinct; no second dedup shuffle, and
        # the loop/labels run entirely in long space off the same
        # pinned universe
        edge_universe = universe.select(
            h42("src").alias("src"), h42("dst").alias("dst")
        )
        prev = edge_universe.filter(non_loop)
        prev_sketch = (n_edges, r["h_enc"])
    else:
        edge_universe = universe
        prev = universe.filter(non_loop)
        prev_sketch = (n_edges, r["h_e"])

    manifest = None
    start_k = 0
    if run_dir is not None:
        # the manifest keys on the INPUT identity too — resuming a run_dir
        # against a different edge table must start fresh, not serve the
        # previous input's converged stars
        manifest = RunManifest.open_or_create(
            run_dir, "cc",
            {
                "input_rows": input_sketch[0],
                "input_hash": input_sketch[1],
                "encoded": vdict is not None,
            },
        )
        last = manifest.last_complete()
        if last >= 0:
            loaded = manifest.load_state(spark, last)
            start_k = last + 1
            done = [s for s in manifest.supersteps if s["k"] == last and s.get("delta") == 0]
            if done:
                out = _finish_labels(
                    spark, loaded, edge_universe, vertices, vdict, universe
                )
                out._cwcd_n_edges = n_edges
                return out
            prev = loaded
            prev_sketch = _edge_sketch(prev)

    # hash-to-min pre-contraction (see the docstring): runs without
    # run_dir only — the universe checkpoint backs the final vertex
    # derivation and the manifest's star-round resume semantics stay
    # untouched
    anchors = None
    pinned_seed = None  # the contracted graph; the loop releases it
    if manifest is None and (
        pre_contract is True
        or (pre_contract is None and n_edges > PRE_CONTRACT_MIN_EDGES)
    ):
        anchors, contracted = _min_label_contract(prev)
        # the contracted graph usually fits the local kernel gate
        # (3.5k anchors / 263k contracted edges from 11M on the ER
        # bench): one kernel call closes it instead of ~5 distributed star
        # rounds — the same adaptive principle as the top-level
        # LOCAL_CC_MAX_EDGES gate, composed through the anchors
        try:
            kernel = run_kernel(
                contracted, _cc_body(), _CC_FIELDS, max_edge_rows=LOCAL_CC_MAX_EDGES
            )
        except BaseException:
            release_local_checkpoint(contracted)
            release_local_checkpoint(anchors)
            raise
        if kernel is not None:
            try:
                stars = kernel.rows.where(F.col("id") != F.col("component")).select(
                    F.col("id").alias("src"), F.col("component").alias("dst")
                )
                out = _finish_labels(
                    spark, stars, edge_universe, vertices, vdict, universe, anchors,
                )
            finally:
                release_local_checkpoint(contracted)
                release_local_checkpoint(anchors)
            out._cwcd_n_edges = n_edges
            return out
        prev = pinned_seed = contracted
        prev_sketch = _edge_sketch(contracted)

    # small-graph regime: right-size the per-round shuffles for the
    # loop. AQE stays ON for CC (unlike PageRank's broadcast loop):
    # measured at sf0.1, AQE off is 2-10x worse here (the per-round
    # joins need its runtime broadcast conversion), and at scale its
    # skew handling matters.
    try:
        with scoped_conf(spark, n_edges if n_edges <= 3_200_000 else None):
            out = _cc_loop(
                spark, prev, prev_sketch, edge_universe, vertices, vdict,
                manifest, start_k, max_iter, strict, pinned_seed, universe,
                anchors,
            )
    finally:
        if anchors is not None:
            # out is eagerly pinned by _finish_labels
            release_local_checkpoint(anchors)
    # private hint for composing operators (e.g. the community rollup):
    # the exact distinct-edge count already paid for, so downstream
    # right-sizing needs no extra action
    out._cwcd_n_edges = n_edges
    return out


def _cc_loop(
    spark: SparkSession,
    prev: DataFrame,
    prev_sketch,
    edge_universe: DataFrame,
    vertices: DataFrame | None,
    vdict: DataFrame | None,
    manifest: RunManifest | None,
    start_k: int,
    max_iter: int,
    strict: bool,
    pinned_seed: DataFrame | None,
    universe: DataFrame,
    anchors: DataFrame | None = None,
) -> DataFrame:
    delta = None
    seed = prev
    for k in range(start_k, max_iter):
        t0 = time.monotonic()
        stepped, pins = _round_step(prev)
        if manifest is not None:
            stepped = manifest.checkpoint(stepped, k)
        else:
            stepped = stepped.localCheckpoint(eager=False)
        sketch = _edge_sketch(stepped)  # materializes the checkpoint
        for p in pins:  # superseded the moment stepped is materialized
            release_local_checkpoint(p)
        rows = sketch[0]
        if sketch == prev_sketch:
            # probable fixpoint — confirm exactly (equal counts + empty
            # one-sided except ⟺ equal distinct sets)
            delta = stepped.exceptAll(prev).count()
        else:
            # changed round: the exact symmetric difference is not
            # computed (it would double the per-round work); record None
            # ("unchecked") rather than a fake count — resume only needs
            # delta == 0
            delta = None
        prev_sketch = sketch
        if manifest is not None:
            manifest.record_superstep(
                {"k": k, "wall_ms": (time.monotonic() - t0) * 1e3, "delta": delta, "rows": rows}
            )
        # release the superseded round's pinned state (the new round is
        # materialized and no longer depends on it). The contracted
        # seed is released exactly once here; an uncontracted round-0
        # prev is a narrow op over the universe checkpoint (nothing of
        # its own to release — the universe stays pinned through the
        # run, it backs the final vertex derivation).
        if prev is pinned_seed and pinned_seed is not None:
            release_local_checkpoint(pinned_seed)
        elif manifest is None and k > start_k:
            release_local_checkpoint(prev)
        prev = stepped
        if delta == 0:
            break

    if delta != 0 and strict:
        # the star set did not reach its fixpoint — labels derived from
        # it could be duplicated/inconsistent; never return them
        # silently. strict=False opts into the best-effort labels (e.g.
        # a deliberately capped partial run that will be resumed later
        # via run_dir).
        raise RuntimeError(
            f"connected_components did not converge within max_iter "
            f"({max_iter}); raise max_iter (resume supported via run_dir) "
            f"or pass strict=False for best-effort labels"
        )
    out = _finish_labels(
        spark, prev, edge_universe, vertices, vdict, universe, anchors
    )
    if manifest is None and prev is not seed:
        # out is materialized (_finish_labels pins eagerly) — the final
        # round's localCheckpoint can be released too
        release_local_checkpoint(prev)
    return out


def _finish_labels(
    spark: SparkSession,
    stars: DataFrame,
    edge_universe: DataFrame,
    vertices: DataFrame | None,
    vdict: DataFrame | None,
    universe: DataFrame,
    anchors: DataFrame | None = None,
) -> DataFrame:
    """Derive + decode the labels, pin the result eagerly — while any
    loop-scoped right-sized shuffle width is still in force — and
    release the universe checkpoint."""
    out = _decode_labels(
        _labels_from_stars(spark, stars, edge_universe, vertices, anchors),
        vdict,
    )
    if vdict is None:
        # the encoded path already pinned inside _decode_labels
        out = out.localCheckpoint(eager=True)
    release_local_checkpoint(universe)
    return out


def _labels_from_stars(
    spark: SparkSession,
    stars: DataFrame,
    original_edges: DataFrame,
    vertices: DataFrame | None,
    anchors: DataFrame | None = None,
) -> DataFrame:
    """Star edges (v, root) -> (id, component); roots + isolated = self.

    With ``anchors`` (the pre-contraction assignment, vertex -> anchor)
    the stars live in ANCHOR space: each vertex's component is its
    anchor's star root (or the anchor itself when the anchor is a
    root). Anchor ids are real vertex ids with min-anchor == min-member,
    so the composed roots equal the uncontracted run's exactly."""
    members = stars.select(F.col("src").alias("id"), F.col("dst").alias("component"))
    if anchors is not None:
        members = (
            anchors.join(members, anchors.l == members.id, "left")
            .select(
                anchors.src.alias("id"),
                F.coalesce("component", F.col("l")).alias("component"),
            )
            .filter(F.col("id") != F.col("component"))
        )
    all_vertices = (
        original_edges.select(F.col("src").alias("id"))
        .unionByName(original_edges.select(F.col("dst").alias("id")))
    )
    if vertices is not None:
        all_vertices = all_vertices.unionByName(vertices.select("id"))
    all_vertices = all_vertices.distinct()
    labeled = all_vertices.join(members, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )
    return labeled


def _decode_labels(labels: DataFrame, vdict: DataFrame | None) -> DataFrame:
    """Map vid-space labels back to original keys. The component label
    becomes the min ORIGINAL key over the component's members — bitwise
    equal to what the unencoded run produces (component membership sets
    are identical; only the representative changes under re-keying)."""
    if vdict is None:
        return labels
    # j feeds both the group-min and the final join — persist so the
    # labels⋈dict join runs once, released below with the dict
    j = labels.join(vdict, labels.id == vdict.vid).select("key", "component").persist()
    comp_min = j.groupBy("component").agg(F.min("key").alias("_ck"))
    out = j.join(comp_min, "component").select(
        F.col("key").alias("id"), F.col("_ck").alias("component")
    )
    # pin the decoded result once so the persisted dict can be released
    # immediately (no cached-plan accumulation across calls); the
    # checkpoint blocks are the caller's result set and fall out of the
    # executor store via LRU after consumption
    out = out.localCheckpoint(eager=True)
    j.unpersist()
    vdict.unpersist()
    return out
