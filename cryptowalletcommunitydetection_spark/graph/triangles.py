"""Triangle counting via degree-ordered wedge closure (SURVEY.md §2.9 G8).

Non-iterative two-join pipeline (Suri & Vassilvitskii's MR-friendly
formulation): orient each undirected edge from the lower-(degree, id)
endpoint to the higher one, join oriented edges on the middle vertex to
form wedges, then semi-join wedges against the oriented edge set to keep
closed ones. Each triangle (a<b<c in the degree order) is produced
exactly once as wedge a→b→c closed by a→c.

The degree ordering bounds wedge fan-out by O(m^{1/2}) per vertex —
the hub-skew mitigation for this operator (a raw hub with degree d would
otherwise emit d² wedges).
Below ``LOCAL_TRI_MAX_EDGES`` the same algorithm runs as one numpy task
that returns every vertex, zero-triangle ones included.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from .edges import degrees, vertices_of
from .local_kernel import KEY, run_kernel


def _canonical(edges: DataFrame, assume_canonical: bool) -> DataFrame:
    """Canonical (src < dst, distinct, loop-free) edge set.

    ``assume_canonical`` skips the defensive least/greatest + distinct
    (one |E|-scale shuffle) when the caller guarantees the
    ``derive_edges`` output contract: src < dst, one row per unordered
    pair, no self-loops. A duplicate row passed under the flag would be
    counted as two parallel edges (wedges double)."""
    if assume_canonical:
        return edges.select("src", "dst")
    return (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"))
        .distinct()
    )


def _oriented(e: DataFrame) -> DataFrame:
    """Canonical undirected edges -> edges directed by (degree, id)
    order. Callers persist ``e`` first: it feeds the degree aggregation
    AND the orientation join (two consumers)."""
    deg = degrees(e)
    ds = deg.select(F.col("id").alias("src"), F.struct(F.col("degree"), F.col("id")).alias("_ks"))
    dd = deg.select(F.col("id").alias("dst"), F.struct(F.col("degree"), F.col("id")).alias("_kd"))
    j = e.join(ds, "src").join(dd, "dst")
    return j.select(
        F.when(F.col("_ks") < F.col("_kd"), F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(F.col("_ks") < F.col("_kd"), F.col("dst")).otherwise(F.col("src")).alias("b"),
    )


def _closed_wedges_of(d: DataFrame) -> DataFrame:
    """Closed wedges over an already-materialized oriented table.

    ``d`` is referenced THREE times (both wedge legs + the closer), and
    ``_oriented`` itself consumes its input several more — so callers
    persist the oriented table first; with a lazy expensive edge input
    (a co-occurrence derivation) the unpinned plan would re-evaluate it
    per reference (the same multi-consumption cost the sketch operators
    eliminate; exchange reuse cannot help here because the three
    consumers shuffle on three different keys: b, a, and (a, c))."""
    e1 = d.select(F.col("a"), F.col("b"))
    e2 = d.select(F.col("a").alias("b"), F.col("b").alias("c"))
    wedges = e1.join(e2, "b")
    closer = d.select(F.col("a"), F.col("b").alias("c"))
    return wedges.join(closer, ["a", "c"], "left_semi").select("a", "b", "c")


def triangle_count(
    edges: DataFrame,
    assume_canonical: bool = False,
    local: bool | None = None,
    edge_count: int | None = None,
) -> int:
    """Total number of triangles in the undirected graph.

    ``local``: physical strategy — None (default) auto-selects the
    single-task numpy kernel below ``LOCAL_TRI_MAX_EDGES`` canonical
    edges, True/False force. Results are identical (parity-tested).
    ``edge_count``: caller-supplied canonical edge count — skips the
    probe job entirely (callers that already counted the table, e.g.
    the bench harness or a rollup that ran CC first, pay no second
    action for the gate). The kernel path consumes the edge table
    exactly ONCE, so when the path is already decided (``local`` forced
    or ``edge_count`` given) nothing is persisted or probed."""
    e = _canonical(edges, assume_canonical)
    m = edge_count
    pinned = False
    if local is None and m is None:
        # the probe doubles as the chosen path's materialization: the
        # cache it fills feeds either the kernel's single scan or the
        # distributed pipeline's multi-consumption
        e = e.persist()
        pinned = True
        m = e.count()
    try:
        if local is True or (local is None and m <= LOCAL_TRI_MAX_EDGES):
            return run_kernel(e, _triangle_body(), None).meta["triangles"]
        if not pinned:
            # distributed path consumes e several times (degrees + both
            # orientation joins); lazy persist — the first job fills it
            e = e.persist()
            pinned = True
        d = _oriented(e).persist()
        try:
            return _closed_wedges_of(d).count()
        finally:
            d.unpersist()
    finally:
        if pinned:
            e.unpersist()


def triangles_per_vertex(
    edges: DataFrame,
    assume_canonical: bool = False,
    local: bool | None = None,
    edge_count: int | None = None,
) -> DataFrame:
    """DataFrame[id, triangles] — per-vertex triangle participation
    (nx.triangles semantics; vertices in no triangle get 0).

    ``local``/``edge_count``: same adaptive gate as ``triangle_count``.
    The kernel path reads the canonical table once and returns every
    vertex itself, so the table is persisted only when the probe count
    runs; the distributed path persists it for its several consumers."""
    e = _canonical(edges, assume_canonical)
    d = None
    pinned = False
    try:
        m = edge_count
        if m is None and local is None:
            e = e.persist()  # the probe fills the cache the kernel reads
            pinned = True
            m = e.count()
        if local is True or (local is None and m <= LOCAL_TRI_MAX_EDGES):
            return run_kernel(e, _triangle_body(), {"id": KEY, "triangles": LongType()}).rows
        if not pinned:
            e = e.persist()
            pinned = True
        d = _oriented(e).persist()
        tri = _closed_wedges_of(d)
        # one reference to the wedge pipeline (a 3-way unionByName
        # would re-plan/recompute it three times)
        corners = tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        counts = corners.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))
        out = (
            vertices_of(e)
            .join(counts, "id", "left")
            .select("id", F.coalesce("triangles", F.lit(0)).alias("triangles"))
        )
        # pin the result once so the caches can be released immediately
        # (same pattern as graph/cc.py:_decode_labels); the checkpoint
        # blocks are the caller's result set, LRU-evicted after use
        return out.localCheckpoint(eager=True)
    finally:
        if d is not None:
            d.unpersist()
        if pinned:
            e.unpersist()


# Size gate (canonical edge rows) below which a single vectorized task
# beats the distributed two-join pipeline: the distributed path is ~6
# stage barriers (degree agg, two orientation joins, wedge join,
# closure semi-join, corner agg) of fixed scheduling cost, while the
# kernel is one Arrow transfer + numpy sorts. MEASURED crossover on
# random graphs at local[32] (best-of-2 warm walls, local vs
# distributed): 500k edges 2.5s vs 4.3s; 2M 7.6 vs 7.1 (tied); 4M 13.1
# vs 9.4; 8M 31.6 vs 15.3 — gate at the tie. Same adaptive pattern as
# graph/pagerank.py LOCAL_PR_MAX_EDGES and graph/cc.py. The probe is one
# count over the canonical rows (skipped when ``edge_count`` is given or
# ``local`` forces the path); with ``assume_canonical`` those rows are
# the input as it stands and nothing on the kernel path shuffles.
LOCAL_TRI_MAX_EDGES = 2_000_000


def _triangle_body():
    """The local path's triangle counting, as a ``run_kernel`` body over
    the canonical edge codes: every vertex with its count (0 included),
    and the total in the meta record.

    Same algorithm as the distributed path — degree-(id) orientation,
    wedge generation, closure membership — but as numpy array passes:
    orient by (degree, code), group oriented edges by source via one
    argsort, emit each source block's out-neighbor pairs
    (np.triu_indices per block — block sizes are bounded by O(sqrt m)
    thanks to the orientation), and close wedges with a searchsorted
    membership test against the encoded edge set. Parity with the
    distributed output is exact, pinned by tests."""

    def body(g):
        import numpy as np

        n, u, v = g.n, g.src, g.dst
        deg = np.bincount(u, minlength=n) + np.bincount(v, minlength=n)
        # total order: (degree, code) — lower end becomes the wedge apex
        order_key = deg.astype(np.int64) * (n + 1) + np.arange(n, dtype=np.int64)
        ku, kv = order_key[u], order_key[v]
        a = np.where(ku < kv, u, v)
        b = np.where(ku < kv, v, u)
        # rank in the total order for pair encoding (closure edges are
        # oriented low->high in the SAME order, so encode (rank_a, rank_b))
        rank = np.empty(n, dtype=np.int64)
        rank[np.argsort(order_key)] = np.arange(n, dtype=np.int64)
        ra, rb = rank[a], rank[b]
        edge_keys = np.sort(ra * n + rb)
        # group oriented edges by (apex, neighbor rank): one lexsort
        # leaves every apex block's out-neighbors rank-sorted, so wedge
        # pairs are (lower, higher) and match the closure encoding
        o = np.lexsort((rb, ra))
        a_s, b_s, rb_s = a[o], b[o], rb[o]
        blocks, starts, counts = np.unique(
            a_s, return_index=True, return_counts=True
        )
        # fully vectorized wedge generation: process apex blocks of the
        # SAME out-degree k together — stack their neighbor slices into
        # an (nblk, k) matrix by fancy indexing and take one
        # triu_indices per k. Distinct out-degrees are few (bounded by
        # O(sqrt m) via the orientation), so the python-level loop is
        # over degrees, not vertices. Each k is processed in CHUNKS of
        # at most WEDGE_CHUNK materialized wedge keys: the edge-count
        # gate does not bound total wedges (a dense core under 2M edges
        # can hold ~1e9), so without the cap a single degree class
        # could allocate tens of GB in this one task.
        WEDGE_CHUNK = 16_000_000  # int64 keys per slab (~128 MB/array)
        tri = np.zeros(n, dtype=np.int64)
        for k in np.unique(counts):
            if k < 2:
                continue
            sel = counts == k
            s_k = starts[sel]
            blk_k = blocks[sel]
            i, j = np.triu_indices(k, 1)
            npairs = len(i)
            step = max(1, WEDGE_CHUNK // npairs)
            for lo in range(0, len(s_k), step):
                s_c = s_k[lo : lo + step]
                blk_c = blk_k[lo : lo + step]
                idx = s_c[:, None] + np.arange(k)[None, :]
                nb_m = b_s[idx]      # (chunk, k) neighbor codes
                nrb_m = rb_s[idx]    # (chunk, k) neighbor ranks (sorted)
                keys = (nrb_m[:, i] * n + nrb_m[:, j]).ravel()
                pos = np.searchsorted(edge_keys, keys)
                hit = (pos < len(edge_keys)) & (
                    edge_keys[np.minimum(pos, len(edge_keys) - 1)] == keys
                )
                if not hit.any():
                    continue
                apex = np.repeat(blk_c, npairs)[hit]
                bcol = nb_m[:, i].ravel()[hit]
                ccol = nb_m[:, j].ravel()[hit]
                tri += np.bincount(apex, minlength=n)
                tri += np.bincount(bcol, minlength=n)
                tri += np.bincount(ccol, minlength=n)
        return {"id": np.arange(n), "triangles": tri}, {"triangles": int(tri.sum()) // 3}

    return body


def transitivity(
    edges: DataFrame,
    assume_canonical: bool = False,
    local: bool | None = None,
    edge_count: int | None = None,
) -> float:
    """Global clustering coefficient (nx.transitivity semantics):
    3 * #triangles / #wedges, with #wedges = Σ_v deg(v)·(deg(v)−1)/2;
    0.0 for wedge-free graphs. One extra |V|-sized degree aggregation
    over ``triangle_count`` — the canonical table is pinned here so the
    degree scan and the triangle pipeline share one materialization of
    a (possibly expensive) derived edge input."""
    e = _canonical(edges, assume_canonical).persist()
    try:
        t = triangle_count(
            e, assume_canonical=True, local=local, edge_count=edge_count
        )
        w = (
            degrees(e)
            .agg(
                F.sum(
                    F.col("degree") * (F.col("degree") - 1) / F.lit(2.0)
                ).alias("w")
            )
            .collect()[0]["w"]
        )
        return (3.0 * t / w) if w else 0.0
    finally:
        e.unpersist()


def triangle_count_sampled(
    edges: DataFrame,
    p: float,
    seed: int = 42,
    assume_canonical: bool = False,
    local: bool | None = None,
) -> float:
    """DOULION triangle estimate (Tsourakakis et al., KDD 2009): keep
    each canonical edge independently with probability ``p``, count
    triangles exactly on the sparsified graph, scale by 1/p³. Unbiased;
    relative error concentrates as O(1/√(p³·T)), so triangle-rich
    graphs — the ones whose exact count is expensive — are exactly the
    ones the estimator is tight on.

    This is the >100M-edge scale path for G8: the wedge join's shuffle
    shrinks ~p² and the closure semi-join ~p³, and a sparsified graph
    that falls under ``LOCAL_TRI_MAX_EDGES`` additionally collapses to
    the single-task kernel (measured: 11.0M canonical edges, exact
    distributed 22.7 s → p=0.1 sampled ~2 s, see BENCH/BASELINE.md).

    The sparsifier is a DETERMINISTIC hash coin — xxhash64(src, dst,
    seed) mapped to [0, 1) — not ``rand()``: the kept edge set is a
    pure function of (edge, seed), so estimates are reproducible
    run-to-run, stable under repartitioning, and task retries cannot
    double-sample (a ``rand()`` coin re-flips on recompute).
    ``p=1.0`` keeps every edge and returns exactly
    ``triangle_count(edges)`` (parity-tested)."""
    if not (0.0 < p <= 1.0):
        raise ValueError(f"sampling probability must be in (0, 1], got {p}")
    e = _canonical(edges, assume_canonical)
    if p < 1.0:
        # int64 hash → uniform [0, 1): [-2^63, 2^63) / 2^64 + 0.5
        u = (
            F.xxhash64("src", "dst", F.lit(seed)) / F.lit(float(2**64))
        ) + F.lit(0.5)
        e = e.filter(u < F.lit(p))
    t = triangle_count(e, assume_canonical=True, local=local)
    return t / (p ** 3)


def clustering_coefficient(
    edges: DataFrame,
    assume_canonical: bool = False,
    local: bool | None = None,
    edge_count: int | None = None,
) -> DataFrame:
    """DataFrame[id, coeff] — local clustering coefficient,
    nx.clustering semantics: 2*T(v) / (deg(v)*(deg(v)-1)), 0 for
    degree < 2. Derived from the per-vertex triangle counts (adaptive
    strategy via ``local``) joined with the degree table — one extra
    |V|-sized join over ``triangles_per_vertex``, nothing new shuffles
    at edge scale."""
    e = _canonical(edges, assume_canonical)
    tri = triangles_per_vertex(
        edges, assume_canonical=assume_canonical, local=local,
        edge_count=edge_count,
    )
    deg = degrees(e)
    return (
        tri.join(deg, "id", "left")
        .select(
            "id",
            F.when(
                F.coalesce("degree", F.lit(0)) >= 2,
                2.0 * F.col("triangles")
                / (F.col("degree") * (F.col("degree") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("coeff"),
        )
    )
