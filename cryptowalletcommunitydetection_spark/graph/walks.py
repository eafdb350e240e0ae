"""Random-walk corpus generation (DeepWalk-style) over the edge table.

Training-data-pipeline extension of the link-graph engine (SURVEY.md
§2.9/§2.10): the reference clusters wallets from the static graph
(`/root/reference/services/wallet_clustering.py`); the modern
large-scale successor to that workflow trains vertex embeddings
(DeepWalk / node2vec) from random-walk corpora and clusters in the
embedding space. This module produces that corpus — W walks of length L
per vertex — as a DataFrame, ready to feed a Word2Vec-style trainer or
the engine's own embedding-similarity operators
(operators/similarity.py).

Scale design — the three decisions that make this 100-TB-shaped:

1. **Rank-indexed adjacency, not neighbor arrays.** A hub with 10^7
   neighbors would make a ``collect_list`` adjacency row gigabytes
   wide. Instead the adjacency stays one ROW per directed edge with a
   dense per-source ``rank`` column (one window over the symmetrized
   edge table, computed once), plus a |V|-row degree table. Choosing a
   neighbor is an equi-join on ``(src, rank)`` that touches exactly one
   adjacency row per walk per step — never a fan-out over the full
   neighbor list.
2. **Hash-derived choices, not RNG state.** The step-t choice for a
   walk is ``xxhash64(walk_id, t, seed) mod degree(cur)`` — a pure
   column expression. No RNG state rides the shuffle, every step is
   deterministically replayable (same seed → identical corpus on any
   partitioning — the same idempotence contract the supersteps of
   graph/pagerank.py keep for resume), and the "randomness" is as good
   as the hash (xxhash64 avalanche).
3. **Hub skew self-mitigates.** The per-step adjacency join key is
   ``(cur, choice_rank)``; the many walks sitting on a hub at step t
   hash to *different* ranks, so they spread across the hub's edge rows
   instead of colliding on one key. The degree join does collide on the
   hub id, but that side is a |V|-row table of two columns — broadcast
   or AQE-handled.

Each step is ONE shuffle join of the constant-width walk frontier
(|starts|·num_walks rows) against the adjacency — the fetched row
carries the next hop's degree (``dst_degree``), so no per-step degree
lookup exists — O(L) supersteps total, the same iterative-join shape
as PageRank/CC/LPA. Step outputs accumulate as (walk_id, step, vertex)
rows and are assembled into sequences by one final group, so the
frontier never carries an O(t) prefix array through the exchanges.
Every frontier is an eager local checkpoint, released once the output
is pinned: the final assembly references all L step tables, and
unpinned lazy frontiers would re-run the whole join chain per step
table (O(L²) recompute).

Below the local gates (``LOCAL_WALK_MAX_*``) the corpus is instead ONE
``run_kernel`` call (graph/local_kernel.py, the Arrow boundary every
small-graph kernel shares): its driver-side body derives the walkers from their
starts, hashes their walk ids with functions/xxh64.py and replays every
step as numpy gathers, byte-identical to the distributed loop. The
module's only Python task of its own is the alias-table build.

Walks on the symmetrized undirected graph never hit a dead end (every
vertex that appears in an edge has degree >= 1 in both directions), so
all sequences have exactly ``walk_length`` vertices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..plans.checkpoint import release_local_checkpoint
from .edges import canonicalize_edges, degrees, symmetrize
from .local_kernel import KEY, KEYS, run_kernel

_COIN_DENOM = 1 << 53
"""Hash-coin resolution: xxhash64 folded into [0, 1) at double
precision (2^53 distinguishable values — the full double mantissa)."""


def _n2v_hash(transition: str, walk_id, t: int, att_col, seed: int,
              channel: str | None = None):
    """node2vec per-(step, attempt[, channel]) hash as a column.

    xxhash64 mode: ``xxhash64(walk_id, t, att, seed[, channel])`` — the
    production projection (kernel-replayable). md5_52 mode: first 13
    hex chars of ``md5(walk_id|t|att|seed[|channel])`` — the
    DuckDB-recomputable oracle twin (channelled like the 'coin'
    convention; coins divide by 2^52 instead of 2^53)."""
    if transition == "xxhash64":
        args = [walk_id, F.lit(t), att_col, F.lit(seed)]
        if channel is not None:
            args.append(F.lit(channel))
        return F.xxhash64(*args)
    parts = [
        walk_id, F.lit(t).cast("string"), att_col.cast("string"),
        F.lit(seed).cast("string"),
    ]
    if channel is not None:
        parts.append(F.lit(channel))
    return F.conv(
        F.substring(F.md5(F.concat_ws("|", *parts)), 1, 13), 16, 10
    ).cast("long")


def _transition_hash(transition: str, walk_id, t: int, seed: int):
    """The step-t transition hash as a column expression.

    - ``"xxhash64"`` (default): ``xxhash64(walk_id, t, seed)`` — the
      production transition (JVM hash, replayable by the numpy chain in
      functions/xxh64.py).
    - ``"md5_52"``: first 13 hex chars of ``md5(walk_id|t|seed)`` as a
      52-bit integer — the ORACLE-TWIN transition: DuckDB recomputes it
      bit for bit (the same md5_52 convention as operators/dedup.py),
      so a SQL oracle can unroll the whole corpus value for value. Same
      frontier/join/assembly plan either way; only this projection
      differs.
    """
    if transition == "xxhash64":
        return F.xxhash64(walk_id, F.lit(t), F.lit(seed))
    return F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", walk_id, F.lit(t).cast("string"),
                    F.lit(seed).cast("string"),
                )
            ),
            1, 13,
        ),
        16, 10,
    ).cast("long")

BROADCAST_FRONTIER_MAX_ROWS = 1_000_000
"""Auto-strategy gate: frontiers (|starts|·num_walks rows, three
narrow columns) at or below this broadcast per step — each superstep is
then one shuffle-free scan stage over the cached adjacency, with the
frontier as the hash-build side everywhere (~60 MB broadcast at the
gate). Above it, the shuffled-hash path keeps every structure
partitioned. Measured at sf0.1 (15k walks, L=10, 587k canonical
edges, warm): broadcast 10.8s vs shuffle 13.2s — ~20% apart; local
walls are bound by the L serial stage barriers, not the exchange —
so the gate is primarily a memory-safety bound (a frontier above it
cannot be a broadcast build side), with broadcast a modest local
win below it."""

LOCAL_WALK_MAX_STEP_ROWS = 4_000_000
"""Adaptive local-kernel gate on emitted corpus cells (walkers x
walk_length): below this AND the adjacency gate the whole corpus is
generated by ONE driver-side kernel instead of L serial join barriers. The
distributed loop's wall at small scale is ~L fixed stage barriers (the
sf0.1 headline measured 10.2s for 16k walkers x L=10 — barrier-bound,
not data-bound); the kernel replaces them with one body that hashes
and replays every walk. MEASURED crossover
(bench_scripts/walks_crossover.py, fresh JVM per level, min of 2,
full-corpus L=10 on uniform random string-keyed graphs): 1M cells
local 3.7s vs best-distributed 9.8s; 4M cells 14.5 vs 28.0; 8M cells
46.6 vs 25.2; 16M cells 58.1 vs 19.4 — gate at the last winning
level. Same adaptive pattern as graph/pagerank.py
LOCAL_PR_MAX_EDGES."""

LOCAL_WALK_MAX_ADJ_ROWS = 8_000_000
"""Second local-kernel gate: directed adjacency rows (2x canonical
edges) that must fit the driver alongside the walk state — it binds on
SEED-SET corpora (few walkers, big graph), where the cells gate alone
would send an arbitrarily large adjacency into the driver.
8M rows of (src, dst, rank) is ~200 MB as numpy int64/object arrays
and ~8-10s of Arrow conversion at the measured
~1.2s/M-rows rate — comparable to the distributed path's one-time
adjacency build+layout, so above this bound the broadcast strategy's
cached-adjacency scan wins."""


_CORPUS_FIELDS = {"walk_id": StringType(), "start": KEY, "seq": KEYS}


def _local_corpus(
    canon: DataFrame,
    starts: DataFrame | None,
    num_walks: int,
    walk_length: int,
    weighted: bool,
    steps,
) -> DataFrame:
    """The ``strategy="local"`` corpus: ONE ``run_kernel`` call over the
    canonical edges (with their weights when ``weighted``, and with the
    start ids as a value channel when ``starts`` is given).

    A walker is a pure function of its start vertex and walk index, so
    the body derives the walkers itself: the distinct starts present in
    the graph (every vertex without ``starts``), their walk ids
    ``<start>#<index>`` (pyarrow, the ``concat_ws`` of the distributed
    frontier) and each id's base hash ``xxhash64(walk_id)``
    (functions/xxh64.py). The body symmetrizes the edges and CSR-sorts
    them by (src, dst) code. Codes are in id order, which is
    ``ranked_adjacency``'s rank order, and weighted walks build their
    alias tables with ``_alias_core`` on that same order: the tables
    are the ones the distributed strategies join against, bit for bit.
    ``steps(adj, base, cur)`` replays the walks from there and returns
    the (walkers x walk_length) code matrix."""
    def body(g):
        from types import SimpleNamespace

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from cryptowalletcommunitydetection_spark.functions.xxh64 import (
            SPARK_DEFAULT_SEED,
            hash_bytes,
        )

        src, dst = np.concatenate([g.src, g.dst]), np.concatenate([g.dst, g.src])
        order = np.lexsort((dst, src))
        src, dst = src[order], dst[order]
        deg = np.bincount(src, minlength=g.n)
        adj = SimpleNamespace(deg=deg, offsets=np.r_[0, np.cumsum(deg)], dst=dst)
        if weighted and len(src):
            w = np.ones(len(g.src)) if g.weight is None else g.weight
            adj.prob, alias_rows, _ = _alias_core(src, np.concatenate([w, w])[order])
            adj.alias = dst[alias_rows]
        if starts is not None:  # distinct, and -1 (not in the graph) dropped
            first = np.unique(g.values[0][0])
            first = first[first >= 0]
        else:
            first = np.arange(g.n)
        first = first[deg[first] > 0]
        cur = np.repeat(first, num_walks)
        walk_id = pc.binary_join_element_wise(
            pc.cast(g.ids.take(pa.array(cur)), pa.string()),
            pc.cast(pa.array(np.tile(np.arange(num_walks), len(first))), pa.string()),
            "#",
        )
        seq = (
            steps(adj, hash_bytes(walk_id, SPARK_DEFAULT_SEED), cur)
            if len(cur) else np.zeros((0, walk_length), np.int64)
        )
        return {"walk_id": walk_id, "start": cur, "seq": seq}, {"walkers": len(cur)}

    values = (starts.select("id", F.lit(None).alias("value")),) if starts is not None else ()
    return run_kernel(
        canon, body, _CORPUS_FIELDS,
        weight=weighted and "weight" in canon.columns, values=values,
    ).rows


def _coin(h):
    """A hash folded into [0, 1) (Spark: ``pmod(h, 2^53) / 2^53``)."""
    from cryptowalletcommunitydetection_spark.functions.xxh64 import pmod_u64

    return pmod_u64(h, _COIN_DENOM).astype("float64") / float(_COIN_DENOM)


def _random_walk_steps(walk_length: int, seed: int, weighted: bool):
    """The local replay of ``random_walks``' transitions.

    The step-t transition of the distributed loop is
    ``pmod(xxhash64(walk_id, t, seed), degree(cur))`` (plus a
    ``xxhash64(walk_id, t, seed, 'coin')`` coin between the alias row's
    two outcomes when weighted). The replay re-derives both from the
    walker's base hash through the Spark-bit-exact chain in
    functions/xxh64.py (the hash folds left with the running hash as
    the next seed; the seed literal's int-vs-long typing is mirrored by
    ``hash_py_int``) and takes each step as one vectorized gather, so
    the corpus is byte-identical to the distributed strategies
    (parity-pinned in test_walks)."""

    def steps(adj, base, cur):
        import numpy as np

        from cryptowalletcommunitydetection_spark.functions.xxh64 import (
            hash_bytes,
            hash_int,
            hash_py_int,
            pmod_u64,
        )

        seq = np.empty((len(cur), walk_length), dtype=np.int64)
        seq[:, 0] = cur
        for t in range(1, walk_length):
            h_t = hash_py_int(seed, hash_int(t, base))
            row = adj.offsets[cur] + pmod_u64(h_t, adj.deg[cur])
            nxt = adj.dst[row]
            if weighted:
                take = _coin(hash_bytes(b"coin", h_t)) < adj.prob[row]
                nxt = np.where(take, nxt, adj.alias[row])
            seq[:, t] = cur = nxt
        return seq

    return steps


def _node2vec_steps(
    walk_length: int, seed: int, weighted: bool,
    w_ret: float, w_stay: float, w_far: float, max_attempts: int,
):
    """The local replay of ``node2vec_walks``' rejection-sampling rounds.

    The A-attempt x 3-channel x L-step hash tensor
    ``xxhash64(walk_id, t, att, seed[, channel])`` is re-derived from
    the walker's base hash as in ``_random_walk_steps``. The membership
    test (is x a neighbor of prev) is a vectorized binary search per
    walker in the CSR block of ``prev``, whose dst codes are sorted.

    Semantics replayed exactly (parity-pinned in test_walks): step 1 is
    one uniform (weighted: alias-drawn) proposal; steps >= 2 accept the
    FIRST attempt whose 'accept' coin clears w/max_w, falling back to
    attempt 0's proposal when all reject; weighted proposals draw
    through the alias coin ('alias' channel) before acceptance."""
    w_max = max(w_ret, w_stay, w_far)

    def steps(adj, base, cur):
        import numpy as np

        from cryptowalletcommunitydetection_spark.functions.xxh64 import (
            hash_bytes,
            hash_int,
            hash_py_int,
            pmod_u64,
        )

        def member(prev, x):
            # vectorized per-walker binary search of x in prev's block
            lo = adj.offsets[prev].copy()
            hi = adj.offsets[prev + 1].copy()
            found = np.zeros(len(prev), dtype=bool)
            active = lo < hi
            while active.any():
                mid = (lo + hi) >> 1
                v = adj.dst[np.where(active, mid, 0)]
                eq = active & (v == x)
                found |= eq
                less = v < x
                lo = np.where(active & less & ~eq, mid + 1, lo)
                hi = np.where(active & ~less & ~eq, mid, hi)
                hi = np.where(eq, lo, hi)  # retire found lanes
                active = lo < hi
            return found

        def propose(h_sd, cur):
            # one attempt's proposal from the chained hash state
            row = adj.offsets[cur] + pmod_u64(h_sd, adj.deg[cur])
            if weighted:
                take = _coin(hash_bytes(b"alias", h_sd)) < adj.prob[row]
                return np.where(take, adj.dst[row], adj.alias[row])
            return adj.dst[row]

        n_w = len(cur)
        seq = np.empty((n_w, walk_length), dtype=np.int64)
        seq[:, 0] = prev = cur
        for t in range(1, walk_length):
            h_t = hash_int(t, base)
            if t == 1:
                # the standard uniform first transition (no real prev)
                nxt = propose(hash_py_int(seed, hash_int(0, h_t)), cur)
            else:
                accepted = np.zeros(n_w, dtype=bool)
                chosen = np.zeros(n_w, dtype=np.int64)
                fallback = None
                for att in range(max_attempts):
                    h_sd = hash_py_int(seed, hash_int(att, h_t))
                    x = propose(h_sd, cur)
                    if att == 0:
                        fallback = x
                    wgt = np.where(
                        x == prev, w_ret, np.where(member(prev, x), w_stay, w_far)
                    )
                    acc = _coin(hash_bytes(b"accept", h_sd)) < wgt / w_max
                    chosen = np.where(acc & ~accepted, x, chosen)
                    accepted |= acc
                nxt = np.where(accepted, chosen, fallback)
            seq[:, t] = nxt
            prev, cur = cur, nxt
        return seq

    return steps


def ranked_adjacency(edges: DataFrame, assume_canonical: bool = False) -> DataFrame:
    """DataFrame[src, dst, rank, dst_degree] — both orientations of the
    undirected graph with a dense 0-based neighbor rank per source and
    the DESTINATION's degree on every row.

    ``rank`` orders neighbors by id, so it is deterministic for a given
    edge set regardless of input partitioning. ``dst_degree`` lets a
    walk know its next hop's transition-domain size without a second
    join: after stepping to ``dst``, the hash choice for the following
    step is ``mod dst_degree``. Two exchanges, both one-time (the rank
    window partitioned by ``src``; the count window partitioned by
    ``dst`` reuses the same symmetric table).
    """
    canon = edges.select("src", "dst") if assume_canonical else (
        canonicalize_edges(edges).select("src", "dst")
    )
    sym = symmetrize(canon, weight=False)
    w = Window.partitionBy("src").orderBy("dst")
    w_dst = Window.partitionBy("dst")
    return sym.select(
        "src",
        "dst",
        (F.row_number().over(w) - F.lit(1)).alias("rank"),
        # in the symmetric table, |rows with src = v| == |rows with
        # dst = v| == deg(v)
        F.count(F.lit(1)).over(w_dst).alias("dst_degree"),
    )


def _alias_core(seg_keys, w):
    """Vectorized Walker alias construction over segment-grouped rows.

    ``seg_keys``: any array whose equal runs delimit the per-vertex
    segments (rows MUST be grouped by vertex, in final rank order —
    dst order — within each segment); ``w``: float64 weights. Returns
    ``(prob, alias_row, rank)`` where ``alias_row`` indexes into the
    SAME row space. Shared bit-for-bit by the Spark-side partition
    builder (``_alias_build_kernel``) and the local corpus task's
    build (``_local_corpus``) — same formulas, same in-segment order,
    so both sides produce identical tables (parity test-pinned). Construction math in the
    ``alias_tables`` docstring."""
    import numpy as np

    if np.any(w < 0):
        raise ValueError("alias_tables: negative edge weight")
    n = len(w)
    new_seg = np.empty(n, dtype=bool)
    new_seg[0] = True
    new_seg[1:] = seg_keys[1:] != seg_keys[:-1]
    seg = np.cumsum(new_seg) - 1            # dense per-vertex segment id
    seg_start = np.flatnonzero(new_seg)
    seg_len = np.diff(np.r_[seg_start, n])  # K per vertex
    n_seg = len(seg_start)
    W = np.add.reduceat(w, seg_start)
    if np.any(W <= 0):
        raise ValueError("alias_tables: a vertex has zero total weight")
    scaled = w * (seg_len[seg].astype(np.float64) / W[seg])
    rank = np.arange(n, dtype=np.int64) - seg_start[seg]

    prob = np.ones(n, dtype=np.float64)
    alias_row = np.arange(n, dtype=np.int64)  # self-alias default

    light = scaled < 1.0
    li = np.flatnonzero(light)
    hv = np.flatnonzero(~light)
    if len(li) and len(hv):

        def seg_cum(vals, segs):
            # EXACT inclusive segmented cumsum (segs grouped,
            # nondecreasing): segments are grouped by length and each
            # length class cumsums as rows of a 2D reshape, so every
            # segment's prefix sums involve ONLY its own elements. The
            # tempting one-liner — global cumsum minus the offset at
            # each segment start — leaks O(eps) cross-segment residue
            # into D/S, and the donor/finalize pairing resolves exact
            # D == S ties (common with integer weights, where scaled
            # lands exactly on 1.0) on that noise: measured up to 0.12
            # absolute marginal error and partitioning-dependent
            # tables before the fix (round-5 review).
            n_v = len(vals)
            out = np.empty_like(vals)
            nf = np.r_[True, segs[1:] != segs[:-1]]
            starts = np.flatnonzero(nf)
            lens = np.diff(np.r_[starts, n_v])
            for L in np.unique(lens):
                sel = starts[lens == L]
                idx = sel[:, None] + np.arange(L)[None, :]
                out[idx.reshape(-1)] = np.cumsum(
                    vals[idx], axis=1
                ).reshape(-1)
            return out

        d = 1.0 - scaled[li]
        D_inc = seg_cum(d, seg[li])
        D_exc = D_inc - d
        S_inc = seg_cum(scaled[hv] - 1.0, seg[hv])
        h_cnt = np.bincount(seg[hv], minlength=n_seg)
        l_cnt = np.bincount(seg[li], minlength=n_seg)
        h_first = np.r_[0, np.cumsum(h_cnt)][:-1]  # seg -> first idx in hv
        l_first = np.r_[0, np.cumsum(l_cnt)][:-1]

        # DONOR search — the single source of truth. Merged segment-
        # order sort of light D_exc events against heavy S events
        # (light before a tied heavy, so "S strictly < D_exc" is a
        # plain before-count): light i's donor = first heavy with
        # S >= D_exc_i.
        n_l, n_h = len(li), len(hv)
        segs_m = np.concatenate([seg[li], seg[hv]])
        vals_m = np.concatenate([D_exc, S_inc])
        ties_m = np.concatenate(
            [np.zeros(n_l, dtype=np.int8), np.ones(n_h, dtype=np.int8)]
        )
        is_h = ties_m.astype(np.int64)
        order = np.lexsort((ties_m, vals_m, segs_m))
        is_h_s = is_h[order]
        segs_s = segs_m[order]
        cH = np.cumsum(is_h_s)
        nf = np.r_[True, segs_s[1:] != segs_s[:-1]]
        first = np.flatnonzero(nf)
        baseH = np.concatenate(([0], cH[first[1:] - 1]))
        H_before = cH - is_h_s - baseH[np.cumsum(nf) - 1]
        inv_o = np.empty(len(order), dtype=np.int64)
        inv_o[order] = np.arange(len(order))
        j_ord = H_before[inv_o[:n_l]]

        okl = h_cnt[seg[li]] > 0  # float-noise all-light segments: self
        li_ok = li[okl]
        j_ok = np.minimum(j_ord[okl], h_cnt[seg[li_ok]] - 1)  # noise clip
        prob[li_ok] = scaled[li_ok]
        alias_row[li_ok] = hv[h_first[seg[li_ok]] + j_ok]

        # FINALIZATION is DERIVED from the donor assignment, not a
        # second independent search: heavy j retains
        # 1 + S_j - D_inc[last light assigned to heavies <= j] and is
        # finalized (aliased to the segment's next heavy) iff that
        # retention is < 1. With every term reading the SAME
        # D_inc[L(j)] values, the per-heavy marginal telescopes to
        # 1 + S_j - S_{j-1} = scaled_j up to ulps REGARDLESS of where
        # float tie-resolution placed each light — two independent
        # searches could disagree at exact-rational ties (integer
        # weights put scaled exactly on 1.0) and mispair O(d_i) mass
        # (round-5 review; regression-fuzzed in test_walks).
        if len(li_ok):
            flat = h_first[seg[li_ok]] + j_ok       # donor idx into hv
            per_h = np.bincount(flat, minlength=n_h)
        else:
            per_h = np.zeros(n_h, dtype=np.int64)
        # integer cumulative within segment: global cumsum minus the
        # per-segment base is EXACT for ints
        cc = np.cumsum(per_h)
        h_nf = np.r_[True, seg[hv][1:] != seg[hv][:-1]]
        h_base = np.concatenate(([0], cc[np.flatnonzero(h_nf)[1:] - 1]))
        cum_cnt = cc - h_base[np.cumsum(h_nf) - 1]
        hv_rank = np.arange(n_h, dtype=np.int64) - h_first[seg[hv]]
        has_any = cum_cnt > 0
        Lidx = l_first[seg[hv]] + np.maximum(cum_cnt - 1, 0)
        D_val = D_inc[np.minimum(Lidx, max(n_l - 1, 0))]
        fin = (
            has_any
            & (hv_rank + 1 < h_cnt[seg[hv]])
            & (S_inc < D_val)
        )
        fi = np.flatnonzero(fin)
        if len(fi):
            prob[hv[fi]] = np.clip(1.0 + S_inc[fi] - D_val[fi], 0.0, 1.0)
            alias_row[hv[fi]] = hv[fi + 1]
    return prob, alias_row, rank


def _alias_build_kernel(batches):
    """Partition kernel for ``alias_tables``: Arrow batches of rows
    sorted by (src, dst), every src's rows co-located in the partition;
    emits one alias-table row per input row. Fully vectorized
    (``_alias_core``: segmented prefix sums + merged-order rank counts,
    no per-element Python); the invariant is pinned numerically by
    tests/test_walks.py::test_alias_tables_exact_marginals."""
    import numpy as np
    import pyarrow as pa

    got = [b for b in batches if b.num_rows]
    if not got:
        return
    t = pa.Table.from_batches(got).combine_chunks()
    src, dst = t.column("src"), t.column("dst")
    prob, alias_row, rank = _alias_core(
        src.to_numpy(zero_copy_only=False), t.column("weight").to_numpy()
    )
    yield from pa.table({
        "src": src,
        "rank": pa.array(rank.astype(np.int32)),
        "dst": dst,
        "prob": pa.array(prob),
        "alias_dst": dst.take(pa.array(alias_row)),
    }).to_batches(max_chunksize=65536)


def alias_tables(edges: DataFrame, assume_canonical: bool = False) -> DataFrame:
    """Walker alias tables for weighted neighbor sampling:
    DataFrame[src, rank, dst, prob, alias_dst, dst_degree,
    alias_degree].

    Per source vertex with K neighbors of weights w_i, the table has K
    rows; drawing ``rank ~ U{0..K-1}`` and a coin ``u ~ U[0,1)`` then
    yields ``dst`` if ``u < prob`` else ``alias_dst`` — exactly the
    w_i/ΣW marginal (Walker 1977; the invariant is unit-tested
    numerically, not statistically). This keeps weighted transitions
    O(1) per walk step: the inverse-CDF alternative needs a range join
    against per-vertex cumulative weights, which re-introduces the
    neighbor-list fan-out the rank join avoids.

    Built VECTORIZED over whole partitions: the symmetric weighted
    adjacency is hash-partitioned by ``src`` and sorted by
    ``(src, dst)``, and one ``mapInArrow`` kernel constructs every
    vertex's table in that partition with segmented numpy prefix sums —
    no per-element Python, no per-vertex group. The construction
    is the prefix-sum ("sweep") formulation of Walker/Vose: lay the
    light items' deficits (``1 - scaled``) and the heavy items'
    surpluses (``scaled - 1``) out as two cumulative streams per
    vertex; the donor heavy of light i is the first heavy whose
    cumulative surplus reaches light i's cumulative deficit, and a
    heavy's own bucket retains ``1 + S_j - D_{i*}`` (its surplus
    coordinate minus the deficit coordinate of the light that exhausted
    it), aliased to the NEXT heavy — both lookups are merged-order
    rank counts (lexsort + cumsum), the parallel-alias-table
    construction of Hübschle-Schneider & Sanders (2019) specialized to
    one pass. Exactly the Walker marginal, O(K log K) vectorized work
    per vertex, deterministic (neighbor order = id order; no stack
    state).

    A 10^7-degree hub still lands in one task's PARTITION (hash
    partitioning cannot split a key), but the kernel's work there is a
    few numpy array passes — the linear-memory residency of the hub's
    rows is the documented bound, the former minutes of per-row Python
    are gone (tests/test_walks.py pins a 10^5-degree hub build).

    Input needs a ``weight`` column (missing -> multiplicity weight 1
    per canonical edge via ``canonicalize_edges``); weights must be
    non-negative (negative weights raise in the kernel)."""
    if assume_canonical:
        canon = edges
        if "weight" not in canon.columns:
            canon = canon.withColumn("weight", F.lit(1.0))
    else:
        canon = canonicalize_edges(
            edges, weight="weight" if "weight" in edges.columns else None
        )
    sym = symmetrize(canon.select("src", "dst", F.col("weight").cast("double")
                                  .alias("weight")), weight=True)
    src_t = sym.schema["src"].dataType.simpleString()
    dst_t = sym.schema["dst"].dataType.simpleString()
    schema = (
        f"src {src_t}, rank int, dst {dst_t}, prob double, alias_dst {dst_t}"
    )

    tab = (
        sym.repartition("src")
        .sortWithinPartitions("src", "dst")
        .mapInArrow(_alias_build_kernel, schema)
    )
    # annotate both stored outcomes with their vertex's degree (= that
    # vertex's alias-table size), so a walk never needs a separate
    # degree join per step; deg is |V| rows x 2 cols — two one-time
    # equi-joins at build time
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return (
        tab.join(
            deg.select(F.col("src").alias("dst"), F.col("degree").alias("dst_degree")),
            "dst",
        )
        .join(
            deg.select(
                F.col("src").alias("alias_dst"),
                F.col("degree").alias("alias_degree"),
            ),
            "alias_dst",
        )
        .select(
            "src", "rank", "dst", "prob", "alias_dst", "dst_degree", "alias_degree"
        )
    )


def _check_walk_args(num_walks, walk_length, strategy, transition, weighted):
    if walk_length < 1:
        raise ValueError("walk_length must be >= 1")
    if num_walks < 1:
        raise ValueError("num_walks must be >= 1")
    if strategy not in (None, "local", "broadcast", "shuffle"):
        raise ValueError(
            "strategy must be None, 'local', 'broadcast' or 'shuffle'"
        )
    if transition not in ("xxhash64", "md5_52"):
        raise ValueError("transition must be 'xxhash64' or 'md5_52'")
    if transition != "xxhash64":
        # the DuckDB-oracle twin: distributed unweighted strategies only
        if weighted:
            raise ValueError(
                "transition='md5_52' supports unweighted walks only"
            )
        if strategy == "local":
            raise ValueError(
                "the local kernel replays the xxhash64 chain only"
            )


def _start_ids(starts: DataFrame | None, deg: DataFrame) -> DataFrame:
    """DataFrame[id] of the distributed frontier's starts. distinct(): a
    duplicated start id would otherwise produce COLLIDING walk_ids,
    which the assembly groupBy merges into one 2L-length row — the
    dedupe makes duplicate starts well-defined (one walk batch per
    distinct id) and strategy-invariant (the local task dedupes too)."""
    return starts.select("id").distinct() if starts is not None else deg.select("id")


def _pick_strategy(canon, verts, num_walks, walk_length, transition, fanout):
    """The auto strategy. One |V|-scale (or |starts|-scale) count
    decides the physical shape; the edge count (local gate only) fills
    the canonical cache every later consumer reads — the same
    probe-doubles-as-materialization pattern as graph/triangles.py.
    ``fanout``: broadcast-side rows per walker."""
    fr_rows = verts.count() * num_walks
    if (
        transition == "xxhash64"
        and fr_rows * walk_length <= LOCAL_WALK_MAX_STEP_ROWS
        and 2 * canon.count() <= LOCAL_WALK_MAX_ADJ_ROWS
    ):
        return "local"
    if fr_rows * fanout <= BROADCAST_FRONTIER_MAX_ROWS:
        return "broadcast"
    return "shuffle"


def _step_adjacency(canon: DataFrame, adjacency: DataFrame | None, weighted: bool):
    """(adjacency, owned) for the distributed loops: the caller's, or a
    ``ranked_adjacency`` (``alias_tables`` when weighted) cached
    pre-partitioned AND pre-sorted on the per-step join key. In shuffle
    mode every step's join reuses this partitioning (only the
    constant-width frontier shuffles); a partitioned-but-unsorted cache
    would make every superstep's sort-merge join re-sort the full
    2|E|-row adjacency (the graph/hits.py measurement: layout cost
    dominates the loop)."""
    if adjacency is not None:
        return adjacency, False
    adj = (
        alias_tables(canon, assume_canonical=True)
        if weighted
        else ranked_adjacency(canon, assume_canonical=True)
    )
    return adj.repartition("src", "rank").sortWithinPartitions("src", "rank").persist(), True


def _first_frontier(verts: DataFrame, deg: DataFrame, num_walks: int) -> DataFrame:
    """DataFrame[walk_id, cur, cur_degree]: ``num_walks`` walkers per
    start, ``walk_id = <start>#<index>``; the inner degree join drops
    starts outside the graph."""
    return (
        verts.select(
            "id", F.explode(F.sequence(F.lit(0), F.lit(num_walks - 1))).alias("walk_idx")
        )
        .join(deg, "id")
        .select(
            F.concat_ws("#", F.col("id").cast("string"), F.col("walk_idx")).alias("walk_id"),
            F.col("id").alias("cur"),
            F.col("degree").alias("cur_degree"),
        )
    )


def _step_rows(frontier: DataFrame, t: int) -> DataFrame:
    return frontier.select("walk_id", F.lit(t).alias("step"), F.col("cur").alias("vertex"))


def _assemble(steps: list[DataFrame]) -> DataFrame:
    """The corpus from its (walk_id, step, vertex) step tables: one
    final group, so no frontier carries an O(t) prefix array."""
    long = steps[0]
    for s in steps[1:]:
        long = long.unionByName(s)
    return (
        long.groupBy("walk_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("step", "vertex"))),
                lambda s: s["vertex"],
            ).alias("seq")
        )
        .withColumn("start", F.element_at("seq", 1))
        .select("walk_id", "start", "seq")
    )


def random_walks(
    edges: DataFrame,
    num_walks: int = 10,
    walk_length: int = 20,
    seed: int = 42,
    assume_canonical: bool = False,
    starts: DataFrame | None = None,
    weighted: bool = False,
    strategy: str | None = None,
    adjacency: DataFrame | None = None,
    transition: str = "xxhash64",
) -> DataFrame:
    """DeepWalk corpus: DataFrame[walk_id, start, seq].

    ``seq`` is an ``array`` of ``walk_length`` vertex ids beginning at
    ``start``; ``walk_id`` is ``<start>#<walk index>``. By default one
    batch of ``num_walks`` walks starts at every vertex of the edge
    table; pass ``starts`` (DataFrame[id]) to restrict the start set
    (e.g. walks from one community only). Start vertices must appear in
    the edge table (isolated vertices have no transition distribution).

    ``weighted=True`` samples each step proportionally to edge weight
    through Walker alias tables (see ``alias_tables``) — still one
    constant-width join per step (rank pick + hash coin between the two
    stored outcomes), never a fan-out over the neighbor list.

    ``strategy`` picks the corpus generation's physical plan — results
    are identical on every strategy (the transition is a pure function
    of walk_id/step/seed; parity is test-pinned):

    - ``"local"``: ONE ``run_kernel`` call (graph/local_kernel.py)
      replays every walk over the canonical edges in the driver. It derives
      the walkers, their walk ids and each id's ``xxhash64(walk_id)``
      base hash itself, and re-derives every per-step hash/coin from
      that base through the Spark-bit-exact numpy chain in
      functions/xxh64.py (parity pinned by test_xxh64/test_walks), so
      the corpus is byte-identical to the distributed strategies with
      zero per-step stage barriers (``_local_corpus``). Right when
      walkers x length and the adjacency both fit the driver (the
      small-graph / seed-set regime where the distributed loop is pure
      barrier overhead). Vertex ids are integral or strings: the body
      formats walk ids the way Spark casts those to string.
    - ``"broadcast"``: the frontier is broadcast; each step is ONE
      mapper-side stage over the cached adjacency — no shuffle at all.
      Right when |starts|·num_walks is executor-memory small (seed-set
      walks, or any frontier under a few million rows).
    - ``"shuffle"``: shuffled hash join; only the constant-width
      frontier moves (the adjacency is cached pre-partitioned on the
      join key, so its exchange is reused every step). Right at corpus
      scale, where the frontier is W·|V| rows and can't be broadcast.
    - ``None`` (default): auto — local below
      ``LOCAL_WALK_MAX_STEP_ROWS`` corpus cells and
      ``LOCAL_WALK_MAX_ADJ_ROWS`` directed adjacency rows (probed with
      one count of the start set and one of the canonical edges — the
      edge probe doubles as the cache materialization); else broadcast
      below ``BROADCAST_FRONTIER_MAX_ROWS`` frontier rows; else
      shuffle.

    ``adjacency``: a prebuilt ``ranked_adjacency`` (or, with
    ``weighted=True``, ``alias_tables``) result for THESE edges. The
    build (two windows over the 2|E|-row symmetric table) is a
    meaningful one-time cost — measured at 11M canonical edges,
    steal-clean: ~10s to build+materialize vs ~17s for a 200k-walker
    L=5 corpus — and it is reusable across corpora (different seeds /
    walk counts / start sets), so callers generating several corpora
    should build once and pass it in. Caller-managed: persist it
    yourself (ideally ``.repartition("src", "rank")
    .sortWithinPartitions("src", "rank")`` first so the shuffle
    path reuses both the partitioning and the sort order); this
    function will not unpersist it. The local strategy does not read
    it: its task builds the same adjacency from the edges.

    Deterministic: the step-t transition of a walk is driven by
    ``xxhash64(walk_id, t, seed)`` (plus an independent
    ``xxhash64(walk_id, t, seed, 'coin')`` coin in weighted mode) —
    same (edges, num_walks, walk_length, seed) → identical corpus, on
    any partitioning or cluster size.

    ``transition="md5_52"`` swaps the transition projection for its
    DuckDB-recomputable md5 twin (see ``_transition_hash``) so a SQL
    oracle can unroll the whole corpus — the driver-gate mode.
    Unweighted distributed strategies only (the local kernel replays
    the xxhash64 chain; the weighted coin is xxhash64-folded).
    """
    _check_walk_args(num_walks, walk_length, strategy, transition, weighted)
    canon = edges if assume_canonical else canonicalize_edges(
        edges, weight="weight" if weighted and "weight" in edges.columns else None
    )
    # consumed by the probe, adjacency, degrees and starts — but never
    # drop a cache the CALLER owns (an already-persisted canonical table
    # passed with assume_canonical=True stays persisted after this
    # returns); a forced local run reads it once and pins nothing
    canon_owned = strategy != "local" and not canon.storageLevel.useMemory
    if canon_owned:
        canon = canon.persist()
    # symmetrized out-degree == undirected degree; only joined ONCE, to
    # seed the initial frontier — every later step reads the next hop's
    # degree off the adjacency row it just fetched
    deg = degrees(canon)
    verts = _start_ids(starts, deg)
    pinned: list[DataFrame] = []
    adj, adj_owned = None, False
    try:
        if strategy is None:
            strategy = _pick_strategy(canon, verts, num_walks, walk_length, transition, 1)
        if strategy == "local":
            return _local_corpus(
                canon, starts, num_walks, walk_length, weighted,
                _random_walk_steps(walk_length, seed, weighted),
            )
        adj, adj_owned = _step_adjacency(canon, adjacency, weighted)
        frontier = _first_frontier(verts, deg, num_walks).localCheckpoint(eager=True)
        pinned.append(frontier)

        # step tables accumulate as constant-width (walk_id, step, vertex)
        # rows; the frontier never carries the prefix, and every frontier
        # is an EAGER localCheckpoint — a leaf plan. Two reasons, both
        # load-bearing: (1) the final assembly references all L step
        # tables, and un-pinned lazy frontiers would re-run the whole
        # join chain per step table (O(L^2) recompute; pinning + the
        # single-join step measured 54s -> ~11-13s at sf0.1 for 15k
        # walks, L=10); (2) persist() alone keeps LINEAGE, so the
        # assembly's logical plan grows O(L^2) nodes and the driver OOMs
        # just STRINGIFYING it for the SQL listener at L=20 on a 1g
        # spark-submit heap (observed; checkpoint leaves keep every
        # per-step plan O(1))
        steps = [_step_rows(frontier, 0)]
        for t in range(1, walk_length):
            # exactly ONE equi-join per step: hash a rank in
            # [0, cur_degree), fetch that adjacency row; the row carries
            # the next hop's degree for step t+1
            choice = F.pmod(
                _transition_hash(transition, F.col("walk_id"), t, seed),
                F.col("cur_degree"),
            ).cast("int")
            with_choice = frontier.select(
                "walk_id", "cur", choice.alias("choice")
            )
            if strategy == "broadcast":
                with_choice = F.broadcast(with_choice)
            joined = with_choice.join(
                adj,
                (with_choice["cur"] == adj["src"])
                & (with_choice["choice"] == adj["rank"]),
            )
            if weighted:
                coin = (
                    F.pmod(
                        F.xxhash64(
                            F.col("walk_id"), F.lit(t), F.lit(seed), F.lit("coin")
                        ),
                        F.lit(_COIN_DENOM),
                    )
                    / F.lit(float(_COIN_DENOM))
                )
                take_primary = coin < F.col("prob")
                nxt = F.when(take_primary, F.col("dst")).otherwise(
                    F.col("alias_dst")
                )
                nxt_deg = F.when(take_primary, F.col("dst_degree")).otherwise(
                    F.col("alias_degree")
                )
            else:
                nxt = F.col("dst")
                nxt_deg = F.col("dst_degree")
            frontier = joined.select(
                "walk_id", nxt.alias("cur"), nxt_deg.alias("cur_degree")
            ).localCheckpoint(eager=True)
            pinned.append(frontier)
            steps.append(_step_rows(frontier, t))
        # pin before releasing the frontiers (same pattern as
        # graph/triangles.py triangles_per_vertex)
        return _assemble(steps).localCheckpoint(eager=True)
    finally:
        for df in pinned:
            release_local_checkpoint(df)
        if adj_owned:
            adj.unpersist()
        if canon_owned:
            canon.unpersist()


def node2vec_walks(
    edges: DataFrame,
    p: float = 1.0,
    q: float = 1.0,
    num_walks: int = 10,
    walk_length: int = 20,
    seed: int = 42,
    assume_canonical: bool = False,
    starts: DataFrame | None = None,
    weighted: bool = False,
    strategy: str | None = None,
    max_attempts: int | None = None,
    adjacency: DataFrame | None = None,
    transition: str = "xxhash64",
) -> DataFrame:
    """node2vec biased corpus (Grover & Leskovec 2016):
    DataFrame[walk_id, start, seq].

    Second-order walks: the step from ``cur`` given the previous vertex
    ``prev`` weights each neighbor x by 1/p if x == prev (return), 1 if
    x is also a neighbor of prev (stay local), 1/q otherwise (explore).
    p < 1 biases walks back (BFS-like, structural roles); q < 1 biases
    outward (DFS-like, communities). p == q == 1 degenerates to the
    uniform DeepWalk transition (and the machinery collapses to one
    always-accepted attempt).

    Physical design — rejection sampling, not per-edge alias tables.
    The exact alternatives both break at scale: alias tables per
    directed edge are O(Σ deg(v)²) state (a 10^6-degree hub alone needs
    10^12 rows), and normalizing the true distribution per step means
    fanning every walker out over its full neighbor list. Rejection
    sampling (the published distributed-walk approach — KnightKing,
    SIGMOD'19) needs only first-order structures: propose a neighbor
    uniformly, accept with probability w(x)/max_w. Here each step is
    three bounded jobs over walker·A rows (A = ``max_attempts``):

    1. propose A uniform candidates per walker — one fan-out join
       against the same rank-indexed adjacency ``random_walks`` uses
       (choice = ``xxhash64(walk_id, t, attempt, seed) mod degree``);
    2. classify every candidate with ONE membership join against the
       cached symmetric edge set on (prev, x) — is x a neighbor of
       prev? — plus a column compare for x == prev;
    3. accept attempt i iff its hash coin < w/max_w; keep the
       first-accepted attempt per walker (``min_by`` over an order key
       that sorts accepted attempts before rejected ones).

    A is sized so the all-rejected probability is < 1e-4 at the
    worst-case acceptance rate r = min(1/p, 1, 1/q) / max(1/p, 1, 1/q)
    (capped at 32); a walker whose A attempts ALL reject falls back to
    its first proposal — still a real edge hop, just uniform-biased,
    with probability ≤ (1-r)^A per walker-step. Deterministic end to
    end: proposals and coins are pure hash columns, so the corpus is a
    pure function of (edges, p, q, seed) on any partitioning.

    ``weighted=True`` composes edge weights with the (p, q) bias the
    way the paper defines (π(x) ∝ w(cur, x) · α_pq(prev, x)), and the
    rejection scheme absorbs it for free: the PROPOSAL draws from the
    Walker alias tables (∝ w — one extra hash coin between the two
    stored outcomes, still one adjacency row per attempt) while the
    ACCEPTANCE coin applies α/max_α unchanged, so accepted samples
    follow the product distribution exactly.

    ``strategy``/auto gate as in ``random_walks`` (the broadcast side is
    walker·A rows here, so the gate divides by A); ``adjacency`` reuses
    a prebuilt ``ranked_adjacency`` (``alias_tables`` when weighted)
    exactly as in ``random_walks`` (caller-persisted, never unpersisted
    here).
    """
    _check_walk_args(num_walks, walk_length, strategy, transition, weighted)
    if p <= 0 or q <= 0:
        raise ValueError("p and q must be > 0")

    import math

    w_ret, w_stay, w_far = 1.0 / p, 1.0, 1.0 / q
    w_max = max(w_ret, w_stay, w_far)
    r = min(w_ret, w_stay, w_far) / w_max
    if max_attempts is None:
        if r >= 1.0:
            max_attempts = 1  # uniform: every attempt accepts
        else:
            max_attempts = min(32, max(4, math.ceil(math.log(1e-4)
                                                    / math.log(1.0 - r))))
    if max_attempts < 1:
        raise ValueError("max_attempts must be >= 1")

    canon = edges if assume_canonical else canonicalize_edges(
        edges, weight="weight" if weighted and "weight" in edges.columns else None
    )
    canon_owned = strategy != "local" and not canon.storageLevel.useMemory  # see random_walks
    if canon_owned:
        canon = canon.persist()
    deg = degrees(canon)
    verts = _start_ids(starts, deg)
    pinned: list[DataFrame] = []
    adj, adj_owned, mem = None, False, None
    try:
        if strategy is None:
            # the broadcast side is walker x A rows, but the cells gate
            # is NOT multiplied by max_attempts: the kernel's per-attempt
            # cost is a few vector ops while the distributed rounds pay
            # per-attempt ROW fan-out through three joins, so A cancels
            # out of the crossover. MEASURED at A=32, p=0.5/q=2.0,
            # local[32]: sf0.1 (160k cells) local 3.9s vs broadcast
            # 18.2s; 4M cells (1.2M-edge uniform graph) local 35.1s vs
            # shuffle 60.9s — local still 1.7x ahead at the deepwalk gate
            # boundary.
            strategy = _pick_strategy(
                canon, verts, num_walks, walk_length, transition, max_attempts
            )
        if strategy == "local":
            return _local_corpus(
                canon, starts, num_walks, walk_length, weighted,
                _node2vec_steps(
                    walk_length, seed, weighted, w_ret, w_stay, w_far, max_attempts
                ),
            )
        adj, adj_owned = _step_adjacency(canon, adjacency, weighted)
        # membership side of step (2): the symmetric edge PAIR set, cached
        # pre-partitioned on its join key so the per-step membership join
        # never re-exchanges it
        mem = (
            symmetrize(canon.select("src", "dst"), weight=False)
            .select(F.col("src").alias("m_src"), F.col("dst").alias("m_dst"))
            .repartition("m_src", "m_dst")
            .sortWithinPartitions("m_src", "m_dst")
            .persist()
        )
        frontier = _first_frontier(verts, deg, num_walks).select(
            "walk_id",
            F.col("cur").alias("prev"),  # placeholder; step 1 is uniform
            "cur",
            "cur_degree",
        ).localCheckpoint(eager=True)
        pinned.append(frontier)
        steps = [_step_rows(frontier, 0)]
        for t in range(1, walk_length):
            # step 1 has no real prev — one uniform attempt (the
            # standard node2vec first transition); later steps run the
            # A-attempt rejection round
            n_att = 1 if t == 1 else max_attempts
            props = frontier.select(
                "walk_id",
                "prev",
                "cur",
                "cur_degree",
                F.explode(F.sequence(F.lit(0), F.lit(n_att - 1))).alias("att"),
            ).select(
                "walk_id",
                "prev",
                "cur",
                "att",
                F.pmod(
                    _n2v_hash(
                        transition, F.col("walk_id"), t, F.col("att"), seed
                    ),
                    F.col("cur_degree"),
                ).cast("int").alias("choice"),
            )
            if strategy == "broadcast":
                props = F.broadcast(props)
            fetched = props.join(
                adj,
                (props["cur"] == adj["src"]) & (props["choice"] == adj["rank"]),
            )
            if weighted:
                # weighted PROPOSAL (∝ w): alias coin between the row's
                # two stored outcomes — independent of the acceptance
                # coin below, so the accepted marginal is the product
                # distribution w · α
                coin_w = (
                    F.pmod(
                        F.xxhash64(
                            F.col("walk_id"), F.lit(t), F.col("att"),
                            F.lit(seed), F.lit("alias"),
                        ),
                        F.lit(_COIN_DENOM),
                    )
                    / F.lit(float(_COIN_DENOM))
                )
                take_primary = coin_w < F.col("prob")
                x_col = F.when(take_primary, F.col("dst")).otherwise(
                    F.col("alias_dst")
                )
                x_deg_col = F.when(
                    take_primary, F.col("dst_degree")
                ).otherwise(F.col("alias_degree"))
            else:
                x_col = adj["dst"]
                x_deg_col = adj["dst_degree"]
            cand = fetched.select(
                "walk_id", "prev", "cur", "att",
                x_col.alias("x"),
                x_deg_col.alias("x_degree"),
            )
            if t == 1:
                picked = cand
            else:
                if strategy == "broadcast":
                    cand = F.broadcast(cand)
                classified = cand.join(
                    mem,
                    (cand["prev"] == mem["m_src"])
                    & (cand["x"] == mem["m_dst"]),
                    "left",
                ).select(
                    "walk_id", "prev", "cur", "att", "x", "x_degree",
                    mem["m_src"].isNotNull().alias("_is_local"),
                )
                w = (
                    F.when(F.col("x") == F.col("prev"), F.lit(w_ret))
                    .when(F.col("_is_local"), F.lit(w_stay))
                    .otherwise(F.lit(w_far))
                )
                if transition == "xxhash64":
                    coin = (
                        F.pmod(
                            F.xxhash64(
                                F.col("walk_id"), F.lit(t), F.col("att"),
                                F.lit(seed), F.lit("accept"),
                            ),
                            F.lit(_COIN_DENOM),
                        )
                        / F.lit(float(_COIN_DENOM))
                    )
                else:
                    # md5_52 values are already 52-bit: divide by 2^52
                    coin = _n2v_hash(
                        transition, F.col("walk_id"), t, F.col("att"),
                        seed, "accept",
                    ) / F.lit(float(1 << 52))
                accepted = coin < w / F.lit(w_max)
                order = F.when(accepted, F.col("att")).otherwise(
                    F.col("att") + F.lit(n_att)
                )
                picked = classified.groupBy("walk_id").agg(
                    F.min_by(
                        F.struct("cur", "x", "x_degree"), order
                    ).alias("_pick")
                ).select(
                    "walk_id",
                    F.col("_pick.cur").alias("cur"),
                    F.col("_pick.x").alias("x"),
                    F.col("_pick.x_degree").alias("x_degree"),
                )
            frontier = picked.select(
                "walk_id",
                F.col("cur").alias("prev"),
                F.col("x").alias("cur"),
                F.col("x_degree").alias("cur_degree"),
            ).localCheckpoint(eager=True)
            pinned.append(frontier)
            steps.append(_step_rows(frontier, t))
        return _assemble(steps).localCheckpoint(eager=True)
    finally:
        for df in pinned:
            release_local_checkpoint(df)
        if mem is not None:
            mem.unpersist()
        if adj_owned:
            adj.unpersist()
        if canon_owned:
            canon.unpersist()


def skipgram_pairs(corpus: DataFrame, window: int = 5) -> DataFrame:
    """(center, context) training pairs from a walk corpus:
    DataFrame[walk_id, center, context].

    For every position i of every walk sequence, emits one row per
    other position within ``window`` of i (both sides, clipped at the
    sequence ends) — the skip-gram extraction Word2Vec-style trainers
    consume. Entirely JVM array expressions (posexplode + slice +
    posexplode): no shuffle at all beyond the corpus scan, ~2·window
    output rows per corpus token. Repeated vertices inside a window
    emit repeated pairs (they are distinct co-occurrence events); only
    the center POSITION itself is excluded.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    ex = corpus.select(
        "walk_id",
        F.posexplode("seq").alias("pos", "center"),
        F.col("seq"),
    )
    # 1-based slice bounds around the center (1-based position pos+1)
    lo = F.greatest(F.lit(1), F.col("pos") + 1 - F.lit(window))
    length = F.col("pos") + 1 + F.lit(window) - lo + 1  # clipped by slice
    ctx = ex.select(
        "walk_id",
        "pos",
        "center",
        lo.alias("lo"),
        F.posexplode(F.slice("seq", lo, length)).alias("off", "context"),
    )
    return ctx.filter(F.col("lo") + F.col("off") != F.col("pos") + 1).select(
        "walk_id", "center", "context"
    )
