"""Random-walk corpus properties (SURVEY.md §2.10 training-data
extension).

No closed-form oracle exists for hash-driven walks, so the contract is
property-based: structural validity (every consecutive pair is an
edge), exact shape (W walks of length L per start vertex), determinism
(same seed → identical corpus across recomputation and partitioning),
seed sensitivity, and statistical neighbor coverage (a hub's walks must
not collapse onto few neighbors — the rank-hash must spread).
"""

import networkx as nx
import pytest

from cryptowalletcommunitydetection_spark import datagen
from cryptowalletcommunitydetection_spark.graph.walks import (
    alias_tables,
    node2vec_walks,
    random_walks,
    ranked_adjacency,
    skipgram_pairs,
)

PAIRS = datagen.two_cliques_bridge(5) + [(20, 21), (21, 22), (22, 20)]


def _corpus(spark, pairs, **kw):
    edges = datagen.edges_df(spark, pairs)
    return {
        r["walk_id"]: (r["start"], tuple(r["seq"]))
        for r in random_walks(edges, **kw).collect()
    }


def test_shape_and_starts(spark):
    got = _corpus(spark, PAIRS, num_walks=3, walk_length=7, seed=1)
    g = nx.Graph()
    g.add_edges_from(PAIRS)
    assert len(got) == 3 * g.number_of_nodes()
    for wid, (start, seq) in got.items():
        assert len(seq) == 7
        assert seq[0] == start
        assert wid == f"{start}#{int(wid.split('#')[1])}"
    # every vertex starts exactly num_walks walks
    starts = [start for start, _ in got.values()]
    assert {s: starts.count(s) for s in set(starts)} == {
        v: 3 for v in g.nodes()
    }


def test_every_step_is_an_edge(spark):
    got = _corpus(spark, PAIRS, num_walks=4, walk_length=10, seed=9)
    edge_set = {tuple(sorted(p)) for p in PAIRS}
    for _, seq in got.values():
        for u, v in zip(seq, seq[1:]):
            assert tuple(sorted((u, v))) in edge_set


def test_deterministic_across_runs_and_partitioning(spark):
    a = _corpus(spark, PAIRS, num_walks=2, walk_length=6, seed=5)
    b = _corpus(spark, PAIRS, num_walks=2, walk_length=6, seed=5)
    assert a == b
    # different input partitioning, same corpus
    edges = datagen.edges_df(spark, PAIRS).repartition(7)
    c = {
        r["walk_id"]: (r["start"], tuple(r["seq"]))
        for r in random_walks(edges, num_walks=2, walk_length=6, seed=5).collect()
    }
    assert a == c


def test_seed_changes_corpus(spark):
    a = _corpus(spark, PAIRS, num_walks=2, walk_length=8, seed=1)
    b = _corpus(spark, PAIRS, num_walks=2, walk_length=8, seed=2)
    assert a != b


def test_hub_neighbor_coverage(spark):
    """200 walks stepping off a star hub must spread over its 12 spokes
    (hash-rank spreading, not a constant choice)."""
    pairs = datagen.star(13)
    edges = datagen.edges_df(spark, pairs)
    hub_starts = edges.sparkSession.createDataFrame([(0,)], ["id"])
    corpus = random_walks(
        edges, num_walks=200, walk_length=2, seed=3, starts=hub_starts
    ).collect()
    first_hops = {tuple(r["seq"])[1] for r in corpus}
    assert len(first_hops) >= 9  # 12 spokes; hash spread, not uniform law


def test_restricted_starts(spark):
    edges = datagen.edges_df(spark, PAIRS)
    starts = edges.sparkSession.createDataFrame([(0,), (1,)], ["id"])
    got = random_walks(
        edges, num_walks=2, walk_length=4, seed=7, starts=starts
    ).collect()
    assert len(got) == 4
    assert {r["start"] for r in got} == {0, 1}


def test_ranked_adjacency_contract(spark):
    edges = datagen.edges_df(spark, PAIRS)
    adj = ranked_adjacency(edges).collect()
    g = nx.Graph()
    g.add_edges_from(PAIRS)
    # one row per directed orientation, ranks dense per source
    assert len(adj) == 2 * g.number_of_edges()
    by_src = {}
    for r in adj:
        by_src.setdefault(r["src"], []).append((r["rank"], r["dst"]))
    for src, rows in by_src.items():
        ranks = sorted(rank for rank, _ in rows)
        assert ranks == list(range(g.degree(src)))
        # rank order follows dst order (deterministic)
        assert sorted(rows) == sorted(
            (i, d) for i, d in enumerate(sorted(g[src]))
        )


def test_validation(spark):
    edges = datagen.edges_df(spark, PAIRS)
    with pytest.raises(ValueError):
        random_walks(edges, walk_length=0)
    with pytest.raises(ValueError):
        random_walks(edges, num_walks=0)
    with pytest.raises(ValueError):
        skipgram_pairs(random_walks(edges, num_walks=1, walk_length=3), window=0)


def test_alias_tables_exact_marginals(spark):
    """The Walker-table invariant, checked NUMERICALLY (no statistics):
    for each source, P(dst=v) = (1/K)·Σ_r [prob_r]{dst_r=v}
    + (1/K)·Σ_r [1-prob_r]{alias_r=v} must equal w(src,v)/Σ w(src,·)."""
    rows = [
        ("a", "b", 1.0),
        ("a", "c", 8.0),
        ("a", "d", 1.0),
        ("b", "c", 3.0),
        ("c", "d", 0.5),
    ]
    edges = spark.createDataFrame(rows, ["src", "dst", "weight"])
    tab = alias_tables(edges).collect()
    by_src = {}
    for r in tab:
        by_src.setdefault(r["src"], []).append(r)
    # reconstruct weighted marginals
    import collections

    want = collections.defaultdict(dict)
    for u, v, w in rows:
        want[u][v] = want[u].get(v, 0.0) + w
        want[v][u] = want[v].get(u, 0.0) + w
    for src, entries in by_src.items():
        k = len(entries)
        got = collections.defaultdict(float)
        for r in entries:
            got[r["dst"]] += r["prob"] / k
            got[r["alias_dst"]] += (1.0 - r["prob"]) / k
        total = sum(want[src].values())
        for v, w in want[src].items():
            assert got[v] == pytest.approx(w / total, abs=1e-12)
        # dense ranks
        assert sorted(r["rank"] for r in entries) == list(range(k))


def test_alias_tables_unweighted_defaults_uniform(spark):
    edges = datagen.edges_df(spark, datagen.star(5))
    tab = alias_tables(edges).collect()
    hub_rows = [r for r in tab if r["src"] == 0]
    assert len(hub_rows) == 4
    for r in hub_rows:
        assert r["prob"] == pytest.approx(1.0)


def test_weighted_walks_follow_weights(spark):
    """Hub with one dominant-weight spoke: step-1 choices must
    concentrate on it roughly in proportion (hash-coin law; wide
    tolerance — this is a sanity band, the exact invariant is
    test_alias_tables_exact_marginals)."""
    rows = [("h", "x", 90.0), ("h", "y", 5.0), ("h", "z", 5.0)]
    edges = spark.createDataFrame(rows, ["src", "dst", "weight"])
    starts = spark.createDataFrame([("h",)], ["id"])
    corpus = random_walks(
        edges, num_walks=400, walk_length=2, seed=11, starts=starts,
        weighted=True,
    ).collect()
    first = [r["seq"][1] for r in corpus]
    frac_x = first.count("x") / len(first)
    assert 0.8 <= frac_x <= 0.98
    assert set(first) <= {"x", "y", "z"}


def test_weighted_walks_valid_and_deterministic(spark):
    rows = [(a, b, float(1 + (a * b) % 5)) for a, b in PAIRS]
    edges = spark.createDataFrame(rows, ["src", "dst", "weight"])
    kw = dict(num_walks=2, walk_length=6, seed=5, weighted=True)
    a = {
        r["walk_id"]: tuple(r["seq"])
        for r in random_walks(edges, **kw).collect()
    }
    b = {
        r["walk_id"]: tuple(r["seq"])
        for r in random_walks(edges.repartition(5), **kw).collect()
    }
    assert a == b
    edge_set = {tuple(sorted(p)) for p in PAIRS}
    for seq in a.values():
        assert len(seq) == 6
        for u, v in zip(seq, seq[1:]):
            assert tuple(sorted((u, v))) in edge_set


def test_skipgram_pairs_match_python(spark):
    corpus = random_walks(
        datagen.edges_df(spark, PAIRS), num_walks=2, walk_length=7, seed=3
    )
    window = 2
    got = sorted(
        (r["walk_id"], r["center"], r["context"])
        for r in skipgram_pairs(corpus, window=window).collect()
    )
    want = []
    for r in corpus.collect():
        seq = list(r["seq"])
        for i, c in enumerate(seq):
            for j in range(max(0, i - window), min(len(seq), i + window + 1)):
                if j != i:
                    want.append((r["walk_id"], c, seq[j]))
    assert got == sorted(want)


# ---- node2vec second-order walks -------------------------------------

def _n2v(spark, pairs, **kw):
    edges = datagen.edges_df(spark, pairs)
    return {
        r["walk_id"]: (r["start"], tuple(r["seq"]))
        for r in node2vec_walks(edges, **kw).collect()
    }


def test_n2v_every_step_is_an_edge_and_shape(spark):
    got = _n2v(spark, PAIRS, p=0.5, q=2.0, num_walks=3, walk_length=8, seed=4)
    g = nx.Graph()
    g.add_edges_from(PAIRS)
    assert len(got) == 3 * g.number_of_nodes()
    edge_set = {tuple(sorted(p)) for p in PAIRS}
    for _, (start, seq) in got.items():
        assert len(seq) == 8
        assert seq[0] == start
        for u, v in zip(seq, seq[1:]):
            assert tuple(sorted((u, v))) in edge_set


def test_n2v_deterministic_across_partitioning(spark):
    a = _n2v(spark, PAIRS, p=0.25, q=4.0, num_walks=2, walk_length=6, seed=5)
    edges = datagen.edges_df(spark, PAIRS).repartition(7)
    b = {
        r["walk_id"]: (r["start"], tuple(r["seq"]))
        for r in node2vec_walks(
            edges, p=0.25, q=4.0, num_walks=2, walk_length=6, seed=5
        ).collect()
    }
    assert a == b


def test_n2v_return_bias(spark):
    """p << 1 makes immediate returns (seq[t+1] == seq[t-1]) much more
    frequent than p >> 1 — the defining second-order effect."""
    def return_rate(p):
        got = _n2v(spark, PAIRS, p=p, q=1.0, num_walks=30,
                   walk_length=8, seed=13)
        hits = total = 0
        for _, (_, seq) in got.items():
            for i in range(2, len(seq)):
                total += 1
                hits += seq[i] == seq[i - 2]
        return hits / total

    assert return_rate(0.05) > return_rate(20.0) + 0.15


def test_n2v_exploration_bias(spark):
    """q << 1 (DFS-like) walks from a lollipop clique escape down the
    path farther than q >> 1 (BFS-like) walks."""
    # K6 clique (0..5) with a 10-vertex path hanging off vertex 0
    pairs = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    pairs += [(0, 6)] + [(6 + i, 7 + i) for i in range(9)]

    def mean_max_depth(q):
        edges = datagen.edges_df(spark, pairs)
        starts = spark.createDataFrame([(0,)], ["id"])
        got = node2vec_walks(
            edges, p=1.0, q=q, num_walks=60, walk_length=10, seed=17,
            starts=starts,
        ).collect()
        depth = lambda v: v - 5 if v >= 6 else 0
        return sum(max(depth(v) for v in r["seq"]) for r in got) / len(got)

    assert mean_max_depth(0.1) > mean_max_depth(10.0) + 0.5


def test_n2v_uniform_degenerates_to_single_attempt(spark):
    """p == q == 1 collapses to one always-accepted attempt; the corpus
    is valid and exactly shaped (not compared to random_walks — the
    hash inputs differ by design)."""
    got = _n2v(spark, PAIRS, p=1.0, q=1.0, num_walks=2, walk_length=5, seed=2)
    edge_set = {tuple(sorted(p)) for p in PAIRS}
    for _, (_, seq) in got.items():
        assert len(seq) == 5
        for u, v in zip(seq, seq[1:]):
            assert tuple(sorted((u, v))) in edge_set


def test_n2v_validation(spark):
    edges = datagen.edges_df(spark, PAIRS)
    with pytest.raises(ValueError):
        node2vec_walks(edges, p=0.0)
    with pytest.raises(ValueError):
        node2vec_walks(edges, q=-1.0)
    with pytest.raises(ValueError):
        node2vec_walks(edges, strategy="bogus")
    with pytest.raises(ValueError):
        node2vec_walks(edges, max_attempts=0)


def test_local_kernel_parity_all_strategies(spark):
    """The single-task local kernel replays the walks byte-identically
    to both distributed strategies (the hash coins are the same Spark
    xxhash64 projections), unweighted AND weighted, including
    restricted start sets and starts absent from the graph."""
    import pyspark.sql.functions as F

    edges = datagen.edges_df(spark, PAIRS)

    def corp(e, **kw):
        return {
            r["walk_id"]: (r["start"], tuple(r["seq"]))
            for r in random_walks(e, num_walks=2, walk_length=6, seed=5,
                                  **kw).collect()
        }

    a = corp(edges, strategy="local")
    assert a == corp(edges, strategy="broadcast")
    assert a == corp(edges, strategy="shuffle")
    assert a == corp(edges)  # auto selects local at this size

    wedges = edges.withColumn(
        "weight", (F.xxhash64("src", "dst") % 5 + 6).cast("double")
    )
    aw = corp(wedges, weighted=True, strategy="local")
    assert aw == corp(wedges, weighted=True, strategy="shuffle")

    # restricted starts, including an id the graph does not contain:
    # dropped silently on every strategy (the inner-degree-join seed
    # contract)
    starts = edges.sparkSession.createDataFrame(
        [(0,), (5,), (999,)], "id long"
    )
    sl = corp(edges, starts=starts, strategy="local")
    assert sl == corp(edges, starts=starts, strategy="shuffle")
    assert {s for s, _ in sl.values()} == {0, 5}


def test_local_kernel_parity_huge_long_ids_and_big_seed(spark):
    """Two float64-precision regressions pinned: (1) vertex ids above
    2^53 survive the kernel's Arrow transfer and its walk-id formatting
    (a long that passed through float64 anywhere would lose low bits);
    (2) a seed outside int32 hashes through the 8-byte branch exactly
    like Spark's LongType literal (hash_py_int)."""
    base = 2 ** 61
    pairs = [(base + a, base + b) for a, b in PAIRS]
    edges = datagen.edges_df(spark, pairs)

    def corp(strategy=None, seed=5):
        return {
            r["walk_id"]: (r["start"], tuple(r["seq"]))
            for r in random_walks(
                edges, num_walks=2, walk_length=6, seed=seed,
                strategy=strategy,
            ).collect()
        }

    a = corp(strategy="local")
    assert a == corp(strategy="shuffle")
    assert all(
        all(v >= base for v in seq) for _, seq in a.values()
    )  # no id got rounded
    big_seed = 2 ** 31 + 7
    assert corp(strategy="local", seed=big_seed) == corp(
        strategy="shuffle", seed=big_seed
    )
    n2v_l = {
        r["walk_id"]: tuple(r["seq"])
        for r in node2vec_walks(
            edges, p=0.5, q=2.0, num_walks=1, walk_length=5,
            seed=big_seed, strategy="local",
        ).collect()
    }
    n2v_d = {
        r["walk_id"]: tuple(r["seq"])
        for r in node2vec_walks(
            edges, p=0.5, q=2.0, num_walks=1, walk_length=5,
            seed=big_seed, strategy="shuffle",
        ).collect()
    }
    assert n2v_l == n2v_d


def test_local_kernel_parity_long_and_non_ascii_string_ids(spark):
    """String ids of >= 32 bytes (the four-lane stripe loop of the
    walk-id hash) and non-ASCII ids (multi-byte UTF-8, whose byte order
    is the code order): both flavors, unweighted from every vertex and
    weighted from a start set holding an absent id, replay the
    distributed corpus byte for byte."""
    import hashlib

    import pyspark.sql.functions as F

    def key(v):
        if v % 3 == 0:
            return "0x" + hashlib.sha1(str(v).encode()).hexdigest()  # 42 bytes
        return f"wället-{v}-中" if v % 3 == 1 else f"ü{v}"

    edges = spark.createDataFrame(
        [(key(a), key(b)) for a, b in PAIRS], "src string, dst string"
    )
    wedges = edges.withColumn(
        "weight", (F.xxhash64("src", "dst") % 5 + 6).cast("double")
    )
    starts = spark.createDataFrame(
        [(key(0),), (key(4),), (key(20),), ("0x" + "f" * 40,)], "id string"
    )
    for walk in (random_walks, node2vec_walks):
        kw = {"p": 0.5, "q": 2.0} if walk is node2vec_walks else {}
        for e, weighted, st in ((edges, False, None), (wedges, True, starts)):
            def corp(strategy):
                return {
                    r["walk_id"]: (r["start"], tuple(r["seq"]))
                    for r in walk(
                        e, num_walks=2, walk_length=4, seed=1009,
                        weighted=weighted, starts=st, strategy=strategy, **kw,
                    ).collect()
                }

            local = corp("local")
            assert local and local == corp("broadcast")


@pytest.mark.parametrize("flavor", ["random", "node2vec"])
def test_distributed_walks_release_frontiers(spark, flavor):
    """Every frontier is a local checkpoint, which
    ``DataFrame.unpersist`` cannot free: only the corpus' own
    checkpoint may stay pinned after the distributed loop."""
    edges = datagen.edges_df(spark, PAIRS)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    kw = {"p": 0.5, "q": 2.0} if flavor == "node2vec" else {}
    walk = node2vec_walks if flavor == "node2vec" else random_walks
    corpus = walk(edges, num_walks=1, walk_length=4, seed=1, strategy="shuffle", **kw)
    leaves = corpus._jdf.queryExecution().analyzed().collectLeaves()
    own = {leaves.apply(i).rdd().id() for i in range(leaves.size())}
    assert set(jsc.getPersistentRDDs().keys()) - before <= own


def test_duplicate_starts_deduped_all_strategies(spark):
    """A duplicated start id yields ONE walk batch per distinct id on
    every strategy (previously the distributed assembly merged the
    colliding walk_ids into a single 2L-length row while the kernel
    emitted two L-length rows)."""
    edges = datagen.edges_df(spark, PAIRS)
    starts = edges.sparkSession.createDataFrame(
        [(0,), (0,), (5,)], "id long"
    )
    for strat in ("local", "shuffle"):
        rows = random_walks(
            edges, num_walks=1, walk_length=4, seed=3, starts=starts,
            strategy=strat,
        ).collect()
        assert sorted(r["walk_id"] for r in rows) == ["0#0", "5#0"]
        assert all(len(r["seq"]) == 4 for r in rows)


def test_n2v_local_kernel_parity(spark):
    """The node2vec replay kernel (in-kernel Spark-bit-exact xxhash64
    chaining, functions/xxh64.py) reproduces the distributed
    rejection-sampling corpus byte-identically across (p, q) regimes,
    weighted included."""
    import pyspark.sql.functions as F

    edges = datagen.edges_df(spark, PAIRS)

    def corp(e, **kw):
        return {
            r["walk_id"]: (r["start"], tuple(r["seq"]))
            for r in node2vec_walks(
                e, num_walks=2, walk_length=6, seed=5, **kw
            ).collect()
        }

    for p, q in ((0.5, 2.0), (2.0, 0.5), (1.0, 1.0)):
        assert corp(edges, p=p, q=q, strategy="local") == corp(
            edges, p=p, q=q, strategy="shuffle"
        )
    wedges = edges.withColumn(
        "weight", (F.xxhash64("src", "dst") % 5 + 6).cast("double")
    )
    assert corp(wedges, p=0.5, q=2.0, weighted=True, strategy="local") == corp(
        wedges, p=0.5, q=2.0, weighted=True, strategy="shuffle"
    )


def test_adjacency_reuse_identical_corpus(spark):
    """A caller-prebuilt (persisted, pre-partitioned) adjacency yields
    byte-identical corpora for both walk flavors — the one-time build
    is reusable across corpora, the scale-dominant amortization."""
    edges = datagen.edges_df(spark, PAIRS)
    adj = ranked_adjacency(edges).repartition("src", "rank").persist()
    try:
        base = _corpus(spark, PAIRS, num_walks=2, walk_length=6, seed=5)
        reused = {
            r["walk_id"]: (r["start"], tuple(r["seq"]))
            for r in random_walks(
                edges, num_walks=2, walk_length=6, seed=5, adjacency=adj
            ).collect()
        }
        assert base == reused
        n2v_base = _n2v(spark, PAIRS, p=0.5, q=2.0, num_walks=2,
                        walk_length=6, seed=5)
        n2v_reused = {
            r["walk_id"]: (r["start"], tuple(r["seq"]))
            for r in node2vec_walks(
                edges, p=0.5, q=2.0, num_walks=2, walk_length=6, seed=5,
                adjacency=adj,
            ).collect()
        }
        assert n2v_base == n2v_reused
    finally:
        adj.unpersist()


def test_caller_cache_preserved(spark):
    """A caller-persisted canonical table passed with
    assume_canonical=True is still persisted after the walk returns
    (the engine only unpersists caches it created)."""
    from cryptowalletcommunitydetection_spark.graph.edges import (
        canonicalize_edges,
    )

    canon = canonicalize_edges(datagen.edges_df(spark, PAIRS)).persist()
    try:
        canon.count()
        random_walks(canon, num_walks=1, walk_length=3, seed=1,
                     assume_canonical=True).count()
        assert canon.storageLevel.useMemory
        node2vec_walks(canon, p=0.5, q=2.0, num_walks=1, walk_length=3,
                       seed=1, assume_canonical=True).count()
        assert canon.storageLevel.useMemory
    finally:
        canon.unpersist()


def test_n2v_weighted_concentration(spark):
    """Weighted node2vec proposals follow edge weight: from a hub whose
    one spoke carries 50x the weight, most first hops take the heavy
    spoke (first transition is ∝ w, bias-free)."""
    from pyspark.sql import functions as F

    pairs = datagen.star(9)
    edges = datagen.edges_df(spark, pairs).withColumn(
        "weight",
        F.when((F.col("src") == 0) & (F.col("dst") == 1), 50.0).otherwise(1.0),
    )
    starts = spark.createDataFrame([(0,)], ["id"])
    got = node2vec_walks(
        edges, p=0.5, q=2.0, num_walks=120, walk_length=2, seed=23,
        starts=starts, weighted=True,
    ).collect()
    heavy = sum(1 for r in got if r["seq"][1] == 1)
    # expected ~50/58 ≈ 86%; demand a loose majority band
    assert heavy / len(got) > 0.6


def test_n2v_weighted_deterministic_and_valid(spark):
    from pyspark.sql import functions as F

    pairs = datagen.two_cliques_bridge(5)
    edges = datagen.edges_df(spark, pairs).withColumn(
        "weight", (F.col("src") + F.col("dst") + 1).cast("double")
    )
    kw = dict(p=0.5, q=2.0, num_walks=2, walk_length=6, seed=9, weighted=True)
    a = {r["walk_id"]: tuple(r["seq"])
         for r in node2vec_walks(edges, **kw).collect()}
    b = {r["walk_id"]: tuple(r["seq"])
         for r in node2vec_walks(edges.repartition(5), **kw).collect()}
    assert a == b
    edge_set = {tuple(sorted(p)) for p in pairs}
    for seq in a.values():
        for u, v in zip(seq, seq[1:]):
            assert tuple(sorted((u, v))) in edge_set


def test_walk_plans_pure_jvm(spark):
    """ranked_adjacency and skipgram_pairs stay entirely JVM-side; the
    only Python node anywhere in the walk family is alias_tables'
    Arrow partition kernel (MapInArrow — vectorized over whole
    partitions, never a per-vertex group map)."""
    edges = datagen.edges_df(spark, PAIRS)
    adj_plan = ranked_adjacency(edges)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in adj_plan
    assert "Python" not in adj_plan  # fully JVM
    corpus = random_walks(edges, num_walks=1, walk_length=4, seed=1)
    sg_plan = skipgram_pairs(corpus)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in sg_plan
    alias_plan = alias_tables(edges)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in alias_plan  # Arrow map only
    assert "FlatMapGroupsInPandas" not in alias_plan  # no per-vertex groups
    assert "MapInArrow" in alias_plan


def test_alias_core_integer_weight_fuzz():
    """Round-5 regression (review finding): with many vertices in ONE
    partition and small-integer weights, `scaled` lands exactly on 1.0
    and the donor/finalize pairing resolves exact D == S ties — a
    segmented cumsum with cross-segment float residue mispaired ~6% of
    integer-weight vectors (marginal errors up to 0.12). Fuzz the raw
    kernel over many multi-vertex partitions: Walker marginals must be
    exact for every vertex, and each vertex's table must be identical
    no matter which other segments share its partition."""
    import numpy as np

    from cryptowalletcommunitydetection_spark.graph.walks import _alias_core

    rng = np.random.default_rng(7)
    for trial in range(200):
        n_seg = int(rng.integers(2, 60))
        lens = rng.integers(1, 9, n_seg)
        seg = np.repeat(np.arange(n_seg), lens)
        w = rng.integers(1, 7, len(seg)).astype(np.float64)
        prob, alias_row, rank = _alias_core(seg, w)
        assert ((prob >= 0.0) & (prob <= 1.0)).all()
        # exact marginal per vertex
        start = 0
        for s, L in enumerate(lens):
            rows = np.arange(start, start + L)
            marg = np.zeros(L)
            for r in rows:
                marg[r - start] += prob[r] / L
                marg[alias_row[r] - start] += (1.0 - prob[r]) / L
                assert seg[alias_row[r]] == s  # alias never crosses
            np.testing.assert_allclose(
                marg, w[rows] / w[rows].sum(), atol=1e-12,
                err_msg=f"trial {trial} segment {s} weights {w[rows]}",
            )
            # partitioning invariance: the segment alone produces the
            # same table (alias rows rebased)
            p1, a1, _ = _alias_core(np.zeros(L, dtype=np.int64), w[rows])
            np.testing.assert_array_equal(prob[rows], p1)
            np.testing.assert_array_equal(alias_row[rows] - start, a1)
            start += L


def test_alias_tables_hub_vectorized(spark):
    """A 10^5-degree weighted hub builds through the vectorized
    partition kernel in seconds (the former per-element Python loop
    took minutes at this degree) and keeps the exact Walker marginal
    on spot-checked spokes."""
    import numpy as np
    import pandas as pd

    n = 100_000
    pdf = pd.DataFrame({
        "src": np.zeros(n, dtype=np.int64),
        "dst": np.arange(1, n + 1, dtype=np.int64),
        "weight": (np.arange(n) % 97 + 1).astype("float64"),
    })
    edges = spark.createDataFrame(pdf)
    tab = alias_tables(edges).filter("src = 0").collect()
    assert len(tab) == n
    w = pdf["weight"].to_numpy()
    total = w.sum()
    marg = np.zeros(n + 2)
    for r in tab:
        marg[r["dst"]] += r["prob"] / n
        marg[r["alias_dst"]] += (1.0 - r["prob"]) / n
    want = np.zeros(n + 2)
    want[1:n + 1] = w / total
    assert np.allclose(marg, want, atol=1e-9)
