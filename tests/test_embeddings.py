"""DeepWalk embedding pipeline (SURVEY.md §2.10 training-data
extension): walk corpus -> MLlib Word2Vec -> (id, embedding) table.

No closed-form oracle exists for SGD embeddings, so the contract is:
schema (drop-in for the similarity operators / `embeddings` table),
domain (exactly the walked vertices), geometry (community structure in
the graph becomes cosine structure in the space — intra-clique
similarity must beat inter-clique), reuse (a precomputed corpus trains
identically to the implicit one), and compatibility (the ANN operators
consume the output unchanged).
"""

import numpy as np
import pytest

from cryptowalletcommunitydetection_spark import datagen
from cryptowalletcommunitydetection_spark.graph.embeddings import (
    deepwalk_embeddings,
)
from cryptowalletcommunitydetection_spark.graph.walks import random_walks

PAIRS = datagen.two_cliques_bridge(6)


def _vectors(spark, pairs, **kw):
    edges = datagen.edges_df(spark, pairs)
    out = deepwalk_embeddings(edges, **kw)
    return {r["id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in out.collect()}


def _cos(a, b):
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_schema_and_domain(spark):
    edges = datagen.edges_df(spark, PAIRS)
    out = deepwalk_embeddings(
        edges, dim=8, num_walks=4, walk_length=8, seed=3, max_iter=1
    )
    assert out.columns == ["id", "embedding"]
    assert out.schema["id"].dataType.simpleString() == (
        edges.schema["src"].dataType.simpleString()
    )
    assert out.schema["embedding"].dataType.simpleString() == "array<float>"
    ids = {r["id"] for r in out.select("id").collect()}
    assert ids == set(range(12))  # every walked vertex, original type


def test_community_geometry(spark):
    """Two 6-cliques joined by one bridge: average intra-clique cosine
    must exceed average inter-clique cosine — the embedding space
    reflects the graph's community structure."""
    vecs = _vectors(
        spark, PAIRS, dim=16, num_walks=30, walk_length=10, seed=7,
        window=4, max_iter=4,
    )
    a, b = list(range(6)), list(range(6, 12))
    intra = [_cos(vecs[i], vecs[j]) for g in (a, b)
             for i in g for j in g if i < j]
    inter = [_cos(vecs[i], vecs[j]) for i in a for j in b]
    assert np.mean(intra) > np.mean(inter) + 0.1


def test_corpus_reuse_matches_implicit(spark):
    """Training on an explicitly precomputed corpus gives the same
    vectors as letting the function generate the identical corpus
    (num_partitions=1 -> the opt-in bit-reproducible SGD mode)."""
    edges = datagen.edges_df(spark, PAIRS)
    kw = dict(dim=8, num_walks=4, walk_length=8, seed=11, max_iter=1,
              num_partitions=1)
    implicit = _vectors(spark, PAIRS, **kw)
    corpus = random_walks(edges, num_walks=4, walk_length=8, seed=11)
    out = deepwalk_embeddings(edges, corpus=corpus, **kw)
    explicit = {r["id"]: np.asarray(r["embedding"], dtype=np.float64)
                for r in out.collect()}
    assert implicit.keys() == explicit.keys()
    for k in implicit:
        assert np.array_equal(implicit[k], explicit[k])


def test_sharded_training_matches_per_component(spark):
    """Component-sharded path (`shard_vocab_above`): two DISJOINT
    6-cliques with bound 5 -> two shards, one component each. Walks
    never leave a component (every hop is an edge), so on a disjoint
    union the walks starting in clique A are byte-identical to the
    walks over clique A alone — per-shard training at num_partitions=1
    must therefore reproduce, vector for vector, a stand-alone training
    of each component."""
    from pyspark.sql import functions as F

    clique_a = datagen.clique(6)                      # vertices 0..5
    clique_b = [(s + 6, d + 6) for s, d in datagen.clique(6)]  # 6..11
    kw = dict(dim=8, num_walks=4, walk_length=8, seed=11, max_iter=1,
              num_partitions=1)
    edges = datagen.edges_df(spark, clique_a + clique_b)
    sharded = deepwalk_embeddings(edges, shard_vocab_above=5, **kw)
    got = {r["id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in sharded.collect()}
    assert set(got) == set(range(12))  # full walked domain survives
    assert sharded.schema["embedding"].dataType.simpleString() == (
        "array<float>"
    )
    for pairs, members in ((clique_a, range(6)), (clique_b, range(6, 12))):
        alone = _vectors(spark, pairs, **kw)
        assert set(alone) == set(members)
        for k in alone:
            assert np.array_equal(got[k], alone[k])


def test_sharded_oversized_component_and_seq_only_corpus(spark):
    """Round-5 regression (review findings): (a) a component LARGER
    than the bound must train alone — the floor-bucketed shard ids
    skip values there, and iterating a plain range crashed Word2Vec on
    the empty gap shard; (b) the documented 'any DataFrame with a seq
    column' corpus contract must survive sharding (walks are assigned
    to components by their first element, not by a walk_id/start
    column the corpus may not have)."""
    from pyspark.sql import functions as F

    big = datagen.clique(11)                                   # 0..10
    small = [(s + 11, d + 11) for s, d in datagen.clique(6)]   # 11..16
    edges = datagen.edges_df(spark, big + small)
    kw = dict(dim=8, num_walks=2, walk_length=6, seed=5, max_iter=1,
              num_partitions=1)
    out = deepwalk_embeddings(edges, shard_vocab_above=5, **kw)
    got = {r["id"] for r in out.select("id").collect()}
    assert got == set(range(17))  # both shards trained, none empty
    # seq-only corpus through the sharded path
    corpus = random_walks(edges, num_walks=2, walk_length=6, seed=5)
    seq_only = corpus.select("seq")
    out2 = deepwalk_embeddings(
        edges, corpus=seq_only, shard_vocab_above=5, **kw
    )
    vec1 = {r["id"]: tuple(r["embedding"]) for r in out.collect()}
    vec2 = {r["id"]: tuple(r["embedding"]) for r in out2.collect()}
    assert vec1 == vec2  # same corpus -> bit-identical per shard



def test_sharded_packs_only_walked_components(spark):
    """Sharding packs only components that carry walks, and keeps walks
    whose start is not a vertex of ``edges``. Two disjoint 6-cliques
    with ``starts`` limited to clique A and bound 5: clique B carries no
    walk, so no shard may fit Word2Vec on zero sentences, and the
    vectors cover exactly the walked vertices. A caller's corpus with
    one extra walk from outside ``edges`` trains that walk too."""
    from pyspark.sql import functions as F

    clique_a = datagen.clique(6)                               # 0..5
    clique_b = [(s + 6, d + 6) for s, d in datagen.clique(6)]  # 6..11
    edges = datagen.edges_df(spark, clique_a + clique_b)
    starts = spark.range(6).select(F.col("id"))
    kw = dict(dim=8, num_walks=4, walk_length=8, seed=11, max_iter=1,
              num_partitions=1)
    out = deepwalk_embeddings(edges, starts=starts, shard_vocab_above=5, **kw)
    assert {r["id"] for r in out.select("id").collect()} == set(range(6))

    corpus = random_walks(
        edges, num_walks=4, walk_length=8, seed=11, starts=starts
    ).select("seq")
    stray = spark.createDataFrame([([99, 98, 99],)], corpus.schema)
    out2 = deepwalk_embeddings(
        edges, corpus=corpus.unionByName(stray), shard_vocab_above=5, **kw
    )
    got = {r["id"] for r in out2.select("id").collect()}
    assert got == set(range(6)) | {98, 99}


def test_default_is_data_parallel(spark):
    """The default (num_partitions=None) resolves to
    defaultParallelism — the scalable mode — and keeps the geometry
    contract: same-clique vertices stay more similar than cross-clique
    ones even under data-parallel SGD averaging."""
    vecs = _vectors(
        spark, PAIRS, dim=16, num_walks=30, walk_length=10, seed=7,
        window=4, max_iter=4,
    )
    a, b = list(range(6)), list(range(6, 12))
    intra = [_cos(vecs[i], vecs[j]) for g in (a, b)
             for i in g for j in g if i < j]
    inter = [_cos(vecs[i], vecs[j]) for i in a for j in b]
    assert np.mean(intra) > np.mean(inter)


def test_ann_operator_consumes_output(spark):
    """The embedding table feeds operators/similarity.py unchanged —
    brute-force cosine top-1 over the trained space returns, for a
    clique-member query, a same-clique neighbor."""
    from pyspark.sql import functions as F

    from cryptowalletcommunitydetection_spark.operators.similarity import (
        brute_force_topk,
    )

    edges = datagen.edges_df(spark, PAIRS)
    emb = deepwalk_embeddings(
        edges, dim=16, num_walks=30, walk_length=10, seed=7, window=4,
        max_iter=4,
    )
    queries = emb.filter(F.col("id") == 0).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = brute_force_topk(
        emb.filter(F.col("id") != 0), queries, k=1, id_col="id"
    ).collect()
    assert len(top) == 1
    assert top[0]["id"] in set(range(1, 6))  # same clique as vertex 0


def test_generated_corpus_is_released(spark):
    """The corpus the function walks itself is released once the
    vectors exist; a caller's corpus stays pinned (a distributed corpus
    is a local checkpoint; a local-kernel corpus pins nothing)."""
    edges = datagen.edges_df(spark, datagen.two_cliques_bridge(5))
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    out = deepwalk_embeddings(edges, dim=4, num_walks=2, walk_length=4)
    assert out.count() == 10
    assert set(jsc.getPersistentRDDs().keys()) - before == set()

    corpus = random_walks(edges, num_walks=2, walk_length=4, strategy="broadcast")
    pinned = set(jsc.getPersistentRDDs().keys()) - before
    assert pinned
    deepwalk_embeddings(edges, dim=4, corpus=corpus).count()
    assert set(jsc.getPersistentRDDs().keys()) - before == pinned
