"""DeepWalk vertex embeddings: walk corpus -> Word2Vec -> embedding table.

The end-to-end training-data pipeline this engine's graph side exists to
feed: the reference clusters wallets directly on the static graph
(`/root/reference/services/wallet_clustering.py`); the large-scale
successor trains vertex embeddings from random-walk corpora
(DeepWalk, Perozzi et al. 2014) and clusters / searches in the
embedding space. This module closes that loop with public Spark parts
only:

    edge table --graph/walks.py--> corpus --MLlib Word2Vec--> embeddings

and the output is shaped exactly like the engine's `embeddings` input
table (``id``, ``embedding array<float>``), so every similarity/ANN
operator in operators/similarity.py (brute-force / LSH / IVF top-k,
cosine near-dup pairs) runs on it unchanged.

Scale notes — where the ceilings actually are:

- The corpus side inherits graph/walks.py's bounds: O(L) constant-width
  joins, rank-indexed adjacency (no neighbor arrays), hash-derived
  deterministic transitions.
- MLlib Word2Vec is the documented public scale path for skip-gram on
  Spark: it trains data-parallel over ``numPartitions`` corpus splits
  and averages per-iteration deltas. Its known ceiling is the model
  broadcast: vocabulary (= |V| here) x ``dim`` floats must fit on every
  executor — 100M vertices x 128 dims x 4B = 51 GB does NOT, so at the
  top scale you shard training by component/community (train per large
  CC from graph/cc.py output) or drop dim. That trade is inherent to
  the algorithm (every public implementation broadcasts the embedding
  matrix), not to this wiring; the function exposes ``num_partitions``
  and ``step_size`` untouched so the caller owns it.
- Word2Vec's internal vocabulary build is one distributed count; the
  fit is iterative executor-side C-style SGD (JVM, no Python on the hot
  path).

Determinism: the walk corpus is a pure function of (edges, seed) —
byte-identical on any partitioning (graph/walks.py contract). Word2Vec
SGD is seeded but averages float deltas across ``num_partitions``
splits, so vectors are bit-reproducible only at ``num_partitions=1``
(the opt-in reproducibility mode); at the default data-parallel
setting the GEOMETRY is stable (same neighborhoods cluster) while
exact floats drift — same contract as every public distributed
word2vec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.checkpoint import release_local_checkpoint
from .walks import random_walks


def _fit_word2vec(sents, dim, window, min_count, max_iter,
                  num_partitions, step_size, seed, id_type):
    from pyspark.ml.feature import Word2Vec
    from pyspark.ml.functions import vector_to_array

    if num_partitions == 1:
        # make the documented bit-reproducibility contract actually
        # hold: Word2Vec repartition()s its input internally, and a
        # multi-partition corpus reaches the single training split in
        # shuffle-fetch order — which is timing-dependent, so two runs
        # over the SAME corpus could SGD in different sentence orders.
        # A narrow coalesce + in-partition sort fixes a deterministic
        # total order (identical walks are interchangeable for SGD, so
        # seq alone is a sufficient key). Cost is one single-task sort,
        # paid only at num_partitions=1 — the opt-in reproducibility
        # mode; data-parallel training keeps its documented
        # geometry-stable-not-bit-stable contract untouched.
        sents = sents.coalesce(1).sortWithinPartitions("seq")
    w2v = Word2Vec(
        vectorSize=dim,
        windowSize=window,
        minCount=min_count,
        maxIter=max_iter,
        numPartitions=num_partitions,
        stepSize=step_size,
        seed=seed,
        inputCol="seq",
        outputCol="_vec",
    )
    model = w2v.fit(sents)
    return model.getVectors().select(
        F.col("word").cast(id_type).alias("id"),
        vector_to_array(F.col("vector"), dtype="float32").alias("embedding"),
    )


def deepwalk_embeddings(
    edges: DataFrame,
    dim: int = 64,
    num_walks: int = 10,
    walk_length: int = 20,
    window: int = 5,
    seed: int = 42,
    max_iter: int = 1,
    num_partitions: int | None = None,
    min_count: int = 0,
    step_size: float = 0.025,
    assume_canonical: bool = False,
    starts: DataFrame | None = None,
    weighted: bool = False,
    corpus: DataFrame | None = None,
    shard_vocab_above: int | None = None,
) -> DataFrame:
    """Train DeepWalk embeddings; returns DataFrame[id, embedding].

    ``embedding`` is ``array<float>`` — drop-in for the similarity/ANN
    operators and the `embeddings` table contract. ``id`` keeps the
    vertex id's original type (Word2Vec tokens are strings internally;
    ids are cast out again on the way back).

    ``num_partitions=None`` (default) trains data-parallel over
    ``sparkContext.defaultParallelism`` corpus splits — the
    100-TB-posture setting (geometry-stable contract). Pass ``1`` for
    the opt-in bit-reproducible mode (single training split, corpus
    sorted into a deterministic total order first).

    ``shard_vocab_above``: the documented Word2Vec ceiling is the model
    broadcast — vocabulary (= |walked vertices|) x ``dim`` floats per
    executor. Set this to the largest vocabulary one model may hold and
    training shards by CONNECTED COMPONENT when the corpus vocabulary
    exceeds it: walks never leave their component (every hop is an
    edge), so per-component training sees exactly the sentences a joint
    model would use for those vertices — skip-gram windows never span
    components — and the union of the per-shard vector tables covers
    the same domain. Components are greedily packed into shards of
    ~``shard_vocab_above`` vertices (one driver pass over component
    SIZES only); a single component larger than the bound trains alone
    — that residual ceiling is inherent to the algorithm (every public
    implementation broadcasts the matrix), the escape hatches being a
    smaller ``dim`` or community-level sharding by the caller.

    Pass ``corpus`` (a ``random_walks`` result — or any
    DataFrame with a ``seq`` array column) to reuse an existing walk
    corpus across trainings (e.g. a dim sweep); otherwise one is
    generated from ``edges`` with the walk parameters above.

    Every vertex that appears in the corpus gets a vector
    (``min_count=0``); isolated vertices never enter walks and so never
    get one — same domain as the walk corpus itself.

    A corpus generated here is a local checkpoint; it is released once
    the vectors are built, also on failure. A caller's corpus is left
    as it is.
    """
    generated = corpus is None
    if generated:
        corpus = random_walks(
            edges,
            num_walks=num_walks,
            walk_length=walk_length,
            seed=seed,
            assume_canonical=assume_canonical,
            starts=starts,
            weighted=weighted,
        )
    try:
        spark = corpus.sparkSession
        if num_partitions is None:
            num_partitions = spark.sparkContext.defaultParallelism
        id_type = (
            corpus.schema["seq"].dataType.elementType.simpleString()
        )
        sents = corpus.select(
            F.transform(F.col("seq"), lambda v: v.cast("string")).alias("seq")
        )

        if shard_vocab_above is not None:
            vocab = corpus.select(
                F.explode("seq").alias("id")
            ).distinct().count()
            if vocab > shard_vocab_above:
                return _sharded_deepwalk(
                    spark, edges, corpus, shard_vocab_above, dim, window,
                    min_count, max_iter, num_partitions, step_size, seed,
                    id_type, assume_canonical,
                )

        # the fitted vectors are the model's own data, not a plan over
        # the corpus, so the corpus can go once this returns
        return _fit_word2vec(
            sents, dim, window, min_count, max_iter, num_partitions,
            step_size, seed, id_type,
        )
    finally:
        if generated:
            release_local_checkpoint(corpus)


def _sharded_deepwalk(
    spark, edges, corpus, bound, dim, window, min_count, max_iter,
    num_partitions, step_size, seed, id_type, assume_canonical,
):
    """Component-sharded training (see ``shard_vocab_above``): CC over
    the edge table, the components that carry walks greedily packed into
    shards of ~``bound`` vertices, one Word2Vec fit per shard, vectors
    unioned.

    The driver sees only the shard COUNT (one scalar); the packing
    itself is one window pass over the per-component size table (a
    2-column |components|-row frame — the global-order window runs in
    one task, the standard cost of a total order over a tiny dimension
    table). The loop runs ≈ vocabulary/bound fits, each reading the
    shard's slice of the one shared corpus (persisted across the loop,
    released before returning)."""
    from pyspark.sql import Window

    from .cc import connected_components

    cc = connected_components(
        spark, edges, assume_canonical=assume_canonical
    )
    # assign walks to components by their FIRST sequence element (walks
    # never leave a component), so any corpus with a `seq` column works
    # — the documented contract — whether or not it carries walk_id. A
    # walk whose start is not a vertex of `edges` (a caller's corpus)
    # is kept, keyed by its start id: no component of `edges` has it.
    keyed = (
        corpus.select(F.element_at("seq", 1).alias("_start"), "seq")
        .join(
            cc.select(F.col("id").alias("_start"), "component"), "_start", "left"
        )
        .select(
            F.coalesce("component", "_start").alias("component"),
            F.transform(F.col("seq"), lambda v: v.cast("string")).alias(
                "seq"
            ),
        )
        .persist()
    )
    amap = None
    try:
        # only components that carry at least one walk are packed: a
        # shard of walkless components would fit Word2Vec on zero
        # sentences (restricted ``starts``, or a caller's corpus)
        sizes = (
            keyed.select("component").distinct()
            .join(
                cc.groupBy("component").agg(F.count(F.lit(1)).alias("_n")),
                "component", "left",
            )
            .select("component", F.coalesce("_n", F.lit(1)).alias("_n"))
        )
        # greedy contiguous packing of size-ordered components: shard k
        # holds components whose EXCLUSIVE cumulative size lands in
        # [k*bound, (k+1)*bound) — a shard may overhang its last
        # component, so `bound` is a target, exceeded by at most one
        # component's size
        w = (
            Window.orderBy(F.desc("_n"), "component")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        # dense_rank over the floor-bucketed ids: a component LARGER
        # than the bound makes floor(cumsum/bound) skip values, and
        # iterating a plain range would fit Word2Vec on the empty gap
        # shard; dense ids enumerate exactly the non-empty shards
        amap = (
            sizes.select(
                "component",
                F.floor(
                    F.coalesce(F.sum("_n").over(w), F.lit(0)) / F.lit(bound)
                ).alias("_bucket"),
            )
            .select(
                "component",
                (
                    F.dense_rank().over(Window.orderBy("_bucket")) - F.lit(1)
                ).alias("_shard"),
            )
            .persist()
        )
        n_shards = int(amap.agg(F.max("_shard")).collect()[0][0]) + 1
        tagged = keyed.join(F.broadcast(amap), "component")
        outs = []
        for s in range(n_shards):
            sents = tagged.filter(F.col("_shard") == s).select("seq")
            outs.append(
                _fit_word2vec(
                    sents, dim, window, min_count, max_iter,
                    num_partitions, step_size, seed, id_type,
                )
            )
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        # materialize before releasing the corpus cache the fits read
        return out.localCheckpoint(eager=True)
    finally:
        keyed.unpersist()
        if amap is not None:
            amap.unpersist()
