"""What an operator call leaves pinned in the session.

``getPersistentRDDs()`` alone misses a leaked cache when an earlier
test already cached the same plan: ``persist()`` then reuses the
CacheManager entry and registers no new RDD. ``nothing_left_pinned``
empties the cache first, so every entry that is there afterwards is the
call's own.
"""

from contextlib import contextmanager


def own_rdds(df):
    """Ids of the RDDs under ``df``'s plan leaves (its own checkpoint)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {leaves.apply(i).rdd().id() for i in range(leaves.size())
            if leaves.apply(i).nodeName() == "LogicalRDD"}


@contextmanager
def nothing_left_pinned(spark):
    """Assert that the block leaves no new persistent RDD and no
    CacheManager entry behind. The block may append result frames to
    the yielded list: their own checkpoints may stay pinned."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    kept = []
    yield kept
    allowed = set().union(*map(own_rdds, kept))
    assert set(jsc.getPersistentRDDs().keys()) - before <= allowed
    assert spark._jsparkSession.sharedState().cacheManager().numCachedEntries() == 0
