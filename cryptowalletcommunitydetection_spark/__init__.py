"""PySpark-native link-graph analytics engine.

A from-scratch rebuild of the query/data-processing capabilities of
trixt63/CryptoWalletCommunityDetection (reference, read-only at
/root/reference) on Apache Spark DataFrames:

- edge-table derivation from an Iceberg-style ``files`` table of
  source-code repositories (vectorized Arrow extraction, co-occurrence
  within (repo, commit) groups) — the Spark analogue of the reference's
  wallet-pair edge lists (services/wallet_clustering.py:10-12),
- iterative graph algorithms as DataFrame-only joins: connected
  components (small-star/large-star), PageRank (NetworkX semantics incl.
  dangling mass), synchronous min-label LPA, triangle counting,
- the reference's relational operator surface (filters, semi/anti joins,
  grouped set-union aggregation, as-of lookups, time bucketing, merges),
- checkpointed, resumable supersteps with per-partition lineage metrics.

No per-row Python on any hot path: built-in pyspark.sql.functions
everywhere; Python runs only as vectorized Arrow code — `mapInPandas`
in the entity-extraction stage and the driver-side numpy kernels the
graph operators use below their size gates.
"""

__version__ = "0.1.0"

from .session import build_session  # noqa: F401
