"""SparkSession factory with deterministic, scale-oriented defaults.

Single place for engine configuration (SURVEY.md §7 step 1). The
reference hand-tunes ThreadPoolExecutor worker counts and cursor batch
sizes (cli/exchange_deposit_wallets.py:29, databases/blockchain_etl.py:41);
here parallelism is Spark cores + shuffle partitions and batching is the
vectorized Parquet/Arrow reader.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Share of physical memory given to the driver JVM heap by default; the
# rest stays for the Python workers, the page cache and other tenants.
DRIVER_MEM_SHARE = 4


def _default_driver_mem() -> str:
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{phys // 2**20 // DRIVER_MEM_SHARE}m"


def build_session(
    app_name: str = "cwcd-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    - AQE on (runtime coalesce + skew-join splitting),
    - Arrow on (vectorized pandas_udf / mapInPandas transfer),
    - UTC session timezone (oracle comparability),
    - shuffle partitions sized to cores, not the 200 default,
    - host-sized: ``SPARK_GRAFT_CPUS`` cores (default: every CPU of the
      host) and a ``SPARK_GRAFT_DRIVER_MEM`` driver heap (default: a
      quarter of physical memory).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Bound the textual plan the SQL listener renders per query.
        # Iterative operators can legitimately reach thousands of plan
        # nodes, and the default (unbounded) explain string OOMed a 1g
        # spark-submit driver purely on StringConcat while the query
        # itself was fine (observed with a 20-superstep walk chain
        # before its per-step checkpoints landed). 8 MB keeps plans
        # debuggable; truncation only affects the UI/event-log string.
        .config("spark.sql.maxPlanStringLength", str(8 * 1024 * 1024))
        # local mode: shuffle spill dirs default fine; checkpoints via engine-managed parquet
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def right_size(df, min_partitions: int | None = None):
    """Round-robin repartition a DataFrame whose split count is narrower
    than the cluster, so that a following map-only projection uses every
    core.

    A per-row stage (MinHash fold, winnowing fingerprint, decode kernel)
    is only as parallel as its input splits: a single-file local scan
    would run the whole projection on ONE task. At warehouse scale the
    scan already has thousands of splits and this is a no-op — the
    exchange is added only when the input is narrower than
    ``defaultParallelism``. Callers must keep any expensive-expression
    FILTER out of the downstream plan (Catalyst pushes filters below
    this exchange — see operators/dedup.py minhash_signatures for the
    Generate-based drop pattern).
    """
    par = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
