"""Batched external enrichment (SURVEY §2.1 S7) — the reference's RPC
fan-out pattern as a Spark operator.

The reference enriches rows by fanning batched JSON-RPC calls from a
thread pool: ``eth_call`` batches of 50-100 against a node, 8 workers,
retry on failure (jobs/dex_wallets/export_lp_contracts_job.py:160-302,
batch constants at :20,27,179-183). The Spark-native shape of that
workload is ONE ``mapInPandas`` operator: partitions are the worker
pool (cluster-wide, not 8 driver threads), each Arrow batch is sliced
into caller-sized request batches, and the caller's client function is
invoked once per batch with retry — external I/O stays at the
partition boundary, rows never cross the driver.

The engine ships the PLUMBING (slicing, schema, retry, ordering
discipline); the actual RPC client is the caller's — in this sandbox
tests drive it with deterministic fakes, exactly like the multimodal
decode boundary (operators/multimodal.py).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from ..streaming.scheduler import retry_call


def batched_enrich(
    df: DataFrame,
    fn: Callable,
    out_schema,
    batch_size: int = 100,
    tries: int = 3,
    max_sleep: float = 10.0,
) -> DataFrame:
    """Apply ``fn(pdf_batch) -> pdf`` to ``batch_size``-row slices of
    every partition; returns a DataFrame with ``out_schema``.

    ``fn`` is the external client (the reference's batched ``eth_call``
    shape: it receives at most ``batch_size`` rows and returns the
    enriched frame — any number of output rows, matching
    ``out_schema``). Each batch call is wrapped in ``retry_call``
    (``tries`` attempts, deterministic-jitter backoff — the
    reference's retry decorator around its RPC calls); a batch that
    exhausts its retries fails the TASK, and Spark's own task retry
    takes over — so ``fn`` must be idempotent per batch, the same
    contract the reference's upsert sinks give its crawlers.

    Parallelism = partitions (repartition upstream to size the
    "worker pool"; the reference hard-codes 8 threads, a cluster gets
    one worker per core). Plan stays Arrow-vectorized (``mapInPandas``
    — no per-row Python dispatch; the per-BATCH python call is the
    external-I/O boundary itself).
    """
    if batch_size < 1:
        raise ValueError("batch_size must be >= 1")

    def run(batches):
        import pandas as pd
        from pyspark import TaskContext

        # the partition id desynchronizes the retry sleeps of concurrent
        # tasks; a rerun of the same partition sleeps the same amounts
        part = TaskContext.get().partitionId()
        for pdf in batches:
            for lo in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[lo:lo + batch_size]
                out = retry_call(
                    fn, chunk, tries=tries, max_sleep=max_sleep, jitter_key=part
                )
                if out is not None and len(out):
                    yield pd.DataFrame(out)

    return df.mapInPandas(run, out_schema)
