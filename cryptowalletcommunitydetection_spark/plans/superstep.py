"""One superstep loop for the distributed iterative operators.

PageRank, label propagation, k-core and HITS iterate alike (the Pregel
shape, Malewicz et al., SIGMOD 2010): join the next state from the
current one, pin it, measure it, test convergence. ``run_supersteps``
owns what surrounds the operator's plan — the checkpoint (Parquet
under a ``RunManifest``, else a lazy ``localCheckpoint`` that the
measure action computes and pins in the same job), the release of
superseded and, on failure, live states and persisted inputs (a
manifest deletes the Parquet states it supersedes itself), the
resume from a manifest, and one metrics record per superstep.
graph/local_kernel.py's ``iterate`` is its driver-side twin.
``scoped_conf`` is the one place that narrows session conf for a plan.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import RunManifest, release_local_checkpoint

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


class Supersteps(NamedTuple):
    state: DataFrame  # the last state as the step wrote it
    record: dict      # the last superstep's record (``first`` before any)
    supersteps: int
    converged: bool
    metrics: list[dict]


def run_supersteps(
    state: DataFrame,
    step: Callable[[DataFrame, dict], DataFrame],
    measure: Callable[[DataFrame], dict],
    done: Callable[[dict], bool],
    *,
    max_iter: int,
    manifest: RunManifest | None = None,
    resume: Callable[[DataFrame], DataFrame] | None = None,
    first: dict | None = None,
    inputs: tuple[DataFrame, ...] = (),
) -> Supersteps:
    """Iterate from ``state`` until ``done(record)`` or ``max_iter``.

    ``step(prev, record)`` plans the next state from the previous one
    and the previous record (``first`` at a fresh start, the manifest's
    last record on a resume, where ``resume`` rebuilds the state read
    back). ``measure(new)`` runs the superstep's actions and returns
    ``delta``, ``rows`` and any extra record entries. Without a
    manifest the returned state is a local checkpoint: release it with
    ``release_local_checkpoint`` unless the result keeps it. ``inputs``
    are unpersisted on every exit.
    """
    spark = state.sparkSession
    record, k0 = dict(first or {}), 0
    pinned: list[DataFrame] = []  # live local checkpoints, oldest first
    try:
        if manifest is not None:
            last = manifest.last_complete()
            if last >= 0:
                state = manifest.load_state(spark, last)
                state = resume(state) if resume else state
                record, k0 = manifest.supersteps[-1], last + 1
                if done(record):
                    return Supersteps(state, record, k0, True, manifest.metrics())
        else:
            state = state.localCheckpoint(eager=True)
            pinned.append(state)
        records: list[dict] = []
        for k in range(k0, max_iter):
            t0 = time.monotonic()
            new = step(state, record)
            if manifest is not None:
                new = manifest.checkpoint(new, k)
            else:
                new = new.localCheckpoint(eager=False)
                pinned.append(new)
            m = measure(new)  # the action that computes and pins ``new``
            record = {"k": k, "wall_ms": (time.monotonic() - t0) * 1e3, **m}
            records.append(record)
            if manifest is not None:
                manifest.record_superstep(record)
            while len(pinned) > 1:  # superseded: ``new`` no longer reads them
                release_local_checkpoint(pinned[0])
                pinned.pop(0)
            state = new
            if done(record):
                break
        converged = bool(records) and done(record)
        metrics = manifest.metrics() if manifest is not None else records
        return Supersteps(state, record, k0 + len(records), converged, metrics)
    except BaseException:
        for df in pinned:
            release_local_checkpoint(df)
        raise
    finally:
        for df in inputs:
            df.unpersist()


def unchanged(record: dict) -> bool:
    """The convergence test of an integer-state loop: no value moved."""
    return record["delta"] == 0


def count_changed(col: str) -> Callable[[DataFrame], dict]:
    """The measure of an integer-state loop, one aggregate: ``delta`` =
    rows whose ``col`` differs from ``_old``, ``rows`` = state rows."""

    def measure(new: DataFrame) -> dict:
        row = new.agg(
            F.sum((F.col(col) != F.col("_old")).cast("long")).alias("_chg"),
            F.count(F.lit(1)).alias("_n"),
        ).collect()[0]
        return {"delta": int(row["_chg"] or 0), "rows": row["_n"]}

    return measure


@contextmanager
def scoped_conf(spark: SparkSession, rows: int | None = None, settings: dict | None = None):
    """Set ``settings`` and, given ``rows``, narrow the shuffle width to
    ~100k rows per partition (at least 8, never above the session
    value, a non-numeric one left alone) while the body runs; restore
    every touched key on exit. Session-global: a concurrent job on the
    same session sees the narrowed values meanwhile."""
    settings = dict(settings or {})
    if rows is not None:
        before, parts = spark.conf.get(SHUFFLE_PARTITIONS), max(8, -(-rows // 100_000))
        if before.isdigit() and int(before) > parts:
            settings[SHUFFLE_PARTITIONS] = str(parts)
    saved = {key: spark.conf.get(key) for key in settings}
    try:
        for key, value in settings.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in saved.items():
            spark.conf.set(key, value)
