"""Superstep checkpointing + run manifest (resumable iterative jobs).

Replaces the reference's ``last_synced`` cursor files
(utils/file_utils.py:51-66, advanced per batch at
cli/exchange_deposit_wallets.py:121-123) with a structured run manifest:
each superstep's state is written to Parquet (which also truncates Spark
lineage — without it, iterative join plans grow unboundedly) and a JSON
manifest records, per superstep, wall time, convergence delta, row count
and per-partition lineage, so any run can resume from the last complete
superstep with identical results (tested in tests/test_resume.py). Like
the reference's one cursor, a run keeps one live state: the last.
plans/superstep.py drives the distributed loops over it, and
graph/local_kernel.py's ``run_kernel`` the driver-side kernels; a
manifest is keyed on its operator's parameters and on the content
identity of the inputs (``content_identity`` in Spark,
``arrow_identity`` over the kernel's collected rows: the same key), so
a changed input starts fresh and a run dir crosses strategies where
their key spaces agree.

Group/superstep identifiers are deterministic — the reference's uuid4 ids
(services/wallet_clustering.py:6-7,33) would break replay equality.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.xxh64 import hash_arrow


def release_local_checkpoint(df: DataFrame) -> None:
    """Drop the blocks pinned by ``x.localCheckpoint(...)`` under ``df``.

    ``DataFrame.unpersist`` only removes cache-manager entries, and a
    local checkpoint never creates one: its blocks belong to the RDD
    under the plan's ``LogicalRDD`` and otherwise stay pinned until the
    JVM garbage-collects that plan. ``df`` is the checkpoint's result or
    a plan over it; every locally checkpointed ``LogicalRDD`` leaf of
    that plan is released, and no other leaf is touched.
    """
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD" and leaf.rdd().isLocallyCheckpointed():
            leaf.rdd().unpersist(False)


def content_identity(df: DataFrame, *cols: str | Column) -> list[int]:
    """Content key ``[rows, Σhi, Σlo]`` of ``df`` over ``cols``: the row
    count plus the sums of the two 32-bit halves of ``xxhash64(cols)``,
    in ONE single-stage aggregate (no groupBy shuffle). Order-independent
    and multiplicity-safe: a duplicated row adds its hash again, where an
    XOR would cancel the pair. The halves are summed as decimals, so no
    row count can overflow them under ANSI mode. Weights enter as
    doubles (``weight.cast("double")``), the type the driver-side
    kernel collects, so ``arrow_identity`` reproduces the key."""
    h = F.xxhash64(*cols)
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.shiftright(h, 32).cast("decimal(28,0)")),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF)).cast("decimal(28,0)")),
    ).collect()[0]
    return [int(row[0]), int(row[1] or 0), int(row[2] or 0)]


def arrow_identity(columns) -> list[int]:
    """``content_identity`` of the rows held by the pyarrow ``columns``,
    bit for bit and without a Spark job: the same ``xxhash64`` chain
    (``functions/xxh64.py::hash_arrow``), halves and sums."""
    h = hash_arrow(columns).view(np.int64)
    return [len(h), int((h >> 32).sum()), int((h & 0xFFFFFFFF).sum())]


def partition_lineage(path: str) -> list[dict[str, Any]]:
    """Per-partition lineage of a checkpoint: file name, rows, bytes,
    read from the Parquet FOOTERS in the driver (pyarrow, zero Spark
    jobs; O(1) per file, so even a wide checkpoint costs milliseconds).
    A run dir is a POSIX path that the driver sees."""
    return [
        {"file": fn, "rows": pq.ParquetFile(os.path.join(path, fn)).metadata.num_rows,
         "bytes": os.path.getsize(os.path.join(path, fn))}
        for fn in sorted(os.listdir(path)) if fn.endswith(".parquet")
    ]


@dataclass
class RunManifest:
    """JSON manifest of an iterative run under ``run_dir``.

    Layout of a finished run::

        run_dir/
          manifest.json          # {algo, params, supersteps: [...]}, one
                                 # record per superstep 0..k
          superstep_0000k/       # parquet state after the last superstep

    Resume reads only the last recorded state, so recording superstep
    ``k`` deletes every earlier state that this manifest object (one
    operator call) wrote. A state an earlier call of the same run wrote
    stays: a DataFrame that call returned may still read it, so a
    resumed run dir holds that state plus its own last one. A fresh
    start over another run deletes that run's states. A state directory is
    either a Spark write (one part file per partition) or, from a
    driver-side kernel, one ``part-00000.parquet`` written with pyarrow
    (see ``checkpoint``); ``load_state`` and ``partition_lineage`` read
    both.
    """

    run_dir: str
    algo: str = ""
    params: dict[str, Any] = field(default_factory=dict)
    supersteps: list[dict[str, Any]] = field(default_factory=list)
    written: set[int] = field(default_factory=set)  # states this object wrote

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.run_dir, "manifest.json")

    def step_path(self, k: int) -> str:
        return os.path.join(self.run_dir, f"superstep_{k:05d}")

    @classmethod
    def load(cls, run_dir: str) -> "RunManifest":
        with open(os.path.join(run_dir, "manifest.json")) as f:
            d = json.load(f)
        return cls(
            run_dir=run_dir,
            algo=d.get("algo", ""),
            params=d.get("params", {}),
            supersteps=d.get("supersteps", []),
        )

    @classmethod
    def open_or_create(
        cls, run_dir: str, algo: str, params: dict[str, Any]
    ) -> "RunManifest":
        """Resume if a manifest exists with the same algo+params, else
        start fresh: the other run's states go, so that a finished run
        dir holds only its own last state."""
        mp = os.path.join(run_dir, "manifest.json")
        if os.path.exists(mp):
            m = cls.load(run_dir)
            if m.algo == algo and m.params == params:
                return m
            for d in os.listdir(run_dir):
                if d.startswith("superstep_"):
                    shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
        os.makedirs(run_dir, exist_ok=True)
        m = cls(run_dir=run_dir, algo=algo, params=params)
        m.save()
        return m

    def save(self) -> None:
        os.makedirs(self.run_dir, exist_ok=True)
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"algo": self.algo, "params": self.params, "supersteps": self.supersteps},
                f,
                indent=1,
            )
        os.replace(tmp, self.manifest_path)

    def last_complete(self) -> int:
        """Highest superstep index recorded as complete; -1 if none."""
        return max((s["k"] for s in self.supersteps), default=-1)

    def load_state(self, spark: SparkSession, k: int) -> DataFrame:
        return spark.read.parquet(self.step_path(k))

    def record_superstep(self, record: dict[str, Any]) -> None:
        """Record superstep ``record["k"]`` (``wall_ms``, ``delta``,
        ``rows`` and any extra entries) with its state's lineage, then
        delete the states it supersedes that this object wrote."""
        k = record["k"]
        entry = {**record, "wall_ms": round(record["wall_ms"], 3), "completed_at": time.time(),
                 "partitions": partition_lineage(self.step_path(k))}
        # idempotent on resume: drop any stale record for the same k
        self.supersteps = [s for s in self.supersteps if s["k"] != k] + [entry]
        self.supersteps.sort(key=lambda s: s["k"])
        self.save()
        for j in sorted(j for j in self.written if j < k):  # superseded
            shutil.rmtree(self.step_path(j), ignore_errors=True)
            self.written.discard(j)

    def checkpoint(self, state: DataFrame | pa.Table, k: int) -> DataFrame | pa.Table:
        """Write superstep ``k``'s state: a DataFrame through Spark, read
        back (lineage truncation); a driver-side pyarrow Table as one
        part file, returned as it is. The manifest records the state
        only after the write returns, so a killed run never references
        a partial checkpoint."""
        self.written.add(k)
        if isinstance(state, DataFrame):
            state.write.mode("overwrite").parquet(self.step_path(k))
            return state.sparkSession.read.parquet(self.step_path(k))
        d = self.step_path(k)
        shutil.rmtree(d, ignore_errors=True)  # stale files of an older run
        os.makedirs(d)
        pq.write_table(state, os.path.join(d, "part-00000.parquet"))
        return state

    def commit(self, state: pa.Table, record: dict[str, Any]) -> None:
        """Write and record one superstep of a driver-side kernel."""
        self.checkpoint(state, record["k"])
        self.record_superstep(record)

    def metrics(self) -> list[dict[str, Any]]:
        return list(self.supersteps)
