"""Superstep checkpointing + run manifest (resumable iterative jobs).

Replaces the reference's ``last_synced`` cursor files
(utils/file_utils.py:51-66, advanced per batch at
cli/exchange_deposit_wallets.py:121-123) with a structured run manifest:
each superstep's state is written to Parquet (which also truncates Spark
lineage — without it, iterative join plans grow unboundedly) and a JSON
manifest records, per superstep, wall time, convergence delta, row count
and per-partition lineage, so any run can resume from the last complete
superstep with identical results (tested in tests/test_resume.py).
plans/superstep.py drives the distributed loops over it; a manifest is
keyed on its operator's parameters and on ``content_identity`` of the
inputs, so a changed input starts fresh.

Group/superstep identifiers are deterministic — the reference's uuid4 ids
(services/wallet_clustering.py:6-7,33) would break replay equality.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def checkpoint_df(df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` to Parquet and read it back (lineage truncation).

    The write is atomic at the directory level from the manifest's point
    of view: the manifest records a superstep only after the write
    returns, so a killed run never references a partial checkpoint.
    """
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


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


def content_identity(df: DataFrame, *cols: str) -> list[int]:
    """Content key ``[rows, Σhi, Σlo]`` of ``df`` over ``cols``: the row
    count plus the sums of the two 32-bit halves of ``xxhash64(cols)``,
    in ONE single-stage aggregate (no groupBy shuffle). Order-independent
    and multiplicity-safe: a duplicated row adds its hash again, where an
    XOR would cancel the pair. The halves are summed as decimals, so no
    row count can overflow them under ANSI mode."""
    h = F.xxhash64(*cols)
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.shiftright(h, 32).cast("decimal(28,0)")),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF)).cast("decimal(28,0)")),
    ).collect()[0]
    return [int(row[0]), int(row[1] or 0), int(row[2] or 0)]


def partition_lineage(spark: SparkSession, path: str) -> list[dict[str, Any]]:
    """Per-partition lineage of a checkpoint: file name, rows, bytes.

    Local checkpoint dirs are read as parquet FOOTERS only (pyarrow on
    the driver — zero Spark jobs; the footer is O(1) per file, so even a
    wide checkpoint costs milliseconds). Remote paths fall back to one
    distributed per-file count job.
    """
    local_dir = path
    for pre in ("file://", "file:"):
        if local_dir.startswith(pre):
            local_dir = local_dir[len(pre):]
    if os.path.isdir(local_dir):
        import pyarrow.parquet as pq

        out = []
        for fn in sorted(os.listdir(local_dir)):
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(local_dir, fn)
            out.append(
                {
                    "file": fn,
                    "rows": pq.ParquetFile(fp).metadata.num_rows,
                    "bytes": os.path.getsize(fp),
                }
            )
        return out
    rows = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .collect()
    )
    out = []
    for r in rows:
        fname = r["file"]
        local = fname.replace("file://", "").replace("file:", "")
        size = os.path.getsize(local) if os.path.exists(local) else None
        out.append({"file": os.path.basename(local), "rows": r["rows"], "bytes": size})
    return sorted(out, key=lambda d: d["file"])


@dataclass
class RunManifest:
    """JSON manifest of an iterative run under ``run_dir``.

    Layout::

        run_dir/
          manifest.json          # {algo, params, supersteps: [...]}
          superstep_00000/       # parquet state after superstep 0
          superstep_00001/
          ...

    A state directory is either a Spark write (one part file per
    partition, via ``checkpoint``) or, from a driver-side kernel such as
    PageRank's local path, one ``part-00000.parquet`` written with
    pyarrow; ``load_state`` and ``partition_lineage`` read both.
    """

    run_dir: str
    algo: str = ""
    params: dict[str, Any] = field(default_factory=dict)
    supersteps: list[dict[str, Any]] = field(default_factory=list)

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
        """Resume if a manifest exists with the same algo+params, else start fresh."""
        mp = os.path.join(run_dir, "manifest.json")
        if os.path.exists(mp):
            m = cls.load(run_dir)
            if m.algo == algo and m.params == params:
                return m
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

    def resume_point(self, done: Callable[[dict], bool]) -> tuple[int, bool]:
        """The last recorded superstep (-1 if none) and whether the run
        had converged there, by the operator's test ``done(record)``."""
        last = self.last_complete()
        return last, any(
            s["k"] == last and s.get("delta") is not None and done(s)
            for s in self.supersteps
        )

    def load_state(self, spark: SparkSession, k: int) -> DataFrame:
        return spark.read.parquet(self.step_path(k))

    def record_superstep(
        self,
        spark: SparkSession,
        k: int,
        *,
        wall_ms: float,
        delta: float | int | None,
        rows: int,
        extra: dict[str, Any] | None = None,
    ) -> None:
        entry: dict[str, Any] = {
            "k": k,
            "wall_ms": round(wall_ms, 3),
            "delta": delta,
            "rows": rows,
            "completed_at": time.time(),
        }
        if extra:
            entry.update(extra)
        entry["partitions"] = partition_lineage(spark, self.step_path(k))
        # idempotent on resume: drop any stale record for the same k
        self.supersteps = [s for s in self.supersteps if s["k"] != k] + [entry]
        self.supersteps.sort(key=lambda s: s["k"])
        self.save()

    def checkpoint(self, df: DataFrame, k: int) -> DataFrame:
        return checkpoint_df(df, self.step_path(k))

    def metrics(self) -> list[dict[str, Any]]:
        return list(self.supersteps)
