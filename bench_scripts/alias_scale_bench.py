"""Round-5: the vectorized Walker alias-table build at scale (VERDICT
r4 "What's wrong #1" follow-through — the former per-element Python
two-stack loop was the engine's one flagged scale-killer).

Measures, on the same 11M-canonical-edge uniform random string-key
graph as distributed_paths.py:

1. `alias_tables` build + full materialization (22M directed rows
   through the mapInArrow partition kernel + the two degree joins);
2. a weighted walk corpus over it (200k walkers x L=5, shuffle
   strategy — the weighted production path end to end).

Usage: python bench_scripts/alias_scale_bench.py  (env: DP_E_RAW,
SPARK_GRAFT_CPUS as in distributed_paths.py)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

E_RAW = int(os.environ.get("DP_E_RAW", 11_000_000))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", 32))


def steal() -> int:
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except Exception:
        return 0


def main() -> None:
    from pyspark.sql import functions as F

    from cryptowalletcommunitydetection_spark import build_session
    from cryptowalletcommunitydetection_spark.graph.edges import (
        canonicalize_edges,
    )
    from cryptowalletcommunitydetection_spark.graph.walks import (
        alias_tables, random_walks,
    )

    spark = build_session(
        app_name="alias-scale-r05", master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    V = E_RAW // 3
    raw = (
        spark.range(E_RAW)
        .select(
            F.concat(F.lit("w"), F.pmod(F.xxhash64("id", F.lit(1)), F.lit(V))).alias("src"),
            F.concat(F.lit("w"), F.pmod(F.xxhash64("id", F.lit(2)), F.lit(V))).alias("dst"),
            (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(97)) + 1).cast("double").alias("weight"),
        )
    )
    edges = canonicalize_edges(raw, weight="weight").persist()
    m = edges.count()
    out = {"E_canonical": m, "V": V, "cpus": CPUS}

    s0, t0 = steal(), time.monotonic()
    tab = alias_tables(edges, assume_canonical=True).persist()
    n_rows = tab.count()
    out["alias_build"] = {
        "directed_rows": n_rows,
        "wall_sec": round(time.monotonic() - t0, 3),
        "steal_jiffies": steal() - s0,
        "rows_per_sec": round(n_rows / (time.monotonic() - t0), 1),
    }
    print(f"alias build: {out['alias_build']}", file=sys.stderr, flush=True)
    tab.unpersist()

    starts = (
        edges.select(F.col("src").alias("id")).distinct().limit(200_000)
        .localCheckpoint(eager=True)
    )
    s0, t0 = steal(), time.monotonic()
    corpus_rows = random_walks(
        edges, num_walks=1, walk_length=5, seed=3, weighted=True,
        assume_canonical=True, starts=starts, strategy="shuffle",
    ).count()
    out["weighted_corpus_200k_L5"] = {
        "corpus_rows": corpus_rows,
        "wall_sec": round(time.monotonic() - t0, 3),
        "steal_jiffies": steal() - s0,
    }
    print(f"weighted corpus: {out['weighted_corpus_200k_L5']}",
          file=sys.stderr, flush=True)

    with open(os.path.join(REPO, "BENCH", "alias_scale_r05.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
