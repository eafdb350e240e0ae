"""Two-parallelism scaling evidence (BASELINE.md measurement protocol).

The north rule's >=0.8 throughput scaling efficiency between N and 4N
executor clusters cannot use a real cluster in this sandbox; per the
driver instruction it is evidenced by running the same PageRank job at
local[8] and local[32] on identical input and reporting throughput at
both plus efficiency = (T32_throughput / T8_throughput) / 4.

Two measurement modes:

- ``synth`` (default): a large deterministic synthetic graph generated
  distributively (spark.range + xxhash64 — no driver materialization),
  dense enough that per-superstep compute dominates fixed coordination
  cost. This is the honest local-mode proxy for cluster data-parallel
  scaling: the kernel of every superstep (scatter join + gather
  aggregation over ~2x|E| directed edge rows) is the part that scales
  with executors on a real cluster. Fixed superstep count (tol=0), and
  throughput is computed from the MEDIAN per-superstep wall so first-
  superstep JIT/cache warmup doesn't bias either level.
- ``sf``: the sf0.1 bipartite trade graph run to 1e-6 convergence (the
  headline bench.py kernel). At this small scale fixed per-superstep
  coordination dominates, so thread-scaling understates cluster scaling;
  reported for completeness.

Each measurement runs in its own subprocess (fresh JVM — Spark masters
can't change within a process). Results append to BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SYNTH_CHILD = r"""
import json, statistics, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from cryptowalletcommunitydetection_spark import build_session
from cryptowalletcommunitydetection_spark.graph.edges import canonicalize_edges
from cryptowalletcommunitydetection_spark.graph.pagerank import pagerank

cpus, V, E, steps, repeats = {cpus}, {V}, {E}, {steps}, {repeats}
spark = build_session(app_name=f"scaling-synth-{{cpus}}", master=f"local[{{cpus}}]",
                      shuffle_partitions=cpus)
edges = (spark.range(E)
         .select(F.pmod(F.xxhash64("id", F.lit(1)), F.lit(V)).alias("src"),
                 F.pmod(F.xxhash64("id", F.lit(2)), F.lit(V)).alias("dst"))
         .filter(F.col("src") != F.col("dst")))
ce = canonicalize_edges(edges).persist()
n = ce.count()
# several full measurements in one JVM (graph setup amortized); the
# MINIMUM median-superstep across repeats is the noise-robust estimate —
# transient host contention only ever inflates a wall, never deflates it
meds, all_walls = [], []
for _ in range(repeats):
    res = pagerank(spark, ce, tol=0.0, max_iter=steps, weighted=True)
    walls = [m["wall_ms"] / 1e3 for m in res.metrics]
    all_walls.append([round(w, 2) for w in walls])
    meds.append(statistics.median(walls))
best = min(meds)
print("RESULT " + json.dumps({{
    "cpus": cpus, "V": V, "n_edges": n, "supersteps": steps,
    "superstep_walls": all_walls,
    "median_superstep_sec": round(best, 3),
    "medians_per_repeat": [round(m, 3) for m in meds],
    "throughput": (2 * n) / best,
}}))
"""

SF_CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from cryptowalletcommunitydetection_spark import build_session
from cryptowalletcommunitydetection_spark import entry_queries as EQ
from cryptowalletcommunitydetection_spark.graph.pagerank import pagerank

cpus = {cpus}
spark = build_session(app_name=f"scaling-sf-{{cpus}}", master=f"local[{{cpus}}]",
                      shuffle_partitions=cpus)
edges = EQ._bipartite_edges(spark, {sf_dir!r})
n = edges.cache().count()
pagerank(spark, edges, tol=0.0, max_iter=1, weighted=True)  # warmup
t0 = time.monotonic()
res = pagerank(spark, edges, tol=1e-6, weighted=True, max_iter=100)
wall = time.monotonic() - t0
print("RESULT " + json.dumps({{
    "cpus": cpus, "n_edges": n, "supersteps": res.supersteps,
    "converged": res.converged, "wall_sec": round(wall, 2),
    "throughput": (2 * n * res.supersteps) / wall,
}}))
"""


FILES_CHILD = r"""
import json, statistics, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from cryptowalletcommunitydetection_spark import build_session
from cryptowalletcommunitydetection_spark.datagen import gen_files_distributed
from cryptowalletcommunitydetection_spark.graph.edges import derive_edges
from cryptowalletcommunitydetection_spark.graph.pagerank import pagerank


def steal_jiffies():
    # /proc/stat cpu line, field 8 (steal) — hypervisor-withheld time.
    # This sandbox is a shared-host microVM with bursty steal (~10-15%
    # averaged, far higher inside a burst); per-repeat steal deltas let
    # the parent discard contaminated measurement windows instead of
    # publishing a wall that mostly measures a neighbor tenant.
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


cpus, n_files, steps, repeats = {cpus}, {n_files}, {steps}, {repeats}
spark = build_session(app_name=f"scaling-files-{{cpus}}", master=f"local[{{cpus}}]",
                      shuffle_partitions=cpus)
files = gen_files_distributed(spark, n_files=n_files, n_repos=n_files // 20,
                              n_entities=50_000)
# derivation throughput: full re-derivation per repeat (no cache reuse —
# each count() recomputes the mapInPandas extraction + co-occurrence agg)
d_walls, d_steals = [], []
for _ in range(repeats):
    s0, t0 = steal_jiffies(), time.monotonic()
    derive_edges(files).count()
    d_walls.append(time.monotonic() - t0)
    d_steals.append(steal_jiffies() - s0)
d_best = min(d_walls)
# superstep throughput on the derived table (the north metric's kernel);
# persist once — the measured walls are per-superstep, post-derivation
ce = derive_edges(files).persist()
n = ce.count()
meds, p_steals = [], []
for _ in range(repeats):
    # forced distributed kernel: the scaling claim is about the path a
    # >LOCAL_PR_MAX_EDGES graph takes (at 200k files the derived table is
    # ~33M edges and auto picks it anyway; forcing keeps smaller smoke
    # runs honest instead of silently measuring the single-task kernel)
    s0 = steal_jiffies()
    res = pagerank(spark, ce, tol=0.0, max_iter=steps, weighted=True,
                   strategy="broadcast", assume_canonical=True)
    meds.append(statistics.median(m["wall_ms"] / 1e3 for m in res.metrics))
    p_steals.append(steal_jiffies() - s0)
best = min(meds)
print("RESULT " + json.dumps({{
    "cpus": cpus, "n_files": n_files, "n_edges": n, "supersteps": steps,
    "derive_walls": [round(w, 2) for w in d_walls],
    "derive_steal_jiffies": d_steals,
    "derive_best_sec": round(d_best, 3),
    "files_per_sec": n_files / d_best,
    "median_superstep_sec": round(best, 3),
    "medians_per_repeat": [round(m, 3) for m in meds],
    "pagerank_steal_jiffies": p_steals,
    "throughput": (2 * n) / best,
}}))
"""


def run_child(code: str) -> dict:
    p = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=3600
    )
    line = [l for l in p.stdout.splitlines() if l.startswith("RESULT ")]
    if not line:
        raise RuntimeError(f"child failed:\n{p.stderr[-2000:]}")
    return json.loads(line[-1][len("RESULT "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["synth", "sf", "both", "files"],
                    default="synth")
    ap.add_argument("--n-files", type=int, default=200_000)
    ap.add_argument("--passes", type=int, default=2,
                    help="interleaved low/high child passes (files mode)")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--vertices", type=int, default=2_000_000)
    ap.add_argument("--edges", type=int, default=96_000_000)
    ap.add_argument("--steps", type=int, default=5)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--low", type=int, default=8)
    ap.add_argument("--high", type=int, default=32)
    args = ap.parse_args()

    sections = []
    result = {}

    if args.mode in ("synth", "both"):
        lo = run_child(SYNTH_CHILD.format(
            repo=REPO, cpus=args.low, V=args.vertices, E=args.edges,
            steps=args.steps, repeats=args.repeats))
        hi = run_child(SYNTH_CHILD.format(
            repo=REPO, cpus=args.high, V=args.vertices, E=args.edges,
            steps=args.steps, repeats=args.repeats))
        eff = (hi["throughput"] / lo["throughput"]) / (args.high / args.low)
        result["synth"] = {"efficiency": eff, "low": lo, "high": hi}
        sections.append(f"""
## Scaling run — synthetic dense graph, |V|={args.vertices:,}, |E|={lo['n_edges']:,} (canonical)

Deterministic uniform random graph generated distributively
(spark.range + xxhash64, seed fixed); PageRank weighted supersteps,
fixed {args.steps} iterations × {args.repeats} repeated measurements per
level in one JVM. Estimate = MINIMUM of the per-repeat median superstep
walls — transient host contention in this shared sandbox only ever
inflates a wall, so the min is the noise-robust throughput estimate.
Sandbox proxy for N vs 4N executors: local[{args.low}] vs local[{args.high}] on identical input.

| config | directed edge traversals/superstep | best median superstep (s) | medians per repeat (s) | throughput (edges/s/superstep) |
|---|---|---|---|---|
| local[{args.low}] | {2 * lo['n_edges']:,} | {lo['median_superstep_sec']} | {lo['medians_per_repeat']} | {lo['throughput']:.0f} |
| local[{args.high}] | {2 * hi['n_edges']:,} | {hi['median_superstep_sec']} | {hi['medians_per_repeat']} | {hi['throughput']:.0f} |

throughput ratio = {hi['throughput'] / lo['throughput']:.3f}; parallelism ratio = {args.high // args.low};
**scaling efficiency = {eff:.3f}** (criterion: >= 0.8).
""")

    if args.mode in ("sf", "both"):
        lo = run_child(SF_CHILD.format(repo=REPO, cpus=args.low, sf_dir=args.sf_dir))
        hi = run_child(SF_CHILD.format(repo=REPO, cpus=args.high, sf_dir=args.sf_dir))
        eff = (hi["throughput"] / lo["throughput"]) / (args.high / args.low)
        result["sf"] = {"efficiency": eff, "low": lo, "high": hi}
        sections.append(f"""
## Scaling run — PageRank to 1e-6, {args.sf_dir}

| config | canonical edges | supersteps | wall (s) | edges/sec/superstep |
|---|---|---|---|---|
| local[{args.low}] | {lo['n_edges']} | {lo['supersteps']} | {lo['wall_sec']} | {lo['throughput']:.0f} |
| local[{args.high}] | {hi['n_edges']} | {hi['supersteps']} | {hi['wall_sec']} | {hi['throughput']:.0f} |

throughput ratio = {hi['throughput'] / lo['throughput']:.3f}; efficiency = {eff:.3f}.

Note: at this small scale (~16k vertices) fixed per-superstep driver/JVM
coordination dominates compute, so local-mode thread scaling understates
cluster data-parallel scaling — the synthetic dense-graph section above
is the scaling-efficiency evidence; this section documents the absolute
convergence kernel at SF scale.
""")

    if args.mode == "files":
        # Interleaved A/B/A/B child runs: host-level CPU-steal bursts on
        # this shared microVM can last longer than one whole child (the
        # first files-mode run measured local[32] 3x slower than an
        # identical run minutes later), so a single child per level can
        # publish a wall that is mostly neighbor-tenant noise. Running
        # low/high alternately and keeping the best child per level bounds
        # the damage to one interleave slot; per-repeat steal jiffies are
        # recorded so a contaminated slot is visible in the output.
        runs = {"low": [], "high": []}
        for _ in range(args.passes):
            runs["low"].append(run_child(FILES_CHILD.format(
                repo=REPO, cpus=args.low, n_files=args.n_files,
                steps=args.steps, repeats=args.repeats)))
            runs["high"].append(run_child(FILES_CHILD.format(
                repo=REPO, cpus=args.high, n_files=args.n_files,
                steps=args.steps, repeats=args.repeats)))
        lo = max(runs["low"], key=lambda r: r["throughput"])
        hi = max(runs["high"], key=lambda r: r["throughput"])
        lo["files_per_sec"] = max(r["files_per_sec"] for r in runs["low"])
        hi["files_per_sec"] = max(r["files_per_sec"] for r in runs["high"])
        eff = (hi["throughput"] / lo["throughput"]) / (args.high / args.low)
        d_eff = (hi["files_per_sec"] / lo["files_per_sec"]) / (args.high / args.low)
        result["files"] = {"efficiency": eff, "derive_efficiency": d_eff,
                           "low": lo, "high": hi, "all_runs": runs}
        sections.append(f"""
## Scaling run — files-derived edge table (the north-rule input path), {args.n_files:,} files

The full pipeline the north rule names, at two parallelism levels on
identical input: files table (repo, path, commit, lang, content)
generated distributively -> real mapInPandas regex entity extraction ->
within-repo co-occurrence edge table -> PageRank weighted supersteps
(distributed broadcast kernel forced — the >LOCAL_PR_MAX_EDGES path;
fixed {lo['supersteps']}, x {args.repeats} repeats per level in one JVM,
MIN of per-repeat median superstep walls). Derivation throughput is a
full uncached re-derivation per repeat (min of {args.repeats}).
Sandbox proxy for N vs 4N executors: local[{args.low}] vs local[{args.high}].
Contention protocol: {args.passes} interleaved low/high child JVMs per
level (best child kept), per-repeat hypervisor steal jiffies recorded —
this shared-host microVM shows bursty CPU steal that can span a whole
child, so single-shot level measurements are not trustworthy here.
Kept-child steal per repeat: low {lo['pagerank_steal_jiffies']},
high {hi['pagerank_steal_jiffies']} (derive:
{lo['derive_steal_jiffies']} / {hi['derive_steal_jiffies']}).

| config | files/s (derivation) | derived canonical edges | best median superstep (s) | medians per repeat (s) | throughput (edges/s/superstep) |
|---|---|---|---|---|---|
| local[{args.low}] | {lo['files_per_sec']:.0f} {lo['derive_walls']} | {lo['n_edges']:,} | {lo['median_superstep_sec']} | {lo['medians_per_repeat']} | {lo['throughput']:.0f} |
| local[{args.high}] | {hi['files_per_sec']:.0f} {hi['derive_walls']} | {hi['n_edges']:,} | {hi['median_superstep_sec']} | {hi['medians_per_repeat']} | {hi['throughput']:.0f} |

superstep throughput ratio = {hi['throughput'] / lo['throughput']:.3f}; parallelism ratio = {args.high // args.low};
**scaling efficiency = {eff:.3f}** (criterion: >= 0.8).
Derivation (mapInPandas extraction) scaling efficiency = {d_eff:.3f}.
""")

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    mode = "a" if os.path.exists(path) else "w"
    with open(path, mode) as f:
        if mode == "w":
            f.write("# BENCH/BASELINE.md — measured scaling evidence\n")
        for s in sections:
            f.write(s)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
