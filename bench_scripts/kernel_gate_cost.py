"""Cost of the local-kernel size gate and of the local result, measured
three ways.

``bailout``: every auto site of the gate on an input of twice its gate,
so the call goes distributed. One tree (a checkout of the engine) per
fresh-JVM child process; the reported wall of a site is the minimum
over ``--reps`` children, and each child records the single-thread
bandwidth canary and the steal jiffies around its run
(``perfbench/host.py``). Comparing two trees compares what each puts in
front of the distributed path: a persist-and-count probe, a worker task
that reads gate + 1 rows and bails out, or a driver collect of gate + 1
rows. Iterative operators are capped at 2 supersteps (k-core then
raises at its cap, which is caught), so the walls are bail-out + set-up
+ 2 supersteps, the same work on both trees. ``--raw`` passes
``assume_canonical=False``, so each call canonicalizes its input with a
shuffle first.

``result``: every auto site, the two walk corpora included, on an input
of ``--scale`` (default 0.5) times its gate, so the call runs the local
kernel; each site's wall is the call plus a Parquet write of its result
(``call_write_s``) and then one join of the result with the edge table
and a ``count()`` (``join_s``); the minimum is taken on their sum. Trees
and reps alternate as in ``bailout``.

Both modes run the sites in ascending input size and record, after each
site, the driver's peak RSS so far (``rss_mb``: the Python driver and
the JVM, each its own high-water mark), so the last site's entry is the
peak at the largest input.

``batch``: the four kernel calls of the ``graph`` benchmark workload
(PageRank, CC, LPA, triangles, each with its Parquet write) on a staged
edge table, with ``spark.sql.execution.arrow.maxRecordsPerBatch`` at
each given value, alternating, minimum over ``--reps``.

    python bench_scripts/kernel_gate_cost.py bailout --trees OLD NEW --work DIR [--raw]
    python bench_scripts/kernel_gate_cost.py result --trees OLD NEW --work DIR [--scale 0.5]
    python bench_scripts/kernel_gate_cost.py batch --edges PARQUET --work DIR

Each prints one JSON line per child and a summary JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# site -> (input rows: 2x its gate in the call's own row units, call)
BAILOUT_SITES = {
    "pagerank": (4_000_000, "pagerank(spark, e, tol=0.0, max_iter=2, assume_canonical=True)"),
    "connected_components": (2_000_000, "connected_components(spark, e, assume_canonical=True)"),
    "label_propagation": (4_000_000, "label_propagation(spark, e, max_iter=2, assume_canonical=True)"),
    "triangles_per_vertex": (4_000_000, "triangles_per_vertex(e, assume_canonical=True)"),
    "triangle_count": (4_000_000, "triangle_count(e, assume_canonical=True)"),
    "edge_support": (4_000_000, "edge_support(e, assume_canonical=True)"),
    "k_truss": (4_000_000, "k_truss(e, 3, assume_canonical=True)"),
    "core_numbers": (8_000_000, "core_numbers(spark, e, max_iter=2, assume_canonical=True)"),
    "hits": (4_000_000, "hits(spark, e, max_iter=2, directed=False, assume_canonical=True)"),
}

# site -> (its gate in the call's own input rows, call); the walk
# corpora start one 10-step walk at each id below a tenth of the input
# rows (``starts``), so both walk gates -- corpus cells and directed
# adjacency rows -- sit at the same multiple of the gate as the rows
RESULT_SITES = {
    "pagerank": (2_000_000, "pagerank(spark, e, tol=1e-6, max_iter=20, assume_canonical=True)"),
    "connected_components": (1_000_000, "connected_components(spark, e, assume_canonical=True)"),
    "label_propagation": (2_000_000, "label_propagation(spark, e, max_iter=10, assume_canonical=True)"),
    "triangles_per_vertex": (2_000_000, "triangles_per_vertex(e, assume_canonical=True)"),
    "triangle_count": (2_000_000, "triangle_count(e, assume_canonical=True)"),
    "edge_support": (2_000_000, "edge_support(e, assume_canonical=True)"),
    "k_truss": (2_000_000, "k_truss(e, 3, assume_canonical=True)"),
    "core_numbers": (4_000_000, "core_numbers(spark, e, assume_canonical=True)"),
    "hits": (2_000_000, "hits(spark, e, max_iter=20, directed=False, assume_canonical=True)"),
    "random_walks": (4_000_000, "random_walks(e, num_walks=1, walk_length=10, "
                                "starts=spark.range(len_e // 10), assume_canonical=True)"),
    "node2vec_walks": (4_000_000, "node2vec_walks(e, q=2.0, num_walks=1, walk_length=10, "
                                  "starts=spark.range(len_e // 10), assume_canonical=True)"),
}

COMMON = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
sys.path.insert(0, {tree!r})  # the engine under test comes first
from perfbench.host import steal_jiffies, triad_gbs
from cryptowalletcommunitydetection_spark import build_session
from cryptowalletcommunitydetection_spark.graph import (
    connected_components, core_numbers, edge_support, k_truss, label_propagation,
    pagerank, triangle_count, triangles_per_vertex,
)
from cryptowalletcommunitydetection_spark.graph.hits import hits
from cryptowalletcommunitydetection_spark.graph.walks import node2vec_walks, random_walks

canary0, steal0 = triad_gbs(), steal_jiffies()
spark = build_session(app_name="kernel-gate-cost")
jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()


def rss_mb():  # peak RSS so far of the Python driver and of the JVM, in MB
    import resource
    with open(f"/proc/{{jvm_pid}}/status") as fh:
        hwm = next(int(x.split()[1]) for x in fh if x.startswith("VmHWM:"))
    return {{"python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024,
            "jvm": hwm // 1024}}


def frame(res):  # the result frame of an operator's result object
    for name in ("ranks", "labels", "cores", "scores"):
        res = getattr(res, name, res)
    return res


def materialize(res):
    res = frame(res)
    return res if isinstance(res, int) else res.count()


def timed(fn):
    t0 = time.perf_counter()
    try:
        materialize(fn())
    except RuntimeError as err:  # k-core at its superstep cap
        assert "fixpoint" in str(err), err
    return time.perf_counter() - t0
"""

BAILOUT_CHILD = COMMON + r"""
small = spark.createDataFrame([(0, 1), (0, 2), (1, 2), (2, 3)], "src long, dst long")
out, rss = {{}}, {{}}
for name, (rows, call) in {sites!r}.items():
    timed(lambda: eval(call, globals(), {{"e": small, "spark": spark}}))  # warm-up
    e = spark.read.parquet(os.path.join({work!r}, f"edges-{{rows}}"))
    out[name] = round(timed(lambda: eval(call, globals(), {{"e": e, "spark": spark}})), 3)
    rss[name] = rss_mb()
print("RESULT " + json.dumps({{"tree": {tree!r}, "walls": out, "rss_mb": rss,
                              "canary_gbs": [canary0, triad_gbs()],
                              "steal": steal_jiffies() - steal0}}))
"""

RESULT_CHILD = COMMON + r"""
import shutil

small = spark.createDataFrame([(0, 1), (0, 2), (1, 2), (2, 3)], "src long, dst long")
out_dir = os.path.join({work!r}, "result-out")
out, rss = {{}}, {{}}
for name, (rows, call) in {sites!r}.items():
    for e in (small, spark.read.parquet(os.path.join({work!r}, f"edges-{{rows}}"))):
        shutil.rmtree(out_dir, ignore_errors=True)
        env = {{"e": e, "spark": spark, "len_e": 40 if e is small else rows}}
        t0 = time.perf_counter()
        res = frame(eval(call, globals(), env))
        if isinstance(res, int):  # triangle_count: nothing to write or join
            wall = {{"call_s": time.perf_counter() - t0}}
        else:
            res.write.parquet(out_dir)
            t1 = time.perf_counter()
            key = "start" if "start" in res.columns else res.columns[0]
            res.join(e, res[key] == e["src"]).count()
            wall = {{"call_write_s": t1 - t0, "join_s": time.perf_counter() - t1}}
        wall["total_s"] = sum(wall.values())
    out[name] = {{k: round(v, 3) for k, v in wall.items()}}
    rss[name] = rss_mb()
print("RESULT " + json.dumps({{"tree": {tree!r}, "walls": out, "rss_mb": rss,
                              "canary_gbs": [canary0, triad_gbs()],
                              "steal": steal_jiffies() - steal0}}))
"""

BATCH_CHILD = COMMON + r"""
import shutil
e = spark.read.parquet({edges!r})
calls = {{
    "pagerank": lambda: pagerank(spark, e, tol=1e-6, assume_canonical=True).ranks,
    "cc": lambda: connected_components(spark, e, assume_canonical=True),
    "lpa": lambda: label_propagation(spark, e, max_iter=10, assume_canonical=True).labels,
    "triangles": lambda: triangles_per_vertex(e, assume_canonical=True),
}}
out_dir = os.path.join({work!r}, "batch-out")
walls = {{}}
for rep in range(1 + {reps}):  # the first round warms the JVM up
    for size in {sizes!r}:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(size))
        for name, fn in calls.items():
            shutil.rmtree(out_dir, ignore_errors=True)
            t0 = time.perf_counter()
            fn().write.parquet(out_dir)
            if rep:
                walls.setdefault(f"{{name}}@{{size}}", []).append(round(time.perf_counter() - t0, 3))
print("RESULT " + json.dumps({{"walls": walls, "canary_gbs": [canary0, triad_gbs()],
                              "steal": steal_jiffies() - steal0}}))
"""


def _child(code: str) -> dict:
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True)
    lines = [x for x in proc.stdout.splitlines() if x.startswith("RESULT ")]
    if proc.returncode or not lines:
        raise RuntimeError(proc.stderr[-4000:])
    res = json.loads(lines[-1][len("RESULT "):])
    print(json.dumps(res), flush=True)
    return res


def _stage(work: str, sizes) -> None:
    """Uniform random canonical edge tables, |V| = |E| (mean degree 2),
    one per input size, written once."""
    todo = sorted(rows for rows in set(sizes)
                  if not os.path.exists(os.path.join(work, f"edges-{rows}")))
    if not todo:
        return
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from cryptowalletcommunitydetection_spark import build_session

    spark = build_session(app_name="kernel-gate-cost-stage")
    for rows in todo:
        # oversample, canonicalize, keep exactly `rows` distinct pairs
        ids = spark.range(int(rows * 1.1)).select(
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(rows)).alias("a"),
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(rows)).alias("b"),
        ).where(F.col("a") != F.col("b"))
        canon = ids.select(F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst"))
        canon.distinct().orderBy("src", "dst").limit(rows).write.parquet(
            os.path.join(work, f"edges-{rows}")
        )
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["bailout", "result", "batch"])
    ap.add_argument("--work", required=True)
    ap.add_argument("--trees", nargs="+", default=[REPO])
    ap.add_argument("--edges")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--sizes", type=int, nargs="+", default=[10_000, 100_000])
    ap.add_argument("--sites", nargs="+", help="default: every site of the mode")
    ap.add_argument("--raw", action="store_true", help="calls canonicalize their input")
    ap.add_argument("--scale", type=float, default=0.5, help="result: input size / gate")
    args = ap.parse_args()
    os.makedirs(args.work, exist_ok=True)
    if args.mode == "batch":
        res = _child(BATCH_CHILD.format(
            tree=REPO, repo=REPO, edges=args.edges, work=args.work, reps=args.reps,
            sizes=args.sizes,
        ))
        print(json.dumps({k: min(v) for k, v in res["walls"].items()}))
        return
    if args.mode == "bailout":
        flag = f"assume_canonical={not args.raw}"
        sites = {k: (rows, call.replace("assume_canonical=True", flag))
                 for k, (rows, call) in BAILOUT_SITES.items()}
        child, total = BAILOUT_CHILD, lambda wall: wall
    else:
        sites = {k: (int(gate * args.scale), call) for k, (gate, call) in RESULT_SITES.items()}
        child, total = RESULT_CHILD, lambda wall: wall["total_s"]
    # ascending input size: the last site's RSS is the peak at the largest
    sites = dict(sorted(((k, v) for k, v in sites.items() if k in (args.sites or sites)),
                        key=lambda kv: kv[1][0]))
    _stage(args.work, [rows for rows, _ in sites.values()])
    best: dict = {}
    for _ in range(args.reps):  # alternate the trees, one child each
        for tree in args.trees:
            res = _child(child.format(tree=tree, repo=REPO, work=args.work, sites=sites))
            for site, wall in res["walls"].items():
                cur = best.setdefault(tree, {}).get(site)
                best[tree][site] = wall if cur is None or total(wall) < total(cur) else cur
    print(json.dumps(best))


if __name__ == "__main__":
    main()
