"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "pagerank": {...}}

The headline metric follows BASELINE.json: edges processed per second
per PageRank superstep, running PageRank to 1e-6 L1 convergence on the
co-occurrence edge table derived from the lineitem table (the same
derivation the correctness gate checks against DuckDB). ``value`` is
total wall seconds across the headline queries (lower is better);
``pagerank.edges_per_sec_per_superstep`` is the throughput metric on
the engine's default adaptive strategy (the single-task vectorized
kernel below LOCAL_PR_MAX_EDGES), and ``pagerank_distributed`` is the
same measurement with the distributed superstep loop forced — the path
any graph above the size gate takes, and the r01/r02-comparable number.

Scaling-efficiency evidence (local[8] vs local[32]) is produced by
bench_scripts/scaling.py into BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def run_bench(sf_dir: str, cpus: int, quiet: bool = True) -> dict:
    from pyspark.sql import functions as F

    from cryptowalletcommunitydetection_spark import build_session
    from cryptowalletcommunitydetection_spark import entry_queries as EQ
    from cryptowalletcommunitydetection_spark.graph.pagerank import pagerank

    spark = build_session(
        app_name="cwcd-bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )

    timings: dict[str, float] = {}
    steals: dict[str, int] = {}

    def _membw_canary() -> float:
        # single-thread STREAM-triad GB/s (~0.3s). Steal jiffies only
        # see CPU preemption; a bandwidth-hungry neighbor tenant slows
        # this box with ZERO steal (observed round 5: contiguous 2-5x
        # query inflations at steal<=3). Healthy ~19 GB/s on this host
        # (BENCH/membw_control_r05.json P=1); a depressed canary marks
        # the window as bandwidth-contended.
        import numpy as np

        n = 20_000_000
        b = np.full(n, 1.000001)
        c = np.full(n, 2.0)
        a = np.empty(n)
        np.multiply(b, 1.5, out=a)
        a += c
        t0 = time.monotonic()
        np.multiply(b, 1.5, out=a)
        a += c
        return round(n * 24 * 2 / (time.monotonic() - t0) / 1e9, 1)

    def _steal() -> int:
        # /proc/stat cpu line field 8: hypervisor steal jiffies. This
        # sandbox is a shared-host microVM with bursty steal; recording
        # the per-query delta makes a contaminated one-shot run visible
        # (a wall with thousands of steal jiffies measured the neighbor
        # tenant, not this engine). 0 on platforms without the field.
        try:
            with open("/proc/stat") as f:
                return int(f.readline().split()[8])
        except Exception:
            return 0

    def timed(name, fn):
        s0, t0 = _steal(), time.monotonic()
        out = fn()
        timings[name] = round(time.monotonic() - t0, 3)
        steals[name] = _steal() - s0
        return out

    membw = {"start": _membw_canary()}

    # headline: derive the SF-scaling bipartite edge table once, persist,
    # run PageRank to 1e-6 (the BASELINE.json metric kernel)
    edges = EQ._bipartite_edges(spark, sf_dir)
    n_edges = timed("edge_derivation", lambda: edges.cache().count())

    # 15-superstep warmup (same protocol as bench_scripts/scaling.py): the
    # measured kernel is engine throughput, not first-run JVM JIT/codegen
    # compilation (~12s of the cold wall at sf0.1). Forced distributed so
    # the distributed-kernel measurement below is JIT-warm like in prior
    # rounds; it also warms the local kernel's Arrow path via auto.
    # assume_canonical: _bipartite_edges is canonical by construction
    # (grouped (cust,supp) keys, 'c…' < 's…'), so the defensive
    # re-canonicalization shuffle is skipped engine-wide this round
    pagerank(spark, edges, tol=0.0, max_iter=15, weighted=True,
             strategy="broadcast", assume_canonical=True)
    pagerank(spark, edges, tol=0.0, max_iter=2, weighted=True,
             assume_canonical=True)

    # headline: the engine's default (adaptive) strategy — below
    # LOCAL_PR_MAX_EDGES this is the single-task vectorized kernel
    s0, t0 = _steal(), time.monotonic()
    res = pagerank(spark, edges, tol=1e-6, weighted=True, max_iter=100,
                   assume_canonical=True)
    pr_wall = time.monotonic() - t0
    timings["pagerank_1e6"] = round(pr_wall, 3)
    steals["pagerank_1e6"] = _steal() - s0
    # directed edge traversals per superstep = 2x canonical edges
    edges_per_sec = (2 * n_edges * res.supersteps) / pr_wall if pr_wall else 0.0

    # distributed superstep kernel, measured separately at the same SF so
    # the r01/r02 trend line stays comparable and the north metric is
    # evidenced on the path a >LOCAL_PR_MAX_EDGES graph actually runs
    # (scaling.py benches it at 96M edges for the efficiency criterion).
    # Steal-aware min-of-repeats (round 5, same protocol as
    # files_pipeline below): the r04 one-shot number absorbed 332 steal
    # jiffies over an 89-superstep window — contention, not engine.
    prd_walls, prd_steals = [], []
    res_d = None
    for rep in range(3):
        s0, t0 = _steal(), time.monotonic()
        res_d = pagerank(spark, edges, tol=1e-6, weighted=True, max_iter=100,
                         strategy="broadcast", assume_canonical=True)
        prd_walls.append(round(time.monotonic() - t0, 3))
        prd_steals.append(_steal() - s0)
        if rep >= 1 and min(prd_steals) < 100:
            break
    prd_wall = min(prd_walls)
    steals["pagerank_distributed"] = prd_steals[prd_walls.index(prd_wall)]
    edges_per_sec_d = (
        (2 * n_edges * res_d.supersteps) / prd_wall if prd_wall else 0.0
    )

    timed("cc_components", lambda: EQ.q_cc_components(spark, sf_dir).count())
    timed("triangles", lambda: EQ.q_triangles(spark, sf_dir).count())
    timed("lpa", lambda: EQ.q_lpa_fixed(spark, sf_dir).count())
    timed("community_rollup", lambda: EQ.q_community_rollup(spark, sf_dir).count())
    timed("group_agg", lambda: EQ.q_group_agg(spark, sf_dir).count())
    timed("exact_dedup", lambda: EQ.q_exact_dedup(spark, sf_dir).count())
    # production hash mode (xxhash64); the gate query's md5_52 variant
    # exists only for DuckDB value parity
    from cryptowalletcommunitydetection_spark.operators import dedup as _dd

    timed(
        "minhash_candidates",
        lambda: _dd.minhash_lsh_candidates(
            _dd.minhash_signatures(EQ._t(spark, sf_dir, "documents"))
        ).count(),
    )
    timed("embedding_topk", lambda: EQ.q_embedding_topk(spark, sf_dir).count())
    timed("token_count", lambda: EQ.q_token_count(spark, sf_dir).count())
    timed("doc_stats", lambda: EQ.q_doc_stats(spark, sf_dir).count())
    # production hash mode (xxhash64); the gate query's md5hex variant
    # exists only for DuckDB value parity
    from cryptowalletcommunitydetection_spark.operators import text as _tx

    timed(
        "winnow_fingerprints",
        lambda: _tx.fingerprint_winnow(EQ._t(spark, sf_dir, "documents")).count(),
    )
    timed("asof_join", lambda: EQ.q_asof_join(spark, sf_dir).count())
    timed("window_rank_lag", lambda: EQ.q_window_rank_lag(spark, sf_dir).count())

    # round-3 graph extensions over the same persisted bipartite edge
    # table (coreness/PPR) and the gate graphs (linkpred/modularity)
    from cryptowalletcommunitydetection_spark.graph.kcore import core_numbers

    timed(
        "kcore",
        lambda: core_numbers(spark, edges, assume_canonical=True).cores.count(),
    )
    # deterministic seed set: the 16 smallest distinct src ids (a bare
    # limit() without ordering made the seed set — and therefore the
    # ppr_seeded wall — nondeterministic across runs/partitionings).
    # Materialized OUTSIDE the timed window as a literal local relation:
    # a real personalized run receives its seed wallets as a small
    # caller-supplied list (the reference's exchange-deposit addresses),
    # so timing the distinct+sort derivation job inside ppr_seeded
    # measured an unrelated query (~1s of the r3/r4 gap vs pagerank_1e6),
    # and the lazy subquery was re-evaluated wherever the kernel plan
    # referenced it.
    seed_ids = [
        r["id"]
        for r in edges.select(F.col("src").alias("id"))
        .distinct()
        .orderBy("id")
        .limit(16)
        .collect()
    ]
    seeds = spark.createDataFrame(
        [(i, 1.0) for i in seed_ids], "id string, weight double"
    )
    # 2-step seeded warmup: the personalized kernel's plan shape (the
    # extra `s` marker channel) carries its own first-run codegen cost,
    # exactly like the plain-pagerank warmup above — measured same-JVM
    # repeats: first seeded run gap vs plain = 1.4s, steady state 0.4-0.6s
    pagerank(spark, edges, tol=0.0, max_iter=2, weighted=True,
             assume_canonical=True, personalization=seeds)
    timed(
        "ppr_seeded",
        lambda: pagerank(
            spark, edges, tol=1e-6, weighted=True, max_iter=100,
            assume_canonical=True, personalization=seeds,
        ).ranks.count(),
    )
    # HyperBall (round 4): reported as its own section — like
    # files_pipeline — so the headline total stays comparable across
    # rounds. lg_k=10 ≈ 3.2% relative error, the published setting for
    # web-scale distance measurements (Boldi & Vigna 2013).
    from cryptowalletcommunitydetection_spark.graph.hyperball import hyperball

    s0, t0 = _steal(), time.monotonic()
    hb = hyperball(spark, edges, lg_k=10, assume_canonical=True)
    hb_wall = time.monotonic() - t0
    hb_steal = _steal() - s0
    hb.release()

    timed("sessionize", lambda: EQ.q_sessionize(spark, sf_dir).count())
    timed("adamic_adar", lambda: EQ.q_adamic_adar(spark, sf_dir).count())
    timed("modularity_lpa", lambda: EQ.q_modularity_lpa(spark, sf_dir).count())

    # round-4 graph extensions: k-truss over the triangle-rich
    # co-occurrence graph (the bipartite trade graph is triangle-free by
    # construction), walk corpus over the persisted trade graph
    from cryptowalletcommunitydetection_spark.graph.truss import k_truss
    from cryptowalletcommunitydetection_spark.graph.walks import random_walks

    cooc = EQ._cooccur_edges(spark, sf_dir)
    timed("ktruss", lambda: k_truss(cooc, 4, assume_canonical=True).count())
    from cryptowalletcommunitydetection_spark.graph.hits import hits as _hits

    timed(
        "hits",
        lambda: _hits(spark, edges, directed=False,
                      assume_canonical=True).scores.count(),
    )
    timed(
        "walks",
        lambda: random_walks(
            edges, num_walks=1, walk_length=10, seed=42, assume_canonical=True
        ).count(),
    )
    # weighted corpus (round 5): same walk shape through the Walker
    # alias tables — the vectorized partition-kernel build (graph/
    # walks.py::_alias_build_kernel) plus the per-step alias coin; the
    # VERDICT r4 criterion is wall within ~1.5x the unweighted line
    timed(
        "walks_weighted",
        lambda: random_walks(
            edges, num_walks=1, walk_length=10, seed=42,
            assume_canonical=True, weighted=True,
        ).count(),
    )
    # node2vec biased corpus: reported as its own section (like
    # hyperball/files_pipeline) so the headline total stays comparable
    # across rounds; p<1 is the return-biased (structural) regime, and
    # at sf0.1 the auto strategy is the single-task replay kernel with
    # the in-kernel Spark-bit-exact hash chain
    from cryptowalletcommunitydetection_spark.graph.walks import node2vec_walks

    s0, t0 = _steal(), time.monotonic()
    n2v_rows = node2vec_walks(
        edges, p=0.5, q=2.0, num_walks=1, walk_length=10, seed=42,
        assume_canonical=True,
    ).count()
    n2v_wall = time.monotonic() - t0
    n2v_steal = _steal() - s0

    # north-rule input path at scale: files table generated distributively,
    # edges derived through the real mapInPandas extraction + co-occurrence
    from cryptowalletcommunitydetection_spark.datagen import gen_files_distributed
    from cryptowalletcommunitydetection_spark.graph.edges import derive_edges

    n_files = 200_000
    files = gen_files_distributed(
        spark, n_files=n_files, n_repos=10_000, n_entities=50_000
    )
    # min-of-repeats, steal-aware (same protocol as bench_scripts/
    # scaling.py): the r03 one-shot number absorbed 298 steal jiffies —
    # it measured a neighbor tenant, not this engine. Each repeat is a
    # full uncached re-derivation; transient host contention only ever
    # inflates a wall, so the min is the noise-robust estimate. A third
    # repeat runs only if both of the first two were contaminated.
    f_walls, f_steals = [], []
    n_derived = 0
    for rep in range(3):
        s0, t0 = _steal(), time.monotonic()
        n_derived = derive_edges(files).count()
        f_walls.append(round(time.monotonic() - t0, 3))
        f_steals.append(_steal() - s0)
        if rep >= 1 and min(f_steals) < 100:
            break
    files_wall = min(f_walls)  # reported separately — not part of the
    # headline total (different workload axis)
    steals["files_pipeline"] = f_steals[f_walls.index(files_wall)]

    # distributed-path evidence (bench_scripts/distributed_paths.py): the
    # forced-distributed walls of every adaptive operator on a >=10M-edge
    # graph above all local-kernel gates. Run separately (it is a ~1h
    # measurement); its result rides along here so BENCH_r{N}.json carries
    # the 100x-scale half of each adaptive operator, not just the sf0.1
    # local kernels. Full protocol + analysis: BENCH/BASELINE.md.
    dist_summary = None
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    cands = sorted(
        f for f in (os.listdir(bench_dir) if os.path.isdir(bench_dir) else [])
        if f.startswith("distributed_r") and f.endswith(".json")
    )
    dist_path = os.path.join(bench_dir, cands[-1]) if cands else ""
    if dist_path and os.path.exists(dist_path):
        with open(dist_path) as f:
            d = json.load(f)
        dist_summary = {
            "E_canonical": d["E_canonical"],
            "V": d["V"],
            "ops": {
                k: {
                    "wall_sec": v["wall_sec"],
                    "throughput": v["throughput"],
                    **(
                        {"auto_sketch_match": v["auto_sketch_match"]}
                        if "auto_sketch_match" in v
                        else {}
                    ),
                    **(
                        {"median_superstep_sec": v["median_superstep_sec"]}
                        if "median_superstep_sec" in v
                        else {}
                    ),
                }
                for k, v in d["ops"].items()
            },
        }

    membw["mid"] = _membw_canary()
    return {
        "metric": "headline_queries_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "membw_canary_gbps": membw,  # single-thread triad GB/s; healthy
        # ~19 on this host — a depressed value marks the run window as
        # DRAM-contended by a neighbor tenant (invisible to steal)
        "steal_jiffies": steals,  # hypervisor steal per measurement window
        # (shared-host microVM; >> ~100/s of wall means the wall measured
        # a neighbor tenant — compare against the fresh-JVM repeats in
        # BENCH/BASELINE.md before reading a slow number as a regression)
        "sf": sf_dir,
        "cpus": cpus,
        "pagerank": {
            "n_edges_canonical": n_edges,
            "supersteps": res.supersteps,
            "converged": res.converged,
            "wall_sec": round(pr_wall, 3),
            "edges_per_sec_per_superstep": round(edges_per_sec, 1),
            "strategy": "adaptive (local kernel at this SF)",
        },
        "pagerank_distributed": {
            "n_edges_canonical": n_edges,
            "supersteps": res_d.supersteps,
            "converged": res_d.converged,
            "wall_sec": round(prd_wall, 3),
            "edges_per_sec_per_superstep": round(edges_per_sec_d, 1),
            "strategy": "broadcast (forced; the >4M-edge path)",
        },
        "hyperball": {
            "n_edges_canonical": n_edges,
            "supersteps": hb.supersteps,
            "converged": hb.converged,
            "wall_sec": round(hb_wall, 3),
            "steal_jiffies": hb_steal,
            "avg_distance": round(hb.avg_distance, 4),
            "effective_diameter": round(hb.effective_diameter, 4),
            "lg_k": 10,
            # directed traversals per superstep-second, same denominator
            # convention as the pagerank lines (2x canonical edges)
            "edges_per_sec_per_superstep": round(
                (2 * n_edges * hb.supersteps) / max(hb_wall, 1e-9), 1
            ),
        },
        "node2vec": {
            "n_edges_canonical": n_edges,
            "corpus_rows": n2v_rows,
            "wall_sec": round(n2v_wall, 3),
            "steal_jiffies": n2v_steal,
            "p": 0.5,
            "q": 2.0,
            "walk_length": 10,
        },
        "files_pipeline": {
            "n_files": n_files,
            "edges_derived": n_derived,
            "wall_sec": files_wall,
            "walls_per_repeat": f_walls,
            "steals_per_repeat": f_steals,
            "files_per_sec": round(n_files / max(files_wall, 1e-9), 1),
        },
        **(
            {"distributed_paths_10M_edges": dist_summary} if dist_summary else {}
        ),
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    result = run_bench(sf_dir, cpus)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
