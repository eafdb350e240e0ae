"""The two workloads: per-seed input staging, the timed pipelines over
the engine's public API, and the oracle checks of their outputs.

Inputs come from ``datagen.gen_files_distributed(seed=...)`` and are
staged as Parquet once per seed, together with every oracle answer, so
nothing in a timed window generates data or computes an expected value.
The oracles never call the engine: the co-occurrence edges come from
DuckDB over the staged files table, the graph answers from the
NetworkX / pure-Python oracles of the test suite over those edges.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

from cryptowalletcommunitydetection_spark import datagen
from cryptowalletcommunitydetection_spark.graph.cc import connected_components
from cryptowalletcommunitydetection_spark.graph.edges import (
    cooccurrence_edges, derive_edges, extract_entities,
)
from cryptowalletcommunitydetection_spark.graph.lpa import label_propagation
from cryptowalletcommunitydetection_spark.graph.pagerank import pagerank
from cryptowalletcommunitydetection_spark.graph.triangles import triangles_per_vertex
from cryptowalletcommunitydetection_spark.plans.checkpoint import RunManifest
from cryptowalletcommunitydetection_spark.sources.files import read_files, write_files
from tests.oracles import ENTITY_RE, nx_components, nx_pagerank, nx_triangles, sync_min_lpa

# Files-table shapes. DERIVE makes a co-occurrence shuffle of ~1M pair
# rows into ~1M edges; GRAPH makes an ~80k-edge, ~1k-vertex graph that
# stays under every local-kernel size gate and that the dense PageRank
# oracle handles in a second.
DERIVE = dict(n_files=12_000, n_repos=1_200, n_entities=12_000)
GRAPH = dict(n_files=2_000, n_repos=400, n_entities=1_000)

PR_TOL = 1e-6
PR_MAX_ABS_ERR = 1e-6
LPA_MAX_ITER = 10
# The checkpointed superstep loop costs ~1 s per superstep plus ~2 s per
# call whatever the graph size, so the loop call is capped below
# PageRank's convergence (8-9 supersteps on GRAPH for every seed tried):
# it runs the same number of supersteps on every seed, and its oracle
# takes the same number of steps.
LOOP_PR_STEPS = 2
MAX_ENTITIES_PER_GROUP = 1000
LOOP = "pagerank.loop"

_PAIRS_SQL = """
WITH ents AS (
  SELECT DISTINCT repo, "commit",
         unnest(regexp_extract_all(content, '{pattern}', 1)) AS entity
  FROM read_parquet('{files}')
), big AS (
  SELECT repo, "commit" FROM ents GROUP BY ALL HAVING count(*) > {cap}
), e AS (
  SELECT * FROM ents ANTI JOIN big USING (repo, "commit")
)
SELECT a.entity AS src, b.entity AS dst, count(*) AS weight
FROM e a JOIN e b USING (repo, "commit")
WHERE a.entity < b.entity
GROUP BY ALL
"""

_SKETCH_SQL = (
    "SELECT count(*) AS n, bit_xor(hash(src, dst, weight)) AS sketch, "
    "count(*) FILTER (WHERE src >= dst) AS not_canonical FROM {}"
)


def _pairs_sql(files_glob: str) -> str:
    return _PAIRS_SQL.format(
        pattern=ENTITY_RE.pattern.replace("'", "''"), files=files_glob,
        cap=MAX_ENTITIES_PER_GROUP,
    )


def _sketch(con, relation: str) -> dict:
    n, sketch, bad = con.sql(_SKETCH_SQL.format(relation)).fetchone()
    return {"n": int(n), "sketch": int(sketch or 0), "not_canonical": int(bad)}


def _parquet_glob(path: str) -> str:
    return os.path.join(path, "**", "*.parquet")


class Stage:
    """Inputs and oracle answers of one seed for one workload, built once
    and reused by every later run with that seed. ``input`` is what a rep
    reads: a files table or an edge table. The directory name carries a
    digest of the shapes and oracle settings, so that changing them
    stages afresh."""

    def __init__(self, root: str, seed: int, kind: str):
        self.seed = seed
        self.kind = kind
        params = json.dumps([DERIVE, GRAPH, PR_TOL, LPA_MAX_ITER, LOOP_PR_STEPS,
                             MAX_ENTITIES_PER_GROUP])
        digest = hashlib.sha1(params.encode()).hexdigest()[:10]
        self.dir = os.path.join(root, f"seed-{seed}", f"{kind}-{digest}")
        self.input = os.path.join(self.dir, "input")
        self.oracle_path = os.path.join(self.dir, "oracle.json")
        self._oracle = None

    @property
    def oracle(self) -> dict:
        if self._oracle is None:
            with open(self.oracle_path) as f:
                self._oracle = json.load(f)
        return self._oracle

    def ensure(self, spark) -> float:
        """Build the stage if it is missing; return the seconds spent."""
        t0 = time.perf_counter()
        if os.path.exists(self.oracle_path):
            return 0.0
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        con = duckdb.connect()
        try:
            if self.kind == "derive":
                oracle = self._stage_derive(spark, con)
            else:
                oracle = self._stage_graph(spark, con)
        finally:
            con.close()
        with open(self.oracle_path + ".tmp", "w") as f:
            json.dump(oracle, f)
        os.replace(self.oracle_path + ".tmp", self.oracle_path)
        return time.perf_counter() - t0

    def _files(self, spark, path: str, shape: dict) -> None:
        write_files(datagen.gen_files_distributed(spark, seed=self.seed, **shape), path)

    def _stage_derive(self, spark, con) -> dict:
        self._files(spark, self.input, DERIVE)
        return {"derive": _sketch(con, f"({_pairs_sql(_parquet_glob(self.input))})")}

    def _stage_graph(self, spark, con) -> dict:
        files = os.path.join(self.dir, "files")
        self._files(spark, files, GRAPH)
        os.makedirs(self.input)
        con.sql(_pairs_sql(_parquet_glob(files))).order("src, dst").write_parquet(
            os.path.join(self.input, "part-0.parquet")
        )
        shutil.rmtree(files)
        t = pq.read_table(self.input).to_pydict()
        weighted = list(zip(t["src"], t["dst"], t["weight"]))
        pairs = [(s, d) for s, d, _ in weighted]
        return {
            "graph_edges": len(pairs),
            "pagerank": nx_pagerank(weighted, weighted=True),
            "cc": nx_components(pairs),
            "lpa": sync_min_lpa(pairs, max_iter=LPA_MAX_ITER),
            "triangles": nx_triangles(pairs),
            LOOP: pagerank_steps(weighted, LOOP_PR_STEPS),
        }


def pagerank_steps(weighted, steps: int, alpha: float = 0.85) -> dict:
    """Undirected weighted PageRank after exactly ``steps`` power
    iterations from the uniform vector, with the NetworkX semantics of
    ``tests.oracles.nx_pagerank`` (dangling mass spread uniformly)."""
    order = sorted({v for s, d, _ in weighted for v in (s, d)})
    idx = {v: i for i, v in enumerate(order)}
    n = len(order)
    src = np.array([idx[s] for s, _, _ in weighted])
    dst = np.array([idx[d] for _, d, _ in weighted])
    w = np.array([float(x) for _, _, x in weighted])
    src, dst, w = np.concatenate([src, dst]), np.concatenate([dst, src]), np.concatenate([w, w])
    out = np.bincount(src, w, n)
    dangling = out == 0
    share = w / np.where(dangling, 1.0, out)[src]
    x = np.full(n, 1.0 / n)
    for _ in range(steps):
        x = (1 - alpha) / n + alpha * (np.bincount(dst, x[src] * share, n) + x[dangling].sum() / n)
    return dict(zip(order, x.tolist()))


# ------------------------------------------------------------ pipelines
#
# Each pipeline runs one rep over the table at ``src`` into ``out`` (empty
# on entry) and returns its counters. ``tr.span`` opens a span around each
# layer call; in a traced run the two halves of derivation are
# materialized apart so that each half's jobs carry its own job group.


def _write(tr, df, out: str, name: str) -> None:
    with tr.span("sources.write"):
        df.write.parquet(os.path.join(out, name))


def derive(spark, src: str, out: str, tr, traced: bool) -> dict:
    """Files table -> canonical co-occurrence edge table, as Parquet."""
    with tr.span("sources.read"):
        files = read_files(spark, src)
    if not traced:
        _write(tr, derive_edges(files, max_entities_per_group=MAX_ENTITIES_PER_GROUP),
               out, "edges")
        return {}
    with tr.span("edges.extract"):
        ents = extract_entities(files).persist()
        ents.count()
    with tr.span("edges.cooccur"):
        edges = cooccurrence_edges(ents, max_entities_per_group=MAX_ENTITIES_PER_GROUP).persist()
        n_edges = edges.count()
    _write(tr, edges, out, "edges")
    edges.unpersist()
    ents.unpersist()
    return {"edges": n_edges}


def graph(spark, src: str, out: str, tr, traced: bool) -> dict:
    """PageRank, CC, LPA and triangles on their default (local-kernel)
    path, then PageRank again with a ``run_dir``, which forces the
    checkpointed superstep loop."""
    with tr.span("sources.read"):
        e = spark.read.parquet(src)
    with tr.span("pagerank"):
        pr = pagerank(spark, e, tol=PR_TOL, assume_canonical=True)
        _write(tr, pr.ranks, out, "pagerank")
    with tr.span("cc"):
        _write(tr, connected_components(spark, e, assume_canonical=True), out, "cc")
    with tr.span("lpa"):
        lpa = label_propagation(spark, e, max_iter=LPA_MAX_ITER, assume_canonical=True)
        _write(tr, lpa.labels, out, "lpa")
    with tr.span("triangles"):
        _write(tr, triangles_per_vertex(e, assume_canonical=True), out, "triangles")
    with tr.span(LOOP):
        loop = pagerank(spark, e, tol=PR_TOL, max_iter=LOOP_PR_STEPS, assume_canonical=True,
                        run_dir=os.path.join(out, "run", "pagerank"))
        _write(tr, loop.ranks, out, LOOP)
    return {"pagerank.supersteps": pr.supersteps, "lpa.supersteps": lpa.supersteps,
            f"{LOOP}.supersteps": loop.supersteps}


PIPELINES = {"derive": derive, "graph": graph}


# ------------------------------------------------------------- checks


def _read_map(path: str, key: str, val: str) -> dict:
    t = pq.read_table(path, columns=[key, val]).to_pydict()
    return dict(zip(t[key], t[val]))


def verify(workload: str, stage: Stage, out: str) -> list[str]:
    """Compare one rep's outputs with the stage's oracle answers; return
    the list of mismatches (empty when correct)."""
    o = stage.oracle
    if workload == "derive":
        con = duckdb.connect()
        try:
            got = _sketch(con, f"read_parquet('{_parquet_glob(os.path.join(out, 'edges'))}')")
        finally:
            con.close()
        return [] if got == o["derive"] else [f"derive: got {got}, want {o['derive']}"]
    errs = []
    for name in ("pagerank", LOOP):
        ranks = _read_map(os.path.join(out, name), "id", "rank")
        want = o[name]
        if ranks.keys() != want.keys():
            errs.append(f"{name}: {len(ranks)} vertices, want {len(want)}")
            continue
        worst = max(abs(ranks[v] - want[v]) for v in want)
        if worst > PR_MAX_ABS_ERR:
            errs.append(f"{name}: max |delta| {worst:.3g} > {PR_MAX_ABS_ERR}")
    for name, col in (("cc", "component"), ("lpa", "label"), ("triangles", "triangles")):
        if _read_map(os.path.join(out, name), "id", col) != o[name]:
            errs.append(f"{name}: differs from oracle")
    return errs


def checkpoint_counters(out: str) -> dict:
    """Bytes, data files and manifest steps under the loop's run_dir (all
    zero when the workload writes no checkpoints)."""
    rd = os.path.join(out, "run", "pagerank")
    nbytes = nfiles = steps = 0
    if os.path.isdir(rd):
        for dp, _, fns in os.walk(rd):
            for fn in fns:
                nbytes += os.path.getsize(os.path.join(dp, fn))
                nfiles += fn.endswith(".parquet")
        steps = len(RunManifest.load(rd).supersteps)
    return {"checkpoint.pagerank.bytes": nbytes, "checkpoint.pagerank.files": nfiles,
            "checkpoint.pagerank.steps": steps}


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, fn))
        for dp, _, fns in os.walk(path) for fn in fns
    )
