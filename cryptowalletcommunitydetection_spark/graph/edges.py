"""Edge-table derivation and graph-shaping primitives.

Rebuilds, Spark-first, the reference's edge ingestion: wallet-pair lists
(data/*.csv, read at cli/export_transactions.py:22 and fed to
nx.from_pandas_edgelist at services/wallet_clustering.py:10-12) become a
canonical ``edges(src, dst, weight)`` DataFrame; the north-rule input is
instead an Iceberg-style ``files(repo, path, commit, lang, content)``
table from which edges are derived by co-occurrence of extracted
entities within a (repo, commit) group.

Design notes for 100 TB scale:
- the extraction stage is the only Python-executing operator of the
  derivation (Arrow ``mapInPandas``, vectorized pandas ``str.findall``);
  the rest of it is built-in JVM expressions. Downstream, Python runs
  only in the graph operators' single-task Arrow kernels below their
  size gates (``graph/local_kernel.py`` and the hits / k-core / truss /
  walk kernels), never per row,
- co-occurrence is a self-equi-join on (repo, commit) — quadratic in
  entities-per-group, so groups above ``max_entities_per_group`` are
  dropped (the standard stop-entity cut: a "god" entity appearing in a
  10^6-entity group carries no community signal and would alone emit
  10^12 pairs),
- canonical undirected form is (least, greatest) + weight sum, so the
  edge table is dedup-stable and join keys are uniform,
- vertex ids can be re-keyed to int64 via xxhash64 for cheaper shuffles
  (collision probability ~n^2/2^64; at graph sizes where that matters,
  keep string keys or extend to 128-bit sha2 — algorithms below are
  key-type agnostic).
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Default entity pattern: import-like statements across the reference
# languages {py, java, go, js, rs}. Deterministic and vectorizable.
DEFAULT_ENTITY_PATTERN = (
    r"(?m)^\s*(?:import|from|require|include|use)\s+([A-Za-z_][A-Za-z0-9_\.]*)"
)


def with_content_sha256(files: DataFrame, content_col: str = "content") -> DataFrame:
    """Per-row invariant vs the reference: sha256 of the raw content."""
    return files.withColumn("content_sha256", F.sha2(F.col(content_col), 256))


def extract_entities(
    files: DataFrame,
    pattern: str = DEFAULT_ENTITY_PATTERN,
    group_cols: tuple[str, str] = ("repo", "commit"),
    content_col: str = "content",
    engine: str = "arrow",
) -> DataFrame:
    """``files -> (repo, commit, entity)`` via vectorized extraction.

    The one genuinely non-relational step (SURVEY.md §2.10): regex entity
    extraction from source text.

    ``engine="arrow"`` (default, the north-rule path): ``mapInPandas``
    with pandas ``str.findall`` — the plan shows MapInPandas, never
    BatchEvalPython, and arbitrary Python post-processing can be added
    per batch.

    ``engine="jvm"``: ``regexp_extract_all`` + ``explode`` — the whole
    extraction stays inside whole-stage codegen with zero Python worker
    round-trips. Semantically identical for this pattern class (inline
    ``(?m)`` flag, ASCII classes — Java and Python regex agree; a
    pattern using Python-only syntax like ``(?P<name>)`` must use the
    arrow engine). Parity between the two engines is pinned by
    ``tests/test_edges.py``; prefer this engine when the pattern is
    Java-compatible and no per-batch Python is needed.
    """
    g0, g1 = group_cols
    cols = [g0, g1, content_col]

    # Extraction parallelism equals the input's split count (mapInPandas
    # and the jvm regexp projection are both map-only): right-size a
    # narrow scan so a single-split local files table doesn't extract on
    # one task. No-op at warehouse scale (thousands of splits).
    from ..session import right_size

    files = right_size(files)

    if engine == "jvm":
        return (
            files.select(
                g0,
                g1,
                F.explode(
                    F.regexp_extract_all(F.col(content_col), F.lit(pattern), F.lit(1))
                ).alias("entity"),
            )
            .distinct()
        )
    if engine != "arrow":
        raise ValueError(f"unknown extraction engine {engine!r}")

    rx = re.compile(pattern)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            found = pdf[content_col].str.findall(rx)
            out = pdf[[g0, g1]].copy()
            out["entity"] = found
            out = out.explode("entity")
            out = out[out["entity"].notna()]
            yield out.drop_duplicates()

    schema = f"{g0} string, {g1} string, entity string"
    return files.select(*cols).mapInPandas(extract, schema=schema).distinct()


def cooccurrence_edges(
    entities: DataFrame,
    group_cols: tuple[str, ...] = ("repo", "commit"),
    max_entities_per_group: int | None = 1000,
    entity_col: str = "entity",
    encode: bool | None = None,
) -> DataFrame:
    """Pairwise co-occurrence within each (repo, commit) group.

    Self-join on the group key with ``entity < entity2`` (each unordered
    pair once), then weight = number of groups in which the pair
    co-occurs. Oversized groups are dropped *before* the join (see module
    docstring) — at scale this is the difference between a plan that
    finishes and one that emits 10^12 rows from one group.

    OUTPUT CONTRACT — the result is CANONICAL: src < dst on every row,
    exactly one row per unordered pair, no self-loops (the strict
    ``<`` guarantees distinct endpoints). Downstream graph algorithms
    accept ``assume_canonical=True`` to skip their defensive
    re-canonicalization — one whole-edge-table shuffle each — on the
    strength of this contract.

    ``encode`` (None = auto: on for string entities): the pair stream is
    quadratic in group size — orders of magnitude larger than the entity
    table — and its groupBy must shuffle and hash-aggregate every pair.
    Dictionary-encoding entities to int64 (xxhash64 seed 42, collision-
    checked against the distinct entity count, string fallback) makes
    that dominant shuffle (long, long, count) instead of two variable-
    length strings and the aggregation a long-keyed hash-agg: measured
    2.5-3x on the 200k-file / 33M-pair derivation at local[32]. The
    dictionary decode happens on the *aggregated* output (|E| rows, not
    |pairs| rows), broadcast when the dictionary is small enough;
    unordered pairs are re-oriented with least/greatest afterwards, so
    the output contract (src < dst by string order) is unchanged.
    """
    from pyspark.sql.types import StringType

    g = list(group_cols)
    ents = entities.select(*g, F.col(entity_col).alias("entity")).distinct()
    if max_entities_per_group is not None:
        sizes = ents.groupBy(*g).agg(F.count(F.lit(1)).alias("_n"))
        ents = (
            ents.join(sizes.filter(F.col("_n") <= max_entities_per_group), g, "left_semi")
        )
    is_string = isinstance(ents.schema["entity"].dataType, StringType)
    if encode is None:
        encode = is_string
    if encode and is_string:
        # ents feeds the dictionary and both join sides — persist for
        # the duration of this call's actions
        ents = ents.persist()
        edict = ents.select("entity").distinct().select(
            F.xxhash64("entity", F.lit(42)).alias("eid"), "entity"
        ).persist()
        chk = edict.agg(
            F.count(F.lit(1)).alias("nk"), F.countDistinct("eid").alias("nv")
        ).collect()[0]
        if chk["nk"] == chk["nv"]:
            ee = ents.select(*g, F.xxhash64("entity", F.lit(42)).alias("eid"))
            a = ee
            b = ee.select(*g, F.col("eid").alias("eid2"))
            pairs = (
                a.join(b, g)
                .filter(F.col("eid") < F.col("eid2"))
                .groupBy("eid", "eid2")
                .agg(F.count(F.lit(1)).alias("weight"))
            )
            # decode the aggregated edges; ~100 MB of dictionary per 2M
            # entities — broadcast under that, shuffle join above
            d1 = edict
            d2 = edict.select(
                F.col("eid").alias("eid2"), F.col("entity").alias("entity2")
            )
            if chk["nk"] <= 2_000_000:
                d1, d2 = F.broadcast(d1), F.broadcast(d2)
            out = (
                pairs.join(d1, "eid")
                .join(d2, "eid2")
                .select(
                    F.least("entity", "entity2").alias("src"),
                    F.greatest("entity", "entity2").alias("dst"),
                    "weight",
                )
            )
            # lazy caches: released by LRU after the caller's consuming
            # action; an eager pin here would add a full materialization
            # to every derivation call
            return out
        edict.unpersist()
        ents.unpersist()
    a = ents
    b = ents.select(*g, F.col("entity").alias("entity2"))
    pairs = a.join(b, g).filter(F.col("entity") < F.col("entity2"))
    return (
        pairs.groupBy(F.col("entity").alias("src"), F.col("entity2").alias("dst"))
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def derive_edges(
    files: DataFrame,
    pattern: str = DEFAULT_ENTITY_PATTERN,
    max_entities_per_group: int | None = 1000,
    engine: str = "arrow",
) -> DataFrame:
    """files(repo, path, commit, lang, content) -> edges(src, dst, weight).

    ``engine`` selects the extraction kernel (see ``extract_entities``):
    "arrow" is the north-rule mapInPandas path; "jvm" keeps the whole
    derivation inside whole-stage codegen.

    Output is canonical (see ``cooccurrence_edges``): feed it to the
    graph algorithms with ``assume_canonical=True``.
    """
    ents = extract_entities(files, pattern=pattern, engine=engine)
    return cooccurrence_edges(ents, max_entities_per_group=max_entities_per_group)


def canonicalize_edges(
    edges: DataFrame, src: str = "src", dst: str = "dst", weight: str | None = None
) -> DataFrame:
    """Undirected canonical form: (least, greatest), self-loops dropped,
    duplicate orientations merged (weights summed, else counted)."""
    e = edges.filter(F.col(src) != F.col(dst)).select(
        F.least(F.col(src), F.col(dst)).alias("src"),
        F.greatest(F.col(src), F.col(dst)).alias("dst"),
        *([F.col(weight).alias("weight")] if weight else []),
    )
    if weight:
        return e.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    return e.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("weight"))


def symmetrize(edges: DataFrame, weight: bool = True) -> DataFrame:
    """Canonical undirected edges -> both directed orientations.

    Input must be canonical (src < dst, unique). Output has exactly one
    row per (u, v) ordered pair.
    """
    cols = ["src", "dst"] + (["weight"] if weight else [])
    fwd = edges.select(*cols)
    rev = edges.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        *([F.col("weight")] if weight else []),
    )
    return fwd.unionByName(rev)


def vertices_of(edges: DataFrame) -> DataFrame:
    """Distinct vertex keys of an edge table -> DataFrame[id]."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def degrees(edges: DataFrame, directed: bool = False) -> DataFrame:
    """Vertex degree table DataFrame[id, degree].

    For canonical undirected input, degree counts each incident edge once
    per endpoint. For ``directed=True``, out-degree of ``src``.
    """
    if directed:
        return edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("degree")
        )
    both = edges.select(F.col("src").alias("id")).unionByName(
        edges.select(F.col("dst").alias("id"))
    )
    return both.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))


def encode_vertices(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Re-key string vertices to int64 via xxhash64 for shuffle efficiency.

    Returns (encoded_edges, vertex_dict) where vertex_dict is
    DataFrame[vid long, key string]. The mapping is deterministic
    (seed 42), so reruns/resumes agree. Collisions are checked cheaply
    (count(distinct vid) == count(distinct key)) — at scales where a
    64-bit space is tight, keep the string keys instead (all algorithms
    here are key-type agnostic).
    """
    vdict = vertices_of(edges).select(
        F.xxhash64(F.col("id"), F.lit(42)).alias("vid"), F.col("id").alias("key")
    )
    enc = edges.select(
        F.xxhash64(F.col("src"), F.lit(42)).alias("src"),
        F.xxhash64(F.col("dst"), F.lit(42)).alias("dst"),
        *(["weight"] if "weight" in edges.columns else []),
    )
    return enc, vdict
