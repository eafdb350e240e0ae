"""The driver-side Arrow boundary of the small-graph kernels.

Below their size gates, PageRank, label propagation, connected
components, triangle counting, HITS, k-core, k-truss (with edge
support) and the random-walk / node2vec corpora run as one vectorized
numpy body instead of a distributed loop. ``run_kernel`` owns what they
share, so each operator keeps only its numpy body:

- the input is the caller's edge rows as they stand (the canonical
  table for undirected operators: no Spark-side symmetrization,
  normalization or join) plus optional marker rows, collected into the
  driver by one ``toArrow()`` job — no Python worker task;
- the size gate is part of that collect: with ``max_edge_rows`` the
  edge rows enter through ``coalesce(1).limit(gate + 1)`` (narrow:
  still one job; the scan stops there when no exchange lies below the
  edge rows); past the gate the call returns ``None`` for the
  operator's distributed path, so a small-graph call is one Spark job;
- the driver indexes every key once into int64 codes in key order:
  pyarrow ``unique`` / ``sort_indices`` for strings (UTF-8 byte order,
  which is Spark's ``UTF8String`` order), ``np.unique`` for integers,
  then ``index_in``;
- the body runs in the driver and returns the complete result table,
  vertex ids as codes (a code matrix for a field holding an array of
  ids, such as a walk), and a meta record; the result goes
  back to Spark as one partition of Arrow batches held by the driver
  (no checkpoint, nothing to release);
- with a ``Resumable`` the call keeps a run manifest (plans/checkpoint.py)
  without a Spark job of its own: the manifest key is computed over the
  collected rows in numpy, the resume state is read with pyarrow, and
  the body's supersteps (``iterate``) commit one state each, so a
  ``run_dir`` call below the gate is one Spark job and resumes after
  its last committed superstep.
"""

from __future__ import annotations

import logging
import threading
import time
from types import SimpleNamespace
from typing import Any, Callable, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import ArrayType, StructField, StructType

from ..plans.checkpoint import RunManifest, arrow_identity
from ..plans.superstep import scoped_conf

log = logging.getLogger(__name__)

KEY = "key"
"""Result field type meaning "a vertex id": the body returns codes, the
boundary turns them back into keys of the edge table's id type."""

KEYS = "keys"
"""Result field type meaning "an array of vertex ids": the body returns
a 2-D code matrix (one row per result row), the boundary a list of keys
per row."""

# Spark embeds an Arrow result smaller than this threshold (48 MB by
# default) in the query plan as a LocalRelation of rows; at 0 the
# result is always an RDD of the Arrow batches, read as a plain scan.
# The setting is session-global, so concurrent calls take turns.
_AS_RDD = {"spark.sql.execution.arrow.localRelationThreshold": "0"}
_AS_RDD_LOCK = threading.Lock()


class Resumable(NamedTuple):
    """A kernel call that keeps a run manifest under ``run_dir``.

    The manifest is ``algo`` with ``params`` plus the content keys of
    the collected rows: ``input`` over the edge rows (src, dst and, with
    ``weight``, the weight as a double), ``vertices`` over the marker
    ids, and for each value channel the params name in ``values`` over
    (id, value) — a ``None`` name leaves that channel out. The state is
    one value per vertex: ``state`` names its column and gives its type
    (``KEY`` or a Spark type)."""

    run_dir: str
    algo: str
    params: dict
    state: tuple[str, Any]
    values: tuple[str | None, ...] = ()


class KernelOutput(NamedTuple):
    """A kernel's result. ``rows`` is one partition over the Arrow
    batches the driver built (no checkpoint: nothing is pinned and
    nothing needs a release; a write makes one file), None without
    result fields; ``meta`` is the body's meta record."""

    rows: DataFrame | None
    meta: dict


def run_kernel(
    edges: DataFrame,
    body: Callable[[Any], tuple[dict, dict]],
    fields: dict | None,
    *,
    weight: bool = False,
    vertices: DataFrame | None = None,
    values: tuple[DataFrame, ...] = (),
    max_edge_rows: int | None = None,
    run: Resumable | None = None,
) -> KernelOutput | None:
    """Run ``body`` over ``edges(src, dst[, weight])`` in the driver.

    ``vertices`` (DataFrame[id]) adds members to the vertex universe;
    each ``values`` frame (DataFrame[id, value]) becomes one value
    channel and adds none. ``body(g)`` sees ``g.ids`` (the sorted keys,
    a pyarrow array: code ``i`` is ``g.ids[i]``), ``g.n``, ``g.src`` /
    ``g.dst`` (int64 codes; rows with a null endpoint are dropped),
    ``g.weight`` (float64, or None without ``weight``) and ``g.values``
    (per channel: codes, -1 for an id outside the graph, and float64
    values). It returns ``(columns, meta)``: an array per name of
    ``fields`` (``KEY`` fields as codes) and a dict, whose ``"error"``
    entry fails the call with that ``ValueError``.

    All input rows arrive through one ``toArrow()`` job; the body runs
    in the driver. ``fields`` maps result names to ``KEY``, ``KEYS`` or
    a Spark type (the body may return a pyarrow array for the latter).
    ``rows`` is one partition over the driver-held Arrow result: no
    checkpoint, nothing to release. With ``fields=None`` the call
    returns only the meta record.

    With ``run`` (a ``Resumable``) the call opens its run manifest once
    the gate has passed, with no Spark job: ``g.start`` is None on a
    fresh start, else the resume point (``k``, the last ``record`` and
    ``state``: the stored values per vertex code, read with pyarrow);
    ``g.commit(state, record)``
    writes and records one superstep (see ``iterate``, which calls it)
    and deletes the state it supersedes when this call wrote it. The
    meta record's ``steps`` become the manifest's records. Without
    ``run``, ``g.start`` is None and ``g.commit`` does nothing.

    ``max_edge_rows`` (the operator's size gate, in rows of ``edges``)
    makes the call speculative: the collect reads at most that many
    edge rows plus one, and past the gate the body is skipped and the
    call returns ``None``. The driver then holds up to gate + 1 rows, so
    the gate bounds driver memory. The scan of ``edges`` stops at the
    limit only when no exchange lies below it; a shuffle below runs in
    full, so a caller with a distributed path pins such ``edges`` first
    with a lazy ``localCheckpoint`` (a cache would add a query stage
    job under adaptive execution; the checkpoint adds none): the collect
    fills it, and past the gate the distributed path reads it instead
    of shuffling again.
    """
    key_type = edges.schema["src"].dataType
    marked = vertices is not None or bool(values)
    w = F.col("weight").cast("double") if weight else F.lit(None).cast("double")
    inp = edges.select(
        "src", "dst", *([w.alias("w")] if weight or marked else []),
        *([F.lit(0).cast("byte").alias("_c")] if marked else []),
    )
    if max_edge_rows is not None:
        # one partition already, so the limit needs no exchange; the
        # scan below it stops after gate + 1 rows unless an exchange
        # lies below the limit (that stage runs in full first)
        inp = inp.coalesce(1).limit(max_edge_rows + 1)
    markers = [vertices.select("id", F.lit(None).alias("value"))] if vertices is not None else []
    # channel 1 = universe members, 2.. = value channels
    for c, m in enumerate(markers + list(values), start=2 - len(markers)):
        inp = inp.unionByName(m.select(
            F.col("id").cast(key_type).alias("src"), F.lit(None).cast(key_type).alias("dst"),
            F.col("value").cast("double").alias("w"), F.lit(c).cast("byte").alias("_c"),
        ))
    t = inp.toArrow()
    chan = t.column("_c").to_numpy() if marked else None

    def rows_of(c):
        return t.filter(pa.array(chan == c)) if marked else t

    e = rows_of(0)
    if max_edge_rows is not None and e.num_rows > max_edge_rows:
        log.info("local kernel skipped: %d edge rows read, gate %d", e.num_rows, max_edge_rows)
        return None
    id_type = t.schema.field("src").type
    keys = [e.column("src"), e.column("dst")] + ([rows_of(1).column("src")] if markers else [])
    all_keys = pa.chunked_array([ch for k in keys for ch in k.chunks], id_type)
    if pa.types.is_integer(id_type):
        ids = pa.array(np.unique(pc.drop_null(all_keys).to_numpy()), id_type)
    else:
        uniq = pc.drop_null(pc.unique(all_keys))
        ids = uniq.take(pc.sort_indices(uniq))

    def code(col):  # -1 = null or not a vertex
        return pc.fill_null(pc.index_in(col, value_set=ids), -1).to_numpy().astype(np.int64)

    src, dst = code(e.column("src")), code(e.column("dst"))
    wt = e.column("w").to_numpy().astype(np.float64) if weight else None
    ok = (src >= 0) & (dst >= 0)
    if not ok.all():  # a row with a null endpoint is no edge
        src, dst = src[ok], dst[ok]
        wt = wt[ok] if wt is not None else None
    value_rows = [rows_of(c) for c in range(2, 2 + len(values))]
    chans = [(code(m.column("src")), m.column("w").to_numpy().astype(np.float64))
             for m in value_rows]
    g = SimpleNamespace(
        ids=ids, n=len(ids), src=src, dst=dst, weight=wt, values=chans,
        start=None, commit=lambda state, record: None,
    )
    manifest = None
    if run is not None:
        manifest = _open_run(
            run, g, code, [e.column("src"), e.column("dst")] + ([e.column("w")] if weight else []),
            rows_of(1) if markers else None, value_rows,
        )
    t0 = time.perf_counter()
    cols, meta = body(g)
    body_ms = (time.perf_counter() - t0) * 1e3
    if "error" in meta:
        raise ValueError(meta["error"])
    if manifest is not None:
        meta = {**meta, "steps": manifest.metrics()}
    fields = fields or {}

    def column(c):
        if fields[c] == KEY:
            return ids.take(pa.array(cols[c], pa.int64()))
        if fields[c] == KEYS:
            m = np.asarray(cols[c], dtype=np.int64)
            offsets = pa.array(np.arange(len(m) + 1) * m.shape[1], pa.int32())
            return pa.ListArray.from_arrays(offsets, ids.take(pa.array(m.ravel())))
        return pa.array(cols[c], to_arrow_type(fields[c]))

    result = pa.table([column(c) for c in fields], names=list(fields))
    log.info(
        "local kernel ran: %d edge rows read, gate %s, body %.1f ms, %d result rows",
        e.num_rows, max_edge_rows, body_ms, result.num_rows,
    )
    if not fields:
        return KernelOutput(None, meta)
    spark_types = {KEY: key_type, KEYS: ArrayType(key_type)}
    schema = StructType([StructField(c, spark_types.get(f, f)) for c, f in fields.items()])
    spark = edges.sparkSession
    with _AS_RDD_LOCK, scoped_conf(spark, settings=_AS_RDD):
        rows = spark.createDataFrame(result, schema)
    # one partition per Arrow batch (maxRecordsPerBatch rows): merge them
    # so a write makes one file
    return KernelOutput(rows.coalesce(1), meta)


def _open_run(run: Resumable, g, code, edge_cols, markers, channels) -> RunManifest:
    """Open ``run``'s manifest keyed on the collected rows, and set
    ``g.start`` and ``g.commit`` (see ``run_kernel``)."""
    params = {**run.params, "input": arrow_identity(edge_cols)}
    if markers is not None:
        params["vertices"] = arrow_identity([markers.column("src")])
    for name, rows in zip(run.values, channels):
        if name is not None:
            params[name] = arrow_identity([rows.column("src"), rows.column("w")])
    manifest = RunManifest.open_or_create(run.run_dir, run.algo, params)
    col, typ = run.state
    last = manifest.last_complete()
    if last >= 0:
        t = pq.read_table(manifest.step_path(last), columns=["id", col])
        vals = t.column(col)
        vals = code(vals.cast(g.ids.type)) if typ == KEY else vals.to_numpy()
        state = np.empty(g.n, vals.dtype)
        state[code(t.column("id").cast(g.ids.type))] = vals
        g.start = SimpleNamespace(k=last + 1, record=manifest.supersteps[-1], state=state)

    def commit(state, record):
        vals = (g.ids.take(pa.array(state, pa.int64())) if typ == KEY
                else pa.array(state, to_arrow_type(typ)))
        manifest.commit(pa.table({"id": g.ids, col: vals}), record)

    g.commit = commit
    return manifest


def iterate(g, state, step, done, max_iter: int):
    """The driver-side twin of ``run_supersteps`` (plans/superstep.py)
    for a body whose state is one value per vertex code: from ``state``
    (or the run's resume state, ``g.start``), ``step(state)`` returns
    the next state and its record entries (``delta``, ``rows`` and any
    extras) until ``done(record)`` or ``max_iter`` supersteps, and
    ``g.commit`` writes each superstep under a run manifest. Returns
    the last state and the meta record ``{k, conv, steps}``: the
    superstep count, the convergence flag and one record per superstep
    (``k``, ``wall_ms`` and the step's entries)."""
    k, finished, records = 0, False, []
    if g.start is not None:  # resumed: finished if that superstep converged
        state, k, finished = g.start.state, g.start.k, done(g.start.record)
    while not finished and k < max_iter:
        t0 = time.perf_counter()
        state, entries = step(state)
        records.append({"k": k, "wall_ms": (time.perf_counter() - t0) * 1e3, **entries})
        g.commit(state, records[-1])
        k += 1
        finished = done(records[-1])
    return state, {"k": k, "conv": finished, "steps": records}
