"""The single-task Arrow boundary of the small-graph kernels.

Below their size gates, PageRank, label propagation, connected
components, triangle counting, HITS, k-core, k-truss (with edge
support) and the random-walk / node2vec corpora run as one vectorized
numpy task instead of a distributed loop. ``run_kernel`` owns what they
share, so each operator keeps only its numpy body:

- the input is the caller's edge rows as they stand (the canonical
  table for undirected operators: no Spark-side symmetrization,
  normalization or join) plus optional marker rows, all in one
  ``coalesce(1).mapInArrow`` task — a narrow merge, no exchange;
- the size gate runs in that task: with ``max_edge_rows`` the edge rows
  enter through ``coalesce(1).limit(gate + 1)`` (narrow: still one job;
  the scan stops there when no exchange lies below the edge rows);
  past the gate the task returns only an overflow record and the call
  returns ``None`` for the operator's distributed path, so a
  small-graph call is one Spark job;
- the task indexes every key once into int64 codes in key order:
  pyarrow ``unique`` / ``sort_indices`` for strings (UTF-8 byte order,
  which is Spark's ``UTF8String`` order), ``np.unique`` for integers,
  then ``index_in``;
- the body returns the complete result table, vertex ids as codes (a
  code matrix for a field holding an array of ids, such as a walk), and
  one JSON meta record; both leave through one local checkpoint that
  the single read of the meta record materializes.

The task and the bodies are closures shipped by value; only the walk
body imports package helpers (the XXH64 chain, the alias build) on the
worker.
"""

from __future__ import annotations

import json
import logging
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.checkpoint import release_local_checkpoint

log = logging.getLogger(__name__)

KEY = "key"
"""Result field type meaning "a vertex id": the body returns codes, the
boundary turns them back into keys of the edge table's id type."""

KEYS = "keys"
"""Result field type meaning "an array of vertex ids": the body returns
a 2-D code matrix (one row per result row), the boundary a list of keys
per row."""


class KernelOutput(NamedTuple):
    rows: DataFrame | None  # over a local checkpoint; None without fields
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
) -> KernelOutput | None:
    """Run ``body`` over ``edges(src, dst[, weight])`` in one task.

    ``vertices`` (DataFrame[id]) adds members to the vertex universe;
    each ``values`` frame (DataFrame[id, value]) becomes one value
    channel and adds none. ``body(g)`` sees ``g.ids`` (the sorted keys,
    a pyarrow array: code ``i`` is ``g.ids[i]``), ``g.n``, ``g.src`` /
    ``g.dst`` (int64 codes; rows with a null endpoint are dropped),
    ``g.weight`` (float64, or None without ``weight``) and ``g.values``
    (per channel: codes, -1 for an id outside the graph, and float64
    values). It returns ``(columns, meta)``: an array per name of
    ``fields`` (``KEY`` fields as codes) and a JSON-able dict, whose
    ``"error"`` entry fails the call with that ``ValueError``.

    ``fields`` maps result names to ``KEY``, ``KEYS`` or a Spark type
    (the body may return a pyarrow array for the latter). ``rows``
    reads a local checkpoint; release it with
    ``release_local_checkpoint(rows)`` once it is no longer needed. A
    failing body leaves nothing pinned. With ``fields=None`` nothing
    stays pinned and the call returns only the meta record.

    ``max_edge_rows`` (the operator's size gate, in rows of ``edges``)
    makes the call speculative: the task reads at most that many edge
    rows plus one, and past the gate it skips the body; the call then
    pins nothing and returns ``None``. The scan of ``edges`` stops at
    the limit only when no exchange lies below it; a shuffle below runs
    in full, so a caller with a distributed path pins such ``edges``
    first with a lazy ``localCheckpoint`` (a cache would add a query
    stage job under adaptive execution; the checkpoint adds none): the
    kernel job fills it, and past the gate the distributed path reads
    it instead of shuffling again.
    """
    from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    key_type = edges.schema["src"].dataType
    fields = fields or {}
    names = list(fields)
    value_types = {c: to_arrow_type(t) for c, t in fields.items() if t not in (KEY, KEYS)}
    spark_types = {KEY: key_type, KEYS: ArrayType(key_type)}
    out_schema = StructType(
        [StructField(c, spark_types.get(t, t)) for c, t in fields.items()]
        + [StructField("_meta", StringType())]
    )

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
    empty = to_arrow_schema(inp.schema).empty_table()
    n_channels, has_verts = len(values), bool(markers)  # the task must not capture frames

    def task(batches):
        from types import SimpleNamespace

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        got = list(batches)
        t = pa.Table.from_batches(got) if got else empty
        id_type = t.schema.field("src").type
        key_types = {KEY: id_type, KEYS: pa.list_(id_type)}

        def meta_batch(meta):
            return pa.RecordBatch.from_arrays(
                [pa.nulls(1, value_types.get(c) or key_types[fields[c]]) for c in names]
                + [pa.array([json.dumps(meta)])],
                names=names + ["_meta"],
            )

        chan = t.column("_c").to_numpy() if marked else None

        def rows_of(c):
            return t.filter(pa.array(chan == c)) if marked else t

        e = rows_of(0)
        if max_edge_rows is not None and e.num_rows > max_edge_rows:
            yield meta_batch({"overflow": e.num_rows})
            return
        keys = [e.column("src"), e.column("dst")] + ([rows_of(1).column("src")] if has_verts else [])
        all_keys = pa.chunked_array([ch for k in keys for ch in k.chunks], id_type)
        if pa.types.is_integer(all_keys.type):
            ids = pa.array(np.unique(pc.drop_null(all_keys).to_numpy()), all_keys.type)
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
        chans = [
            (code(m.column("src")), m.column("w").to_numpy().astype(np.float64))
            for m in map(rows_of, range(2, 2 + n_channels))
        ]
        cols, meta = body(SimpleNamespace(
            ids=ids, n=len(ids), src=src, dst=dst, weight=wt, values=chans,
        ))

        def keys_of(c):
            if fields[c] == KEY:
                return ids.take(pa.array(cols[c], pa.int64()))
            m = np.asarray(cols[c], dtype=np.int64)
            offsets = pa.array(np.arange(len(m) + 1) * m.shape[1], pa.int32())
            return pa.ListArray.from_arrays(offsets, ids.take(pa.array(m.ravel())))

        if names and "error" not in meta:
            arrays = [
                pa.array(cols[c], value_types[c]) if c in value_types else keys_of(c)
                for c in names
            ]
            yield pa.RecordBatch.from_arrays(
                arrays + [pa.nulls(len(arrays[0]), pa.string())], names=names + ["_meta"]
            )
        yield meta_batch(meta)

    out = inp.coalesce(1).mapInArrow(task, out_schema)
    is_meta = F.col("_meta").isNotNull()

    def read_meta(frame):
        got = frame.where(is_meta).select("_meta").collect()
        if not got:
            # adaptive execution drops the task when an exchange below it
            # turns out empty; the empty graph's result is empty, so only
            # its meta record is missing
            got = [list(task(iter([])))[-1].column("_meta").to_pylist()]
        meta = json.loads(got[0][0])
        if "error" in meta:
            raise ValueError(meta["error"])
        return meta

    # lazy: the meta read is the one job that computes AND pins the
    # result, and a body that raises there leaves a handle to release
    pinned = out.localCheckpoint(eager=False)
    try:
        meta = read_meta(pinned)
    except BaseException:
        release_local_checkpoint(pinned)
        raise
    if "overflow" in meta:
        log.info(
            "local kernel skipped: %d edge rows read, gate %d", meta["overflow"], max_edge_rows
        )
    elif names:
        return KernelOutput(pinned.where(~is_meta).select(*names), meta)
    release_local_checkpoint(pinned)
    return None if "overflow" in meta else KernelOutput(None, meta)
