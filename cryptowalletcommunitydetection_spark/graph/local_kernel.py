"""The single-task Arrow boundary of the small-graph kernels.

Below their size gates, PageRank, label propagation, connected
components and triangle counting run as one vectorized numpy task
instead of a distributed loop. ``run_kernel`` owns what they share, so
each operator keeps only its numpy body:

- the input is the caller's edge rows as they stand (the canonical
  table for undirected operators: no Spark-side symmetrization,
  normalization or join) plus optional marker rows, all in one
  ``coalesce(1).mapInArrow`` task — a narrow merge, no exchange;
- the task indexes every key once into int64 codes in key order:
  pyarrow ``unique`` / ``sort_indices`` for strings (UTF-8 byte order,
  which is Spark's ``UTF8String`` order), ``np.unique`` for integers,
  then ``index_in``;
- the body returns the complete result table, vertex ids as codes, and
  one JSON meta record; both leave through one local checkpoint that
  the single read of the meta record materializes.

The task and the bodies are closures shipped by value, so no worker
imports this package.
"""

from __future__ import annotations

import json
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.checkpoint import release_local_checkpoint

KEY = "key"
"""Result field type meaning "a vertex id": the body returns codes, the
boundary turns them back into keys of the edge table's id type."""


class KernelOutput(NamedTuple):
    rows: DataFrame | None       # the result table; None without fields
    meta: dict
    pinned: DataFrame | None     # the local checkpoint behind ``rows``


def run_kernel(
    edges: DataFrame,
    body: Callable[[Any], tuple[dict, dict]],
    fields: dict | None,
    *,
    weight: bool = False,
    vertices: DataFrame | None = None,
    values: tuple[DataFrame, ...] = (),
) -> KernelOutput:
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

    ``fields`` maps result names to ``KEY`` or a Spark type. ``rows``
    reads the local checkpoint ``pinned``; release it with
    ``release_local_checkpoint`` once ``rows`` is no longer needed. A
    failing body leaves nothing pinned. With ``fields=None`` nothing is
    pinned and the call is one job that returns the meta record.
    """
    from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
    from pyspark.sql.types import StringType, StructField, StructType

    key_type = edges.schema["src"].dataType
    fields = fields or {}
    names = list(fields)
    value_types = {c: to_arrow_type(t) for c, t in fields.items() if t != KEY}
    out_schema = StructType(
        [StructField(c, key_type if t == KEY else t) for c, t in fields.items()]
        + [StructField("_meta", StringType())]
    )

    marked = vertices is not None or bool(values)
    w = F.col("weight").cast("double") if weight else F.lit(None).cast("double")
    inp = edges.select(
        "src", "dst", *([w.alias("w")] if weight or marked else []),
        *([F.lit(0).cast("byte").alias("_c")] if marked else []),
    )
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
        chan = t.column("_c").to_numpy() if marked else None

        def rows_of(c):
            return t.filter(pa.array(chan == c)) if marked else t

        e = rows_of(0)
        keys = [e.column("src"), e.column("dst")] + ([rows_of(1).column("src")] if has_verts else [])
        all_keys = pa.chunked_array([ch for k in keys for ch in k.chunks], t.schema.field("src").type)
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
        if names and "error" not in meta:
            arrays = [
                pa.array(cols[c], value_types[c]) if c in value_types
                else ids.take(pa.array(cols[c], pa.int64()))
                for c in names
            ]
            yield pa.RecordBatch.from_arrays(
                arrays + [pa.nulls(len(arrays[0]), pa.string())], names=names + ["_meta"]
            )
        yield pa.RecordBatch.from_arrays(
            [pa.nulls(1, value_types.get(c, ids.type)) for c in names]
            + [pa.array([json.dumps(meta)])],
            names=names + ["_meta"],
        )

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

    if not names:
        return KernelOutput(None, read_meta(out), None)
    # lazy: the meta read is the one job that computes AND pins the
    # result, and a body that raises there leaves a handle to release
    pinned = out.localCheckpoint(eager=False)
    try:
        meta = read_meta(pinned)
    except BaseException:
        release_local_checkpoint(pinned)
        raise
    return KernelOutput(pinned.where(~is_meta).select(*names), meta, pinned)
