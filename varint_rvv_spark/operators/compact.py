"""Chunk compaction: roll many small chunks into target-size chunks.

The maintenance job every incremental ingest needs: the streaming
encode path (streaming/encode_stream.py) emits one chunk set per
micro-batch, and resume-heavy batch ingests can leave a tail of
undersized chunks.  Small chunks hurt twice at 100 TB — per-chunk
footer/task overhead, and codecs (dict/FSST/zstd) losing context.
`compact_chunks` rewrites them into ~`target_bytes` chunks via
decode → concat → re-encode with fresh codec auto-selection and
fresh footer stats (zone maps, eq stats, witnesses).

Plan shape (scale notes):

1. Per-chunk sizes: one partial-agg `groupBy(chunk_id)` over the
   *footer-projected* columns — O(chunks) metadata, never payloads.
2. Bin assignment: a running-sum window over chunk_id order.  The
   window is deliberately un-partitioned: it runs on footer metadata
   (one row per chunk, ~1.6 M rows at 100 TB / 64 MB chunks), not on
   data — the classic "driver-side bin packing" expressed as a plan.
3. One shuffle of the chunk payloads on the new bin id (unavoidable:
   compaction co-locates bytes by definition), then a grouped Arrow
   kernel decodes each bin's column streams in chunk_id order,
   concatenates, and re-encodes through the exact `_append_column_row`
   path the encode kernel uses — so compacted chunks are
   indistinguishable from freshly encoded ones (verify_chunks,
   prune_chunks_multi, footer aggregates all apply).

Compacted chunk ids are positional (bin index), so the output is NOT
resumable — footer rows carry num_chunks=-1, which the resume guards
reject (same contract as encode_chunks_range).

Row order: bins follow chunk_id order and each bin concatenates in
chunk_id order, so a chunk_id-ordered decode of the output yields the
same row sequence as a chunk_id-ordered decode of the input.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F

from ..codecs import blob as B
from .arrow_bridge import values_to_arrow
from .decode import _cast_narrow
from .encode import CHUNK_ARROW_SCHEMA, CHUNK_SPARK_SCHEMA, \
    _append_column_row

_BIN = "_compact_bin"


def _merge_kernel(tbl: pa.Table) -> pa.Table:
    d = tbl.to_pydict()
    new_cid = int(d[_BIN][0])
    per_col: dict[str, list[int]] = {}
    for i, col in enumerate(d["column"]):
        per_col.setdefault(col, []).append(i)
    rows = {k: [] for k in CHUNK_ARROW_SCHEMA.names}
    n_rows = None
    for col, idxs in sorted(per_col.items()):
        idxs.sort(key=lambda i: d["chunk_id"][i])
        arrs = []
        for i in idxs:
            values, _, dt = B.decode_blob(d["payload"][i])
            arrs.append(_cast_narrow(values_to_arrow(
                values, dt, d["logical_type"][i],
                bytes(d["validity"][i] or b""))))
        merged = pa.concat_arrays([a.combine_chunks()
                                   if isinstance(a, pa.ChunkedArray)
                                   else a for a in arrs])
        if n_rows is None:
            n_rows = len(merged)
        elif len(merged) != n_rows:
            raise ValueError(
                f"compact_chunks: column {col!r} has {len(merged)} rows "
                f"in bin {new_cid} but a sibling column has {n_rows} — "
                f"the input chunk set is inconsistent")
        _append_column_row(rows, new_cid, col, merged, {}, num_chunks=-1)
    return pa.Table.from_pydict(rows, schema=CHUNK_ARROW_SCHEMA)


def compact_chunks(chunks: DataFrame,
                   target_bytes: int = 32 << 20) -> DataFrame:
    """Rewrite a chunk set into ~target_bytes chunks (see module doc).

    Returns a chunks DataFrame in the standard CHUNK_SPARK_SCHEMA with
    bin-index chunk ids.  Bins are greedy prefix sums: a bin closes
    when its cumulative encoded size crosses target_bytes, so a single
    oversized chunk keeps its own bin and is re-encoded, never split.
    """
    if target_bytes <= 0:
        raise ValueError("compact_chunks: target_bytes must be positive")
    sizes = (chunks.groupBy("chunk_id")
             .agg(F.sum("encoded_bytes").alias("cbytes")))
    # metadata-scale running sum (one row per chunk) — see module doc
    w = (Window.orderBy("chunk_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    assign = sizes.withColumn(
        _BIN, F.floor((F.sum("cbytes").over(w) - F.col("cbytes"))
                      / F.lit(float(target_bytes))).cast("long")
    ).select("chunk_id", _BIN)
    joined = chunks.join(F.broadcast(assign), "chunk_id")
    return (joined
            .select("chunk_id", _BIN, "column", "logical_type",
                    "validity", "payload")
            .groupBy(_BIN)
            .applyInArrow(_merge_kernel, CHUNK_SPARK_SCHEMA))
