"""Encoded-chunk store: one parquet table per store root.

Layout: `<root>/chunks`, zstd parquet partitioned by `column` so
single-column decodes prune at the scan (SURVEY.md §1.2).  The footer
is not a second table: it is the chunks table read without `payload`
and `validity` (`footer_of`), whose bytes parquet column pruning skips.
The same projection is the checkpoint ledger: `resume_footer` loads it
(no chunk files yet → None) and encode passes it to skip finished chunks.
A store whose writes held no rows reads as an empty chunks table.

A `read_chunks` frame of the whole store is tagged with its root; while
its data files are local, `local_files` + `read_local` give the driver
pyarrow reads of exactly the files the frame lists (the lookup path of
operators/decode.py).
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string

from ..operators.encode import (
    CHUNK_ARROW_SCHEMA,
    CHUNK_SPARK_SCHEMA,
    footer_of,
)

# Parquet row-group cap for the chunks table (parquet's default is
# 128 MB): the pruned read path pushes a `chunk_id IN (...)` scan
# filter, and parquet skips at ROW-GROUP granularity — with default
# blocks a range/zorder store written from few partitions packs ~100
# chunks per row group, so a 7-chunk point read drags in whole 128 MB
# row groups (measured 2.3 s vs 0.6 s on an equivalent store with
# chunk-sized groups; BENCH/PRUNING.md).  Row groups a small multiple
# of the chunk payload keep skipped chunks actually unread.
ROWGROUP_BYTES = 16 << 20


def write_encoded(chunks: DataFrame, root: str,
                  mode: str = "append") -> None:
    """Persist chunks as one column-partitioned parquet write: the
    input's encode lineage runs once."""
    (chunks.write.mode(mode)
     .option("parquet.block.size", str(ROWGROUP_BYTES))
     .partitionBy("column")
     .parquet(f"{root}/chunks"))


def read_chunks(spark: SparkSession, root: str,
                columns: list[str] | None = None) -> DataFrame:
    """The store's chunks table; a store whose writes held no rows
    (parquet then leaves no data file to infer a schema from) reads
    as an empty table with the stored chunk schema.

    With `columns=None` the frame is tagged with `root`, which makes
    it eligible for driver-local lookups: while all its files are
    local (`file:`), `prune_chunks_multi` and `scan_encoded` judge its
    footer with pyarrow, and when pruning skips some chunk
    `scan_encoded` decodes the kept ones on the driver if they hold at
    most `decode.LOCAL_READ_BYTES` encoded bytes, running 0 Spark jobs.
    Any frame derived from it (a filter, a select, `columns=[...]`)
    is a new DataFrame without the tag and takes the Spark path.
    """
    try:
        df = spark.read.parquet(f"{root}/chunks")
    except AnalysisException as e:
        if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        # CHUNK_SPARK_SCHEMA as a partitioned read orders it: the
        # partition key `column` last
        fields = _parse_datatype_string(CHUNK_SPARK_SCHEMA).fields
        df = spark.createDataFrame([], StructType(
            [f for f in fields if f.name != "column"]
            + [f for f in fields if f.name == "column"]))
    if columns:
        return df.filter(df["column"].isin(columns))  # partition pruning
    df._store_root = root
    return df


def read_footer(spark: SparkSession, root: str) -> DataFrame:
    return footer_of(read_chunks(spark, root))


def resume_footer(spark: SparkSession, root: str) -> DataFrame | None:
    """Ledger of already-written chunks, or None for a fresh start.

    Only a store with no chunk files is a fresh start: one that does
    not exist yet, or one whose writes held no rows.  Any other read
    error (a corrupt or unreadable file) propagates: treating it as a
    fresh start would re-encode every chunk and append duplicates.
    """
    try:
        footer = read_footer(spark, root)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise
    # listing the files runs no job
    return footer if footer.inputFiles() else None


def local_files(chunks: DataFrame) -> list[str] | None:
    """Data file paths of a tagged `read_chunks` frame whose files are
    all local, else None.

    The listing is the frame's own `inputFiles()` (no job): the files
    Spark listed when the frame was read, so the driver reads what the
    frame's Spark plan would read, even after a later append.
    """
    if vars(chunks).get("_store_root") is None:
        return None
    paths = []
    for uri in chunks.inputFiles():
        url = urlparse(uri)
        if url.scheme != "file":
            return None
        paths.append(unquote(url.path))
    return paths


def read_local(paths: list[str], columns: list[str], fields: list[str],
               chunk_ids: list | None = None) -> pa.Table:
    """`fields` of the stored rows of `columns` in `local_files`'
    listing, read with pyarrow (the `column=` directories skip other
    columns' files); `chunk_ids` filters rows (parquet statistics skip
    row groups), None keeps all."""
    # imported here: pyarrow.dataset pulls in pandas, and the Python
    # workers that import this module (via operators/decode.py) never
    # read a store themselves
    import pyarrow.dataset as ds

    keep = pc.field("column").isin(columns)
    if chunk_ids is not None:
        keep &= pc.field("chunk_id").isin(pa.array(chunk_ids, pa.int64()))
    return ds.dataset(
        paths, schema=CHUNK_ARROW_SCHEMA, format="parquet",
        # write_encoded's layout: <root>/chunks/column=<name>/part-*
        partitioning=ds.partitioning(pa.schema([("column", pa.string())]),
                                     flavor="hive"),
        partition_base_dir=os.path.dirname(os.path.dirname(paths[0]))
        if paths else None,
    ).to_table(columns=fields, filter=keep)
