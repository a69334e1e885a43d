"""Encoded-chunk store: one parquet table per store root.

Layout: `<root>/chunks`, zstd parquet partitioned by `column` so
single-column decodes prune at the scan (SURVEY.md §1.2).  The footer
is not a second table: it is the chunks table read without `payload`
and `validity` (`footer_of`), whose bytes parquet column pruning skips.
The same projection is the checkpoint ledger: `resume_footer` loads it
(no chunk files yet → None) and encode passes it to skip finished chunks.
A store whose writes held no rows reads as an empty chunks table.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string

from ..operators.encode import CHUNK_SPARK_SCHEMA, footer_of

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
    as an empty table with the stored chunk schema."""
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
        df = df.filter(df["column"].isin(columns))  # partition pruning
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
