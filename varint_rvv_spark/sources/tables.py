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

On the input side, `direct_read_splits` tells when pyarrow can read a
frame's rows itself: for a bare local parquet scan it returns the files
of each partition Spark planned (the direct-read scan encode of
operators/encode.py).
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.compute as pc
from py4j.protocol import Py4JError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
    _parse_datatype_string,
)

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
    paths = [_local_path(uri) for uri in chunks.inputFiles()]
    return None if None in paths else paths


def _local_path(uri: str) -> str | None:
    url = urlparse(uri)
    return unquote(url.path) if url.scheme == "file" else None


# Spark types whose Arrow form pyarrow's parquet reader yields as is
# (timestamps up to unit and zone, which cast exactly); other types
# (nested, intervals, variants) keep Spark's reader
_FLAT_TYPES = (BooleanType, ByteType, ShortType, IntegerType, LongType,
               FloatType, DoubleType, StringType, BinaryType, DateType,
               DecimalType, TimestampType, TimestampNTZType)
# reader options that only choose which files are listed; the planned
# splits already reflect them
_LISTING_OPTIONS = {"path", "paths", "basepath", "mergeschema",
                    "pathglobfilter", "recursivefilelookup",
                    "modifiedbefore", "modifiedafter"}
_SPARK_VERSION = b"org.apache.spark.version"
_LEGACY_KEYS = (b"org.apache.spark.legacyDateTime",
                b"org.apache.spark.legacyINT96")
_split_json = {}   # py4j gateway -> ObjectMapper of planned partitions


def _partitions_json(spark: SparkSession, parts) -> list:
    """Spark's planned FilePartitions as JSON, in one JVM call: jackson's
    Scala module writes the case classes field by field, SparkPath as
    its URI string.  The mapper is built once per gateway."""
    gw = spark.sparkContext._gateway
    mapper = _split_json.get(gw)
    if mapper is None:
        jackson = spark._jvm.com.fasterxml.jackson
        paths = jackson.databind.module.SimpleModule()
        paths.addSerializer(
            spark._jvm.java.lang.Class.forName(
                "org.apache.spark.paths.SparkPath"),
            getattr(jackson.databind.ser.std.ToStringSerializer,
                    "instance"))
        mapper = jackson.databind.ObjectMapper()
        mapper.registerModule(getattr(getattr(
            jackson.module.scala, "DefaultScalaModule$"), "MODULE$"))
        mapper.registerModule(paths)
        _split_json[gw] = mapper
    return json.loads(mapper.writeValueAsString(parts))


def _bare_parquet_scan(df: DataFrame):
    """The FileSourceScanExec of `df` when its analyzed plan is
    attribute-only Projects over a non-streaming parquet relation with
    no partition columns, no buckets and only file-listing options;
    else None.  Planning only, no job."""
    qe = df._jdf.queryExecution()
    node = qe.analyzed()
    while node.nodeName() == "Project":
        # an Alias (rename or expression) makes output differ
        if not node.projectList().equals(node.output()):
            return None
        node = node.child()
    if (node.getClass().getSimpleName() != "LogicalRelation"
            or node.isStreaming()):
        return None
    rel = node.relation()
    if (rel.getClass().getSimpleName() != "HadoopFsRelation"
            or rel.fileFormat().getClass().getSimpleName()
            != "ParquetFileFormat"
            or rel.partitionSchema().length()
            or rel.bucketSpec().isDefined()
            or set(rel.options().keys().mkString("\n").split("\n"))
            - _LISTING_OPTIONS - {""}):
        return None
    leaves = qe.executedPlan().collectLeaves()
    scan = leaves.head() if leaves.length() == 1 else None
    if (scan is None
            or scan.getClass().getSimpleName() != "FileSourceScanExec"):
        return None
    return scan


def direct_read_splits(df: DataFrame) -> tuple[list, pa.Schema] | None:
    """(files per scan partition, Arrow schema) when pyarrow reading
    those files gives exactly the batches Spark's scan of `df` sends a
    Python kernel; else None, and Spark must read `df`.

    The files are Spark's own planned splits (the FileScanRDD
    partitions of `df`'s executed plan; no job), in partition and read
    order.  Each split must be one whole local (`file:`) file, and the
    frame a bare parquet scan (`_bare_parquet_scan`) of flat columns.
    The schema is the Arrow type Spark sends for each column:
    TimestampType in the session time zone.  Each file's footer must
    hold every column by its exact name, with that type, or a
    timestamp of the same zone-ness in ms or µs (an exact cast).
    Spark would also read the files as stored: no corrupt- or
    missing-file skipping, large var types off, and no calendar rebase
    of dates or timestamps (a legacy-marked file, or a file without a
    Spark version under a rebase mode other than CORRECTED).
    """
    import pyarrow.parquet as pq

    spark = df.sparkSession
    conf = spark.conf
    # stored as set: Spark parses "TRUE" as true but returns it as is
    if any(conf.get(k).lower() == "true" for k in (
            "spark.sql.files.ignoreCorruptFiles",
            "spark.sql.files.ignoreMissingFiles",
            "spark.sql.execution.arrow.useLargeVarTypes")):
        return None
    fields = df.schema.fields
    if (not fields or len({f.name for f in fields}) < len(fields)
            or not all(isinstance(f.dataType, _FLAT_TYPES)
                       for f in fields)):
        return None
    tz = conf.get("spark.sql.session.timeZone")
    schema = pa.schema([
        (f.name, pa.timestamp("us", tz=tz)
         if isinstance(f.dataType, TimestampType)
         else to_arrow_type(f.dataType)) for f in fields])
    try:
        scan = _bare_parquet_scan(df)
        if scan is None:
            return None
        parts = _partitions_json(spark, scan.inputRDD().partitions())
    except Py4JError:  # a Spark build whose plan classes differ
        return None
    splits = []
    for i, part in enumerate(parts):
        paths = []
        for f in part["files"]:
            path = _local_path(f["filePath"])
            if (path is None or f["start"] != 0
                    or f["length"] != f["fileSize"]):
                return None
            paths.append(path)
        if part["index"] != i:
            return None
        splits.append(paths)
    temporal = any(pa.types.is_timestamp(t) or pa.types.is_date(t)
                   for t in schema.types)
    rebase = conf.get("spark.sql.parquet.datetimeRebaseModeInRead")
    for path in {p for paths in splits for p in paths}:
        stored = pq.read_schema(path)
        meta = stored.metadata or {}
        version = meta.get(_SPARK_VERSION)
        if version is None:   # Spark takes the rebase mode from the conf
            legacy = rebase != "CORRECTED"
        else:
            legacy = version < b"3" or any(k in meta for k in _LEGACY_KEYS)
        if temporal and legacy:
            return None
        for want in schema:
            i = stored.get_field_index(want.name)  # -1: absent or twice
            if i < 0 or not _casts_exactly(stored.field(i).type, want.type):
                return None
    return splits, schema


def _casts_exactly(got: pa.DataType, want: pa.DataType) -> bool:
    if got == want:
        return True
    return (pa.types.is_timestamp(got) and pa.types.is_timestamp(want)
            and got.unit in ("ms", "us")
            and (got.tz is None) == (want.tz is None))


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
