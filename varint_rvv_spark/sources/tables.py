"""Encoded-chunk store: one parquet table per store root.

Layout: `<root>/chunks`, zstd parquet partitioned by `column` so
single-column decodes prune at the scan (SURVEY.md §1.2).  The footer
is not a second table: it is the chunks table read without `payload`
and `validity` (`footer_of`), whose bytes parquet column pruning skips.
The same projection is the checkpoint ledger: `resume_footer` loads it
(no chunk files yet → None) and encode passes it to skip finished chunks.
A store whose writes held no rows reads as an empty chunks table.

Two writers make the same layout (`write_encoded`): Spark's parquet
writer, and for the untransformed frame of a direct-read scan encode a
direct write, whose Python tasks encode their split and write the
files with pyarrow into `<root>/chunks/_temporary/<job>/`, and whose
driver then renames the files of the one successful attempt per task
into place.  Direct-written files carry parquet page CRCs but no
Hadoop `.crc` sidecars; either writer appends to, resumes and reads
the other's store.

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
import shutil
import uuid
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


# the direct write's parquet options: parquet-mr's zstd level, plain
# encoding (dictionaries and min/max of payloads, hashes and stats_json
# only grew the files), statistics on the short fields (chunk_id's keep
# `chunk_id IN` row-group skipping), page CRCs as parquet-mr writes them
_WRITE_OPTIONS = dict(
    compression="zstd", compression_level=3, use_dictionary=False,
    write_statistics=["chunk_id", "num_chunks", "codec_id", "codec",
                      "dtype_code", "logical_type", "n_values",
                      "raw_bytes", "encoded_bytes"],
    write_page_checksum=True, store_schema=False)
# a stored file's fields: the chunk schema without the partition key
_FILE_SCHEMA = CHUNK_ARROW_SCHEMA.remove(
    CHUNK_ARROW_SCHEMA.get_field_index("column"))


def write_encoded(chunks: DataFrame, root: str,
                  mode: str = "append") -> None:
    """Persist chunks as one column-partitioned parquet table,
    `<root>/chunks/column=<name>/part-*.zstd.parquet`: the input's
    encode lineage runs once.

    The untransformed, unpersisted frame of a direct-read
    `encode_chunks_scan` (tagged with its batch source) is written
    directly when `root` is on the local filesystem, `mode` is append
    or overwrite (the latter under static partition overwrite), the
    session's parquet codec is zstd and every encoded column name is
    its own hive directory name: one job whose Python tasks encode
    their split and write one file per column with pyarrow into a
    staging directory, then a driver-side commit (`_write_direct`).
    Its files carry parquet page CRCs but no Hadoop `.crc` sidecars.
    Every other frame (derived, cached, in-session, resumed) and root
    goes through Spark's parquet writer; a cached frame writes its
    cached rows and does not encode again.
    """
    target = _direct_target(chunks, root, mode)
    if target is not None:
        _write_direct(chunks.sparkSession, vars(chunks)["_chunk_source"],
                      target, mode)
        return
    (chunks.write.mode(mode)
     .option("parquet.block.size", str(ROWGROUP_BYTES))
     .partitionBy("column")
     .parquet(f"{root}/chunks"))


def _direct_target(chunks: DataFrame, root: str, mode: str) -> str | None:
    """The local path of `<root>/chunks` when `write_encoded` may write
    `chunks` directly, else None."""
    tag = vars(chunks).get("_chunk_source")
    if tag is None or mode not in ("append", "overwrite"):
        return None
    # .cache() tags nothing new: it returns the same frame
    level = chunks.storageLevel
    if level.useMemory or level.useDisk or level.useOffHeap:
        return None
    spark = chunks.sparkSession
    conf = spark.conf
    if (conf.get("spark.sql.parquet.compression.codec").lower() != "zstd"
            or mode == "overwrite" and conf.get(
                "spark.sql.sources.partitionOverwriteMode").lower()
            != "static"):
        return None
    try:
        # the directory Spark's writer would write, as Hadoop resolves
        # `root` (default filesystem, working directory)
        path = spark._jvm.org.apache.hadoop.fs.Path(f"{root}/chunks")
        fs = path.getFileSystem(
            spark._jsparkSession.sessionState().newHadoopConf())
        if fs.getScheme() != "file":
            return None
        escape = spark._jvm.org.apache.spark.sql.catalyst.catalog \
            .ExternalCatalogUtils
        if any(escape.getPartitionPathString("column", c)
               != f"column={c}" for c in tag.columns):
            return None
        return fs.makeQualified(path).toUri().getPath()
    except Py4JError:  # a Spark build whose classes differ
        return None


def _write_direct(spark: SparkSession, tag, target: str,
                  mode: str) -> None:
    """Write a direct-read encode's chunks into `target` (`<root>/chunks`)
    with one job, then commit.

    Task i of `range(0, n, 1, n)` writes under
    `<target>/_temporary/<job>/<task attempt>/` (`_write_task`) and
    yields the paths it wrote.  The collected paths are those of the
    one successful attempt per partition; the driver then (overwrite
    only) removes everything under `target` but `_temporary`, renames
    each collected file into `column=<c>/`, removes its staging
    directory and writes `_SUCCESS`.  If the job fails, it removes its
    staging directory and re-raises, leaving the store unchanged.
    """
    job = str(uuid.uuid4())
    staging = os.path.join(target, "_temporary", job)
    os.makedirs(staging)
    try:
        written = [r.path for r in spark.range(0, tag.n, 1, tag.n)
                   .mapInArrow(_write_task(tag.source, staging, job),
                               "path string").collect()]
    except BaseException:
        _drop_staging(staging)
        raise
    if mode == "overwrite":
        for name in os.listdir(target):
            if name == "_temporary":
                continue
            old = os.path.join(target, name)
            if os.path.isdir(old) and not os.path.islink(old):
                shutil.rmtree(old)
            else:
                os.remove(old)
    for rel in written:
        _, part, name = rel.split("/")
        os.makedirs(os.path.join(target, part), exist_ok=True)
        os.rename(os.path.join(staging, rel),
                  os.path.join(target, part, name))
    _drop_staging(staging)
    open(os.path.join(target, "_SUCCESS"), "wb").close()


def _drop_staging(staging: str) -> None:
    shutil.rmtree(staging, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(staging))   # `_temporary`, if now empty
    except OSError:
        pass


def _write_task(source, staging: str, job: str):
    """mapInArrow function of the direct write: runs `source` (the
    encode's batch source) in this task and writes its chunk rows,
    split by `column`, into one parquet file per column,
    `<staging>/<attempt>/column=<c>/part-<partition>-<job>.c000.zstd.parquet`,
    a row group each time the task has buffered `ROWGROUP_BYTES`;
    yields the paths written, relative to `staging`."""
    def fn(batch_iter):
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        ctx = TaskContext.get()
        attempt = str(ctx.taskAttemptId())
        name = f"part-{ctx.partitionId():05d}-{job}.c000.zstd.parquet"
        # mkdir, not makedirs: once an aborted job's staging directory
        # is gone, a task still running creates nothing
        os.mkdir(os.path.join(staging, attempt))
        buffered, writers = {}, {}
        size = 0

        def flush():
            for c, batches in buffered.items():
                if c not in writers:
                    rel = f"{attempt}/column={c}/{name}"
                    os.mkdir(os.path.join(staging, attempt, f"column={c}"))
                    writers[c] = rel, pq.ParquetWriter(
                        os.path.join(staging, rel), _FILE_SCHEMA,
                        **_WRITE_OPTIONS)
                rows = pa.Table.from_batches(batches, _FILE_SCHEMA)
                writers[c][1].write_table(rows, row_group_size=rows.num_rows)
            buffered.clear()

        try:
            for batch in source(batch_iter):
                stored = batch.select(_FILE_SCHEMA.names)
                names = batch.column("column").to_pylist()
                for c in dict.fromkeys(names):
                    buffered.setdefault(c, []).append(stored.take(
                        [i for i, n in enumerate(names) if n == c]))
                size += batch.nbytes
                if size >= ROWGROUP_BYTES:
                    flush()
                    size = 0
            flush()
        finally:
            for _, w in writers.values():
                w.close()
        yield pa.RecordBatch.from_pydict(
            {"path": [rel for rel, _ in writers.values()]},
            schema=pa.schema([("path", pa.string())]))

    return fn


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
    Spark version under a rebase mode other than CORRECTED).  An INT96
    column (Spark's default timestamp encoding) is read in µs, as
    Spark truncates it, only from a file Spark 3.1 or later wrote
    without a legacy mark (which Spark reads unrebased whatever
    `int96RebaseModeInRead` says) and never under
    `int96TimestampConversion`.
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
    int96_shift = conf.get(
        "spark.sql.parquet.int96TimestampConversion").lower() == "true"
    for path in {p for paths in splits for p in paths}:
        # INT96 read in µs, as `_read_splits` reads it
        with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as f:
            stored, meta = f.schema_arrow, f.metadata.metadata or {}
            int96 = {f.schema.column(j).path for j in range(len(f.schema))
                     if f.schema.column(j).physical_type == "INT96"}
        version = meta.get(_SPARK_VERSION)
        legacy = any(k in meta for k in _LEGACY_KEYS)
        # without a Spark version, Spark takes the rebase mode from the
        # conf
        if temporal and (rebase != "CORRECTED" if version is None
                         else legacy or version < b"3"):
            return None
        for want in schema:
            i = stored.get_field_index(want.name)  # -1: absent or twice
            if i < 0:
                return None
            if want.name in int96:
                # Spark's UTC instants, read as TimestampType, unshifted
                # and unrebased (Spark before 3.1 wrote INT96 in the
                # hybrid calendar); other writers' INT96 (Impala's local
                # times, which int96TimestampConversion shifts) keep
                # Spark's reader
                if (int96_shift or version is None or legacy
                        or version < b"3.1.0"
                        or not pa.types.is_timestamp(want.type)
                        or want.type.tz is None):
                    return None
            elif not _casts_exactly(stored.field(i).type, want.type):
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
