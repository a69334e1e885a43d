"""Direct-read scan encode and direct-write sink: over a bare local
parquet scan, encode_chunks_scan's Python tasks read Spark's planned
splits with pyarrow, and write_encoded of that frame has its own tasks
write the store files with pyarrow before the driver commits them.
The chunk rows, the layout fingerprint and the files written must
equal the Spark path's (input rows sent through Spark's row-to-Arrow
writer, chunk rows through Spark's parquet writer), and every other
input or frame must keep the Spark path."""

import datetime as dt
import os
from contextlib import contextmanager
from functools import partial

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from varint_rvv_spark.operators import encode
from varint_rvv_spark.operators.encode import encode_chunks_scan
from varint_rvv_spark.sources import tables
from varint_rvv_spark.sources.tables import (
    direct_read_splits,
    read_chunks,
    write_encoded,
)

T0 = 1_704_067_200_000_000  # 2024-01-01 UTC, epoch-µs
ROW_FIELDS = ["chunk_id", "num_chunks", "column", "codec_id", "codec",
              "dtype_code", "logical_type", "n_values", "raw_bytes",
              "encoded_bytes", "value_sha256", "validity", "payload",
              "stats_json"]


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@contextmanager
def confs(spark, settings: dict):
    prev = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _typed_table(lo: int, hi: int) -> pa.Table:
    """Rows lo..hi-1: nullable int, string, binary, timestamp and
    timestamp_ntz columns (NULLs at different strides)."""
    ks = range(lo, hi)
    return pa.table({
        "i": pa.array([None if k % 7 == 0 else 3 * k - 500 for k in ks],
                      pa.int32()),
        "l": pa.array([k * k for k in ks], pa.int64()),
        "s": pa.array([None if k % 5 == 0 else f"s{k % 37}-{k}"
                       for k in ks]),
        "b": pa.array([None if k % 11 == 0 else bytes([k % 251]) * (k % 9)
                       for k in ks], pa.binary()),
        "ts": pa.array([None if k % 13 == 0 else T0 + 1000 * k
                        for k in ks], pa.timestamp("us", tz="UTC")),
        "ntz": pa.array([T0 + 999 * k for k in ks], pa.timestamp("us")),
    })


def _write_files(path: str, sizes: list, row_group_size=None) -> str:
    os.makedirs(path, exist_ok=True)
    lo = 0
    for i, n in enumerate(sizes):
        pq.write_table(_typed_table(lo, lo + n),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=row_group_size)
        lo += n
    return path


def _spark_path(monkeypatch):
    monkeypatch.setattr(tables, "direct_read_splits", lambda df: None)


def _chunk_rows(chunks) -> list:
    return sorted(tuple(r[f] for f in ROW_FIELDS)
                  for r in chunks.collect())


def _both(spark, monkeypatch, tmp_path, df, rows_per_chunk):
    """Encode and write `df` on the direct path, then on the Spark path;
    assert the chunk rows, partition counts and files written agree."""
    direct = encode_chunks_scan(df, rows_per_chunk=rows_per_chunk)
    assert "FileScan" not in plan_of(direct)
    got = _chunk_rows(direct)
    write_encoded(direct, str(tmp_path / "direct"), mode="overwrite")
    with monkeypatch.context() as m:
        _spark_path(m)
        via_spark = encode_chunks_scan(df, rows_per_chunk=rows_per_chunk)
        assert "FileScan parquet" in plan_of(via_spark)
        want = _chunk_rows(via_spark)
        write_encoded(via_spark, str(tmp_path / "spark"), mode="overwrite")
        assert (direct.rdd.getNumPartitions()
                == via_spark.rdd.getNumPartitions())
    assert got == want and len(got) > 0

    def files(root):
        out = {}
        for d, _, fs in os.walk(os.path.join(root, "chunks")):
            n = sum(f.endswith(".parquet") for f in fs)
            if n:
                out[os.path.basename(d)] = n
        return out

    assert files(tmp_path / "direct") == files(tmp_path / "spark")
    # the direct write leaves no Hadoop sidecars and no staging
    assert _sidecars(tmp_path / "direct") == 0 < _sidecars(tmp_path / "spark")
    assert not os.path.exists(tmp_path / "direct" / "chunks" / "_temporary")
    stored = [_chunk_rows(read_chunks(spark, str(tmp_path / p)).select(
        *ROW_FIELDS)) for p in ("direct", "spark")]
    assert stored[0] == stored[1] == want
    return got


def _sidecars(root) -> int:
    """Hadoop `.crc` files under a store: Spark's writer leaves one per
    file it writes, the direct write none."""
    return sum(f.endswith(".crc") for _, _, fs in os.walk(root) for f in fs)


def _listing(root) -> dict:
    return {os.path.relpath(os.path.join(d, f), root):
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(root) for f in fs}


def test_pinned_one_file_per_split(spark, monkeypatch, tmp_path):
    src = _write_files(str(tmp_path / "in"), [700, 650, 800, 512])
    with confs(spark, {"spark.sql.files.maxPartitionBytes": str(128 << 20),
                       "spark.sql.files.openCostInBytes": str(128 << 20)}):
        df = spark.read.parquet(src)
        splits, _ = direct_read_splits(df)
        assert sorted(len(s) for s in splits) == [1, 1, 1, 1]
        rows = _both(spark, monkeypatch, tmp_path, df, 300)
    # 3 chunks per file of ≥ 601 rows, 2 for the 512-row file
    assert len({r[0] for r in rows}) == 11


def test_default_packing_several_files_per_partition(spark, monkeypatch,
                                                     tmp_path):
    """Spark packs small files into shared partitions (a tiny open cost
    here): chunk ids count rows across a partition's files, so chunks
    straddle file boundaries."""
    src = _write_files(str(tmp_path / "in"),
                       [310, 95, 240, 400, 120, 333, 77, 260, 150, 199])
    with confs(spark, {"spark.sql.files.openCostInBytes": "1"}):
        df = spark.read.parquet(src).select("s", "i", "l")
        splits, _ = direct_read_splits(df)
        assert max(len(s) for s in splits) > 1
        rows = _both(spark, monkeypatch, tmp_path, df, 128)
    assert sum(r[7] for r in rows if r[2] == "s") == 2184


def test_typed_columns_under_a_non_utc_session(spark, monkeypatch,
                                               tmp_path):
    """Nullable int, string, binary, timestamp and timestamp_ntz columns
    under Asia/Tokyo: timestamps reach the kernel in the session zone,
    as Spark's Arrow writer sends them."""
    src = _write_files(str(tmp_path / "in"), [900, 433, 618],
                       row_group_size=200)
    with confs(spark, {"spark.sql.session.timeZone": "Asia/Tokyo"}):
        df = spark.read.parquet(src)
        _, schema = direct_read_splits(df)
        assert schema.field("ts").type == pa.timestamp("us",
                                                       tz="Asia/Tokyo")
        rows = _both(spark, monkeypatch, tmp_path, df, 250)
    logical = {r[2]: r[6] for r in rows}
    assert logical["ts"].endswith("Asia/Tokyo")
    assert any(r[11] for r in rows if r[2] == "i")   # NULLs kept


def test_ineligible_inputs_take_the_spark_path(spark, tmp_path):
    """Filtered, derived, cached, hive-partitioned, nested-typed and
    split-file inputs, and every resume, read through Spark."""
    src = _write_files(str(tmp_path / "in"), [500, 500])
    df = spark.read.parquet(src)
    hive = str(tmp_path / "hive")
    df.withColumn("p", F.col("l") % 2).write.partitionBy("p") \
        .parquet(hive)
    nested = str(tmp_path / "nested")
    df.select("l", F.array("l").alias("arr")).write.parquet(nested)
    big = str(tmp_path / "big")
    pq.write_table(_typed_table(0, 20000), big + ".parquet",
                   row_group_size=1000)
    cases = {
        "filtered": df.filter(F.col("l") > 10),
        "derived": df.withColumn("l", F.col("l") + 1),
        "renamed": df.select(F.col("l").alias("m")),
        "cached": df.cache(),
        "in-session": spark.createDataFrame([(1,)], "l long"),
        "hive-partitioned": spark.read.parquet(hive),
        "nested": spark.read.parquet(nested),
        "user-schema": spark.read.schema("l long, i long").parquet(src),
    }
    try:
        for name, frame in cases.items():
            assert direct_read_splits(frame) is None, name
            assert "Range" not in plan_of(encode_chunks_scan(frame)), name
        with confs(spark, {"spark.sql.files.maxPartitionBytes": "65536",
                           "spark.sql.files.openCostInBytes": "1"}):
            split = spark.read.parquet(big + ".parquet")
            assert split.rdd.getNumPartitions() > 1
            assert direct_read_splits(split) is None
            assert "FileScan" in plan_of(encode_chunks_scan(split))
    finally:
        df.unpersist()
    # a fresh projection (a frame memoizes its physical plan)
    assert direct_read_splits(df.select(*df.columns)) is not None
    for resume in ({"done_chunk_ids": [0]},
                   {"done_footer": encode_chunks_scan(df)}):
        assert "FileScan" in plan_of(encode_chunks_scan(df, **resume))


def test_eligible_encode_reads_no_file_scan(spark, tmp_path):
    """Plan check: the only Python node reads a Range, never a FileScan,
    and the range has one partition per planned split."""
    src = _write_files(str(tmp_path / "in"), [400, 300, 200])
    df = spark.read.parquet(src).select("i", "ts")
    plan = plan_of(encode_chunks_scan(df, rows_per_chunk=100))
    assert "FileScan" not in plan and "Range" in plan
    assert "MapInArrow" in plan
    assert encode_chunks_scan(df).rdd.getNumPartitions() \
        == df.rdd.getNumPartitions()


def test_direct_read_reads_input_once(spark, monkeypatch, tmp_path):
    """Direct-mode twin of test_write_encoded_reads_input_once: every
    input row passes the direct batch source exactly once."""
    src = _write_files(str(tmp_path / "in"), [600, 400])
    seen = spark.sparkContext.accumulator(0)
    read_splits = encode._read_splits

    def tapped(splits, schema, rows_per_chunk, kernel):
        def counting(batches):
            def tap():
                for b in batches:
                    seen.add(b.num_rows)
                    yield b
            return kernel(tap())
        return read_splits(splits, schema, rows_per_chunk, counting)

    monkeypatch.setattr(encode, "_read_splits", tapped)
    chunks = encode_chunks_scan(spark.read.parquet(src),
                                rows_per_chunk=128)
    assert "FileScan" not in plan_of(chunks)
    write_encoded(chunks, str(tmp_path / "enc"), mode="overwrite")
    assert seen.value == 1000


def test_fingerprint_lets_either_path_resume(spark, monkeypatch, tmp_path):
    """Both paths stamp the same layout fingerprint, so a store written
    by the direct path resumes on the Spark path with nothing left."""
    src = _write_files(str(tmp_path / "in"), [420, 380])
    df = spark.read.parquet(src)
    root = str(tmp_path / "enc")
    write_encoded(encode_chunks_scan(df, rows_per_chunk=100), root,
                  mode="overwrite")
    footer = read_chunks(spark, root)
    rest = encode_chunks_scan(df, rows_per_chunk=100, done_footer=footer)
    assert rest.count() == 0
    with monkeypatch.context() as m:
        _spark_path(m)
        fp = {r[0] for r in encode_chunks_scan(df, rows_per_chunk=100)
              .select("num_chunks").distinct().collect()}
    assert fp == {r[0] for r in footer.select("num_chunks").distinct()
                  .collect()}


@pytest.mark.parametrize("rows_per_chunk", [0, -5])
def test_rows_per_chunk_below_one_is_refused(spark, tmp_path,
                                             rows_per_chunk):
    """Refused before any plan on both paths: 0 made the direct read put
    a whole partition in one chunk, and a negative size gave negative
    ordinals that collide with the previous partition's chunk ids."""
    df = spark.read.parquet(_write_files(str(tmp_path / "in"), [30, 30]))
    for frame in (df, df.filter(F.col("l") >= 0)):
        with pytest.raises(ValueError, match="rows_per_chunk"):
            encode_chunks_scan(frame, rows_per_chunk=rows_per_chunk)


def test_ntz_and_ms_timestamps_cast_exactly(spark, monkeypatch, tmp_path):
    """Millisecond timestamps cast to µs exactly; a nanosecond column
    (INT96 or NANOS, which Spark converts) keeps the Spark path."""
    src = str(tmp_path / "ms")
    os.makedirs(src)
    ms = [T0 // 1000 + 17 * k for k in range(300)]
    pq.write_table(pa.table({
        "t": pa.array(ms, pa.timestamp("ms", tz="UTC")),
        "n": pa.array(ms, pa.timestamp("ms")),
        "d": pa.array([dt.date(2024, 1, 1 + k % 28) for k in range(300)]),
    }), os.path.join(src, "a.parquet"))
    _both(spark, monkeypatch, tmp_path, spark.read.parquet(src), 64)
    ns = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({"t": pa.array(ms, pa.timestamp("ms"))
                             .cast(pa.timestamp("ns"))}), ns,
                   use_deprecated_int96_timestamps=True)
    assert direct_read_splits(spark.read.parquet(ns)) is None


@pytest.mark.parametrize("rebase", ["LEGACY", "EXCEPTION"])
def test_calendar_rebase_keeps_the_spark_path(spark, tmp_path, rebase):
    src = _write_files(str(tmp_path / "in"), [50])
    with confs(spark,
               {"spark.sql.parquet.datetimeRebaseModeInRead": rebase}):
        assert direct_read_splits(spark.read.parquet(src)) is None
        assert direct_read_splits(
            spark.read.parquet(src).select("l", "s")) is not None


@pytest.mark.parametrize("key", ["spark.sql.files.ignoreCorruptFiles",
                                 "spark.sql.files.ignoreMissingFiles",
                                 "spark.sql.execution.arrow.useLargeVarTypes"])
def test_skipping_and_large_var_confs_keep_the_spark_path(spark, tmp_path,
                                                          key):
    """pyarrow would fail on a file Spark skips, or send other string
    types; Spark returns a conf as it was set, "TRUE" included."""
    src = _write_files(str(tmp_path / "in"), [50])
    for value in ("true", "TRUE"):
        with confs(spark, {key: value}):
            assert direct_read_splits(spark.read.parquet(src)) is None
    assert direct_read_splits(spark.read.parquet(src)) is not None


def test_fingerprint_reads_sizes_under_escaped_paths(spark, tmp_path):
    """Spark lists `file:///…/sp%20ace/x%20y.parquet`: the size must be
    read at the unescaped path, so rewriting the file to another size
    refuses the resume."""
    src = tmp_path / "sp ace"
    src.mkdir()
    path = str(src / "x y.parquet")
    pq.write_table(_typed_table(0, 400), path)
    df = spark.read.parquet(str(src))
    assert any("%20" in f for f in df.inputFiles())
    root = str(tmp_path / "enc")
    write_encoded(encode_chunks_scan(df, rows_per_chunk=100), root,
                  mode="overwrite")
    pq.write_table(_typed_table(0, 520), path)
    df = spark.read.parquet(str(src))
    with pytest.raises(ValueError, match="resume refused"):
        encode_chunks_scan(df, rows_per_chunk=100,
                           done_footer=tables.resume_footer(spark, root))


def test_spark_written_int96_timestamps_take_the_direct_read(
        spark, monkeypatch, tmp_path):
    """`df.write.parquet` stores `timestamp` as INT96: read in µs, the
    direct read equals Spark's (instants before and after 1970, NULLs,
    a non-UTC session).  `int96TimestampConversion` and INT96 from
    other writers keep the Spark path."""
    src = str(tmp_path / "in")
    with confs(spark, {"spark.sql.session.timeZone": "America/New_York"}):
        spark.createDataFrame(
            [(k, None if k % 9 == 0 else
              dt.datetime(1901, 3, 1) + dt.timedelta(days=97 * k,
                                                     microseconds=k))
             for k in range(900)], "k long, t timestamp") \
            .coalesce(2).write.parquet(src)
        files = [os.path.join(src, f) for f in os.listdir(src)
                 if f.endswith(".parquet")]
        assert {pq.ParquetFile(f).schema.column(1).physical_type
                for f in files} == {"INT96"}
        df = spark.read.parquet(src)
        splits, schema = direct_read_splits(df)
        assert schema.field("t").type == pa.timestamp(
            "us", tz="America/New_York")
        rows = _both(spark, monkeypatch, tmp_path, df, 128)
        assert sum(r[7] for r in rows if r[2] == "t") == 900
        for key, value in (
                ("spark.sql.parquet.int96TimestampConversion", "true"),
                ("spark.sql.parquet.int96RebaseModeInRead", "LEGACY")):
            with confs(spark, {key: value}):
                # the file's Spark version decides the rebase, not the
                # mode; the conversion always refuses
                got = direct_read_splits(spark.read.parquet(src))
                assert (got is None) == (key.endswith("Conversion"))
        # another writer's INT96 (no Spark version) keeps Spark's reader
        bare = str(tmp_path / "bare.parquet")
        pq.write_table(pq.read_table(files[0]).replace_schema_metadata(),
                       bare, use_deprecated_int96_timestamps=True)
        for mode in ("CORRECTED", "LEGACY"):
            with confs(spark, {
                    "spark.sql.parquet.int96RebaseModeInRead": mode}):
                assert direct_read_splits(spark.read.parquet(bare)) is None


# ---- direct-write sink ----------------------------------------------

def _direct_store(spark, src, root, mode="overwrite", rows_per_chunk=100):
    chunks = encode_chunks_scan(spark.read.parquet(src),
                                rows_per_chunk=rows_per_chunk)
    assert tables._direct_target(chunks, root, mode) is not None
    write_encoded(chunks, root, mode=mode)


def _spark_store(spark, monkeypatch, src, root, mode="overwrite",
                 rows_per_chunk=100):
    with monkeypatch.context() as m:
        _spark_path(m)
        write_encoded(encode_chunks_scan(spark.read.parquet(src),
                                         rows_per_chunk=rows_per_chunk),
                      root, mode=mode)


def _stored(spark, root) -> list:
    return _chunk_rows(read_chunks(spark, root).select(*ROW_FIELDS))


@pytest.mark.parametrize("first", ["spark", "direct"])
def test_append_across_writers(spark, monkeypatch, tmp_path, first):
    """Either writer appends onto a store the other wrote: it reads back
    as one table of both writes' rows and verifies clean."""
    from varint_rvv_spark.operators.decode import verify_roundtrip

    a = _write_files(str(tmp_path / "a"), [300, 250])
    b = str(tmp_path / "b")
    os.makedirs(b)
    pq.write_table(_typed_table(1000, 1450), os.path.join(b, "x.parquet"))
    want = []
    for src in (a, b):
        _spark_store(spark, monkeypatch, src, str(tmp_path / "one"))
        want += _stored(spark, str(tmp_path / "one"))
    root = str(tmp_path / "store")
    writers = {"spark": partial(_spark_store, spark, monkeypatch),
               "direct": partial(_direct_store, spark)}
    then = "direct" if first == "spark" else "spark"
    writers[first](a, root)
    writers[then](b, root, mode="append")
    assert _stored(spark, root) == sorted(want)
    assert verify_roundtrip(read_chunks(spark, root)) == (len(want), 0)


def test_overwrite_replaces_an_older_store(spark, monkeypatch, tmp_path):
    """A direct overwrite leaves only its own rows: the older store's
    column directories, sidecars and rows are gone."""
    old = _write_files(str(tmp_path / "old"), [500, 500])
    new = str(tmp_path / "new")
    os.makedirs(new)
    pq.write_table(_typed_table(0, 333).select(["l", "s"]),
                   os.path.join(new, "x.parquet"))
    root = str(tmp_path / "store")
    _spark_store(spark, monkeypatch, old, root)
    _direct_store(spark, new, root)
    _spark_store(spark, monkeypatch, new, str(tmp_path / "want"))
    assert _stored(spark, root) == _stored(spark, str(tmp_path / "want"))
    assert sorted(os.listdir(os.path.join(root, "chunks"))) == [
        "_SUCCESS", "column=l", "column=s"]
    assert _sidecars(root) == 0


def test_empty_input_leaves_only_success(spark, tmp_path):
    src = str(tmp_path / "in")
    os.makedirs(src)
    pq.write_table(_typed_table(1, 2).slice(0, 0),
                   os.path.join(src, "x.parquet"))
    root = str(tmp_path / "store")
    _direct_store(spark, src, root)
    assert os.listdir(os.path.join(root, "chunks")) == ["_SUCCESS"]
    assert read_chunks(spark, root).count() == 0


def _tap_read_splits(monkeypatch, seen):
    """Count every input row the direct batch source reads."""
    read_splits = encode._read_splits

    def tapped(splits, schema, rows_per_chunk, kernel):
        def counting(batches):
            def tap():
                for b in batches:
                    seen.add(b.num_rows)
                    yield b
            return kernel(tap())
        return read_splits(splits, schema, rows_per_chunk, counting)

    monkeypatch.setattr(encode, "_read_splits", tapped)


def test_direct_write_reads_input_once(spark, monkeypatch, tmp_path):
    """Direct-write twin of test_write_encoded_reads_input_once: the
    write job's tasks read every input row exactly once."""
    src = _write_files(str(tmp_path / "in"), [600, 400])
    seen = spark.sparkContext.accumulator(0)
    _tap_read_splits(monkeypatch, seen)
    root = str(tmp_path / "enc")
    _direct_store(spark, src, root, rows_per_chunk=128)
    assert seen.value == 1000
    assert _sidecars(root) == 0


def test_cached_frame_writes_its_cached_rows(spark, monkeypatch, tmp_path):
    """A cached direct-read frame is written by Spark from its cache: no
    input row is read again during the write."""
    src = _write_files(str(tmp_path / "in"), [600, 400])
    seen = spark.sparkContext.accumulator(0)
    _tap_read_splits(monkeypatch, seen)
    chunks = encode_chunks_scan(spark.read.parquet(src),
                                rows_per_chunk=128).cache()
    try:
        assert chunks.count() > 0 and seen.value == 1000
        root = str(tmp_path / "enc")
        write_encoded(chunks, root, mode="overwrite")
        assert seen.value == 1000
        assert _sidecars(root) > 0
    finally:
        chunks.unpersist()
    _spark_store(spark, monkeypatch, src, str(tmp_path / "want"),
                 rows_per_chunk=128)
    assert _stored(spark, root) == _stored(spark, str(tmp_path / "want"))


def test_derived_frames_and_other_codecs_take_sparks_writer(spark,
                                                           tmp_path):
    src = _write_files(str(tmp_path / "in"), [300, 200])
    chunks = encode_chunks_scan(spark.read.parquet(src), rows_per_chunk=64)
    derived = chunks.filter(F.col("n_values") > 0)
    root = str(tmp_path / "derived")
    write_encoded(derived, root)
    assert _sidecars(root) > 0
    with confs(spark, {"spark.sql.parquet.compression.codec": "snappy"}):
        root = str(tmp_path / "snappy")
        write_encoded(chunks, root)
        assert _sidecars(root) > 0
        assert any(f.endswith(".snappy.parquet")
                   for _, _, fs in os.walk(root) for f in fs)
    assert tables._direct_target(chunks, str(tmp_path / "x"),
                                 "errorifexists") is None
    with confs(spark,
               {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        assert tables._direct_target(chunks, str(tmp_path / "x"),
                                     "overwrite") is None
    # column names Spark escapes in directory names
    odd = str(tmp_path / "odd")
    os.makedirs(odd)
    pq.write_table(pa.table({"a=b": [1, 2, 3]}),
                   os.path.join(odd, "x.parquet"))
    assert tables._direct_target(
        encode_chunks_scan(spark.read.parquet(odd)), odd, "append") is None


def test_failed_write_job_leaves_the_store_unchanged(spark, monkeypatch,
                                                     tmp_path):
    """A task that raises inside the write job (after writing some of
    its files): the store, its listing included, is as before, no
    staging is left, and the next append succeeds."""
    src = _write_files(str(tmp_path / "in"), [700])
    root = str(tmp_path / "store")
    _direct_store(spark, src, root)
    before, rows = _listing(root), _stored(spark, root)
    read_splits = encode._read_splits

    def failing(splits, schema, rows_per_chunk, kernel):
        def after_two(batches):
            for i, out in enumerate(kernel(batches)):
                if i == 2:
                    raise RuntimeError("injected write-task failure")
                yield out
        return read_splits(splits, schema, rows_per_chunk, after_two)

    with monkeypatch.context() as m:
        m.setattr(encode, "_read_splits", failing)
        m.setattr(tables, "ROWGROUP_BYTES", 1)  # files exist at the raise
        with pytest.raises(Exception, match="injected write-task failure"):
            _direct_store(spark, src, root, mode="append")
    assert _listing(root) == before
    assert _stored(spark, root) == rows
    _direct_store(spark, src, root, mode="append")
    assert _stored(spark, root) == sorted(rows + rows)


def test_commit_renames_only_the_collected_attempts(spark, monkeypatch,
                                                    tmp_path):
    """Files another attempt of a task left in the job's staging
    directory (a failed or superseded attempt) are never committed."""
    src = _write_files(str(tmp_path / "in"), [500, 300])
    root = str(tmp_path / "store")
    staging_root = os.path.join(root, "chunks", "_temporary")
    read_splits = encode._read_splits

    def stray(splits, schema, rows_per_chunk, kernel):
        def also_stale(batches):
            out = list(kernel(batches))
            job = os.listdir(staging_root)[0]
            d = os.path.join(staging_root, job, "stale-attempt",
                             "column=l")
            os.makedirs(d, exist_ok=True)
            rows = pa.Table.from_batches(out)
            rows = rows.filter(pc.equal(rows["column"], "l"))
            pq.write_table(rows.drop_columns(["column"]),
                           os.path.join(d, f"part-{len(os.listdir(d))}"
                                           f".c000.zstd.parquet"))
            yield from out
        return read_splits(splits, schema, rows_per_chunk, also_stale)

    with monkeypatch.context() as m:
        m.setattr(encode, "_read_splits", stray)
        _direct_store(spark, src, root)
    _spark_store(spark, monkeypatch, src, str(tmp_path / "want"))
    assert _stored(spark, root) == _stored(spark, str(tmp_path / "want"))
    assert not os.path.exists(staging_root)


def test_direct_written_store_resumes(spark, monkeypatch, tmp_path):
    """A direct-written store that lost a task's files resumes through
    resume_footer + done_footer to the full store's rows."""
    src = _write_files(str(tmp_path / "in"), [400, 300, 350])
    root = str(tmp_path / "store")
    _direct_store(spark, src, root)
    full = _stored(spark, root)
    for d, _, fs in os.walk(os.path.join(root, "chunks")):
        for f in fs:
            if f.startswith("part-00001-"):
                os.remove(os.path.join(d, f))
    assert len(_stored(spark, root)) < len(full)
    footer = tables.resume_footer(spark, root)
    rest = encode_chunks_scan(spark.read.parquet(src), rows_per_chunk=100,
                              done_footer=footer)
    write_encoded(rest, root)
    assert _stored(spark, root) == full


def test_direct_store_pushes_chunk_id_filters(spark, tmp_path):
    """The Spark-path lookup over a direct-written store still pushes
    `chunk_id` to the parquet scan, whose files carry its statistics
    (and none for payloads)."""
    import re

    from varint_rvv_spark.operators.decode import scan_encoded

    src = _write_files(str(tmp_path / "in"), [400, 400])
    root = str(tmp_path / "store")
    _direct_store(spark, src, root)
    derived = read_chunks(spark, root).select("*")
    d = scan_encoded(derived, ["l", "s"], "l long, s string",
                     eq={"l": 123 * 123})
    assert re.search(r"PushedFilters: \[[^\]]*(In|EqualTo)\(chunk_id",
                     plan_of(d)), plan_of(d)
    assert [(r.l, r.s) for r in d.collect()] == [(123 * 123, "s12-123")]
    f = pq.ParquetFile(next(
        os.path.join(dp, x) for dp, _, fs in os.walk(root) for x in fs
        if x.endswith(".parquet")))
    names = f.schema_arrow.names
    group = f.metadata.row_group(0)
    assert group.column(names.index("chunk_id")).statistics.has_min_max
    assert group.column(names.index("payload")).statistics is None
