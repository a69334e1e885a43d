"""Encode pipeline: DataFrame → per-column-chunk encoded blobs + footer.

Spark-first design (SURVEY.md §3.2 trace):

    Scan → assign chunk_id (pure column expr, no shuffle)
         → [resume: left_anti join against footer — skipped chunks
            never shuffle or encode]
         → repartition(chunk_id) → sortWithinPartitions(chunk_id, key)
         → mapInArrow(encode kernel)  ← the only Python stage
         → chunks sink (one table; the footer is its payload-free
            projection, footer_of)

chunk_id is a *data-deterministic* column (`pmod(xxhash64(keys), N)`),
not a task artifact, so re-runs assign identical chunks regardless of
input split layout — the foundation of checkpoint-resume and of the
bit-identity goldens.  Skew: xxhash64 over a high-cardinality key is
uniform by construction (the explicit salt for host-grouped layouts
lives in plans/partitioning.py); AQE handles residual size skew.

At 100 TB: N_chunks = total_bytes / target_chunk_bytes (~64 MB), the
shuffle is one pass hash-partitioned on chunk_id, each task holds only
its partition's chunks in memory, and there is exactly one
JVM⟷Python Arrow crossing per partition stream.
"""

from __future__ import annotations

import json
from typing import Callable, NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..codecs import blob as B
from ..codecs.select import column_stats, encode_auto
from .arrow_bridge import arrow_to_values, raw_nbytes, values_sha256
from .eqstats import build_eq_stats, build_eq_stats_numeric

CHUNK_ID = "_chunk_id"

CHUNK_SPARK_SCHEMA = (
    "chunk_id long, num_chunks long, column string, codec_id int, "
    "codec string, dtype_code int, logical_type string, n_values long, "
    "raw_bytes long, encoded_bytes long, value_sha256 string, "
    "validity binary, payload binary, stats_json string"
)

CHUNK_ARROW_SCHEMA = pa.schema([
    ("chunk_id", pa.int64()), ("num_chunks", pa.int64()),
    ("column", pa.string()),
    ("codec_id", pa.int32()), ("codec", pa.string()),
    ("dtype_code", pa.int32()), ("logical_type", pa.string()),
    ("n_values", pa.int64()), ("raw_bytes", pa.int64()),
    ("encoded_bytes", pa.int64()), ("value_sha256", pa.string()),
    ("validity", pa.binary()), ("payload", pa.binary()),
    ("stats_json", pa.string()),
])

def assign_chunks(df: DataFrame, key_cols: list[str],
                  num_chunks: int) -> DataFrame:
    """Add the deterministic chunk_id column (no shuffle)."""
    return df.withColumn(
        CHUNK_ID, F.pmod(F.xxhash64(*key_cols), F.lit(num_chunks)))


def _append_column_row(rows: dict, chunk_id: int, col: str, arr,
                       overrides: dict, num_chunks: int = -1) -> None:
    """Encode one column of one chunk and append its footer row.

    stats_json carries the codec-selection stats plus the per-chunk
    varint byte-length histogram for integer columns — the engine twin
    of the reference's encoded-stream scanner
    (/root/reference/example/example.c:70-81, SURVEY.md §2.2).
    """
    values, dt, logical, validity = arrow_to_values(arr)
    stats = column_stats(values, dt)
    forced = overrides.get(col)
    if forced is not None:
        blob, codec_id = B.encode_blob(forced, dt, values), forced
    else:
        blob, codec_id, stats = encode_auto(values, dt, stats)
    out_stats = {k: v for k, v in stats.items()
                 if isinstance(v, (int, float))}
    # head/tail witness samples: lets verify_chunks print concrete
    # (index, expected, got) mismatch triples — the engine twin of the
    # reference example's first-10-mismatches diagnostic
    # (/root/reference/example/example.c:154-168)
    if len(values):
        if B.is_varlen(dt) or dt in (B.DT_LIST, B.DT_MAP):
            lens = values.lengths()
            out_stats["head"] = [int(x) for x in lens[:10]]
            out_stats["tail"] = [int(x) for x in lens[-10:]]
        elif dt not in B.NUMERIC_NP:
            pass  # struct: per-field witnesses live in child streams
        else:
            kind = B.NUMERIC_NP[dt].kind
            if kind == "f":
                # NaN/inf are not valid JSON — persist as null (the
                # diagnostic comparator skips null witnesses)
                def cast(x):
                    x = float(x)
                    return x if np.isfinite(x) else None
            else:
                cast = int
            out_stats["head"] = [cast(x) for x in values[:10]]
            out_stats["tail"] = [cast(x) for x in values[-10:]]
            # zone map: chunk min/max drives decode-time chunk pruning
            # (operators/decode.prune_chunks_multi) — the engine twin of
            # parquet row-group statistics.  Taken over the valid slots
            # only (`values` is null-filled); an all-NULL chunk gets
            # none, and a chunk without one is never pruned
            valid = values
            if validity:
                valid = values[np.unpackbits(
                    np.frombuffer(validity, np.uint8), count=len(values),
                    bitorder="little").view(bool)]
            if kind == "f" and not np.isfinite(valid).all():
                pass  # NaN poisons min/max ordering; no zone map
            elif len(valid):
                out_stats["vmin"] = cast(valid.min())
                out_stats["vmax"] = cast(valid.max())
                # exact chunk sum → COUNT/SUM answered from the footer
                # alone (aggregate pushdown to statistics); only when
                # n·max|v| provably fits int64, so it is always exact
                # (the null fill is 0, so it adds nothing)
                if kind in "iu" and len(values) * max(
                        abs(out_stats["vmin"]),
                        abs(out_stats["vmax"]), 1) < (1 << 62):
                    out_stats["vsum"] = int(
                        values.sum(dtype=np.int64))
                # strided value sample (≤32) → footer-only approximate
                # percentiles (operators/footer_stats.py); row order
                # inside a chunk is effectively arbitrary w.r.t. value
                # rank, so the stride is a uniform-ish sample.  O(1)
                # cost — no sort, no extra pass.  Chunks with nulls
                # skip the sample: `values` is null-FILLED here, and a
                # fill-zero sample would drag the estimate toward 0
                # (absent sample = chunk absent from the pool, which
                # footer_percentile documents)
                if len(values) > 1 and not validity:
                    stride = max(len(values) // 32, 1)
                    out_stats["qsample"] = sorted(
                        cast(x) for x in values[::stride][:32])
    if (dt in B.NUMERIC_NP and B.NUMERIC_NP[dt].kind in "iu"
            and len(values)):
        from ..codecs.numeric import _as_u64
        from ..codecs.varint import varint_byte_lengths

        # codec selection already ran this exact searchsorted pass —
        # reuse its length array (only absent on forced-codec paths)
        lens = stats.get("_varint_lens") if isinstance(stats, dict) \
            else None
        if lens is None:
            lens = varint_byte_lengths(_as_u64(values, dt))
        hist = np.bincount(lens, minlength=11)[1:]
        out_stats["varint_len_hist"] = [int(x) for x in hist]
        # id point-lookup stats (null fills are hashed too — extra
        # bloom bits only ever cause a kept chunk, never a pruned one)
        out_stats.update(build_eq_stats_numeric(values))
    if B.is_varlen(dt):
        # equality pruning stats (dvset / bloom) — the categorical twin
        # of the vmin/vmax zone map; see operators/eqstats.py
        out_stats.update(build_eq_stats(arr))
    rows["chunk_id"].append(chunk_id)
    rows["num_chunks"].append(num_chunks)
    rows["column"].append(col)
    rows["codec_id"].append(codec_id)
    rows["codec"].append(B.CODEC_NAMES[codec_id])
    rows["dtype_code"].append(dt)
    rows["logical_type"].append(logical)
    rows["n_values"].append(len(values))
    rows["raw_bytes"].append(raw_nbytes(values, dt))
    rows["encoded_bytes"].append(len(blob))
    rows["value_sha256"].append(values_sha256(values, dt))
    rows["validity"].append(validity)
    rows["payload"].append(blob)
    rows["stats_json"].append(json.dumps(out_stats, sort_keys=True))


def _encode_kernel(columns: list[str], codec_overrides: dict | None,
                   num_chunks: int):
    """Build the mapInArrow kernel: partition batches → chunk rows.

    Chunks are contiguous after sortWithinPartitions(chunk_id), so the
    kernel streams: it holds only the current chunk's slices plus one
    incoming batch — worker memory stays O(chunk), not O(partition),
    no matter how skewed the partition is.
    """
    overrides = codec_overrides or {}

    def fn(batch_iter):
        carry: list[pa.RecordBatch] = []
        carry_cid: int | None = None

        def flush(slices, chunk_id):
            tbl = pa.Table.from_batches(slices)
            rows = {k: [] for k in CHUNK_ARROW_SCHEMA.names}
            for col in columns:
                _append_column_row(rows, chunk_id, col,
                                   tbl[col].combine_chunks(), overrides,
                                   num_chunks)
            return pa.RecordBatch.from_pydict(rows,
                                              schema=CHUNK_ARROW_SCHEMA)

        for batch in batch_iter:
            if batch.num_rows == 0:
                continue
            cid = batch.column(
                batch.schema.get_field_index(CHUNK_ID)).to_numpy()
            bounds = np.concatenate(
                ([0], np.flatnonzero(cid[1:] != cid[:-1]) + 1, [len(cid)]))
            for s, e in zip(bounds[:-1], bounds[1:]):
                seg_cid = int(cid[s])
                if carry_cid is not None and seg_cid != carry_cid:
                    yield flush(carry, carry_cid)
                    carry = []
                carry_cid = seg_cid
                carry.append(batch.slice(s, e - s))
        if carry:
            yield flush(carry, carry_cid)

    return fn


def encode_chunks(df: DataFrame, key_cols: list[str] | None = None,
                  columns: list[str] | None = None,
                  num_chunks: int | None = None,
                  sort_cols: list[str] | None = None,
                  done_footer: DataFrame | None = None,
                  codec_overrides: dict | None = None) -> DataFrame:
    """Encode selected columns into per-chunk blobs.

    done_footer: an existing footer DataFrame — its chunk_ids are
    skipped *before the shuffle* (left_anti join), which is the
    checkpoint-resume path: finished chunks cost a scan, not a shuffle
    or an encode.  chunk ids are only comparable across runs when
    num_chunks matches, so on resume it is inherited from (and
    validated against) the footer — a mismatch would silently drop
    never-encoded rows.
    """
    columns = columns or df.columns
    key_cols = key_cols or [columns[0]]
    if done_footer is not None:
        prior = [r[0] for r in
                 done_footer.select("num_chunks").distinct().collect()]
        if len(prior) != 1 or prior[0] is None or prior[0] < 0:
            raise ValueError(
                f"done_footer has inconsistent or non-hash-mode "
                f"num_chunks {prior}; cannot resume safely")
        if num_chunks is None:
            num_chunks = int(prior[0])
        elif num_chunks != prior[0]:
            raise ValueError(
                f"num_chunks={num_chunks} differs from the footer's "
                f"{prior[0]}; resuming would reassign chunk ids and "
                f"drop rows")
    if num_chunks is None:
        num_chunks = max(df.rdd.getNumPartitions(), 1)
    keyed = assign_chunks(df.select(*columns), key_cols, num_chunks)
    if done_footer is not None:
        done = (done_footer.select(F.col("chunk_id").alias(CHUNK_ID))
                .distinct())
        keyed = keyed.join(F.broadcast(done), CHUNK_ID, "left_anti")
    shuffled = keyed.repartition(num_chunks, CHUNK_ID)
    order = [CHUNK_ID] + (sort_cols or key_cols)
    shuffled = shuffled.sortWithinPartitions(*order)
    return shuffled.mapInArrow(
        _encode_kernel(columns, codec_overrides, num_chunks),
        CHUNK_SPARK_SCHEMA)


def with_scan_chunk_ids(df: DataFrame,
                        rows_per_chunk: int) -> DataFrame:
    """Append the positional scan-mode chunk_id column (no shuffle).

    chunk_id = partition_id × 10^6 + row_position // rows_per_chunk —
    exact row arithmetic, so chunk boundaries depend ONLY on the scan
    partition layout and rows_per_chunk (not on Arrow batch sizing,
    which spark.sql.execution.arrow.maxRecordsPerBatch could silently
    change between runs).  Ids are monotone within a partition, so
    chunk rows stay contiguous for the streaming encode kernel.

    Pure JVM (whole-stage-codegen) projection: both pieces come out of
    ``monotonically_increasing_id()``, which packs the partition id in
    the upper 31 bits and the row position within the partition in the
    lower 33 — no extra JVM⟷Python Arrow crossing (a separate
    mapInArrow pre-pass here measured ~20% off single-core scan-encode
    throughput: the whole table would cross the boundary twice).

    Task-retry determinism: Catalyst marks the expression
    nondeterministic, but for a file-backed scan a retried task
    re-reads the same split in the same order, so ids are reproducible
    — the same determinism class as a TaskContext.partitionId kernel,
    and exactly what scan_layout_fingerprint guards across runs.
    """
    mid = F.monotonically_increasing_id()
    pid = F.shiftright(mid, 33)
    row = mid.bitwiseAND(F.lit((1 << 33) - 1))
    ordinal = F.floor(row / F.lit(rows_per_chunk)).cast("long")
    cid = pid * F.lit(1_000_000) + ordinal
    # the ordinal space is 10^6 wide; a partition overflowing it would
    # silently collide with the next partition's chunk ids
    guarded = F.when(ordinal < 1_000_000, cid).otherwise(F.raise_error(
        F.concat(F.lit("scan partition exceeds 10^6 chunks at "
                       "rows_per_chunk="), F.lit(str(rows_per_chunk)),
                 F.lit("; raise rows_per_chunk or repartition"))))
    return df.withColumn(CHUNK_ID, guarded)


def encode_chunks_range(df: DataFrame, range_cols: list[str],
                        num_partitions: int | None = None,
                        rows_per_chunk: int = 65536,
                        codec_overrides: dict | None = None,
                        columns: list[str] | None = None) -> DataFrame:
    """Range-clustered encode: the time-series/ordered-scan mode.

    repartitionByRange(range_cols) + sortWithinPartitions gives chunks
    *disjoint* value ranges on the clustering columns — which is what
    makes the footer zone maps (vmin/vmax → decode.prune_chunks_multi)
    actually selective, and what delta codecs love (sorted ts → 1-byte
    deltas).  Costs one range shuffle.  Chunk ids are positional AND
    depend on repartitionByRange's sampled boundaries, so range-mode
    encodes are NOT resumable (footer rows carry num_chunks=-1, which
    both resume guards reject) — re-encode from scratch on failure, or
    use hash/scan mode when resumability matters.

    Hash mode (encode_chunks) optimizes for co-clustering equal keys;
    this mode optimizes for range pruning.  Pick per table.
    """
    cols = columns or df.columns
    n = num_partitions or max(df.rdd.getNumPartitions(), 1)
    clustered = (df.select(*cols)
                 .repartitionByRange(n, *[F.col(c) for c in range_cols])
                 .sortWithinPartitions(*range_cols))
    keyed = with_scan_chunk_ids(clustered, rows_per_chunk)
    return keyed.mapInArrow(
        _encode_kernel(cols, codec_overrides, -1), CHUNK_SPARK_SCHEMA)


def footer_of(chunks: DataFrame) -> DataFrame:
    """Footer = chunk ledger without payloads (the resume/metrics table)."""
    return chunks.drop("payload", "validity")


def scan_layout_fingerprint(df: DataFrame,
                            rows_per_chunk: int) -> int | None:
    """Deterministic 60-bit fingerprint of the scan-mode chunk-id space.

    Scan-mode chunk_id = (scan partition, row // rows_per_chunk) is
    purely positional: it is only stable while the input file set
    (paths + sizes), rows_per_chunk, AND Spark's file-split planning
    are all unchanged.  Split planning depends on
    spark.sql.files.maxPartitionBytes, spark.sql.files.openCostInBytes
    and defaultParallelism (maxSplitBytes = min(mpb, max(ocb,
    total/parallelism))), so all three are folded in — plus the
    REALIZED partition count of the projected scan, which pins the
    actual planned layout even if a future Spark version changes the
    formula.  A "v2" tag marks the row-exact chunking algorithm, so
    footers from the pre-v2 batch-boundary kernel are refused rather
    than silently mis-aligned.

    Returns None for non-file-backed inputs (createDataFrame/range):
    there is nothing to fingerprint, so footer-based resume is refused
    for them rather than vacuously accepted.
    """
    import hashlib
    import os

    files = sorted(df.inputFiles())
    if not files:
        return None
    from ..sources.tables import _local_path

    parts = []
    for f in files:
        # the URI is hashed as listed; its size is read at the unescaped
        # path (`file:///a%20b` names "/a b")
        p = _local_path(f)
        try:
            sz = os.path.getsize(p) if p is not None else -1
        except OSError:  # not local: path-only (still catches set
            sz = -1      # membership and ordering changes)
        parts.append(f"{f}:{sz}")
    conf = df.sparkSession.conf

    def _get(key):
        try:
            return conf.get(key)
        except Exception:  # defensive: config not resolvable
            return "unknown"

    mpb = _get("spark.sql.files.maxPartitionBytes")
    ocb = _get("spark.sql.files.openCostInBytes")
    dp = df.sparkSession.sparkContext.defaultParallelism
    nparts = df.rdd.getNumPartitions()  # planning only, no job
    blob = ("|".join(parts)
            + f"|v2|rpc={rows_per_chunk}|mpb={mpb}|ocb={ocb}"
            + f"|dp={dp}|np={nparts}")
    return int(hashlib.sha256(blob.encode()).hexdigest()[:15], 16)


def encode_chunks_scan(df: DataFrame, columns: list[str] | None = None,
                       rows_per_chunk: int = 65536,
                       done_chunk_ids=None,
                       codec_overrides: dict | None = None,
                       done_footer: DataFrame | None = None) -> DataFrame:
    """Shuffle-free encode: Scan → mapInArrow, chunk = consecutive rows.

    The streaming-pass twin of the reference encoder (one pass, no data
    movement) — use when the input's natural clustering is already good
    (or irrelevant) and the 2× network/disk cost of a shuffle is not
    worth it.  chunk_id = (scan partition, ordinal): deterministic for
    a fixed file layout + spark.sql.files.maxPartitionBytes.

    Batch source: when the projected input is a bare local parquet
    scan (`sources.tables.direct_read_splits`: attribute-only projects
    over a parquet relation without filters or partition columns, each
    planned split one whole `file:` file, flat types pyarrow reads as
    Spark would send them), the Python tasks read Spark's planned
    splits themselves — `spark.range(n, numPartitions=n).mapInArrow`,
    task i reading partition i's files in order with pyarrow — and
    compute the same chunk ids as `with_scan_chunk_ids` (partition i,
    row counted across the partition's files).  Input rows then never
    pass through Spark's row-to-Arrow writer; chunk rows, the output
    file count and `scan_layout_fingerprint` are those of the Spark
    path, so a store written by either path resumes under the other.
    The splits are fixed when this is called (the fingerprint is too).
    Any other input, and any resume, reads through Spark.  The frame is
    tagged with its batch source (`DirectEncode`): `write_encoded` of
    the untransformed, unpersisted frame runs that source in its own
    write tasks, which write the store files with pyarrow (parquet page
    CRCs, no Hadoop `.crc` sidecars), so chunk rows do not cross back
    into the JVM either.

    Resume: pass the previous run's footer as `done_footer` — finished
    chunks are skipped with the SAME broadcast left_anti join hash mode
    uses (no driver-side collect of chunk ids: at 100 TB / 64 MB chunks
    that would be ~1.6 M ids on the driver).  The join is a broadcast
    hash join acting as a streaming filter, so partition order — and
    therefore chunk contiguity — is preserved into the encode kernel.
    Because scan-mode chunk ids are positional, the footer's
    `num_chunks` slot carries `-2 - scan_layout_fingerprint(...)`
    (always < -1, so hash-mode resume still rejects it); a resume whose
    current layout fingerprint differs is refused — mirroring hash
    mode's num_chunks guard.  `done_chunk_ids` (raw iterable) stays
    available for tests/advanced callers and performs no layout
    validation.
    """
    if rows_per_chunk < 1:
        # 0 would put a whole partition in one chunk on the direct read
        # and fail only inside a job on Spark's; a negative ordinal
        # would collide with the previous partition's chunk ids
        raise ValueError(f"rows_per_chunk must be >= 1, "
                         f"got {rows_per_chunk}")
    columns = columns or df.columns
    projected = df.select(*columns)
    fp = scan_layout_fingerprint(projected, rows_per_chunk)
    fp_slot = -2 - fp if fp is not None else -1
    kernel = _encode_kernel(columns, codec_overrides, fp_slot)
    if done_footer is None and done_chunk_ids is None:
        from ..sources.tables import direct_read_splits

        direct = direct_read_splits(projected)
        if direct is not None:
            splits, schema = direct
            source = _read_splits(splits, schema, rows_per_chunk, kernel)
            chunks = df.sparkSession.range(
                0, len(splits), 1, len(splits)).mapInArrow(
                source, CHUNK_SPARK_SCHEMA)
            # write_encoded runs `source` in its own write tasks
            chunks._chunk_source = DirectEncode(len(splits), source,
                                                columns)
            return chunks
    if done_footer is not None:
        if done_chunk_ids is not None:
            raise ValueError("pass done_footer or done_chunk_ids, "
                             "not both")
        if fp is None:
            raise ValueError(
                "scan-mode resume refused: the input is not file-backed"
                " (inputFiles() is empty), so the positional chunk-id "
                "space cannot be fingerprinted; pass done_chunk_ids "
                "explicitly if you can guarantee an identical layout")
        prior = [r[0] for r in
                 done_footer.select("num_chunks").distinct().collect()]
        if prior != [fp_slot]:
            raise ValueError(
                f"scan-mode resume refused: footer layout fingerprint "
                f"{prior} != current {fp_slot} — the input file "
                f"set/sizes, rows_per_chunk, split config "
                f"(maxPartitionBytes/openCostInBytes/parallelism) or "
                f"chunking algorithm version changed, so positional "
                f"chunk ids are not comparable; re-encode from scratch "
                f"or use hash mode")
    keyed = with_scan_chunk_ids(projected, rows_per_chunk)
    done = None
    # no .distinct() on the build side: left_anti ignores duplicate
    # build rows, and distinct would cost a (tiny but pointless)
    # shuffle of the id set before the broadcast
    if done_footer is not None:
        done = done_footer.select(F.col("chunk_id").alias(CHUNK_ID))
    elif done_chunk_ids is not None:
        ids = [(int(x),) for x in done_chunk_ids]
        done = df.sparkSession.createDataFrame(ids, f"{CHUNK_ID} long")
    if done is not None:
        keyed = keyed.join(F.broadcast(done), CHUNK_ID, "left_anti")
    return keyed.mapInArrow(kernel, CHUNK_SPARK_SCHEMA)


class DirectEncode(NamedTuple):
    """Tag of a direct-read `encode_chunks_scan` frame: its batch
    source, a mapInArrow function over `range(0, n, 1, n)` that yields
    the frame's chunk rows, and the encoded `columns` (the values of
    the chunks' `column` field)."""
    n: int
    source: Callable
    columns: list


def _read_splits(splits: list, schema: pa.Schema, rows_per_chunk: int,
                 kernel):
    """Direct-read batch source in front of `kernel`, for a mapInArrow
    over `range(len(splits))` with one id per partition: task i reads
    the files of scan partition i in order, casts each batch to
    `schema` and appends `with_scan_chunk_ids`'s chunk id, the row
    counted across the partition's files."""
    def batches(pid, paths):
        import pyarrow.parquet as pq

        row = 0
        for path in paths:
            # INT96 (which direct_read_splits admits only as Spark
            # reads it, unrebased) in µs as Spark truncates it
            with pq.ParquetFile(path,
                                coerce_int96_timestamp_unit="us") as f:
                for b in f.iter_batches(columns=schema.names):
                    if not b.num_rows:
                        continue
                    ordinal = (row + np.arange(b.num_rows)) // rows_per_chunk
                    if ordinal[-1] >= 1_000_000:
                        raise ValueError(
                            f"scan partition exceeds 10^6 chunks at "
                            f"rows_per_chunk={rows_per_chunk}; raise "
                            f"rows_per_chunk or repartition")
                    row += b.num_rows
                    yield pa.RecordBatch.from_arrays(
                        [b.column(i).cast(t)
                         for i, t in enumerate(schema.types)]
                        + [pa.array(pid * 1_000_000 + ordinal)],
                        names=schema.names + [CHUNK_ID])

    def fn(batch_iter):
        for ids in batch_iter:
            for pid in ids.column(0).to_pylist():
                yield from kernel(batches(pid, splits[pid]))

    return fn


def zorder_expr(bucket_cols: list, bits: int = 8):
    """Interleave the bits of pre-bucketed dimension columns into one
    Z-value Column (Morton order) — pure JVM bit arithmetic."""
    n = len(bucket_cols)
    if n * bits > 63:
        # the JVM wraps shift distances mod 64: an overflowing
        # interleave would silently alias high bits onto low positions
        # and degrade clustering to noise
        raise ValueError(
            f"zorder_expr: {n} dimensions x {bits} bits = {n * bits} "
            f"interleaved bits > 63 — lower bits (e.g. "
            f"bits={63 // n}) or drop a dimension")
    z = F.lit(0).cast("long")
    for i in range(bits):
        for k, b in enumerate(bucket_cols):
            bit = F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + k))
    return z


def encode_chunks_zorder(df: DataFrame, zcols: list[str],
                         num_partitions: int | None = None,
                         rows_per_chunk: int = 65536,
                         bits: int = 8,
                         codec_overrides: dict | None = None) -> DataFrame:
    """Z-order-clustered encode: multi-dimension range pruning.

    encode_chunks_range clusters on ONE dimension — its zone maps are
    disjoint on that column and useless on every other.  Z-ordering
    interleaves the bits of several numeric dimensions (each
    equal-width-bucketed to 2^bits buckets over its [min, max]) into a
    Morton value and range-clusters on THAT, so every z-column's
    per-chunk vmin/vmax stays tight and `prune_chunks_multi` range
    predicates compose across dimensions (the Databricks Z-ORDER /
    Hilbert-lite recipe).

    The only driver action is one bounded min/max agg over the
    z-columns (2 values per dimension).  Equal-width bucketing is the
    honest trade at encode time: highly skewed dimensions should be
    pre-mapped through quantile ranks first (e.g. a percent_rank
    column) — the bucketer treats the column as roughly uniform.

    The synthetic `_zorder` column rides along in the chunk set (it
    bitpacks to almost nothing); decode simply doesn't request it.
    Like range mode, positional chunk ids ⇒ not resumable.
    """
    mm = df.agg(*[f for c in zcols
                  for f in (F.min(c).alias(f"lo_{c}"),
                            F.max(c).alias(f"hi_{c}"))]).collect()[0]
    span = (1 << bits) - 1
    buckets = []
    for c in zcols:
        lo, hi = mm[f"lo_{c}"], mm[f"hi_{c}"]
        if lo is None or hi is None:
            raise ValueError(f"encode_chunks_zorder: column {c!r} is "
                             f"all-NULL — cannot bucket")
        width = max(float(hi) - float(lo), 1.0)
        b = F.floor((F.col(c).cast("double") - F.lit(float(lo)))
                    / F.lit(width) * F.lit(float(span)))
        buckets.append(F.least(F.greatest(b, F.lit(0)),
                               F.lit(span)).cast("long"))
    keyed = df.withColumn("_zorder", zorder_expr(buckets, bits))
    return encode_chunks_range(keyed, ["_zorder"],
                               num_partitions=num_partitions,
                               rows_per_chunk=rows_per_chunk,
                               codec_overrides=codec_overrides)
