"""Decode pipeline: chunk blobs → columns, plus bit-identity verification.

Chunks are self-contained (SURVEY.md §4 "complete-varint-only
stride"): verification, `decode_only` and the contiguous decode of a
fresh encode lineage are Scan → mapInArrow, zero shuffles; rebuilding
rows from a parquet store (default `decode_table`) groups by chunk_id,
one shuffle.  A `scan_encoded` over a local `read_chunks` store whose
pruning skips some chunks and keeps at most LOCAL_READ_BYTES decodes
the kept ones on the driver instead: no job at all.
Verification recomputes each chunk's content hash from
the decoded values and compares with the footer's encode-time hash;
`verify_roundtrip` reduces that to a single (total, mismatched) pair.
"""

from __future__ import annotations

import json

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from ..codecs import blob as B
from ..sources.tables import local_files, read_local
from .arrow_bridge import values_sha256, values_to_arrow
from .eqstats import bloom_hex_test, eq_hashes, int_hashes

VERIFY_SCHEMA = ("chunk_id long, column string, n_values long, "
                 "decoded_sha256 string, expected_sha256 string, "
                 "ok boolean, diag string")


def _mismatch_samples(values, dt, stats: dict, n_expected: int) -> list:
    """First ≤10 (index, expected, got) triples from the encode-time
    head/tail witness samples (reference example.c:154-168 twin)."""
    if B.is_varlen(dt) or dt in (B.DT_LIST, B.DT_MAP):
        got_vals = [int(x) for x in values.lengths()]
    elif dt not in B.NUMERIC_NP:
        return []  # struct: no row-level witness representation
    else:
        kind = B.NUMERIC_NP[dt].kind
        cast = float if kind == "f" else int
        got_vals = [cast(x) for x in values]
    n = len(got_vals)
    regions = [(0, stats.get("head") or [])]
    tail = stats.get("tail") or []
    regions.append((max(n_expected - len(tail), 0), tail))
    samples = []
    for base, exp in regions:
        for j, e in enumerate(exp):
            if e is None:  # non-finite witness was persisted as null
                continue
            i = base + j
            g = got_vals[i] if i < n else None
            if g != e and len(samples) < 10:
                samples.append([i, e, g])
    return samples


def _verify_kernel(batch_iter):
    for batch in batch_iter:
        d = batch.to_pydict()
        out = {"chunk_id": d["chunk_id"], "column": d["column"],
               "n_values": [], "decoded_sha256": [],
               "expected_sha256": d["value_sha256"], "ok": [],
               "diag": []}
        for payload, expected, n_exp, stats_json in zip(
                d["payload"], d["value_sha256"], d["n_values"],
                d["stats_json"]):
            try:
                values, _, dt = B.decode_blob(payload)
            except Exception as exc:  # corruption must report, not kill
                out["n_values"].append(-1)
                out["decoded_sha256"].append("")
                out["ok"].append(False)
                out["diag"].append(json.dumps(
                    {"decode_error": f"{type(exc).__name__}: {exc}"}))
                continue
            got = values_sha256(values, dt)
            ok = got == expected
            out["n_values"].append(len(values))
            out["decoded_sha256"].append(got)
            out["ok"].append(ok)
            if ok:
                out["diag"].append(None)
            else:
                stats = json.loads(stats_json or "{}")
                diag = {"n_values_expected": int(n_exp),
                        "n_values_got": len(values),
                        "mismatch_samples":
                            _mismatch_samples(values, dt, stats,
                                              int(n_exp))}
                if B.is_varlen(dt) or B.is_list(dt):
                    diag["samples_are"] = "row_lengths"
                out["diag"].append(json.dumps(diag))
        yield pa.RecordBatch.from_pydict(out)


DECODE_BENCH_SCHEMA = ("chunk_id long, column string, n_values long, "
                       "decoded_bytes long")


def _decode_only_kernel(batch_iter):
    from .arrow_bridge import raw_nbytes

    for batch in batch_iter:
        d = batch.to_pydict()
        out = {"chunk_id": d["chunk_id"], "column": d["column"],
               "n_values": [], "decoded_bytes": []}
        for payload in d["payload"]:
            values, _, dt = B.decode_blob(payload)
            out["n_values"].append(len(values))
            out["decoded_bytes"].append(raw_nbytes(values, dt))
        yield pa.RecordBatch.from_pydict(out)


def decode_only(chunks: DataFrame) -> DataFrame:
    """Pure decode pass (no hashing) — the decode-throughput job.

    Bit-identity is `verify_chunks`'s job; this measures the decode
    path itself (scan → mapInArrow, zero shuffle).
    """
    return chunks.select("chunk_id", "column", "payload").mapInArrow(
        _decode_only_kernel, DECODE_BENCH_SCHEMA)


def verify_chunks(chunks: DataFrame) -> DataFrame:
    """Decode every chunk and compare content hashes (bit-identity).

    On mismatch the `diag` column carries a JSON diagnostic: decode
    exceptions are captured (corruption reports instead of killing the
    task), and the encode-time head/tail witness samples yield concrete
    (index, expected, got) triples."""
    cols = ["chunk_id", "column", "payload", "value_sha256", "n_values",
            "stats_json"]
    return chunks.select(*cols).mapInArrow(_verify_kernel, VERIFY_SCHEMA)


def verify_roundtrip(chunks: DataFrame) -> tuple[int, int]:
    """Returns (n_chunks_checked, n_mismatched)."""
    agg = (verify_chunks(chunks)
           .agg(F.count("*").alias("n"),
                F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("bad"))
           .collect()[0])
    return int(agg["n"]), int(agg["bad"] or 0)


# IN-lists longer than this keep every chunk for their predicate: each
# probe is tested against every chunk's footer row on the driver, so a
# thousand-term list buys marginal selectivity at O(chunks × probes)
# (route huge id lists through a semi-join on the decoded column instead)
MAX_IN_PROBES = 64

# scan_encoded decodes on the driver when the chunks it keeps from a
# local `read_chunks` store hold at most this many encoded bytes over
# the requested columns; larger reads take the Spark decode.  Set at
# the measured crossover (4-vCPU host, Spark on local[3], 64-chunk
# perfbench stores, seed 7, median of 5-9 reads per point): driver
# decode costs ~0.17 s per encoded MB of ints_etl's 30,000-row chunks
# (0.35 vs Spark's 0.55 s at 1.2 MB, 0.55 vs 0.61 s at 2.3 MB, 1.08
# vs 0.66 s at 4.7 MB), ~0.03 s per MB of pages_etl's 313-row chunks
# (0.33 vs 0.60 s at 9.3 MB).  Under the bound the driver holds at
# most ~10 MB of decoded Arrow plus the JVM's local-relation copy
# (~40 MB of heap), and createDataFrame stays a local relation with
# no job (at 18 MB encoded it ran one).
LOCAL_READ_BYTES = 2 << 20


def prune_chunks_multi(chunks: DataFrame, eq: dict | None = None,
                       ranges: dict | None = None) -> DataFrame:
    """Footer-statistics chunk pruning — the engine twin of parquet
    row-group statistics, for every predicate in one footer pass.

    `eq`: {column: value} keeps chunks whose equality stats
    (operators/eqstats.py) say they *may* contain `value`: ``dvset`` /
    ``dvset_i`` → exact membership, else ``bloom`` → the BLOOM_K
    double-hashed bit tests, else (long text, pre-eqstats footers)
    kept.  A list, tuple or set value is an IN-list: a chunk may match
    when any probe may (OR); an empty list raises, and one longer than
    MAX_IN_PROBES keeps every chunk for that predicate without touching
    the footer.  `ranges`: {column: (lo, hi)} keeps chunks whose
    encode-time [vmin, vmax] zone map can overlap the inclusive range
    (either bound may be None; compared exactly, epoch-µs timestamps
    included); chunks without a zone map (varlen/NaN columns) are kept.

    A chunk is dropped only when some predicate is false on its
    footer row for the predicate column (`_footer_verdicts`, one job),
    so a chunk with no row for a predicate column is kept.  Returns
    `chunks` itself when nothing is dropped, else `chunks` filtered by
    `chunk_id NOT IN (dropped)`: no join, no exchange, partition order
    kept (contiguous decode stays valid).  Surviving chunks keep all
    columns; a residual row filter after decode is still required.
    A predicate column without footer rows raises (a typo would keep
    or drop everything silently), as does a probe of the wrong type.
    Cache a freshly-encoded lineage first (the footer job would
    otherwise run the encode).  An untransformed `read_chunks` frame
    over a local store has its footer read with pyarrow: 0 jobs.
    """
    verdicts = _footer_verdicts(chunks, local_files(chunks), eq, ranges)
    if verdicts is None or not verdicts[1]:
        return chunks
    return chunks.filter(~F.col("chunk_id").isin(verdicts[1]))


def _footer_verdicts(chunks: DataFrame, files: list | None,
                     eq: dict | None, ranges: dict | None,
                     sized: list | tuple = ()) -> tuple | None:
    """(kept_ids, dropped_ids, kept_bytes) of the chunks with a footer
    row for a predicate column, or None when no predicate needs the
    footer.

    `files` is `local_files(chunks)`.  The rows come from
    `_footer_rows` and are judged on the driver, each probe hashed
    once.  Driver bytes are O(chunks): the predicate columns'
    stats_json, ~1.3 kB per chunk-column for a 313-row url bloom, at
    most ~32 kB (the hex of a BLOOM_MAX_M bitmap).  `kept_bytes` is
    the kept chunks' `encoded_bytes` over the columns `sized`, read in
    the same pyarrow pass (None on the Spark path, `files` None).
    """
    probes = {}
    for col, v in (eq or {}).items():
        vals = list(v) if isinstance(v, (list, tuple, set)) else [v]
        if not vals:
            raise ValueError(f"prune_chunks_multi: empty probe list for "
                             f"{col!r} (did you mean to prune "
                             f"everything?)")
        if len(vals) <= MAX_IN_PROBES:
            probes[col] = vals
    ranges = ranges or {}
    cols = list(probes) + [c for c in ranges if c not in probes]
    if not cols:
        return None
    rows = _footer_rows(chunks, files, cols, sized)
    dtypes = {}
    for r in rows:
        dtypes.setdefault(r[1], int(r[2]))
    missing = [c for c in cols if c not in dtypes]
    if missing:
        raise ValueError(
            f"prune_chunks_multi: no footer rows for columns "
            f"{missing} — check the column names")
    tests = {}
    for col, vals in probes.items():
        for v in vals:
            _check_probe_type(dtypes[col], v, col)
        tests[col] = [_eq_probe(v) for v in vals]
    kept, dropped = set(), set()
    for cid, col, _, stats_json, *_ in rows:
        if col not in cols:
            continue  # a `sized` row, read only for its encoded_bytes
        stats = json.loads(stats_json or "{}")
        ok = ((col not in tests
               or any(_may_contain(stats, p) for p in tests[col]))
              and (col not in ranges or _overlaps(stats, *ranges[col])))
        (kept if ok else dropped).add(cid)
    kept -= dropped
    kept_bytes = None if files is None else sum(
        r[4] for r in rows if r[1] in sized and r[0] in kept)
    return sorted(kept), sorted(dropped), kept_bytes


def _footer_rows(chunks: DataFrame, files: list | None, cols: list,
                 sized: list | tuple) -> list:
    """(chunk_id, column, dtype_code, stats_json) footer rows of the
    columns `cols`: one Spark job, a plain projection (no aggregation,
    shuffle or broadcast); or, for a local `read_chunks` frame's
    `files`, one pyarrow read (no job) of the rows of `cols` and
    `sized`, each with its `encoded_bytes` appended."""
    fields = ["chunk_id", "column", "dtype_code", "stats_json"]
    if files is None:
        return (chunks.filter(F.col("column").isin(cols))
                .select(*fields).collect())
    tbl = read_local(files, list(dict.fromkeys([*cols, *sized])),
                     fields + ["encoded_bytes"])
    return list(zip(*(c.to_pylist() for c in tbl.columns)))


def _check_probe_type(dt: int, value, column: str) -> None:
    """An int probe against a string column (or vice versa) would test
    the wrong hash family and silently prune chunks that DO contain
    the value (the residual Spark filter would have cast-matched it) —
    a correctness bug, so it raises instead."""
    is_int_col = dt in (B.DT_U32, B.DT_U64, B.DT_I32, B.DT_I64, B.DT_U8)
    if isinstance(value, int) and not is_int_col:
        raise TypeError(
            f"prune_chunks_multi: integer probe against non-integer "
            f"column {column!r} (dtype_code {dt}) — pass the column's "
            f"own type (pruning with a mismatched probe type would "
            f"drop matching chunks)")
    if isinstance(value, (str, bytes, bytearray)) and not B.is_varlen(dt):
        raise TypeError(
            f"prune_chunks_multi: string/bytes probe against non-varlen "
            f"column {column!r} (dtype_code {dt}) — pass an int probe")


def _eq_probe(value) -> tuple:
    """(exact-list stat key, member or None if no list can hold it,
    bloom hashes (c1, c2)) of one eq probe."""
    if value is None:
        raise ValueError("eq pruning: probing for NULL is not "
                         "supported (validity lives outside eq stats)")
    if isinstance(value, bool):
        raise ValueError("eq pruning: probe booleans as ints (0/1)")
    if isinstance(value, int):
        # dvset_i is only written for int64-representable domains
        member = value if -(1 << 63) <= value < (1 << 63) else None
        return "dvset_i", member, int_hashes(value)
    vb = value.encode("utf-8") if isinstance(value, str) else bytes(value)
    try:
        member = vb.decode("utf-8")
    except UnicodeDecodeError:
        member = None  # utf-8 columns (the only dvset writers) can't
        #                hold a non-utf8 byte string
    return "dvset", member, eq_hashes(vb)


def _may_contain(stats: dict, probe: tuple) -> bool:
    """May the chunk contain the probe?  No eq stats → kept."""
    key, member, hashes = probe
    if stats.get(key) is not None:
        return member is not None and member in stats[key]
    if stats.get("bloom") is not None and stats.get("bloom_m") is not None:
        return bloom_hex_test(stats["bloom"], int(stats["bloom_m"]),
                              *hashes)
    return True


def _overlaps(stats: dict, lo, hi) -> bool:
    """Exact zone-map overlap with [lo, hi]; no zone map → kept."""
    vmin, vmax = stats.get("vmin"), stats.get("vmax")
    return ((lo is None or vmax is None or vmax >= lo)
            and (hi is None or vmin is None or vmin <= hi))


def decode_table(chunks: DataFrame, columns: list[str],
                 spark_schema: str, contiguous: bool = False) -> DataFrame:
    """Reconstruct the original table from chunk blobs.

    Two plans (row order within a chunk is preserved by every codec,
    so columns re-align positionally either way):

    * contiguous=False (default): one shuffle (groupBy chunk_id)
      co-locates a chunk's column blobs — required when chunks come
      from the column-partitioned sink, where a chunk's rows live in
      different files.
    * contiguous=True: zero-shuffle mapInArrow — valid whenever each
      chunk's column rows are adjacent in partition order, which holds
      for chunks straight out of encode_chunks/encode_chunks_scan.
      This is the 100 TB decode path: Scan → kernel, no data movement.
    """
    if contiguous:
        return _decode_table_contiguous(chunks, columns, spark_schema)

    ts_tz, expected = _rebuild_types(chunks.sparkSession, spark_schema)

    # applyInArrow (not applyInPandas): pandas float columns cannot
    # represent NaN-the-value distinctly from null, which would turn
    # decoded NaNs into NULLs.
    # Column pruning BEFORE the shuffle: only requested columns'
    # payloads move and decode (previously every stored column was
    # decoded, and an unrequested timestamp column crashed the tz
    # lookup)
    return (chunks
            .filter(F.col("column").isin(list(columns)))
            .select("chunk_id", "column", "logical_type", "validity",
                    "payload")
            .groupBy("chunk_id")
            .applyInArrow(
                lambda tbl: _rebuild(tbl, columns, ts_tz, expected),
                spark_schema))


def _rebuild_types(spark, spark_schema: str) -> tuple[dict, dict]:
    """(per-column arrow timestamp type, expected arrow types) that
    `_rebuild` needs.  Spark quirk: applyInArrow and createDataFrame
    take timestamp[us, tz=<session tz>] for TimestampType fields but
    naive timestamp[us] for NTZ fields; attaching/stripping the tz is
    metadata-only (values stay epoch-µs)."""
    from pyspark.sql.types import TimestampType, _parse_datatype_string

    session_tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
    ts_tz = {f.name: pa.timestamp("us", tz=session_tz)
             if isinstance(f.dataType, TimestampType)
             else pa.timestamp("us")
             for f in _parse_datatype_string(spark_schema).fields}
    return ts_tz, _expected_arrow_types(spark_schema)


def _rebuild(tbl: pa.Table, columns: list[str], ts_tz: dict,
             expected: dict) -> pa.Table:
    """One chunk's rows of `columns` from its stored column rows
    (`column`, `payload`, `logical_type`, `validity`) — the per-chunk
    kernel of the grouped `decode_table` and of the driver-local
    `scan_encoded`."""
    d = tbl.to_pydict()
    arrays = {}
    for col, payload, logical, validity in zip(
            d["column"], d["payload"], d["logical_type"], d["validity"]):
        values, _, dt = B.decode_blob(payload)
        arr = _cast_narrow(values_to_arrow(
            values, dt, logical, bytes(validity or b"")))
        if pa.types.is_timestamp(arr.type):
            arr = arr.cast(ts_tz[col])
        _check_decoded_type(col, arr, expected)
        arrays[col] = arr
    return pa.table({c: arrays[c] for c in columns})


def _cast_narrow(arr: pa.Array) -> pa.Array:
    """large_string/large_binary → string/binary (Spark's arrow types)."""
    if pa.types.is_large_string(arr.type):
        return arr.cast(pa.string())
    if pa.types.is_large_binary(arr.type):
        return arr.cast(pa.binary())
    return arr


def _expected_arrow_types(spark_schema: str) -> dict:
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _parse_datatype_string

    return {f.name: to_arrow_type(f.dataType)
            for f in _parse_datatype_string(spark_schema).fields}


def _check_decoded_type(col: str, arr: pa.Array, expected: dict) -> None:
    """A declared-vs-decoded type mismatch (e.g. `html string` for a
    binary column) otherwise surfaces as an opaque JVM
    ArrowColumnVector accessor error deep inside the first filter —
    fail at the kernel boundary with an actionable message instead."""
    exp = expected.get(col)
    if exp is None:
        return
    if pa.types.is_timestamp(arr.type) and pa.types.is_timestamp(exp):
        return  # tz handling is the callers' metadata-only concern
    if arr.type.id != exp.id:
        raise TypeError(
            f"decode_table: column {col!r} decodes to arrow type "
            f"{arr.type} but the declared schema says {exp} — fix the "
            f"schema (evolve.stored_table_schema(chunks) infers the "
            f"stored one)")


def _decode_table_contiguous(chunks: DataFrame, columns: list[str],
                             spark_schema: str) -> DataFrame:
    """Shuffle-free rebuild: accumulate each chunk's contiguous column
    rows within the partition stream (same pattern as the encode
    kernel), emit one original-schema batch per chunk."""
    need = set(columns)

    expected = _expected_arrow_types(spark_schema)

    def fn(batch_iter):
        pending: dict = {}
        pending_cid = None

        def flush(rows):
            arrays = {}
            for col, (payload, logical, validity) in rows.items():
                values, _, dt = B.decode_blob(payload)
                arr = _cast_narrow(
                    values_to_arrow(values, dt, logical, validity))
                if pa.types.is_timestamp(arr.type) and arr.type.tz:
                    # mapInArrow expects naive (metadata-only strip)
                    arr = arr.cast(pa.timestamp("us"))
                _check_decoded_type(col, arr, expected)
                arrays[col] = arr
            return pa.RecordBatch.from_arrays(
                [arrays[c] for c in columns], names=list(columns))

        for batch in batch_iter:
            d = batch.to_pydict()
            for i in range(batch.num_rows):
                cid = d["chunk_id"][i]
                if pending_cid is not None and cid != pending_cid \
                        and pending:
                    yield flush(pending)
                    pending = {}
                pending_cid = cid
                if d["column"][i] in need:
                    pending[d["column"][i]] = (
                        d["payload"][i], d["logical_type"][i],
                        bytes(d["validity"][i] or b""))
        if pending:
            yield flush(pending)

    # row-level pruning BEFORE the Python boundary: only requested
    # columns' payload bytes cross into the kernel (a filter preserves
    # partition order, so chunk adjacency — the contiguous contract —
    # is intact).  Decoding a 6-of-11-column projection previously
    # shipped and then skipped the other 5 payloads.
    return (chunks
            .filter(F.col("column").isin(list(columns)))
            .select("chunk_id", "column", "logical_type", "validity",
                    "payload")
            .mapInArrow(fn, spark_schema))


def push_chunk_filter(chunks: DataFrame, pruned: DataFrame,
                      max_ids: int = 256) -> DataFrame:
    """Convert a pruned chunk set into a *scan-pushable* id predicate.

    prune_chunks_multi's `NOT IN` cannot skip parquet row groups:
    Spark reads every chunk's payload bytes and only then drops the
    non-qualifying rows — fine for saved decode, wrong for saved I/O.
    When pruning was selective (≤ max_ids surviving chunks, the
    point-lookup case), collecting the id list — bounded by
    construction, one more job — and re-filtering the base scan with
    `chunk_id IN (...)` gives parquet a PushedFilter, so row-group
    statistics skip the payload bytes on disk too (write stores
    sorted by chunk_id to keep row groups id-clustered).  Returns
    `pruned` when more than max_ids chunks survive.
    """
    ids = [r.chunk_id for r in
           pruned.select("chunk_id").distinct()
           .limit(max_ids + 1).collect()]
    if len(ids) > max_ids:
        return pruned
    return chunks.filter(F.col("chunk_id").isin(ids))


def _decode_local(spark, files: list, columns: list[str],
                  spark_schema: str, kept: list) -> DataFrame:
    """The chunks `kept` of a local `read_chunks` frame with data files
    `files`, read with pyarrow and decoded on the driver into a local
    DataFrame (0 jobs)."""
    stored = read_local(files, columns, ["chunk_id", "column", "payload",
                                         "logical_type", "validity"], kept)
    ts_tz, expected = _rebuild_types(spark, spark_schema)
    parts = [_rebuild(stored.filter(pc.equal(stored["chunk_id"], cid)),
                      columns, ts_tz, expected)
             for cid in pc.unique(stored["chunk_id"]).to_pylist()]
    schema = pa.schema(list(expected.items()))
    table = (pa.concat_tables(parts).select(schema.names) if parts
             else schema.empty_table())
    return spark.createDataFrame(table, spark_schema)


def scan_encoded(chunks: DataFrame, columns: list[str],
                 spark_schema: str, eq: dict | None = None,
                 ranges: dict | None = None,
                 contiguous: bool = False) -> DataFrame:
    """One-call filtered scan over an encoded store: the predicate
    surface a reader actually wants.

    `eq`: {column: value} equality predicates (a list, tuple or set
    value is an IN-list); `ranges`: {column: (lo, hi)} inclusive
    numeric ranges (either bound may be None; timestamps compare in
    epoch-µs).  Each predicate first prunes whole chunks from footer
    stats (prune_chunks_multi's verdicts, one footer job), then
    re-applies itself as an exact residual row filter on the decoded
    survivors, so the result equals a plain decode-then-filter.  When
    a chunk is dropped, the kept ids filter the scan as a parquet-
    pushed `chunk_id IN (...)`, so the dropped payload bytes are not
    even read; a chunk with no row for a predicate column is not read
    either (that column would decode as NULL, which nothing matches).

    Predicate columns must be in `columns` (the residual filter needs
    them decoded) — raises otherwise.

    Over an untransformed `read_chunks` frame whose files are local,
    the footer is read with pyarrow, and when pruning skips some chunk
    and the kept chunks' payloads over `columns` total at most
    LOCAL_READ_BYTES encoded bytes (read in the same footer pass) they
    are read with pyarrow and decoded on the driver by the same
    per-chunk `_rebuild`; the result is `spark.createDataFrame`, whose
    residual filters Spark folds into a local relation, so collecting
    a lookup runs 0 Spark jobs.  Every other read — a derived, in-
    session or non-`file:` frame, a scan that skips nothing, or a kept
    set over the bound — is decoded by Spark (`decode_table`).

    `contiguous` defaults to False because the primary use case is a
    store read back from parquet, where file splits break chunk
    adjacency (the repo invariant); pass True only when scanning a
    fresh in-session encode lineage.
    """
    eq = eq or {}
    ranges = ranges or {}
    missing = (set(eq) | set(ranges)) - set(columns)
    if missing:
        raise ValueError(f"scan_encoded: predicate columns "
                         f"{sorted(missing)} must be in `columns` "
                         f"(the residual filter needs them decoded)")
    files = local_files(chunks)
    verdicts = _footer_verdicts(chunks, files, eq, ranges, sized=columns)
    if verdicts is None or not verdicts[1]:
        d = decode_table(chunks, columns, spark_schema,
                         contiguous=contiguous)
    elif verdicts[2] is not None and verdicts[2] <= LOCAL_READ_BYTES:
        d = _decode_local(chunks.sparkSession, files, columns,
                          spark_schema, verdicts[0])
    else:
        d = decode_table(chunks.filter(F.col("chunk_id").isin(verdicts[0])),
                         columns, spark_schema, contiguous=contiguous)

    def as_num(col):
        from pyspark.sql.types import TimestampNTZType, TimestampType

        if isinstance(d.schema[col].dataType,
                      (TimestampType, TimestampNTZType)):
            return F.unix_micros(F.col(col).cast("timestamp"))
        return F.col(col)

    for col, v in eq.items():
        d = d.filter(F.col(col).isin(list(v))
                     if isinstance(v, (list, tuple, set))
                     else F.col(col) == F.lit(v))
    for col, (lo, hi) in ranges.items():
        if lo is not None:
            d = d.filter(as_num(col) >= F.lit(lo))
        if hi is not None:
            d = d.filter(as_num(col) <= F.lit(hi))
    return d
