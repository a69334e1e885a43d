"""Driver-local lookups (decode.scan_encoded over an untransformed
`read_chunks` frame of a local store) against the Spark path over the
same store and a plain Spark filter over the input rows: same rows,
same errors, same file snapshot.  Also the Arrow prefilter the local
path runs before Spark's residual filter: it may keep extra rows,
never drop one Spark keeps."""

import datetime as dt
import json
import math
import random

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from varint_rvv_spark.operators import decode
from varint_rvv_spark.operators.decode import (
    MAX_IN_PROBES,
    _prefilter,
    prune_chunks_multi,
    scan_encoded,
)
from varint_rvv_spark.operators.encode import encode_chunks_scan
from varint_rvv_spark.sources.tables import read_chunks, write_encoded

SCHEMA = "s string, i long, ts timestamp, lang string"
COLS = ["s", "i", "ts", "lang"]
N = 3000
T0 = 1_704_067_200_000_000  # 2024-01-01 UTC, epoch-µs


def _rows(seed: int, n: int, base: int = 0) -> list:
    """Near-sorted `i` and `ts` (zone maps prune), random high-
    cardinality `s` (blooms), 4-value `lang` (dvsets); some NULLs."""
    rnd = random.Random(seed)
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    out = []
    for k in range(base, base + n):
        us = T0 + k * 1000 + rnd.randrange(2000)
        out.append((
            None if k % 17 == 0 else f"s{rnd.randrange(1 << 40):x}",
            None if k % 13 == 0 else 3 * k + rnd.randrange(3),
            epoch + dt.timedelta(microseconds=us),
            rnd.choice(["en", "de", "fr", "ja"])))
    return out


def _store(spark, root: str, rows: list, id_base: int = 0,
           mode: str = "overwrite") -> list:
    """Encode `rows` into `root` (chunk ids shifted by `id_base`);
    returns them as Spark collects them."""
    df = spark.createDataFrame(rows, SCHEMA).repartition(3)
    chunks = encode_chunks_scan(df, rows_per_chunk=250)
    write_encoded(chunks.withColumn("chunk_id", F.col("chunk_id") + id_base),
                  root, mode=mode)
    return df.collect()


def _sorted(rows) -> list:
    """Rows as sorted tuples, NaN as "NaN" so that equal rows compare
    equal (a float column needs a unique column before it, or sorting
    may compare "NaN" with a float)."""
    return sorted((tuple("NaN" if isinstance(v, float) and math.isnan(v)
                         else v for v in r) for r in rows),
                  key=lambda t: [(v is None, v if v is not None else 0)
                                 for v in t])


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("local_lookup") / "store")
    return root, _store(spark, root, _rows(11, N))


def _both(spark, root, count_jobs, source=None, cols=COLS,
          schema=SCHEMA, **pred):
    """(tagged-frame rows, spark rows, tagged frame schema, spark frame
    schema, skipped).  The tagged frame takes the local path (no job)
    exactly when footer pruning skips some chunk (`skipped`), else it
    decodes on Spark.  With the store's input rows `source`, both
    must equal them filtered by Spark alone."""
    tagged = read_chunks(spark, root)
    skipped = prune_chunks_multi(tagged, pred.get("eq"),
                                 pred.get("ranges")) is not tagged
    local = scan_encoded(tagged, cols, schema, **pred)
    rows, jobs = count_jobs(local.collect)
    assert (jobs == 0) == skipped, pred
    forced = scan_encoded(read_chunks(spark, root).select("*"), cols,
                          schema, **pred)
    rows, forced_rows = _sorted(rows), _sorted(forced.collect())
    if source is not None:
        assert rows == forced_rows == _sorted(_plain(spark, source,
                                                     schema, **pred)), pred
    return rows, forced_rows, local.schema, forced.schema, skipped


def _cond(schema, eq=None, ranges=None):
    """scan_encoded's predicates as a plain Spark condition, written
    out here rather than taken from `decode`: `isin`/`==` per eq
    probe, and ranges over epoch-µs for timestamps (a timestamp_ntz
    read in the session zone)."""
    cond = F.lit(True)
    for c, v in (eq or {}).items():
        cond = cond & (F.col(c).isin(list(v))
                       if isinstance(v, (list, tuple, set))
                       else F.col(c) == F.lit(v))
    for c, (lo, hi) in (ranges or {}).items():
        m = F.col(c)
        if isinstance(schema[c].dataType, (TimestampType, TimestampNTZType)):
            m = F.unix_micros(m.cast("timestamp"))
        if lo is not None:
            cond = cond & (m >= F.lit(lo))
        if hi is not None:
            cond = cond & (m <= F.lit(hi))
    return cond


def _plain(spark, rows, schema, eq=None, ranges=None) -> list:
    """`rows` filtered by Spark alone."""
    df = spark.createDataFrame(rows, schema)
    return df.filter(_cond(df.schema, eq, ranges)).collect()


def test_local_and_spark_paths_return_the_same_rows(spark, store,
                                                    count_jobs):
    root, rows = store
    rnd = random.Random(5)
    some = rnd.sample([r for r in rows if None not in r], 70)
    us = [r.ts_us for r in spark.createDataFrame(some, SCHEMA).select(
        F.unix_micros("ts").alias("ts_us")).collect()]
    i_lo, i_hi = sorted(r[1] for r in some[:2])
    t_lo, t_hi = sorted(us[2:4])
    long_in = [r[1] for r in some[:MAX_IN_PROBES + 1]]
    cases = [
        {"eq": {"s": some[0][0]}},
        {"eq": {"i": some[1][1]}},
        {"eq": {"lang": some[2][3], "i": some[2][1]}},
        {"eq": {"s": [r[0] for r in some[:5]] + ["absent"]}},
        {"eq": {"i": long_in}, "ranges": {"ts": (us[0], us[0])}},
        {"ranges": {"ts": (t_lo, t_hi)}},
        {"ranges": {"ts": (None, t_lo)}},
        {"ranges": {"ts": (t_hi, None)}},
        {"eq": {"lang": "fr"}, "ranges": {"ts": (t_lo, t_hi)}},
        {"ranges": {"i": (i_lo, i_hi)}},
        {"ranges": {"i": (None, i_lo)}},
        {"ranges": {"i": (i_hi, None)}},
    ]
    # an IN-list over MAX_IN_PROBES alone judges no footer: no chunk
    # is skipped, so the tagged frame decodes on Spark
    no_skip = {"eq": {"i": long_in}}
    for pred in cases + [no_skip]:
        local, forced, _, _, skipped = _both(spark, root, count_jobs,
                                             source=rows, **pred)
        assert local == forced and local, pred
        assert skipped == (pred in cases), pred
    # a probe no chunk holds: no rows, the declared schema
    local, forced, ls, fs, _ = _both(spark, root, count_jobs,
                                     eq={"lang": "xx"})
    assert local == forced == []
    assert ls == fs == spark.createDataFrame([], SCHEMA).schema


def test_range_on_nullable_int_column_skips_chunks(spark, tmp_path,
                                                   count_jobs):
    """Zone maps span a chunk's non-NULL values only: a range on a
    nullable int column skips the chunks outside it, and an all-NULL
    chunk has no zone map, so it is kept."""
    root = str(tmp_path / "store")
    # 4 chunks of 250 rows: the first all NULL, the others NULL every
    # 13th row around disjoint value spans
    rows = [(k, None if k < 250 or k % 13 == 0 else 3 * k)
            for k in range(1000)]
    df = spark.createDataFrame(rows, "k long, i long").coalesce(1)
    write_encoded(encode_chunks_scan(df, rows_per_chunk=250), root)
    stats = {r.chunk_id: json.loads(r.stats_json) for r in
             read_chunks(spark, root).filter(F.col("column") == "i")
             .select("chunk_id", "stats_json").collect()}
    assert sum("vmin" not in s for s in stats.values()) == 1
    assert sorted((s["vmin"], s["vmax"]) for s in stats.values()
                  if "vmin" in s) == [(750, 1497), (1500, 2247),
                                      (2250, 2997)]
    tagged = read_chunks(spark, root)
    kept = prune_chunks_multi(tagged, ranges={"i": (1600, 1700)})
    kept_ids = {r.chunk_id for r in kept.select("chunk_id").collect()}
    assert {i for i, s in stats.items()
            if "vmin" not in s or s["vmin"] == 1500} == kept_ids
    got, jobs = count_jobs(scan_encoded(
        tagged, ["k", "i"], "k long, i long",
        ranges={"i": (1600, 1700)}).collect)
    assert jobs == 0
    assert sorted(tuple(r) for r in got) == [
        r for r in rows if r[1] is not None and 1600 <= r[1] <= 1700]


def test_over_the_bound_takes_the_spark_path(spark, store, count_jobs,
                                             monkeypatch):
    root, rows = store
    monkeypatch.setattr(decode, "LOCAL_READ_BYTES", 0)
    hit = rows[1][0]
    # read outside the count: reading a store may itself run a job
    tagged = read_chunks(spark, root)
    got, jobs = count_jobs(scan_encoded(tagged, COLS, SCHEMA,
                                        eq={"s": hit}).collect)
    assert jobs >= 1
    assert _sorted(got) == _sorted(r for r in rows if r[0] == hit)


def test_unpruned_scans_take_the_spark_path(spark, store, count_jobs):
    """With nothing to skip (no predicate, or one every chunk may
    match) the tagged frame's whole store is decoded by Spark in
    parallel, not on the driver."""
    root, rows = store
    tagged = read_chunks(spark, root)
    for pred in ({}, {"eq": {"lang": ["en", "de", "fr", "ja"]}}):
        got, jobs = count_jobs(scan_encoded(tagged, COLS, SCHEMA,
                                            **pred).collect)
        assert jobs >= 1, pred
        assert _sorted(got) == _sorted(rows), pred


def test_both_paths_raise_the_same_errors(spark, store, tmp_path):
    root, _ = store
    empty = str(tmp_path / "empty")
    write_encoded(encode_chunks_scan(spark.range(0)), empty)
    for r, cols, schema in ((root, COLS, SCHEMA),
                            (empty, ["id"], "id long")):
        for frame in (read_chunks(spark, r), read_chunks(spark, r)
                      .select("*")):
            with pytest.raises(ValueError, match="no footer rows"):
                scan_encoded(frame, cols + ["nope"], schema,
                             eq={"nope": 1})
    for frame in (read_chunks(spark, root),
                  read_chunks(spark, root).select("*")):
        with pytest.raises(TypeError, match="string/bytes probe"):
            scan_encoded(frame, COLS, SCHEMA, eq={"i": "7"})


def test_frame_file_listing_is_the_snapshot(spark, tmp_path, count_jobs):
    """A frame read before an append keeps reading the files it
    listed, on both paths; a fresh read sees the appended chunks."""
    root = str(tmp_path / "store")
    rows = _store(spark, root, _rows(3, 600))
    before = read_chunks(spark, root)
    extra = _store(spark, root, _rows(4, 10, base=600), id_base=1 << 40,
                   mode="append")
    # an IN-list of one old and one appended value skips the other
    # chunks, so the tagged frames take the local path
    old, new = (next(r for r in rs if r[0]) for rs in (rows, extra))
    probe = {"s": [old[0], new[0]]}
    old_local, jobs = count_jobs(lambda: scan_encoded(
        before, COLS, SCHEMA, eq=probe).collect())
    assert jobs == 0
    old_spark = scan_encoded(before.select("*"), COLS, SCHEMA,
                             eq=probe).collect()
    assert _sorted(old_local) == _sorted(old_spark) == _sorted([old])
    fresh, _, _, _, _ = _both(spark, root, count_jobs, eq=probe)
    assert fresh == _sorted([old, new])


TYPED_SCHEMA = ("k long, d double, i32 int, b binary, tn timestamp_ntz, "
                "ts timestamp")
TYPED_COLS = ["k", "d", "i32", "b", "tn", "ts"]
STEP = dt.timedelta(minutes=10)


def _typed_rows(n: int = 1000) -> list:
    """k-sorted rows, 250 to a chunk: `d` with NaN, ±inf and NULL among
    finite values; even `i32` (odd probes miss inside every zone map);
    50 `b` values; timestamps 10 minutes apart, so a chunk spans ~42 h,
    more than twice the largest zone offset."""
    t0 = dt.datetime(2024, 1, 1)
    out = []
    for k in range(n):
        d = (math.nan if k % 7 == 0 else None if k % 11 == 0
             else math.inf if k % 13 == 0 else -math.inf if k % 17 == 0
             else k / 3)
        wall = t0 + k * STEP
        out.append((k, d, None if k % 19 == 0 else 2 * k, b"b%d" % (k % 50),
                    wall, wall.replace(tzinfo=dt.timezone.utc)))
    return out


@pytest.fixture(scope="module")
def typed_store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("typed_lookup") / "store")
    rows = _typed_rows()
    df = spark.createDataFrame(rows, TYPED_SCHEMA).coalesce(1)
    write_encoded(encode_chunks_scan(df, rows_per_chunk=250), root)
    return root, rows


def test_typed_lookups_match_a_plain_filter(spark, typed_store,
                                            count_jobs):
    """Floats, binary and probes outside a column's type keep every
    row in the prefilter; int probes compare as int64.  Each case
    skips chunks, so the tagged frame decodes on the driver."""
    root, rows = typed_store
    k = {"k": (300, 420)}  # inside chunk 1
    cases = [
        # Spark sorts NaN above every value, +inf included
        {"ranges": {**k, "d": (120.0, None)}},
        {"ranges": {**k, "d": (None, -1.0)}},
        # ...and NaN = NaN
        {"eq": {"d": math.nan}, "ranges": k},
        {"eq": {"d": [math.inf, 110.0]}, "ranges": k},
        # outside int32: compared as int64, so nothing matches it
        {"eq": {"i32": [700, 2 ** 40]}},
        {"eq": {"i32": 2 ** 40}, "ranges": k},
        # 601 is absent from the chunk that holds 602 and 604
        {"eq": {"i32": [602, 604, 601, 2 ** 33]}},
        {"eq": {"b": b"b7"}, "ranges": k},
        # an eq AND a range: 700 lies outside the range
        {"eq": {"i32": [602, 604, 700]}, "ranges": {"k": (300, 349)}},
    ]
    got = {}
    for n, pred in enumerate(cases):
        got[n], _, _, _, skipped = _both(
            spark, root, count_jobs, source=rows, cols=TYPED_COLS,
            schema=TYPED_SCHEMA, **pred)
        assert skipped, pred
    assert {"NaN", math.inf} <= {r[1] for r in got[0]}
    assert [r[1] for r in got[2]] == ["NaN"] * 18  # k = 301, 308, ..., 420
    assert [r[0] for r in got[4]] == [350]
    assert got[5] == []
    assert [r[0] for r in got[6]] == [301, 302]
    assert [r[0] for r in got[8]] == [301, 302]
    # a kept chunk (601 is inside its zone map) in which no row
    # matches: no rows, still no job
    none, _, _, _, skipped = _both(
        spark, root, count_jobs, source=rows, cols=TYPED_COLS,
        schema=TYPED_SCHEMA, ranges={"i32": (601, 601)})
    assert skipped and none == []
    # the contiguous kernel over a fresh encode lineage agrees
    fresh = encode_chunks_scan(spark.createDataFrame(rows, TYPED_SCHEMA)
                               .coalesce(1), rows_per_chunk=250)
    for pred in (cases[0], cases[6]):
        assert _sorted(scan_encoded(fresh, TYPED_COLS, TYPED_SCHEMA,
                                    contiguous=True, **pred).collect()) \
            == _sorted(_plain(spark, rows, TYPED_SCHEMA, **pred)), pred


def test_timestamp_ranges_under_a_non_utc_session_zone(spark, typed_store,
                                                       count_jobs):
    """Ranges compare `unix_micros(col.cast("timestamp"))`: a timestamp
    keeps its instant, and a timestamp_ntz value is wall-clock time in
    the session zone (Tokyo, UTC+9), so its zone maps hold 9 h off
    from the epoch-µs bounds."""
    root, rows = typed_store
    us = [(r[4] - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
          for r in rows]
    nine = 9 * 3600 * 10 ** 6
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        for pred in ({"ranges": {"tn": (us[500] - nine, us[505] - nine)}},
                     {"ranges": {"ts": (us[500], us[505])}}):
            got, _, _, _, skipped = _both(
                spark, root, count_jobs, source=rows, cols=TYPED_COLS,
                schema=TYPED_SCHEMA, **pred)
            assert skipped and [r[0] for r in got] == list(range(500, 506))
        # prune_chunks_multi alone keeps the chunk of k 500-505 too
        # (k 250-499 stays within the 18 h slack, k 0-249 does not)
        kept = prune_chunks_multi(read_chunks(spark, root), ranges={
            "tn": (us[500] - nine, us[505] - nine)})
        assert sorted(json.loads(r.stats_json)["vmin"] for r in
                      kept.filter(F.col("column") == "k")
                      .select("stats_json").collect()) == [250, 500]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_local_relation_holds_only_matching_rows(spark, store):
    """The decoded chunks are prefiltered before createDataFrame: the
    analyzed plan's LocalRelation (before Spark folds its filter in)
    holds just the rows an int range matches, not whole chunks."""
    root, rows = store
    lo = sorted(r[1] for r in rows if r[1] is not None)[1500]
    hi = lo + 40
    local = scan_encoded(read_chunks(spark, root), COLS, SCHEMA,
                         ranges={"i": (lo, hi)})
    leaves = local._jdf.queryExecution().analyzed().collectLeaves()
    sizes = [leaves.apply(j).data().size() for j in range(leaves.size())
             if leaves.apply(j).nodeName() == "LocalRelation"]
    want = [r for r in rows if r[1] is not None and lo <= r[1] <= hi]
    assert 0 < len(want) < 250
    assert sizes == [len(want)]
    assert _sorted(local.collect()) == _sorted(want)


PRE_SCHEMA = StructType([
    StructField("k", LongType()), StructField("d", DoubleType()),
    StructField("i32", IntegerType()), StructField("s", StringType()),
    StructField("b", BinaryType()), StructField("ts", TimestampType()),
    StructField("tn", TimestampNTZType())])


def _pre_table(n: int = 40) -> pa.Table:
    return pa.table({
        "k": pa.array(range(n), pa.int64()),
        "d": pa.array([math.nan, math.inf, -math.inf, None, 0.0, -0.0]
                      + [float(j) for j in range(6, n)]),
        "i32": pa.array([None if j % 9 == 0 else j - 20 for j in range(n)],
                        pa.int32()),
        "s": pa.array([None if j % 8 == 0 else f"s{j % 5}"
                       for j in range(n)]),
        "b": pa.array([b"x%d" % (j % 3) for j in range(n)]),
        "ts": pa.array([T0 + j * 10 ** 6 for j in range(n)],
                       pa.timestamp("us", tz="UTC")),
        "tn": pa.array([T0 + j * 10 ** 6 for j in range(n)],
                       pa.timestamp("us")),
    })


def test_prefilter_keeps_every_row_spark_keeps(spark):
    tbl = _pre_table()
    every = list(range(tbl.num_rows))
    frame = spark.createDataFrame(tbl, PRE_SCHEMA)
    cases = [  # (eq, ranges, exact: keeps just the rows Spark keeps)
        ({"d": math.nan}, {}, False),
        ({"d": [math.inf, 7.0]}, {}, False),
        ({}, {"d": (10.0, None)}, False),
        ({}, {"d": (None, 0.0)}, False),
        ({"b": b"x1"}, {}, False),
        ({"i32": [3, 3.0]}, {}, False),  # Spark compares as double
        ({"i32": 2 ** 40}, {}, True),
        ({"i32": [3, -5, 2 ** 40]}, {}, True),
        ({}, {"i32": (-3, 2 ** 40)}, True),
        ({"s": ["s1", "s4", "absent"]}, {}, True),
        ({"s": "s2"}, {"k": (5, 30)}, True),
        ({}, {"ts": (T0 + 5 * 10 ** 6, T0 + 9 * 10 ** 6)}, True),
        ({}, {"tn": (T0 + 5 * 10 ** 6, None)}, False),
    ]
    for eq, ranges, exact in cases:
        kept = _prefilter(tbl, PRE_SCHEMA, eq, ranges)["k"].to_pylist()
        want = sorted(r.k for r in frame.filter(
            _cond(PRE_SCHEMA, eq, ranges)).select("k").collect())
        assert set(want) <= set(kept), (eq, ranges)
        assert kept == (want if exact else every), (eq, ranges)
        batch = _prefilter(tbl.to_batches()[0], PRE_SCHEMA, eq, ranges)
        assert batch["k"].to_pylist() == kept
    # predicates left to Spark alone keep every row too (Spark rejects
    # all but the collated one)
    lcase = StructType([StructField("s", StringType("UTF8_LCASE"))])
    for schema, eq, ranges in (
            (PRE_SCHEMA, {"s": 1}, {}),
            (PRE_SCHEMA, {"k": 2 ** 70}, {}),
            (PRE_SCHEMA, {"k": True}, {}),
            (PRE_SCHEMA, {}, {"k": (-(2 ** 64), 2 ** 64)}),
            (PRE_SCHEMA, {}, {"ts": (dt.datetime(2024, 1, 1), None)}),
            (lcase, {"s": "S1"}, {})):
        assert _prefilter(tbl, schema, eq, ranges).num_rows == len(every)
