"""Driver-local lookups (decode.scan_encoded over an untransformed
`read_chunks` frame of a local store) against the Spark path over the
same store: same rows, same errors, same file snapshot."""

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from varint_rvv_spark.operators import decode
from varint_rvv_spark.operators.decode import (
    MAX_IN_PROBES,
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
    return sorted((tuple(r) for r in rows),
                  key=lambda t: [(v is None, v if v is not None else 0)
                                 for v in t])


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("local_lookup") / "store")
    return root, _store(spark, root, _rows(11, N))


def _both(spark, root, count_jobs, **pred):
    """(tagged-frame rows, spark rows, tagged frame schema, spark frame
    schema, skipped).  The tagged frame takes the local path (no job)
    exactly when footer pruning skips some chunk (`skipped`), else it
    decodes on Spark."""
    tagged = read_chunks(spark, root)
    skipped = prune_chunks_multi(tagged, pred.get("eq"),
                                 pred.get("ranges")) is not tagged
    local = scan_encoded(tagged, COLS, SCHEMA, **pred)
    rows, jobs = count_jobs(local.collect)
    assert (jobs == 0) == skipped, pred
    forced = scan_encoded(read_chunks(spark, root).select("*"), COLS,
                          SCHEMA, **pred)
    return _sorted(rows), _sorted(forced.collect()), local.schema, \
        forced.schema, skipped


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
    ]
    # the int column's zone maps span its NULL slots, so these may
    # skip nothing and decode on Spark
    int_ranges = [{"ranges": {"i": (i_lo, i_hi)}},
                  {"ranges": {"i": (None, i_lo)}},
                  {"ranges": {"i": (i_hi, None)}}]
    # an IN-list over MAX_IN_PROBES alone judges no footer: no chunk
    # is skipped, so the tagged frame decodes on Spark
    no_skip = {"eq": {"i": long_in}}
    for pred in cases + int_ranges + [no_skip]:
        local, forced, _, _, skipped = _both(spark, root, count_jobs,
                                             **pred)
        assert local == forced and local, pred
        assert skipped == (pred in cases) or pred in int_ranges, pred
    # a probe no chunk holds: no rows, the declared schema
    local, forced, ls, fs, _ = _both(spark, root, count_jobs,
                                     eq={"lang": "xx"})
    assert local == forced == []
    assert ls == fs == spark.createDataFrame([], SCHEMA).schema


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
