"""Equality chunk pruning: dvset / bloom footer stats (eqstats.py)."""

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from varint_rvv_spark.operators.decode import (
    decode_table,
    prune_chunks_multi,
)
from varint_rvv_spark.operators.eqstats import (
    BLOOM_MAX_DISTINCT,
    bloom_may_contain,
    build_eq_stats,
)

DOCS = "/root/testdata/sf0.001/documents.parquet"


def test_eqstats_dvset_small_cardinality():
    s = build_eq_stats(pa.array(["en", "de", "fr", None, "en"] * 10))
    assert s == {"dvset": ["de", "en", "fr"]}


def test_eqstats_bloom_no_false_negatives_and_bounded_fpr():
    vals = [f"https://example.com/page/{i:06d}" for i in range(800)]
    s = build_eq_stats(pa.array(vals))
    assert "bloom" in s and s["bloom_m"] >= 8 * len(vals) // 2
    assert all(bloom_may_contain(s["bloom"], s["bloom_m"], v.encode())
               for v in vals)  # one-sidedness: members always pass
    fp = sum(bloom_may_contain(s["bloom"], s["bloom_m"],
                               f"https://other.org/{i}".encode())
             for i in range(2000))
    assert fp / 2000 < 0.10  # ~2.4 % expected at 8 bits/key

def test_eqstats_opt_outs():
    # long values (document bodies) never pay the stat cost
    assert build_eq_stats(pa.array(["x" * 5000] * 20)) == {}
    # degenerate inputs
    assert build_eq_stats(pa.array([], type=pa.string())) == {}
    assert build_eq_stats(pa.array([None, None], type=pa.string())) == {}
    # pathological cardinality opts out rather than blunting the FPR
    many = pa.array([f"{i:07d}" for i in range(BLOOM_MAX_DISTINCT + 1)])
    assert build_eq_stats(many) == {}


def test_prune_chunks_eq_source_clustered(spark):
    """Range-clustered source column → dvset pruning is selective and
    drops no needed chunk (same answer as the unpruned decode)."""
    from varint_rvv_spark.operators.encode import encode_chunks_range
    from varint_rvv_spark.queries import TABLE_SCHEMAS

    df = spark.read.parquet(DOCS)
    chunks = encode_chunks_range(df, ["source"], num_partitions=4,
                                 rows_per_chunk=32).cache()
    total = chunks.select("chunk_id").distinct().count()
    pruned = prune_chunks_multi(chunks, eq={"source": "src7"})
    kept = pruned.select("chunk_id").distinct().count()
    assert 0 < kept <= max(total // 4, 2)  # actually selective

    def agg(ch):
        d = decode_table(ch, df.columns, TABLE_SCHEMAS["documents"],
                         contiguous=True)
        return tuple(d.filter(F.col("source") == "src7")
                     .agg(F.count("*"), F.sum("doc_id"),
                          F.sum("n_chars")).collect()[0])

    assert agg(pruned) == agg(chunks)
    # a column that opted out of eq stats (long text) is kept whole
    unpruned = prune_chunks_multi(chunks, eq={"text": "nosuchvalue"})
    assert unpruned.select("chunk_id").distinct().count() == total
    chunks.unpersist()


def test_prune_chunks_eq_bloom_point_lookup(spark):
    """High-cardinality md5 fingerprint → bloom pruning: the chunk
    holding the probed value always survives; most chunks are skipped."""
    from varint_rvv_spark.operators.encode import encode_chunks

    df = (spark.read.parquet(DOCS)
          .withColumn("fp", F.md5("text")))
    chunks = encode_chunks(df, key_cols=["doc_id"], num_chunks=16,
                           columns=["doc_id", "fp"]).cache()
    total = chunks.select("chunk_id").distinct().count()
    targets = [r.fp for r in
               df.orderBy("doc_id").select("fp").limit(5).collect()]
    for t in targets:
        pruned = prune_chunks_multi(chunks, eq={"fp": t})
        d = decode_table(pruned, ["doc_id", "fp"],
                         "doc_id long, fp string", contiguous=True)
        hits = d.filter(F.col("fp") == t).count()
        assert hits >= 1  # never a false negative
        assert pruned.select("chunk_id").distinct().count() < total
    chunks.unpersist()


def test_prune_chunks_eq_guards(spark):
    from varint_rvv_spark.operators.encode import encode_chunks_scan
    from varint_rvv_spark.sources.pages import pages_df

    chunks = encode_chunks_scan(pages_df(spark, 100, seed=3,
                                         partitions=2)).cache()
    try:
        with pytest.raises(ValueError, match="no footer rows"):
            prune_chunks_multi(chunks, eq={"no_such_col": "x"})
        with pytest.raises(ValueError, match="NULL"):
            prune_chunks_multi(chunks, eq={"url": None})
    finally:
        chunks.unpersist()


def test_eqstats_numeric_dvset_and_bloom():
    import numpy as np

    from varint_rvv_spark.operators.eqstats import (
        build_eq_stats_numeric,
        int_bloom_positions,
    )

    def in_bloom(s, v):
        bm = bytes.fromhex(s["bloom"])
        return all(bm[p >> 3] & (1 << (p & 7))
                   for p in int_bloom_positions(v, s["bloom_m"]))

    # enum-like ints -> exact list
    s = build_eq_stats_numeric(np.array([3, 1, 2, 1, 3] * 10,
                                        dtype=np.int64))
    assert s == {"dvset_i": [1, 2, 3]}
    # id-like ints -> bloom, no false negatives (vectorized build ==
    # scalar probe hashes)
    ids = np.arange(10_000, 11_000, dtype=np.int64)
    s2 = build_eq_stats_numeric(ids)
    assert "bloom" in s2
    assert all(in_bloom(s2, int(v)) for v in ids)
    # negative values round-trip through the two's-complement key
    neg = build_eq_stats_numeric(np.array([-5, -1, 7], dtype=np.int64))
    assert neg == {"dvset_i": [-5, -1, 7]}
    negb = build_eq_stats_numeric(
        np.arange(-2_000, -1_000, dtype=np.int64))
    assert all(in_bloom(negb, v) for v in range(-2_000, -1_000))
    # u64 beyond int64 falls through to bloom (dvset_i cannot hold it)
    big = build_eq_stats_numeric(np.array([2**63 + 1, 2, 3],
                                          dtype=np.uint64))
    assert "bloom" in big and in_bloom(big, 2**63 + 1)


def test_prune_chunks_eq_int_point_lookup(spark):
    """doc_id point lookup on a hash-clustered layout: the zone map
    cannot prune (ids span every chunk) but the eq bloom can."""
    from varint_rvv_spark.operators.encode import encode_chunks

    df = spark.read.parquet(DOCS)
    chunks = encode_chunks(df, key_cols=["doc_id"], num_chunks=16,
                           columns=["doc_id", "lang"]).cache()
    total = chunks.select("chunk_id").distinct().count()
    for target in [0, 7, 499]:
        pruned = prune_chunks_multi(chunks, eq={"doc_id": target})
        d = decode_table(pruned, ["doc_id", "lang"],
                         "doc_id long, lang string", contiguous=True)
        assert d.filter(F.col("doc_id") == target).count() == 1
        assert pruned.select("chunk_id").distinct().count() < total
    chunks.unpersist()


def test_prune_chunks_in_list(spark):
    """A list-valued eq predicate is an IN-list: OR of the probes."""
    from varint_rvv_spark.operators.decode import MAX_IN_PROBES
    from varint_rvv_spark.operators.encode import encode_chunks

    df = spark.read.parquet(DOCS)
    chunks = encode_chunks(df, key_cols=["doc_id"], num_chunks=16,
                           columns=["doc_id", "source"]).cache()
    total = chunks.select("chunk_id").distinct().count()
    targets = [3, 141, 421]
    pruned = prune_chunks_multi(chunks, eq={"doc_id": targets})
    d = decode_table(pruned, ["doc_id", "source"],
                     "doc_id long, source string", contiguous=True)
    assert d.filter(F.col("doc_id").isin(targets)).count() == len(targets)
    assert pruned.select("chunk_id").distinct().count() < total
    # over the probe cap: conservatively keeps everything
    wide = prune_chunks_multi(
        chunks, eq={"doc_id": list(range(MAX_IN_PROBES + 1))})
    assert wide is chunks  # no footer work at all
    assert wide.select("chunk_id").distinct().count() == total
    with pytest.raises(ValueError, match="empty probe list"):
        prune_chunks_multi(chunks, eq={"doc_id": []})
    chunks.unpersist()


def test_zorder_two_dimension_pruning(spark):
    """Z-order clustering keeps BOTH dimensions' zone maps selective:
    a 2-D box predicate prunes strictly better than half the chunks,
    and drops none that matter (answer equals the unpruned decode)."""
    from varint_rvv_spark.operators.encode import encode_chunks_zorder

    df = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .withColumn("ts_us",
                      F.unix_micros(F.col("ts").cast("timestamp")))
          .select("event_id", "user_id", "ts_us"))
    chunks = encode_chunks_zorder(df, ["user_id", "ts_us"],
                                  num_partitions=4,
                                  rows_per_chunk=64).cache()
    total = chunks.select("chunk_id").distinct().count()
    lo, hi = 1704844800000000, 1705449600000000
    pruned = prune_chunks_multi(chunks, ranges={
        "user_id": (10, 19), "ts_us": (lo, hi - 1)})
    kept = pruned.select("chunk_id").distinct().count()
    assert kept < total / 2, (kept, total)

    def agg(ch):
        d = decode_table(ch, df.columns,
                         "event_id long, user_id long, ts_us long",
                         contiguous=True)
        return tuple(d.filter(F.col("user_id").between(10, 19)
                              & (F.col("ts_us") >= lo)
                              & (F.col("ts_us") < hi))
                     .agg(F.count("*"), F.sum("event_id")).collect()[0])

    assert agg(pruned) == agg(chunks)
    chunks.unpersist()


def test_prune_probe_type_mismatch_raises(spark):
    """An int probe on a string column tests the wrong hash family and
    would silently drop matching chunks — must raise instead."""
    from varint_rvv_spark.operators.encode import encode_chunks

    df = spark.read.parquet(DOCS)
    chunks = encode_chunks(df, key_cols=["doc_id"], num_chunks=4,
                           columns=["doc_id", "source"]).cache()
    try:
        with pytest.raises(TypeError, match="integer probe"):
            prune_chunks_multi(chunks, eq={"source": 123})
        with pytest.raises(TypeError, match="probe against non-varlen"):
            prune_chunks_multi(chunks, eq={"doc_id": "123"})
        with pytest.raises(TypeError, match="integer probe"):
            prune_chunks_multi(chunks, eq={"source": ["src1", 7]})
    finally:
        chunks.unpersist()


def test_zorder_bit_overflow_raises(spark):
    from varint_rvv_spark.operators.encode import zorder_expr

    with pytest.raises(ValueError, match="interleaved bits"):
        zorder_expr([F.lit(i) for i in range(8)], bits=8)


def test_scan_encoded_combined_predicates(spark):
    """scan_encoded: eq + range predicates each prune chunks, and the
    result equals a plain decode-then-filter."""
    from varint_rvv_spark.operators.decode import scan_encoded
    from varint_rvv_spark.operators.encode import encode_chunks_range
    from varint_rvv_spark.queries import TABLE_SCHEMAS

    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    chunks = encode_chunks_range(df, ["event_type", "ts"],
                                 num_partitions=4,
                                 rows_per_chunk=64).cache()
    lo, hi = 1704844800000000, 1705449600000000
    d = scan_encoded(chunks, df.columns, TABLE_SCHEMAS["events"],
                     eq={"event_type": "click"},
                     ranges={"ts": (lo, hi - 1)})
    got = tuple(d.agg(F.count("*"), F.sum("event_id")).collect()[0])
    exp = tuple(df.filter((F.col("event_type") == "click")
                          & (F.unix_micros(F.col("ts")
                                           .cast("timestamp")) >= lo)
                          & (F.unix_micros(F.col("ts")
                                           .cast("timestamp")) < hi))
                .agg(F.count("*"), F.sum("event_id")).collect()[0])
    assert got == exp and got[0] > 0
    # a list value is an IN-list for the prune and the residual filter
    kinds = ["click", "error"]
    d = scan_encoded(chunks, df.columns, TABLE_SCHEMAS["events"],
                     eq={"event_type": kinds})
    assert d.count() == df.filter(F.col("event_type").isin(kinds)).count()
    # predicates on undecoded columns must raise, not silently skip
    # the residual
    with pytest.raises(ValueError, match="predicate columns"):
        scan_encoded(chunks, ["event_id"], "event_id long",
                     eq={"event_type": "click"})
    chunks.unpersist()


def test_grouped_decode_prunes_unrequested_columns(spark, tmp_path):
    """Grouped (sink-read) decode must decode ONLY requested columns —
    an unrequested timestamp column used to crash the tz lookup, and
    every extra column cost a pointless payload decode."""
    from varint_rvv_spark.operators.encode import encode_chunks

    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    chunks = encode_chunks(df, key_cols=["event_id"], num_chunks=4)
    out = str(tmp_path / "store")
    chunks.write.parquet(out)
    stored = spark.read.parquet(out)
    d = decode_table(stored, ["value"], "value double")  # ts NOT asked
    got = d.agg(F.round(F.sum("value"), 4)).collect()[0][0]
    exp = df.agg(F.round(F.sum("value"), 4)).collect()[0][0]
    assert got == exp


def test_decode_schema_mismatch_raises_clearly(spark):
    """Declared-vs-stored type mismatch fails with an actionable
    kernel-side error, not an opaque ArrowColumnVector crash."""
    from pyspark.sql.utils import PythonException

    from varint_rvv_spark.operators.encode import encode_chunks_scan
    from varint_rvv_spark.sources.pages import pages_df

    chunks = encode_chunks_scan(pages_df(spark, 50, seed=9,
                                         partitions=1))
    d = decode_table(chunks, ["html"], "html string",  # html is binary
                     contiguous=True)
    with pytest.raises(PythonException, match="decodes to arrow type"):
        d.count()


def test_push_chunk_filter_pushes_to_scan(spark, tmp_path):
    """push_chunk_filter: selective prunes become a parquet
    PushedFilter on chunk_id (I/O skipping), with identical results."""
    from varint_rvv_spark.operators.decode import push_chunk_filter
    from varint_rvv_spark.operators.encode import encode_chunks

    df = spark.read.parquet(DOCS).withColumn("fp", F.md5("text"))
    out = str(tmp_path / "store")
    encode_chunks(df, key_cols=["doc_id"], num_chunks=16,
                  columns=["doc_id", "fp"]) \
        .sortWithinPartitions("chunk_id").write.parquet(out)
    stored = spark.read.parquet(out)
    target = df.agg(F.max("fp")).collect()[0][0]
    pruned = prune_chunks_multi(stored, eq={"fp": target})
    pushed = push_chunk_filter(stored, pruned)
    plan = pushed._jdf.queryExecution().executedPlan().toString()
    # one id collapses In(...) to EqualTo(...) — either way the id
    # predicate must reach the parquet scan's PushedFilters
    import re

    assert re.search(r"PushedFilters: \[[^\]]*"
                     r"(In|EqualTo)\(chunk_id", plan), plan[:800]
    assert sorted(r.chunk_id for r in
                  pushed.select("chunk_id").distinct().collect()) == \
        sorted(r.chunk_id for r in
               pruned.select("chunk_id").distinct().collect())


def _footer_may_match(stats: dict, eq: list, rng: tuple | None) -> bool:
    """Driver-side twin of prune_chunks_multi's condition on one
    footer row: zone-map overlap AND any IN-probe may be present."""
    from varint_rvv_spark.operators.eqstats import int_bloom_positions

    if rng is not None:
        lo, hi = rng
        if stats.get("vmax") is not None and stats["vmax"] < lo:
            return False
        if stats.get("vmin") is not None and stats["vmin"] > hi:
            return False

    def may_contain(v):
        if isinstance(v, int):
            if "dvset_i" in stats:
                return v in stats["dvset_i"]
            if "bloom" in stats:
                bm = bytes.fromhex(stats["bloom"])
                return all(bm[p >> 3] & (1 << (p & 7)) for p in
                           int_bloom_positions(v, stats["bloom_m"]))
            return True
        if "dvset" in stats:
            return v in stats["dvset"]
        if "bloom" in stats:
            return bloom_may_contain(stats["bloom"], stats["bloom_m"],
                                     v.encode())
        return True

    return not eq or any(may_contain(v) for v in eq)


def test_prune_chunks_multi_equals_footer_reference(spark):
    """The kept chunk ids equal a driver-side evaluation of the same
    footer rows; a chunk with no row for a predicate column is kept."""
    import json

    from varint_rvv_spark.operators.encode import encode_chunks_range

    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    encoded = encode_chunks_range(df, ["event_type", "ts"],
                                  num_partitions=4, rows_per_chunk=64)
    # an extra chunk holding only a non-predicate column
    top = encoded.agg(F.max("chunk_id")).collect()[0][0]
    orphan = (encoded.filter((F.col("chunk_id") == top)
                             & (F.col("column") == "value"))
              .withColumn("chunk_id", F.lit(top + 1)))
    chunks = encoded.unionByName(orphan).cache()
    eq = {"event_type": "click", "user_id": [3, 17, 40]}
    ranges = {"event_id": (100, 5000)}
    multi = prune_chunks_multi(chunks, eq=eq, ranges=ranges)

    def ids(ch):
        return sorted(r.chunk_id for r in
                      ch.select("chunk_id").distinct().collect())

    rows = chunks.select("chunk_id", "column", "stats_json").collect()
    dropped = set()
    for r in rows:
        if r.column not in eq and r.column not in ranges:
            continue
        probes = eq.get(r.column, [])
        probes = probes if isinstance(probes, list) else [probes]
        if not _footer_may_match(json.loads(r.stats_json or "{}"),
                                 probes, ranges.get(r.column)):
            dropped.add(r.chunk_id)
    expected = sorted({r.chunk_id for r in rows} - dropped)
    assert ids(multi) == expected
    assert top + 1 in expected and dropped  # kept orphan; real pruning
    with pytest.raises(ValueError, match="no footer rows"):
        prune_chunks_multi(chunks, eq={"nope": "x"})
    with pytest.raises(TypeError, match="integer probe"):
        prune_chunks_multi(chunks, eq={"event_type": 3})
    assert prune_chunks_multi(chunks) is chunks  # no predicates
    chunks.unpersist()


def _doc_store(spark, tmp_path) -> str:
    from varint_rvv_spark.operators.encode import encode_chunks
    from varint_rvv_spark.sources.tables import write_encoded

    root = str(tmp_path / "store")
    write_encoded(encode_chunks(spark.read.parquet(DOCS),
                                key_cols=["doc_id"], num_chunks=8,
                                columns=["doc_id", "source"]), root)
    return root


def test_pruning_runs_one_job(spark, tmp_path, count_jobs):
    """Over a parquet store read through Spark, prune_chunks_multi and
    scan_encoded each run exactly one Spark job (the footer projection)
    before the frame they return is executed.  `.select("*")` derives
    a frame, which takes the Spark path: the untransformed `read_chunks`
    frame is judged on the driver (test_local_store_lookup_runs_no_job)."""
    from varint_rvv_spark.operators.decode import scan_encoded
    from varint_rvv_spark.sources.tables import read_chunks

    df = spark.read.parquet(DOCS)
    chunks = read_chunks(spark, _doc_store(spark, tmp_path)).select("*")
    calls = {
        "prune": lambda: prune_chunks_multi(
            chunks, eq={"doc_id": [3, 141]}, ranges={"doc_id": (0, 400)}),
        "scan": lambda: scan_encoded(
            chunks, ["doc_id", "source"], "doc_id long, source string",
            eq={"doc_id": 7}),
    }
    for name, call in calls.items():
        _, jobs = count_jobs(call)
        assert jobs == 1, (name, jobs)
    d = calls["scan"]()
    assert [tuple(r) for r in d.collect()] == \
        [tuple(r) for r in df.filter(F.col("doc_id") == 7)
         .select("doc_id", "source").collect()]


def test_local_store_lookup_runs_no_job(spark, tmp_path, count_jobs):
    """Over the untransformed `read_chunks` frame of a local store,
    prune_chunks_multi and scan_encoded(...).collect() run 0 Spark
    jobs, with the answer of the Spark path."""
    from varint_rvv_spark.operators.decode import scan_encoded
    from varint_rvv_spark.sources.tables import read_chunks

    df = spark.read.parquet(DOCS)
    chunks = read_chunks(spark, _doc_store(spark, tmp_path))
    pruned, jobs = count_jobs(lambda: prune_chunks_multi(
        chunks, eq={"doc_id": [3, 141]}, ranges={"doc_id": (0, 400)}))
    assert jobs == 0
    assert pruned.select("chunk_id").distinct().count() < \
        chunks.select("chunk_id").distinct().count()
    rows, jobs = count_jobs(lambda: scan_encoded(
        chunks, ["doc_id", "source"], "doc_id long, source string",
        eq={"doc_id": 7}).collect())
    assert jobs == 0
    assert [tuple(r) for r in rows] == \
        [tuple(r) for r in df.filter(F.col("doc_id") == 7)
         .select("doc_id", "source").collect()]


def test_zone_map_compares_exactly(spark):
    """Zone maps compare as exact integers: 2**53 and 2**53 + 1 are
    the same double but different int64 values."""
    from varint_rvv_spark.operators.encode import encode_chunks_scan

    def kept(vmax):
        chunks = encode_chunks_scan(spark.createDataFrame(
            [(0,), (vmax,)], "v long").coalesce(1))
        pruned = prune_chunks_multi(chunks,
                                    ranges={"v": (2**53 + 1, None)})
        return pruned.select("chunk_id").distinct().count()

    assert kept(2**53) == 0
    assert kept(2**53 + 1) == 1


def test_scan_encoded_no_chunk_may_match(spark):
    """A probe every chunk's exact stats rule out reads no chunk and
    returns no rows, with the declared schema."""
    from varint_rvv_spark.operators.decode import scan_encoded
    from varint_rvv_spark.operators.encode import encode_chunks_range

    df = spark.read.parquet(DOCS)
    chunks = encode_chunks_range(df, ["source"], num_partitions=2,
                                 rows_per_chunk=64)
    schema = "doc_id long, source string"
    d = scan_encoded(chunks, ["doc_id", "source"], schema,
                     eq={"source": "no such source"})
    assert d.collect() == []
    assert [(f.name, f.dataType) for f in d.schema] == \
        [(f.name, f.dataType) for f in
         spark.createDataFrame([], schema).schema]
