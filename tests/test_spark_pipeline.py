"""End-to-end Spark pipeline tests (SURVEY.md §5 item 4).

pages fixture → encode → chunks+footer → decode → bit-identity;
compressed-size ≤ plain-varint baseline for int columns;
checkpoint-resume via footer anti-join.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from varint_rvv_spark.codecs import blob as B
from varint_rvv_spark.operators.decode import (
    decode_table,
    verify_chunks,
    verify_roundtrip,
)
from varint_rvv_spark.operators.encode import encode_chunks, footer_of
from varint_rvv_spark.sources.pages import PAGES_SCHEMA, pages_df

N_PAGES = 1000


@pytest.fixture(scope="module")
def pages(spark):
    df = pages_df(spark, N_PAGES, seed=42, partitions=4)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def chunks(spark, pages):
    ch = encode_chunks(pages, key_cols=["url"], num_chunks=8)
    ch.cache().count()
    return ch


def test_pages_deterministic(spark):
    a = pages_df(spark, 200, seed=42, partitions=2)
    b = pages_df(spark, 200, seed=42, partitions=3)
    ha = a.select(F.sha2(F.concat_ws("|", "url", "text", "lang"), 256)
                  .alias("h")).agg(F.sum(F.crc32("h"))).collect()[0][0]
    hb = b.select(F.sha2(F.concat_ws("|", "url", "text", "lang"), 256)
                  .alias("h")).agg(F.sum(F.crc32("h"))).collect()[0][0]
    assert ha == hb


def test_chunk_coverage(chunks, pages):
    per_col = (chunks.groupBy("column")
               .agg(F.sum("n_values").alias("n"),
                    F.countDistinct("chunk_id").alias("nchunks"))
               .collect())
    got = {r["column"]: r for r in per_col}
    assert set(got) == {"url", "warc_ts", "html", "text", "lang"}
    for r in got.values():
        assert r["n"] == N_PAGES
        assert r["nchunks"] == 8


def test_bit_identity_roundtrip(chunks):
    n, bad = verify_roundtrip(chunks)
    assert n == 8 * 5
    assert bad == 0


def test_compression_beats_raw_and_varint_floor(chunks):
    rows = (chunks.groupBy("column")
            .agg(F.sum("raw_bytes").alias("raw"),
                 F.sum("encoded_bytes").alias("enc"))
            .collect())
    sizes = {r["column"]: (r["raw"], r["enc"]) for r in rows}
    # url-clustered chunks: ts deltas are jittery but still beat raw
    assert sizes["warc_ts"][1] < sizes["warc_ts"][0] * 0.65
    assert sizes["lang"][1] < sizes["lang"][0] / 3
    assert sizes["text"][1] < sizes["text"][0]


def test_ts_sorted_clustering_improves_ts(spark, pages, chunks):
    """Clustering choice matters: ts-sorted chunks compress warc_ts hard."""
    by_ts = encode_chunks(pages.select("warc_ts"), key_cols=["warc_ts"],
                          num_chunks=8, sort_cols=["warc_ts"])
    enc = by_ts.agg(F.sum("encoded_bytes")).collect()[0][0]
    url_sorted = (chunks.filter(F.col("column") == "warc_ts")
                  .agg(F.sum("encoded_bytes")).collect()[0][0])
    # ts-sorted clustering is never worse than url-sorted for ts,
    # and both beat raw (8 B/value); the floor here is ~4 B/value
    # (1000 uniform points over a 30-day µs span carry ~31 bits each)
    assert enc <= url_sorted
    assert enc < 8 * N_PAGES * 0.65


def test_decode_table_reconstructs(spark, pages, chunks):
    rebuilt = decode_table(chunks, pages.columns, PAGES_SCHEMA)
    orig = pages.select(
        "url", F.col("warc_ts").cast("long").alias("ts"),
        F.sha2("html", 256).alias("hh"), F.sha2(F.encode("text", "utf-8"),
                                                256).alias("th"), "lang")
    back = rebuilt.select(
        "url", F.col("warc_ts").cast("long").alias("ts"),
        F.sha2("html", 256).alias("hh"), F.sha2(F.encode("text", "utf-8"),
                                                256).alias("th"), "lang")
    assert back.count() == N_PAGES
    assert orig.exceptAll(back).count() == 0
    assert back.exceptAll(orig).count() == 0


def test_resume_skips_done_chunks(spark, pages, chunks):
    footer = footer_of(chunks)
    # all chunks done → nothing re-encoded
    again = encode_chunks(pages, key_cols=["url"], num_chunks=8,
                          done_footer=footer)
    assert again.count() == 0
    # half done → only missing chunk_ids are produced
    half = footer.filter(F.col("chunk_id") < 4)
    rest = encode_chunks(pages, key_cols=["url"], num_chunks=8,
                         done_footer=half)
    ids = {r["chunk_id"] for r in rest.select("chunk_id").distinct().collect()}
    assert ids == {4, 5, 6, 7}
    # resumed chunks are byte-identical to the full run's
    full = {(r["chunk_id"], r["column"]): r["value_sha256"]
            for r in chunks.select("chunk_id", "column", "value_sha256")
            .collect() if r["chunk_id"] >= 4}
    resumed = {(r["chunk_id"], r["column"]): r["value_sha256"]
               for r in rest.select("chunk_id", "column", "value_sha256")
               .collect()}
    assert full == resumed


def test_testdata_documents_roundtrip(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ch = encode_chunks(df, key_cols=["doc_id"], num_chunks=4)
    ch.cache().count()
    n, bad = verify_roundtrip(ch)
    assert bad == 0
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    rebuilt = decode_table(ch, df.columns, schema)
    assert rebuilt.exceptAll(df).count() == 0
    assert df.exceptAll(rebuilt).count() == 0
    ch.unpersist()


def test_decode_table_contiguous_matches_shuffle_path(spark, pages,
                                                      chunks):
    """Zero-shuffle decode_table (contiguous=True) rebuilds the same
    table as the groupBy path, with no Exchange in its plan."""
    shuffled = decode_table(chunks, pages.columns, PAGES_SCHEMA)
    contig = decode_table(chunks, pages.columns, PAGES_SCHEMA,
                          contiguous=True)
    # the encode lineage contributes one Exchange to both plans; the
    # groupBy path adds a second, the contiguous path adds none
    def n_exchanges(df):
        return df._jdf.queryExecution().executedPlan().toString() \
            .count("Exchange")
    assert n_exchanges(contig) == n_exchanges(shuffled) - 1
    a = shuffled.select("url", F.sha2("html", 256).alias("h"), "lang")
    b = contig.select("url", F.sha2("html", 256).alias("h"), "lang")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert contig.count() == N_PAGES


def test_resume_rejects_num_chunks_mismatch(spark, pages, chunks):
    """Resuming with a different num_chunks would silently drop rows —
    the engine must refuse, and must inherit N from the footer."""
    footer = footer_of(chunks)
    with pytest.raises(ValueError, match="differs from the footer"):
        encode_chunks(pages, key_cols=["url"], num_chunks=16,
                      done_footer=footer)
    # inheriting N from the footer works without an explicit num_chunks
    again = encode_chunks(pages, key_cols=["url"], done_footer=footer)
    assert again.count() == 0


def test_int32_and_timestamp_roundtrip(spark):
    """Narrow ints (int32) and timestamps keep their exact Spark types
    through the codec stack (customer/orders have INTEGER columns)."""
    df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    ch = encode_chunks(df, key_cols=["c_custkey"], num_chunks=3)
    schema = ("c_custkey long, c_name string, c_nationkey int, "
              "c_acctbal double, c_mktsegment string")
    rebuilt = decode_table(ch, df.columns, schema)
    assert rebuilt.schema == df.schema
    assert rebuilt.exceptAll(df).count() == 0
    assert df.exceptAll(rebuilt).count() == 0


def test_nan_vs_null_roundtrip(spark):
    """NaN-the-value and NULL are distinct through decode_table in both
    modes (pandas cannot represent this — the rebuild must stay in
    Arrow)."""
    df = spark.createDataFrame(
        [(1, float("nan")), (2, None), (3, 1.5), (4, float("inf")),
         (5, -0.0)], "k long, v double")
    for contiguous, ch in [
            (False, encode_chunks(df, key_cols=["k"], num_chunks=2)),
            (True, __import__("varint_rvv_spark.operators.encode",
                              fromlist=["encode_chunks_scan"])
             .encode_chunks_scan(df))]:
        back = decode_table(ch, ["k", "v"], "k long, v double",
                            contiguous=contiguous)
        got = {r["k"]: r["v"] for r in back.collect()}
        assert got[2] is None, contiguous
        assert got[1] is not None and got[1] != got[1], contiguous  # NaN
        assert got[4] == float("inf")
        assert got[3] == 1.5


def test_nulls_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, None), (None, "c", 2.5), (None, None, None)],
        "k long, s string, v double")
    ch = encode_chunks(df, key_cols=["k"], num_chunks=2)
    rebuilt = decode_table(ch, df.columns, "k long, s string, v double")
    assert rebuilt.exceptAll(df).count() == 0
    assert df.exceptAll(rebuilt).count() == 0


def test_narrow_int_roundtrip(spark):
    """tinyint/smallint survive encode→decode with their exact types
    (widened on the wire, logical_type restores the Arrow type)."""
    rows = [(1, 127, -32768, 7), (2, -128, 32767, None), (3, 0, None, 9)]
    schema = "id long, a byte, b short, c short"
    df = spark.createDataFrame(rows, schema)
    chunks = encode_chunks(df, key_cols=["id"], num_chunks=2)
    out = decode_table(chunks, df.columns, schema)
    assert out.schema == df.schema
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, rows))
    outc = decode_table(chunks, df.columns, schema, contiguous=True)
    assert outc.schema == df.schema
    assert sorted(map(tuple, outc.collect())) == sorted(map(tuple, rows))


def test_wide_decimal_roundtrip(spark):
    """decimal(38,6) — beyond the int64 unscaled range — through the
    two-limb bridge (round 4): exact values, exact schema, nulls."""
    rows = [(1, "12345678901234567890.123456"),
            (2, "-99999999999999999999999999999.999999"),
            (3, None), (4, "0.000001")]
    df = spark.createDataFrame(rows, "id long, d string") \
        .selectExpr("id", "CAST(d AS DECIMAL(38,6)) AS d")
    schema = "id long, d decimal(38,6)"
    chunks = encode_chunks(df, key_cols=["id"], num_chunks=2)
    out = decode_table(chunks, df.columns, schema)
    assert out.schema == df.schema
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, df.collect()))
    # footer-inferred schema names it too (evolve round-trip)
    from varint_rvv_spark.operators.evolve import stored_table_schema

    assert stored_table_schema(chunks, ["id", "d"]) == \
        "id bigint, d decimal(38,6)"


def test_subset_schema_keeps_parameterised_types():
    """Projecting a schema string splits on top-level commas only, so
    decimal(p,s) / struct<...> / map<k,v> types survive intact."""
    from varint_rvv_spark.queries import TABLE_SCHEMAS, _subset_schema

    assert _subset_schema(TABLE_SCHEMAS["orders_dates"],
                          ["o_key_dec", "o_orderkey"]) == \
        "o_key_dec decimal(18,2), o_orderkey long"
    assert _subset_schema("a struct<x:map<string,int>,y:int>, b int",
                          ["b", "a"]) == \
        "b int, a struct<x:map<string,int>,y:int>"


def test_verify_chunks_mismatch_diagnostics(spark):
    """Forced corruption: hash mismatch surfaces concrete
    (index, expected, got) samples; truncation surfaces the decode
    error instead of killing the task."""
    import json

    df = spark.createDataFrame([(i, i * 3 + 1) for i in range(100)],
                               "id long, v long")
    chunks = encode_chunks(df, key_cols=["id"], num_chunks=1,
                           codec_overrides={"v": B.VARINT, "id": B.VARINT})
    rows = chunks.collect()

    def corrupt(r, payload):
        d = r.asDict()
        d["payload"] = payload
        return d

    bad_rows = []
    for r in rows:
        p = bytearray(r["payload"])
        if r["column"] == "v":
            p[-1] ^= 0x01  # last varint terminator: value shifts by ±1
            bad_rows.append(corrupt(r, bytes(p)))
        else:
            bad_rows.append(corrupt(r, bytes(p[:-3])))  # truncation
    bad = spark.createDataFrame(bad_rows, chunks.schema)
    got = {r["column"]: r for r in
           __import__("varint_rvv_spark.operators.decode",
                      fromlist=["verify_chunks"])
           .verify_chunks(bad).collect()}
    assert not got["v"]["ok"] and not got["id"]["ok"]
    vdiag = json.loads(got["v"]["diag"])
    samples = vdiag["mismatch_samples"]
    assert len(samples) >= 1
    idx, expected, actual = samples[0]
    assert expected != actual and idx == 99  # the tampered last value
    iddiag = json.loads(got["id"]["diag"])
    assert "decode_error" in iddiag


def test_prune_chunks_zone_map(spark):
    """Footer min/max pruning: fewer chunks decoded, same answer."""
    from varint_rvv_spark.operators.decode import prune_chunks_multi
    from varint_rvv_spark.operators.encode import encode_chunks_scan
    from varint_rvv_spark.queries import TABLE_SCHEMAS

    lo, hi = 1704844800000000, 1705449600000000  # one week of January
    df = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .orderBy("ts"))
    chunks = encode_chunks_scan(df, rows_per_chunk=128).cache()
    total = chunks.select("chunk_id").distinct().count()
    pruned = prune_chunks_multi(chunks, ranges={"ts": (lo, hi)})
    kept = pruned.select("chunk_id").distinct().count()
    assert 0 < kept < total  # pruning actually pruned

    def agg(ch):
        d = decode_table(ch, df.columns, TABLE_SCHEMAS["events"],
                         contiguous=True)
        d = d.filter((F.unix_micros("ts") >= lo)
                     & (F.unix_micros("ts") < hi))
        return d.agg(F.count("*"), F.sum("event_id"),
                     F.round(F.sum("value"), 4)).collect()[0]

    assert tuple(agg(pruned)) == tuple(agg(chunks))
    # a column without zone maps (strings) is conservatively kept
    unpruned = prune_chunks_multi(chunks, ranges={"event_type": (0, 1)})
    assert unpruned.select("chunk_id").distinct().count() == total
    chunks.unpersist()


def test_range_clustered_chunks_have_disjoint_zone_maps(spark):
    """encode_chunks_range: clustering-column zone maps are pairwise
    disjoint across chunks, so range pruning is maximally selective."""
    import json

    from varint_rvv_spark.operators.encode import (
        encode_chunks_range,
        footer_of,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    f = footer_of(encode_chunks_range(df, ["ts"], num_partitions=4,
                                      rows_per_chunk=64))
    rows = (f.filter(F.col("column") == "ts")
            .select("chunk_id", "stats_json").collect())
    spans = sorted((json.loads(r.stats_json)["vmin"],
                    json.loads(r.stats_json)["vmax"]) for r in rows)
    assert len(spans) >= 4  # one chunk per range partition minimum
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert lo1 <= hi1 < lo2  # strictly disjoint, ordered


def test_footer_vsum_guard_returns_null_on_gaps(spark):
    """Aggregate pushdown must surface NULL, not a partial sum, when
    any chunk lacks the exact vsum stat."""
    import json as _json

    rows = [
        (0, "v", 10, _json.dumps({"vsum": 100})),
        (1, "v", 10, _json.dumps({})),  # no vsum → pushdown unavailable
    ]
    f = spark.createDataFrame(
        rows, "chunk_id long, column string, n_values long, "
              "stats_json string")
    vsum = F.get_json_object("stats_json", "$.vsum").cast("long")
    out = f.agg(F.when(F.count(F.lit(1)) == F.count(vsum),
                       F.sum(vsum)).alias("s"),
                F.sum("n_values").alias("n")).collect()[0]
    assert out.s is None and out.n == 20
    ok = f.filter(F.col("chunk_id") == 0).agg(
        F.when(F.count(F.lit(1)) == F.count(vsum),
               F.sum(vsum)).alias("s")).collect()[0]
    assert ok.s == 100


def test_prune_chunks_unknown_column_raises(spark):
    """A typo'd column name must raise, not silently prune every chunk
    (ADVICE round-2)."""
    import pytest

    from varint_rvv_spark.operators.decode import prune_chunks_multi
    from varint_rvv_spark.operators.encode import encode_chunks_scan
    from varint_rvv_spark.sources.pages import pages_df

    chunks = encode_chunks_scan(pages_df(spark, 100, seed=3,
                                         partitions=2)).cache()
    try:
        with pytest.raises(ValueError, match="no footer rows"):
            prune_chunks_multi(chunks, ranges={"wrac_ts": (0, None)})
    finally:
        chunks.unpersist()


@pytest.mark.parametrize("table", [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings"])
def test_every_testdata_table_roundtrips(spark, table):
    """Completeness net: EVERY driver testdata table — all column
    types in the corpus (ints, doubles, strings, timestamps,
    array<float>) — encodes, bit-identity-verifies, and decodes to
    the source row count."""
    from varint_rvv_spark.operators.decode import verify_roundtrip
    from varint_rvv_spark.operators.encode import encode_chunks

    df = spark.read.parquet(f"/root/testdata/sf0.001/{table}.parquet")
    chunks = encode_chunks(df, key_cols=[df.columns[0]],
                           num_chunks=4).cache()
    try:
        n, bad = verify_roundtrip(chunks)
        assert bad == 0 and n > 0  # tiny tables may fill < 4 chunks
        total = chunks.filter(
            F.col("column") == df.columns[0]).agg(
            F.sum("n_values")).collect()[0][0]
        assert total == df.count()
    finally:
        chunks.unpersist()
