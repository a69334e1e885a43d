"""Physical-plan shape assertions (SURVEY.md §4): the plans we ship are
the plans we designed — shuffle counts, broadcasts, pushdown, pruning.
"""

import pytest
from pyspark.sql import functions as F

from varint_rvv_spark.operators.decode import verify_chunks
from varint_rvv_spark.operators.encode import (
    encode_chunks,
    encode_chunks_scan,
)
from varint_rvv_spark.sources.pages import pages_df


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pages(spark):
    df = pages_df(spark, 200, seed=5, partitions=2)
    df.cache().count()
    return df


def test_scan_encode_has_no_shuffle(spark, pages):
    plan = plan_of(encode_chunks_scan(pages))
    assert "Exchange" not in plan


def test_hash_encode_has_exactly_one_shuffle(spark, pages):
    plan = plan_of(encode_chunks(pages, key_cols=["url"], num_chunks=4))
    assert plan.count("Exchange") == 1


def test_decode_verify_has_no_shuffle(spark, pages):
    chunks = encode_chunks_scan(pages)
    plan = plan_of(verify_chunks(chunks))
    assert "Exchange" not in plan


def test_resume_antijoin_is_broadcast(spark, pages):
    footer = spark.createDataFrame([(0, 4)], "chunk_id long, num_chunks long")
    df = encode_chunks(pages, key_cols=["url"], num_chunks=4,
                       done_footer=footer)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_tpch_q3_broadcasts_customer(spark):
    from varint_rvv_spark.queries import tpch_q3_shipping

    plan = plan_of(tpch_q3_shipping(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = (spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
          .filter(F.col("l_quantity") < 10).select("l_orderkey"))
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity" \
        in plan
    # column pruning: scan schema carries only the two needed columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[1][:200]


def test_word_shingles_is_map_side(spark):
    """Shingle building must not shuffle or sort the token stream."""
    from varint_rvv_spark.operators.dedup import word_shingles

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(word_shingles(docs, "doc_id", "text", k=3))
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "Sort" not in plan


def test_roundtrip_has_exactly_one_shuffle(spark):
    """encode → contiguous decode: the encode repartition is the ONLY
    Exchange in the whole round-trip plan."""
    from varint_rvv_spark.operators.decode import decode_table
    from varint_rvv_spark.queries import TABLE_SCHEMAS

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    chunks = encode_chunks(df, key_cols=["doc_id"], num_chunks=4)
    out = decode_table(chunks, df.columns, TABLE_SCHEMAS["documents"],
                       contiguous=True)
    assert plan_of(out).count("Exchange") == 1


def test_chunk_column_partition_pruning(spark, pages, tmp_path):
    from varint_rvv_spark.sources.tables import read_chunks, write_encoded

    root = str(tmp_path / "enc")
    write_encoded(encode_chunks_scan(pages), root, mode="overwrite")
    pruned = read_chunks(spark, root, columns=["lang"])
    plan = plan_of(pruned)
    # partition filter on the `column` dir key, not a post-scan filter
    assert "PartitionFilters" in plan and "column" in plan

def test_scan_resume_skip_is_broadcast_join_no_shuffle(spark, pages):
    """Scan-mode resume skips done chunks via a broadcast left_anti
    join (no driver collect of chunk ids, no shuffle): the whole plan's
    only Exchange is the broadcast of the done-id set."""
    df = encode_chunks_scan(pages, rows_per_chunk=128,
                            done_chunk_ids=[0, 1_000_000])
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert plan.count("Exchange") == plan.count("BroadcastExchange")


def test_embeddings_roundtrip_has_exactly_one_shuffle(spark):
    """Array-column round-trip keeps the one-Exchange shape of the
    other rt_* queries (encode repartition only; contiguous decode)."""
    from varint_rvv_spark.operators.decode import decode_table
    from varint_rvv_spark.operators.encode import encode_chunks
    from varint_rvv_spark.queries import TABLE_SCHEMAS

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    chunks = encode_chunks(df, key_cols=["vec_id"], num_chunks=4)
    out = decode_table(chunks, df.columns, TABLE_SCHEMAS["embeddings"],
                       contiguous=True)
    assert plan_of(out).count("Exchange") == 1


def test_prune_plan_has_no_join_or_exchange(spark, pages, tmp_path):
    """prune_chunks_multi decides on the driver, so the pruned plan is
    the chunk scan plus at most an id filter — no join, no exchange —
    for one predicate and for several; scan_encoded's kept ids reach
    the parquet scan as a pushed filter.  The store frame is derived
    (`.select("*")`) so scan_encoded takes the Spark path: over the
    untransformed `read_chunks` frame it decodes on the driver."""
    import re

    from varint_rvv_spark.operators.decode import (
        prune_chunks_multi,
        scan_encoded,
    )
    from varint_rvv_spark.sources.tables import read_chunks, write_encoded

    chunks = encode_chunks_scan(pages, rows_per_chunk=50).cache()
    try:
        for kw in ({"eq": {"lang": "en"}},
                   {"eq": {"lang": "en"},
                    "ranges": {"warc_ts": (0, None)}},
                   {"eq": {"url": "no such url"}}):
            plan = plan_of(prune_chunks_multi(chunks, **kw))
            assert "Join" not in plan and "Exchange" not in plan, \
                (kw, plan)
        root = str(tmp_path / "enc")
        write_encoded(chunks, root, mode="overwrite")
    finally:
        chunks.unpersist()
    target = pages.agg(F.max("url")).collect()[0][0]
    derived = read_chunks(spark, root).select("*")
    d = scan_encoded(derived, ["url", "lang"], "url string, lang string",
                     eq={"url": target})
    # one id collapses In(...) to EqualTo(...)
    assert re.search(r"PushedFilters: \[[^\]]*(In|EqualTo)\(chunk_id",
                     plan_of(d)), plan_of(d)
    assert [r.url for r in d.collect()] == [target]


def test_compact_assignment_join_is_broadcast(spark, pages):
    """compact_chunks: bin assignment (footer metadata) broadcasts to
    the payload side; the only wide shuffle is the grouped re-encode."""
    from varint_rvv_spark.operators.compact import compact_chunks

    chunks = encode_chunks_scan(pages).cache()
    try:
        plan = plan_of(compact_chunks(chunks, target_bytes=1 << 20))
        assert "BroadcastHashJoin" in plan
        # wide exchanges: the groupBy(bin) that co-locates payload
        # bytes (compaction's defining data motion) plus two
        # metadata-scale ones (per-chunk size agg, bin window) that
        # never see payloads — payload columns must not appear in
        # more than the one co-location exchange
        wide = plan.count("Exchange") - plan.count("BroadcastExchange")
        assert wide <= 3, plan
    finally:
        chunks.unpersist()


def test_span_dup_coverage_shingles_stay_map_side(spark):
    """span_dup_coverage: shingle construction must not shuffle —
    the first exchange in the plan is the groupBy(shingle) partial
    aggregate, so everything upstream is scan-side compute."""
    from varint_rvv_spark.operators.dedup import span_dup_coverage

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "c d e f g")], "doc_id long, text string")
    plan = plan_of(span_dup_coverage(df, "doc_id", "text"))
    # partial aggregation before every exchange (map-side combine)
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "Generate explode" in plan or "Generate" in plan
    # shingle explode happens below (before) the first exchange
    first_exchange = plan.index("Exchange")
    assert "Generate" in plan[first_exchange:], \
        "explode must feed the aggregate without a pre-shuffle"
