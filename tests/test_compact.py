"""Chunk compaction (operators/compact.py)."""

import pytest
from pyspark.sql import functions as F

from varint_rvv_spark.operators.compact import compact_chunks
from varint_rvv_spark.operators.decode import (
    decode_table,
    verify_roundtrip,
)
from varint_rvv_spark.operators.encode import encode_chunks_scan
from varint_rvv_spark.queries import TABLE_SCHEMAS

EVENTS = "/root/testdata/sf0.001/events.parquet"


def test_compact_reduces_chunk_count_same_answer(spark):
    df = spark.read.parquet(EVENTS)
    small = encode_chunks_scan(df, rows_per_chunk=64).cache()
    n_small = small.select("chunk_id").distinct().count()
    compacted = compact_chunks(small, target_bytes=256 << 10).cache()
    n_big = compacted.select("chunk_id").distinct().count()
    assert n_big < n_small / 4  # actually rolled up

    def agg(ch):
        d = decode_table(ch, df.columns, TABLE_SCHEMAS["events"],
                         contiguous=True)
        return tuple(d.agg(F.count("*"), F.sum("event_id"),
                           F.round(F.sum("value"), 4),
                           F.min(F.unix_micros("ts")),
                           F.max(F.unix_micros("ts"))).collect()[0])

    assert agg(compacted) == agg(small)
    # compacted chunks are first-class: bit-identity verify passes on
    # the re-encoded payloads + fresh footer hashes
    n, bad = verify_roundtrip(compacted)
    assert bad == 0 and n > 0
    small.unpersist()
    compacted.unpersist()


def test_compact_single_bin_when_target_huge(spark):
    df = spark.read.parquet(EVENTS).limit(500)
    small = encode_chunks_scan(df, rows_per_chunk=50).cache()
    compacted = compact_chunks(small, target_bytes=1 << 30)
    assert compacted.select("chunk_id").distinct().count() == 1
    small.unpersist()


def test_compact_fresh_footer_stats(spark):
    """Re-encoded chunks get fresh zone maps / eq stats, so pruning
    works on the compacted set."""
    from varint_rvv_spark.operators.decode import prune_chunks_multi

    df = spark.read.parquet(EVENTS).orderBy("ts")
    small = encode_chunks_scan(df, rows_per_chunk=32).cache()
    compacted = compact_chunks(small, target_bytes=8 << 10).cache()
    total = compacted.select("chunk_id").distinct().count()
    lo, hi = 1704844800000000, 1705449600000000
    kept = (prune_chunks_multi(compacted, ranges={"ts": (lo, hi)})
            .select("chunk_id").distinct().count())
    assert 0 < kept < total
    small.unpersist()
    compacted.unpersist()


def test_compact_rejects_bad_target(spark):
    df = spark.read.parquet(EVENTS).limit(10)
    ch = encode_chunks_scan(df, rows_per_chunk=10)
    with pytest.raises(ValueError, match="target_bytes"):
        compact_chunks(ch, target_bytes=0)
