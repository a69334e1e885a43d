"""Structured Streaming incremental-encode test: two file drops, one
checkpoint — second run encodes only the new files, chunks verify."""

import os

from pyspark.sql import functions as F

from varint_rvv_spark.operators.decode import verify_roundtrip
from varint_rvv_spark.sources.pages import PAGES_SCHEMA, pages_df
from varint_rvv_spark.streaming.encode_stream import (
    stream_encode_parquet_dir,
)


def test_stream_encode_incremental(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages_df(spark, 200, seed=3, partitions=2) \
        .write.mode("append").parquet(inp)
    q = stream_encode_parquet_dir(spark, inp, out, ckpt, PAGES_SCHEMA)
    q.awaitTermination(120)
    first = spark.read.parquet(f"{out}/chunks")
    n1 = first.agg(F.sum("n_values")).collect()[0][0]
    assert n1 == 200 * 5
    # drop more files; only the new ones are processed (checkpointed)
    pages_df(spark, 100, seed=4, partitions=1) \
        .write.mode("append").parquet(inp)
    q2 = stream_encode_parquet_dir(spark, inp, out, ckpt, PAGES_SCHEMA)
    q2.awaitTermination(120)
    allc = spark.read.parquet(f"{out}/chunks")
    n2 = allc.agg(F.sum("n_values")).collect()[0][0]
    assert n2 == (200 + 100) * 5
    n, bad = verify_roundtrip(allc)
    assert bad == 0
    # epoch-namespaced chunk ids never collide
    assert allc.select("chunk_id", "column").distinct().count() == \
        allc.count()
    # one table per store: no second footer table is written
    assert not os.path.exists(f"{out}/footer")


def test_streaming_stateful_dedup(spark, tmp_path):
    """applyInPandasWithState dedup: duplicates suppressed across
    micro-batches via the state store."""
    from varint_rvv_spark.streaming.stateful import streaming_exact_dedup

    src = str(tmp_path / "docs_in")
    ckpt = str(tmp_path / "dedup_ckpt")
    out = str(tmp_path / "dedup_out")
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha"), (4, "gamma")],
        schema).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        deduped = streaming_exact_dedup(
            stream, "text",
            "fingerprint string, doc_id long, text string",
            ["doc_id", "text"])
        q = (deduped.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    got1 = {r["text"]: r["doc_id"]
            for r in spark.read.parquet(out).collect()}
    assert got1 == {"alpha": 1, "beta": 2, "gamma": 4}
    # second drop: one new text, two cross-batch duplicates
    spark.createDataFrame(
        [(5, "alpha"), (6, "delta"), (7, "beta")],
        schema).write.mode("append").parquet(src)
    run_once()
    got2 = {r["text"]: r["doc_id"]
            for r in spark.read.parquet(out).collect()}
    assert got2 == {"alpha": 1, "beta": 2, "gamma": 4, "delta": 6}


def test_windowed_metrics_with_watermark(spark, tmp_path):
    """Watermarked windowed rollup over a footer-like stream."""
    import datetime as dt

    from varint_rvv_spark.streaming.encode_stream import (
        windowed_encode_metrics,
    )

    src_dir = str(tmp_path / "footer_stream")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [(base + dt.timedelta(seconds=10 * i), "lang", 100 + i, 10 + i)
            for i in range(30)]
    spark.createDataFrame(
        rows, "event_time timestamp, column string, raw_bytes long, "
              "encoded_bytes long").write.parquet(src_dir)
    stream = (spark.readStream
              .schema("event_time timestamp, column string, "
                      "raw_bytes long, encoded_bytes long")
              .parquet(src_dir))
    agg = windowed_encode_metrics(stream, window="1 minute",
                                  watermark="2 minutes")
    q = (agg.writeStream.format("memory").queryName("metrics")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM metrics ORDER BY window_start").collect()
    # 30 events at 10s spacing → 5 one-minute windows of 6 chunks each
    assert len(got) == 5
    assert all(r["n_chunks"] == 6 for r in got)
    assert got[0]["raw_bytes"] == sum(100 + i for i in range(6))


def test_simhash_expr_matches_batch_operator(spark):
    """functions.simhash60_expr (map-side array expr) equals the batch
    explode+groupBy simhash64 on real documents."""
    from varint_rvv_spark.functions import simhash60_expr
    from varint_rvv_spark.operators.dedup import simhash64

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .limit(50).cache())
    got = {r.doc_id: r.fp for r in
           docs.select("doc_id",
                       simhash60_expr("text").alias("fp")).collect()}
    want = {r.doc_id: r.simhash for r in
            simhash64(docs, "doc_id", "text").collect()}
    assert got == want


def test_streaming_simhash_neardup(spark, tmp_path):
    """Near-dup suppression across micro-batches with bounded state."""
    from varint_rvv_spark.functions import simhash60_expr
    from varint_rvv_spark.streaming.stateful import (
        streaming_simhash_neardup,
    )

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest tonight")
    rows1 = [(1, base), (2, base), (3, "completely different words "
              "about astronomy telescopes galaxies and quasars")]
    rows2 = [(4, base + " again"), (5, "totally novel content on "
              "cooking pasta with garlic butter and fresh basil")]
    schema = "doc_id long, text string"
    src = str(tmp_path / "nd_in")
    ckpt = str(tmp_path / "nd_ckpt")
    out = str(tmp_path / "nd_out")

    # expected: greedy by doc_id per prefix bucket, hamming<=3
    fps = {r.doc_id: (r.fp, r.fp >> 44) for r in
           spark.createDataFrame(rows1 + rows2, schema)
           .select("doc_id", simhash60_expr("text").alias("fp"))
           .collect()}

    def expected(batches):
        kept_by_bucket, out_ids, seen = {}, [], []
        for batch in batches:
            for did, _ in sorted(batch):
                fp, b = fps[did]
                kept = kept_by_bucket.setdefault(b, [])
                if any(bin(fp ^ k).count("1") <= 3 for k in kept):
                    continue
                kept.append(fp)
                out_ids.append(did)
        return sorted(out_ids)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (streaming_simhash_neardup(stream, "doc_id", "text")
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    spark.createDataFrame(rows1, schema).write.mode("append").parquet(src)
    run_once()
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(src)
    run_once()
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == expected([rows1, rows2])
    assert 1 in got and 2 not in got  # exact dup suppressed in-batch
    assert 4 not in got               # near-dup suppressed cross-batch


def test_stream_chunks_compact_roundtrip(spark, tmp_path):
    """The full incremental-ingest story: stream-encode micro-batches,
    then the compaction maintenance job rolls the per-batch chunk sets
    into target-size chunks that still verify and decode identically."""
    from varint_rvv_spark.operators.compact import compact_chunks

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    for seed in (11, 12, 13):
        pages_df(spark, 120, seed=seed, partitions=2) \
            .write.mode("append").parquet(inp)
        q = stream_encode_parquet_dir(spark, inp, out, ckpt,
                                      PAGES_SCHEMA)
        q.awaitTermination(120)
    small = spark.read.parquet(f"{out}/chunks")
    n_small = small.select("chunk_id").distinct().count()
    assert n_small >= 3  # at least one chunk set per micro-batch
    compacted = compact_chunks(small, target_bytes=64 << 20).cache()
    assert compacted.select("chunk_id").distinct().count() < n_small
    n, bad = verify_roundtrip(compacted)
    assert bad == 0 and n > 0
    assert compacted.agg(F.sum("n_values")).collect()[0][0] == \
        small.agg(F.sum("n_values")).collect()[0][0]
    compacted.unpersist()


def test_streaming_sessionize(spark, tmp_path):
    """Cross-batch gap sessionization: a session closes exactly once,
    when a later event (same or later micro-batch) exceeds the gap."""
    from datetime import datetime

    from varint_rvv_spark.streaming.stateful import streaming_sessionize

    def ts(m):
        return datetime(2024, 1, 1, 0, m)

    src = str(tmp_path / "sess_in")
    ckpt = str(tmp_path / "sess_ckpt")
    out = str(tmp_path / "sess_out")
    schema = "uid long, ts timestamp"
    # batch 1: user 1 has two close events; user 2 has two sessions
    # already separated inside the batch (the first closes immediately)
    spark.createDataFrame(
        [(1, ts(0)), (1, ts(5)), (2, ts(0)), (2, ts(50))],
        schema).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        sess = streaming_sessionize(
            stream, "uid", "ts", gap_s=30 * 60,
            output_schema="uid long, session_start_us long, "
                          "session_end_us long, n_events long")
        q = (sess.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    got1 = sorted(map(tuple, spark.read.parquet(out).collect()))
    base = 1704067200000000  # 2024-01-01 00:00 UTC in epoch-us
    m = 60_000_000
    assert got1 == [(2, base, base, 1)]  # only user 2's first closed
    # batch 2: user 1's late event closes the open (0-5 min) session
    spark.createDataFrame([(1, ts(59))], schema) \
        .write.mode("append").parquet(src)
    run_once()
    got2 = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got2 == [(1, base, base + 5 * m, 2), (2, base, base, 1)]
