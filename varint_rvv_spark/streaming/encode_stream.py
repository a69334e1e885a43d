"""Structured Streaming incremental encode.

The batch engine's encode is a pure function of its input batch, so the
streaming form is `readStream → foreachBatch(encode → append)` with the
stream checkpoint *plus* the chunks table giving exactly-once chunk
accounting:

* Spark's checkpointLocation dedupes input batches (source offsets);
* chunk ids are data-deterministic within a micro-batch (epoch id ×
  partition ordinal), so a replayed batch overwrites identically.

Also provides a watermarked windowed rollup over the footer stream —
the late-data pattern for monitoring encode throughput per window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.encode import encode_chunks_scan


def stream_encode_parquet_dir(spark: SparkSession, input_dir: str,
                              output_root: str, checkpoint: str,
                              schema: str,
                              available_now: bool = True):
    """Incrementally encode new parquet files landing in input_dir.

    Returns the started StreamingQuery.  Chunk ids are namespaced by
    micro-batch epoch so appends never collide; the chunks table under
    ``<output_root>/chunks`` is the one resume/metrics source of truth
    (its footer is that table without payloads, ``footer_of``).
    """
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "64")
           .parquet(input_dir))

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # chunk ids namespaced per epoch (bit-shifted: scan-mode ids are
        # pid*1e6+ordinal < 2^40 for any real partition count), and
        # each epoch written to its own subdirectory with overwrite —
        # a replayed epoch (worker death between write and checkpoint
        # commit) overwrites byte-identically instead of appending
        # duplicates: idempotent, not just at-least-once.
        chunks = encode_chunks_scan(batch_df)
        chunks = chunks.withColumn(
            "chunk_id",
            F.col("chunk_id") + F.lit(int(epoch_id) << 40))
        (chunks.write.mode("overwrite").partitionBy("column")
         .parquet(f"{output_root}/chunks/epoch={int(epoch_id)}"))

    writer = (src.writeStream.foreachBatch(sink)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_encode_metrics(footer_stream: DataFrame,
                            ts_col: str = "event_time",
                            window: str = "1 minute",
                            watermark: str = "2 minutes") -> DataFrame:
    """Watermarked per-window rollup of encode metrics (late data safe)."""
    return (footer_stream
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("w"), "column")
            .agg(F.count("*").alias("n_chunks"),
                 F.sum("raw_bytes").alias("raw_bytes"),
                 F.sum("encoded_bytes").alias("encoded_bytes"))
            .select(F.col("w.start").alias("window_start"), "column",
                    "n_chunks", "raw_bytes", "encoded_bytes"))
