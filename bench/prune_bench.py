"""Pruning-benefit microbench → BENCH/PRUNING.md.

Measures what the footer statistics actually buy at query time on the
sf0.1 tables: decode wall-clock and chunks touched, pruned vs
unpruned, for the three pruning families added in round 3 —
bloom point lookup, dvset equality, and Z-order 2-D box — plus the
footer-only percentile (which decodes nothing at all).

Methodology matches BENCH discipline: solo run, one warm-up pass,
min-of-reps timing, chunk stores materialized to parquet so only the
read side is measured.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.1"
REPS = 3
# >=512 chunks: at 64-82 chunks the fixed ~1.5 s job overhead floors
# the measured ratios; with a 512-chunk store the speedup tracks the
# chunks-kept fraction (VERDICT r3 #7)
N_CHUNKS = 512
# data volume must dwarf the ~0.7 s fixed per-job overhead or the
# measured ratios floor well below the bytes-skipped ratio
N_PAGES = 480000
ROWS_PER = N_PAGES // N_CHUNKS


def timed(fn):
    fn()  # warm-up
    best = float("inf")
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    from pyspark.sql import functions as F

    from varint_rvv_spark.operators.decode import (
        decode_table,
        prune_chunks_eq,
        prune_chunks_multi,
        push_chunk_filter,
    )
    from varint_rvv_spark.operators.encode import (
        encode_chunks,
        encode_chunks_range,
        encode_chunks_zorder,
    )
    from varint_rvv_spark.operators.footer_stats import footer_percentile
    from varint_rvv_spark.plans.session import get_spark
    from varint_rvv_spark.sources.tables import ROWGROUP_BYTES

    # 480k full-body pages decoded across 32 tasks outgrow the 8g
    # default heap (single-JVM local mode carries every "executor")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    spark = get_spark(app="prune-bench", master="local[32]",
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    rows = []

    def materialize(chunks, name):
        """Chunk sets live in a parquet store in real deployments —
        time the decode from disk, not from an in-memory cache (Arrow
        string vectors in the block cache also cannot serve the
        prune join's row accessors)."""
        out = f"/tmp/vrs_prune_{name}_{N_PAGES}_{N_CHUNKS}"
        # sorted by chunk_id inside each file: parquet row groups stay
        # id-clustered, so a pushed chunk_id IN (...) filter skips
        # payload bytes on disk.  Stores are content-addressed by the
        # bench params and reused across runs (the encode side is
        # excluded from timing anyway).
        if not Path(f"{out}/_SUCCESS").exists():
            # 16 MB row groups (what write_encoded writes): chunk_id IN
            # pruning skips at row-group granularity, and the default
            # 128 MB blocks pack ~100 chunks per group on few-partition
            # range/zorder stores — a 7-chunk read then drags in whole
            # groups (measured 2.3 s vs 0.6 s)
            chunks.sortWithinPartitions("chunk_id") \
                .write.option("parquet.block.size", str(ROWGROUP_BYTES)) \
                .mode("overwrite").parquet(out)
        return spark.read.parquet(out)

    def n_chunks(ch):
        return ch.select("chunk_id").distinct().count()

    def add(name, chunks, pruned, cols, schema, residual):
        pruned = push_chunk_filter(chunks, pruned)

        def run(ch):
            # store-read chunks may be split across scan partitions,
            # so the grouped (one-shuffle) decode is the correct path
            # (decode_table's documented sink-read contract)
            d = decode_table(ch, cols, schema, contiguous=False)
            return residual(d).count()

        t_full = timed(lambda: run(chunks))
        t_pruned = timed(lambda: run(pruned))
        rows.append((name, n_chunks(chunks), n_chunks(pruned),
                     t_full, t_pruned))

    # pruning pays in proportion to the payload it skips, so the
    # realistic subject is the pages table (html/text bodies — the
    # corpus shape the engine exists for), not the thin demo tables
    from varint_rvv_spark.sources.pages import pages_df

    ppath = f"/tmp/vrs_bench_pages_{N_PAGES}"  # bench.py naming
    if not Path(f"{ppath}/_SUCCESS").exists():
        pages_df(spark, N_PAGES, seed=42,
                 partitions=max(96, N_PAGES // 4096)) \
            .write.mode("overwrite").parquet(ppath)
    pages = spark.read.parquet(ppath)
    PCOLS = ["url", "warc_ts", "html", "text", "lang"]
    PSCHEMA = ("url string, warc_ts timestamp, html binary, text string, "
               "lang string")

    # 1. bloom point lookup by url → decode ~1 chunk of bodies
    target = pages.agg(F.max("url")).collect()[0][0]
    ch1 = materialize(encode_chunks(pages, key_cols=["url"],
                                    num_chunks=N_CHUNKS), "ch1")
    add("bloom point lookup (url = <one page>), full bodies",
        ch1, prune_chunks_eq(ch1, "url", target),
        PCOLS, PSCHEMA, lambda d: d.filter(F.col("url") == target))

    # 2. dvset equality on a range-clustered categorical
    ch2 = materialize(encode_chunks_range(pages, ["lang"],
                                          num_partitions=8,
                                          rows_per_chunk=ROWS_PER), "ch2")
    lang = pages.agg(F.min("lang")).collect()[0][0]
    add(f"dvset equality (lang = '{lang}', clustered), full bodies",
        ch2, prune_chunks_eq(ch2, "lang", lang),
        PCOLS, PSCHEMA, lambda d: d.filter(F.col("lang") == lang))

    # 3. Z-order 2-D box on pages (crawl-time x document length)
    pz = (pages.withColumn("ts_us", F.unix_micros("warc_ts"))
          .withColumn("text_len", F.length("text"))
          .select("url", "ts_us", "text_len", "html", "text"))
    ch3 = materialize(encode_chunks_zorder(pz, ["ts_us", "text_len"],
                                           num_partitions=8,
                                           rows_per_chunk=ROWS_PER), "ch3")
    mm = pz.agg(F.min("ts_us"), F.max("ts_us"),
                F.expr("percentile(text_len, 0.9)")).collect()[0]
    t_lo = int(mm[0])
    t_hi = int(mm[0] + (mm[1] - mm[0]) * 0.1)  # first 10% of the crawl
    len_lo = int(mm[2])                        # longest-decile docs
    # one footer pass for both box predicates (the scan_encoded path)
    # instead of two chained prune_chunks metadata rounds
    pr3 = prune_chunks_multi(ch3, ranges={"ts_us": (t_lo, t_hi),
                                          "text_len": (len_lo, None)})
    add("z-order 2-D box (first 10% of crawl x longest decile), bodies",
        ch3, pr3, pz.columns,
        "url string, ts_us long, text_len int, html binary, text string",
        lambda d: d.filter(F.col("ts_us").between(t_lo, t_hi)
                           & (F.col("text_len") >= len_lo)))

    # 3b. top-k pushdown: "latest 1000 pages with bodies" on a
    # ts-clustered store — footer_topk decodes only the chunks whose
    # zone maps can contain the k-th timestamp
    from varint_rvv_spark.operators.footer_stats import footer_topk

    pt = (pages.withColumn("ts_us", F.unix_micros("warc_ts"))
          .select("url", "ts_us", "html", "text"))
    ch6 = materialize(encode_chunks_range(pt, ["ts_us"],
                                          num_partitions=8,
                                          rows_per_chunk=ROWS_PER),
                      "ch6")
    TS_SCHEMA = "url string, ts_us long, html binary, text string"

    def topk_full():
        return (decode_table(ch6, pt.columns, TS_SCHEMA,
                             contiguous=False)
                .orderBy(F.desc("ts_us"), "url").limit(1000)
                .agg(F.count(F.lit(1))).collect())

    def topk_pruned():
        cand = footer_topk(ch6, "ts_us", 1000, pt.columns, TS_SCHEMA)
        return (cand.orderBy(F.desc("ts_us"), "url").limit(1000)
                .agg(F.count(F.lit(1))).collect())

    t_topk_full = timed(topk_full)
    t_topk_pruned = timed(topk_pruned)
    n_topk_cand = (footer_topk(ch6, "ts_us", 1000, pt.columns,
                               TS_SCHEMA)
                   .groupBy().count().collect()[0][0] + ROWS_PER - 1) \
        // ROWS_PER
    rows.append(("top-1000 latest pages (footer_topk, ts-clustered), "
                 "bodies", n_chunks(ch6), n_topk_cand,
                 t_topk_full, t_topk_pruned))

    # 4. footer-only percentile vs decode + percentile_approx —
    # small store (events, ~0.6M rows) and a 40M-row numeric store:
    # the footer path is constant in store size, the decode path is
    # O(rows), so the big store shows the crossover
    ch4 = materialize(encode_chunks(
        spark.read.parquet(f"{SF_DIR}/events.parquet"),
        key_cols=["event_id"], num_chunks=64), "ch4")
    t_footer = timed(lambda: footer_percentile(
        ch4, "value", [0.5, 0.9]).collect())
    t_decode = timed(lambda: decode_table(
        ch4, ["value"], "value double", contiguous=False)
        .agg(F.percentile_approx("value", [0.5, 0.9])).collect())

    N_BIG = 40_000_000
    big = (spark.range(N_BIG)
           .withColumn("value", ((F.col("id") * 2654435761)
                                 % 1_000_003).cast("double")))
    ch5 = materialize(encode_chunks(big, key_cols=["id"],
                                    num_chunks=2048), "ch5")
    t_footer_big = timed(lambda: footer_percentile(
        ch5, "value", [0.5, 0.9]).collect())
    t_decode_big = timed(lambda: decode_table(
        ch5, ["value"], "value double", contiguous=False)
        .agg(F.percentile_approx("value", [0.5, 0.9])).collect())

    lines = [
        "# BENCH/PRUNING — what the footer statistics buy at read time",
        "",
        f"{N_PAGES:,} pages (~{N_PAGES * 13 / 1e6:.1f} GB raw) in "
        f"{N_CHUNKS}-chunk stores + sf0.1 events; local[32], "
        f"min-of-{REPS} reps after a warm-up pass;",
        "chunk stores materialized to parquet (encode excluded) — "
        "decode-side wall only.",
        "",
        "| scenario | chunks | kept | full decode s |"
        " pruned decode s | speedup | ideal (total/kept) |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, total, kept, tf, tp in rows:
        lines.append(f"| {name} | {total} | {kept} | {tf:.3f} |"
                     f" {tp:.3f} | {tf / tp:.1f}x |"
                     f" {total / max(kept, 1):.0f}x |")
    lines += [
        "",
        f"Footer-only percentile (p50/p90) vs decode + "
        f"percentile_approx:",
        "",
        "| store | footer-only s | decode path s | speedup |",
        "|---|---|---|---|",
        f"| events, ~0.6M rows | {t_footer:.3f} | {t_decode:.3f} "
        f"| {t_decode / t_footer:.1f}x |",
        f"| synthetic numeric, 40M rows / 2048 chunks "
        f"| {t_footer_big:.3f} | {t_decode_big:.3f} "
        f"| {t_decode_big / t_footer_big:.1f}x |",
        "",
        "The footer path costs one materialized metadata pass "
        "(O(chunks) footer rows — localCheckpoint barrier, round 4) "
        "plus a fixed multi-stage plan overhead, while the decode "
        "path is O(rows); the row/chunk ratio (~20k here, ~64 MB of "
        "payload per footer row in production) sets how fast the "
        "decode side falls behind as the store grows.  Round 5's "
        "skew-proof rank-uniform buckets add ~0.6 s of fixed cost "
        "(one bounded percentile_approx edge aggregate + an "
        "interpreted counting lambda), moving the toy-scale "
        "crossover out from ~40M rows — the deliberate trade: the "
        "r4 equal-width grid was cheaper here but collapsed to a "
        "single window partition on heavy-tailed columns, which at "
        "100 TB is a job-killer rather than a 0.6 s constant.",
        "",
        "Selective prunes are re-pushed as a `chunk_id IN (...)` scan "
        "filter (decode.push_chunk_filter), so parquet row-group "
        "statistics skip the payload *bytes*, not just the decode — "
        "without it the semi-join form reads every byte and only "
        "saves kernel time (measured 2.0x -> 2.9x on the point "
        "lookup).",
        "",
        "Measured speedup = full / (kept-bytes + fixed job "
        "overhead): the pruned side pays a ~0.5-0.8 s floor of "
        "driver/scan turnarounds regardless of how little it "
        "decodes, so the measured column approaches the ideal "
        "(total/kept) column only as the store grows.  The ideal "
        "column is the 100 TB-relevant number: pruning cost is "
        "O(chunks) footer metadata + a bounded id collect, while "
        "the avoided work is O(data) I/O + decode.",
    ]
    Path(f"{REPO}/BENCH/PRUNING.md").write_text("\n".join(lines) + "\n")
    print("\n".join(lines))
    spark.stop()


if __name__ == "__main__":
    main()
