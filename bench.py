"""Per-round benchmark: headline queries + encode/decode throughput.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "encode_gbps": ..., "decode_gbps": ..., "bytes_per_doc": ...}

The encode/decode passes run over the deterministic synthetic pages
table (BASELINE.json input_hint shape) — the same job used for the
two-parallelism scaling evidence in BENCH/BASELINE.md (run via
bench/run_scaling.py).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_PAGES = int(os.environ.get("SPARK_GRAFT_PAGES", "40000"))

HEADLINE = ["tpch_q1", "tpch_q3_shipping", "tpch_q6_revenue",
            "rt_lineitem_q1", "rt_documents_by_lang",
            "dedup_exact_documents", "dedup_minhash_lsh",
            "text_token_counts", "embedding_topk_cosine",
            "window_order_rank", "events_daily",
            # r5 hygiene family (keys only ADD to the suite — earlier
            # keys stay round-over-round comparable)
            "decontaminate_documents", "repetition_stats_documents"]


def pages_parquet(spark, n_pages: int) -> str:
    """Materialize the deterministic pages table once as local parquet."""
    import os as _os

    from varint_rvv_spark.sources.pages import pages_df

    path = f"/tmp/vrs_bench_pages_{n_pages}"
    if not _os.path.exists(f"{path}/_SUCCESS"):
        # partition count fixed by n (not CPUS) so every parallelism
        # level scans byte-identical files; many small files so scan
        # parallelism is never the bottleneck (on a real cluster the
        # input is thousands of splits)
        pages_df(spark, n_pages, seed=42,
                 partitions=max(96, n_pages // 4096)) \
            .write.mode("overwrite").parquet(path)
    return path


def bench_pages(spark) -> dict:
    """Encode+decode throughput over the synthetic pages table.

    Scan(parquet) → encode → footer agg, then decode+verify from cached
    chunks.  One untimed warm-up pass first (JIT, python-worker spin-up,
    allocator warm-up) — steady state is what a long 100 TB job sees.
    """
    from pyspark.sql import functions as F

    from varint_rvv_spark.operators.decode import (
        decode_only,
        verify_roundtrip,
    )
    from varint_rvv_spark.operators.encode import (
        encode_chunks,
        encode_chunks_scan,
    )
    num_chunks = max(CPUS * 2, N_PAGES * 13000 // (32 << 20))
    pages = spark.read.parquet(pages_parquet(spark, N_PAGES))

    def encode_pass():
        """Streaming-pass encode (scan → kernel, no shuffle)."""
        ch = encode_chunks_scan(pages)
        ch.cache()
        agg = ch.agg(F.sum("raw_bytes").alias("raw"),
                     F.sum("encoded_bytes").alias("enc")).collect()[0]
        return ch, agg

    warm, agg = encode_pass()                    # warm-up encode
    n, bad = verify_roundtrip(warm)              # bit-identity gate
    if bad:
        raise AssertionError(f"decode mismatch on {bad}/{n} chunks")
    decode_only(warm).agg(F.sum("n_values")).collect()  # warm decode
    warm.unpersist()

    # min-of-R timed passes: this host has noisy-neighbor variance,
    # best-of reflects the engine rather than the neighbors
    # 3 reps: round-2's apparent encode regression (2.32 s vs 1.58 s)
    # was pure host noise — a solo min-of-3 run measured 0.883 s.
    # The pages passes get 5 by default: they are the headline
    # GB/s numbers and still drifted ±50% across JVMs at R=3
    reps = int(os.environ.get(
        "SPARK_GRAFT_PAGES_REPS",
        os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))
    t_encode = float("inf")
    chunks = None
    for _ in range(reps):
        if chunks is not None:
            chunks.unpersist()
        t0 = time.perf_counter()
        chunks, agg = encode_pass()
        t_encode = min(t_encode, time.perf_counter() - t0)

    t_decode = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        decode_only(chunks).agg(F.sum("n_values")).collect()
        t_decode = min(t_decode, time.perf_counter() - t0)

    # clustered (hash/shuffle) encode for comparison — the path used
    # when explicit co-clustering or salting is worth one shuffle
    t_encode_shuffle = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        encode_chunks(pages, key_cols=["url"], num_chunks=num_chunks) \
            .agg(F.sum("encoded_bytes")).collect()
        t_encode_shuffle = min(t_encode_shuffle, time.perf_counter() - t0)

    raw = int(agg["raw"])
    enc = int(agg["enc"])
    chunks.unpersist()
    return {
        "pages": N_PAGES, "raw_bytes": raw, "encoded_bytes": enc,
        "num_chunks": num_chunks,
        "encode_sec": round(t_encode, 3), "decode_sec": round(t_decode, 3),
        "encode_shuffle_sec": round(t_encode_shuffle, 3),
        "encode_shuffle_gbps": round(raw / t_encode_shuffle / 1e9, 3),
        "encode_gbps": round(raw / t_encode / 1e9, 3),
        "decode_gbps": round(raw / t_decode / 1e9, 3),
        "bytes_per_doc": round(enc / N_PAGES, 1),
        "compression_ratio": round(raw / enc, 3),
    }


_STORE_VERSION = "r5"  # bump when the chunk store format changes


def bench_ops(spark) -> dict:
    """Operator-family N→4N scaling stages (VERDICT r4 #7): MinHash
    signature compute (the map-side front half of the dedup pipeline,
    pure JVM expressions) and a zone-map pruned range read that
    decodes ~half the store (url+warc_ts+text — real decode volume,
    so the number measures the engine, not the pruning turnaround
    floor).  Inputs are deterministic and shared across parallelism
    levels (the encoded store is built once per format version)."""
    import os as _os

    from pyspark.sql import functions as F

    from varint_rvv_spark.operators.decode import scan_encoded
    from varint_rvv_spark.operators.dedup import (
        minhash_signatures_from_array,
        word_shingle_array,
    )
    from varint_rvv_spark.operators.encode import encode_chunks_range
    from varint_rvv_spark.sources.tables import read_chunks, write_encoded

    reps = int(_os.environ.get(
        "SPARK_GRAFT_OPS_REPS",
        _os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    pages = spark.read.parquet(pages_parquet(spark, N_PAGES))
    # deterministic 1/frac slice for the md5-heavy minhash stage —
    # identical rows at every parallelism level (hash filter, not
    # limit), sized so a 160k-page ladder stays tractable
    frac = int(_os.environ.get("SPARK_GRAFT_OPS_FRACTION", "8"))
    mh_in = pages.filter(F.pmod(F.xxhash64("url"), F.lit(frac)) == 0)
    raw_text = int(mh_in.agg(
        F.sum(F.octet_length("text"))).collect()[0][0])

    def mh():
        arr = word_shingle_array(mh_in, "url", "text", 3)
        sig = minhash_signatures_from_array(arr, "url", 16)
        return sig.agg(F.count(F.lit(1)), F.sum("mh0")).collect()

    mh()  # warm
    t_mh = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        mh()
        t_mh = min(t_mh, time.perf_counter() - t0)

    store = f"/tmp/vrs_scaling_store_{N_PAGES}"
    marker = f"{store}/.version_{_STORE_VERSION}"
    if not _os.path.exists(marker):
        ch = encode_chunks_range(pages, ["warc_ts"], num_partitions=8,
                                 rows_per_chunk=2048)
        write_encoded(ch, store, mode="overwrite")
        open(marker, "w").write(_STORE_VERSION)
    chunks = read_chunks(spark, store)
    b = pages.agg(F.min(F.unix_micros("warc_ts")).alias("lo"),
                  F.max(F.unix_micros("warc_ts")).alias("hi")).head()
    span = b.hi - b.lo
    lo, hi = b.lo + span * 1 // 20, b.lo + span * 19 // 20
    sel = pages.filter(F.unix_micros("warc_ts").between(lo, hi)).agg(
        F.sum(F.octet_length("text") + F.octet_length("url")
              + F.octet_length("html") + F.octet_length("lang")
              + F.lit(8)).alias("nb"),
        F.count(F.lit(1)).alias("n")).head()

    def pruned():
        d = scan_encoded(
            chunks, ["url", "warc_ts", "html", "text", "lang"],
            "url string, warc_ts timestamp, html binary, "
            "text string, lang string",
            ranges={"warc_ts": (lo, hi)})
        return d.agg(F.count(F.lit(1))).head()[0]

    n_sel = pruned()  # warm
    assert n_sel == sel.n, (n_sel, sel.n)
    t_pr = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        pruned()
        t_pr = min(t_pr, time.perf_counter() - t0)
    return {
        "minhash_sec": round(t_mh, 3),
        "minhash_gbps": round(raw_text / t_mh / 1e9, 4),
        "pruned_sec": round(t_pr, 3),
        "pruned_gbps": round(int(sel.nb) / t_pr / 1e9, 4),
        "pruned_rows": int(n_sel),
    }


def main() -> None:
    from varint_rvv_spark.plans.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark(app="varint_rvv_spark-bench",
                      master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    # untimed warm-up: touch every input table and spin the python
    # workers once, so per-query numbers reflect the *plans* rather
    # than JVM JIT / python-worker cold start (a 100 TB job is always
    # warm; round-1 numbers folded ~3s of cold start into tpch_q1)
    for t in ["region", "nation", "customer", "orders", "lineitem",
              "documents", "events", "embeddings"]:
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
    # spin every python worker through a real (tiny) encode so the
    # package + numpy/pyarrow imports happen in the warm-up, not
    # inside the first rt_* query's number
    from varint_rvv_spark.operators.encode import encode_chunks_scan
    from varint_rvv_spark.sources.pages import pages_df

    encode_chunks_scan(pages_df(spark, 4 * CPUS, seed=1,
                                partitions=CPUS)).count()

    # min-of-R per query, same policy as bench_pages: single-shot
    # timings on this host drift ±10-40% across runs, which round 3
    # turned into phantom 2.3x "regressions" on plans that were
    # byte-identical to round 2.  Each rep rebuilds the full query
    # (fresh lineage, cache cleared between reps), so the min is a
    # complete execution, not a cache hit.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    for name in HEADLINE:
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            df.collect()
            best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
        timings[name] = round(best, 3)

    pg = bench_pages(spark)
    timings["pages_encode"] = pg["encode_sec"]
    timings["pages_decode"] = pg["decode_sec"]

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    out = {
        "metric": "headline suite wall-clock (queries + pages encode/decode)",
        "value": total, "unit": "sec", "queries": timings, "sf": sf,
        "cpus": CPUS,
        "encode_gbps": pg["encode_gbps"], "decode_gbps": pg["decode_gbps"],
        "bytes_per_doc": pg["bytes_per_doc"],
        "compression_ratio": pg["compression_ratio"],
        "pages": pg["pages"],
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
