"""Sinks (the one-table chunk store), scan-mode encode, and the
spark-submit job's resume semantics (SURVEY.md §5 item 4 resume test)."""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from varint_rvv_spark.operators.decode import verify_roundtrip
from varint_rvv_spark.operators.encode import encode_chunks_scan, footer_of
from varint_rvv_spark.sources.pages import pages_df
from varint_rvv_spark.sources.tables import (
    read_chunks,
    read_footer,
    resume_footer,
    write_encoded,
)


@pytest.fixture(scope="module")
def pages(spark):
    df = pages_df(spark, 600, seed=11, partitions=3)
    df.cache().count()
    return df


def test_scan_mode_roundtrip_and_resume(spark, pages):
    chunks = encode_chunks_scan(pages, rows_per_chunk=128).cache()
    n, bad = verify_roundtrip(chunks)
    assert bad == 0 and n > 0
    ids = [r["chunk_id"] for r in
           chunks.select("chunk_id").distinct().collect()]
    # resume with half done → only the other half re-encoded
    done = sorted(ids)[: len(ids) // 2]
    rest = encode_chunks_scan(pages, rows_per_chunk=128,
                              done_chunk_ids=done)
    got = {r["chunk_id"] for r in rest.select("chunk_id").distinct().collect()}
    assert got == set(ids) - set(done)
    # resumed chunks byte-identical to the full run
    full = {(r["chunk_id"], r["column"]): r["value_sha256"]
            for r in chunks.collect() if r["chunk_id"] not in done}
    resumed = {(r["chunk_id"], r["column"]): r["value_sha256"]
               for r in rest.collect()}
    assert full == resumed
    chunks.unpersist()


def test_write_read_encoded(spark, pages, tmp_path):
    root = str(tmp_path / "enc")
    chunks = encode_chunks_scan(pages, rows_per_chunk=256)
    write_encoded(chunks, root, mode="overwrite")
    back = read_chunks(spark, root)
    assert back.count() == chunks.count()
    # partition pruning by column works
    lang_only = read_chunks(spark, root, columns=["lang"])
    assert lang_only.select("column").distinct().collect()[0][0] == "lang"
    n, bad = verify_roundtrip(back)
    assert bad == 0
    # one table: the footer is the chunks table without payloads
    assert os.path.isdir(f"{root}/chunks")
    assert not os.path.exists(f"{root}/footer")
    footer = read_footer(spark, root)
    assert not {"payload", "validity"} & set(footer.columns)
    assert footer.count() == back.count() == chunks.count()
    # footer ledger totals match
    agg = footer.agg(F.sum("n_values")).collect()[0][0]
    assert agg == 600 * 5


def test_write_encoded_reads_input_once(spark, tmp_path):
    """write_encoded runs the encode lineage once: every input row
    passes an identity mapInArrow in front of the encode exactly once."""
    src = str(tmp_path / "src.parquet")
    pages_df(spark, 1000, seed=5, partitions=2) \
        .write.mode("overwrite").parquet(src)
    df = spark.read.parquet(src)
    seen = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for b in batches:
            seen.add(b.num_rows)
            yield b

    tapped = df.mapInArrow(count_rows, df.schema)
    write_encoded(encode_chunks_scan(tapped, rows_per_chunk=128),
                  str(tmp_path / "enc"), mode="overwrite")
    assert seen.value == 1000


def test_resume_footer_missing_vs_corrupt_store(spark, tmp_path):
    """A store that does not exist, or holds no chunk files, is a fresh
    start (None); a corrupt one raises instead of silently restarting
    (which would re-encode and append every chunk a second time)."""
    assert resume_footer(spark, str(tmp_path / "absent")) is None
    empty = str(tmp_path / "empty")
    write_encoded(encode_chunks_scan(spark.range(0).selectExpr(
        "cast(id as string) s")), empty, mode="overwrite")
    assert resume_footer(spark, empty) is None
    root = tmp_path / "corrupt"
    part = root / "chunks" / "column=a"
    part.mkdir(parents=True)
    (part / "part-0.parquet").write_bytes(b"not a parquet file" * 8)
    with pytest.raises(Exception, match="not a Parquet file"):
        resume_footer(spark, str(root))


def test_encode_job_cli_with_resume(tmp_path):
    out = str(tmp_path / "job_out")
    cmd = [sys.executable, "jobs/encode_job.py",
           "--input", "/root/testdata/sf0.001", "--table", "documents",
           "--output", out, "--mode", "hash", "--num-chunks", "4",
           "--key-cols", "doc_id", "--master", "local[2]", "--verify"]
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    assert r1.returncode == 0, r1.stderr[-2000:]
    j1 = json.loads(r1.stdout.strip().splitlines()[-1])
    assert j1["mismatched_chunks"] == 0
    assert j1["chunk_rows"] == 4 * 5
    # resume: everything done → zero new chunk rows
    r2 = subprocess.run(cmd + ["--resume"], capture_output=True,
                        text=True, timeout=300)
    assert r2.returncode == 0, r2.stderr[-2000:]
    j2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert j2["resumed"] is True
    assert j2["chunk_rows"] == 0


def test_scan_resume_fingerprint_guard(spark, pages, tmp_path):
    """Scan-mode resume is refused when the positional chunk-id space
    changed (input files, rows_per_chunk, or split config)."""
    src = str(tmp_path / "src.parquet")
    pages.write.mode("overwrite").parquet(src)
    df = spark.read.parquet(src)
    footer = footer_of(encode_chunks_scan(df, rows_per_chunk=128))
    footer = spark.createDataFrame(footer.collect(), footer.schema)
    # same layout → resume accepted, nothing left to encode
    rest = encode_chunks_scan(spark.read.parquet(src),
                              rows_per_chunk=128, done_footer=footer)
    assert rest.count() == 0
    # different rows_per_chunk → a different chunk-id space → refused
    with pytest.raises(ValueError, match="layout fingerprint"):
        encode_chunks_scan(spark.read.parquet(src),
                           rows_per_chunk=256, done_footer=footer).count()
    # changed input file set → refused
    src2 = str(tmp_path / "src2.parquet")
    pages.limit(50).write.mode("overwrite").parquet(src2)
    both = spark.read.parquet(src, src2)
    with pytest.raises(ValueError, match="layout fingerprint"):
        encode_chunks_scan(both, rows_per_chunk=128,
                           done_footer=footer).count()


def test_resume_reads_chunks_table(spark, pages, tmp_path):
    """Resume derives its ledger from the chunks table alone and skips
    every written chunk."""
    root = str(tmp_path / "enc")
    src = str(tmp_path / "src2.parquet")
    pages.write.mode("overwrite").parquet(src)  # file-backed: the
    # layout fingerprint refuses footer resume of in-memory inputs
    df = spark.read.parquet(src)
    chunks = encode_chunks_scan(df, rows_per_chunk=256)
    chunks.write.mode("overwrite").partitionBy("column") \
        .parquet(f"{root}/chunks")
    ledger = resume_footer(spark, root)
    assert ledger is not None and "payload" not in ledger.columns
    rest = encode_chunks_scan(spark.read.parquet(src),
                              rows_per_chunk=256, done_footer=ledger)
    assert rest.count() == 0
    # non-file-backed input → footer resume refused, not vacuous
    with pytest.raises(ValueError, match="not file-backed"):
        encode_chunks_scan(pages, rows_per_chunk=256,
                           done_footer=ledger).count()


def test_hash_resume_across_different_split_layout(spark, pages,
                                                   tmp_path):
    """Kill-after-k-chunks resume, re-run from a *differently split*
    copy of the same input: footer must complete and every chunk hash
    must equal the uninterrupted run's (chunk ids are data-derived,
    sort order is key-derived — layout cannot leak in)."""
    from varint_rvv_spark.operators.encode import encode_chunks

    a = str(tmp_path / "layout_a")
    b = str(tmp_path / "layout_b")
    pages.coalesce(1).write.mode("overwrite").parquet(a)
    pages.repartition(5).write.mode("overwrite").parquet(b)

    full = encode_chunks(spark.read.parquet(a), key_cols=["url"],
                         num_chunks=8)
    want = {(r["chunk_id"], r["column"]): r["value_sha256"]
            for r in full.collect()}
    # simulate the kill: only chunks 0..3 made it to the footer
    done_ids = sorted({cid for cid, _ in want})[:4]
    partial = footer_of(full).filter(F.col("chunk_id").isin(done_ids))
    partial = spark.createDataFrame(partial.collect(), partial.schema)

    rest = encode_chunks(spark.read.parquet(b), key_cols=["url"],
                         done_footer=partial)
    got = {(r["chunk_id"], r["column"]): r["value_sha256"]
           for r in rest.collect()}
    assert {cid for cid, _ in got} == set(range(8)) - set(done_ids)
    assert got == {k: v for k, v in want.items()
                   if k[0] not in set(done_ids)}


def test_list_column_through_partitioned_sink(spark, tmp_path):
    """array<float> chunks survive the column-partitioned sink: write,
    read back, bit-identity verify, and decode via the groupBy path."""
    from varint_rvv_spark.operators.decode import decode_table
    from varint_rvv_spark.operators.encode import encode_chunks
    from varint_rvv_spark.queries import TABLE_SCHEMAS

    root = str(tmp_path / "enc")
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    chunks = encode_chunks(df, key_cols=["vec_id"], num_chunks=4)
    write_encoded(chunks, root, mode="overwrite")
    back = read_chunks(spark, root)
    n, bad = verify_roundtrip(back)
    assert bad == 0 and n == 4 * 3
    decoded = decode_table(back, df.columns, TABLE_SCHEMAS["embeddings"])
    got = decoded.agg(F.sum("vec_id"), F.count("*")).collect()[0]
    want = df.agg(F.sum("vec_id"), F.count("*")).collect()[0]
    assert tuple(got) == tuple(want)


def test_encode_job_cli_scan_mode_with_resume(tmp_path):
    """spark-submit-shaped scan-mode run + resume: the resume path goes
    through resume_footer + the layout fingerprint + the broadcast
    left_anti skip, end to end from the CLI."""
    out = str(tmp_path / "job_scan_out")
    cmd = [sys.executable, "jobs/encode_job.py",
           "--input", "/root/testdata/sf0.001", "--table", "documents",
           "--output", out, "--mode", "scan", "--master", "local[2]",
           "--verify"]
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    assert r1.returncode == 0, r1.stderr[-2000:]
    j1 = json.loads(r1.stdout.strip().splitlines()[-1])
    assert j1["mismatched_chunks"] == 0 and j1["chunk_rows"] > 0
    r2 = subprocess.run(cmd + ["--resume"], capture_output=True,
                        text=True, timeout=300)
    assert r2.returncode == 0, r2.stderr[-2000:]
    j2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert j2["resumed"] is True and j2["chunk_rows"] == 0


def test_full_store_lifecycle(spark, tmp_path):
    """The whole operational story in one chain: encode v1 schema →
    write store → compact → read under an evolved v2 schema → every
    row accounted for and defaults/widenings applied."""
    from pyspark.sql import functions as F

    from varint_rvv_spark.operators.compact import compact_chunks
    from varint_rvv_spark.operators.encode import encode_chunks_scan
    from varint_rvv_spark.operators.evolve import (
        decode_table_evolved,
        stored_table_schema,
    )

    df = (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
          .select("o_orderkey",
                  F.col("o_custkey").cast("int").alias("o_custkey"),
                  "o_totalprice"))
    store = str(tmp_path / "store_v1")
    encode_chunks_scan(df, rows_per_chunk=64).write.parquet(store)
    stored = spark.read.parquet(store)
    # maintenance: roll the 64-row chunks into bigger ones
    compacted = compact_chunks(stored, target_bytes=64 << 10).cache()
    assert (compacted.select("chunk_id").distinct().count()
            < stored.select("chunk_id").distinct().count())
    # schema inference still works on the compacted store
    assert "o_custkey int" in stored_table_schema(compacted)
    # v2 read: widen custkey, add a channel column
    out = decode_table_evolved(
        compacted,
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "channel string",
        defaults={"channel": "backfill"})
    got = out.agg(F.count("*"), F.sum("o_custkey"),
                  F.count_distinct("channel")).collect()[0]
    exp = df.agg(F.count("*"), F.sum("o_custkey")).collect()[0]
    assert (got[0], got[1]) == (exp[0], exp[1]) and got[2] == 1
    compacted.unpersist()
