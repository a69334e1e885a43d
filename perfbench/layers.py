"""Traced-run probes: one call into each layer's public functions,
wrapped in spans, and the per-layer metrics derived from the spans.

Spark-level probes run on the workload's own input and last store.
The codecs / arrow_bridge / eqstats probes run in this Python process,
without Spark, on one generated chunk of *both* tables, so every traced run reports every
column's codec figures.
"""

from __future__ import annotations

import statistics
import time
import traceback

import numpy as np

from inputs import TABLES, table_arrays
from workload import LOOKUPS_PER_CYCLE, SPECS, pinned_splits, store_bytes

CODECS = ("raw", "varint", "delta_varint", "dict", "rle", "bitpack",
          "zstd", "fsst")
# one chunk of each table, as the workloads write them
SAMPLE_ROWS = {s.table.name: s.rows_per_chunk for s in SPECS.values()}
MIN_PROBE_S = 0.1   # repeat each in-process call for at least this
# spans whose median duration is a per-layer metric (`<name>_s`)
TIMED = ("session.get_spark", "inputs.generate", "encode.scan_job",
         "encode.range_build", "encode.arrow_floor", "tables.write_encoded",
         "tables.write_cached", "tables.read_payload", "decode.decode_table",
         "decode.decode_only", "decode.verify_roundtrip", "decode.prune",
         "decode.scan_encoded")


def _repeat(fn, min_s: float = MIN_PROBE_S) -> int:
    n, t0 = 0, time.perf_counter()
    while n == 0 or time.perf_counter() - t0 < min_s:
        fn()
        n += 1
    return n


def probe_spark(run) -> None:
    from pyspark.sql import functions as F

    from varint_rvv_spark.operators.decode import (
        decode_only,
        prune_chunks_multi,
        push_chunk_filter,
        verify_roundtrip,
    )
    from varint_rvv_spark.operators.encode import (
        encode_chunks_range,
        encode_chunks_scan,
    )
    from varint_rvv_spark.sources.tables import (
        read_chunks,
        read_footer,
        write_encoded,
    )

    tr, spec, inp = run.tr, run.spec, run.input
    table, raw = spec.table, run.facts["raw_bytes"]
    total_enc = F.sum("encoded_bytes")

    with pinned_splits(run.spark):
        with tr.span("encode.scan_job", bytes=raw):
            encode_chunks_scan(inp, rows_per_chunk=spec.rows_per_chunk) \
                .agg(total_enc).collect()
        with tr.span("encode.range_build", bytes=raw):
            encode_chunks_range(inp, [table.time_col],
                                num_partitions=spec.files,
                                rows_per_chunk=spec.rows_per_chunk) \
                .agg(total_enc).collect()
        with tr.span("encode.arrow_floor", bytes=raw):
            inp.mapInArrow(lambda it: it, inp.schema) \
                .agg(F.count(F.lit(1))).collect()
        cached = encode_chunks_scan(
            inp, rows_per_chunk=spec.rows_per_chunk).cache()
        cached.agg(total_enc).collect()
        with tr.span("tables.write_cached", bytes=raw):
            write_encoded(cached, run.work + "/cached_store")
        cached.unpersist()

    chunks = read_chunks(run.spark, run.store)
    with tr.span("tables.store", **store_bytes(run.store)) as a:
        a["codecs"] = {r["codec"]: r["n"] for r in
                       read_footer(run.spark, run.store)
                       .groupBy("codec").agg(F.count(F.lit(1)).alias("n"))
                       .collect()}
    with tr.span("tables.read_payload"):
        chunks.agg(F.sum(F.length("payload"))).collect()
    with tr.span("decode.decode_only", bytes=raw):
        decode_only(chunks).agg(F.sum("decoded_bytes")).collect()
    run.attempted += 1
    try:
        with tr.span("decode.verify_roundtrip") as a:
            a["chunks"], a["bad"] = verify_roundtrip(chunks)
        if a["bad"]:
            run._fail("verify_roundtrip", f"{a['bad']} of {a['chunks']}"
                      " chunks mismatched")
    except Exception:
        run._fail("verify_roundtrip", traceback.format_exc())

    first_col = F.col("column") == table.columns[0]
    all_ids = chunks.filter(first_col).select("chunk_id").distinct().count()
    for q in run.queries[:LOOKUPS_PER_CYCLE]:
        with tr.span("decode.prune", qid=q.qid) as a:
            kept = push_chunk_filter(chunks, prune_chunks_multi(
                chunks, eq=q.eq, ranges=q.ranges))
        # counted outside the span: the share of attempted work kept
        kept_rows = kept.filter(first_col).agg(
            F.count(F.lit(1)), F.sum("n_values")).collect()[0]
        a.update(chunks_kept=kept_rows[0], chunks_total=all_ids,
                 rows_kept=kept_rows[1] or 0,
                 rows_hit=len(run.expected[q.qid]))


def probe_local(run) -> None:
    """codecs / arrow_bridge / eqstats on one chunk of each table."""
    from varint_rvv_spark.codecs import blob as B
    from varint_rvv_spark.codecs.select import encode_auto
    from varint_rvv_spark.operators.arrow_bridge import (
        arrow_to_values,
        raw_nbytes,
        values_sha256,
        values_to_arrow,
    )
    from varint_rvv_spark.operators.eqstats import (
        build_eq_stats,
        build_eq_stats_numeric,
    )

    tr = run.tr
    for name, table in TABLES.items():
        arrays = table_arrays(table, np.arange(SAMPLE_ROWS[name]), run.seed)
        for col, arr in arrays.items():
            values, dt, logical, validity = arrow_to_values(arr)
            raw = raw_nbytes(values, dt)
            blob, _, _ = encode_auto(values, dt)
            # the encode kernel's rule: eq stats on varlen and integer
            # columns
            if B.is_varlen(dt):
                eqstats = lambda: build_eq_stats(arr)  # noqa: E731
            elif B.NUMERIC_NP[dt].kind in "iu":
                eqstats = lambda: build_eq_stats_numeric(values)  # noqa: E731
            else:
                eqstats = None
            calls = [
                ("bridge.arrow_to_values", lambda: arrow_to_values(arr)),
                ("bridge.values_sha256", lambda: values_sha256(values, dt)),
                ("codecs.encode", lambda: encode_auto(values, dt)),
                ("codecs.decode", lambda: B.decode_blob(blob)),
                ("bridge.values_to_arrow",
                 lambda: values_to_arrow(values, dt, logical, validity)),
                ("eqstats.build", eqstats),
            ]
            for span, fn in calls:
                if fn is None:
                    continue
                with tr.span(span, table=name, col=col, raw=raw,
                             encoded=len(blob)) as a:
                    a["calls"] = _repeat(fn)


def per_layer(run) -> dict:
    """Every per-layer metric, derived from the recorded spans."""
    tr = run.tr
    m = {f"{n}_s": (tr.median_s(n), "s") for n in TIMED}
    store = tr.named("tables.store")[-1]["attrs"]
    m["tables.chunks_bytes"] = (store["chunks"], "bytes")
    m["tables.footer_bytes"] = (store["footer"], "bytes")
    m["encode.chunks"] = (sum(store["codecs"].values()), "count")
    for c in CODECS:
        m[f"codecs.chunks.{c}"] = (store["codecs"].get(c, 0), "count")
    prunes = [s["attrs"] for s in tr.named("decode.prune")]
    m["decode.chunks_kept_share"] = (
        sum(p["chunks_kept"] for p in prunes)
        / sum(p["chunks_total"] for p in prunes), "ratio")
    m["decode.rows_kept_share"] = (
        sum(p["rows_hit"] for p in prunes)
        / max(sum(p["rows_kept"] for p in prunes), 1), "ratio")
    for s in tr.named("codecs.encode"):
        a = s["attrs"]
        m[f"codecs.{a['col']}.encode_mbps"] = (_chunk_rate([s]), "MB/s")
        m[f"codecs.{a['col']}.bytes_per_raw_byte"] = (
            a["encoded"] / a["raw"], "ratio")
    for s in tr.named("codecs.decode"):
        m[f"codecs.{s['attrs']['col']}.decode_mbps"] = (
            _chunk_rate([s]), "MB/s")
    for t in TABLES:
        for name in ("bridge.arrow_to_values", "bridge.values_sha256",
                     "bridge.values_to_arrow", "eqstats.build"):
            spans = [s for s in tr.named(name) if s["attrs"]["table"] == t]
            layer, call = name.split(".")
            m[f"{layer}.{t}.{call}_mbps"] = (_chunk_rate(spans), "MB/s")
    on, off = run.cycle_s[True], run.cycle_s[False]
    m["trace.overhead_s"] = (statistics.median(on)
                             - statistics.median(off), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _chunk_rate(spans: list) -> float:
    """Raw MB of a sample chunk per second of one call per column:
    each span repeats one call `calls` times on one column."""
    per_call = sum((s["end"] - s["start"]) / s["attrs"]["calls"]
                   for s in spans)
    return sum(s["attrs"]["raw"] for s in spans) / 1e6 / per_call
