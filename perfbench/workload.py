"""The workloads and their measured loop.

Both workloads run the same cycle against the public API — ingest the
input into a fresh store, scan the whole store, run a few selective
lookups — on different input tables, which decides which layers
dominate (README.md).  Correctness checks run after each timed call,
never inside it.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass

from inputs import (
    INTS,
    PAGES,
    Table,
    digest,
    input_facts,
    lookup_oracle,
    make_queries,
    write_input,
)

# Setup (input generation) repeats in every run; setup_s takes the
# median so one slow repetition does not move it.
SETUP_REPS = 3
# One decode of these stores is sub-second, so each cycle scans
# three times, spread between the lookups, and scan_mbps is the
# median of all scans.
SCANS_PER_CYCLE = 3
LOOKUPS_PER_CYCLE = 7
# Measured seconds of one cycle on a 4-vCPU VM: `--seconds` buys
# round(seconds / CYCLE_S) cycles (README.md, "Fixed measured work").
CYCLE_S = 14
# Distinct lookups per run (used round-robin).
N_QUERIES = 16

# Split settings pinned while the input is read for encoding, so that
# one input file is one scan partition whatever the core count
# (maxSplitBytes = min(mpb, max(ocb, bytes per core)) is mpb when
# ocb >= mpb): chunk ids, and therefore the stored bytes, repeat
# exactly across machines and runs.  Store reads keep Spark's
# defaults, which pack the many small chunk files into few splits.
SPLIT_CONF = ("spark.sql.files.maxPartitionBytes",
              "spark.sql.files.openCostInBytes")
SPLIT_BYTES = str(128 << 20)


@dataclass(frozen=True)
class Spec:
    table: Table
    rows: int
    files: int            # input files = encode scan partitions
    rows_per_chunk: int   # two chunks per input file


SPECS = {
    "pages_etl": Spec(PAGES, 5000, 8, 313),
    "ints_etl": Spec(INTS, 480_000, 8, 30_000),
}


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


@contextmanager
def pinned_splits(spark):
    for k in SPLIT_CONF:
        spark.conf.set(k, SPLIT_BYTES)
    try:
        yield
    finally:
        for k in SPLIT_CONF:
            spark.conf.unset(k)


def store_bytes(root: str) -> dict:
    """Bytes of the parquet data files under each part of a store."""
    out = {}
    for part in ("chunks", "footer"):
        total = 0
        for d, _, files in os.walk(os.path.join(root, part)):
            total += sum(os.path.getsize(os.path.join(d, f))
                         for f in files if f.endswith(".parquet"))
        out[part] = total
    return out


class Run:
    """One benchmark run: setup, then cycles for `seconds`."""

    def __init__(self, spark, spec: Spec, seed: int, work: str, tracer):
        self.spark, self.spec, self.seed = spark, spec, seed
        self.work, self.tr = work, tracer
        self.input_path = os.path.join(work, "input")
        self.queries = make_queries(spec.table, spec.rows, seed, N_QUERIES)
        self.next_query = 0
        self.attempted = self.failed = 0
        self.ingest_s, self.scan_s, self.lookup_s = [], [], []
        self.cycle_s = {True: [], False: []}   # by tracing on/off
        self.stored, self.varint_encoded = [], []
        self.store = self.chunks = None

    # ---- setup ----------------------------------------------------

    def generate(self) -> float:
        times = []
        for _ in range(SETUP_REPS):
            with self.tr.span("inputs.generate", rows=self.spec.rows):
                t, _ = _timed(lambda: write_input(
                    self.spec.table, self.spec.rows, self.spec.files,
                    self.seed, self.input_path))
            times.append(t)
        self.input = self.spark.read.parquet(self.input_path)
        return statistics.median(times)

    def load_oracles(self) -> None:
        self.facts = input_facts(self.input, self.spec.table)
        self.expected = lookup_oracle(self.input, self.spec.table,
                                      self.queries)

    def warm_up(self) -> float:
        """One cycle like a measured one, untraced and unchecked:
        starts the Python workers and compiles the JVM's code paths
        before anything is timed."""
        on, self.tr.enabled = self.tr.enabled, False
        try:
            t, _ = _timed(lambda: self.cycle(check=False))
        finally:
            self.tr.enabled = on
        self.ingest_s.clear()
        self.scan_s.clear()
        self.lookup_s.clear()
        return t

    # ---- measured cycle -------------------------------------------

    def _fail(self, what: str, detail: str) -> None:
        self.failed += 1
        print(f"perfbench: {what} failed: {detail}", file=sys.stderr)

    def cycle(self, check: bool = True) -> None:
        """Ingest into a fresh store, then SCANS_PER_CYCLE scans of it,
        each followed by its share of the LOOKUPS_PER_CYCLE lookups, so
        lookups are spread over the run: the host's speed changes for
        seconds at a time, and lookups in one block all met the same
        change (README.md)."""
        from varint_rvv_spark.operators.decode import decode_table
        from varint_rvv_spark.operators.encode import encode_chunks_scan
        from varint_rvv_spark.sources.tables import (
            read_chunks,
            write_encoded,
        )

        table = self.spec.table
        cols, schema = table.columns, table.schema
        store = os.path.join(self.work, f"store{time.monotonic_ns()}")
        raw = self.facts["raw_bytes"] if check else 0

        self.attempted += 1
        try:
            with self.tr.span("tables.write_encoded", bytes=raw), \
                    pinned_splits(self.spark):
                t, _ = _timed(lambda: write_encoded(encode_chunks_scan(
                    self.input, rows_per_chunk=self.spec.rows_per_chunk),
                    store))
            self.ingest_s.append(t)
        except Exception:
            self._fail("ingest", traceback.format_exc())
            shutil.rmtree(store, ignore_errors=True)
            return
        if self.store:
            shutil.rmtree(self.store, ignore_errors=True)
        self.store = store
        if check:
            self.check_store(store)
        self.chunks = chunks = read_chunks(self.spark, store)

        for i in range(SCANS_PER_CYCLE):
            self.attempted += 1
            try:
                with self.tr.span("decode.decode_table", bytes=raw):
                    t, _ = _timed(lambda: decode_table(chunks, cols, schema)
                                  .write.format("noop").mode("overwrite")
                                  .save())
                self.scan_s.append(t)
                if check and i == 0:
                    got = digest(decode_table(chunks, cols, schema), cols)
                    if got != self.facts["digest"]:
                        self._fail("scan", f"digest {got} != "
                                   f"{self.facts['digest']}")
            except Exception:
                self._fail("scan", traceback.format_exc())
            self.lookups(LOOKUPS_PER_CYCLE // SCANS_PER_CYCLE
                         + (i < LOOKUPS_PER_CYCLE % SCANS_PER_CYCLE), check)

    def lookups(self, n: int, check: bool = True) -> None:
        """`n` lookups against the last store, one client, closed loop."""
        from varint_rvv_spark.operators.decode import scan_encoded

        cols, schema = self.spec.table.columns, self.spec.table.schema
        for _ in range(n):
            q = self.queries[self.next_query % len(self.queries)]
            self.next_query += 1
            self.attempted += 1
            try:
                # the client receives the matching rows
                with self.tr.span("decode.scan_encoded", qid=q.qid) as a:
                    t, rows = _timed(lambda: scan_encoded(
                        self.chunks, cols, schema, eq=q.eq,
                        ranges=q.ranges).collect())
                    a["rows"] = len(rows)
                self.lookup_s.append(t)
                got = sorted(tuple(r[c] for c in cols) for r in rows)
                if check and got != self.expected[q.qid]:
                    self._fail("lookup", f"{q} gave {len(got)} rows, "
                               f"expected {len(self.expected[q.qid])} "
                               "(or other values)")
            except Exception:
                self._fail("lookup", traceback.format_exc())

    def check_store(self, store: str) -> None:
        """Size accounting of a fresh store; a varint ratio above 1.0
        breaks the paper's size promise and counts as a failure."""
        from pyspark.sql import functions as F

        from varint_rvv_spark.codecs.blob import HEADER_LEN
        from varint_rvv_spark.sources.tables import read_footer

        sizes = store_bytes(store)
        self.stored.append(sizes["chunks"] + sizes["footer"])
        # payload bytes: each blob's fixed header holds codec id, dtype
        # and value count, which the reference encoder's caller keeps
        # out of band (README.md, "bytes_per_varint_byte")
        enc = (read_footer(self.spark, store)
               .filter(F.col("column").isin(list(self.spec.table
                                                 .varint_cols)))
               .agg(F.sum(F.col("encoded_bytes") - HEADER_LEN))
               .collect()[0][0])
        self.varint_encoded.append(int(enc))
        ratio = enc / self.facts["leb128_bytes"]
        if ratio > 1.0:
            self._fail("ingest", f"bytes_per_varint_byte {ratio:.4f}"
                       " > 1.0")

    def measure(self, seconds: float, min_cycles: int) -> None:
        """round(seconds / CYCLE_S) cycles (at least `min_cycles`): a
        fixed amount of work, not a deadline (README.md, "Fixed
        measured work").  In a traced run every other cycle runs
        untraced, so the run can report tracing overhead against
        itself."""
        traced = self.tr.enabled
        for k in range(max(min_cycles, round(seconds / CYCLE_S))):
            self.tr.enabled = traced and k % 2 == 0
            t, _ = _timed(self.cycle)
            self.cycle_s[self.tr.enabled].append(t)
        self.tr.enabled = traced

    # ---- results --------------------------------------------------

    def end_to_end(self, setup_s: float) -> dict:
        raw = self.facts["raw_bytes"]
        m = {
            "setup_s": (setup_s, "s"),
            "ingest_mbps": (raw / 1e6 / statistics.median(self.ingest_s),
                            "MB/s"),
            "scan_mbps": (raw / 1e6 / statistics.median(self.scan_s),
                          "MB/s"),
            "stored_bytes_per_raw_byte": (
                statistics.median(self.stored) / raw, "ratio"),
            "bytes_per_varint_byte": (
                statistics.median(self.varint_encoded)
                / self.facts["leb128_bytes"], "ratio"),
            "lookup_p50_s": (statistics.median(self.lookup_s), "s"),
            "ok_share": ((self.attempted - self.failed) / self.attempted,
                         "ratio"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
