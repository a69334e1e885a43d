"""Benchmark inputs: the two tables, their fixed-layout parquet writer,
and the oracles every correctness check compares against.

Everything here is a function of the workload seed.  Oracles are
plain Spark SQL over the input parquet (xxhash64 sums, octet_length,
byte-length thresholds), so no check depends on the engine's own
hashes, footers or codecs.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from varint_rvv_spark.sources.pages import (
    BASE_TS_US,
    PAGES_SCHEMA,
    gen_pages_numpy,
    splitmix64,
)

# Byte-length mixes of the reference benchmark (bench/kernel_bench.py
# DISTS): share of values needing 1..5 LEB128 bytes.
DISTS = {
    "u95": (95, 2, 1, 1, 1),
    "u90": (90, 4, 3, 2, 1),
    "u81": (81, 7, 6, 5, 1),
    "u72": (72, 13, 9, 5, 1),
    "u20": (20, 20, 20, 20, 20),
}
_LO = np.array([0, 1 << 7, 1 << 14, 1 << 21, 1 << 28], dtype=np.float64)
_HI = np.array([1 << 7, 1 << 14, 1 << 21, 1 << 28, 1 << 32],
               dtype=np.float64)
RUN_LEN = 4096      # rows per value of the low-cardinality run column
RUN_VALUES = 16
TS_STEP_US = 1000   # ints.ts: one row per ms plus < 2 ms jitter

INTS_SCHEMA = ("u95 long, u90 long, u81 long, u72 long, u20 long, "
               "ts timestamp, run int")
INTS_ARROW = pa.schema(
    [(c, pa.int64()) for c in DISTS]
    + [("ts", pa.timestamp("us")), ("run", pa.int32())])

# Spark type widths of the fixed-width columns (raw-byte accounting)
WIDTH = {"long": 8, "timestamp": 8, "int": 4}


@dataclass(frozen=True)
class Table:
    name: str
    schema: str            # Spark DDL, also the decode schema
    time_col: str          # clustered / range-predicate column
    varint_cols: tuple     # columns measured against plain LEB128

    @property
    def columns(self) -> list:
        return [f.split()[0] for f in self.schema.split(", ")]

    def types(self) -> dict:
        return dict(f.split() for f in self.schema.split(", "))


PAGES = Table("pages", PAGES_SCHEMA, "warc_ts", ("warc_ts",))
INTS = Table("ints", INTS_SCHEMA, "ts", tuple(DISTS))
TABLES = {"pages": PAGES, "ints": INTS}


def _uniform(ids: np.ndarray, stream: int, seed: int) -> np.ndarray:
    mix = (seed * 0x2545F4914F6CDD1D + stream * 0x9E3779B1) & (2**64 - 1)
    bits = splitmix64(ids ^ np.uint64(mix))
    return (bits >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def gen_ints(ids: np.ndarray, seed: int) -> pa.RecordBatch:
    """Rows `ids` of the integer table (pure function of id and seed)."""
    ids = np.ascontiguousarray(ids, dtype=np.uint64)
    arrays = []
    for k, dist in enumerate(DISTS.values()):
        cdf = np.cumsum(dist) / sum(dist)
        cls = np.minimum(np.searchsorted(
            cdf, _uniform(ids, 2 * k, seed), side="right"), 4)
        width = _HI[cls] - _LO[cls]
        v = _LO[cls] + np.floor(_uniform(ids, 2 * k + 1, seed) * width)
        arrays.append(pa.array(v.astype(np.int64)))
    jitter = np.floor(_uniform(ids, 20, seed) * 2 * TS_STEP_US)
    ts = (BASE_TS_US + ids.astype(np.int64) * TS_STEP_US
          + jitter.astype(np.int64))
    arrays.append(pa.array(ts, type=pa.timestamp("us")))
    run = splitmix64((ids // np.uint64(RUN_LEN)) ^ np.uint64(seed))
    arrays.append(pa.array((run % np.uint64(RUN_VALUES)).astype(np.int32)))
    return pa.RecordBatch.from_arrays(arrays, schema=INTS_ARROW)


def table_arrays(table: Table, ids: np.ndarray, seed: int) -> dict:
    """Rows `ids` of `table` as Arrow arrays (pages come from the
    engine's own generator, sources.pages.gen_pages_numpy)."""
    ids = np.ascontiguousarray(ids, dtype=np.uint64)
    if table is INTS:
        batch = gen_ints(ids, seed)
        return {c: batch.column(i) for i, c in enumerate(table.columns)}
    g = gen_pages_numpy(ids, seed)

    def varlen(v, typ):
        return pa.Array.from_buffers(
            pa.large_binary(), len(v),
            [None, pa.py_buffer(v.offsets), pa.py_buffer(v.data)]).cast(typ)

    return {
        "url": pa.array(g["url"], type=pa.string()),
        "warc_ts": pa.array(g["warc_ts"], type=pa.timestamp("us")),
        "html": varlen(g["html"], pa.binary()),
        "text": varlen(g["text"], pa.binary()).cast(pa.string()),
        "lang": pa.array(g["lang"], type=pa.string()),
    }


def write_input(table: Table, n_rows: int, files: int, seed: int,
                path: str) -> None:
    """Write the input as exactly `files` parquet files of consecutive
    ids, one row group each.  Encode reads them under pinned split
    settings (workload.pinned_splits), so each file is one scan
    partition and scan-mode chunk ids do not depend on core count."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, n_rows, files + 1).astype(np.int64)
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        arrays = table_arrays(table, np.arange(lo, hi), seed)
        # tz-aware timestamps are stored UTC-adjusted, which Spark reads
        # as TIMESTAMP (not TIMESTAMP_NTZ), the type the schema declares
        cols = [a.cast(pa.timestamp("us", tz="UTC"))
                if pa.types.is_timestamp(a.type) else a
                for a in arrays.values()]
        pq.write_table(pa.table(cols, names=list(arrays)),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="zstd", row_group_size=hi - lo)


# ---- oracles (Spark SQL over the input) --------------------------------

def digest_exprs(columns: list) -> list:
    """Row count plus one xxhash64 sum per column.  Sums run in
    DECIMAL(38,0) so they are exact (ANSI long sums would overflow)."""
    from pyspark.sql import functions as F

    return [F.count(F.lit(1)).alias("rows")] + [
        F.sum(F.xxhash64(F.col(c)).cast("decimal(38,0)")).alias(c)
        for c in columns]


def digest(df, columns: list) -> dict:
    row = df.agg(*digest_exprs(columns)).collect()[0].asDict()
    return {k: (int(v) if v is not None else None) for k, v in row.items()}


def _as_micros(df, col: str):
    from pyspark.sql import functions as F

    return F.unix_micros(F.col(col)) if dict(df.dtypes)[col] == \
        "timestamp" else F.col(col)


def leb128_len(c):
    """Plain LEB128 byte length of a non-negative integer Column, by
    thresholds at 2^7, 2^14, 2^21, 2^28, ... (independent of the
    engine's varint codec)."""
    from pyspark.sql import functions as F

    expr = F.when(c < 0, F.lit(10))
    for k in range(1, 9):
        expr = expr.when(c < F.lit(1 << (7 * k)), F.lit(k))
    return expr.otherwise(F.lit(9))


def input_facts(df, table: Table) -> dict:
    """Raw bytes (octet_length of strings/binaries + Spark type width
    of fixed-width columns), plain-LEB128 size of the varint columns,
    and the per-column digest — one job over the input."""
    from pyspark.sql import functions as F

    types = table.types()
    raw = F.lit(0).cast("long")
    for c, t in types.items():
        raw = raw + (F.octet_length(F.col(c)).cast("long")
                     if t in ("string", "binary") else F.lit(WIDTH[t]))
    leb = F.lit(0).cast("long")
    for c in table.varint_cols:
        leb = leb + leb128_len(_as_micros(df, c))
    row = df.agg(F.sum(raw).alias("_raw"), F.sum(leb).alias("_leb"),
                 *digest_exprs(table.columns)).collect()[0].asDict()
    return {
        "raw_bytes": int(row.pop("_raw")),
        "leb128_bytes": int(row.pop("_leb")),
        "digest": {k: int(v) for k, v in row.items()},
    }


# ---- lookups ---------------------------------------------------------

@dataclass(frozen=True)
class Query:
    qid: int
    eq: dict
    ranges: dict


def make_queries(table: Table, n_rows: int, seed: int, count: int) -> list:
    """`count` selective lookups on rows that exist, drawn from the seed.

    pages: url equality (a point lookup that footer blooms can prune);
    ints:  a 50 ms range of the near-sorted ts column (zone maps).
    """
    rnd = random.Random(seed * 7919 + 17)
    ids = np.array([rnd.randrange(n_rows) for _ in range(count)],
                   dtype=np.uint64)
    if table is PAGES:
        urls = gen_pages_numpy(ids, seed)["url"]
        return [Query(i, {"url": str(u)}, {}) for i, u in enumerate(urls)]
    ts = gen_ints(ids, seed).column("ts").cast(pa.int64()).to_numpy()
    return [Query(i, {}, {"ts": (int(t) - 25_000, int(t) + 25_000)})
            for i, t in enumerate(ts)]


def query_filter(df, q: Query):
    """The lookup as a plain filter over an (undecoded) table."""
    from pyspark.sql import functions as F

    cond = F.lit(True)
    for c, v in q.eq.items():
        cond = cond & (F.col(c) == F.lit(v))
    for c, (lo, hi) in q.ranges.items():
        m = _as_micros(df, c)
        cond = cond & (m >= F.lit(lo)) & (m <= F.lit(hi))
    return cond


def lookup_oracle(df, table: Table, queries: list) -> dict:
    """Expected rows of every lookup (sorted tuples in column order),
    from one pass over the input: each row is tagged with the ids of
    the queries it matches."""
    from pyspark.sql import functions as F

    conds = [query_filter(df, q) for q in queries]
    hit = conds[0]
    for c in conds[1:]:
        hit = hit | c
    tags = F.array(*[F.when(c, F.lit(q.qid))
                     for c, q in zip(conds, queries)])
    tagged = (df.filter(hit).withColumn("_qid", F.explode(tags))
              .filter(F.col("_qid").isNotNull()))
    out = {q.qid: [] for q in queries}
    for r in tagged.collect():
        out[r["_qid"]].append(tuple(r[c] for c in table.columns))
    return {qid: sorted(rows) for qid, rows in out.items()}
