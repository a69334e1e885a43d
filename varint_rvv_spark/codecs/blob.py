"""Chunk-blob container format + codec registry.

The reference's encoded form is a bare byte stream with no metadata
(/root/reference/lib/include/libvarintrvv.h:13-19 — caller carries the
length out-of-band).  A Spark engine needs self-describing chunks, so
every encoded column chunk is one ``bytes`` cell laid out as:

    byte 0      codec_id   (uint8)
    byte 1      dtype_code (uint8)   logical type of the decoded column
    bytes 2-9   n_values   (uint64 little-endian)
    bytes 10..  codec payload

Codecs may nest (DICT carries a codes-blob and a values-blob, ZSTD
wraps an inner blob), so the registry dispatches recursively.

Values representations:
* numeric columns: 1-D numpy arrays (u32/u64/i32/i64/f32/f64)
* varlen columns (string/binary): ``VarlenArray`` — Arrow-style
  (offsets int64[n+1], data uint8[total]) pair, so the whole codec
  stack stays zero-copy-ish and per-row Python free.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

HEADER = struct.Struct("<BBQ")
HEADER_LEN = HEADER.size  # 10

# --- codec ids (stable on disk; recorded in each chunk's footer row) ---
RAW = 0
VARINT = 1
DELTA_VARINT = 2
DICT = 3
RLE = 4
BITPACK = 5
ZSTD = 6
FSST = 7
SCALED = 8
SPLIT = 9
LIST = 10
STRUCT = 11
MAP = 12

CODEC_NAMES = {
    RAW: "raw", VARINT: "varint", DELTA_VARINT: "delta_varint",
    DICT: "dict", RLE: "rle", BITPACK: "bitpack", ZSTD: "zstd",
    FSST: "fsst", SCALED: "scaled", SPLIT: "split", LIST: "list",
    STRUCT: "struct", MAP: "map",
}
CODEC_IDS = {v: k for k, v in CODEC_NAMES.items()}

# --- dtype codes ---
DT_U32 = 1
DT_U64 = 2
DT_I32 = 3
DT_I64 = 4
DT_F32 = 5
DT_F64 = 6
DT_STR = 7   # utf-8 varlen
DT_BIN = 8   # raw-bytes varlen
DT_U8 = 9    # bytes / booleans (bitpack & RLE shine here)
DT_LIST = 10  # list<numeric> — ListValues container
DT_STRUCT = 11  # struct<...> — StructValues container (per-field streams)
DT_MAP = 12     # map<k,v> — MapValues container (lengths + two streams)

NUMERIC_NP = {
    DT_U32: np.dtype("<u4"), DT_U64: np.dtype("<u8"),
    DT_I32: np.dtype("<i4"), DT_I64: np.dtype("<i8"),
    DT_F32: np.dtype("<f4"), DT_F64: np.dtype("<f8"),
    DT_U8: np.dtype("<u1"),
}
DTYPE_NAMES = {
    DT_U32: "u32", DT_U64: "u64", DT_I32: "i32", DT_I64: "i64",
    DT_F32: "f32", DT_F64: "f64", DT_STR: "str", DT_BIN: "bin",
    DT_U8: "u8", DT_LIST: "list", DT_STRUCT: "struct", DT_MAP: "map",
}


def is_varlen(dtype_code: int) -> bool:
    return dtype_code in (DT_STR, DT_BIN)


def is_list(dtype_code: int) -> bool:
    return dtype_code == DT_LIST


def is_nested(dtype_code: int) -> bool:
    return dtype_code in (DT_LIST, DT_STRUCT, DT_MAP)


@dataclass
class ChildCol:
    """A recursively-converted child column: everything the codec
    stack needs to encode it and the bridge needs to rebuild its
    exact Arrow type (the nested twin of the footer's logical_type
    and validity columns)."""

    values: object      # numpy / VarlenArray / nested container
    dtype_code: int
    logical: str
    validity: bytes

    @property
    def nbytes(self) -> int:
        # numpy arrays, VarlenArray and the nested containers all
        # expose .nbytes with the right semantics
        return int(self.values.nbytes)


@dataclass
class StructValues:
    """struct<...> column decomposed into independent per-field
    streams — each field routes through its own best codec."""

    names: list
    children: list  # list[ChildCol], aligned with names
    n: int

    def __len__(self) -> int:
        return self.n

    @property
    def nbytes(self) -> int:
        return int(sum(c.nbytes for c in self.children))


@dataclass
class MapValues:
    """map<k,v> column: Arrow map layout — per-row entry counts plus
    flattened key and item streams."""

    offsets: np.ndarray  # int64[n+1]
    keys: "ChildCol"
    items: "ChildCol"

    def __len__(self) -> int:
        return self.offsets.shape[0] - 1

    @property
    def nbytes(self) -> int:
        return int(self.offsets.shape[0] * 8 + self.keys.nbytes
                   + self.items.nbytes)

    def lengths(self) -> np.ndarray:
        return np.diff(self.offsets)


@dataclass
class ListValues:
    """Flattened list column: Arrow list layout.

    One values stream + per-row lengths (as offsets) — the standard
    columnar decomposition of a nested column, so the child stream
    routes through the existing codec stack (SPLIT/SCALED/zstd for
    embeddings, varint family for int lists, zstd/dict/FSST for token
    lists, and recursively the LIST/STRUCT/MAP containers for
    list<struct<...>> / list<list<...>> children).

    child_logical/child_validity carry the child's logical-type tag
    and element-level validity bitmap (the ChildCol twin) — defaults
    mean "plain child, no element nulls", which keeps simple numeric/
    varlen list payloads byte-identical to the pre-nested format.
    """

    offsets: np.ndarray   # int64[n+1], offsets[0] == 0, monotone
    child: object         # numpy / VarlenArray / nested container
    child_dtype: int      # DT_* code of the child stream
    child_logical: str = "plain"
    child_validity: bytes = b""

    def __len__(self) -> int:
        return self.offsets.shape[0] - 1

    @property
    def nbytes(self) -> int:
        return int(self.offsets.shape[0] * 8 + self.child.nbytes)

    def lengths(self) -> np.ndarray:
        return np.diff(self.offsets)


@dataclass
class VarlenArray:
    """Arrow-layout variable-length byte column: n strings/blobs.

    Lifetime note: `data`/`offsets` may be READ-ONLY zero-copy views
    pinning the whole source Arrow buffer (composite.pa_to_varlen) —
    holding a VarlenArray past its batch retains that memory, and
    in-place mutation raises ValueError.  Copy before mutating."""

    offsets: np.ndarray  # int64[n+1], offsets[0] == 0, monotone
    data: np.ndarray     # uint8[offsets[-1]]

    def __len__(self) -> int:
        return self.offsets.shape[0] - 1

    @property
    def nbytes(self) -> int:
        return int(self.offsets.shape[0] * 8 + self.data.shape[0])

    def lengths(self) -> np.ndarray:
        return np.diff(self.offsets)

    def to_pylist(self, as_str: bool) -> list:
        buf = self.data.tobytes()
        offs = self.offsets
        if as_str:
            return [buf[offs[i]:offs[i + 1]].decode("utf-8", "surrogateescape")
                    for i in range(len(self))]
        return [buf[offs[i]:offs[i + 1]] for i in range(len(self))]

    @classmethod
    def from_pylist(cls, items) -> "VarlenArray":
        enc = [x.encode("utf-8", "surrogateescape") if isinstance(x, str)
               else (bytes(x) if x is not None else b"") for x in items]
        lens = np.fromiter((len(b) for b in enc), dtype=np.int64,
                           count=len(enc))
        offsets = np.zeros(len(enc) + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        data = np.frombuffer(b"".join(enc), dtype=np.uint8).copy() \
            if enc else np.empty(0, dtype=np.uint8)
        return cls(offsets=offsets, data=data)

    def take(self, indices: np.ndarray) -> "VarlenArray":
        """Gather rows by index via pyarrow's C++ take (vectorized)."""
        import pyarrow as pa

        indices = np.ascontiguousarray(indices, dtype=np.int64)
        arr = pa.Array.from_buffers(
            pa.large_binary(), len(self),
            [None, pa.py_buffer(np.ascontiguousarray(self.offsets)),
             pa.py_buffer(np.ascontiguousarray(self.data))])
        taken = arr.take(pa.array(indices))
        from .composite import pa_to_varlen

        return pa_to_varlen(taken)


# --- registry ---
_ENCODERS: dict[int, callable] = {}
_DECODERS: dict[int, callable] = {}


def register(codec_id: int, encode_fn, decode_fn) -> None:
    _ENCODERS[codec_id] = encode_fn
    _DECODERS[codec_id] = decode_fn


def encode_blob(codec_id: int, dtype_code: int, values) -> bytes:
    """Encode values into a self-describing chunk blob."""
    n = len(values)
    payload = _ENCODERS[codec_id](values, dtype_code)
    return HEADER.pack(codec_id, dtype_code, n) + payload


def decode_blob(blob) -> tuple:
    """Decode a chunk blob → (values, codec_id, dtype_code)."""
    mv = memoryview(blob)
    codec_id, dtype_code, n = HEADER.unpack_from(mv, 0)
    values = _DECODERS[codec_id](mv[HEADER_LEN:], int(n), dtype_code)
    return values, codec_id, dtype_code


def decode_values(blob):
    return decode_blob(blob)[0]
