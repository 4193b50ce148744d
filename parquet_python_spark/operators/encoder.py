"""Column-block encode/decode: framing + dtype dispatch + null handling.

Re-creates the reference's page/column-chunk layering (write side:
fastparquet/writer.py:487-758 ``write_column``; read side:
fastparquet/core.py:430-588 ``read_col``) as a self-contained *block*:
one blob per (partition, column) that carries its own header, definition
levels, and payload — no thrift, no external footer.

Block layout (little-endian), version 2:
    magic  b"PQSB" | version u8 | codec u8 | compression u8 | dtype u16 |
    n_values u32 | n_nulls u32 | raw_len u64 |
    [compressed] payload

(v2 widened v1's u8 dtype field so composed nested ids like
list<list<T>> fit; nothing writes v1 and decode rejects it.)

Payload when n_nulls > 0:
    u32 def_len | RLE/BP-hybrid width-1 stream of notnull flags
    (mirrors ``make_definitions``, fastparquet/writer.py:417-451)
    | value payload over the n_values - n_nulls non-null values only

Null re-expansion on decode builds an Arrow validity bitmap from the
definition levels (reference analogue: fastparquet/core.py:51-82).
"""
from __future__ import annotations

import numpy as np
import pyarrow as pa

from ..kernels import (bitpack, compression, delta, dictionary, fsst,
                       hexpack, linedict, plain, rle)

MAGIC = b"PQSB"
VERSION = 2

# codec ids
PLAIN = 0
DICT = 1
RLE_FOR = 2      # frame-of-reference + RLE/BP hybrid (ints)
DELTA = 3        # DELTA_BINARY_PACKED (ints)
BITPACK = 4      # frame-of-reference + fixed-width bit-pack (ints, bools)
FSST = 5         # strings
LINEDICT = 6     # strings: newline-split line dictionary (code text)
HEXPACK = 7      # strings: fixed-length lowercase hex (commit ids)
LIST = 8         # list<primitive>: offsets + recursively-encoded child block
MAP = 9          # map<k,v>: offsets + key block + value block
DECFLOAT = 10    # pseudodecimal: floats that are exactly k-decimal
                 # fixed-point encode as scaled ints (child block)
BSS = 11         # BYTE_STREAM_SPLIT: float byte planes (wins only under
                 # block compression)

CODEC_NAMES = {PLAIN: "plain", DICT: "dict", RLE_FOR: "rle", DELTA: "delta",
               BITPACK: "bitpack", FSST: "fsst", LINEDICT: "linedict",
               HEXPACK: "hexpack", LIST: "list", MAP: "map",
               DECFLOAT: "decfloat", BSS: "bss"}
CODEC_IDS = {v: k for k, v in CODEC_NAMES.items()}

# logical dtype ids
DT_INT64 = 0
DT_INT32 = 1
DT_FLOAT64 = 2
DT_FLOAT32 = 3
DT_BOOL = 4
DT_STRING = 5
DT_BINARY = 6
DT_TIMESTAMP_US = 7
DT_DATE32 = 8
DT_INT16 = 9
DT_INT8 = 10
# unsigned converted types (reference: fastparquet converted_types.py:149-248)
DT_UINT64 = 11
DT_UINT32 = 12
DT_UINT16 = 13
DT_UINT8 = 14
# day-time interval (Spark DayTimeIntervalType <-> arrow duration[us]) —
# reference INTERVAL converted type (converted_types.py typemap)
DT_DURATION_US = 15

_DT_NUMPY = {
    DT_INT64: "int64", DT_INT32: "int32", DT_INT16: "int16", DT_INT8: "int8",
    DT_FLOAT64: "float64", DT_FLOAT32: "float32", DT_BOOL: "bool",
    DT_TIMESTAMP_US: "timestamp_us", DT_DATE32: "date32",
}
_DT_ARROW = {
    DT_INT64: pa.int64(), DT_INT32: pa.int32(), DT_INT16: pa.int16(),
    DT_INT8: pa.int8(), DT_FLOAT64: pa.float64(), DT_FLOAT32: pa.float32(),
    DT_BOOL: pa.bool_(), DT_STRING: pa.string(), DT_BINARY: pa.binary(),
    DT_TIMESTAMP_US: pa.timestamp("us"), DT_DATE32: pa.date32(),
    DT_UINT64: pa.uint64(), DT_UINT32: pa.uint32(),
    DT_UINT16: pa.uint16(), DT_UINT8: pa.uint8(),
    DT_DURATION_US: pa.duration("us"),
}
_INT_DTS = {DT_INT64, DT_INT32, DT_INT16, DT_INT8, DT_TIMESTAMP_US, DT_DATE32,
            DT_UINT64, DT_UINT32, DT_UINT16, DT_UINT8, DT_DURATION_US}

# Spark has NO unsigned types: at the Spark decode boundary uint widths
# promote to the next wider signed type (reference nullable/unsigned
# promotion: fastparquet api.py:974-996).  uint64 has no lossless signed
# home — kernel-level decode stays exact uint64; Spark decode raises.
_SPARK_SAFE_ARROW = {DT_UINT8: pa.int16(), DT_UINT16: pa.int32(),
                     DT_UINT32: pa.int64()}


def spark_safe_arrow_type(dt: int) -> pa.DataType:
    """Arrow type Spark can represent for this dtype id (uints widen)."""
    if dt in _SPARK_SAFE_ARROW:
        return _SPARK_SAFE_ARROW[dt]
    if dt == DT_UINT64:
        raise TypeError(
            "uint64 columns cannot decode through Spark (no unsigned "
            "types); use the kernel-level decode_block API, or cast the "
            "source to int64/decimal before encoding")
    return arrow_type_for_dtype_id(dt)

# list<child>: dtype id = DT_LIST_BASE + child dtype id, COMPOSABLE to any
# depth in the u16 header field: list<list<int64>> = 200, list<map<...>> =
# 230..277 (decode-side parity with fastparquet's arbitrary-depth Dremel
# assembly, cencoding.pyx:431-494; the reference's own writer can't write
# nested data at all, writer.py:598).  Decomposition is unambiguous: the
# map range [130, 178) never collides with any composed list id (primitive
# ids < 16, so single-list ids are 100-115 and doubly-composed ids >= 200).
DT_LIST_BASE = 100

# map<k,v> (primitive values; decode-side parity with fastparquet's MAP
# k/v zip, core.py:620-631): dtype id packs the key kind and value dtype
# as base + key_idx*16 + val_dt.  Keys are limited to the kinds parquet
# maps use in practice; values must stay primitive (val_dt < 16) or the
# packing would collide.
DT_MAP_BASE = 130
_MAP_KEY_DTS = (DT_INT64, DT_INT32, DT_STRING)
DT_MAP_MAX = DT_MAP_BASE + len(_MAP_KEY_DTS) * 16  # exclusive


def _is_map_dt(dt: int) -> bool:
    return DT_MAP_BASE <= dt < DT_MAP_MAX


def _is_list_dt(dt: int) -> bool:
    return dt >= DT_LIST_BASE and not _is_map_dt(dt)


def _map_dtype_id(key_dt: int, val_dt: int) -> int:
    if key_dt not in _MAP_KEY_DTS:
        raise TypeError(f"map key dtype {key_dt} unsupported "
                        f"(need one of {_MAP_KEY_DTS})")
    if val_dt >= 16:
        raise TypeError(
            "map values must be primitive (nested map values would "
            "overflow the 16-slot value packing)")
    return DT_MAP_BASE + _MAP_KEY_DTS.index(key_dt) * 16 + val_dt


def arrow_type_for_dtype_id(dt: int) -> pa.DataType:
    if _is_map_dt(dt):
        key_dt = _MAP_KEY_DTS[(dt - DT_MAP_BASE) // 16]
        val_dt = (dt - DT_MAP_BASE) % 16
        return pa.map_(_DT_ARROW[key_dt], _DT_ARROW[val_dt])
    if dt >= DT_LIST_BASE:
        return pa.list_(arrow_type_for_dtype_id(dt - DT_LIST_BASE))
    return _DT_ARROW[dt]


def dtype_id_for_arrow(t: pa.DataType) -> int:
    if pa.types.is_map(t):
        return _map_dtype_id(dtype_id_for_arrow(t.key_type),
                             dtype_id_for_arrow(t.item_type))
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return DT_LIST_BASE + dtype_id_for_arrow(t.value_type)
    if pa.types.is_int64(t):
        return DT_INT64
    if pa.types.is_int32(t):
        return DT_INT32
    if pa.types.is_int16(t):
        return DT_INT16
    if pa.types.is_int8(t):
        return DT_INT8
    if pa.types.is_float64(t):
        return DT_FLOAT64
    if pa.types.is_float32(t):
        return DT_FLOAT32
    if pa.types.is_uint64(t):
        return DT_UINT64
    if pa.types.is_uint32(t):
        return DT_UINT32
    if pa.types.is_uint16(t):
        return DT_UINT16
    if pa.types.is_uint8(t):
        return DT_UINT8
    if pa.types.is_boolean(t):
        return DT_BOOL
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return DT_STRING
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return DT_BINARY
    if pa.types.is_timestamp(t):
        return DT_TIMESTAMP_US
    if pa.types.is_duration(t):
        return DT_DURATION_US
    if pa.types.is_date32(t):
        return DT_DATE32
    raise TypeError(f"unsupported arrow type {t}")


_DEC_SCALES = [10 ** k for k in range(0, 10)]


def decfloat_scale(v: np.ndarray) -> int | None:
    """Smallest power-of-ten scale making a float column exact k-decimal
    fixed point, validated against the DECODE expression (``rint(v*s)/s``)
    so DECFLOAT roundtrips bit-identically; None when not applicable
    (non-finite values, negative zero, |v*s| beyond 2^53, or no scale)."""
    if len(v) == 0:
        return None
    f32 = v.dtype == np.float32
    v64 = v.astype(np.float64)
    if not np.isfinite(v64).all():
        return None
    # -0.0 would decode as +0.0: value-equal but not bit-identical
    if np.any(np.signbit(v64) & (v64 == 0)):
        return None
    for s in _DEC_SCALES:
        scaled = v64 * s
        if np.any(np.abs(scaled) > 2.0 ** 53):
            return None
        ints = np.rint(scaled)
        dec = ints / s
        ok = (dec.astype(np.float32) == v).all() if f32 else (dec == v64).all()
        if ok:
            return s
    return None


def _to_int_view(arr: pa.Array, dt: int) -> np.ndarray:
    """Non-null arrow numeric array -> int64 numpy view for int codecs.
    uint64 is reinterpreted bit-for-bit (bijective; order is irrelevant to
    the codecs, and stats are computed from the original array)."""
    if dt in (DT_TIMESTAMP_US, DT_DURATION_US):
        return np.asarray(arr.cast(pa.int64()), dtype=np.int64)
    if dt == DT_DATE32:
        return np.asarray(arr.cast(pa.int32()), dtype=np.int64)
    if dt == DT_BOOL:
        return np.asarray(arr.cast(pa.int8()), dtype=np.int64)
    if dt == DT_UINT64:
        return np.asarray(arr, dtype=np.uint64).view(np.int64)
    return np.asarray(arr, dtype=np.int64)


def _from_int_view(values: np.ndarray, dt: int) -> pa.Array:
    if dt == DT_TIMESTAMP_US:
        return pa.array(values.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))
    if dt == DT_DURATION_US:
        return pa.array(values.astype("int64"), type=pa.int64()).cast(pa.duration("us"))
    if dt == DT_DATE32:
        return pa.array(values.astype("int32"), type=pa.int32()).cast(pa.date32())
    if dt == DT_BOOL:
        return pa.array(values.astype(bool))
    if dt == DT_UINT64:
        return pa.array(values.astype(np.int64).view(np.uint64),
                        type=pa.uint64())
    np_t = {DT_INT64: "int64", DT_INT32: "int32", DT_INT16: "int16",
            DT_INT8: "int8", DT_UINT32: "uint32", DT_UINT16: "uint16",
            DT_UINT8: "uint8"}[dt]
    return pa.array(values.astype(np_t), type=_DT_ARROW[dt])


def _encode_values(arr: pa.Array, dt: int, codec: int,
                   compressed: bool = False) -> bytes:
    """Encode a *non-null* arrow array with the given codec."""
    if codec == MAP or _is_map_dt(dt):
        if codec != MAP or not _is_map_dt(dt):
            raise TypeError("MAP codec and map dtype go together")
        from . import selector  # deferred: selector imports this module
        n = len(arr)
        offsets = np.asarray(arr.offsets, dtype=np.int64)
        lo, hi = (int(offsets[0]), int(offsets[-1])) if n else (0, 0)
        # .keys/.items are the FULL child buffers — slice to this view
        keys = arr.keys.slice(lo, hi - lo)
        items = arr.items.slice(lo, hi - lo)
        rebased = (offsets - lo).astype("<i4")
        key_block = encode_block(
            keys, selector.choose(keys, compressed=compressed).codec)
        val_block = encode_block(
            items, selector.choose(items, compressed=compressed).codec)
        return (np.uint32(n).tobytes() + rebased.tobytes()
                + np.uint32(len(key_block)).tobytes() + key_block
                + val_block)
    if codec == LIST or _is_list_dt(dt):
        if codec != LIST or not _is_list_dt(dt):
            raise TypeError("LIST codec and list dtype go together")
        from . import selector  # deferred: selector imports this module
        if pa.types.is_large_list(arr.type):
            arr = arr.cast(pa.list_(arr.type.value_type))
        n = len(arr)
        offsets = np.asarray(arr.offsets, dtype=np.int64)
        child = arr.flatten()  # honors offsets/slicing
        rebased = (offsets - offsets[0]).astype("<i4")
        child_choice = selector.choose(child, compressed=compressed)
        child_block = encode_block(child, child_choice.codec)
        return (np.uint32(n).tobytes() + rebased.tobytes()
                + np.uint32(len(child_block)).tobytes() + child_block)
    if codec == DECFLOAT:
        # pseudodecimal (the BtrBlocks/PIDS trick): most real-world float
        # columns are k-decimal fixed point (prices, rates, quantities);
        # store round(v * 10^k) as ints behind a recursively-chosen int
        # codec.  Exactness is validated against the DECODE expression
        # (i / 10^k) so the roundtrip is bit-identical by construction.
        if dt not in (DT_FLOAT64, DT_FLOAT32):
            raise TypeError("DECFLOAT is for float columns")
        np_t = np.float64 if dt == DT_FLOAT64 else np.float32
        v = np.asarray(arr, dtype=np_t)
        scale = decfloat_scale(v)
        if scale is None:
            raise ValueError("column is not k-decimal fixed point")
        ints = np.rint(v.astype(np.float64) * scale).astype(np.int64)
        from . import selector  # deferred: selector imports this module
        child = pa.array(ints, type=pa.int64())
        child_block = encode_block(
            child, selector.choose(child, compressed=compressed).codec)
        return np.int64(scale).tobytes() + child_block
    if codec == BSS:
        if dt not in (DT_FLOAT64, DT_FLOAT32):
            raise TypeError("BYTE_STREAM_SPLIT is for float columns")
        np_t = "<f8" if dt == DT_FLOAT64 else "<f4"
        from ..kernels import bss
        return bss.split(np.asarray(arr).astype(np_t))
    if codec == PLAIN:
        if dt in (DT_STRING, DT_BINARY):
            return plain.encode_strings(arr)
        if dt in _INT_DTS or dt == DT_BOOL:
            v = _to_int_view(arr, dt)
            np_t = {DT_INT64: "<i8", DT_INT32: "<i4", DT_INT16: "<i2", DT_INT8: "<i1",
                    DT_TIMESTAMP_US: "<i8", DT_DATE32: "<i4", DT_BOOL: "<u1",
                    DT_DURATION_US: "<i8", DT_UINT64: "<i8", DT_UINT32: "<u4", DT_UINT16: "<u2",
                    DT_UINT8: "<u1"}[dt]
            return v.astype(np_t).tobytes()
        return np.asarray(arr).astype({DT_FLOAT64: "<f8", DT_FLOAT32: "<f4"}[dt]).tobytes()
    if codec == DICT:
        if dt in (DT_STRING, DT_BINARY):
            # binary shares the (offsets, data) label layout with string
            return dictionary.encode_string(arr)
        if dt in (DT_FLOAT64, DT_FLOAT32):
            v = np.asarray(arr, dtype="float64" if dt == DT_FLOAT64 else "float32")
            return dictionary.encode_fixed(v)
        v = _to_int_view(arr, dt)
        return dictionary.encode_fixed(v)
    if codec == FSST:
        if dt != DT_STRING:
            raise TypeError("FSST is for string columns")
        return fsst.encode(arr)
    if codec == LINEDICT:
        if dt != DT_STRING:
            raise TypeError("LINEDICT is for string columns")
        return linedict.encode(arr)
    if codec == HEXPACK:
        if dt != DT_STRING:
            raise TypeError("HEXPACK is for string columns")
        return hexpack.encode(arr)
    # integer codecs
    v = _to_int_view(arr, dt)
    if codec == DELTA:
        return delta.encode(v)
    if codec in (RLE_FOR, BITPACK):
        lo = int(v.min()) if len(v) else 0
        shifted = (v - lo).astype(np.uint64)
        width = bitpack.width_from_max(int(shifted.max()) if len(v) else 0)
        head = np.int64(lo).tobytes() + bytes([width])
        if codec == RLE_FOR:
            return head + rle.encode(shifted, width)
        return head + bitpack.pack(shifted, width)
    raise ValueError(f"unknown codec {codec}")


def _decode_values(raw: bytes, dt: int, codec: int, count: int) -> pa.Array:
    if codec == MAP:
        n = int(np.frombuffer(raw[:4], dtype="<u4")[0])
        off_end = 4 + 4 * (n + 1)
        offsets = np.frombuffer(raw[4:off_end], dtype="<i4")
        kb_len = int(np.frombuffer(raw[off_end:off_end + 4], dtype="<u4")[0])
        kb_start = off_end + 4
        keys = decode_block(raw[kb_start:kb_start + kb_len])
        items = decode_block(raw[kb_start + kb_len:])
        return pa.MapArray.from_arrays(
            pa.array(offsets, type=pa.int32()), keys, items)
    if codec == LIST:
        n = int(np.frombuffer(raw[:4], dtype="<u4")[0])
        off_end = 4 + 4 * (n + 1)
        offsets = np.frombuffer(raw[4:off_end], dtype="<i4")
        blk_len = int(np.frombuffer(raw[off_end:off_end + 4], dtype="<u4")[0])
        child = decode_block(raw[off_end + 4:off_end + 4 + blk_len])
        return pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), child)
    if codec == DECFLOAT:
        scale = int(np.frombuffer(raw[:8], dtype="<i8")[0])
        ints = np.asarray(decode_block(raw[8:]), dtype=np.int64)
        v = ints.astype(np.float64) / scale
        if dt == DT_FLOAT32:
            v = v.astype(np.float32)
        return pa.array(v, type=_DT_ARROW[dt])
    if codec == BSS:
        from ..kernels import bss
        np_t = "<f8" if dt == DT_FLOAT64 else "<f4"
        return pa.array(bss.unsplit(raw, np_t, count), type=_DT_ARROW[dt])
    if codec == PLAIN:
        if dt in (DT_STRING, DT_BINARY):
            return plain.decode_strings(raw, binary=(dt == DT_BINARY))
        np_t = {DT_INT64: "<i8", DT_INT32: "<i4", DT_INT16: "<i2", DT_INT8: "<i1",
                DT_TIMESTAMP_US: "<i8", DT_DATE32: "<i4", DT_BOOL: "<u1",
                DT_DURATION_US: "<i8", DT_UINT64: "<i8", DT_UINT32: "<u4", DT_UINT16: "<u2",
                DT_UINT8: "<u1",
                DT_FLOAT64: "<f8", DT_FLOAT32: "<f4"}[dt]
        v = np.frombuffer(raw, dtype=np_t, count=count)
        if dt in (DT_FLOAT64, DT_FLOAT32):
            return pa.array(v, type=_DT_ARROW[dt])
        return _from_int_view(v.astype(np.int64), dt)
    if codec == DICT:
        if dt in (DT_STRING, DT_BINARY):
            return dictionary.decode_string(raw, count, binary=(dt == DT_BINARY))
        if dt in (DT_FLOAT64, DT_FLOAT32):
            np_t = "float64" if dt == DT_FLOAT64 else "float32"
            return pa.array(dictionary.decode_fixed(raw, np_t, count), type=_DT_ARROW[dt])
        labels = dictionary.decode_fixed(raw, "int64", count)
        return _from_int_view(labels, dt)
    if codec == FSST:
        return fsst.decode(raw)
    if codec == LINEDICT:
        return linedict.decode(raw)
    if codec == HEXPACK:
        return hexpack.decode(raw)
    if codec == DELTA:
        return _from_int_view(delta.decode(raw, count), dt)
    if codec in (RLE_FOR, BITPACK):
        lo = int(np.frombuffer(raw[:8], dtype="<i8")[0])
        width = raw[8]
        body = raw[9:]
        if codec == RLE_FOR:
            shifted = rle.decode(body, width, count)
        else:
            shifted = bitpack.unpack(body, width, count)
        return _from_int_view(shifted.astype(np.int64) + lo, dt)
    raise ValueError(f"unknown codec {codec}")


def encode_block(arr: pa.Array, codec: int, comp: int = compression.UNCOMPRESSED) -> bytes:
    """Encode one column chunk (arrow array, possibly with nulls) -> block."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_duration(arr.type) and arr.type.unit != "us":
        arr = arr.cast(pa.duration("us"))
    if pa.types.is_timestamp(arr.type) and arr.type.unit != "us":
        # Spark's native unit is microseconds (TimestampType); normalize.
        # Mirrors the reference's time-unit shifts (fastparquet/writer.py:381-386).
        arr = arr.cast(pa.timestamp("us"))
    if pa.types.is_decimal(arr.type):
        # reference semantics: DECIMAL decodes to float64
        # (fastparquet/converted_types.py:176-190)
        arr = arr.cast(pa.float64())
    if pa.types.is_fixed_size_binary(arr.type):
        # FIXED_LEN_BYTE_ARRAY parity (fastparquet/writer.py:278-279):
        # carried as variable binary; values are identical on decode
        arr = arr.cast(pa.binary())
    dt = dtype_id_for_arrow(arr.type)
    n = len(arr)
    n_nulls = arr.null_count
    payload = bytearray()
    if n_nulls:
        notnull = np.zeros(n, dtype=np.uint64)
        notnull[~np.asarray(arr.is_null())] = 1
        defs = rle.encode(notnull, 1)
        payload.extend(np.uint32(len(defs)).tobytes())
        payload.extend(defs)
        values = arr.drop_null()
    else:
        values = arr
    # child codec selection knows whether a block codec is downstream
    payload.extend(_encode_values(values, dt, codec,
                                  compressed=comp != compression.UNCOMPRESSED))
    raw = bytes(payload)
    body = compression.compress(raw, comp)
    header = (
        MAGIC
        + bytes([VERSION, codec, comp])
        + np.uint16(dt).tobytes()
        + np.uint32(n).tobytes()
        + np.uint32(n_nulls).tobytes()
        + np.uint64(len(raw)).tobytes()
    )
    return header + body


def decode_block(block: bytes) -> pa.Array:
    """Decode a block -> arrow array (with validity restored)."""
    if block[:4] != MAGIC:
        raise ValueError("bad block magic")
    version = block[4]
    codec = block[5]
    comp = block[6]
    if version != VERSION:
        raise ValueError(f"unsupported block version {version}")
    # u16 dtype (nested composition), 25-byte header
    dt = int(np.frombuffer(block[7:9], dtype="<u2")[0])
    n = int(np.frombuffer(block[9:13], dtype="<u4")[0])
    n_nulls = int(np.frombuffer(block[13:17], dtype="<u4")[0])
    body = block[25:]
    raw = compression.decompress(body, comp)
    pos = 0
    if n_nulls:
        def_len = int(np.frombuffer(raw[:4], dtype="<u4")[0])
        pos = 4 + def_len
        notnull = rle.decode(raw[4:pos], 1, n).astype(bool)
        if n_nulls == n:
            return pa.nulls(n, type=arrow_type_for_dtype_id(dt))
        vals = _decode_values(raw[pos:], dt, codec, n - n_nulls)
        # Re-expand: take with NULL indices at null positions (works for
        # every type incl. lists, unlike if_else)
        idx = np.zeros(n, dtype=np.int64)
        idx[notnull] = np.arange(n - n_nulls)
        idx_arr = pa.array(idx, mask=~notnull)
        return vals.take(idx_arr)
    return _decode_values(raw, dt, codec, n)
