"""Size model of the reference's written output — the "≤ reference
PLAIN_DICTIONARY/RLE size" comparison target (BASELINE.json north_star).

fastparquet is not installed in this container, so we compute the byte size
it *would* write for a column chunk, following its write path exactly:

* page layout / headers: ``write_column`` fastparquet/writer.py:487-758 —
  one dictionary page (if categorical) + data pages (≤ 500 MiB,
  ``_rows_per_page`` writer.py:454-484; at our block sizes always 1 page);
* PLAIN values: ``encode_plain`` writer.py:389-395 — numerics raw LE;
  byte arrays as 4-byte length + bytes each (``pack_byte_array``
  speedups.pyx:55-89);
* dictionary page: PLAIN-encoded labels, data page holds 1 byte bit-width
  + RLE/BP hybrid with a single bit-packed run (``encode_dict``
  writer.py:398-408: varint header ``(n/8)<<1|1`` + packed codes);
* definition levels for OPTIONAL no-null columns: 4-byte length +
  single RLE run (``make_definitions`` writer.py:424-434); with nulls:
  4-byte length + varint header + bit-packed notnull flags
  (writer.py:435-451);
* thrift compact PageHeader: field-exact accounting of what
  ``ThriftObject.from_fields`` serializes (writer.py:636-659 header fields;
  compact protocol rules cencoding.pyx:737-897).

The model is used as an upper bound to assert our selector's output is
never larger than what the reference would write for the same data.
"""
from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401 — binds pa.compute


def _varint_size(v: int) -> int:
    if v == 0:
        return 1
    n = 0
    while v > 0:
        v >>= 7
        n += 1
    return n


def _zigzag_size(v: int) -> int:
    return _varint_size((v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1)


def _page_header_size(compressed: int, uncompressed: int, num_values: int,
                      is_dict: bool) -> int:
    """Compact-thrift PageHeader as fastparquet writes it
    (writer.py:636-659 / 601-631): fields type(i32), uncompressed_page_size,
    compressed_page_size, then DataPageHeader{num_values, encoding,
    definition_level_encoding, repetition_level_encoding} or
    DictionaryPageHeader{num_values, encoding}."""
    size = 0
    size += 1 + _zigzag_size(2 if is_dict else 0)   # type enum
    size += 1 + _zigzag_size(uncompressed)          # uncompressed_page_size
    size += 1 + _zigzag_size(compressed)            # compressed_page_size
    # nested header struct: field header + stop byte
    if is_dict:
        inner = 1 + _zigzag_size(num_values) + 1 + _zigzag_size(2) + 1
        size += 1 + inner
    else:
        inner = (1 + _zigzag_size(num_values)
                 + 1 + _zigzag_size(0)   # encoding (PLAIN) or RLE_DICTIONARY(8)
                 + 1 + _zigzag_size(3)   # definition_level_encoding = RLE
                 + 1 + _zigzag_size(3)   # repetition_level_encoding = RLE
                 + 1)                    # stop
        size += 1 + inner
    size += 1  # outer stop byte
    return size


def _def_levels_size(n: int, n_nulls: int) -> int:
    """make_definitions, writer.py:417-451 (OPTIONAL column)."""
    if n_nulls == 0:
        # single RLE run with 4-byte length prefix: varint(n<<1) + value byte
        return 4 + _varint_size(n << 1) + 1
    # bit-packed notnull flags: 4-byte length + varint header + ceil(n/8)
    packed = (n + 7) // 8
    return 4 + _varint_size(((n + 7) // 8) << 1 | 1) + packed


def _plain_values_size(arr: pa.Array) -> int:
    t = arr.type
    nv = len(arr) - arr.null_count
    if pa.types.is_string(t) or pa.types.is_large_string(t) \
            or pa.types.is_binary(t):
        data = pa.compute.sum(pa.compute.binary_length(arr.drop_null())).as_py() or 0
        return int(data) + 4 * nv          # pack_byte_array: 4-byte len each
    if pa.types.is_boolean(t):
        return (nv + 7) // 8               # np.packbits path writer.py:241-246
    bw = t.bit_width // 8 if hasattr(t, "bit_width") else 8
    return nv * bw


def reference_plain_size(arr: pa.Array) -> int:
    """Bytes fastparquet writes for this chunk with its default dispatch
    (encoding="PLAIN", writer.py:519) — def levels + PLAIN page."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    vals = _plain_values_size(arr)
    defs = _def_levels_size(n, arr.null_count)
    body = defs + vals
    return _page_header_size(body, body, n, is_dict=False) + body


def reference_dict_size(arr: pa.Array) -> int:
    """Bytes fastparquet writes when the column is pandas-categorical
    (PLAIN dict page + RLE_DICTIONARY codes page, writer.py:601-631)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    vals = arr.drop_null()
    uniq = pa.compute.unique(vals)
    dict_vals = _plain_values_size(uniq)
    dict_page = _page_header_size(dict_vals, dict_vals, len(uniq), is_dict=True) + dict_vals
    width = max(int(len(uniq) - 1).bit_length(), 1)
    packed = (((len(vals) + 7) // 8) * 8 * width) // 8
    codes = 4 + 1 + _varint_size(((len(vals) + 7) // 8) << 1 | 1) + packed
    defs = _def_levels_size(n, arr.null_count)
    body = defs + codes
    data_page = _page_header_size(body, body, n, is_dict=False) + body
    return dict_page + data_page


def reference_best_size(arr: pa.Array) -> int:
    """The best the reference could do on this chunk: min(PLAIN, dict) —
    dict only when the label space fits its categorical path
    (core.py:501-504 caps labels by dtype)."""
    plain = reference_plain_size(arr)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    try:
        nuniq = len(pa.compute.unique(arr.drop_null()))
    except pa.ArrowNotImplementedError:
        return plain
    if nuniq >= 2 ** 31:
        return plain
    return min(plain, reference_dict_size(arr))
