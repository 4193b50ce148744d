"""Per-block Bloom filters for equality pruning.

Min/max stats cannot prune ``col == v`` on a high-cardinality unsorted
column (every block's [min, max] spans the whole domain), which is exactly
the lookup shape a 100-TB store serves constantly: fetch by content hash,
path, commit, doc id.  The parquet format solves this with per-column-chunk
split-block Bloom filters (parquet-format BloomFilter.md; the reference
predates them — fastparquet/api.py:1125-1183 prunes on stats only).  This
module is our equivalent over blockstore metadata rows:

* ``build(arr)`` runs at encode time on the DISTINCT values of a page and
  returns the filter as ``list[int64]`` words, stored in the nullable
  ``bloom`` column of the block row.  Sizing: ``BITS_PER_DISTINCT`` bits
  per distinct value rounded up to a power of two (so probe positions are
  a mask, not a mod), capped at ``MAX_BITS`` — pages too distinct to fit
  usefully store NULL and simply stay unprunable.
* probing runs on the driver, in the planner of a filtered decode: it
  hashes each filter LITERAL once (``hash_pair_int`` /
  ``hash_pair_bytes``) and ``maybe_contains_many`` tests the K probe
  positions against every page's stored words at once (numpy over the
  flattened list column, no per-page Python).  Only the payload-free
  metadata columns reach the driver, so pruning scales with metadata
  rows, not store bytes.

Hash: double hashing h(i) = h1 + i*h2 (Kirsch-Mitzenmacher) over two
independent 32-bit streams of the value's canonical rendering —
vectorized over the whole distinct set (r5; the previous per-value
crc32 loop was ~30% of total encode CPU at page granularity):

* integer-view values hash NUMERICALLY with splitmix64 on the int64
  (one numpy pass, no byte rendering at all);
* strings/binary hash with pandas' C siphash (``pd.util.hash_array``,
  two fixed 16-byte keys = two streams; one C pass over the array).

Both streams are masked to 32 bits.  The stream definitions are a FORMAT
CONSTANT: build (executor) and probe (driver literal hashing) must move
together, and stores persist their filters.
False positives only cost a wasted decode (the exact re-filter still
runs); false negatives are impossible because every non-null value's
bits are set from the same canonical rendering the probe uses.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute  # noqa: F401 — binds pa.compute

K = 4                    # probes per value
BITS_PER_DISTINCT = 10   # ~1.2% false-positive rate at k=4
MIN_BITS = 1 << 9        # 64 B floor — tiny pages still get a real filter
MAX_BITS = 1 << 21       # 256 KiB cap; beyond it fpp makes pruning useless
# skip string pages whose average value exceeds this: equality point-
# lookup on kilobyte-long document bodies is not a realistic access path,
# and crc32-scanning them was 26% of total encode CPU (profiled r3) —
# id-like columns (paths, commits, shas, keys) stay well under the cap
MAX_AVG_LEN = 256
# format constants: the two independent hash streams (see module docstring)
_HK1 = "5f4dcc3b5aa765d6"        # siphash key, stream 1 (strings/binary)
_HK2 = "61d8c32f0a9b4e17"        # siphash key, stream 2
_INT_SALT = np.uint64(0xA5A5A5A5A5A5A5A5)  # stream-2 pre-xor (integers)
_M32 = np.uint64(0xFFFFFFFF)


def _next_pow2(n: int) -> int:
    return 1 << max(int(n) - 1, 1).bit_length()


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Fenwick/Steele splitmix64 finalizer — uint64 in/out, vectorized."""
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _pairs_int(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) streams for an int64 array (h2 forced odd so the probe
    sequence visits K distinct positions in a power-of-two table)."""
    u = x.astype(np.int64, copy=False).view(np.uint64)
    h1 = _splitmix64(u) & _M32
    h2 = (_splitmix64(u ^ _INT_SALT) & _M32) | np.uint64(1)
    return h1, h2


def _pairs_bytes(obj: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) streams for an object array of bytes/str — one C siphash
    pass per stream, no per-value Python."""
    h1 = pd.util.hash_array(obj, hash_key=_HK1, categorize=False) & _M32
    h2 = (pd.util.hash_array(obj, hash_key=_HK2, categorize=False)
          & _M32) | np.uint64(1)
    return h1, h2


def hash_pair_int(x: int) -> tuple[int, int]:
    """Driver-side single-value probe hash, integer rendering."""
    h1, h2 = _pairs_int(np.array([x], dtype=np.int64))
    return int(h1[0]), int(h2[0])


def hash_pair_bytes(b: bytes) -> tuple[int, int]:
    """Driver-side single-value probe hash, string/binary rendering."""
    h1, h2 = _pairs_bytes(np.array([b], dtype=object))
    return int(h1[0]), int(h2[0])


def build(arr: pa.Array, is_string: bool) -> list[int] | None:
    """Bloom words for one page's distinct non-null values, or None when
    the page is all-null / unhashable / too distinct to filter usefully."""
    vals = arr.drop_null()
    if len(vals) == 0:
        return None
    # cheap pre-gate BEFORE unique: a page whose RAW average length already
    # busts the cap is a long-text page (document bodies), and unique()
    # itself hashes every byte — profiled at ~15% of total encode CPU spent
    # uniquing pages the distinct-length gate below then rejected anyway.
    # Kept conservative (4x) so mixed pages still reach the exact gate.
    if is_string and vals.nbytes > 4 * MAX_AVG_LEN * len(vals):
        return None
    try:
        uniq = pa.compute.unique(vals)
    except pa.ArrowNotImplementedError:
        return None
    n_distinct = len(uniq)
    if n_distinct * BITS_PER_DISTINCT > MAX_BITS:
        return None
    if is_string and uniq.nbytes > MAX_AVG_LEN * n_distinct:
        return None
    try:
        if is_string:
            obj = uniq.cast(pa.large_binary()).to_numpy(
                zero_copy_only=False)
            h1, h2 = _pairs_bytes(obj)
        else:
            # integer view: timestamps/dates hash their raw int64 units
            ints = uniq.cast(pa.int64()).to_numpy(zero_copy_only=False)
            h1, h2 = _pairs_int(np.asarray(ints, dtype=np.int64))
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return None
    m = min(max(_next_pow2(n_distinct * BITS_PER_DISTINCT), MIN_BITS),
            MAX_BITS)
    ks = np.arange(K, dtype=np.uint64)[None, :]
    pos = (h1[:, None] + ks * h2[:, None]) & np.uint64(m - 1)
    words = np.zeros(m // 64, dtype=np.uint64)
    np.bitwise_or.at(words, (pos >> np.uint64(6)).ravel(),
                     np.uint64(1) << (pos & np.uint64(63)).ravel())
    return words.view(np.int64).tolist()


def maybe_contains_many(words, h1: int, h2: int) -> np.ndarray:
    """Probe one value's hash pair against many filters: ``words`` is a
    list array (or chunked list array) of filter words, one filter per
    row.  Returns a bool ndarray, True where the value may be present.  A
    NULL or empty filter keeps its row (True): it rules nothing out.
    Positions are taken modulo 2^64 before the power-of-two mask, which
    leaves them unchanged: the mask keeps only low bits."""
    if isinstance(words, pa.ChunkedArray):
        words = (words.combine_chunks() if words.num_chunks
                 else pa.array([], words.type))
    sizes = np.asarray(pa.compute.list_value_length(words).fill_null(0),
                       dtype=np.int64)
    out = np.ones(len(words), dtype=bool)
    live = np.flatnonzero(sizes > 0)
    if not len(live):
        return out
    flat = np.asarray(words.values, dtype=np.int64).view(np.uint64)
    base = np.asarray(words.offsets, dtype=np.int64)[live]
    mask = (sizes[live] * 64 - 1).astype(np.uint64)
    hit = np.ones(len(live), dtype=bool)
    for i in range(K):
        p = np.uint64((int(h1) + i * int(h2)) & 0xFFFF_FFFF_FFFF_FFFF) & mask
        w = flat[base + (p >> np.uint64(6)).astype(np.int64)]
        hit &= ((w >> (p & np.uint64(63))) & np.uint64(1)).astype(bool)
    out[live] = hit
    return out


def maybe_contains(words: list[int], v: bytes | int) -> bool:
    """Probe one filter for one value (tests and driver-side checks):
    ``maybe_contains_many`` over a single row.  Pass bytes for the string
    rendering, an int for the integer one."""
    h1, h2 = (hash_pair_int(v) if isinstance(v, int)
              else hash_pair_bytes(v))
    return bool(maybe_contains_many(
        pa.array([words], pa.list_(pa.int64())), h1, h2)[0])
