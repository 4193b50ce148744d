"""Kernel unit tests: parquet-format spec vectors + randomized round-trips.

Mirrors the reference's test strategy (fastparquet/test/test_encoding.py:
spec examples; test_output.py:21-79: randomized encode/decode equality).
"""
import numpy as np
import pyarrow as pa
import pytest

from parquet_python_spark.kernels import bitpack, delta, dictionary, fsst, plain, rle, varint


# ---------- bitpack ----------

def test_bitpack_spec_example():
    # parquet-format spec: values 0..7 at width 3 -> 0x88 0xC6 0xFA
    # (reference: fastparquet/test/test_encoding.py:91-104)
    vals = np.arange(8, dtype=np.uint64)
    packed = bitpack.pack(vals, 3)
    assert packed == bytes([0b10001000, 0b11000110, 0b11111010])
    out = bitpack.unpack(packed, 3, 8)
    assert (out == vals).all()


def test_bitpack_every_width_and_ragged_lengths(rng):
    # full sweep incl. byte-aligned fast paths (24/40/48/56) and the >56
    # unpackbits fallback; ragged n exercises trailing pad bits
    for width in range(1, 65):
        hi = 1 << width
        for n in (0, 1, 7, 9):
            vals = (rng.integers(0, min(hi, 2**63 - 1), size=n,
                                 endpoint=True).astype(np.uint64) % hi)
            packed = bitpack.pack(vals, width)
            assert len(packed) == (n * width + 7) // 8
            assert (bitpack.unpack(packed, width, n) == vals).all()


@pytest.mark.parametrize("width", [1, 2, 3, 5, 7, 8, 13, 16, 23, 32, 47, 64])
def test_bitpack_roundtrip(width, rng):
    n = 1000
    hi = (1 << width) - 1
    vals = rng.integers(0, min(hi, 2**63 - 1), size=n, endpoint=True).astype(np.uint64)
    packed = bitpack.pack(vals, width)
    assert len(packed) == (n * width + 7) // 8
    out = bitpack.unpack(packed, width, n)
    assert (out == vals).all()


def test_width_from_max():
    # reference: cencoding.pyx:55-61 semantics
    assert [bitpack.width_from_max(x) for x in [0, 1, 2, 3, 4, 255, 256]] == [0, 1, 2, 2, 3, 8, 9]


# ---------- varint / zigzag ----------

def test_uvarint_boundaries():
    # reference: fastparquet/test/test_encoding.py:73-88
    for v in [0, 1, 127, 128, 16383, 16384, 2097151, 2097152, 2**40]:
        buf = varint.encode_uvarint(v)
        out, pos = varint.decode_uvarint(buf, 0)
        assert out == v and pos == len(buf)


def test_zigzag_roundtrip(rng):
    v = rng.integers(-(2**62), 2**62, size=1000).astype(np.int64)
    assert (varint.zigzag_decode(varint.zigzag_encode(v)) == v).all()
    for s in [-1, 0, 1, -2**63, 2**63 - 1]:
        assert varint.zigzag_decode_scalar(varint.zigzag_encode_scalar(s)) == s


# ---------- RLE/BP hybrid ----------

def test_rle_single_run():
    # single RLE run decode (reference: test_encoding.py:62-69)
    vals = np.full(100, 7, dtype=np.uint64)
    raw = rle.encode(vals, 3)
    # header varint (100<<1=200 -> 2 bytes) + 1 value byte
    assert len(raw) == 3
    assert (rle.decode(raw, 3, 100) == 7).all()


def test_rle_mixed_runs(rng):
    parts = []
    for _ in range(50):
        if rng.random() < 0.5:
            parts.append(np.full(rng.integers(1, 100), rng.integers(0, 31), dtype=np.uint64))
        else:
            parts.append(rng.integers(0, 31, size=rng.integers(1, 50)).astype(np.uint64))
    vals = np.concatenate(parts)
    raw = rle.encode(vals, 5)
    out = rle.decode(raw, 5, len(vals))
    assert (out == vals).all()


@pytest.mark.parametrize("width", [1, 2, 8, 20, 33, 64])
def test_rle_random(width, rng):
    vals = rng.integers(0, (1 << min(width, 62)) - 1, size=3333, endpoint=True).astype(np.uint64)
    assert (rle.decode(rle.encode(vals, width), width, len(vals)) == vals).all()


def test_rle_beats_bp_on_runs():
    vals = np.repeat(np.arange(10, dtype=np.uint64), 1000)
    raw = rle.encode(vals, 4)
    assert len(raw) < 100  # 10 RLE runs, not 5000 packed bytes


# ---------- DELTA_BINARY_PACKED ----------

def test_delta_spec_example_1():
    # parquet spec example: 1,2,3,4,5 (reference: test_encoding.py:133-152)
    v = np.array([1, 2, 3, 4, 5], dtype=np.int64)
    assert (delta.decode(delta.encode(v)) == v).all()


def test_delta_spec_example_2():
    # parquet spec example: 7,5,3,1,2,3,4,5 with negative min_delta
    v = np.array([7, 5, 3, 1, 2, 3, 4, 5], dtype=np.int64)
    assert (delta.decode(delta.encode(v)) == v).all()


@pytest.mark.parametrize("n", [0, 1, 2, 127, 128, 129, 1000, 4096])
def test_delta_sizes(n, rng):
    v = np.cumsum(rng.integers(-5, 100, size=n)).astype(np.int64)
    assert (delta.decode(delta.encode(v)) == v).all()


def test_delta_sorted_is_small(rng):
    v = np.arange(100000, dtype=np.int64)
    raw = delta.encode(v)
    assert len(raw) < 100000 * 8 / 50  # >50x smaller than plain


def test_delta_negative_and_extremes(rng):
    v = rng.integers(-(2**40), 2**40, size=1000).astype(np.int64)
    assert (delta.decode(delta.encode(v)) == v).all()


# ---------- dictionary ----------

def test_dict_string_roundtrip(rng):
    labels = np.array(["spark", "flink", "trino", "duck", "ray"])
    vals = labels[rng.integers(0, 5, size=5000)]
    arr = pa.array(vals, type=pa.string())
    raw = dictionary.encode_string(arr)
    out = dictionary.decode_string(raw, len(arr))
    assert out.equals(arr)
    assert len(raw) < 5000  # codes at 3 bits + tiny label block


def test_dict_fixed_roundtrip(rng):
    v = rng.integers(0, 50, size=10000).astype(np.int64) * 1000
    raw = dictionary.encode_fixed(v)
    out = dictionary.decode_fixed(raw, "int64", len(v))
    assert (out == v).all()


# ---------- plain ----------

def test_plain_strings_roundtrip():
    arr = pa.array(["", "a", "hello world", "x" * 1000, "ünïcodé ✓"])
    out = plain.decode_strings(plain.encode_strings(arr))
    assert out.equals(arr)


def test_plain_strings_sliced():
    arr = pa.array(["aa", "bb", "cc", "dd"]).slice(1, 2)
    out = plain.decode_strings(plain.encode_strings(arr))
    assert out.to_pylist() == ["bb", "cc"]


def test_plain_fixed_roundtrip(rng):
    for dt in ["int64", "int32", "float64", "float32"]:
        v = rng.integers(-1000, 1000, size=100).astype(dt)
        out = plain.decode_fixed(plain.encode_fixed(v), dt, len(v))
        assert (out == v).all()


# ---------- FSST ----------

def _code_like_strings(n, rng):
    kw = ["def ", "return ", "import numpy as np", "for i in range(",
          "    if x == None:", "class Foo(object):", "self.value = ",
          "# TODO fix this", "print(f'{x}')", "lambda x: x + 1"]
    return ["\n".join(rng.choice(kw, size=rng.integers(1, 30)).tolist()) for _ in range(n)]


def test_fsst_roundtrip_code(rng):
    strings = _code_like_strings(500, rng)
    arr = pa.array(strings, type=pa.string())
    raw = fsst.encode(arr)
    out = fsst.decode(raw)
    assert out.to_pylist() == strings
    plain_size = sum(len(s.encode()) for s in strings)
    assert len(raw) < plain_size  # must actually compress code-like text


def test_fsst_empty_and_edge():
    for strings in [[], [""], ["", "", ""], ["a"], ["\x00\xff ascii"], ["x" * 10000]]:
        arr = pa.array(strings, type=pa.string())
        assert fsst.decode(fsst.encode(arr)).to_pylist() == strings


def test_fsst_random_bytes(rng):
    # incompressible input must still round-trip (escape path)
    strings = ["".join(chr(c) for c in rng.integers(1, 0x250, size=50)) for _ in range(100)]
    arr = pa.array(strings, type=pa.string())
    assert fsst.decode(fsst.encode(arr)).to_pylist() == strings


def test_fsst_unicode(rng):
    strings = ["héllo wörld ✓ " * 5, "日本語テキスト", "emoji 🎉🎊", ""]
    arr = pa.array(strings, type=pa.string())
    assert fsst.decode(fsst.encode(arr)).to_pylist() == strings


def test_greedy_left_mask_equals_index_path(rng):
    """The density-adaptive merge pass must pick IDENTICAL positions on
    both formulations — across sparse, dense, all-True, all-False, and
    run-boundary masks (the mask path's run-offset parity must agree with
    the index path's diff-based run detection everywhere)."""
    import numpy as np

    cases = [np.zeros(0, dtype=bool), np.zeros(5, dtype=bool),
             np.ones(1, dtype=bool), np.ones(7, dtype=bool)]
    for p in (0.01, 0.2, 0.5, 0.9, 0.999):
        for n in (1, 2, 3, 100, 65537):
            cases.append(rng.random(n) < p)
    for cand in cases:
        idx = fsst._greedy_left(cand)
        mask = fsst._greedy_left_mask(cand)
        assert np.array_equal(np.flatnonzero(mask), idx)
        # greedy-left invariant: no two chosen positions adjacent
        if len(idx) > 1:
            assert (np.diff(idx) >= 2).all()


def test_fsst_encode_deterministic_across_paths(rng, monkeypatch):
    """Same input encodes to identical bytes regardless of which greedy
    path density selects (locks the adaptive switch out of the output):
    the dense branch's mask selection is swapped for the sparse path's
    index selection, and the output must not change."""
    strings = _code_like_strings(300, rng)
    arr = pa.array(strings, type=pa.string())
    want = fsst.encode(arr)
    dense_calls = []

    def sparse_selection_mask(cand):
        dense_calls.append(len(cand))
        mask = np.zeros(len(cand), dtype=bool)
        mask[fsst._greedy_left(cand)] = True
        return mask

    monkeypatch.setattr(fsst, "_greedy_left_mask", sparse_selection_mask)
    assert fsst.encode(arr) == want
    assert dense_calls, "the dense branch never ran"
