"""Block encode/decode round-trips across dtypes, codecs, nulls, compression.

Mirrors the reference's full-frame roundtrip matrix
(fastparquet/test/test_output.py:103-133 scheme x row-groups x compression;
:201 nulls; :600,635 categoricals).
"""
import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from parquet_python_spark.kernels import compression
from parquet_python_spark.operators import encoder as enc
from parquet_python_spark.operators import selector


def _rt(arr: pa.Array, codec: int, comp: int = compression.UNCOMPRESSED):
    block = enc.encode_block(arr, codec, comp)
    out = enc.decode_block(block)
    return block, out


CASES = [
    (pa.array(np.arange(1000, dtype=np.int64)), [enc.PLAIN, enc.DELTA, enc.BITPACK, enc.RLE_FOR, enc.DICT]),
    (pa.array(np.arange(1000, dtype=np.int32)), [enc.PLAIN, enc.DELTA, enc.BITPACK]),
    (pa.array((np.arange(500) % 7).astype(np.int16)), [enc.PLAIN, enc.BITPACK, enc.DICT]),
    (pa.array(np.linspace(-5, 5, 777)), [enc.PLAIN]),
    (pa.array(np.linspace(0, 1, 333).astype(np.float32)), [enc.PLAIN]),
    (pa.array([True, False, True] * 100), [enc.PLAIN, enc.BITPACK]),
    (pa.array(["alpha", "beta", "gamma"] * 200), [enc.PLAIN, enc.DICT, enc.FSST]),
    (pa.array([b"\x00\x01", b"\xff" * 10, b""] * 50, type=pa.binary()), [enc.PLAIN, enc.DICT]),
    (pa.array(pd.date_range("2024-01-01", periods=400, freq="1h").as_unit("us")), [enc.PLAIN, enc.DELTA, enc.DICT]),
    (pa.array(pd.date_range("2020-01-01", periods=100).date, type=pa.date32()), [enc.PLAIN, enc.DELTA, enc.BITPACK]),
    (pa.array(np.full(100, -42, dtype=np.int64)), [enc.PLAIN, enc.RLE_FOR, enc.DELTA, enc.BITPACK]),
]


@pytest.mark.parametrize("arr,codecs", CASES, ids=lambda c: str(getattr(c, "type", c))[:30])
def test_block_roundtrip(arr, codecs):
    for codec in codecs:
        _, out = _rt(arr, codec)
        assert out.equals(arr), f"codec {enc.CODEC_NAMES[codec]} failed for {arr.type}"


@pytest.mark.parametrize("comp", sorted(compression.compressors))
def test_compression_roundtrip(comp):
    arr = pa.array(["hello compression"] * 500)
    _, out = _rt(arr, enc.DICT, comp)
    assert out.equals(arr)


def test_nulls_roundtrip(rng):
    v = rng.integers(0, 100, size=1000).astype("float64")
    v[rng.random(1000) < 0.1] = np.nan
    ints = pd.array(rng.integers(0, 100, size=1000), dtype="Int64")
    ints[rng.random(1000) < 0.3] = pd.NA
    strs = pd.array(["x", "yy", None, "zzz"] * 250)
    for data in [pa.array(ints), pa.array(strs), pa.Array.from_pandas(pd.Series(v).where(pd.Series(v).notna()))]:
        for codec in ([enc.PLAIN, enc.DICT] if data.type != pa.float64() else [enc.PLAIN]):
            block = enc.encode_block(data, codec)
            out = enc.decode_block(block)
            assert out.equals(data), f"{data.type} {enc.CODEC_NAMES[codec]}"


def test_v1_block_header_raises():
    """Nothing writes v1 blocks; decode names the version it refuses."""
    blk = bytearray(enc.encode_block(pa.array([1, 2, 3]), enc.PLAIN))
    assert blk[4] == enc.VERSION
    blk[4] = 1
    with pytest.raises(ValueError, match="block version 1"):
        enc.decode_block(bytes(blk))


def test_all_null_roundtrip():
    arr = pa.array([None, None, None], type=pa.int64())
    _, out = _rt(arr, enc.PLAIN)
    assert out.equals(arr)


def test_empty_roundtrip():
    arr = pa.array([], type=pa.string())
    _, out = _rt(arr, enc.PLAIN)
    assert len(out) == 0


# ---------- selector ----------

def test_selector_picks_dict_for_low_card():
    arr = pa.array(["python", "rust", "go"] * 5000)
    assert selector.choose(arr).codec == enc.DICT


def test_selector_picks_delta_for_sorted():
    arr = pa.array(np.arange(10**6) * 1000 + 5)
    c = selector.choose(arr)
    assert c.codec == enc.DELTA


def test_selector_picks_bitpack_for_small_range(rng):
    arr = pa.array(rng.integers(0, 16, size=100000).astype(np.int64))
    c = selector.choose(arr)
    assert c.codec in (enc.BITPACK, enc.DICT)
    # verify the pick actually beats plain
    chosen = len(enc.encode_block(arr, c.codec))
    plain_sz = len(enc.encode_block(arr, enc.PLAIN))
    assert chosen < plain_sz / 4


def test_selector_avoids_dict_for_high_card(rng):
    # commit-hash-like strings: selector must NOT pick dict
    strs = ["%040x" % int(x) for x in rng.integers(0, 2**63, size=5000)]
    arr = pa.array(strs)
    c = selector.choose(arr)
    assert c.codec != enc.DICT


def test_selector_fsst_for_code_text(rng):
    kw = ["def foo(self, x):\n    return x + 1\n", "import os\nimport sys\n",
          "for i in range(10):\n    print(i)\n"]
    strs = [kw[int(i)] * int(r) for i, r in zip(rng.integers(0, 3, 2000), rng.integers(1, 20, 2000))]
    arr = pa.array(strs)
    c = selector.choose(arr)
    # low distinct ratio -> dict also valid; both must beat plain
    assert c.codec in (enc.FSST, enc.DICT)
    chosen = len(enc.encode_block(arr, c.codec))
    plain_sz = len(enc.encode_block(arr, enc.PLAIN))
    assert chosen < plain_sz / 2


def test_selector_roundtrip_all_choices(rng):
    arrays = [
        pa.array(rng.integers(0, 3, 1000).astype(np.int64)),
        pa.array(np.sort(rng.integers(0, 10**9, 1000)).astype(np.int64)),
        pa.array(rng.standard_normal(1000)),
        pa.array([f"user_{i%50}@example.com" for i in range(1000)]),
        pa.array(rng.standard_normal(1000) > 0),
    ]
    for arr in arrays:
        c = selector.choose(arr)
        block = enc.encode_block(arr, c.codec)
        assert enc.decode_block(block).equals(arr)


def test_dict_float_roundtrip(rng):
    # regression: selector picks DICT for low-card floats (l_quantity-like);
    # the int view must not truncate
    arr = pa.array((rng.integers(1, 51, 5000) + 0.5).astype("float64"))
    c = selector.choose(arr)
    assert c.codec == enc.DICT
    assert enc.decode_block(enc.encode_block(arr, enc.DICT)).equals(arr)
    arr32 = arr.cast(pa.float32())
    assert enc.decode_block(enc.encode_block(arr32, enc.DICT)).equals(arr32)


# -------------------------------------------------- unsigned converted types

import numpy as _np
import pyarrow as _pa
import pytest as _pytest

from parquet_python_spark.operators import encoder as _enc
from parquet_python_spark.operators import selector as _sel


@_pytest.mark.parametrize("arr", [
    _pa.array(_np.array([0, 1, 255, 128], dtype=_np.uint8)),
    _pa.array(_np.array([0, 65535, 4242], dtype=_np.uint16)),
    _pa.array(_np.array([0, 2**32 - 1, 7], dtype=_np.uint32)),
    _pa.array(_np.array([0, 2**64 - 1, 2**63, 42], dtype=_np.uint64)),
    _pa.array([1, None, 2**63 + 5], type=_pa.uint64()),
], ids=["u8", "u16", "u32", "u64-extremes", "u64-nulls"])
def test_uint_roundtrip_selected_codec(arr):
    """UINT_8..64 converted-type parity (reference
    fastparquet/converted_types.py:149-248): exact arrow roundtrip through
    the auto-selected codec, including uint64 values above int64 max."""
    c = _sel.choose(arr)
    dec = _enc.decode_block(_enc.encode_block(arr, c.codec))
    assert dec.equals(arr) or dec.cast(arr.type).equals(arr), c.codec_name


@_pytest.mark.parametrize("codec", [_enc.PLAIN, _enc.DICT, _enc.BITPACK,
                                    _enc.RLE_FOR, _enc.DELTA])
def test_uint64_every_int_codec(codec):
    arr = _pa.array(_np.array([2**64 - 1, 0, 2**63, 12345, 2**63 - 1],
                              dtype=_np.uint64))
    dec = _enc.decode_block(_enc.encode_block(arr, codec))
    assert dec.equals(arr)


def test_uint_spark_promotion():
    assert _enc.spark_safe_arrow_type(_enc.DT_UINT8) == _pa.int16()
    assert _enc.spark_safe_arrow_type(_enc.DT_UINT16) == _pa.int32()
    assert _enc.spark_safe_arrow_type(_enc.DT_UINT32) == _pa.int64()
    with _pytest.raises(TypeError):
        _enc.spark_safe_arrow_type(_enc.DT_UINT64)


# ------------------------------------------------------------ pseudodecimal

def test_decfloat_roundtrip_and_wins():
    """k-decimal floats (prices, rates) encode as scaled ints — exact by
    validated construction, and strictly smaller than PLAIN."""
    import pyarrow.parquet as pq
    t = pq.read_table("/root/testdata/sf0.001/lineitem.parquet")
    for c in ("l_quantity", "l_extendedprice", "l_discount"):
        arr = t[c].combine_chunks()
        ch = _sel.choose(arr)
        assert ch.codec_name == "decfloat", c
        blk = _enc.encode_block(arr, ch.codec)
        assert _enc.decode_block(blk).equals(arr), c
        assert len(blk) < len(_enc.encode_block(arr, _enc.PLAIN)), c


def test_decfloat_rejects_irrational_and_negzero():
    assert _enc.decfloat_scale(_np.array([3.14159265358979])) is None
    assert _enc.decfloat_scale(_np.array([1.0, -0.0])) is None
    assert _enc.decfloat_scale(_np.array([1.0, _np.nan])) is None
    assert _enc.decfloat_scale(_np.array([_np.inf])) is None
    arr = pa.array([1.5, 2.25], type=pa.float64())
    import pytest as pt
    with pt.raises(ValueError):
        _enc.encode_block(pa.array([3.14159265358979]), _enc.DECFLOAT)


def test_decfloat_float32():
    import pyarrow as _pa2
    v = _np.array([1.5, 2.25, -7.75, 0.0], dtype=_np.float32)
    arr = _pa2.array(v, type=_pa2.float32())
    blk = _enc.encode_block(arr, _enc.DECFLOAT)
    assert _enc.decode_block(blk).equals(arr)


def test_decfloat_nulls():
    arr = pa.array([1.25, None, 3.5], type=pa.float64())
    c = _sel.choose(arr)
    blk = _enc.encode_block(arr, c.codec)
    assert _enc.decode_block(blk).equals(arr)


# ---------------------------------------------------------- BYTE_STREAM_SPLIT

def test_bss_roundtrip_and_compression_gain():
    """BYTE_STREAM_SPLIT (parquet encoding 9 — the reference lists it but
    raises NotImplementedError on read, core.py:422-426): byte-plane
    transpose is size-identical raw but compresses better; chosen only
    when a block codec is downstream."""
    from parquet_python_spark.kernels import compression as comp

    rng = _np.random.default_rng(7)
    arr = pa.array(rng.standard_normal(10000).astype(_np.float32),
                   type=pa.float32())
    assert _sel.choose(arr).codec_name == "plain"
    c = _sel.choose(arr, compressed=True)
    assert c.codec_name == "bss"
    gz = comp.resolve("GZIP")
    blk_bss = _enc.encode_block(arr, _enc.BSS, gz)
    blk_plain = _enc.encode_block(arr, _enc.PLAIN, gz)
    assert _enc.decode_block(blk_bss).equals(arr)
    assert len(blk_bss) < len(blk_plain)


def test_bss_handles_nulls_and_specials():
    a = pa.array([1.5, None, float("inf"), -0.0, 2.5e300, float("nan")],
                 type=pa.float64())
    d = _enc.decode_block(_enc.encode_block(a, _enc.BSS))
    import math
    got, want = d.to_pylist(), a.to_pylist()
    assert len(got) == len(want)
    for g, w in zip(got, want):
        if w is None or (isinstance(w, float) and math.isnan(w)):
            assert g is None or math.isnan(g)
        else:
            assert g == w


# ----------------------------------------------------- day-time interval

def test_duration_interval_roundtrip():
    """INTERVAL converted-type parity (reference converted_types typemap):
    Spark DayTimeIntervalType <-> arrow duration[us] through int codecs."""
    a = _pa.array(_np.array([1, -5, 10**12, 0], dtype="timedelta64[us]"))
    c = _sel.choose(a)
    assert _enc.decode_block(_enc.encode_block(a, c.codec)).equals(a)
    an = _pa.array([1, None, -7], type=_pa.duration("us"))
    assert _enc.decode_block(_enc.encode_block(an, _enc.PLAIN)).equals(an)
    # ns durations normalize when lossless; sub-us values raise (safe cast)
    ok = _pa.array(_np.array([5000, 6000], dtype="timedelta64[ns]"))
    d = _enc.decode_block(_enc.encode_block(ok, _enc.PLAIN))
    assert d.equals(ok.cast(_pa.duration("us")))


def test_duration_through_spark_pipeline(spark, tmp_path):
    from pyspark.sql import functions as F

    from parquet_python_spark.operators import pipeline as pl

    src = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
           .withColumn("age", F.expr("timestamp'2001-01-01' - ts"))
           .withColumn("repo", (F.col("user_id") % 5).cast("string"))
           .withColumn("path", F.col("event_id").cast("string"))
           .withColumn("commit", F.lit("0")))
    blocks = pl.encode_table(src, columns=["event_id", "age"]).persist()
    dec = pl.decode_blocks(blocks)
    assert dict(dec.dtypes)["age"].startswith("interval day")
    a = dec.select("event_id", "age")
    b = src.select("event_id", "age")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
