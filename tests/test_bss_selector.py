"""BYTE_STREAM_SPLIT selection under block compression (r3): full-precision
doubles (no exact decimal scale) must route to bss when its byte planes
compress better than PLAIN, and the roundtrip must stay bit-identical
through GZIP.  Write-side BSS exceeds reference support (fastparquet
raises on encoding 9 at write; read support only)."""
import numpy as np
import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from parquet_python_spark.kernels import compression as comp
from parquet_python_spark.operators import encoder as enc
from parquet_python_spark.operators import pipeline as pl
from parquet_python_spark.operators import selector

pytestmark = pytest.mark.spark


def test_bss_chosen_for_full_precision_doubles_under_compression(rng):
    # full-precision doubles: every mantissa bit busy, exponents clustered
    v = (rng.uniform(0, 1000, 8192) / 3.0).astype(np.float64)
    arr = pa.array(v)
    hints = {}
    c = selector.choose(arr, compressed=True, hints=hints)
    assert c.codec == enc.BSS, hints
    assert hints["bss_gain"] > 0
    blk = enc.encode_block(arr, c.codec, comp.GZIP)
    out = enc.decode_block(blk)
    assert out.equals(arr)
    # and k-decimal floats still go to decfloat, not bss
    d = pa.array(np.round(rng.uniform(0, 100, 4096), 2))
    cd = selector.choose(d, compressed=True)
    assert cd.codec == enc.DECFLOAT


def test_bss_pipeline_roundtrip_gzip(spark):
    src = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
           .withColumn("repo", (F.col("user_id") % 5).cast("string"))
           .withColumn("path", F.col("event_id").cast("string"))
           .withColumn("commit", F.lit("0"))
           .withColumn("fval", F.sqrt(F.col("value") + F.col("event_id"))))
    blocks = pl.encode_table(src, columns=["event_id", "fval"],
                             compression="GZIP").persist()
    codecs = {r["codec"] for r in
              blocks.where(F.col("column") == "fval")
              .select("codec").distinct().collect()}
    assert "bss" in codecs, codecs
    dec = pl.decode_blocks(blocks)
    a = src.select("event_id", "fval")
    assert dec.exceptAll(a).count() == 0 and a.exceptAll(dec).count() == 0
    blocks.unpersist()


def test_nulls_alone_do_not_disqualify_float_dict():
    """r3 ADVICE: the NaN/-0.0 bit-safety check must run on the non-null
    values only — nulls are not NaN payloads, and a low-cardinality
    null-bearing float column should still dictionary-encode."""
    import pyarrow as pa

    from parquet_python_spark.operators import encoder, selector

    arr = pa.array([1.5, 2.5, None] * 2000, type=pa.float64())
    c = selector.choose(arr)
    assert c.codec_name == "dict"
    assert encoder.decode_block(encoder.encode_block(arr, c.codec)).equals(arr)


def test_real_nan_still_blocks_float_dict():
    import math

    import pyarrow as pa

    from parquet_python_spark.operators import selector

    arr = pa.array(([1.5, 2.5, None] * 2000) + [math.nan], type=pa.float64())
    assert selector.choose(arr).codec_name != "dict"
