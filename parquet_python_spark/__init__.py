"""parquet_python_spark — a PySpark-native per-column lightweight-compression engine.

Re-creates the encoding layer of martindurant/parquet-python (fastparquet) —
dictionary encoding, RLE/bit-packed hybrid runs, DELTA_BINARY_PACKED
(frame-of-reference + delta), fixed-width bit-packing — plus FSST symbol-table
compression for strings (absent from the reference), as vectorized numpy
kernels run inside Spark's Arrow UDFs: encode through ``applyInArrow``
(``encode_table``) and ``mapInArrow`` (ingest), decode through
``mapInArrow``, both in ``operators/pipeline.py``.  A per-column codec
auto-selector (sampled cardinality, run length, delta width and trial
encodes) replaces the reference's static dtype-driven dispatch
(reference: fastparquet/writer.py:411-414, 519, 601-631).

Layout
------
kernels/    pure-numpy codec kernels (no Spark imports)
operators/  codec auto-selector, column-block encoder/decoder, the Spark
            encode/decode pipeline and blockstore maintenance
            (pipeline.py), the pluggable store filesystem (fs.py)
sources/    deterministic source-code table generator
plans/      the partition plan (salted splits + packed buckets) and the
            filter algebra
streaming/  Structured Streaming encode path
functions/  training-data pipeline ops (dedup, similarity, text stats,
            multimodal plumbing)
"""

__version__ = "0.3.0"


def __getattr__(name):
    # lazy: importing the package must not require a SparkSession
    if name == "BlockStore":
        from .store import BlockStore
        return BlockStore
    raise AttributeError(name)
