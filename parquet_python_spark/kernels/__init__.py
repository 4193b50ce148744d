"""Pure-numpy codec kernels.  No Spark imports here — these run inside the
Arrow UDFs of ``operators/pipeline.py`` on executors (encode:
``applyInArrow`` / ``mapInArrow``; decode: ``mapInArrow``), and in unit
tests without a SparkSession."""
