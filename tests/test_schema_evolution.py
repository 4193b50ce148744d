"""Schema evolution: generations appended with extra columns decode as a
union schema with NULL fill on pre-existing parts (parquet row-group
semantics; fastparquet fills absent columns with NA, api.py:566-573), and
conflicting dtypes for one column refuse loudly at schema inference."""
import pytest

from pyspark.sql import functions as F

from parquet_python_spark.operators import pipeline as pl

pytestmark = pytest.mark.spark


def _base(spark, n=100):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
        (F.col("id") % 5).cast("string").alias("repo"),
        F.col("id").cast("string").alias("path"),
        F.lit("0").alias("commit"))


def test_added_column_null_fills_old_parts(spark, tmp_path):
    store = str(tmp_path / "s")
    base = _base(spark)
    pl.run_encode(base, store, columns=["doc_id", "text"],
                  target_rows=40, resume=False)
    newer = (base.withColumn("stars", F.col("doc_id") * 2)
             .where(F.col("doc_id") < 20))
    pl.run_encode(newer, store, columns=["doc_id", "text", "stars"],
                  target_rows=40, resume=False, generation=1)
    d = pl.decode_blocks(pl.read_blocks(spark, store))
    assert set(d.columns) == {"doc_id", "text", "stars"}
    assert d.count() == 120
    assert d.where(F.col("stars").isNull()).count() == 100
    got = {r["doc_id"]: r["stars"]
           for r in d.where(F.col("stars").isNotNull()).collect()}
    assert got == {i: i * 2 for i in range(20)}


def test_filter_on_new_column_keeps_exactness(spark, tmp_path):
    store = str(tmp_path / "s")
    base = _base(spark)
    pl.run_encode(base, store, columns=["doc_id", "text"],
                  target_rows=40, resume=False)
    newer = (base.withColumn("stars", F.col("doc_id") * 2)
             .where(F.col("doc_id") < 20))
    pl.run_encode(newer, store, columns=["doc_id", "text", "stars"],
                  target_rows=40, resume=False, generation=1)
    got = pl.decode_blocks(pl.read_blocks(spark, store),
                           columns=["doc_id", "stars"],
                           filters=[("stars", ">", 30)]).collect()
    # old parts decode stars as NULL -> exact re-filter drops them
    assert sorted(r["doc_id"] for r in got) == [16, 17, 18, 19]


def test_projection_of_old_columns_unaffected(spark, tmp_path):
    store = str(tmp_path / "s")
    base = _base(spark)
    pl.run_encode(base, store, columns=["doc_id", "text"],
                  target_rows=40, resume=False)
    pl.run_encode(base.withColumn("stars", F.lit(1)).limit(10), store,
                  columns=["doc_id", "text", "stars"],
                  target_rows=40, resume=False, generation=1)
    d = pl.decode_blocks(pl.read_blocks(spark, store),
                         columns=["doc_id", "text"])
    assert set(d.columns) == {"doc_id", "text"}
    assert d.count() == 110


def test_compaction_preserves_evolved_schema(spark, tmp_path):
    """compact_store on a store whose parts carry different column sets:
    each part recodes with ITS columns; decode still serves the union
    schema with NULL fill."""
    store = str(tmp_path / "s")
    base = _base(spark)
    pl.run_encode(base, store, columns=["doc_id", "text"],
                  target_rows=30, resume=False)
    newer = (base.withColumn("stars", F.col("doc_id") * 3)
             .where(F.col("doc_id") >= 80))
    pl.run_encode(newer, store, columns=["doc_id", "text", "stars"],
                  target_rows=30, resume=False, generation=1)
    pl.compact_store(spark, store, max_pages_per_column=1)
    d = pl.decode_blocks(pl.read_blocks(spark, store))
    assert set(d.columns) == {"doc_id", "text", "stars"}
    assert d.count() == 120
    got = {r["doc_id"]: r["stars"]
           for r in d.where(F.col("stars").isNotNull()).collect()}
    assert got == {i: i * 3 for i in range(80, 100)}


def test_dtype_conflict_raises(spark, tmp_path):
    store = str(tmp_path / "s")
    base = _base(spark)
    pl.run_encode(base.withColumn("v", F.col("doc_id").cast("long")),
                  store, columns=["doc_id", "v"],
                  target_rows=40, resume=False)
    pl.run_encode(base.withColumn("v", F.col("doc_id").cast("double")),
                  store, columns=["doc_id", "v"],
                  target_rows=40, resume=False, generation=1)
    with pytest.raises(ValueError, match="conflicting dtypes"):
        pl.decode_blocks(pl.read_blocks(spark, store)).collect()


def test_projecting_only_new_column_null_fills_old_parts(spark, tmp_path):
    """r3 ADVICE (medium): columns=['stars'] — a projection containing NO
    column present in the older generation — must still serve one row per
    old-part row (NULL), not silently drop those parts (the reference
    NA-fills absent columns for every row group, api.py:566-573)."""
    store = str(tmp_path / "s")
    base = _base(spark)
    pl.run_encode(base, store, columns=["doc_id", "text"],
                  target_rows=40, resume=False)
    newer = (base.withColumn("stars", F.col("doc_id") * 2)
             .where(F.col("doc_id") < 20))
    pl.run_encode(newer, store, columns=["doc_id", "text", "stars"],
                  target_rows=40, resume=False, generation=1)
    d = pl.decode_blocks(pl.read_blocks(spark, store), columns=["stars"])
    assert d.columns == ["stars"]
    assert d.count() == 120
    assert d.where(F.col("stars").isNull()).count() == 100
    got = sorted(r["stars"] for r in
                 d.where(F.col("stars").isNotNull()).collect())
    assert got == [i * 2 for i in range(20)]


def test_sizer_column_is_cheapest_by_encoded_bytes(spark, tmp_path):
    """r4 ADVICE: the null-fill sizer for uncovered parts must be the
    column with the smallest encoded footprint (here doc_id, a few bytes
    of delta-packed ints), not the lexicographic minimum ('blob', a wide
    text column whose full payload would be decoded just to count rows)."""
    store = str(tmp_path / "s")
    base = _base(spark).withColumn(
        "blob", F.concat(F.lit("x"), F.sha2(F.col("text"), 512),
                         F.sha2(F.col("path"), 512)))
    pl.run_encode(base, store, columns=["doc_id", "blob"],
                  target_rows=40, resume=False)
    newer = (base.withColumn("stars", F.col("doc_id") * 2)
             .where(F.col("doc_id") < 20))
    pl.run_encode(newer, store, columns=["doc_id", "blob", "stars"],
                  target_rows=40, resume=False, generation=1)
    blocks = pl.read_blocks(spark, store)
    d = pl.decode_blocks(blocks, columns=["stars"])
    assert d.count() == 120
    # reproduce the sizer choice: per-part cheapest non-projected column
    percol = (blocks.groupBy("part_key", "column")
              .agg(F.sum("encoded_size").alias("b")))
    sizers = (percol.where(F.col("column") != "stars")
              .groupBy("part_key")
              .agg(F.min(F.struct("b", "column")).alias("sz"))
              .select(F.col("sz.column").alias("sizer")).distinct()
              .collect())
    assert {r["sizer"] for r in sizers} == {"doc_id"}
