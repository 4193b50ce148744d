"""sort_store: within-part clustering makes page stats range-prunable
(reference row-group ordering on overwrite, fastparquet
writer.py:1560-1579, generalized to any column set)."""
import pytest

from pyspark.sql import functions as F

from parquet_python_spark.operators import pipeline as pl

pytestmark = pytest.mark.spark


@pytest.fixture()
def scattered_store(spark, tmp_path):
    """A value column shuffled so every page's [min, max] spans the whole
    domain — range predicates can prune nothing until the store is
    sorted."""
    n = 20_000
    df = (spark.range(n)
          .select(F.col("id").alias("doc_id"),
                  # bit-reversal-ish scatter: consecutive rows far apart
                  ((F.col("id") * 7919) % n).alias("v"),
                  (F.col("id") % 4).cast("string").alias("repo"),
                  F.col("id").cast("string").alias("path"),
                  F.lit("0").alias("commit")))
    store = str(tmp_path / "s")
    pl.run_encode(df.coalesce(4), store, columns=["doc_id", "v"],
                  target_rows=5000, resume=False)
    return store


def _kept_blocks(spark, store, filters):
    return pl.prune_blocks(pl.read_blocks(spark, store), filters).count()


def test_sort_store_enables_page_pruning(spark, scattered_store):
    store = scattered_store
    filt = [("v", "<", 500)]
    before_blocks = _kept_blocks(spark, store, filt)
    before_rows = sorted(
        r["doc_id"] for r in
        pl.decode_blocks(pl.read_blocks(spark, store),
                         columns=["doc_id", "v"], filters=filt).collect())
    res = pl.sort_store(spark, store, ["v"])
    assert res["parts_sorted"] > 0
    after_blocks = _kept_blocks(spark, store, filt)
    assert after_blocks < before_blocks  # pages now refutable by stats
    after_rows = sorted(
        r["doc_id"] for r in
        pl.decode_blocks(pl.read_blocks(spark, store),
                         columns=["doc_id", "v"], filters=filt).collect())
    assert after_rows == before_rows  # same rows, better plan


def test_sort_store_preserves_multiset_and_lineage(spark, scattered_store):
    store = scattered_store
    before = pl.read_lineage(spark, store).toPandas()
    full_before = sorted(
        (r["doc_id"], r["v"]) for r in
        pl.decode_blocks(pl.read_blocks(spark, store)).collect())
    pl.sort_store(spark, store, ["v"])
    after = pl.read_lineage(spark, store).toPandas()
    assert (before.set_index("part_key")["row_hash"].sort_index()
            == after.set_index("part_key")["row_hash"].sort_index()).all()
    assert int(before["n_rows"].sum()) == int(after["n_rows"].sum())
    full_after = sorted(
        (r["doc_id"], r["v"]) for r in
        pl.decode_blocks(pl.read_blocks(spark, store)).collect())
    assert full_after == full_before


def test_sort_store_detected_sorted(spark, scattered_store):
    store = scattered_store
    pl.sort_store(spark, store, ["v"])
    detected = {r["column"] for r in
                pl.sorted_columns(spark, store).collect()}
    assert "v" in detected


def test_sort_store_missing_column_raises(spark, scattered_store):
    with pytest.raises(Exception, match="sort_by columns"):
        pl.sort_store(spark, scattered_store, ["nope"])
