"""A commit builds on what the write already knows.

Lineage is rolled up on the driver from the block files' metadata
columns, and the plan is read with its known schema, so building either
frame, ``store_summary`` and a compaction with nothing to do run no Spark
job; an append of a generation the store has never seen skips the
O(store) resume scan, while a replay keeps it.  The reference builds
``_metadata`` from the footers its writer returns instead of re-reading
them (fastparquet writer.py:732-758).
"""
import pytest
from pyspark.sql import functions as F

from parquet_python_spark.operators import pipeline as pl
from parquet_python_spark.sources import codegen as cg

pytestmark = pytest.mark.spark


def _docs(spark, lo, hi):
    return (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .withColumn("repo", (F.col("doc_id") % 5).cast("string"))
            .withColumn("path", F.col("doc_id").cast("string"))
            .withColumn("commit", F.lit("0")))


COLS = ["doc_id", "text", "lang"]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("commit_reads") / "s")
    pl.run_encode(_docs(spark, 0, 300), path, columns=COLS,
                  target_rows=100, resume=False)
    pl.run_encode(_docs(spark, 300, 400), path, columns=COLS,
                  target_rows=100, generation=1)
    return path


def test_lineage_and_plan_frames_run_no_job(spark, spark_jobs, store):
    with spark_jobs() as jobs:
        pl.read_lineage(spark, store)
        pl.load_plan(spark, store)
    assert len(jobs) == 0


class _NoRead:
    """A session whose ``read`` fails the test."""

    @property
    def read(self):
        raise AssertionError("spark.read called on a missing store")


def test_missing_store_is_detected_without_a_read(tmp_path):
    """A store that does not exist is recognised through StoreFS, never
    by reading it: a failed read logs a listener error once any
    ``observe`` has run in the session."""
    missing = str(tmp_path / "absent")
    assert pl.load_plan(_NoRead(), missing) is None
    assert pl.completed_part_keys(_NoRead(), missing) is None


def test_completed_part_keys_frame_runs_no_job(spark, spark_jobs, store):
    """The resume key set is read on the driver from the block files'
    ``part_key`` column chunks: building the frame runs no Spark job, and
    it holds each stored part_key once."""
    with spark_jobs() as jobs:
        frame = pl.completed_part_keys(spark, store)
    assert len(jobs) == 0
    keys = [r[0] for r in frame.collect()]
    assert len(keys) == len(set(keys))
    assert set(keys) == {r[0] for r in pl.read_blocks(spark, store)
                         .select("part_key").distinct().collect()}


def test_corrupt_plan_file_still_raises(spark, tmp_path):
    plan = tmp_path / "s" / "plan"
    plan.mkdir(parents=True)
    (plan / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        pl.load_plan(spark, str(tmp_path / "s")).collect()


def test_store_summary_is_one_aggregation(spark, spark_jobs, store):
    """The totals are summed on the driver over the block files' metadata
    columns: no Spark job."""
    with spark_jobs() as jobs:
        pl.store_summary(spark, store)
    assert len(jobs) == 0


def test_noop_compaction_runs_no_job(spark, spark_jobs, store):
    """Finding nothing to compact reads only the block files' metadata
    columns, on the driver."""
    with spark_jobs() as jobs:
        res = pl.compact_store(spark, store, max_pages_per_column=10**6)
    assert len(jobs) == 0
    assert res["parts_compacted"] == 0


def test_first_generation_skips_resume_scan(spark, tmp_path, monkeypatch):
    """No stored part_key is composed with a generation the store has
    never recorded, so its append needs no completed-key scan; a replay
    of a recorded generation still anti-joins and lands exactly once."""
    path = str(tmp_path / "s")
    pl.run_encode(_docs(spark, 0, 200), path, columns=COLS,
                  target_rows=100, resume=False)
    real = pl.completed_part_keys

    def refuse(spark, path):
        raise AssertionError("resume scan for a new generation")

    monkeypatch.setattr(pl, "completed_part_keys", refuse)
    pl.run_encode(_docs(spark, 200, 260), path, columns=COLS,
                  target_rows=100, generation=3)
    calls = []

    def record(spark, path):
        calls.append(path)
        return real(spark, path)

    monkeypatch.setattr(pl, "completed_part_keys", record)
    pl.run_encode(_docs(spark, 200, 260), path, columns=COLS,
                  target_rows=100, generation=3)
    assert calls == [path]
    assert pl.decode_blocks(pl.read_blocks(spark, path)).count() == 260
    assert pl.store_summary(spark, path)["rows"] == 260


def test_store_summary_equals_combined_lineage(spark, tmp_path):
    """After each kind of commit the summary equals the totals of the
    lineage frame."""
    path = str(tmp_path / "s")

    def combined():
        row = pl.read_lineage(spark, path).agg(
            F.count(F.lit(1)).alias("parts"),
            F.sum("n_rows").alias("rows"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes")).collect()[0]
        return {k: int(row[k] or 0) for k in row.asDict()}

    # eight source partitions fragment each part into sub-blocks
    pl.run_encode(cg.code_table(spark, 3000, partitions=8), path,
                  target_rows=1500, resume=False)
    pl.run_encode(cg.code_table(spark, 500, partitions=2), path,
                  target_rows=1500, generation=1)
    assert pl.store_summary(spark, path) == combined()
    assert pl.compact_store(spark, path,
                            max_pages_per_column=4)["parts_compacted"] > 0
    assert pl.store_summary(spark, path) == combined()
    first = pl.read_lineage(spark, path).orderBy("part_key").first()
    pl.remove_parts(spark, path, [first["part_key"]])
    assert pl.store_summary(spark, path) == combined()
    assert combined()["rows"] == 3500 - first["n_rows"]
