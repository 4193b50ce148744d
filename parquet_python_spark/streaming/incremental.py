"""Structured-Streaming incremental encode.

The reference's nearest analogue is incremental append / partition
overwrite (fastparquet/writer.py:1282-1303, 1497-1601) — batch-only.  Here
the same blockstore becomes a streaming sink: ``readStream`` over an
arriving-files directory → ``foreachBatch`` encode with resume semantics
(every micro-batch anti-joins the part_keys already in the store's blocks,
so replayed files after a failure never double-encode — exactly-once at the
part_key level on top of at-least-once delivery).

Also provides a watermarked windowed rollup of encode metrics (events-style
monitoring stream), using native Structured Streaming operators.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import pipeline as pl


def stream_encode(spark: SparkSession, source_dir: str, store: str,
                  schema, columns: list[str] | None = None,
                  target_rows: int = 50_000,
                  checkpoint: str | None = None,
                  trigger_available_now: bool = True):
    """Encode parquet files as they arrive in ``source_dir``.

    Returns the started StreamingQuery.  Each micro-batch runs the batch
    pipeline with ``generation=batch_id``: part_keys are composed with the
    micro-batch id, so rows arriving into a bucket whose earlier generation
    already completed are still encoded (r1 keyed completion on part_key
    alone and silently dropped them), while a crash-replay of the SAME
    batch_id re-creates identical keys and is skipped by the resume
    anti-join — exactly-once on top of at-least-once delivery.

    Note: generation-composed stores support append / decode / resume;
    ``overwrite_partitions`` assumes batch-keyed parts — for a streamed
    store, rewrite by re-encoding from source instead.
    """
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "16")
           .parquet(source_dir))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        pl.run_encode(batch_df, store, columns=columns,
                      target_rows=target_rows, resume=True,
                      generation=int(batch_id))

    writer = (src.writeStream.foreachBatch(process)
              .option("checkpointLocation",
                      checkpoint or f"{store}/_stream_checkpoint"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_encode_metrics(events: DataFrame, window: str = "1 hour",
                            watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window rollup over a streaming events table —
    late data beyond the watermark is dropped by Spark's state store."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("sum_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n_events", "sum_value"))
