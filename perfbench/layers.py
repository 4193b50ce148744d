"""Per-layer measurements for the traced run.  Each probe calls one
module's public functions from outside, so the numbers belong to that
layer alone:

* ``operators.pipeline`` — wall time and Spark jobs/stages/tasks of every
  call in a traced cycle, compaction's own return values, the share of
  parts and bytes ``prune_blocks`` keeps, and ingest split into plan,
  encode-only and commit time;
* ``plans.partitioning`` — ``plan_splits`` time and part count;
* ``operators.selector`` — ``choose`` time over one part-sized sample, and
  the stored bytes per codec;
* ``operators.encoder`` + ``kernels/*`` — single-threaded encode and decode
  speed and ratio per column, in this process, with no Spark;
* framework controls that no program change should move.
"""
from __future__ import annotations

import statistics
import time

import pyarrow as pa
from pyspark.sql import functions as F

from parquet_python_spark.operators import encoder as enc
from parquet_python_spark.operators import pipeline as pl
from parquet_python_spark.operators import selector
from parquet_python_spark.plans import partitioning as part

from perfbench import data

PIPELINE_CALLS = ["pipeline.run_encode", "pipeline.compact_store",
                  "pipeline.decode_blocks_full",
                  "pipeline.decode_blocks_query",
                  "pipeline.run_encode_append",
                  "pipeline.decode_blocks_lookup",
                  "pipeline.decode_blocks_lookup_miss"]
KERNEL_REPS = 3
FRAMEWORK_REPS = 2
NOOP_TASKS = 32


def _timed(fn):
    t = time.perf_counter()
    res = fn()
    return time.perf_counter() - t, res


def _median_time(fn, reps: int) -> float:
    return statistics.median(_timed(fn)[0] for _ in range(reps))


# ---------------------------------------------------------------- pipeline

def pipeline_calls(spans: list[dict]) -> dict:
    """Median wall time and Spark counts per public call, from the spans of
    the traced cycles; ``None`` for a call no traced cycle reached (a failed
    operation ends its cycle early)."""
    out = {}
    for call in PIPELINE_CALLS:
        recs = [s for s in spans if s["name"] == call and "jobs" in s]
        for k in ("jobs", "stages", "tasks"):
            out[f"{call}.{k}"] = (statistics.median(r[k] for r in recs)
                                  if recs else None)
        out[f"{call}.s"] = (statistics.median(r["end"] - r["start"]
                                              for r in recs)
                            if recs else None)
    return out


def prune_fracs(spark, store: str, filter_sets) -> tuple[float, float]:
    """Share of parts and of encoded bytes ``prune_blocks`` keeps, averaged
    over ``filter_sets`` (one list of filters each)."""
    def totals(df):
        r = df.agg(F.countDistinct("part_key"),
                   F.sum("encoded_size")).collect()[0]
        return r[0], r[1] or 0

    blocks = pl.read_blocks(spark, store)
    parts, size = totals(blocks)
    kept = [totals(pl.prune_blocks(blocks, filters))
            for filters in filter_sets]
    return (statistics.fmean(p for p, _ in kept) / parts,
            statistics.fmean(s for _, s in kept) / size)


def codec_bytes(spark, store: str) -> dict:
    """Raw and encoded bytes per codec, from the rows ``read_blocks``
    returns."""
    rows = (pl.read_blocks(spark, store).groupBy("codec")
            .agg(F.sum("raw_size"), F.sum("encoded_size")).collect())
    got = {r[0]: (r[1], r[2]) for r in rows}
    out = {}
    for codec in enc.CODEC_NAMES.values():
        raw, encd = got.pop(codec, (0, 0))
        out[f"store.codec.{codec}.raw_bytes"] = raw
        out[f"store.codec.{codec}.enc_bytes"] = encd
    if got:
        raise ValueError(f"unknown codecs in store: {sorted(got)}")
    return out


def plan_layer(src, spec: data.Spec) -> dict:
    """``plan_splits`` wall time, and the number of parts its plan maps to
    (``plan_part_keys``, untimed)."""
    plan = part.plan_splits(src, spec.target_rows)
    dt, _ = _timed(plan.collect)
    n_parts = part.plan_part_keys(plan).select("part_key").distinct().count()
    return {"plan_splits.s": dt, "plan_splits.parts": n_parts}


def encode_only(spark, src, spec: data.Spec, store: str) -> float:
    """``encode_table_local`` with the store's persisted plan, written to
    the no-op sink: the encode work of ingest without planning or commit."""
    plan = pl.load_plan(spark, store)

    def run():
        (pl.encode_table_local(src, columns=spec.columns,
                               target_rows=spec.target_rows, plan=plan)
         .write.format("noop").mode("overwrite").save())

    return _timed(run)[0]


# -------------------------------------------------------- selector/encoder

def choose_ms(sample: pa.Table, cols: list[str]) -> float:
    def run():
        for c in cols:
            selector.choose(sample[c].combine_chunks())

    return 1e3 * _median_time(run, KERNEL_REPS)


def kernel_metrics(slices: dict[str, pa.Table]) -> tuple[dict, list[str]]:
    """Single-threaded encode/decode speed and ratio per column on fixed
    part-sized slices; returns the metrics and any roundtrip mismatches."""
    out, bad = {}, []
    for tbl in slices.values():
        for col in tbl.column_names:
            arr = tbl[col].combine_chunks()
            codec = selector.choose(arr).codec
            blk = enc.encode_block(arr, codec)
            if not enc.decode_block(blk).equals(arr):
                bad.append(col)
            mb = arr.nbytes / 1e6
            t_enc = _median_time(lambda: enc.encode_block(arr, codec),
                                 KERNEL_REPS)
            t_dec = _median_time(lambda: enc.decode_block(blk), KERNEL_REPS)
            out[f"encoder.{col}.encode_mbps"] = mb / t_enc
            out[f"encoder.{col}.decode_mbps"] = mb / t_dec
            out[f"encoder.{col}.ratio"] = len(blk) / arr.nbytes
    return out, bad


def kernel_slices(seed: int) -> dict[str, pa.Table]:
    """The fixed slices: one code-table part and one lineitem part."""
    n_li = data.lineitem_spec(0).target_rows
    return {"code": data.code_rows(0, data.code_spec(0).target_rows),
            "lineitem": data.lineitem_rows(n_li, seed % 2**32, 0, 0,
                                           n_li // 4)}


# --------------------------------------------------------------- framework

def _drain(batches):
    n = 0
    for b in batches:
        n += b.num_rows
    yield pa.RecordBatch.from_pydict({"n": pa.array([n], pa.int64())})


def _count_group(key, tbl):  # no hints: applyInArrow infers from them
    return pa.table({"n": pa.array([tbl.num_rows], pa.int64())})


def framework(spark, src, store: str, cpus: int) -> tuple[dict, dict]:
    """Python-UDF boundary cost with no program code inside: a no-op
    ``mapInArrow`` over the source, a no-op grouped ``applyInArrow`` over
    the store's blocks, and the fixed cost of one Python task.  Returns the
    metrics and the row counts each control saw (for checking)."""
    def noop_map():
        return src.mapInArrow(_drain, "n long").agg(F.sum("n")).collect()[0][0]

    blocks = pl.read_blocks(spark, store)

    def noop_group():
        return (blocks.groupBy("part_key").applyInArrow(_count_group,
                                                        "n long")
                .agg(F.sum("n")).collect()[0][0])

    def tasks():
        return (spark.range(0, NOOP_TASKS * 64, 1, NOOP_TASKS)
                .mapInArrow(_drain, "n long").agg(F.sum("n"))
                .collect()[0][0])

    seen = {"noop_map": noop_map(), "noop_group": noop_group(),
            "tasks": tasks()}
    per_task = _median_time(tasks, FRAMEWORK_REPS) * cpus / NOOP_TASKS
    return ({"framework.noop_map.s": _median_time(noop_map, FRAMEWORK_REPS),
             "framework.noop_group.s": _median_time(noop_group,
                                                    FRAMEWORK_REPS),
             "framework.python_task.ms": 1e3 * per_task}, seen)
