#!/usr/bin/env python
"""What planning a decode and rolling up lineage cost on one blockstore.

Every ``decode_blocks`` / ``prune_blocks`` call plans on the driver from
the payload-free block columns (``pipeline._block_meta``); for an
untouched ``read_blocks`` frame they come from the block files' own
metadata column chunks.  This prints, for the store at ``<store>``:

* the number of block files and of pages (block rows);
* the metadata bytes the planner holds on the driver, in total and per
  part: the Arrow size of the plan and stats columns, Bloom words
  included, and of each row's file.  This is the design's driver-memory
  cost, O(pages);
* the median planning time over 10 calls, in ms, for an unfiltered full
  decode and for an equality lookup of a key absent from the store on
  the first string column (when there is one), which reads every stats
  column.  Each call builds a fresh ``read_blocks`` frame, as a caller
  of ``decode_blocks`` does, and that time is included;
* for both plans, the read units the decode would run, one Python task
  each: how many, the parts and the kept encoded bytes of each, and the
  block files the tasks open in all (a file shared by two units counts
  twice).  A lookup that keeps no part plans no unit;
* for the absent-key lookup and for a lookup of a key the store holds
  (the first value of the same column), the path ``decode_blocks``
  takes: ``empty`` (no part kept, no job), ``driver`` (a point read of
  one unit, probed and decoded in this process, no job) or ``units``
  (one Python task per unit); on the driver path also the probe's
  candidate rows, and for every path the median time over 10 calls, in
  ms, of the ``decode_blocks`` call itself, which on the driver path
  holds the whole read;
* the median time over 10 calls, in ms, of ``store_summary`` and of
  ``read_lineage(...).collect()``: the lineage rollup of every block
  file's metadata columns, on the driver.

Usage: ``python scripts/plan_stats.py <store>``
"""
from __future__ import annotations

import os
import statistics
import sys
import time

os.environ.setdefault("MALLOC_MMAP_MAX_", "0")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CALLS = 10
ABSENT = "\x00plan_stats: absent key"


def _median_ms(fn) -> float:
    fn()  # warm-up: imports, py4j and file caches
    times = []
    for _ in range(CALLS):
        t = time.perf_counter()
        fn()
        times.append((time.perf_counter() - t) * 1e3)
    return statistics.median(times)


def _print_units(label: str, plan) -> None:
    units = plan.units or []
    print(f"{label:<17}{len(units)}")
    if units:
        print(f"  parts per unit {[len(u.parts) for u in units]}")
        print(f"  bytes per unit {[u.nbytes for u in units]}")
        print(f"  files opened   {sum(len(u.files) for u in units)}")


def _print_path(spark, store: str, label: str, filters) -> None:
    """Which path ``decode_blocks`` takes for ``filters``, the probe's
    candidate rows on the driver path, and the call's median time."""
    from parquet_python_spark.operators import pipeline as pl

    def call():
        return pl.decode_blocks(pl.read_blocks(spark, store), filters=filters)

    groups = pl._norm_filters(filters)
    plan = pl._plan_decode(pl.read_blocks(spark, store), None, groups)
    executed = call()._jdf.queryExecution().executedPlan().toString()
    if plan.kept == []:
        path = "empty"
    elif "MapInArrow" in executed:
        path = "units"
    else:
        rows = pl._point_rows(plan.units[0],
                              pl._point_tests(groups, plan.schema),
                              pl._part_finisher(plan.schema, False))
        path = f"driver, {sum(t.num_rows for t in rows)} candidate rows"
    print(f"path, {label:<9} {path}")
    print(f"  decode ms      {_median_ms(call):.1f}")


def main(store: str) -> None:
    from pyspark.sql import SparkSession

    from parquet_python_spark.operators import encoder as enc
    from parquet_python_spark.operators import pipeline as pl

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    try:
        blocks = pl.read_blocks(spark, store)
        meta = pl._block_meta(blocks, pl._PLAN_COLS + pl._STATS_COLS)
        n_parts = len(set(meta["part_key"].to_pylist()))
        print(f"store            {store}")
        print(f"block files      {len(pl._scan_files(blocks))}")
        print(f"pages            {meta.num_rows}")
        print(f"parts            {n_parts}")
        print(f"metadata bytes   {meta.nbytes}")
        print(f"  per part       {meta.nbytes / max(n_parts, 1):.0f}")

        def plan(groups):
            return lambda: pl._plan_decode(pl.read_blocks(spark, store),
                                           None, groups)

        print(f"plan ms, full    {_median_ms(plan([])):.1f}")
        _print_units("units, full", plan([])())
        strings = [c for c, d in zip(meta["column"].to_pylist(),
                                     meta["dtype_id"].to_pylist())
                   if d == enc.DT_STRING]
        if strings:
            lookup = plan([[(strings[0], "==", ABSENT)]])
            ms = _median_ms(lookup)
            print(f"plan ms, lookup  {ms:.1f}  ({strings[0]} == absent key)")
            _print_units("units, lookup", lookup())
            held = pl.head_rows(spark, store, 1,
                                [strings[0]]).collect()[0][0]
            for label, key in (("absent", ABSENT), ("held", held)):
                _print_path(spark, store, label, [(strings[0], "==", key)])
        ms = _median_ms(lambda: pl.store_summary(spark, store))
        print(f"summary ms       {ms:.1f}")
        ms = _median_ms(lambda: pl.read_lineage(spark, store).collect())
        print(f"lineage ms       {ms:.1f}")
    finally:
        spark.stop()


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[-1])
    main(sys.argv[1])
