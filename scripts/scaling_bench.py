#!/usr/bin/env python
"""Two-cluster-size scaling evidence (north_rule): run the identical encode
job (same input, same persisted partition plan) at N and 4N cores, report
throughput at both plus efficiency = thr(4N) / (4 * thr(N)).

Measures BOTH ingest strategies:
  * ``shuffle`` — whole-part encode_table: many uniform ~17 MB tasks; the
    task-granular measurement of the engine's parallel scalability (the
    r1/r2 gate methodology).
  * ``local`` — the default zero-raw-shuffle chunked ingest: in local[k]
    mode every worker shares ONE VM's memory bus and the globally
    serialized page-fault path, so its in-VM scaling measures the host
    (decomposition in BASELINE.md: pure-kernel control processes scale
    4.1x, the shared JVM->Python exchange only ~2x).  On a real cluster
    the exchange is per-executor and scales with executors by
    construction.

Methodology: fresh JVM per level, untimed warm-up, then min-of-R timed
passes — this sandbox VM shows heavy host interference (CPU steal, globally
serialized first-touch page-fault handling ≈0.5 GB/s), so the minimum is
the capability number; the full ladder and the interference microbenchmarks
are reported in BASELINE.md.

Env: SCALING_N (default 1), SCALING_ROWS (default 1000000), SCALING_REPS.
Writes BENCH_SCALING.json at the repo root and prints it.
"""
from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("MALLOC_MMAP_MAX_", "0")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def measure(cpus: int, rows: int, reps: int, strategy: str) -> dict:
    """One (cluster size, strategy) level.  Same cached input and same
    persisted partition plan (created untimed) at both levels, so the two
    levels differ ONLY in worker count.  ``shuffle`` encodes whole parts
    via many uniform tasks (task-granular engine scalability);
    ``local`` is the default chunked ingest over the input coalesced to
    ``cpus`` partitions (one encode task per partition)."""
    from pyspark.sql import SparkSession

    from parquet_python_spark.operators import pipeline as pl

    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 8)))
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "12g")
             .config("spark.driver.extraJavaOptions", "-Xms12g")
             .config("spark.python.unix.domain.socket.enabled", "true")
             # one read partition per ~7 MB input file: the local strategy
             # coalesces read partitions onto encode workers, and the
             # default 128 MB split packed 1.17 GB into 6 partitions —
             # coalesce(4) then dealt [1.5x, 3x, 1.5x, 2x] file shares and
             # the 1.5x straggler bounded 4-core efficiency at 0.67 (the
             # r3 local row read 0.643 BECAUSE of this quantization, not
             # the engine).  64 fine partitions deal 16/16/16/16.
             .config("spark.sql.files.maxPartitionBytes", "8m")
             .getOrCreate())
    path = f"/tmp/pqs_bench_cache/code_{rows}.parquet"
    if not os.path.exists(path + "/_SUCCESS"):
        from parquet_python_spark.sources import codegen as cg
        cg.code_table(spark, rows, partitions=64).write.mode(
            "overwrite").parquet(path)
    from parquet_python_spark.plans import partitioning as part

    df = spark.read.parquet(path)
    df.count()
    plan = part.plan_splits(df, 16384).cache()
    plan.count()
    assigned = part.assign_part_keys(df, plan)
    if strategy == "local":
        assigned = assigned.coalesce(cpus)
    encode = (pl.encode_table if strategy == "shuffle"
              else pl.encode_table_local)
    gb = None
    times = []
    for rep in range(reps + 1):  # rep 0 is the untimed warm-up
        blocks = encode(assigned)
        if gb is None:
            gb = blocks.agg({"raw_size": "sum"}).collect()[0][0] / 1e9
        t0 = time.perf_counter()
        blocks.count()
        if rep > 0:
            times.append(round(time.perf_counter() - t0, 1))
            print(f"# {strategy} cpus={cpus} rep{rep}: {times[-1]}s",
                  file=sys.stderr)
    spark.stop()
    best = min(times)
    return {"cpus": cpus, "times": times, "sec": best,
            "gb": round(gb, 3), "gbps": round(gb / best, 4)}


def main():
    n = int(os.environ.get("SCALING_N", "1"))
    rows = int(os.environ.get("SCALING_ROWS", "1000000"))
    reps = int(os.environ.get("SCALING_REPS", "6"))
    result = {"rows": rows,
              "method": "min-of-reps, fresh JVM per level, shared input + "
                        "plan; encode job only (assign -> encode -> blocks "
                        "materialized), both ingest strategies",
              "target": ">= 0.8 per north_rule (gate: task-granular "
                        "'shuffle' row; in-VM 'local' row shares one "
                        "memory bus across workers — see BASELINE.md "
                        "decomposition)"}
    passes = int(os.environ.get("SCALING_PASSES", "1"))
    for strategy in ("shuffle", "local"):
        if passes <= 1:
            lo = measure(n, rows, reps, strategy)
            hi = measure(4 * n, rows, reps, strategy)
        else:
            # interleave the levels across time windows: host interference
            # here arrives in multi-minute waves (measured reps of the
            # IDENTICAL job: 129.7s then 23.8s), and running all of one
            # level inside one wave biases the RATIO, not just the
            # absolutes.  Each pass runs both levels back-to-back in a
            # fresh JVM; the min per level is then drawn from `passes`
            # separate windows.  Costs one extra warm-up per extra pass.
            per = max(reps // passes, 1)
            lo = hi = None

            def _merge(a, b):
                if a is None:
                    return b
                a["times"] = a["times"] + b["times"]
                if b["sec"] < a["sec"]:
                    a["sec"], a["gbps"] = b["sec"], b["gbps"]
                return a

            for _ in range(passes):
                lo = _merge(lo, measure(n, rows, per, strategy))
                hi = _merge(hi, measure(4 * n, rows, per, strategy))
        eff = hi["gbps"] / (4 * lo["gbps"])
        result[strategy] = {
            "n_cpus": n, "gbps_n": lo["gbps"], "sec_n": lo["sec"],
            "times_n": lo["times"],
            "4n_cpus": 4 * n, "gbps_4n": hi["gbps"], "sec_4n": hi["sec"],
            "times_4n": hi["times"],
            "scaling_efficiency": round(eff, 3),
            "gb": lo["gb"],
        }
    result["scaling_efficiency"] = result["shuffle"]["scaling_efficiency"]
    result["local_efficiency"] = result["local"]["scaling_efficiency"]
    with open(os.path.join(REPO, "BENCH_SCALING.json"), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
