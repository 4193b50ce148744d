#!/usr/bin/env python3
"""Store benchmark entry point.

    python3 perfbench/run.py --workload code_bulk --seed 1 \
        --seconds 6 --trace 0

Runs one seeded workload (see README.md in this directory) in one
``local[nproc]`` Spark session, checks every result against its source, and
prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics and
writes a spans file under ``perfbench/out/``.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

# keep glibc arenas warm (first-touch page faults are slow on small VMs)
# and give the JVM's Python workers the same settings and import path
os.environ.setdefault("MALLOC_MMAP_MAX_", "0")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
os.environ["TZ"] = "UTC"
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
              if p])
time.tzset()
sys.path[:1] = [ROOT]  # replaces this script's own directory

from perfbench import harness  # noqa: E402 — needs ROOT on sys.path

WORKLOADS = {"code_bulk": 40_000, "lineitem_query": 200_000}


def declared_metrics() -> dict[str, dict[str, str]]:
    """Name -> unit of the end-to-end and of the per-layer metrics, in the
    order BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {group: {m["name"]: m["unit"] for m in spec[group]}
            for group in ("end_to_end", "per_layer")}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import parquet_python_spark  # noqa: F401 — the program under test
        import __spark_entry__  # noqa: F401 — lineitem source layout
    except ImportError as e:
        print(f"perfbench: program not found next to perfbench/: {e}",
              file=sys.stderr)
        return 2
    from perfbench import data, layers, workload

    declared = declared_metrics()

    # SIGTERM unwinds through the finally blocks below (stop JVM, rm tmp)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = os.cpu_count() or 1
    tmp = os.path.join(OUT, f"run-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    # every temporary file of this run, Spark's launcher JVM included, stays
    # under tmp
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = f"{tmp}/local"
    os.environ["SPARK_LAUNCHER_OPTS"] = (f"-Djava.io.tmpdir={tmp} "
                                         "-XX:-UsePerfData")
    cpu0 = harness.cpu_times()
    spark = None
    try:
        with harness.RssSampler() as rss, ThreadPoolExecutor(1) as pool:
            t0 = time.perf_counter()
            # the JVM starts while this process generates the inputs
            jvm = pool.submit(harness.build_spark, tmp, cpus)
            try:
                make_spec = (data.code_spec if args.workload == "code_bulk"
                             else data.lineitem_spec)
                inputs = data.make_inputs(
                    make_spec(WORKLOADS[args.workload]), args.seed,
                    f"{tmp}/src", n_files=2 * cpus)
            finally:
                spark = jvm.result()
            phases = {"jvm_inputs_s": time.perf_counter() - t0}
            bench = workload.Bench(spark, inputs, tmp)
            # the Spark oracles (about 10 s of work) share the warm-up's
            # time, which takes about 3 s off every run's setup
            bench.start_oracles(pool)
            # untimed warm-up of every phase: worker start-up, imports and
            # JIT are paid here, not by the first measured cycle
            bench.cycle(harness.NullTracer())
            bench.wait_oracles()
            setup_s = time.perf_counter() - t0
            phases["warmup_s"] = setup_s - phases["jvm_inputs_s"]

            tracer = (harness.Tracer(spark, f"{args.workload}-{args.seed}")
                      if args.trace else None)
            bench.recording = True
            harness.reset_heap_peak(spark)
            n_cycles = measure(bench, args.seconds, tracer)
            phases["measure_s"] = time.perf_counter() - t0 - setup_s
            if args.trace:
                per_layer = trace_layers(bench, tracer, n_cycles, cpus,
                                         args.seed, layers)
                per_layer["jvm.old_gen_peak_mb"] = \
                    harness.old_gen_peak_mb(spark)
        host = harness.host_context(cpu0)
        e2e = end_to_end(bench, setup_s, rss.peak_mb)
        group, values = "end_to_end", e2e
        if args.trace:
            per_layer.update({f"host.{k}": v for k, v in host.items()})
            group, values = "per_layer", per_layer
            tracer.write(os.path.join(
                OUT, f"spans-{args.workload}-{args.seed}.jsonl"))
        metrics = {k: {"value": values.get(k), "unit": u}
                   for k, u in declared[group].items()}
        result = {"correct": bench.failed == 0 and all(
                      m["value"] is not None for m in metrics.values()),
                  "attempted": bench.attempted, "failed": bench.failed,
                  "metrics": metrics}
        with open(os.path.join(
                OUT, f"result-{args.workload}-{args.seed}-t{args.trace}"
                ".json"), "w") as f:
            json.dump(result, f, indent=1)
    finally:
        t_stop = time.perf_counter()
        try:
            if spark is not None:
                harness.stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    phases["stop_s"] = time.perf_counter() - t_stop
    report(bench, e2e, host, phases)
    print(json.dumps(result), flush=True)
    return 0


def measure(bench, seconds: float, tracer) -> int:
    """Cycles until ``seconds`` have passed (at least one); returns how many
    ran.  With tracing every cycle is traced, and the last one's store stays
    for the layer probes."""
    t_end = time.perf_counter() + seconds
    n = 0
    while n == 0 or time.perf_counter() < t_end:
        if tracer:
            if bench.kept_store:
                shutil.rmtree(bench.kept_store)
            bench.kept_store = bench.cycle(tracer, keep=True)
        else:
            bench.cycle(harness.NullTracer())
        n += 1
    return n


def trace_layers(bench, tracer, n_cycles, cpus, seed, layers) -> dict:
    """The per-layer metrics: spans of the traced cycles plus one probe per
    module, each itself recorded as a span."""
    spark, spec, inp = bench.spark, bench.spec, bench.inp
    out = layers.pipeline_calls(tracer.spans)
    out["trace.overhead_s"] = tracer.overhead_s / n_cycles
    store = bench.kept_store
    if store is None:
        return out
    c = bench.last_compact
    out["compact_store.parts_compacted"] = c["parts_compacted"]
    out["compact_store.bytes_rewritten"] = c["enc_bytes_before"]
    key = inp.base[spec.key_col][0].as_py()
    absent = [[(spec.key_col, "==", k)] for k in inp.absent_keys]
    for name, filter_sets in (("lookup", [[(spec.key_col, "==", key)]]),
                              ("miss", absent[:bench.n_misses]),
                              ("query", [spec.query_filter])):
        with tracer.span(f"probe.prune_blocks.{name}"):
            parts, size = layers.prune_fracs(spark, store, filter_sets)
        out[f"prune_blocks.{name}.parts_kept_frac"] = parts
        out[f"prune_blocks.{name}.bytes_kept_frac"] = size
    with tracer.span("probe.codec_bytes"):
        out.update(layers.codec_bytes(spark, store))
    with tracer.span("probe.plan_splits"):
        out.update(layers.plan_layer(bench.src, spec))
    with tracer.span("probe.encode_only"):
        out["pipeline.encode_only.s"] = layers.encode_only(
            spark, bench.src, spec, store)
    out["pipeline.commit.s"] = (out["pipeline.run_encode.s"]
                                - out["plan_splits.s"]
                                - out["pipeline.encode_only.s"])
    with tracer.span("probe.selector"):
        out["selector.choose.ms"] = layers.choose_ms(
            inp.base.slice(0, spec.target_rows), spec.columns)
    with tracer.span("probe.encoder"):
        kern, bad = layers.kernel_metrics(layers.kernel_slices(seed))
    out.update(kern)
    bench.attempted += 1
    if bad:
        bench.fail("kernel roundtrip", ", ".join(bad))
    with tracer.span("probe.framework"):
        fw, seen = layers.framework(spark, bench.src, store, cpus)
    out.update(fw)
    bench.attempted += 1
    if seen["noop_map"] != inp.base.num_rows:
        bench.fail("framework.noop_map", f"saw {seen['noop_map']} rows")
    shutil.rmtree(store)
    return out


def end_to_end(bench, setup_s, peak_mb) -> dict:
    """The end-to-end metrics; ``None`` where no sample succeeded."""
    s = bench.samples

    def med(xs):
        return statistics.median(xs) if xs else None

    def trimmed_mean(xs):
        # absent-key lookups take one of two times (Bloom false positive or
        # not), in shares that vary with the seed: their mean follows the
        # shares smoothly where a median jumps from one time to the other.
        # The slowest and the fastest are left out against host stalls
        xs = sorted(xs)[1:-1]
        return statistics.fmean(xs) if xs else None

    gb = bench.inp.raw_bytes / 1e9

    def per(x):
        return None if x is None else gb / x

    stored = bench.stored_bytes
    return {"setup_s": setup_s,
            "ingest_gbps": per(med(s["ingest"])),
            "compact_s": med(s["compact"]),
            "stored_ratio": None if stored is None
            else stored / bench.raw_bytes,
            "ref_ratio": None if stored is None
            else stored / bench.ref_bytes,
            "scan_gbps": per(med(s["scan"])),
            "query_p50_s": med(s["query"]),
            "lookup_p50_s": med(s["lookup"]),
            "lookup_miss_s": trimmed_mean(s["lookup_miss"]),
            "append_p50_s": med(s["append"]),
            "peak_rss_mb": peak_mb}


def report(bench, e2e, host, phases) -> None:
    """Human-readable lines ahead of the JSON: sample counts and spread of
    every timed operation, host context, and the BASELINE gate."""
    for kind, xs in sorted(bench.samples.items()):
        print(f"# {kind}: n={len(xs)} median={statistics.median(xs):.4f}s "
              f"min={min(xs):.4f}s max={max(xs):.4f}s")
    print(f"# cycles={bench.n_cycles} raw_gb={bench.inp.raw_bytes / 1e9:.4f}"
          f" ref_bytes={bench.ref_bytes} host={json.dumps(host)}")
    print("# phases " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()))
    if e2e.get("ref_ratio") is not None and e2e["ref_ratio"] > 1:
        print(f"# FLAG ref_ratio={e2e['ref_ratio']:.4f} > 1: stored bytes "
              "exceed the reference's, the BASELINE size gate is broken")
    if host["steal_frac"] > 0.05:
        print(f"# FLAG host steal {host['steal_frac']:.1%}: timings are "
              "the host's more than the program's")


if __name__ == "__main__":
    sys.exit(main())
