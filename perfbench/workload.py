"""One workload's measured cycle over the public functions of
``operators.pipeline``, with every result checked against its source.

A cycle is: ingest into a fresh store (``run_encode``) → ``compact_store``
→ three rounds of reads, each a checksummed full ``decode_blocks`` scan,
an absent-key lookup, the workload's aggregate query and another
absent-key lookup → two trickle appends (``run_encode(generation=g)``,
g = 1, 2), each followed by a lookup of a key it just appended
(read-your-write) → a lookup of a base-row key.  The untimed warm-up
cycle runs one scan, absent-key lookup, query, append and
read-your-write lookup.
Every cycle starts from a new store directory, so ingest and compaction do
identical work in every cycle and their results must agree exactly.
"""
from __future__ import annotations

import shutil
import sys
import time
import traceback
from collections import defaultdict

import pyarrow as pa
from pyspark.sql import functions as F

from parquet_python_spark.operators import pipeline as pl
from parquet_python_spark.plans import partitioning as part

from perfbench import data

MASK32 = 0xFFFFFFFF
NOOP_COMPACT_REPEATS = 2
READ_REPEATS = 3


class CycleAborted(Exception):
    """A step failed in a way that leaves the rest of the cycle moot."""


def checksums(df, cols: list[str]) -> tuple:
    """Row count, then per column the non-null count and the sum of its
    xxhash64 masked to 32 bits, then the same masked sum over whole rows
    (catches rows re-paired across columns).  Masking keeps the sums far
    from overflow, which Spark's ANSI mode would raise on."""
    mask = F.lit(MASK32)
    exprs = [F.count(F.lit(1))]
    for c in cols:
        exprs += [F.count(c), F.sum(F.xxhash64(c).bitwiseAND(mask))]
    exprs.append(F.sum(F.xxhash64(*cols).bitwiseAND(mask)))
    return tuple(df.agg(*exprs).collect()[0])


class Bench:
    """One workload's sources, oracles, timing samples and counters."""

    def __init__(self, spark, inputs: data.Inputs, tmp: str):
        self.spark = spark
        self.inp = inputs
        self.spec = inputs.spec
        self.tmp = tmp
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.recording = False
        self.attempted = 0
        self.failed = 0
        self.reference: dict[str, object] = {}
        self.n_cycles = 0
        self.n_misses = 0
        self.kept_store: str | None = None
        # set by each cycle; identical across cycles (checked)
        self.raw_bytes = self.stored_bytes = self.last_compact = None
        self.src = self._source(inputs.base_path)
        self.batch_dfs = [self._source(p) for p in inputs.batch_paths]

    def _source(self, path: str):
        if self.spec.name == "lineitem_query":
            from __spark_entry__ import _lineitem_source

            return _lineitem_source(self.spark, path)
        return self.spark.read.parquet(path)

    # ------------------------------------------------------------ checking

    def fail(self, what: str, detail: str) -> None:
        self.failed += 1
        print(f"# FAILED {what}: {detail}", file=sys.stderr, flush=True)

    def same(self, key: str, value) -> str | None:
        """Deterministic results must repeat exactly across cycles."""
        ref = self.reference.setdefault(key, value)
        return None if ref == value else f"{key} {value!r} != {ref!r}"

    def op(self, kind: str, span: str, tracer, fn, check):
        """Run one timed operation; it counts as attempted, and as failed
        when it raises or ``check(result)`` returns a problem."""
        self.attempted += 1
        try:
            with tracer.span(span, jobs=True):
                t = time.perf_counter()
                res = fn()
                dt = time.perf_counter() - t
        except Exception:  # noqa: BLE001 — any error fails this operation
            self.fail(kind, traceback.format_exc(limit=3))
            raise CycleAborted(kind) from None
        problem = check(res)
        if problem:
            self.fail(kind, problem)
        elif self.recording:
            self.samples[kind].append(dt)
        return res

    # ---------------------------------------------------------- operations

    def run_query(self, store: str) -> dict:
        spec = self.spec
        d = pl.decode_blocks(pl.read_blocks(self.spark, store),
                             columns=spec.query_cols,
                             filters=spec.query_filter)
        if spec.name == "code_bulk":
            rows = d.groupBy("lang").agg(
                F.count(F.lit(1)), F.sum(F.octet_length("path"))).collect()
            return {(r[0],): (r[1], r[2]) for r in rows}
        rows = d.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)), F.sum("l_quantity"),
            F.sum("l_extendedprice"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).collect()
        return {(r[0], r[1]): tuple(r[2:]) for r in rows}

    def lookup(self, store: str, key) -> list[tuple]:
        rows = pl.decode_blocks(pl.read_blocks(self.spark, store),
                                filters=[(self.spec.key_col, "==", key)]
                                ).collect()
        cols = self.spec.columns
        return sorted(tuple(r[c] for c in cols) for r in rows)

    def start_oracles(self, pool) -> None:
        """Expected answers: the query answer from pyarrow now; the source
        checksums and the reference sizes (BASELINE's size gate) from Spark,
        in ``pool``'s thread, so they run alongside the warm-up cycle."""
        self.want_query = data.query_answer(self.spec, self.inp.base)
        self._spark_oracles = pool.submit(
            lambda: (checksums(self.src, self.spec.columns),
                     self.reference_bytes()))

    def wait_oracles(self) -> None:
        self._spark_oracles.result()

    @property
    def want_checksums(self) -> tuple:
        return self._spark_oracles.result()[0]

    @property
    def ref_bytes(self) -> int:
        return self._spark_oracles.result()[1]

    def reference_bytes(self) -> int:
        """The reference's best (PLAIN or dictionary) column-chunk size,
        summed over the parts the store's plan makes and the encoded
        columns (the plan of a fresh store is ``plan_splits`` of its
        source)."""
        cols = self.spec.columns
        assigned = part.with_partition_plan(self.src, self.spec.target_rows)

        def sizes(key, tbl):  # no hints: applyInArrow infers from them
            import pyarrow.compute  # noqa: F401 — reference_size needs it
            from parquet_python_spark.operators import reference_size as rs

            total = sum(rs.reference_best_size(tbl[c]) for c in cols)
            return pa.table({"ref": pa.array([total], pa.int64())})

        return int(assigned.select("part_key", *cols).groupBy("part_key")
                   .applyInArrow(sizes, "ref long")
                   .agg(F.sum("ref")).collect()[0][0])

    # --------------------------------------------------------------- cycle

    def cycle(self, tracer, keep: bool = False) -> str | None:
        """Run one cycle in a new store.  The store is deleted afterwards
        unless ``keep`` is set and the cycle succeeded; then its path is
        returned."""
        k = self.n_cycles
        self.n_cycles += 1
        store = f"{self.tmp}/store{k}"
        try:
            with tracer.span("cycle"):
                self._cycle(store, tracer)
        except CycleAborted:
            keep = False
        if not keep:
            shutil.rmtree(store, ignore_errors=True)
            return None
        return store

    def _cycle(self, store: str, tr) -> None:
        spec, inp, spark = self.spec, self.inp, self.spark
        n_base = inp.base.num_rows

        def ingest_ok(s):
            return (None if s.get("rows") == n_base
                    else f"store rows {s.get('rows')} != {n_base}") \
                or self.same("ingest_summary", s)

        s = self.op("ingest", "pipeline.run_encode", tr,
                    lambda: pl.run_encode(self.src, store,
                                          columns=spec.columns,
                                          target_rows=spec.target_rows),
                    ingest_ok)
        def compact():
            return self.op("compact", "pipeline.compact_store", tr,
                           lambda: pl.compact_store(
                               spark, store,
                               max_pages_per_column=spec.max_pages_per_column),
                           lambda r: self.same("compact_result", r))

        c = compact()
        if c["parts_compacted"] == 0 and self.recording:
            # a call that rewrites nothing leaves the store as it was, so
            # repeating it samples the same work again
            for _ in range(NOOP_COMPACT_REPEATS):
                compact()
        self.last_compact = c
        self.raw_bytes = s["raw_bytes"]
        self.stored_bytes = (s["enc_bytes"] - c["enc_bytes_before"]
                             + c["enc_bytes_after"])
        # reads leave the store as it is, so a measured cycle repeats them
        # for more samples; the warm-up needs one of each.  The kinds take
        # turns, so a stall of the host costs one sample of a kind rather
        # than all of them
        reads = READ_REPEATS if self.recording else 1
        for _ in range(reads):
            self.op("scan", "pipeline.decode_blocks_full", tr,
                    lambda: checksums(pl.decode_blocks(
                        pl.read_blocks(spark, store)), spec.columns),
                    lambda r: None if r == self.want_checksums
                    else f"decoded checksums {r} != {self.want_checksums}")
            self._miss(store, tr)
            self.op("query", "pipeline.decode_blocks_query", tr,
                    lambda: self.run_query(store),
                    lambda r: None if data.answers_match(r, self.want_query)
                    else f"query {r} != {self.want_query}")
            if self.recording:
                self._miss(store, tr)
        # trickle appends, one generation each, every one followed by a
        # read-your-write lookup of a key it appended
        n_appends = data.APPENDS if self.recording else 1
        for g in range(n_appends):
            want_rows = n_base + sum(b.num_rows for b in inp.batches[:g + 1])
            self.op("append", "pipeline.run_encode_append", tr,
                    lambda: pl.run_encode(self.batch_dfs[g], store,
                                          columns=spec.columns,
                                          target_rows=spec.target_rows,
                                          generation=g + 1),
                    lambda r: None if r.get("rows") == want_rows
                    else f"store rows {r.get('rows')} != {want_rows}")
            self._lookup("lookup", store, self._pick(inp.batches[g]),
                         g + 1, tr)
        if self.recording:
            self._lookup("lookup", store, self._pick(inp.base), n_appends, tr)

    def _pick(self, tbl: pa.Table):
        """A key of ``tbl``, drawn from the seed."""
        col = tbl[self.spec.key_col]
        return col[int(self.inp.rng.integers(len(col)))].as_py()

    def _miss(self, store: str, tr) -> None:
        """Time one lookup of the next absent key, before any append.  In
        lineitem_query up to about half of the absent keys, depending on
        the seed, pass some page's Bloom filter (a false positive) and
        then cost about 1.5 times as much, so a run takes several, the
        same ones for a given seed."""
        keys = self.inp.absent_keys
        key = keys[self.n_misses % len(keys)]
        self.n_misses += 1
        self._lookup("lookup_miss", store, key, 0, tr)

    def _lookup(self, kind: str, store: str, key, appended: int, tr) -> None:
        """Time one lookup of ``key``; the expected rows come from the base
        table plus the first ``appended`` batches."""
        cols = self.spec.columns
        want = data.lookup_rows(self.inp.stored(appended).select(cols),
                                self.spec.key_col, key)
        self.op(kind, f"pipeline.decode_blocks_{kind}", tr,
                lambda: self.lookup(store, key),
                lambda r: None if r == want
                else f"lookup {key!r}: {len(r)} rows, expected {len(want)}")
