"""Seeded inputs and oracles for the store benchmark.

Everything the program under test sees is generated here from ``--seed``:
the two source tables, their trickle-append batches and the lookup keys.
The expected answers for queries and lookups are computed with pyarrow
from the same in-memory tables, so the oracle shares no code with the
Spark pipeline it checks.
"""
from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from parquet_python_spark.sources import codegen

CODE_COLS = ["repo", "path", "commit", "lang", "content"]
LINEITEM_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"]
Q1_COLS = ["l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
           "l_discount", "l_shipdate"]
Q1_CUTOFF = "1997-06-30"
APPEND_ROWS = 5_000
APPENDS = 2  # trickle batches per measured cycle, generations 1..2
_SHIP_EPOCH = np.datetime64("1995-01-02", "D")


@dataclass
class Spec:
    """One workload: its source, how it is encoded and what it reads."""
    name: str
    rows: int
    columns: list[str]
    target_rows: int
    max_pages_per_column: int
    key_col: str
    query_cols: list[str]
    query_filter: list = field(default_factory=list)


def code_spec(rows: int) -> Spec:
    return Spec("code_bulk", rows, CODE_COLS, target_rows=8_192,
                max_pages_per_column=2, key_col="commit",
                query_cols=["lang", "path"])


def lineitem_spec(rows: int) -> Spec:
    # at 200k rows, 15k-row parts give the part layout sf0.1 gets at 50k:
    # each ship year splits into two salted parts that hold no other year
    return Spec("lineitem_query", rows, LINEITEM_COLS, target_rows=15_000,
                max_pages_per_column=8, key_col="l_orderkey",
                query_cols=Q1_COLS,
                query_filter=[("l_shipdate", "<=", Q1_CUTOFF)])


# ------------------------------------------------------------------ tables

def code_rows(start: int, count: int) -> pa.Table:
    """Rows [start, start+count) of ``sources.codegen``'s code table — the
    same values ``codegen.code_table`` yields, because every value is a
    pure function of the global row index.  The generator's own seed stays
    fixed (same repos, languages and line pools for every benchmark seed);
    the benchmark seed picks which window of rows a run gets, so runs see
    different rows with nearly the same part structure."""
    return codegen.generate_arrow(start, count, seed=codegen.DEFAULT_SEED)


def lineitem_rows(count: int, seed: int, stream: int,
                  key_lo: int, key_hi: int) -> pa.Table:
    """Lineitem rows drawn the way the repo's sf0.1 test table is: every
    column independent and uniform over that table's domain, in no row
    order (order keys unsorted, line numbers unrelated to the order,
    prices unrelated to quantity, 2-decimal prices, day-granular ship
    timestamps from 1995-01-02 over 2499 days).  At sf0.1's size the store
    picks the same codec for every column, with the same ratios, and
    prunes the same share of parts; README.md gives the comparison."""
    rng = np.random.default_rng([seed, stream])
    qty = rng.integers(1, 51, count).astype(np.float64)
    price = rng.integers(90_068, 10_499_992, count) / 100.0
    days = rng.integers(0, 2499, count)
    ship = (_SHIP_EPOCH + days).astype("datetime64[us]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(key_lo, key_hi, count),
                               pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, count), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, count), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, count), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, count) / 100.0,
                               pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, count) / 100.0, pa.float64()),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, count)], pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"])[
            rng.integers(0, 2, count)], pa.string()),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


@dataclass
class Inputs:
    """A workload's generated data, written where Spark reads it."""
    spec: Spec
    base: pa.Table            # the encoded columns of the bulk source
    base_path: str
    batches: list[pa.Table]   # the trickle appends, generations 1..APPENDS
    batch_paths: list[str]
    absent_keys: list
    rng: np.random.Generator

    @property
    def raw_bytes(self) -> int:
        return self.base.nbytes

    def stored(self, appended: int) -> pa.Table:
        """Everything in the store after the first ``appended`` batches."""
        return pa.concat_tables([self.base] + self.batches[:appended])


def make_inputs(spec: Spec, seed: int, root: str, n_files: int) -> Inputs:
    seed %= 2**32
    rng = np.random.default_rng([seed, 99])
    if spec.name == "code_bulk":
        start = seed * (spec.rows + APPENDS * APPEND_ROWS)
        base = code_rows(start, spec.rows)
        batches = [code_rows(start + spec.rows + i * APPEND_ROWS, APPEND_ROWS)
                   for i in range(APPENDS)]
        # repo-clustered layout (sorted on repo, path), one file per read
        # split: how a source-code corpus is usually stored
        base = base.sort_by([("repo", "ascending"), ("path", "ascending")])
        base_path = f"{root}/code"
        _write_split(base, base_path, n_files)
        batch_paths = [f"{root}/code_batch{i}" for i in range(APPENDS)]
        for b, path in zip(batches, batch_paths):
            _write_split(b, path, 1)
        absent = [rng.bytes(20).hex() for _ in range(64)]
        spec.query_filter = [("repo", "<=", code_query_bound(base))]
    else:
        n_keys = max(spec.rows // 4, 1)
        base = lineitem_rows(spec.rows, seed, 0, 0, n_keys)
        # fresh order keys per batch, so a read-your-write lookup can only
        # hit the rows that batch appended
        step = APPEND_ROWS // 4
        batches = [lineitem_rows(APPEND_ROWS, seed, 1 + i,
                                 n_keys + i * step, n_keys + (i + 1) * step)
                   for i in range(APPENDS)]
        # one file, one row group: the shape of the sf0.1 test table, read
        # through __spark_entry__._lineitem_source (year-partitioned parts)
        base_path = f"{root}/lineitem"
        os.makedirs(base_path)
        pq.write_table(base, f"{base_path}/lineitem.parquet")
        batch_paths = [f"{root}/lineitem_batch{i}" for i in range(APPENDS)]
        for b, path in zip(batches, batch_paths):
            os.makedirs(path)
            pq.write_table(b, f"{path}/lineitem.parquet")
        gaps = np.setdiff1d(np.arange(n_keys),
                            np.unique(base["l_orderkey"].to_numpy()))
        absent = [int(k) for k in rng.choice(gaps, size=min(64, len(gaps)),
                                             replace=False)]
    return Inputs(spec, base, base_path, batches, batch_paths, absent, rng)


def _write_split(tbl: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path)
    step = -(-tbl.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(tbl.slice(i * step, step),
                       f"{path}/part-{i:05d}.parquet", compression="none")


# ----------------------------------------------------------------- oracles

def lookup_rows(tbl: pa.Table, key_col: str, key) -> list[tuple]:
    """Rows whose ``key_col`` equals ``key``, as sorted tuples."""
    hit = tbl.filter(pc.equal(tbl[key_col], pa.scalar(key,
                                                      tbl[key_col].type)))
    return sorted(tuple(r.values()) for r in hit.to_pylist())


def query_answer(spec: Spec, tbl: pa.Table) -> dict:
    """Expected result of the workload's aggregate query, keyed by group."""
    if spec.name == "code_bulk":
        (col, _, bound), = spec.query_filter
        sel = tbl.filter(pc.less_equal(tbl[col], bound))
        agg = (sel.append_column("plen", pc.binary_length(sel["path"]))
               .group_by("lang").aggregate([("plen", "sum"),
                                            ("plen", "count")]))
        return {(r["lang"],): (r["plen_count"], r["plen_sum"])
                for r in agg.to_pylist()}
    cutoff = pa.scalar(dt.datetime.fromisoformat(Q1_CUTOFF),
                       pa.timestamp("us"))
    sel = tbl.filter(pc.less_equal(tbl["l_shipdate"], cutoff))
    disc = pc.multiply(sel["l_extendedprice"],
                       pc.subtract(1.0, sel["l_discount"]))
    agg = (sel.append_column("disc", disc)
           .group_by(["l_returnflag", "l_linestatus"])
           .aggregate([("l_quantity", "count"), ("l_quantity", "sum"),
                       ("l_extendedprice", "sum"), ("disc", "sum")]))
    return {(r["l_returnflag"], r["l_linestatus"]):
            (r["l_quantity_count"], r["l_quantity_sum"],
             r["l_extendedprice_sum"], r["disc_sum"])
            for r in agg.to_pylist()}


def code_query_bound(tbl: pa.Table) -> str:
    """Upper bound of the code query's repo range: the median repo name,
    so about half of the repos qualify."""
    repos = sorted(pc.unique(tbl["repo"]).to_pylist())
    return repos[len(repos) // 2]


def answers_match(got: dict, want: dict) -> bool:
    """Exact on keys and integer fields; floating sums may differ only by
    summation order (relative 1e-9)."""
    if got.keys() != want.keys():
        return False
    for k, w in want.items():
        g = got[k]
        for a, b in zip(g, w, strict=True):
            if isinstance(b, float):
                if abs(a - b) > 1e-9 * max(abs(b), 1.0):
                    return False
            elif a != b:
                return False
    return True
