"""Stats/Bloom pruning against a brute-force Python oracle.

The fixture store is built page by page, so its parts hold what pruning
must get right: several pages per column, string / int / date32 /
timestamp / float columns, NaN and all-NaN pages, NULLs, a page whose
truncated max stat is NULL, string values with quotes, backslashes and
non-ASCII.  For seeded random filters (every op, AND and OR groups) the
kept part set must equal an oracle computed in Python from the collected
min/max stats and ``bloom.maybe_contains``, and a pruned decode must equal
the unpruned decode plus the filter.  A copy of the store without the
``bloom`` column checks the same for stores that predate it.
"""
import datetime
import math

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_python_spark.kernels import bloom
from parquet_python_spark.operators import encoder as enc
from parquet_python_spark.operators import pipeline as pl
from parquet_python_spark.operators import selector
from parquet_python_spark.plans import filters as filt

pytestmark = pytest.mark.spark

N_PARTS = 6
PAGES = 3
PAGE_ROWS = 20
EPOCH = datetime.date(1970, 1, 1)
# a max stat made only of U+10FFFF cannot be truncated upward: stored NULL
HUGE = "\U0010ffff" * (pl.STATS_TRUNCATE + 6)
SPECIAL = "it's a \\ back-slashed ünïcödé ✓ value"
VOCAB = [f"w{i:03d}" for i in range(60)] + [SPECIAL, "O'Brien", "a\\b"]


def _column_pages(rng, part: int) -> dict[str, list[pa.Array]]:
    """One part's pages per column (every column splits at the same rows)."""
    n = PAGES * PAGE_ROWS
    s = [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]
    s = [None if rng.random() < 0.05 else v for v in s]
    if part == 1:
        s[PAGE_ROWS] = HUGE  # page 1 of part 1: max stat NULL
    k = (part * 40 + rng.integers(0, 60, n)).tolist()
    d = [EPOCH + datetime.timedelta(days=18_000 + part * 30 + int(x))
         for x in rng.integers(0, 45, n)]
    t = [datetime.datetime(2022, 1, 1) + datetime.timedelta(
        seconds=int(x)) for x in part * 5_000 + rng.integers(0, 8_000, n)]
    x = (part + rng.normal(size=n)).tolist()
    if part % 2 == 0:
        x[:PAGE_ROWS] = [math.nan] * PAGE_ROWS  # an all-NaN page
    x[-1] = math.nan
    cols = {"s": pa.array(s, pa.string()), "k": pa.array(k, pa.int64()),
            "d": pa.array(d, pa.date32()),
            "t": pa.array(t, pa.timestamp("us")),
            "x": pa.array(x, pa.float64())}
    return {c: [a.slice(p * PAGE_ROWS, PAGE_ROWS) for p in range(PAGES)]
            for c, a in cols.items()}


def _block_rows(part: int, pages: dict[str, list[pa.Array]]) -> list[dict]:
    rows = []
    for ci, (c, arrs) in enumerate(pages.items()):
        for page_id, arr in enumerate(arrs):
            choice = selector.choose(arr)
            blk = enc.encode_block(arr, choice.codec)
            lo_s, hi_s = pl._minmax_str(arr)
            lo_n, hi_n = pl._minmax_num(arr, choice.dtype_id)
            rows.append(dict(
                part_key=part, repo=None, split_id=0, page_id=page_id,
                col_idx=ci, column=c, codec=choice.codec_name,
                compression="UNCOMPRESSED", dtype_id=choice.dtype_id,
                n_values=len(arr), n_nulls=arr.null_count,
                raw_size=arr.nbytes, encoded_size=len(blk), encode_ms=0.0,
                min_s=lo_s, max_s=hi_s, min_num=lo_n, max_num=hi_n,
                row_hash=0, bloom=pl._page_bloom(arr, choice.dtype_id),
                block=blk))
    return rows


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """(store with Bloom filters, the same store without the column)."""
    rng = np.random.default_rng(7)
    rows = [r for p in range(N_PARTS)
            for r in _block_rows(p, _column_pages(rng, p))]
    tbl = pa.Table.from_pylist(rows, schema=pl._ARROW_BLOCKS_SCHEMA)
    assert any(r["column"] == "s" and r["min_s"] is not None
               and r["max_s"] is None for r in rows)
    assert any(r["column"] == "x" and r["min_num"] is None for r in rows)
    base = tmp_path_factory.mktemp("prune")
    paths = []
    for name, t in (("bloom", tbl), ("legacy", tbl.drop(["bloom"]))):
        (base / name / "blocks").mkdir(parents=True)
        pq.write_table(t, str(base / name / "blocks" / "part-00000.parquet"))
        paths.append(str(base / name))
    return paths


# ------------------------------------------------------------------ oracle

def _page_maybe(page: dict, op: str, v, use_bloom: bool) -> bool:
    """Can this page hold a value x with ``x op v``?  Pages without the
    stats an op needs cannot be ruled out."""
    if op in ("!=", "not in"):
        return True
    items = list(v) if op == "in" else [v]
    rop = "==" if op in ("in", "=") else op
    dt = page["dtype_id"]
    if dt == enc.DT_STRING:
        lo, hi, key = page["min_s"], page["max_s"], lambda y: y
    elif dt == enc.DT_DATE32:
        lo, hi, key = page["min_num"], page["max_num"], \
            lambda y: float((y - EPOCH).days)
    elif dt == enc.DT_TIMESTAMP_US:
        lo, hi, key = page["min_num"], page["max_num"], \
            lambda y: float((y - datetime.datetime(1970, 1, 1))
                            // datetime.timedelta(microseconds=1))
    else:
        lo, hi, key = page["min_num"], page["max_num"], float

    def in_range(y) -> bool:
        if isinstance(y, float) and math.isnan(y):
            return True
        y = key(y)
        need_lo = rop in ("==", "<", "<=")
        need_hi = rop in ("==", ">", ">=")
        if (need_lo and lo is None) or (need_hi and hi is None):
            return True
        # a page that may hold NaN stores max +inf; NaN > +inf holds
        return {"==": lambda: lo <= y <= hi, "<": lambda: lo < y,
                "<=": lambda: lo <= y, ">": lambda: hi > y or hi == math.inf,
                ">=": lambda: hi >= y}[rop]()

    def in_bloom(y) -> bool:
        words = page["bloom"]
        if not use_bloom or words is None or rop != "==":
            return True
        if dt == enc.DT_STRING:
            return bloom.maybe_contains(words, y.encode("utf-8"))
        if dt == enc.DT_DATE32:
            return bloom.maybe_contains(words, (y - EPOCH).days)
        if dt == enc.DT_TIMESTAMP_US:
            return bloom.maybe_contains(words, int(key(y)))
        if dt == enc.DT_INT64:
            return bloom.maybe_contains(words, int(y))
        return True

    return any(in_range(y) and in_bloom(y) for y in items)


def _oracle(pages: list[dict], filters, use_bloom: bool) -> set[int]:
    kept = set()
    for part in {p["part_key"] for p in pages}:
        mine = [p for p in pages if p["part_key"] == part]
        for grp in filters:
            if all(not any(p["column"] == c for p in mine)
                   or any(_page_maybe(p, op, v, use_bloom)
                          for p in mine if p["column"] == c)
                   for c, op, v in grp):
                kept.add(part)
                break
    return kept


# ----------------------------------------------------------------- filters

def _literal(rng, col: str):
    """A value of ``col``: mostly one the store holds, else an absent one."""
    vals = {"s": VOCAB + ["zzz-absent", "", HUGE],
            "k": list(range(0, N_PARTS * 40 + 60, 7)) + [-5, 10**12],
            "d": [EPOCH + datetime.timedelta(days=int(x))
                  for x in range(17_990, 18_000 + N_PARTS * 30 + 50, 11)],
            "t": [datetime.datetime(2022, 1, 1) + datetime.timedelta(
                seconds=int(x)) for x in range(-100, N_PARTS * 5_000 + 8_100,
                                               2_099)],
            "x": [-2.5, -0.5, 0.0, 1.25, 3.5, 4.75, 9.0, math.nan,
                  math.inf, -math.inf]}[col]
    return vals[int(rng.integers(len(vals)))]


def _random_filters(rng, n: int) -> list:
    ops = ["==", "!=", "<", "<=", ">", ">=", "in", "not in"]
    out = []
    for _ in range(n):
        groups = []
        for _ in range(int(rng.integers(1, 3))):
            grp = []
            for _ in range(int(rng.integers(1, 3))):
                c = "skdtx"[int(rng.integers(5))]
                op = ops[int(rng.integers(len(ops)))]
                v = ([_literal(rng, c)
                      for _ in range(int(rng.integers(1, 4)))]
                     if op in ("in", "not in") else _literal(rng, c))
                grp.append((c, op, v))
            groups.append(grp)
        out.append(groups)
    return out


FIXED = [
    [("s", "==", SPECIAL)],
    [("s", "in", ["O'Brien", "a\\b"])],
    [("s", "==", "zzz-absent")],
    [("s", ">", "w058")],  # the NULL-max page can't be ruled out
    [("s", "==", HUGE)],
    [("k", "==", 10**12)],
    [("k", "!=", 3)],
    [("d", "<", EPOCH + datetime.timedelta(days=18_010))],
    [("t", ">=", datetime.datetime(2022, 1, 1, 7))],
    [("x", ">", 3.0)],   # NaN rows match: NaN orders above every double
    [("x", ">", math.inf)],
    [("x", "==", math.nan)],
    [("x", "not in", [0.0])],
    [[("k", "<", 30)], [("s", "==", SPECIAL), ("x", "<=", 0.5)]],
]


def _pages(spark, path):
    return [r.asDict() for r in pl.read_blocks(spark, path).select(
        "part_key", "column", "dtype_id", "min_s", "max_s", "min_num",
        "max_num", "bloom").collect()]


def _kept(blocks, f) -> set[int]:
    return {r[0] for r in
            pl.prune_blocks(blocks, f).select("part_key").distinct().collect()}


def _rows(df) -> list:
    def key(v):  # NaN != NaN would fail equal rows
        return "NaN" if isinstance(v, float) and math.isnan(v) else v
    return sorted((tuple(key(v) for v in r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("which", ["bloom", "legacy"])
def test_pruning_matches_oracle(spark, stores, which):
    path = stores[0] if which == "bloom" else stores[1]
    pages = _pages(spark, path)
    blocks = pl.read_blocks(spark, path)
    filters = FIXED + _random_filters(np.random.default_rng(11), 40)
    pruned_some = False
    for f in filters:
        groups = pl._norm_filters(f)
        want = _oracle(pages, groups, use_bloom=which == "bloom")
        assert _kept(blocks, f) == want, f
        pruned_some |= len(want) < N_PARTS
        if which == "legacy":
            # a frame without the column at all (not just NULL words)
            assert _kept(blocks.drop("bloom"), f) == _oracle(
                pages, groups, use_bloom=False), f
    assert pruned_some


@pytest.mark.parametrize("which", ["bloom", "legacy"])
def test_pruned_decode_equals_filtered_full_decode(spark, stores, which):
    path = stores[0] if which == "bloom" else stores[1]
    blocks = pl.read_blocks(spark, path)
    # checkpointed, not cached: the cache's own batch min/max pruning
    # drops NaN rows for ``x > inf``
    full = pl.decode_blocks(blocks).localCheckpoint()
    assert full.count() == N_PARTS * PAGES * PAGE_ROWS
    for f in FIXED + _random_filters(np.random.default_rng(5), 6):
        got = _rows(pl.decode_blocks(blocks, filters=f))
        assert got == _rows(filt.apply_filters(full, f)), f
    f = [("s", "==", SPECIAL), ("x", ">", 0.0)]
    got = pl.decode_blocks(blocks, columns=["k"], filters=f)
    assert got.columns == ["k"]
    assert _rows(got) == _rows(filt.apply_filters(full, f).select("k"))


def test_absent_key_decode_runs_only_the_metadata_job(spark, spark_jobs,
                                                     stores):
    """A lookup that no part survives on a ``read_blocks`` frame plans on
    the driver from the block files' metadata column chunks (no job) and
    collects an empty local relation: no decode job, no Python task."""
    blocks = pl.read_blocks(spark, stores[0])
    f = [("k", "==", 10**12)]
    assert _kept(blocks, f) == set()
    with spark_jobs() as plan_jobs:
        df = pl.decode_blocks(pl.read_blocks(spark, stores[0]), filters=f)
    with spark_jobs() as collect_jobs:
        assert df.collect() == []
    assert plan_jobs == []
    assert collect_jobs == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "Python" not in plan, plan
    assert "Arrow" not in plan, plan
    assert df.columns == ["s", "k", "d", "t", "x"]


def _plans_alike(spark, path, filters, columns=None):
    """The plan from the block files equals the plan collected through
    Spark, from a filtered frame and from a cached one."""
    files = pl.read_blocks(spark, path)
    assert pl._scan_files(files)
    collected = pl.read_blocks(spark, path).where("true")
    cached = pl.read_blocks(spark, path).cache()
    try:
        assert pl._scan_files(cached) == []
        assert pl._scan_files(pl.read_blocks(spark, path)) == []
        for f in filters:
            groups = pl._norm_filters(f)
            want = pl._plan_decode(files, columns, groups)
            for other in (collected, cached):
                schema, kept, sizers, _ = pl._plan_decode(other, columns,
                                                          groups)
                assert schema == want[0], f
                assert (kept is None) == (want[1] is None), f
                assert set(kept or ()) == set(want[1] or ()), f
                assert ({c: sorted(k) for c, k in sizers.items()}
                        == {c: sorted(k) for c, k in want[2].items()}), f
    finally:
        cached.unpersist(blocking=True)


@pytest.mark.parametrize("which", ["bloom", "legacy"])
def test_file_and_collect_sources_plan_alike(spark, stores, which):
    path = stores[0] if which == "bloom" else stores[1]
    _plans_alike(spark, path,
                 [[]] + FIXED + _random_filters(np.random.default_rng(23), 30))


@pytest.fixture(scope="module")
def mixed_store(tmp_path_factory):
    """Two block files: parts 0-2 without a ``bloom`` column, parts 3-5
    with the old ``metrics`` column and a column ``e`` that parts 0-2
    lack."""
    rng = np.random.default_rng(7)
    old, new = [], []
    for p in range(N_PARTS):
        pages = _column_pages(rng, p)
        if p >= 3:
            pages["e"] = [pa.array([f"e{p}-{i}" for i in range(PAGE_ROWS)])
                          for _ in range(PAGES)]
        (new if p >= 3 else old).extend(_block_rows(p, pages))
    path = tmp_path_factory.mktemp("mixed")
    (path / "blocks").mkdir()
    tbl = pa.Table.from_pylist(old, schema=pl._ARROW_BLOCKS_SCHEMA)
    pq.write_table(tbl.drop(["bloom"]),
                   str(path / "blocks" / "part-00000.parquet"))
    tbl = pa.Table.from_pylist(new, schema=pl._ARROW_BLOCKS_SCHEMA)
    tbl = tbl.append_column("metrics", pa.array(["{}"] * len(tbl)))
    pq.write_table(tbl, str(path / "blocks" / "part-00001.parquet"))
    return str(path), [dict(r, bloom=None) for r in old] + new


def test_plan_from_files_of_mixed_block_schemas(spark, mixed_store):
    """A file without ``bloom`` plans as NULL filters (kept), a file with
    the old ``metrics`` column plans as any other, and parts without a
    projected column decode through their sizer column."""
    path, rows = mixed_store
    blocks = pl.read_blocks(spark, path)
    filters = FIXED + _random_filters(np.random.default_rng(29), 20)
    for f in filters:
        groups = pl._norm_filters(f)
        assert _kept(blocks, f) == _oracle(rows, groups, use_bloom=True), f
    _plans_alike(spark, path, filters[:8], columns=["e"])
    schema, kept, sizers, _ = pl._plan_decode(blocks, ["e"], [])
    assert [fl.name for fl in schema.fields] == ["e"] and kept is None
    assert sorted(k for ks in sizers.values() for k in ks) == [0, 1, 2]
    got = pl.decode_blocks(blocks, columns=["e"]).collect()
    assert len(got) == N_PARTS * PAGES * PAGE_ROWS
    assert sum(r["e"] is None for r in got) == 3 * PAGES * PAGE_ROWS


def test_full_decode_and_key_listing_of_read_blocks_run_no_job(
        spark, spark_jobs, stores):
    """An unfiltered full decode of a ``read_blocks`` frame plans from the
    block files, and so does listing its part keys (``iter_pages``)."""
    with spark_jobs() as jobs:
        pl.decode_blocks(pl.read_blocks(spark, stores[0]))
    assert jobs == []
    with spark_jobs() as jobs:
        keys = pl._block_meta(pl.read_blocks(spark, stores[0]),
                              ("part_key",))["part_key"].to_pylist()
    assert jobs == []
    assert set(keys) == set(range(N_PARTS))


def test_plan_reads_percent_encoded_file_uris(spark, stores, tmp_path):
    """Spark lists a block file of a store whose path holds a space or a
    ``%`` percent-encoded; the planner opens the file it names."""
    import shutil

    path = tmp_path / "a store %41"
    shutil.copytree(stores[0], path)
    blocks = pl.read_blocks(spark, str(path))
    assert "%20" in pl._scan_files(blocks)[0]
    f = [("s", "==", SPECIAL)]
    assert _kept(blocks, f) == _kept(pl.read_blocks(spark, stores[0]), f)
    assert pl.decode_blocks(blocks).count() == N_PARTS * PAGES * PAGE_ROWS


# ------------------------------------------- file-unit vs grouped decode

def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _decodes_agree(spark, path, **kw):
    """The decode of a ``read_blocks`` frame (read units: Python tasks
    read the block files themselves) equals the decode of the same
    blocks through a filtered frame (grouped Arrow UDF behind a part_key
    exchange), as sorted rows."""
    unit = pl.decode_blocks(pl.read_blocks(spark, path), **kw)
    grouped = pl.decode_blocks(pl.read_blocks(spark, path).where("true"),
                               **kw)
    got = _rows(unit)
    assert got == _rows(grouped), kw
    assert unit.columns == grouped.columns, kw
    return unit, got


@pytest.mark.parametrize("which", ["bloom", "legacy"])
def test_unit_decode_equals_grouped_decode(spark, stores, which):
    path = stores[0] if which == "bloom" else stores[1]
    unit, rows = _decodes_agree(spark, path)
    assert len(rows) == N_PARTS * PAGES * PAGE_ROWS
    plan = _executed(unit)
    assert "Exchange" not in plan and "MapInArrow" in plan, plan
    assert "Exchange" in _executed(pl.decode_blocks(
        pl.read_blocks(spark, path).where("true")))
    _decodes_agree(spark, path, columns=["k", "s"])
    _decodes_agree(spark, path, keep_part_key=True)
    for f in FIXED + _random_filters(np.random.default_rng(31), 6):
        _decodes_agree(spark, path, filters=f)
        _decodes_agree(spark, path, columns=["x"], filters=f,
                       keep_part_key=True)


def test_unit_decode_of_evolved_schema(spark, mixed_store):
    """Parts without a projected column decode through their sizer
    column into NULLs, in both decode paths."""
    path, _ = mixed_store
    _, rows = _decodes_agree(spark, path, columns=["e"])
    assert sum(r[0] is None for r in rows) == 3 * PAGES * PAGE_ROWS
    _decodes_agree(spark, path, columns=["e", "k"], keep_part_key=True)
    _decodes_agree(spark, path)


@pytest.fixture(scope="module")
def spread_store(spark, tmp_path_factory):
    """A multi-partition ingest, two appends and a removal's survivor
    rewrite: (path, rows, a part whose pages span three or more block
    files)."""
    from parquet_python_spark.sources import codegen as cg

    path = str(tmp_path_factory.mktemp("spread") / "s")
    pl.run_encode(cg.code_table(spark, 3000, partitions=8), path,
                  target_rows=1500, resume=False)
    for gen in (1, 2):
        pl.run_encode(cg.code_table(spark, 400, partitions=2), path,
                      target_rows=1500, generation=gen)
    victim = pl.read_lineage(spark, path).orderBy("part_key").first()
    pl.remove_parts(spark, path, [victim["part_key"]])
    return path, 3800 - victim["n_rows"]


def test_unit_decode_of_parts_spread_over_files(spark, spread_store):
    """Parts whose pages span three or more block files: a read unit
    holds every file of its parts and decodes them whole."""
    path, n = spread_store
    meta = pl._store_meta(path, ("part_key",))
    files_per_part = (meta.group_by("part_key")
                      .aggregate([("_file", "count_distinct")]))
    assert max(files_per_part["_file_count_distinct"].to_pylist()) >= 3
    unit, rows = _decodes_agree(spark, path)
    assert len(rows) == n
    _decodes_agree(spark, path, keep_part_key=True)
    _decodes_agree(spark, path, columns=["path"],
                   filters=[("lang", "==", unit.first()["lang"])])


def test_read_units_are_capped_and_stream_their_parts(spark, spread_store,
                                                      tmp_path,
                                                      monkeypatch):
    """A read of more than ``UNIT_MAX_BYTES`` per core is cut into more
    units than cores, none over the cap unless it holds one part.  A
    unit's reader yields each of its parts once, whole, as soon as the
    file holding the part's last rows is read, before it opens the next
    file; the decode still equals the grouped decode."""
    from parquet_python_spark.operators import fs as fs_mod
    from tests.fs_doubles import OpenLogFS

    path, n = spread_store
    meta = pl._store_meta(path, ("part_key", "encoded_size"))
    rows_of = dict(zip(*np.unique(np.asarray(meta["part_key"]),
                                  return_counts=True)))
    cap = sum(meta["encoded_size"].to_pylist()) // 10
    monkeypatch.setattr(pl, "UNIT_MAX_BYTES", cap)
    log_fs = OpenLogFS(str(tmp_path / "opens.log"))
    fs_mod.register_fs(path, log_fs)
    try:
        units = pl._plan_decode(pl.read_blocks(spark, path), None, []).units
        assert len(units) > spark.sparkContext.defaultParallelism
        assert all(u.nbytes <= cap or len(u.parts) == 1 for u in units)
        assert sorted(k for u in units for k in u.parts) == sorted(rows_of)
        for u in units:
            before = len(log_fs.opens())
            yielded = []
            for k, t in pl._read_unit(u, pl._DECODE_COLS):
                assert t.num_rows == rows_of[k]
                opened = [p for _, p in log_fs.opens()[before:]]
                holds = [fs_mod._strip_uri(f) for f, _, _, ends in u.files
                         if k in [e[1] for e in ends]]
                assert opened[-1:] == holds, (k, opened, holds)
                yielded.append(k)
            assert sorted(yielded) == sorted(u.parts)
        _, rows = _decodes_agree(spark, path)
        assert len(rows) == n
    finally:
        fs_mod.unregister_fs(path)


def test_one_part_lookup_is_one_task(spark, spark_jobs, stores):
    """A lookup that keeps one part of a ``read_blocks`` frame runs one
    job of one Python task, with no exchange in its plan."""
    f = [("k", "<", 30)]
    assert len(_kept(pl.read_blocks(spark, stores[0]), f)) == 1
    df = pl.decode_blocks(pl.read_blocks(spark, stores[0]), filters=f)
    assert "Exchange" not in _executed(df)
    with spark_jobs() as jobs:
        rows = df.collect()
    assert rows and all(r["k"] < 30 for r in rows)
    st = spark.sparkContext.statusTracker()
    assert len(jobs) == 1
    stages = st.getJobInfo(jobs[0]).stageIds
    assert sum(st.getStageInfo(s).numTasks for s in stages) == 1


# ----------------------------------------------- point reads on the driver

def test_point_lookup_runs_no_job(spark, spark_jobs, stores):
    """A present-key point lookup of a ``read_blocks`` frame whose plan is
    one read unit is read, probed and decoded in the calling process and
    handed to Spark as a local relation: no job when ``decode_blocks`` is
    called, none when the result is collected, no Python in its plan."""
    for kw in ({"filters": [("s", "==", SPECIAL)]},
               {"filters": [("k", "in", [41, 200])], "columns": ["x"],
                "keep_part_key": True}):
        with spark_jobs() as plan_jobs:
            df = pl.decode_blocks(pl.read_blocks(spark, stores[0]), **kw)
        with spark_jobs() as collect_jobs:
            rows = df.collect()
        assert plan_jobs == [] and collect_jobs == [], kw
        assert rows, kw
        plan = _executed(df)
        assert "LocalTableScan" in plan and "Python" not in plan, plan
        _, want = _decodes_agree(spark, stores[0], **kw)
        assert _rows(df) == want, kw


def test_bloom_false_positive_lookup_runs_no_job(spark, spark_jobs, stores):
    """A key that no row holds but some page's Bloom filter passes costs a
    probe on the driver, not a Python task: an empty result, no job."""
    m = pl._store_meta(stores[0], pl._PLAN_COLS + pl._STATS_COLS)
    keys, inv = np.unique(np.asarray(m["part_key"]), return_inverse=True)

    def kept(v) -> bool:
        return bool(pl._kept_parts(m, keys, inv,
                                   pl._prune_tests([[("s", "==", v)]])).any())

    absent = (f"w{i % 60:03d}{i}" for i in range(3000))  # not in VOCAB
    f = [("s", "==", next(v for v in absent if kept(v)))]
    with spark_jobs() as plan_jobs:
        df = pl.decode_blocks(pl.read_blocks(spark, stores[0]), filters=f)
    with spark_jobs() as collect_jobs:
        assert df.collect() == []
    assert plan_jobs == [] and collect_jobs == []
    assert "Python" not in _executed(df)


def test_point_read_over_the_candidate_budget_runs_the_unit_frame(
        spark, spark_jobs, stores, monkeypatch):
    """A point filter with more candidate rows than ``POINT_ROWS`` runs
    the unit frame: one job of one Python task, the same rows."""
    monkeypatch.setattr(pl, "POINT_ROWS", 5)
    f = [("s", "in", VOCAB[:30])]
    df = pl.decode_blocks(pl.read_blocks(spark, stores[0]), filters=f)
    assert "MapInArrow" in _executed(df)
    with spark_jobs() as jobs:
        rows = df.collect()
    assert len(rows) > 5 and len(jobs) == 1
    st = spark.sparkContext.statusTracker()
    assert sum(st.getStageInfo(s).numTasks
               for s in st.getJobInfo(jobs[0]).stageIds) == 1
    _, want = _decodes_agree(spark, stores[0], filters=f)
    assert _rows(df) == want


def _random_point_filters(rng, n: int) -> list:
    """OR groups each holding an ``==`` / ``in`` test the probe evaluates
    (a string or int column), plus random triples of any op and column:
    NaN, float-against-int and NULL literals among them."""
    out = []
    for _ in range(n):
        groups = []
        for _ in range(int(rng.integers(1, 3))):
            if rng.random() < 0.5:
                vals = [_literal(rng, "s") for _ in range(3)] + [None]
                c = "s"
            else:
                vals = [int(v) for v in rng.integers(0, N_PARTS * 40 + 60, 3)]
                c = "k"
            if rng.random() < 0.5:
                grp = [(c, "==", vals[0])]
            else:
                grp = [(c, "in", vals[:int(rng.integers(1, 5))])]
            grp += _random_filters(rng, 1)[0][0][:int(rng.integers(0, 3))]
            groups.append(grp)
        out.append(groups)
    return out


POINT_FIXED = [
    [("s", "==", SPECIAL)],
    [("s", "==", HUGE)],
    [("s", "in", [None, "O'Brien", SPECIAL])],
    [("k", "==", 41), ("x", "==", math.nan)],
    [("s", "==", "w001"), ("k", "==", 41.0)],
    [("k", "in", [0, 45, 90]), ("x", "!=", math.nan)],
    [[("k", "in", [3, 81])], [("s", "in", ["a\\b", None]), ("x", ">", 0.0)]],
]


def test_point_mask_bounds_the_filter(spark, stores):
    """The candidate rows of every point filter hold every row the exact
    filter passes (NULL rows, NaN and float literals, NULLs in ``in``
    lists, truncated-stat strings), and filtering them gives its answer."""
    from collections import Counter

    blocks = pl.read_blocks(spark, stores[0])
    full = pl.decode_blocks(blocks).localCheckpoint()
    narrowed = False
    for f in POINT_FIXED + _random_point_filters(np.random.default_rng(37),
                                                 30):
        groups = pl._norm_filters(f)
        plan = pl._plan_decode(blocks, None, groups)
        point = pl._point_tests(groups, plan.schema)
        assert point is not None, f
        want = _rows(filt.apply_filters(full, f))
        if plan.units is None:  # every part pruned
            assert want == [], f
            continue
        cand = pl._point_rows(plan.units[0], point,
                              pl._part_finisher(plan.schema, False))
        got = pl._local_frame(spark, cand, plan.schema)
        assert not Counter(want) - Counter(_rows(got)), f
        assert _rows(filt.apply_filters(got, f)) == want, f
        narrowed |= got.count() < N_PARTS * PAGES * PAGE_ROWS / 2
    assert narrowed


@pytest.fixture(scope="module")
def nested_store(spark, tmp_path_factory):
    """A store with list, list-of-struct, struct-in-struct and map
    columns, some of them NULL."""
    from pyspark.sql import functions as F

    src = spark.range(300).select(
        F.col("id"),
        F.when(F.col("id") % 5 != 0, F.sequence(F.lit(0), F.col("id") % 4))
        .alias("ll"),
        F.array(F.struct(F.lit("uid").alias("k"), F.col("id").alias("v")),
                F.struct(F.lit("sq").alias("k"),
                         (F.col("id") * F.col("id")).alias("v")))
        .alias("tags"),
        F.when(F.col("id") % 7 != 0, F.struct(
            (F.col("id") % 11).alias("uid"),
            F.struct((F.col("id") / 4).alias("v")).alias("inner")))
        .alias("meta"),
        F.create_map(F.lit("a"), F.col("id").cast("int"),
                     F.lit("b"), (F.col("id") % 3).cast("int"))
        .alias("props"),
    ).withColumn("repo", (F.col("id") % 3).cast("string")) \
        .withColumn("path", F.col("id").cast("string")) \
        .withColumn("commit", F.lit("0"))
    path = str(tmp_path_factory.mktemp("nested") / "s")
    pl.run_encode(src, path, columns=["id", "ll", "tags", "meta", "props"],
                  target_rows=100, resume=False)
    return path


def test_point_lookup_of_nested_columns(spark, spark_jobs, nested_store):
    """Point lookups of a store with list, struct and map columns equal
    the grouped decode, through a key column or a struct child."""
    for kw in ({"filters": [("id", "==", 17)]},
               {"filters": [("id", "in", [3, 150, 299])],
                "columns": ["tags", "props"]},
               {"filters": [("meta.uid", "==", 5)]}):
        with spark_jobs() as jobs:
            df = pl.decode_blocks(pl.read_blocks(spark, nested_store), **kw)
            rows = df.collect()
        assert jobs == [] and rows, kw
        _, want = _decodes_agree(spark, nested_store, **kw)
        assert _rows(df) == want, kw


def test_decode_error_names_the_block(spark, stores, tmp_path):
    """A block that fails to decode raises naming its part_key, column and
    page_id, on the driver path and in a Python task alike."""
    import shutil

    path = tmp_path / "damaged"
    shutil.copytree(stores[0], path)
    f = str(path / "blocks" / "part-00000.parquet")
    t = pq.read_table(f)
    rows = t.to_pylist()
    bad = next(i for i, r in enumerate(rows) if r["part_key"] == 2
               and r["column"] == "k" and r["page_id"] == 1)
    rows[bad]["block"] = b"XXXX" + rows[bad]["block"][4:]
    pq.write_table(pa.Table.from_pylist(rows, schema=t.schema), f)
    msg = r"part_key 2, column 'k', page_id 1: bad block magic"
    key = enc.decode_block(next(r["block"] for r in rows
                                if r["part_key"] == 2 and r["column"] == "k"
                                and r["page_id"] == 0))[0].as_py()
    with pytest.raises(ValueError, match=msg) as err:
        pl.decode_blocks(pl.read_blocks(spark, str(path)),
                         filters=[("k", "==", key)])
    assert str(err.value.__cause__) == "bad block magic"
    with pytest.raises(Exception, match=msg):
        pl.decode_blocks(pl.read_blocks(spark, str(path))).collect()
