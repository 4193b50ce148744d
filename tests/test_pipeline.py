"""End-to-end Spark pipeline: partition plan, encode, store, decode, verify,
resume, pruning."""
import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from parquet_python_spark.operators import pipeline as pl
from parquet_python_spark.plans import partitioning as part
from parquet_python_spark.plans import filters as filt
from parquet_python_spark.sources import codegen as cg

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def code_df(spark):
    return cg.code_table(spark, 3000, partitions=4).cache()


def test_partition_plan_salts_mega_repo(spark, code_df):
    plan = part.plan_splits(code_df, target_rows=200).toPandas()
    mega = plan.sort_values("n_splits", ascending=False).iloc[0]
    assert mega["n_splits"] > 1, "mega-repo should be salted into splits"
    assigned = part.assign_part_keys(code_df, part.plan_splits(code_df, 200))
    sizes = assigned.groupBy("part_key").count().toPandas()["count"]
    # no split should be dramatically bigger than target
    assert sizes.max() < 3 * 200 + 50


def test_assignment_is_partitioning_independent(spark):
    df8 = cg.code_table(spark, 400, partitions=8)
    df2 = cg.code_table(spark, 400, partitions=2)
    plan8 = part.plan_splits(df8, 100)
    a = part.assign_part_keys(df8, plan8).select("repo", "path", "commit", "part_key")
    b = part.assign_part_keys(df2, part.plan_splits(df2, 100)).select(
        "repo", "path", "commit", "part_key")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_encode_decode_roundtrip(spark, code_df, tmp_path):
    store = str(tmp_path / "store")
    stats = pl.run_encode(code_df, store, target_rows=500, resume=False)
    assert stats["rows"] == 3000
    assert stats["enc_bytes"] < stats["raw_bytes"]
    blocks = pl.read_blocks(spark, store)
    assert blocks.where(F.col("codec") == "").count() == 0
    decoded = pl.decode_blocks(blocks)
    res = pl.verify_roundtrip(code_df, decoded)
    assert res["ok"], res


def test_resume_anti_join(spark, tmp_path):
    store = str(tmp_path / "store2")
    df = cg.code_table(spark, 1000, partitions=4)
    first = df.limit(600)
    pl.run_encode(first, store, target_rows=300, resume=False)
    lin1 = pl.read_lineage(spark, store).count()
    # second run with the full table: only new part_keys encode
    pl.run_encode(df, store, target_rows=300, resume=True)
    lin2 = pl.read_lineage(spark, store)
    assert lin2.count() >= lin1
    assert lin2.groupBy("part_key").count().where(F.col("count") > 1).count() == 0, \
        "resume must not duplicate completed part_keys"


def test_decode_projection_reads_fewer_blocks(spark, code_df, tmp_path):
    store = str(tmp_path / "store3")
    pl.run_encode(code_df, store, target_rows=1000, resume=False)
    blocks = pl.read_blocks(spark, store)
    just_lang = pl.decode_blocks(blocks, columns=["lang"])
    assert just_lang.columns == ["lang"]
    assert just_lang.count() == 3000
    counts = code_df.groupBy("lang").count().toPandas().set_index("lang")["count"]
    got = just_lang.groupBy("lang").count().toPandas().set_index("lang")["count"]
    assert counts.sort_index().equals(got.sort_index())


def test_stats_pruning_and_filtered_decode(spark, code_df, tmp_path):
    store = str(tmp_path / "store4")
    pl.run_encode(code_df, store, target_rows=300, resume=False)
    blocks = pl.read_blocks(spark, store)
    filters = [("lang", "==", "python")]
    pruned = pl.prune_blocks(blocks, filters)
    assert pruned.count() <= blocks.count()
    decoded = pl.decode_blocks(blocks, columns=["repo", "lang"], filters=filters)
    want = code_df.where(F.col("lang") == "python").count()
    assert decoded.count() == want
    assert decoded.select("lang").distinct().collect()[0][0] == "python"


def test_lineage_row_hash_is_order_independent(spark, code_df, tmp_path):
    store_a = str(tmp_path / "a")
    store_b = str(tmp_path / "b")
    pl.run_encode(code_df, store_a, target_rows=500, resume=False)
    shuffled = code_df.orderBy(F.rand(7))
    pl.run_encode(shuffled, store_b, target_rows=500, resume=False)
    la = pl.read_lineage(spark, store_a).select("part_key", "n_rows", "row_hash")
    lb = pl.read_lineage(spark, store_b).select("part_key", "n_rows", "row_hash")
    assert la.exceptAll(lb).count() == 0 and lb.exceptAll(la).count() == 0


def test_filter_algebra_matches_sql(spark, code_df):
    f = [[("lang", "==", "python"), ("repo", "!=", "stark/repo0")],
         [("lang", "in", ["go", "rust"])]]
    got = filt.apply_filters(code_df, f).count()
    want = code_df.where(
        "(lang = 'python' AND repo != 'stark/repo0') OR lang IN ('go','rust')"
    ).count()
    assert got == want


def test_testdata_tables_roundtrip(spark, tmp_path):
    """documents + events from the driver testdata: all dtypes through the
    full pipeline (timestamps, doubles, ints, strings)."""
    for name, key in (("documents", "doc_id"), ("events", "event_id")):
        src = spark.read.parquet(f"/root/testdata/sf0.001/{name}.parquet")
        src = src.withColumn("repo", (F.col(key) % 7).cast("string")) \
                 .withColumn("path", F.col(key).cast("string")) \
                 .withColumn("commit", F.lit("c"))
        store = str(tmp_path / f"td_{name}")
        pl.run_encode(src, store, target_rows=400, resume=False)
        decoded = pl.decode_blocks(pl.read_blocks(spark, store))
        res = pl.verify_roundtrip(src, decoded)
        assert res["ok"], (name, res)


def test_numeric_stats_pruning_drops_blocks(spark, tmp_path):
    """Typed min_num/max_num pruning: a range-partitioned int column must
    decode a STRICT SUBSET of blocks, with exact results (r1 pruned only
    string columns — numeric predicates decoded 100% of pages)."""
    pdf = pd.DataFrame({
        "repo": [f"r{i // 100}" for i in range(1000)],   # 10 range buckets
        "path": [str(i) for i in range(1000)],
        "commit": ["0"] * 1000,
        "val": np.arange(1000, dtype=np.int64),
        "when": pd.to_datetime("1995-01-01")
                + pd.to_timedelta(np.arange(1000), unit="D"),
    })
    df = spark.createDataFrame(pdf)
    store = str(tmp_path / "numstats")
    pl.run_encode(df, store, columns=["val", "when"], target_rows=100,
                  resume=False)
    blocks = pl.read_blocks(spark, store)
    total = blocks.count()

    filters = [("val", "<", 150)]
    pruned = pl.prune_blocks(blocks, filters)
    assert pruned.count() < total, "int predicate must prune parts"
    got = pl.decode_blocks(blocks, columns=["val"], filters=filters)
    assert got.count() == 150
    assert got.agg(F.max("val")).collect()[0][0] == 149

    # timestamp predicate in q1 style (string literal against ts stats)
    tf = [("when", "<=", "1995-03-01")]
    tpruned = pl.prune_blocks(blocks, tf)
    assert tpruned.count() < total, "ts predicate must prune parts"
    tgot = pl.decode_blocks(blocks, columns=["when"], filters=tf)
    want = int((pdf["when"] <= pd.Timestamp("1995-03-01")).sum())
    assert tgot.count() == want


def test_long_string_stats_do_not_misprune(spark, tmp_path):
    """r2 ADVICE(high): a >64-char value must survive equality pruning.
    Plain prefix truncation of max_s made the stored max smaller than the
    true max, so every part got pruned and matching rows were lost."""
    long_val = "z" * 80  # sorts above its own 64-char prefix
    pdf = pd.DataFrame({
        "repo": ["r"] * 100, "path": [str(i) for i in range(100)],
        "commit": ["0"] * 100,
        "name": [long_val if i % 7 == 0 else f"short_{i:03d}"
                 for i in range(100)],
    })
    df = spark.createDataFrame(pdf)
    store = str(tmp_path / "longstr")
    pl.run_encode(df, store, target_rows=50, resume=False)
    blocks = pl.read_blocks(spark, store)
    got = pl.decode_blocks(blocks, columns=["name"],
                           filters=[("name", "==", long_val)]).count()
    assert got == len([i for i in range(100) if i % 7 == 0])
    # and the stored max is a sound upper bound, not a plain prefix
    mx = (blocks.where(F.col("column") == "name")
          .agg(F.max("max_s")).collect()[0][0])
    assert mx is None or mx >= long_val


def test_truncate_max_is_upper_bound():
    for s in ["z" * 80, "abc" + "￿" * 70, "x" * 64 + "y"]:
        t = pl._truncate_max(s)
        if t is not None:
            assert t >= s and len(t) <= pl.STATS_TRUNCATE
    assert pl._truncate_max("short") == "short"


def test_uint_blocks_decode_widened_through_spark(spark):
    """A store written kernel-side with uint32 columns decodes through
    Spark with the reference's promotion semantics (uint32 -> int64,
    values exact)."""
    import pyarrow as pa

    from parquet_python_spark.operators import encoder as enc
    from parquet_python_spark.operators import selector

    vals = np.array([0, 2**32 - 1, 7, 123456789], dtype=np.uint32)
    arr = pa.array(vals)
    blk = enc.encode_block(arr, selector.choose(arr).codec)
    row = dict(part_key=1, repo="r", split_id=0, page_id=0, col_idx=0,
               column="u", codec="plain", compression="UNCOMPRESSED",
               dtype_id=enc.DT_UINT32, n_values=len(vals), n_nulls=0,
               raw_size=int(arr.nbytes), encoded_size=len(blk),
               encode_ms=0.0, min_s=None, max_s=None,
               min_num=float(vals.min()), max_num=float(vals.max()),
               row_hash=0, block=blk)
    blocks = spark.createDataFrame([row], pl.BLOCKS_SCHEMA)
    out = pl.decode_blocks(blocks)
    assert dict(out.dtypes)["u"] == "bigint"
    got = sorted(r["u"] for r in out.collect())
    assert got == sorted(int(v) for v in vals)


def test_pipeline_with_block_compression(spark, code_df, tmp_path):
    store = str(tmp_path / "gz")
    pl.run_encode(code_df, store, target_rows=1000, compression="GZIP",
                  resume=False)
    blocks = pl.read_blocks(spark, store)
    assert blocks.select("compression").distinct().collect()[0][0] == "GZIP"
    res = pl.verify_roundtrip(code_df, pl.decode_blocks(blocks))
    assert res["ok"], res


def test_per_column_compression_dict(spark, code_df, tmp_path):
    """Reference per-column compression parity (fastparquet
    writer.py:785-790): a dict maps columns to codecs with '*' default."""
    store = str(tmp_path / "percol")
    pl.run_encode(code_df, store, target_rows=1000,
                  compression={"content": "GZIP", "*": "UNCOMPRESSED"},
                  resume=False)
    blocks = pl.read_blocks(spark, store)
    got = {r["column"]: r["compression"] for r in
           blocks.select("column", "compression").distinct().collect()}
    assert got["content"] == "GZIP"
    assert all(v == "UNCOMPRESSED" for c, v in got.items() if c != "content")
    res = pl.verify_roundtrip(code_df, pl.decode_blocks(blocks))
    assert res["ok"], res


def test_encode_table_local_matches_shuffled(spark, code_df, tmp_path):
    """Shuffle-encoded strategy: identical decoded rows and row-hash
    lineage as the raw-shuffle strategy, with ZERO raw-data exchange in
    the physical plan (only the already-encoded blocks ever move)."""
    plan_df = part.plan_splits(code_df, 500)
    assigned = part.assign_part_keys(code_df, plan_df)
    a = pl.encode_table(assigned.select(code_df.columns + ["part_key"]))
    b = pl.encode_table_local(assigned.select(code_df.columns + ["part_key"]))
    # no hash shuffle of the FACT table in the local strategy — only the
    # tiny per-repo plan aggregate may exchange (same allowance as
    # test_encode_has_single_data_shuffle), plus the plan broadcast
    import re
    plan_str = b._jdf.queryExecution().executedPlan().toString()
    keys = re.findall(r"Exchange hashpartitioning\((\w+)", plan_str)
    assert all("repo" in k for k in keys), keys
    assert "hashpartitioning(part_key" not in plan_str, plan_str
    dec_a = pl.decode_blocks(a)
    dec_b = pl.decode_blocks(b)
    assert dec_b.exceptAll(dec_a).count() == 0
    assert dec_a.exceptAll(dec_b).count() == 0
    # order-independent lineage row hashes agree per part
    la = pl.lineage_from_blocks(a).select("part_key", "n_rows", "row_hash")
    lb = pl.lineage_from_blocks(b).select("part_key", "n_rows", "row_hash")
    assert la.exceptAll(lb).count() == 0 and lb.exceptAll(la).count() == 0


def test_encode_table_local_roundtrip_store(spark, tmp_path):
    src = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
           .withColumn("repo", F.col("source"))
           .withColumn("path", F.col("doc_id").cast("string"))
           .withColumn("commit", F.lit("0")))
    cols = ["doc_id", "text", "lang"]
    blocks = pl.encode_table_local(
        part.with_partition_plan(src, 200), columns=cols)
    store = str(tmp_path / "localstore")
    pl.write_blockstore(blocks, store, mode="append")
    dec = pl.decode_blocks(pl.read_blocks(spark, store))
    assert pl.verify_roundtrip(src.select(*cols), dec)["ok"]


def test_nan_float_stats_do_not_misprune(spark, tmp_path):
    """r2 ADVICE(high): Spark orders NaN ABOVE +inf, but arrow min_max
    skips NaN — a NaN-bearing page must widen max to +inf (and an all-NaN
    page must store no stats) or `x > hi` silently drops the NaN rows."""
    import math

    repos = (["lowfinite"] * 100) + (["mixed"] * 100) + (["allnan"] * 50)
    xs = ([float(i) for i in range(100)]
          + [1000.0 + i for i in range(90)] + [math.nan] * 10
          + [math.nan] * 50)
    # tuples, not pandas: pandas->Spark conversion turns NaN into NULL
    rows = [(repos[i], str(i), "0", xs[i]) for i in range(250)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, x double")
    store = str(tmp_path / "nanstats")
    # target 60: each 100-row repo salts into its own mono-repo parts
    pl.run_encode(df, store, columns=["x"], target_rows=60, resume=False)
    blocks = pl.read_blocks(spark, store)

    filters = [("x", ">", 500.0)]
    got = pl.decode_blocks(blocks, columns=["x"], filters=filters)
    # Spark semantics: every NaN row matches x > 500
    want = pl.decode_blocks(blocks, columns=["x"]).where(
        F.col("x") > 500.0).count()
    assert want == 90 + 60  # sanity: 90 finite highs + 60 NaNs
    assert got.count() == want

    # pruning still prunes: a finite-only low part is droppable for > 2000
    pruned = pl.prune_blocks(blocks, [("x", ">", 2000.0)])
    assert pruned.count() < blocks.count()
    # NaN literal: unprunable, exact re-filter decides (0 rows match ==)
    nan_got = pl.decode_blocks(blocks, columns=["x"],
                               filters=[("x", "==", math.nan)])
    assert nan_got.count() == pl.decode_blocks(blocks, columns=["x"]).where(
        F.col("x") == float("nan")).count()


def test_decode_filter_only_columns_dropped(spark, code_df, tmp_path):
    """r2 VERDICT: columns read only to evaluate a filter must not leak
    into the projection (reference two-pass row filter, api.py:746-765)."""
    store = str(tmp_path / "leak")
    pl.run_encode(code_df, store, target_rows=1000, resume=False)
    blocks = pl.read_blocks(spark, store)
    got = pl.decode_blocks(blocks, columns=["path"],
                           filters=[("lang", "==", "python")])
    assert got.columns == ["path"]
    want = code_df.where(F.col("lang") == "python").count()
    assert got.count() == want
    # filter column requested explicitly still comes back
    both = pl.decode_blocks(blocks, columns=["path", "lang"],
                            filters=[("lang", "==", "python")])
    assert both.columns == ["path", "lang"]


def test_local_strategy_lineage_counts_multi_repo_bucket(spark, tmp_path):
    """r2 ADVICE(medium): a packed bucket whose local-strategy sub-blocks
    carry different repo labels must still report exact n_rows in lineage
    (the part-wide max joined per subgroup over-counted)."""
    pdf = pd.DataFrame({
        "repo": ["a"] * 120 + ["b"] * 80,
        "path": [str(i) for i in range(200)],
        "commit": ["0"] * 200,
        "val": np.arange(200, dtype=np.int64),
    })
    # partition the INPUT by repo so each input partition sees one repo
    df = spark.createDataFrame(pdf).repartition(4, "repo")
    store = str(tmp_path / "mrb")
    stats = pl.run_encode(df, store, columns=["repo", "val"],
                          target_rows=10_000, resume=False)
    assert stats["rows"] == 200
    lin = pl.read_lineage(spark, store)
    assert lin.agg(F.sum("n_rows")).collect()[0][0] == 200
    assert lin.groupBy("part_key").count().where(
        F.col("count") > 1).count() == 0
    # decode agrees
    assert pl.decode_blocks(pl.read_blocks(spark, store)).count() == 200


def test_literal_dot_column_does_not_renest(spark, tmp_path):
    """r2 ADVICE(low): a source column literally named 'a.b' must decode
    as a plain column named 'a.b', not silently re-nest into struct a{b};
    a real struct alongside it must still re-nest."""
    src = (spark.range(50)
           .select(F.col("id"),
                   (F.col("id") * 2).alias("a.b"),
                   F.struct(F.col("id").alias("x")).alias("s"))
           .withColumn("repo", F.lit("r"))
           .withColumn("path", F.col("id").cast("string"))
           .withColumn("commit", F.lit("0")))
    blocks = pl.encode_table(src, columns=["id", "a.b", "s"],
                             target_rows=100).persist()
    dec = pl.decode_blocks(blocks)
    assert set(dec.columns) == {"id", "a.b", "s"}
    assert dec.schema["a.b"].dataType.typeName() == "long"
    assert dec.schema["s"].dataType.typeName() == "struct"
    got = dec.select(F.col("`a.b`")).agg(F.sum("`a.b`")).collect()[0][0]
    assert got == sum(2 * i for i in range(50))
    # projection + filter by the literal-dot name
    proj = pl.decode_blocks(blocks, columns=["a.b"],
                            filters=[("a.b", ">", 50)])
    assert proj.columns == ["a.b"]
    assert proj.count() == sum(1 for i in range(50) if 2 * i > 50)
    blocks.unpersist()


def test_verify_roundtrip_rejects_boundary_and_null_collisions(spark):
    """A separator byte moved across a column boundary, and NULL vs the
    string "\x00", are different rows: the verifier must not hash them
    alike."""
    src = spark.createDataFrame([("a\x1fb", "c"), (None, "z")],
                                "x string, y string")
    dec = spark.createDataFrame([("a", "b\x1fc"), ("\x00", "z")],
                                "x string, y string")
    res = pl.verify_roundtrip(src, dec)
    assert not res["ok"] and res["missing"] == 2 and res["extra"] == 2
    assert pl.verify_roundtrip(src, src)["ok"]


@pytest.mark.parametrize("src,dec", [
    ("array('a, b')", "array('a', 'b')"),
    ("map('k', 'a, l -> b')", "map('k', 'a', 'l', 'b')"),
    ("named_struct('x', 'a, b')", "named_struct('x', 'a', 'y', 'b')"),
])
def test_verify_roundtrip_rejects_nested_element_collisions(spark, src, dec):
    """A list, map or struct whose elements are split or merged at ", "
    is a different value: its string form must quote the elements."""
    s = spark.sql(f"SELECT {src} AS v")
    d = spark.sql(f"SELECT {dec} AS v")
    res = pl.verify_roundtrip(s, d)
    assert not res["ok"] and res["missing"] == 1 and res["extra"] == 1
    assert pl.verify_roundtrip(s, s)["ok"]


def test_chunk_page_id_overflow_raises():
    """r3 ADVICE: a page-id field overflow must fail AT ENCODE TIME with
    an accurate message, never surface later as a misleading duplicate-
    pages decode error.  The composition is checked with small limits so
    both overflows are cheap to reach."""
    pages = np.arange(3, dtype=np.int64)
    got = pl._compose_page_ids(pages, 1, 1, chunk_lim=2, page_lim=3)
    assert got.tolist() == [9, 10, 11]  # (pid * 2 + chunk) * 3 + page
    # chunk-count overflow: chunk index reaches the per-task limit
    with pytest.raises(ValueError, match="page-id composition.*per task"):
        pl._compose_page_ids(pages, 0, 2, chunk_lim=2, page_lim=3)
    # pages-per-chunk overflow: a sub-block's page index reaches the limit
    with pytest.raises(ValueError, match="page-id composition.*per chunk"):
        pl._compose_page_ids(pages, 0, 0, chunk_lim=2, page_lim=2)
    # the defaults are the module limits
    assert pl._compose_page_ids(pages, 0, 1).tolist() == \
        (pl.PAGES_PER_CHUNK + pages).tolist()
