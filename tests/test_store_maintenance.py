"""Store maintenance: merge_stores / remove_parts / remove_repos — parity
with the reference's merge (fastparquet writer.py:1464-1494) and
ParquetFile.remove_row_groups (api.py:415-574) on the blockstore."""
import os
import shutil

import pytest
from pyspark.sql import functions as F

from parquet_python_spark.operators import pipeline as pl
from parquet_python_spark.sources import codegen as cg

pytestmark = pytest.mark.spark


def _docs(spark, lo, hi, repo_mod=5):
    return (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .withColumn("repo", (F.col("doc_id") % repo_mod).cast("string"))
            .withColumn("path", F.col("doc_id").cast("string"))
            .withColumn("commit", F.lit("0")))


COLS = ["doc_id", "text", "lang"]


def test_merge_disjoint_stores(spark, tmp_path):
    """Two stores of different repos merge without decoding anything."""
    a, b, out = (str(tmp_path / x) for x in ("a", "b", "out"))
    da = _docs(spark, 0, 200).withColumn("repo", F.lit("ra"))
    db = _docs(spark, 200, 500).withColumn("repo", F.lit("rb"))
    pl.run_encode(da, a, columns=COLS, target_rows=100, resume=False)
    pl.run_encode(db, b, columns=COLS, target_rows=100, resume=False)
    res = pl.merge_stores(spark, [a, b], out)
    assert res["rows"] == 500
    dec = pl.decode_blocks(pl.read_blocks(spark, out))
    src = da.select(*COLS).unionByName(db.select(*COLS))
    assert pl.verify_roundtrip(src, dec)["ok"]


def test_merge_colliding_parts(spark, tmp_path):
    """Same repos in both stores -> identical part_keys collide; rows must
    be unioned per part, never block-concatenated (overlapping page ids)."""
    a, b, out = (str(tmp_path / x) for x in ("a", "b", "out"))
    da = _docs(spark, 0, 300)
    db = _docs(spark, 300, 500)
    pl.run_encode(da, a, columns=COLS, target_rows=100, resume=False)
    pl.run_encode(db, b, columns=COLS, target_rows=100, resume=False)
    res = pl.merge_stores(spark, [a, b], out)
    assert res["rows"] == 500
    dec = pl.decode_blocks(pl.read_blocks(spark, out))
    src = da.select(*COLS).unionByName(db.select(*COLS))
    assert pl.verify_roundtrip(src, dec)["ok"]
    # lineage part_keys unique after merge
    lin = pl.read_lineage(spark, out)
    assert lin.groupBy("part_key").count().where(F.col("count") > 1).count() == 0


def test_merge_refuses_an_out_path_it_merges(spark, tmp_path):
    """Colliding parts are read by Python tasks through StoreFS, out of
    Spark's sight, so an ``out_path`` that is one of the merged stores
    (in any spelling) raises before anything is written to it."""
    a, b = (str(tmp_path / x) for x in ("a", "b"))
    pl.run_encode(_docs(spark, 0, 300), a, columns=COLS, target_rows=100,
                  resume=False)
    pl.run_encode(_docs(spark, 300, 500), b, columns=COLS, target_rows=100,
                  resume=False)

    def listing(root):
        return sorted((d, sorted(fs)) for d, _, fs in os.walk(root))

    before = listing(str(tmp_path))
    for out in (a, f"{b}/", f"file://{a}"):
        with pytest.raises(ValueError, match="store it merges"):
            pl.merge_stores(spark, [a, b], out)
    assert listing(str(tmp_path)) == before
    assert pl.decode_blocks(pl.read_blocks(spark, a)).count() == 300


def test_merge_over_pointer_committed_store(spark, tmp_path):
    """merge_stores overwrites whatever ``out_path`` held: an out_path
    that already holds a store must report exactly the merged rows — the
    rows decode returns — not its old rows on top of them."""
    a, b, out = (str(tmp_path / x) for x in ("a", "b", "out"))
    pl.run_encode(_docs(spark, 0, 250), a, columns=COLS, target_rows=100,
                  resume=False)
    pl.run_encode(_docs(spark, 250, 500), b, columns=COLS, target_rows=100,
                  resume=False)
    pl.run_encode(_docs(spark, 0, 50), out, columns=COLS, target_rows=100,
                  resume=False)
    res = pl.merge_stores(spark, [a, b], out)
    assert pl.decode_blocks(pl.read_blocks(spark, out)).count() == 500
    assert res["rows"] == 500
    assert pl.store_summary(spark, out)["rows"] == 500


def test_merge_carries_generation_registry(spark, tmp_path):
    """Rows appended by generation stay reachable by maintenance on the
    merged store: remove_repos enumerates generation-composed part_keys
    from the registry, so the merged store needs the sources'."""
    a, b, out = (str(tmp_path / x) for x in ("a", "b", "out"))
    cols = ["repo"] + COLS
    pl.run_encode(_docs(spark, 0, 200).withColumn("repo", F.lit("ra")), a,
                  columns=cols, target_rows=100, resume=False)
    pl.run_encode(_docs(spark, 200, 260).withColumn("repo", F.lit("ra")), a,
                  columns=cols, target_rows=100, generation=1)
    pl.run_encode(_docs(spark, 260, 400).withColumn("repo", F.lit("rb")), b,
                  columns=cols, target_rows=100, resume=False)
    pl.merge_stores(spark, [a, b], out)
    assert pl._store_generations(out) == [1]
    res = pl.remove_repos(spark, out, ["ra"])
    dec = pl.decode_blocks(pl.read_blocks(spark, out))
    assert dec.where(F.col("repo") == "ra").count() == 0
    assert dec.count() == res["rows"] == 140


def test_remove_parts(spark, tmp_path):
    store = str(tmp_path / "rp")
    df = cg.code_table(spark, 600, partitions=2)
    pl.run_encode(df, store, target_rows=200, resume=False)
    lin = pl.read_lineage(spark, store).orderBy("part_key").collect()
    drop = lin[0]
    res = pl.remove_parts(spark, store, [drop["part_key"]])
    assert res["rows"] == 600 - drop["n_rows"]
    left = pl.read_lineage(spark, store).select("part_key").collect()
    assert drop["part_key"] not in {r["part_key"] for r in left}


def test_remove_repos_shared_bucket(spark, tmp_path):
    """Removing a repo that shares a packed bucket decodes + re-encodes
    only that bucket; other repos' rows survive byte-identically."""
    store = str(tmp_path / "rr")
    df = _docs(spark, 0, 500)  # repos '0'..'4' bin-packed together
    cols = ["repo"] + COLS  # repo encoded so shared buckets are filterable
    pl.run_encode(df, store, columns=cols, target_rows=200, resume=False)
    res = pl.remove_repos(spark, store, ["2"])
    want = df.where(F.col("repo") != "2")
    assert res["rows"] == want.count()
    dec = pl.decode_blocks(pl.read_blocks(spark, store))
    assert pl.verify_roundtrip(want.select(*cols), dec)["ok"]
    assert dec.where(F.col("repo") == "2").count() == 0


def test_overwrite_replaces_every_split_of_a_salted_repo(spark, tmp_path):
    """An overwrite replaces every part a repo's rows live in: a salted
    repo overwritten with one row decodes exactly that row, the splits
    the row does not hash to included, and every other repo's rows are
    unchanged."""
    store = str(tmp_path / "salted")
    src = cg.code_table(spark, 6000, n_repos=20).cache()
    pl.run_encode(src, store, target_rows=500, resume=False)
    top = pl.load_plan(spark, store).orderBy(F.desc("n_splits")).first()
    assert top["n_splits"] > 1
    one = src.where(F.col("repo") == top["repo"]).orderBy("path").limit(1)
    pl.overwrite_partitions(one, store, target_rows=500)
    dec = pl.decode_blocks(pl.read_blocks(spark, store))
    assert dec.where(F.col("repo") == top["repo"]).count() == 1
    want = src.where(F.col("repo") != top["repo"]).unionByName(one)
    assert pl.verify_roundtrip(want, dec)["ok"]
    src.unpersist()


def test_overwrite_of_a_store_without_path_and_commit(spark, tmp_path):
    """Rows kept from a shared bucket keep their part_key, so an overwrite
    needs only ``repo`` encoded, not the ``path`` and ``commit`` that
    salt new rows."""
    store = str(tmp_path / "nopath")
    cols = ["repo"] + COLS
    df = _docs(spark, 0, 500)  # one packed bucket holds all five repos
    pl.run_encode(df, store, columns=cols, target_rows=1000, resume=False)
    repl = df.where(F.col("repo") == "2").withColumn("lang", F.lit("xx"))
    pl.overwrite_partitions(repl, store, columns=cols, target_rows=1000)
    want = df.where(F.col("repo") != "2").unionByName(repl).select(*cols)
    dec = pl.decode_blocks(pl.read_blocks(spark, store))
    assert pl.verify_roundtrip(want, dec)["ok"]


GZIP_COLS = ["repo", "path", "commit"] + COLS


@pytest.fixture(scope="module")
def gzip_store(spark, tmp_path_factory):
    """A GZIP store whose one packed bucket holds all five repos."""
    path = str(tmp_path_factory.mktemp("gzip") / "s")
    pl.run_encode(_docs(spark, 0, 500), path, columns=GZIP_COLS,
                  target_rows=1000, resume=False, compression="GZIP")
    return path


@pytest.mark.parametrize("op", ["compact", "sort", "remove", "overwrite",
                                "merge"])
def test_maintenance_keeps_the_store_compression(spark, gzip_store, tmp_path,
                                                 op):
    """Every maintenance re-encode compresses each column as the store
    does: after it, every block of a GZIP store is still GZIP."""
    store = str(tmp_path / "s")
    shutil.copytree(gzip_store, store)
    before = pl._list_part_files(f"{store}/blocks")
    if op == "compact":
        pl.compact_store(spark, store, max_pages_per_column=0)
    elif op == "sort":
        pl.sort_store(spark, store, ["doc_id"])
    elif op == "remove":
        pl.remove_repos(spark, store, ["2"])
    elif op == "overwrite":
        pl.overwrite_partitions(
            _docs(spark, 0, 500).where(F.col("repo") == "2").limit(3),
            store, columns=GZIP_COLS, target_rows=1000)
    else:  # every part collides with its copy: all are re-encoded
        shutil.copytree(gzip_store, str(tmp_path / "t"))
        store = str(tmp_path / "m")
        pl.merge_stores(spark, [str(tmp_path / "s"), str(tmp_path / "t")],
                        store)
    assert pl._list_part_files(f"{store}/blocks") != before
    meta = pl._store_meta(store, ("compression",))
    assert meta.num_rows and set(meta["compression"].to_pylist()) == {"GZIP"}


def test_compact_restores_whole_part_ratio(spark, tmp_path):
    """local-strategy ingest fragments parts into per-source-partition
    sub-blocks (fast, no raw shuffle); compact_store re-encodes them whole
    and must shrink the store while preserving every row."""
    store = str(tmp_path / "compact")
    df = cg.code_table(spark, 3000, partitions=8).cache()
    pl.run_encode(df, store, target_rows=1500, resume=False)
    blocks = pl.read_blocks(spark, store)
    frag_pages = (blocks.groupBy("part_key", "column")
                  .agg(F.countDistinct("page_id").alias("np"))
                  .agg(F.max("np")).collect()[0][0])
    assert frag_pages > 4, "local strategy should fragment pages"
    res = pl.compact_store(spark, store, max_pages_per_column=4)
    assert res["parts_compacted"] > 0
    assert res["enc_bytes_after"] < res["enc_bytes_before"]
    dec = pl.decode_blocks(pl.read_blocks(spark, store))
    assert pl.verify_roundtrip(df, dec)["ok"]
    df.unpersist()


def test_remove_repos_local_strategy_preserves_other_repos(spark, tmp_path):
    """r2 review finding: with per-input-partition ingest, a shared
    bucket holds per-source-partition repo-LABELED sub-blocks; removal
    must not drop other repos' sub-blocks just because one block carries
    the removed label."""
    store = str(tmp_path / "rrlocal")
    df = _docs(spark, 0, 500).repartition("repo")  # repo-pure partitions
    cols = ["repo"] + COLS
    pl.run_encode(df, store, columns=cols, target_rows=200, resume=False)
    res = pl.remove_repos(spark, store, ["2"])
    want = df.where(F.col("repo") != "2")
    assert res["rows"] == want.count()
    dec = pl.decode_blocks(pl.read_blocks(spark, store))
    assert pl.verify_roundtrip(want.select(*cols), dec)["ok"]
    assert dec.where(F.col("repo") == "2").count() == 0


def test_encode_local_tolerates_empty_partitions(spark):
    """r2 review finding: mapInArrow invokes the UDF with an empty batch
    iterator for empty partitions; the local strategy must no-op there."""
    df = cg.code_table(spark, 50, partitions=2).repartition(16)
    from parquet_python_spark.plans import partitioning as part

    assigned = part.with_partition_plan(df, 100)
    blocks = pl.encode_table_local(assigned)
    dec = pl.decode_blocks(blocks)
    assert pl.verify_roundtrip(df, dec)["ok"]


def test_double_append_lineage_combines_and_decode_refuses(spark, tmp_path):
    """r2 review finding: appending the same part_key twice COMBINES the
    lineage rollups (counts stay truthful to the stored blocks), and
    decode refuses the ambiguous duplicate pages loudly instead of
    risking silent cross-column row misalignment."""
    store = str(tmp_path / "dappend")
    df = _docs(spark, 0, 200)
    pl.run_encode(df, store, columns=COLS, target_rows=500, resume=False)
    pl.run_encode(df, store, columns=COLS, target_rows=500, resume=False)
    lin_rows = pl.read_lineage(spark, store).agg(
        F.sum("n_rows")).collect()[0][0]
    assert lin_rows == 400  # combined, not replaced
    with pytest.raises(Exception, match="appended twice"):
        pl.decode_blocks(pl.read_blocks(spark, store)).count()


def _uri_to_local(uri: str) -> str:
    return uri[7:] if uri.startswith("file://") else uri


def _file_snap(store):
    import glob
    import hashlib
    import os

    return {p: (os.path.getsize(p),
                hashlib.md5(open(p, "rb").read()).hexdigest())
            for p in glob.glob(f"{store}/blocks/part-*")}


def test_remove_parts_leaves_untouched_files_intact(spark, tmp_path):
    """r2 review finding: maintenance commits must be O(affected), not
    O(store) — parquet part-files that hold no removed part stay on disk
    byte-identical (same name, same bytes), mirroring the reference's
    remove_row_groups touching only _metadata (api.py:415-574)."""
    store = str(tmp_path / "fgr")
    df = cg.code_table(spark, 600, partitions=4)
    # AQE would coalesce this tiny encode into ONE output file, which
    # defeats a file-granularity assertion; production stores are
    # many-file by nature
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        # whole-part encode: each output file holds whole parts, so there
        # IS a part whose files are a strict subset — the property under
        # test (O(affected) commits) is layout-independent, but asserting
        # byte-identity of untouched files needs the part→file layout
        pl.write_blockstore(pl.encode_table(df, target_rows=150), store)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                       "true")
    before = _file_snap(store)
    assert len(before) > 1, "need a multi-file store for this test"
    fmap = (pl.read_blocks(spark, store)
            .withColumn("f", F.input_file_name())
            .select("part_key", "f").distinct().collect())
    by_key: dict = {}
    for r in fmap:
        by_key.setdefault(r["part_key"], set()).add(_uri_to_local(r["f"]))
    all_files = set().union(*by_key.values())
    drop = next(k for k, v in by_key.items() if v != all_files)
    touched = by_key[drop]
    n_before = pl.read_lineage(spark, store).agg(
        F.sum("n_rows")).collect()[0][0]
    drop_rows = [r["n_rows"] for r in pl.read_lineage(spark, store).collect()
                 if r["part_key"] == drop][0]
    res = pl.remove_parts(spark, store, [drop])
    after = _file_snap(store)
    for p, sig in before.items():
        if p in touched:
            assert p not in after, "dead file must be unlinked"
        else:
            assert after[p] == sig, "untouched file must stay byte-identical"
    assert res["rows"] == n_before - drop_rows
    dec = pl.decode_blocks(pl.read_blocks(spark, store))
    assert dec.count() == res["rows"]


def test_compact_leaves_unfragmented_files_intact(spark, tmp_path):
    """Compaction rewrites only files holding fragmented parts; a prior
    whole-part generation's files survive byte-identically."""
    store = str(tmp_path / "fgc")
    df1 = cg.code_table(spark, 500, partitions=2)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        pl.run_encode(df1, store, target_rows=250, resume=False)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                       "true")
    gen1 = _file_snap(store)
    df2 = cg.code_table(spark, 3000, partitions=8)
    pl.run_encode(df2, store, target_rows=1500, resume=False,
                  generation=1)
    res = pl.compact_store(spark, store, max_pages_per_column=4)
    assert res["parts_compacted"] > 0
    after = _file_snap(store)
    for p, sig in gen1.items():
        assert after.get(p) == sig, \
            "whole-part generation files must stay byte-identical"
    dec = pl.decode_blocks(pl.read_blocks(spark, store))
    assert dec.count() == 3500


def test_concurrent_commit_fence_aborts_and_cleans(spark, tmp_path,
                                                   monkeypatch):
    """Single-writer fence at the block files: a part removal that read
    the store before a compaction wrote, and commits while the compaction
    writes its recoded parts, unlinks a file the compaction means to
    replace.  The compaction must abort LOUDLY and remove the files it
    wrote — unlinking on would leave its recoded copy of the removed part
    live — and the removal's state must survive."""
    store = str(tmp_path / "s")
    pl.run_encode(_docs(spark, 0, 200), store, columns=COLS,
                  target_rows=100, resume=False)
    initial = pl._list_part_files(f"{store}/blocks")
    removal_meta = pl._store_meta(store, ("part_key",))
    lin = pl.read_lineage(spark, store).orderBy("part_key").collect()
    key = lin[0]["part_key"]
    real_list = pl._list_part_files
    race = {}

    def racing_list(path):
        files = real_list(path)
        if not race and path.endswith("/blocks") and files - initial:
            # the compaction's recoded files just landed: the removal
            # commits now, from what it read before them
            race["loser_files"] = files - initial
            pl._commit_blocks_delta(spark, store, removal_meta, [key])
            race["files"] = files = real_list(path)
        return files

    monkeypatch.setattr(pl, "_list_part_files", racing_list)
    with pytest.raises(RuntimeError, match="concurrent block commit"):
        pl.compact_store(spark, store, max_pages_per_column=0)
    monkeypatch.setattr(pl, "_list_part_files", real_list)
    after = real_list(f"{store}/blocks")
    assert race["loser_files"] and not after & race["loser_files"]
    assert after == race["files"] - race["loser_files"]
    want = 200 - lin[0]["n_rows"]
    assert pl.store_summary(spark, store)["rows"] == want
    assert key not in {r["part_key"]
                       for r in pl.read_lineage(spark, store).collect()}
    assert pl.decode_blocks(pl.read_blocks(spark, store)).count() == want
