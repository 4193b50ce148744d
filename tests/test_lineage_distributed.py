"""Lineage is a view of the block files.

No lineage table is stored: ``read_lineage``, ``store_summary``,
``lineage_from_blocks`` and compaction's fragmentation plan roll the
payload-free block columns up on the driver (``pipeline._rollup``).  The
oracle below is the Spark aggregation that computed the same rollup when
lineage was still written beside the blocks; the driver rollup must equal
it on every store shape maintenance produces.  fastparquet treats its
consolidated ``_metadata`` the same way: optional, and otherwise merged
from every file's own footer (``util.metadata_from_many``).
"""
import math

import pytest
from pyspark.sql import functions as F

from parquet_python_spark.operators import pipeline as pl
from parquet_python_spark.sources import codegen as cg

pytestmark = pytest.mark.spark


def _docs(spark, lo, hi):
    return (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .withColumn("repo", (F.col("doc_id") % 5).cast("string"))
            .withColumn("path", F.col("doc_id").cast("string"))
            .withColumn("commit", F.lit("0")))


COLS = ["doc_id", "text", "lang"]

_XOR = "aggregate(collect_list({}), 0L, (a, x) -> a ^ x)"


def _spark_lineage(blocks):
    """The rollup as a Spark aggregation over the block rows: per (part,
    repo, split_id, column), then per (part, repo, split_id) subgroup,
    then per part."""
    per_col = blocks.groupBy("part_key", "repo", "split_id", "column").agg(
        F.sum("n_values").alias("col_values"),
        F.countDistinct("page_id").alias("col_pages"),
        F.count(F.lit(1)).alias("col_blocks"),
        F.sum("raw_size").alias("col_raw"),
        F.sum("encoded_size").alias("col_enc"),
        F.sum("encode_ms").alias("col_ms"),
        F.expr(_XOR.format("row_hash")).alias("col_hash"),
        F.collect_set("codec").alias("col_codecs"))
    sub = per_col.groupBy("part_key", "repo", "split_id").agg(
        F.max("col_values").alias("sub_rows"),
        F.max("col_pages").alias("sub_pages"),
        F.sum("col_blocks").alias("sub_blocks"),
        F.sum("col_raw").alias("sub_raw"),
        F.sum("col_enc").alias("sub_enc"),
        F.sum("col_ms").alias("sub_ms"),
        F.expr(_XOR.format("col_hash")).alias("sub_hash"),
        F.array_distinct(F.flatten(F.collect_list("col_codecs")))
        .alias("sub_codecs"))
    return sub.groupBy("part_key").agg(
        F.max("repo").alias("repo"),
        F.max("split_id").alias("split_id"),
        F.sum("sub_pages").alias("n_pages"),
        F.sum("sub_blocks").alias("n_blocks"),
        F.sum("sub_raw").alias("raw_bytes"),
        F.sum("sub_enc").alias("enc_bytes"),
        F.sum("sub_ms").alias("encode_ms"),
        F.expr(_XOR.format("sub_hash")).alias("row_hash"),
        F.array_sort(F.array_distinct(F.flatten(
            F.collect_list("sub_codecs")))).alias("codecs"),
        F.sum("sub_rows").alias("n_rows"),
    ).withColumn("status", F.lit("complete"))


def _by_part(df) -> dict:
    return {r["part_key"]: r.asDict() for r in df.collect()}


def _assert_rollup_matches(spark, store):
    """``read_lineage`` and ``lineage_from_blocks`` equal the oracle
    exactly, ``encode_ms`` to 1e-9 relative (float sums in another
    order)."""
    want = _by_part(_spark_lineage(pl.read_blocks(spark, store)))
    assert want
    for got_df in (pl.read_lineage(spark, store),
                   pl.lineage_from_blocks(pl.read_blocks(spark, store))):
        assert got_df.schema == pl.LINEAGE_SCHEMA
        got = _by_part(got_df)
        assert got.keys() == want.keys()
        for k in want:
            g, w = dict(got[k]), dict(want[k])
            assert math.isclose(g.pop("encode_ms"), w.pop("encode_ms"),
                                rel_tol=1e-9), k
            assert g == w, k
    return want


def test_rollup_matches_spark_on_packed_buckets_with_mixed_repo_labels(
        spark, tmp_path):
    """Local-strategy ingest of packed buckets: input partitions holding
    one repo label their sub-blocks with it, partitions mixing repos
    label theirs NULL.  Three generations append more of both, then a
    partition overwrite and a repo removal re-encode shared buckets."""
    store = str(tmp_path / "s")
    cols = COLS + ["repo", "path", "commit"]
    pl.run_encode(_docs(spark, 0, 200).repartition(3, "repo"), store,
                  columns=cols, target_rows=60, resume=False)
    for gen, (lo, hi) in enumerate([(200, 300), (300, 380), (380, 450)],
                                   start=1):
        pl.run_encode(_docs(spark, lo, hi), store, columns=cols,
                      target_rows=60, generation=gen)
    repos = {r["repo"] for r in pl.read_blocks(spark, store)
             .select("repo").distinct().collect()}
    assert None in repos and len(repos) > 1
    want = _assert_rollup_matches(spark, store)
    assert sum(w["n_rows"] for w in want.values()) == 450
    pl.overwrite_partitions(
        _docs(spark, 0, 450).where(F.col("repo") == "3"), store,
        columns=cols, target_rows=60)
    _assert_rollup_matches(spark, store)
    pl.remove_repos(spark, store, ["4"])
    want = _assert_rollup_matches(spark, store)
    assert sum(w["n_rows"] for w in want.values()) == 360


def test_rollup_matches_spark_across_generations_and_maintenance(
        spark, tmp_path):
    """Two appended generations, then a compaction, a part removal and a
    merge: the rollup matches after each."""
    store, other, merged = (str(tmp_path / x) for x in ("s", "o", "m"))
    pl.run_encode(cg.code_table(spark, 3000, partitions=8), store,
                  target_rows=1500, resume=False)
    pl.run_encode(cg.code_table(spark, 500, seed=3, partitions=2), store,
                  target_rows=1500, generation=1)
    pl.run_encode(cg.code_table(spark, 400, seed=4, partitions=2), store,
                  target_rows=1500, generation=2)
    _assert_rollup_matches(spark, store)
    assert pl.compact_store(spark, store,
                            max_pages_per_column=4)["parts_compacted"] > 0
    want = _assert_rollup_matches(spark, store)
    drop = min(want)
    pl.remove_parts(spark, store, [drop])
    kept = _assert_rollup_matches(spark, store)
    assert drop not in kept
    assert sum(w["n_rows"] for w in kept.values()) \
        == 3900 - want[drop]["n_rows"]
    pl.run_encode(cg.code_table(spark, 600, seed=5, partitions=2), other,
                  target_rows=1500, resume=False)
    out = pl.merge_stores(spark, [store, other], merged)
    rows = sum(w["n_rows"] for w in _assert_rollup_matches(
        spark, merged).values())
    assert out["rows"] == rows == 4500 - want[drop]["n_rows"]


def test_rollup_matches_spark_on_double_append(spark, tmp_path):
    """The same rows appended twice under the same part_keys: the rollup
    counts both copies' rows (decode refuses the store)."""
    store = str(tmp_path / "s")
    df = _docs(spark, 0, 200)
    pl.run_encode(df, store, columns=COLS, target_rows=500, resume=False)
    pl.run_encode(df, store, columns=COLS, target_rows=500, resume=False)
    want = _assert_rollup_matches(spark, store)
    assert sum(w["n_rows"] for w in want.values()) == 400


def test_stale_lineage_files_are_ignored(spark, tmp_path):
    """A store written while lineage was stored keeps its ``lineage/``,
    ``manifests/`` and ``lineage_ptr.json``; they no longer say anything
    about the store, which summarizes from its blocks."""
    import os

    store = str(tmp_path / "s")
    pl.run_encode(_docs(spark, 0, 300), store, columns=COLS,
                  target_rows=100, resume=False)
    want = pl.store_summary(spark, store)
    stale = spark.createDataFrame(
        [(1, "0", 0, 9, 9, 9, 9, 1.0, 0, ["plain"], 12345, "complete")],
        pl.LINEAGE_SCHEMA)
    stale.write.parquet(f"{store}/lineage")
    stale.write.parquet(f"{store}/manifests/manifest-00000001-00000000")
    with open(os.path.join(store, "lineage_ptr.json"), "w") as f:
        f.write('{"epoch": 1, "folded": [], '
                '"manifest": "manifest-00000001-00000000"}')
    assert pl.store_summary(spark, store) == want
    assert want["rows"] == 300
    assert 1 not in _by_part(pl.read_lineage(spark, store))
    assert pl.compact_store(spark, store, max_pages_per_column=0)[
        "parts_compacted"] == want["parts"]
    assert pl.store_summary(spark, store)["rows"] == 300


def test_append_is_delta_not_rewrite(spark, tmp_path):
    """A second append leaves the first commit's block files untouched
    on disk (O(batch) commit, never O(store))."""
    store = str(tmp_path / "s")
    pl.run_encode(_docs(spark, 0, 200), store, columns=COLS,
                  target_rows=100, resume=False)
    first_files = pl._list_part_files(f"{store}/blocks")
    assert first_files
    pl.run_encode(_docs(spark, 200, 500), store, columns=COLS,
                  target_rows=100, resume=False, generation=1)
    after = pl._list_part_files(f"{store}/blocks")
    assert first_files <= after and len(after) > len(first_files)
    # one row per part, truthful to decode
    lin = pl.read_lineage(spark, store)
    assert lin.groupBy("part_key").count().where("count > 1").count() == 0
    total = lin.agg(F.sum("n_rows")).collect()[0][0]
    assert total == pl.decode_blocks(pl.read_blocks(spark, store)).count()


def test_maintenance_commit_after_fold_roundtrips(spark, tmp_path):
    """compact_store over a store of two appends: full fidelity."""
    store = str(tmp_path / "s")
    src = _docs(spark, 0, 400)
    pl.run_encode(src, store, columns=COLS, target_rows=100, resume=False)
    pl.run_encode(_docs(spark, 400, 500), store, columns=COLS,
                  target_rows=100, resume=False, generation=1)
    pl.compact_store(spark, store, max_pages_per_column=1)
    dec = pl.decode_blocks(pl.read_blocks(spark, store))
    full = src.select(*COLS).unionByName(_docs(spark, 400, 500)
                                         .select(*COLS))
    assert pl.verify_roundtrip(full, dec)["ok"]


def test_commit_keeps_delta_appended_after_its_read(spark, tmp_path,
                                                   monkeypatch):
    """An append during a compaction stays live and counted: it lands
    after the compaction read the store's block files, only adds files,
    and the compaction commit neither trips its fence on it nor unlinks
    it."""
    store = str(tmp_path / "s")
    pl.run_encode(_docs(spark, 0, 200), store, columns=COLS,
                  target_rows=100, resume=False)
    real_commit = pl._commit_blocks_delta
    appended = []

    def commit_after_append(*args, **kwargs):
        appended.append(True)
        pl.run_encode(_docs(spark, 200, 260), store, columns=COLS,
                      target_rows=100, generation=1)
        return real_commit(*args, **kwargs)

    monkeypatch.setattr(pl, "_commit_blocks_delta", commit_after_append)
    res = pl.compact_store(spark, store, max_pages_per_column=0)
    assert appended and res["parts_compacted"] > 0
    assert pl.decode_blocks(pl.read_blocks(spark, store)).count() == 260
    assert pl.store_summary(spark, store)["rows"] == 260


def test_lineage_depth_stress_micro_commits(spark, tmp_path):
    """Scale-shaped stress of the rollup: 10^4 sub-blocks over 5,000+
    parts, in 100 micro-commit block files.  60% of each commit's
    sub-blocks revisit an earlier part, under a repo label, a different
    one or NULL, so a part's blocks spread over many files and
    subgroups.  The block files are synthesized with pyarrow (the rollup
    under test reads only their metadata columns); ``read_lineage`` and
    ``store_summary`` must equal an independently kept model."""
    from collections import defaultdict

    import pyarrow as pa
    import pyarrow.parquet as pq

    store = tmp_path / "s"
    (store / "blocks").mkdir(parents=True)
    n_commits, parts_per_commit = 100, 100
    model = defaultdict(lambda: [0, 0, 0, 0])  # n_rows, enc, hash, pages
    for k in range(n_commits):
        rows = defaultdict(list)
        for j in range(parts_per_commit):
            pk = ((k * 13 + j * 7) % 5000) if (k + j) % 5 < 3 else (
                k * parts_per_commit + j + 100_000)
            nr, eb = 10 + (k + j) % 90, 1000 + (k * j) % 5000
            rh = ((k + 1) * 2654435761 ^ (j + 1) * 40503) % (1 << 63)
            repo = None if (k + j) % 7 == 0 else str((pk + k % 2) % 20)
            m = model[pk]
            m[0] += nr
            m[1] += 2 * eb
            m[2] ^= rh
            m[3] += 1
            for ci, col in enumerate(("a", "b")):
                for name, v in (
                        ("part_key", pk), ("repo", repo), ("split_id", 0),
                        ("page_id", k), ("col_idx", ci), ("column", col),
                        ("codec", "plain"), ("compression", "UNCOMPRESSED"),
                        ("dtype_id", 0), ("n_values", nr), ("n_nulls", 0),
                        ("raw_size", 8 * nr), ("encoded_size", eb),
                        ("encode_ms", 0.5), ("min_s", None),
                        ("max_s", None), ("min_num", None),
                        ("max_num", None), ("row_hash", rh if ci == 0 else 0),
                        ("bloom", None), ("block", b"")):
                    rows[name].append(v)
        pq.write_table(pa.table(rows, schema=pl._ARROW_BLOCKS_SCHEMA),
                       store / "blocks" / f"part-{k:05d}.parquet")
    got = {r["part_key"]: r for r in
           pl.read_lineage(spark, str(store)).collect()}
    assert len(got) == len(model) > 5_000
    for pk, (nr, eb, rh, pages) in model.items():
        r = got[pk]
        assert (r["n_rows"], r["enc_bytes"], r["row_hash"], r["n_pages"],
                r["n_blocks"]) == (nr, eb, rh, pages, 2 * pages), pk
    assert pl.store_summary(spark, str(store)) == {
        "parts": len(model), "rows": sum(m[0] for m in model.values()),
        "raw_bytes": 16 * sum(m[0] for m in model.values()),
        "enc_bytes": sum(m[1] for m in model.values())}
