"""Byte-stability guard for the block writer.

Every block the store holds comes out of one part encoder, through ingest
(``run_encode``), compaction (``compact_store``) and the maintenance
encode (``encode_table``).  A refactor of that layer must leave the
stored blocks byte-identical, so each case pins one sha256 over its block
rows, ordered by (part_key, column, page_id): the payload and the stats a
reader prunes with.  Page ids themselves are left out of the digest — only
their order within a part matters to decode.

``encode_table`` is pinned over ONE input partition: with several, the
part_key exchange may hand a part's rows to the encoder in fetch order,
which is not fixed, and a different row order is a different page split.

Also here: a store written before the ``metrics`` column was dropped
still decodes, prunes and compacts like the same store without it."""
import glob
import hashlib
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet_python_spark.operators import pipeline as pl
from parquet_python_spark.sources import codegen as cg

pytestmark = pytest.mark.spark


def _code(spark):
    return cg.code_table(spark, 20_000, partitions=6)


def _lineitem(spark):
    df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    return (df.withColumn("repo", F.concat(F.lit("y"), F.year("l_shipdate")))
            .withColumn("path", F.concat_ws("_", "l_orderkey",
                                            "l_linenumber"))
            .withColumn("commit", F.lit("0")))


def _events(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    return (df.withColumn("repo", (F.col("user_id") % 5).cast("string"))
            .withColumn("path", F.col("event_id").cast("string"))
            .withColumn("commit", F.lit("0"))
            # full-precision doubles: BYTE_STREAM_SPLIT under GZIP
            .withColumn("fval", F.sqrt(F.col("value") + F.col("event_id"))))


# name -> (source, ingest partitioning, target_rows, compression); the
# single-file sources are hash-split so ingest writes sub-blocks that
# compaction has to merge
CASES = {
    "code": (_code, lambda df: df, 2_000, "UNCOMPRESSED"),
    "lineitem": (_lineitem, lambda df: df.repartition(4, "l_orderkey"),
                 5_000, "UNCOMPRESSED"),
    "events": (_events, lambda df: df.repartition(3, "event_id"),
               1_000, "GZIP"),
}

PINNED = {
    "code": {
        "run_encode":
            "11ce1b285c9231db12eea34be7bc2bd82865a2f141fdd9613acfbb2eca37173a",
        "compact_store":
            "9d0a2a5efc148d63b406e404600fa5ee8c6ed2e5d085369c6e06a793d406b0ff",
        "encode_table":
            "9d0a2a5efc148d63b406e404600fa5ee8c6ed2e5d085369c6e06a793d406b0ff",
        "compacted": {
            "parts_compacted": 12,
            "enc_bytes_before": 4852412,
            "enc_bytes_after": 3205598,
        },
        "summary": {
            "parts": 12,
            "rows": 20000,
            "raw_bytes": 23385857,
            "enc_bytes": 3205598,
        },
    },
    "lineitem": {
        "run_encode":
            "c0d45228efae99e038fdf7eb29fdb5790708a053129b7fd7f8a4a8ea1a07969c",
        "compact_store":
            "47bc9f3f5a1275b42cfff41942561b22c45bf157bc77e3df3bb57818d728569f",
        "encode_table":
            "980fc46fa83d4f2e2e1ac9289351482e673a106c9948c44fe07a8b733d5f7f10",
        "compacted": {
            "parts_compacted": 14,
            "enc_bytes_before": 1442579,
            "enc_bytes_after": 1302736,
        },
        "summary": {
            "parts": 14,
            "rows": 60000,
            "raw_bytes": 6135773,
            "enc_bytes": 1302736,
        },
    },
    "events": {
        "run_encode":
            "e6cf394b85ad00fbafba5e2e1f7da5498eb5c2b2f1a02b3cc85a3fd753e5e6af",
        "compact_store":
            "b46837d479138546bfbd85339149da4e522c617e782ce4dcd338817586ea5ab2",
        "encode_table":
            "44ac0dd466fd0e1ba9c64a9d8fa3f91b9e161be9f62acff1d7ced7e391493736",
        "compacted": {
            "parts_compacted": 1,
            "enc_bytes_before": 22319,
            "enc_bytes_after": 20371,
        },
        "summary": {
            "parts": 1,
            "rows": 1000,
            "raw_bytes": 79409,
            "enc_bytes": 20371,
        },
    },
}


def blocks_digest(blocks) -> str:
    """sha256 over the block rows ordered by (part_key, column, page_id):
    each row's codec, row hash, min/max stats, Bloom words and payload."""
    rows = (blocks.select("part_key", "column", "page_id", "codec",
                          "row_hash", "min_s", "max_s", "min_num",
                          "max_num", "bloom", "block")
            .orderBy("part_key", "column", "page_id").collect())
    h = hashlib.sha256()
    for r in rows:
        meta = json.dumps([r["part_key"], r["column"], r["codec"],
                           r["row_hash"], r["min_s"], r["max_s"],
                           r["min_num"], r["max_num"], r["bloom"]])
        h.update(meta.encode("utf-8"))
        h.update(len(r["block"]).to_bytes(8, "little"))
        h.update(r["block"])
    return h.hexdigest()


def case_digests(spark, name: str, root: str) -> dict:
    """Digests of one case: ingest, the compaction that follows it, and
    ``encode_table`` over the source in one partition."""
    source, split, target, compression = CASES[name]
    src = source(spark)
    store = f"{root}/{name}"
    pl.run_encode(split(src), store, target_rows=target,
                  compression=compression, resume=False)
    out = {"run_encode": blocks_digest(pl.read_blocks(spark, store))}
    out["compacted"] = pl.compact_store(spark, store, max_pages_per_column=1)
    out["compact_store"] = blocks_digest(pl.read_blocks(spark, store))
    out["summary"] = pl.store_summary(spark, store)
    out["encode_table"] = blocks_digest(pl.encode_table(
        src.coalesce(1), target_rows=target, compression=compression))
    return out


@pytest.mark.parametrize("name", sorted(CASES))
def test_block_bytes_pinned(spark, tmp_path, name):
    got = case_digests(spark, name, str(tmp_path))
    assert got == PINNED[name]


def _with_metrics_column(store: str) -> None:
    """Rewrite every block file of ``store`` with the ``metrics`` string
    column older writers put between ``row_hash`` and ``bloom``; the
    rewritten files get no stale Hadoop checksum sidecars."""
    for crc in glob.glob(f"{store}/blocks/.*.crc"):
        os.remove(crc)
    for f in pl._list_part_files(f"{store}/blocks"):
        t = pq.read_table(f)
        t = t.add_column(t.schema.get_field_index("bloom"), "metrics",
                         pa.array(['{"distinct_ratio": 0.5}'] * t.num_rows,
                                  type=pa.string()))
        pq.write_table(t, f, compression="none")


def test_store_with_metrics_column_reads_prunes_and_compacts(spark, tmp_path):
    src = _events(spark)
    cur, old = str(tmp_path / "cur"), str(tmp_path / "old")
    pl.run_encode(src.repartition(3, "event_id"), cur, target_rows=200,
                  resume=False)
    shutil.copytree(cur, old)
    _with_metrics_column(old)
    assert "metrics" in pq.read_schema(
        sorted(pl._list_part_files(f"{old}/blocks"))[0]).names

    def rows(df):
        return sorted(df.collect())

    dec_cur = rows(pl.decode_blocks(pl.read_blocks(spark, cur)))
    assert rows(pl.decode_blocks(pl.read_blocks(spark, old))) == dec_cur
    flt = [("repo", "==", "3")]

    def kept(store):
        return {r[0] for r in pl.prune_blocks(pl.read_blocks(spark, store),
                                              flt)
                .select("part_key").distinct().collect()}

    assert kept(old) == kept(cur)
    assert kept(cur) < {r[0] for r in pl.read_blocks(spark, cur)
                        .select("part_key").distinct().collect()}
    assert (pl.compact_store(spark, old, max_pages_per_column=1)
            == pl.compact_store(spark, cur, max_pages_per_column=1))
    assert blocks_digest(pl.read_blocks(spark, old)) == \
        blocks_digest(pl.read_blocks(spark, cur))
    assert rows(pl.decode_blocks(pl.read_blocks(spark, old))) == dec_cur


def test_encode_table_keeps_parts_whole(spark, monkeypatch):
    """``encode_table`` writes each part as one block set (page ids 0..n-1
    per column) however many input partitions feed its part_key exchange,
    and whatever chunk size the ingest encoder streams with."""
    src = _code(spark)  # 6 input partitions
    monkeypatch.setattr(pl, "ENCODE_CHUNK_BYTES", 4 << 10)
    blocks = pl.encode_table(src, target_rows=2_000).persist()
    pages = {}
    for r in blocks.select("part_key", "column", "page_id").collect():
        pages.setdefault((r[0], r[1]), []).append(r[2])
    assert len({k[0] for k in pages}) > 1
    assert all(sorted(p) == list(range(len(p))) for p in pages.values()), \
        pages
    assert pl.verify_roundtrip(src, pl.decode_blocks(blocks))["ok"]
    blocks.unpersist()
