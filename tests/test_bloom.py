"""Bloom-filter equality pruning: kernel no-false-negatives, pipeline
integration (blocks actually pruned on a high-cardinality unsorted column
where min/max stats cannot prune), and backward compat with bloom-less
block frames."""
import numpy as np
import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from parquet_python_spark.kernels import bloom
from parquet_python_spark.operators import pipeline as pl

pytestmark = pytest.mark.spark


# ------------------------------------------------------------- kernel level

def test_bloom_no_false_negatives_strings(rng):
    vals = [f"doc-{i}-{rng.integers(1 << 30)}" for i in range(5000)]
    vals += ["", "naïve-ünïcode-✓", "a" * 10_000]
    words = bloom.build(pa.array(vals), True)
    assert words is not None
    for v in vals:
        assert bloom.maybe_contains(words, v.encode("utf-8")), v


def test_bloom_no_false_negatives_ints(rng):
    vals = rng.integers(-(1 << 62), 1 << 62, size=4000).tolist() + [0, -1]
    words = bloom.build(pa.array(vals, type=pa.int64()), False)
    for v in vals:
        assert bloom.maybe_contains(words, int(v)), v


def test_bloom_false_positive_rate(rng):
    vals = [f"k{i}" for i in range(20_000)]
    words = bloom.build(pa.array(vals), True)
    probes = [f"absent{i}".encode() for i in range(20_000)]
    fp = sum(bloom.maybe_contains(words, b) for b in probes)
    assert fp / len(probes) < 0.05  # sized for ~1.2%, generous margin


def test_bloom_long_text_gates():
    """Raw-length pre-gate vs exact distinct gate.  Pages of document
    bodies must skip the filter (and skip the unique() pass — the pre-gate
    exists because uniquing them was ~15% of encode CPU); a mixed page
    whose raw average sits between the gates (duplicated long values,
    short distincts) must still reach the exact distinct gate and keep
    its filter, with no false negatives."""
    # clearly beyond 4x MAX_AVG_LEN raw average: pre-gate rejects
    bodies = pa.array([f"{i} " + "z" * 5000 for i in range(64)])
    assert bloom.build(bodies, True) is None
    # raw avg ~ 2.6x MAX_AVG_LEN (between the gates): one 4 KiB value
    # duplicated over 5 rows of short ids — distinct set is small and
    # short-dominated... but the distinct gate is on distinct BYTES, so
    # the long value still busts it only if it dominates distinct bytes
    long_v = "y" * 4096
    mixed = pa.array([long_v, "id-1", long_v, "id-2", long_v, "id-3"])
    got = bloom.build(mixed, True)
    # distinct set = {long_v, id-1..3}: 4096+15 bytes > 256*4 -> exact
    # gate rejects; the pre-gate must NOT have been the deciding factor
    # (raw avg 2053 < 4*256? no: 2053 > 1024, pre-gate also rejects).
    assert got is None
    # short duplicated values with ONE mildly-long distinct: raw avg under
    # the pre-gate, distinct avg under the exact gate -> filter built,
    # every value (including the long one) must probe positive
    vals = [f"id-{i % 40}" for i in range(4000)] + ["w" * 200]
    words = bloom.build(pa.array(vals), True)
    assert words is not None
    for v in set(vals):
        assert bloom.maybe_contains(words, v.encode()), v


def test_bloom_null_and_empty_pages():
    assert bloom.build(pa.array([], type=pa.string()), True) is None
    assert bloom.build(pa.array([None, None], type=pa.string()), True) is None
    # nulls mixed in: only non-null values are added
    words = bloom.build(pa.array(["x", None, "y"]), True)
    assert bloom.maybe_contains(words, b"x")
    assert bloom.maybe_contains(words, b"y")


def _scalar_probe(words: list[int], h1: int, h2: int) -> bool:
    """The per-filter loop probe ``maybe_contains_many`` replaced, kept
    as its reference: Python ints, so nothing wraps."""
    m = len(words) * 64
    w = np.asarray(words, dtype=np.int64).view(np.uint64)
    for i in range(bloom.K):
        p = (h1 + i * h2) & (m - 1)
        if not (int(w[p >> 6]) >> (p & 63)) & 1:
            return False
    return True


def test_maybe_contains_many_matches_scalar_probe():
    """Over random pages of 1-64 words, dense and sparse, the vectorized
    probe agrees bit for bit with the loop probe: for hash pairs of int
    and bytes renderings, and for pairs near 2^64, where uint64 wraps.
    NULL and empty filters keep their row."""
    rng = np.random.default_rng(19)
    M64 = (1 << 64) - 1
    for trial in range(30):
        pages = []
        for _ in range(int(rng.integers(1, 40))):
            n = int(rng.integers(1, 65))
            w = rng.integers(-(1 << 63), (1 << 63) - 1, n, dtype=np.int64)
            if rng.random() < 0.5:  # dense: most probes hit
                w |= rng.integers(-(1 << 63), (1 << 63) - 1, n,
                                  dtype=np.int64)
            pages.append(w.tolist())
        pages.append(bloom.build(pa.array(rng.integers(
            0, 1000, int(rng.integers(1, 300)))), False))
        arr = pa.array(pages + [None, []], pa.list_(pa.int64()))
        pairs = [bloom.hash_pair_int(int(rng.integers(-(1 << 62), 1 << 62))),
                 bloom.hash_pair_bytes(rng.bytes(int(rng.integers(0, 20)))),
                 (M64, M64), (M64 - int(rng.integers(1 << 20)),
                              M64 - 2 * int(rng.integers(1 << 20)) - 1),
                 (int(rng.integers(1 << 62)) + (1 << 63), M64 - 2)]
        for h1, h2 in pairs:
            got = bloom.maybe_contains_many(arr, h1, h2)
            assert got.tolist() == [_scalar_probe(p, h1, h2)
                                    for p in pages] + [True, True], (h1, h2)
            # chunked and sliced inputs read the same words
            k = len(pages) // 2
            chunked = pa.chunked_array([arr.slice(0, k), arr.slice(k)])
            assert (bloom.maybe_contains_many(chunked, h1, h2)
                    == got).all()
    # the single-filter probe is the same function
    words = bloom.build(pa.array(["a", "b", "c"]), True)
    for v in (b"a", b"zz", 7, -3):
        h = (bloom.hash_pair_int(v) if isinstance(v, int)
             else bloom.hash_pair_bytes(v))
        assert bloom.maybe_contains(words, v) == _scalar_probe(words, *h)


# ----------------------------------------------------------- pipeline level

@pytest.fixture(scope="module")
def doc_store(spark, tmp_path_factory):
    """Documents-shaped table whose high-cardinality columns (text sha,
    doc_id) are scattered across parts: every part's [min, max] spans the
    whole domain, so ONLY bloom can prune equality lookups."""
    n = 2000
    rows = [(i, f"body of document {i} " + "x" * (i % 17),
             f"repo{i % 8}") for i in range(n)]
    src = (spark.createDataFrame(rows, "doc_id long, text string, repo string")
           .withColumn("path", F.concat(F.lit("p"), F.col("doc_id")))
           .withColumn("commit", F.md5(F.col("text"))))
    blocks = pl.encode_table(src, columns=["doc_id", "text", "commit"],
                             target_rows=256).persist()
    blocks.count()
    return blocks


def _parts(blocks):
    return {r["part_key"] for r in blocks.select("part_key").distinct().collect()}


def test_bloom_prunes_string_equality(spark, doc_store):
    all_parts = _parts(doc_store)
    assert len(all_parts) > 3
    lit = "body of document 777 " + "x" * (777 % 17)
    kept = _parts(pl.prune_blocks(doc_store, [("text", "==", lit)]))
    assert len(kept) < len(all_parts) / 2  # most parts refuted by bloom
    got = pl.decode_blocks(doc_store, filters=[("text", "==", lit)]).collect()
    assert [r["doc_id"] for r in got] == [777]


def test_bloom_prunes_int_equality(spark, doc_store):
    all_parts = _parts(doc_store)
    kept = _parts(pl.prune_blocks(doc_store, [("doc_id", "==", 1234)]))
    assert len(kept) < len(all_parts) / 2
    got = pl.decode_blocks(doc_store, filters=[("doc_id", "==", 1234)]).collect()
    assert len(got) == 1 and got[0]["doc_id"] == 1234


def test_bloom_absent_value_prunes_everything_decode_empty(spark, doc_store):
    kept = _parts(pl.prune_blocks(
        doc_store, [("text", "==", "no such document body")]))
    assert len(kept) <= 1  # fpp may keep a stray part; usually zero
    got = pl.decode_blocks(
        doc_store, filters=[("text", "==", "no such document body")]).collect()
    assert got == []


def test_bloom_in_op_keeps_all_members(spark, doc_store):
    lits = ["body of document 5 " + "x" * (5 % 17),
            "body of document 1999 " + "x" * (1999 % 17)]
    got = pl.decode_blocks(doc_store, filters=[("text", "in", lits)])
    assert sorted(r["doc_id"] for r in got.collect()) == [5, 1999]


def test_bloom_matches_unpruned_filter(spark, doc_store):
    """Pruned + exact-refilter result must equal decode-everything + where
    for a batch of random equality lookups (no silent row loss)."""
    full = pl.decode_blocks(doc_store)
    for k in (0, 311, 1024, 1999):
        lit_f = [("doc_id", "==", k)]
        a = sorted(r["doc_id"] for r in
                   pl.decode_blocks(doc_store, filters=lit_f).collect())
        b = sorted(r["doc_id"] for r in
                   full.where(F.col("doc_id") == k).collect())
        assert a == b == [k]


def test_prune_backward_compat_without_bloom_column(spark, doc_store):
    """Stores written before the bloom column existed still prune on
    min/max stats and never error."""
    legacy = doc_store.drop("bloom")
    lit = "body of document 777 " + "x" * (777 % 17)
    kept = pl.prune_blocks(legacy, [("text", "==", lit)])
    assert kept.count() > 0  # stats can't refute — everything kept
    got = pl.decode_blocks(legacy, filters=[("doc_id", "==", 777)]).collect()
    assert [r["doc_id"] for r in got] == [777]


def test_compact_legacy_store_without_bloom_column(spark, tmp_path):
    """A store written before the bloom column existed must still compact:
    the survivor/new-block union tolerates the missing column (null
    bloom keeps those blocks unprunable but correct)."""
    from pyspark.sql import functions as F

    df = (spark.range(300)
          .select(F.col("id").alias("doc_id"),
                  F.concat(F.lit("w"), F.col("id")).alias("text"),
                  (F.col("id") % 3).cast("string").alias("repo"),
                  F.col("id").cast("string").alias("path"),
                  F.lit("0").alias("commit")))
    store = str(tmp_path / "legacy")
    pl.run_encode(df.coalesce(2), store, columns=["doc_id", "text"],
                  target_rows=50, resume=False)
    # strip the bloom column on disk to simulate a pre-r3 store
    legacy = spark.read.parquet(f"{store}/blocks").drop("bloom")
    legacy.write.mode("overwrite").parquet(f"{store}/blocks2")
    import shutil
    shutil.rmtree(f"{store}/blocks")
    shutil.move(f"{store}/blocks2", f"{store}/blocks")
    spark.catalog.refreshByPath(f"{store}/blocks")
    pl.compact_store(spark, store, max_pages_per_column=1)
    d = pl.decode_blocks(pl.read_blocks(spark, store))
    assert d.count() == 300
    got = pl.decode_blocks(pl.read_blocks(spark, store),
                           filters=[("doc_id", "==", 7)]).collect()
    assert [r["doc_id"] for r in got] == [7]


def test_bloom_range_ops_unaffected(spark, doc_store):
    """Bloom must not participate in range predicates."""
    got = pl.decode_blocks(doc_store, filters=[("doc_id", "<", 5)])
    assert sorted(r["doc_id"] for r in got.collect()) == [0, 1, 2, 3, 4]
