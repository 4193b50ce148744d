"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full encode→decode roundtrip of the documents
table through the columnar-encode pipeline, returning per-row sha256 of the
decoded content (the north_rule fidelity invariant).

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 plus the training-data-pipeline ops (dedup / similarity / text
analysis).  Every oracle SQL is written to be *bit-deterministic* against
the Spark expression: integer-derived ratios, explicit DOUBLE casts (DuckDB
float literals are DECIMAL!), round(_, 3) at the end, md5/sha256 (not
engine-specific hashes) wherever a hash crosses engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from parquet_python_spark.functions import (dedup, multimodal, profile,
                                            sampling, similarity, text)
from parquet_python_spark.operators import pipeline as pl
from parquet_python_spark.streaming import incremental as st


# --------------------------------------------------------------- helpers

def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _doc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table dressed as the (repo, path, commit, ...) code shape
    the partition planner expects."""
    return (
        _documents(spark, sf_dir)
        .withColumn("repo", F.col("source"))
        .withColumn("path", F.col("doc_id").cast("string"))
        .withColumn("commit", F.lit("0"))
    )


DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


_DOC_BLOCKS_CACHE: dict = {}
_LI_BLOCKS_CACHE: dict = {}
_EMB_CACHE: dict = {}


def _session_key(spark: SparkSession, sf_dir: str) -> tuple:
    """Session-unique cache key (r4 ADVICE): ``id(spark)`` can be reused
    by a NEW session after the old one is GC'd, handing out cached frames
    bound to a dead JVM context.  applicationId is unique per SparkContext
    lifetime.  Entries of stopped sessions are evicted eagerly — persisted
    frames must not accumulate across bench's fresh-session loops."""
    app = spark.sparkContext.applicationId
    for cache in (_DOC_BLOCKS_CACHE, _LI_BLOCKS_CACHE, _EMB_CACHE,
                  _MAINT_STORE_CACHE):
        for k in [k for k in cache if k[0] != app]:
            del cache[k]
    return (app, sf_dir)


_MAINT_STORE_CACHE: dict = {}

MAINT_COLS = ["doc_id", "source", "n_chars", "repo", "path", "commit"]


def _maintenance_store(spark: SparkSession, sf_dir: str) -> str:
    """One encoded scratch store shared by the maintenance rows
    (overwrite_repo, repair_lineage, kv_metadata): each copies it (a
    cheap local file copy of a small store) and mutates the COPY, so the
    ~2 s encode runs once per sweep instead of once per row (r4 VERDICT
    task 1: make the 60-row sweep affordable)."""
    import atexit
    import os
    import shutil
    import tempfile

    key = _session_key(spark, sf_dir)
    path = _MAINT_STORE_CACHE.get(key)
    if path is None or not os.path.isdir(path):
        base = tempfile.mkdtemp(prefix="pqs_maint_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        path = f"{base}/s"
        pl.run_encode(_doc_source(spark, sf_dir), path,
                      columns=MAINT_COLS, target_rows=2000, resume=False)
        _MAINT_STORE_CACHE[key] = path
    return path


def _copy_maintenance_store(spark: SparkSession, sf_dir: str,
                            dst: str) -> str:
    import shutil

    shutil.copytree(_maintenance_store(spark, sf_dir), dst)
    return dst


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One persisted embeddings frame shared by the five similarity rows
    (knn_* / near_dup) so a full queries() sweep scans the vector table
    once instead of five times (r4 VERDICT task 1: cheapen the sweep)."""
    key = _session_key(spark, sf_dir)
    df = _EMB_CACHE.get(key)
    if df is None:
        df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        _EMB_CACHE[key] = df
    return _ensure_cached(spark, df)


def _ensure_cached(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Re-persist a shared frame if its CacheManager registration is gone.

    catalog.clearCache() (bench isolation) silently unregisters the plan
    while ``df.is_cached`` keeps reporting True; without re-registering,
    every decode re-runs the encode for each of its 2-3 consumers
    (measured 2.2 s -> 4.5 s on point_lookup).  The probe avoids the
    'Asked to cache already cached data' warning that a blind re-persist
    logs; if the internal API moves, fall back to the blind re-persist."""
    try:
        jcm = spark._jsparkSession.sharedState().cacheManager()
        if jcm.lookupCachedData(df._jdf).isDefined():
            return df
    except Exception:  # noqa: BLE001 — internal-API probe only
        pass
    return df.persist()


def _li_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-partitioned encoded lineitem, shared by the three TPC-H-shaped
    queries (same cache rationale as ``_doc_blocks``).  target_rows=50k
    salts every year-repo into its own mono-year parts (at default 250k
    the small year-repos bin-pack into mixed-year buckets and date
    pruning loses its layout)."""
    key = _session_key(spark, sf_dir)
    df = _LI_BLOCKS_CACHE.get(key)
    if df is None:
        df = pl.encode_table(_lineitem_source(spark, sf_dir),
                             columns=LINEITEM_COLS,
                             target_rows=50_000)
        _LI_BLOCKS_CACHE[key] = df
    return _ensure_cached(spark, df)


def _doc_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persist: decode consumes lazy blocks more than once (schema
    # inference collect, optional stats pruning, decode) — without it the
    # encode re-runs per consumer.  Cached per (session, sf_dir): ~15
    # queries() entries consume the same encoded table, and a driver run
    # that executes the whole dict would otherwise encode it 15 times and
    # accumulate 15 separate persisted copies (r3's run died partway —
    # cost and memory growth in one).  clearCache() between bench queries
    # just re-materializes the one shared plan lazily.
    key = _session_key(spark, sf_dir)
    df = _DOC_BLOCKS_CACHE.get(key)
    if df is None:
        df = pl.encode_table(_doc_source(spark, sf_dir),
                             columns=DOC_COLS)
        _DOC_BLOCKS_CACHE[key] = df
    return _ensure_cached(spark, df)


def _events_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (df.withColumn("repo", (F.col("user_id") % 20).cast("string"))
            .withColumn("path", F.col("event_id").cast("string"))
            .withColumn("commit", F.lit("0")))


EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _lineitem_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition lineitem by ship YEAR (the classic time-layout): parts then
    carry narrow l_shipdate min/max ranges, so the q1 date predicate prunes
    whole parts via typed stats instead of decoding 100% of pages."""
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (df.withColumn("repo", F.concat(F.lit("y"), F.year("l_shipdate")))
            .withColumn("path", F.concat_ws("_", "l_orderkey", "l_linenumber"))
            .withColumn("commit", F.lit("0")))


LINEITEM_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"]


def _knn_queries(df: DataFrame) -> DataFrame:
    return df.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), "embedding")


def _lazy_result(spark: SparkSession, df: DataFrame, base: str,
                 drop: str | None = None) -> DataFrame:
    """Materialize a tempdir-scoped result executor-side and hand back a
    lazy reader.  The queries that build a scratch store under ``base``
    must outlive its deletion — but collecting their decoded rows onto the
    driver to do so is exactly the anti-pattern a 100-TB user would copy
    (r4 VERDICT wrong #2).  Writing the result parquet from the executors
    keeps row data off the driver; ``drop`` (the scratch store) is removed
    eagerly and ``base`` lives until process exit."""
    import atexit
    import shutil

    df.write.mode("overwrite").parquet(f"{base}/result")
    if drop:
        shutil.rmtree(drop, ignore_errors=True)
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    return spark.read.parquet(f"{base}/result")


# --------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: encode → decode → per-row sha256 on sf0.001 documents."""
    sf_dir = "/root/testdata/sf0.001"
    decoded = pl.decode_blocks(_doc_blocks(spark, sf_dir),
                               columns=["doc_id", "text"])
    return decoded.select("doc_id", F.sha2(F.col("text"), 256).alias("sha"))


# --------------------------------------------------------------- queries

def q_roundtrip_sha(spark, sf_dir):
    decoded = pl.decode_blocks(_doc_blocks(spark, sf_dir),
                               columns=["doc_id", "text"])
    return decoded.select("doc_id", F.sha2(F.col("text"), 256).alias("sha"))


def q_roundtrip_sha_gzip(spark, sf_dir):
    """Block-compressed path: same fidelity query as roundtrip_sha with
    GZIP on every block (registry parity: fastparquet compression.py:8-74;
    SNAPPY/ZSTD/LZ4 gate on optional libs absent from this container)."""
    blocks = pl.encode_table(_doc_source(spark, sf_dir), columns=DOC_COLS,
                             compression="GZIP").persist()
    decoded = pl.decode_blocks(blocks, columns=["doc_id", "text"])
    return decoded.select("doc_id", F.sha2(F.col("text"), 256).alias("sha"))


def q_roundtrip_events(spark, sf_dir):
    blocks = pl.encode_table(_events_source(spark, sf_dir),
                             columns=EVENT_COLS).persist()
    d = pl.decode_blocks(blocks)
    return d.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
        "user_id", "event_type", "value", "props")


def q_decode_projection(spark, sf_dir):
    return pl.decode_blocks(_doc_blocks(spark, sf_dir),
                            columns=["doc_id", "lang"])


def q_decode_filtered(spark, sf_dir):
    return pl.decode_blocks(_doc_blocks(spark, sf_dir),
                            columns=["doc_id", "lang"],
                            filters=[("lang", "==", "en")])


def q_decode_filtered_numeric(spark, sf_dir):
    """Typed numeric stats pruning: int predicate skips whole parts before
    decode (reference filter_out_stats parity, fastparquet api.py:1125-1183
    + typed coercion api.py:1425-1518)."""
    return pl.decode_blocks(_doc_blocks(spark, sf_dir),
                            columns=["doc_id", "n_chars"],
                            filters=[("n_chars", ">", 300)])


def q_decode_filtered_dnf(spark, sf_dir):
    """OR-of-ANDs filter algebra (the reference's list-of-lists DNF form,
    fastparquet api.py:1125-1183): a part survives pruning if ANY AND-group
    is stats-possible; the exact row filter re-applies the whole DNF after
    decode."""
    return pl.decode_blocks(
        _doc_blocks(spark, sf_dir),
        columns=["doc_id", "lang", "n_chars"],
        filters=[[("lang", "==", "en"), ("n_chars", ">", 300)],
                 [("lang", "==", "de")]])


def q_block_stats(spark, sf_dir):
    return (_doc_blocks(spark, sf_dir)
            .groupBy(F.col("column").alias("col_name"))
            .agg(F.sum("n_values").alias("n_values"),
                 F.sum("n_nulls").alias("n_nulls")))


def q_count_without_decode(spark, sf_dir):
    lin = pl.lineage_from_blocks(_doc_blocks(spark, sf_dir))
    return lin.agg(F.sum("n_rows").alias("n_rows"))


def q_stats_minmax(spark, sf_dir):
    return (_doc_blocks(spark, sf_dir)
            .where(F.col("column").isin("lang", "source"))
            .groupBy(F.col("column").alias("col_name"))
            .agg(F.min("min_s").alias("min_s"), F.max("max_s").alias("max_s")))


def q_q1_pricing_decoded(spark, sf_dir):
    """TPC-H Q1 over the blockstore with the scan behaving like a columnar
    scan should: projection prunes the other columns' blocks before any
    shuffle, and the shipdate filter prunes whole parts on typed numeric
    stats (year-partitioned layout) before decode — r1 decoded all 11
    columns of every block and filtered after."""
    # persist()+cache: the decode path consumes the lazy blocks three
    # times (schema inference, stats pruning, decode) and two sibling
    # queries reuse the same table — see _li_blocks.
    blocks = _li_blocks(spark, sf_dir)
    d = pl.decode_blocks(
        blocks,
        columns=["l_returnflag", "l_linestatus", "l_quantity",
                 "l_extendedprice", "l_discount", "l_shipdate"],
        filters=[("l_shipdate", "<=", "1997-06-30")])
    return (d
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (F.lit(1.0) - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.count(F.lit(1)).alias("count_order")))


def q_q1_rollup(spark, sf_dir):
    """Grouping sets over decoded blocks (SURVEY §2e: aggs the reference
    lacks, free from Spark SQL): ROLLUP on returnflag with a grand-total
    row."""
    blocks = _li_blocks(spark, sf_dir)
    d = pl.decode_blocks(blocks, columns=["l_returnflag", "l_quantity"])
    return (d.rollup("l_returnflag")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.count(F.lit(1)).alias("n"))
            .select(F.coalesce("l_returnflag", F.lit("ALL"))
                    .alias("returnflag"), "sum_qty", "n"))


def q_q3_shipping(spark, sf_dir):
    """TPC-H Q3-shaped 3-table join over DECODED blockstores: each table
    encodes into its own store, decodes with its selective predicate
    pushed into block pruning, and the small decoded sides broadcast into
    the lineitem probe — the §2e relational layer (supplied by Spark SQL,
    absent from the reference) composing with the §2c/2d scan layer."""
    def dress(df, key):
        return (df.withColumn("repo", (F.col(key) % 10).cast("string"))
                .withColumn("path", F.col(key).cast("string"))
                .withColumn("commit", F.lit("0")))

    cut = "1998-06-30"
    cust = pl.encode_table(
        dress(spark.read.parquet(f"{sf_dir}/customer.parquet"), "c_custkey"),
        ["c_custkey", "c_mktsegment"]).persist()
    ordb = pl.encode_table(
        dress(spark.read.parquet(f"{sf_dir}/orders.parquet"), "o_orderkey"),
        ["o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"]
    ).persist()
    linb = _li_blocks(spark, sf_dir)
    c = pl.decode_blocks(cust, columns=["c_custkey"],
                         filters=[("c_mktsegment", "==", "BUILDING")])
    o = pl.decode_blocks(ordb,
                         columns=["o_orderkey", "o_custkey", "o_orderdate",
                                  "o_orderpriority"],
                         filters=[("o_orderdate", "<", cut)])
    ln = pl.decode_blocks(linb,
                          columns=["l_orderkey", "l_extendedprice",
                                   "l_discount", "l_shipdate"],
                          filters=[("l_shipdate", ">", cut)])
    j = (ln.join(F.broadcast(o), ln.l_orderkey == o.o_orderkey)
         .join(F.broadcast(c), o.o_custkey == c.c_custkey))
    # integer-exact revenue in 10^-4 dollars: prices/discounts are
    # 2-decimal quantities, so summing cents x (100 - discount-points)
    # integers is order-independent AND rounding-free — a double sum
    # wobbles in the last cent between engines (IEEE sum order), and even
    # an exact double ROUNDS differently (Spark HALF_UP on the shortest
    # decimal repr vs DuckDB on the binary value)
    ep_c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    dc_c = F.round(F.col("l_discount") * 100, 0).cast("long")
    return (j.groupBy("l_orderkey",
                      F.date_format("o_orderdate", "yyyy-MM-dd").alias("od"),
                      "o_orderpriority")
            .agg(F.sum(ep_c * (F.lit(100) - dc_c)).alias("rev_e4")))


def q_roundtrip_embeddings(spark, sf_dir):
    """LIST-column pipeline parity: encode/decode array<float> embeddings.

    Output is posexploded to (vec_id, label, idx, val) scalars — the driver
    canonicalizer sorts column values, and an array column is unsortable in
    pandas (r1 red row); element-wise rows also make the fidelity check
    strictly stronger (per-element equality, not whole-array)."""
    src = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .withColumn("repo", (F.col("vec_id") % 5).cast("string"))
           .withColumn("path", F.col("vec_id").cast("string"))
           .withColumn("commit", F.lit("0")))
    blocks = pl.encode_table(src,
                             columns=["vec_id", "embedding", "label"]).persist()
    d = pl.decode_blocks(blocks)
    return d.select("vec_id", "label",
                    F.posexplode("embedding").alias("idx", "val"))


def q_roundtrip_struct(spark, sf_dir):
    """STRUCT pipeline parity: structs flatten to dotted paths for
    encoding (the reference's flat-schema model, fastparquet schema
    flattening) and re-nest on decode; output exploded to scalars for the
    driver canonicalizer."""
    src = (_events_source(spark, sf_dir)
           .withColumn("meta", F.struct(F.col("user_id").alias("uid"),
                                        F.col("event_type").alias("etype"))))
    blocks = pl.encode_table(src, columns=["event_id", "meta"]).persist()
    d = pl.decode_blocks(blocks)
    return d.select("event_id", F.col("meta.uid").alias("uid"),
                    F.col("meta.etype").alias("etype"))


def q_roundtrip_tags_array(spark, sf_dir):
    """array<struct<k,v>> pipeline parity (r3): struct leaves under a list
    stripe Dremel-style into per-leaf array columns (repeated-group
    striping — fastparquet assembles the same shape on read,
    cencoding.pyx:431-494) and re-zip on decode; output posexploded to
    scalars for the driver canonicalizer."""
    src = (_events_source(spark, sf_dir)
           .withColumn("tags", F.array(
               F.struct(F.lit("uid").alias("k"),
                        F.col("user_id").alias("v")),
               F.struct(F.lit("etyl").alias("k"),
                        F.length("event_type").cast("long").alias("v")))))
    blocks = pl.encode_table(src, columns=["event_id", "tags"]).persist()
    d = pl.decode_blocks(blocks)
    return (d.select("event_id", F.posexplode("tags").alias("idx", "t"))
            .select("event_id", "idx",
                    F.col("t.k").alias("k"), F.col("t.v").alias("v")))


def q_roundtrip_nested_list(spark, sf_dir):
    """list<list<bigint>> pipeline parity (r3): composed nested dtype ids
    in the v2 block header, recursive LIST child blocks; output double-
    posexploded to scalars."""
    src = (_events_source(spark, sf_dir)
           .withColumn("ll", F.array(
               F.array(F.col("user_id")),
               F.sequence(F.lit(0).cast("long"), F.col("user_id") % 3))))
    blocks = pl.encode_table(src, columns=["event_id", "ll"]).persist()
    d = pl.decode_blocks(blocks)
    return (d.select("event_id", F.posexplode("ll").alias("i", "inner"))
            .select("event_id", "i", F.posexplode("inner").alias("j", "val")))


def q_merge_count(spark, sf_dir):
    """Store maintenance parity (reference merge, fastparquet
    writer.py:1464-1494): encode two halves of documents into separate
    stores, merge them, and count rows without decoding.  Results are
    materialized eagerly so the temp stores can be deleted before return."""
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="pqs_merge_")
    try:
        half_a = _doc_source(spark, sf_dir).where(F.col("doc_id") % 2 == 0)
        half_b = _doc_source(spark, sf_dir).where(F.col("doc_id") % 2 == 1)
        # metadata-bearing columns only: this row proves MERGE semantics
        # (lineage union + count-without-decode), not payload encode —
        # the text column is exercised by the roundtrip rows, and
        # encoding it twice here doubled the sweep cost of the row
        pl.run_encode(half_a, f"{base}/a", columns=MAINT_COLS,
                      target_rows=2000, resume=False)
        pl.run_encode(half_b, f"{base}/b", columns=MAINT_COLS,
                      target_rows=2000, resume=False)
        pl.merge_stores(spark, [f"{base}/a", f"{base}/b"], f"{base}/out")
        dec = pl.decode_blocks(pl.read_blocks(spark, f"{base}/out"))
        row = dec.agg(F.count(F.lit(1)).alias("n_rows"),
                      F.countDistinct("doc_id").alias("n_docs")).collect()[0]
        return spark.createDataFrame(
            [(int(row["n_rows"]), int(row["n_docs"]))],
            "n_rows long, n_docs long")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_roundtrip_props_map(spark, sf_dir):
    """MAP<string,int> pipeline parity (reference k/v Dremel zip,
    fastparquet core.py:620-631): events.props recast as a map column,
    encoded/decoded through the blockstore, exploded to scalar rows for
    the driver canonicalizer."""
    src = (_events_source(spark, sf_dir)
           .withColumn("props_map", F.from_json("props", "map<string,int>")))
    blocks = pl.encode_table(src, columns=["event_id", "props_map"]).persist()
    d = pl.decode_blocks(blocks)
    return d.select("event_id", F.explode("props_map").alias("mkey", "mval"))


def q_roundtrip_float_bss(spark, sf_dir):
    """BYTE_STREAM_SPLIT under block compression (r3): a full-precision
    double column (sqrt(value + event_id) — NOT
    k-decimal, so the DECFLOAT codec can't claim it) encodes with the selector's sampled trial-compression choice
    (bss wins when its byte planes gzip better than PLAIN) and GZIP on
    every block.  Write-side BSS exceeds reference support — fastparquet
    raises on encoding 9 (BYTE_STREAM_SPLIT) at write.  The bss choice
    itself is asserted in tests/test_bss_selector.py and surfaces in the
    codec_choices driver row."""
    src = (_events_source(spark, sf_dir)
           .withColumn("fval", F.sqrt(F.col("value") + F.col("event_id"))))
    blocks = pl.encode_table(src, columns=["event_id", "fval"],
                             compression="GZIP").persist()
    d = pl.decode_blocks(blocks)
    return d.select("event_id", "fval")


def q_windowed_rollup(spark, sf_dir):
    """Watermarked tumbling-window rollup (streaming/incremental.py) in its
    batch-equivalent form: identical operator tree Structured Streaming
    runs incrementally; the oracle checks the windowing semantics."""
    events = (spark.read.parquet(f"{sf_dir}/events.parquet")
              # decimal sum: double addition order differs between engines
              .withColumn("value", F.col("value").cast("decimal(18,6)")))
    out = st.windowed_encode_metrics(events, window="1 day",
                                     watermark="2 days")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "event_type", "n_events",
        F.round("sum_value", 3).cast("double").alias("sum_value"))


def q_token_count(spark, sf_dir):
    return text.token_counts(_documents(spark, sf_dir))


def q_quality_score(spark, sf_dir):
    return text.quality_scores(_documents(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    return text.lang_id(_documents(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    return text.fingerprints(_documents(spark, sf_dir))


def q_rarity(spark, sf_dir):
    return text.corpus_rarity(_documents(spark, sf_dir))


def q_boilerplate(spark, sf_dir):
    return text.strip_boilerplate(_documents(spark, sf_dir), min_docs=3)


def q_repetition(spark, sf_dir):
    return text.repetition_stats(_documents(spark, sf_dir))


def q_redact(spark, sf_dir):
    return text.redact(_documents(spark, sf_dir))


def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup_groups(_documents(spark, sf_dir))


def q_ngram_jaccard(spark, sf_dir):
    return dedup.jaccard_pairs(_documents(spark, sf_dir), tau=0.2)


def q_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_documents(spark, sf_dir),
                                   n_hashes=8, bands=2, tau=0.25)


_SAMPLE_RATES = {"en": 0.5, "de": 0.25}
_MIX_TARGETS = {"en": 0.5, "zh": 0.3, "fr": 0.2}


def q_sample_stratified(spark, sf_dir):
    """Deterministic per-stratum hash sampling (training-data curation):
    keep iff uint32(md5(doc_id)[:8]) < rate*2^32 — map-only, retry-stable."""
    out = sampling.sample_stratified(_documents(spark, sf_dir),
                                     _SAMPLE_RATES, "lang", "doc_id")
    return out.select("doc_id", "lang")


def q_mix_corpus(spark, sf_dir):
    """Corpus mixing: downsample strata to hit target mixture proportions
    (largest achievable total), deterministic in doc_id."""
    out = sampling.mix_proportions(_documents(spark, sf_dir),
                                   _MIX_TARGETS, "lang", "doc_id")
    return out.select("doc_id", "lang")


def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing at a 2048-token budget, sharded
    by lang (window is per-shard — never a global no-partition window)."""
    return sampling.pack_sequences(_documents(spark, sf_dir), budget=2048)


def q_quality_topk(spark, sf_dir):
    """Curation selection: keep the 10 highest-quality documents per lang
    (rounded quality is oracle-bit-exact, doc_id tiebreak makes the window
    rank deterministic)."""
    docs = _documents(spark, sf_dir)
    qs = text.quality_scores(docs).select("doc_id", "quality")
    d = qs.join(docs.select("doc_id", "lang"), "doc_id")
    out = sampling.top_k_by(d, 10, "lang", [F.desc("quality")])
    return out.select("doc_id", "lang", "quality", "rnk")


def q_dedup_clusters(spark, sf_dir):
    """Near-duplicate CLUSTERS: connected components over the MinHash-LSH
    pair graph (iterative min-label propagation; oracle is a recursive-CTE
    transitive closure over the identical pair set)."""
    pairs = dedup.minhash_lsh_pairs(_documents(spark, sf_dir),
                                    n_hashes=8, bands=2, tau=0.25)
    return dedup.dedup_clusters(pairs)


def q_dedup_near(spark, sf_dir):
    """Deduped corpus: drop every non-canonical member of each
    near-duplicate cluster (pairs → components → broadcast anti-join)."""
    out = dedup.dedup_near(_documents(spark, sf_dir),
                           n_hashes=8, bands=2, tau=0.25)
    return out.select("doc_id", "lang")


_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def q_profile(spark, sf_dir):
    """ANALYZE-style per-column profiling of the documents table (one
    column-pruned scan per column, single groupBy on the column name)."""
    return profile.profile(_documents(spark, sf_dir), _PROFILE_COLS)


def q_para_dedup(spark, sf_dir):
    """Paragraph-level exact dedup: re-chunk into 8-token paragraphs (the
    synthetic corpus has no newlines), keep only first occurrences
    corpus-wide, reconstruct each doc from its survivors."""
    docs = dedup.chunk_paragraphs(_documents(spark, sf_dir), n=8)
    return dedup.dedup_paragraphs(docs).select(
        "doc_id", "n_total", "n_kept", "text_dedup")


def q_contamination(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing a 5-gram with the
    (deterministic doc_id % 97 == 0) eval subset; the eval shingle set is
    broadcast so the corpus is scanned once and never shuffled."""
    docs = _documents(spark, sf_dir)
    eval_df = docs.where(F.col("doc_id") % 97 == 0)
    return dedup.contamination(docs, eval_df, n=5, min_hits=1)


def q_knn_bruteforce(spark, sf_dir):
    emb = _embeddings(spark, sf_dir)
    return similarity.cosine_topk(emb, _knn_queries(emb), k=5)


def q_knn_ivf(spark, sf_dir):
    # stride=8 spreads the 8 sign bits over all 64 dims (skew-resistant
    # code); multi-probe visits the bucket + its 8 Hamming-1 neighbours
    emb = _embeddings(spark, sf_dir)
    return similarity.cosine_topk_ivf(emb, _knn_queries(emb), k=5, bits=8,
                                      stride=8, multiprobe=True)


def q_knn_blas(spark, sf_dir):
    # BLAS-batched exact scorer (the throughput tier); ranks on round(_,3)
    # so it matches the JVM-fold oracle away from float boundaries
    emb = _embeddings(spark, sf_dir)
    return similarity.cosine_topk_blas(emb, _knn_queries(emb), k=5)


def q_near_dup(spark, sf_dir):
    """Exact embedding-cosine near-duplicate pairs (blocked-BLAS triangle
    self-join, τ=0.4 on round(cos,4)): the exactness tier of the dedup
    family — no reference counterpart (fastparquet has no vector ops);
    MinHash/SimHash/LSH are the sub-quadratic tiers."""
    emb = _embeddings(spark, sf_dir)
    return similarity.near_dup_pairs(emb, threshold=0.4, n_blocks=4)


def q_knn_lsh(spark, sf_dir):
    # multi-table LSH: the recall tier (measured 0.95+ @5 even on these
    # isotropic embeddings); knn_ivf stays as the cheap single-table tier
    emb = _embeddings(spark, sf_dir)
    return similarity.cosine_topk_lsh(emb, _knn_queries(emb), k=5, bits=8,
                                      n_tables=8, radius=2)


def q_simhash_pairs(spark, sf_dir):
    # max_hamming=3 -> 4 derived bands over the 60-bit hash: full recall by
    # pigeonhole, and md5-based token hashes make it oracle-reproducible
    return dedup.simhash_near_pairs(_documents(spark, sf_dir), max_hamming=3)


# rows-only (no SQL-expressible oracle): codec choice metrics, winnowing,
# multimodal feature plumbing
def q_codec_choices(spark, sf_dir):
    """Codec-choice metrics over the documents store plus the GZIP float
    store (shows bss chosen for full-precision doubles under block
    compression)."""
    doc = (_doc_blocks(spark, sf_dir)
           .groupBy(F.col("column").alias("col_name"), "codec")
           .agg(F.count(F.lit(1)).alias("n_blocks"),
                F.sum("encoded_size").alias("enc_bytes")))
    flt = (pl.encode_table(
        _events_source(spark, sf_dir)
        .withColumn("fval", F.sqrt(F.col("value") + F.col("event_id"))),
        columns=["fval"], compression="GZIP")
        .groupBy(F.concat(F.lit("gzip:"), "column").alias("col_name"),
                 "codec")
        .agg(F.count(F.lit(1)).alias("n_blocks"),
             F.sum("encoded_size").alias("enc_bytes")))
    return doc.unionByName(flt)


def q_winnow_fingerprint(spark, sf_dir):
    # md5-based k-gram hashes (r2): scalar (doc_id, fp) rows with an exact
    # DuckDB oracle — r1's pandas-hash variant was rows-only-checkable
    return text.winnow_fingerprints(_documents(spark, sf_dir))


def q_roundtrip_binary(spark, sf_dir):
    """BYTE_ARRAY / FIXED_LEN_BYTE_ARRAY parity (fastparquet
    writer.py:278-279 carries FLBA as raw bytes): a 16-byte digest column
    encodes through the blockstore as DT_BINARY and decodes
    byte-identical; hex-rendered for the cross-engine canonicalizer."""
    src = _doc_source(spark, sf_dir).withColumn(
        "digest", F.unhex(F.md5("text")))
    blocks = pl.encode_table(src, columns=["doc_id", "digest"]).persist()
    d = pl.decode_blocks(blocks)
    return d.select("doc_id", F.hex("digest").alias("digest_hex"))


def q_hive_export(spark, sf_dir):
    """Hive key=value partitioned export (fastparquet writer.py:1368-1409,
    ``partition_on=``) read BACK through Spark's partition-discovering
    reader: decode → export_hive(lang) → read → per-partition counts.
    Catalyst partition pruning applies to the exported layout for free."""
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="pqs_hive_")
    try:
        dec = pl.decode_blocks(_doc_blocks(spark, sf_dir),
                               columns=["doc_id", "lang", "source"])
        pl.export_hive(dec, f"{base}/out", ["lang"])
        back = spark.read.parquet(f"{base}/out")
        rows = (back.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
                .collect())
        return spark.createDataFrame(
            [(r["lang"], int(r["n"])) for r in rows], "lang string, n long")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_kv_metadata(spark, sf_dir):
    """Custom key-value store metadata (fastparquet
    writer.py:1613-1666, ``update_file_custom_metadata``): attach
    data-derived key-values to a store, read them back as rows."""
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="pqs_kv_")
    try:
        _copy_maintenance_store(spark, sf_dir, f"{base}/s")
        dec = pl.decode_blocks(pl.read_blocks(spark, f"{base}/s"))
        agg = dec.agg(F.count(F.lit(1)).alias("n"),
                      F.max("doc_id").alias("mx")).collect()[0]
        pl.update_store_metadata(f"{base}/s", {
            "n_docs": str(int(agg["n"])), "max_doc": str(int(agg["mx"]))})
        meta = pl.read_store_metadata(f"{base}/s")
        return spark.createDataFrame(
            sorted(meta.items()), "mkey string, mval string")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_compact_roundtrip(spark, sf_dir):
    """LSM pair end-to-end: zero-raw-shuffle local ingest lands
    fragmented sub-blocks, ``compact_store`` re-encodes fragmented parts
    whole (fused single-Arrow-pass recode), and the compacted store
    decodes with full fidelity — the steady-state 100-TB ingest shape."""
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="pqs_cmp_")
    try:
        pl.run_encode(_doc_source(spark, sf_dir), f"{base}/s",
                      columns=DOC_COLS, target_rows=250, resume=False)
        pl.compact_store(spark, f"{base}/s", max_pages_per_column=1)
        d = pl.decode_blocks(pl.read_blocks(spark, f"{base}/s"),
                             columns=["doc_id", "text"])
        out = d.select(F.col("doc_id").cast("long").alias("doc_id"),
                       F.sha2(F.col("text"), 256).alias("sha"))
        return _lazy_result(spark, out, base, drop=f"{base}/s")
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise


def q_point_lookup(spark, sf_dir):
    """Equality point-lookup on an unsorted high-cardinality column: block
    Bloom filters refute parts whose [min, max] stats all span the domain
    (parquet-format BloomFilter.md; the reference prunes on stats only —
    fastparquet api.py:1125-1183 — so this exceeds parity).  The exact
    re-filter after pruning keeps false positives harmless."""
    return pl.decode_blocks(_doc_blocks(spark, sf_dir),
                            columns=["doc_id", "lang", "n_chars"],
                            filters=[("doc_id", "in", [19, 277, 480])])


def q_head_iter(spark, sf_dir):
    """head(n) + iter_row_groups parity (fastparquet api.py:288-307 ``head``,
    api.py:397-413 ``iter_row_groups``).  head(120) must decode only a
    minimal part prefix, so WHICH rows come back depends on the hash
    partitioner and is not SQL-expressible — instead the row proves the
    contract exactly: head returns EXACTLY n rows and every one matches the
    source table bit-for-bit (left-semi join on all projected columns,
    checked Spark-side).  iter_row_groups gets a true content oracle: the
    row count and n_chars sum accumulated across every yielded pandas
    frame must equal SQL ``count(*)/sum(n_chars)`` over the whole table.
    The per-part pandas frames ARE the API contract (reference returns a
    pandas iterator); each frame is one part, never the whole table."""
    store = _maintenance_store(spark, sf_dir)
    h = pl.head_rows(spark, store, 120, columns=["doc_id", "n_chars"])
    src = _doc_source(spark, sf_dir).select("doc_id", "n_chars")
    head_rows = h.count()
    head_valid = h.join(src, ["doc_id", "n_chars"], "left_semi").count()
    it_rows, it_chars = 0, 0
    for pdf in pl.iter_pages(spark, store, columns=["n_chars"]):
        it_rows += len(pdf)
        it_chars += int(pdf["n_chars"].sum())
    return spark.createDataFrame(
        [(int(head_rows), int(head_valid), int(it_rows), int(it_chars))],
        "head_rows long, head_valid long, iter_rows long, iter_chars long")


def q_sorted_scan(spark, sf_dir):
    """Within-part clustering (sort_store) then a range scan: pages carry
    narrow disjoint [min, max] on the sort column, so the stats pruner
    skips pages, not just parts (reference row-group ordering on
    overwrite, fastparquet writer.py:1560-1579, generalized)."""
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="pqs_sort_")
    try:
        pl.run_encode(_doc_source(spark, sf_dir), f"{base}/s",
                      columns=["doc_id", "n_chars"], target_rows=2000,
                      resume=False)
        pl.sort_store(spark, f"{base}/s", ["n_chars"])
        d = pl.decode_blocks(pl.read_blocks(spark, f"{base}/s"),
                             columns=["doc_id", "n_chars"],
                             filters=[("n_chars", "<", 250)])
        out = d.select(F.col("doc_id").cast("long").alias("doc_id"),
                       F.col("n_chars").cast("long").alias("n_chars"))
        return _lazy_result(spark, out, base, drop=f"{base}/s")
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise


def q_schema_evolution(spark, sf_dir):
    """Generational schema evolution: a store encoded without ``stars``
    gains it in a later append; decode serves the union schema with NULL
    on pre-existing parts (parquet row-group semantics; fastparquet fills
    absent columns with NA, api.py:566-573)."""
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="pqs_evo_")
    try:
        src = _doc_source(spark, sf_dir)
        pl.run_encode(src, f"{base}/s", columns=["doc_id", "n_chars"],
                      target_rows=2000, resume=False)
        newer = (src.withColumn("stars", F.col("n_chars") * 2)
                 .where(F.col("doc_id") < 20))
        pl.run_encode(newer, f"{base}/s",
                      columns=["doc_id", "n_chars", "stars"],
                      target_rows=2000, resume=False, generation=1)
        d = pl.decode_blocks(pl.read_blocks(spark, f"{base}/s"))
        out = d.select(F.col("doc_id").cast("long").alias("doc_id"),
                       F.col("n_chars").cast("long").alias("n_chars"),
                       F.col("stars").cast("long").alias("stars"))
        return _lazy_result(spark, out, base, drop=f"{base}/s")
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise


def q_repair_lineage(spark, sf_dir):
    """Crash recovery end-to-end (r4 VERDICT task 9): encode a store,
    destroy every lineage file it could hold (the ``lineage/`` delta log,
    ``manifests/`` and ``lineage_ptr.json`` that stores once kept beside
    their blocks), and serve per-source rollups whose store_rows column is
    ``store_summary`` of the damaged store — so the row is only green if
    the lineage derived from the block files alone still counts exactly.
    The result is a Spark aggregation over the decoded rows (BIGINT
    counts), materialized before the store is deleted."""
    import os
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="pqs_repair_")
    try:
        store = f"{base}/s"
        _copy_maintenance_store(spark, sf_dir, store)
        shutil.rmtree(f"{store}/lineage", ignore_errors=True)
        shutil.rmtree(f"{store}/manifests", ignore_errors=True)
        try:
            os.remove(f"{store}/lineage_ptr.json")
        except FileNotFoundError:
            pass
        store_rows = pl.store_summary(spark, store)["rows"]
        d = pl.decode_blocks(pl.read_blocks(spark, store))
        out = (d.groupBy("source")
               .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                    F.sum("n_chars").cast("long").alias("total_chars"))
               .withColumn("store_rows", F.lit(store_rows).cast("long")))
        return _lazy_result(spark, out, base, drop=store)
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise


def q_media_features(spark, sf_dir):
    return multimodal.extract_features(multimodal.synthetic_media(spark, 64),
                                       fake=True)


def q_roundtrip_json(spark, sf_dir):
    """JSON object encoding (fastparquet json.py:98-146, write hook
    writer.py:203-224, ``object_encoding='json'``): a struct column is
    serialized to JSON text JVM-side (to_json), rides the block pipeline
    as a string column (selector picks fsst/dict), and parses back typed
    on decode (from_json) — flattened to scalars for the canonicalizer."""
    from parquet_python_spark.functions import objects

    src = (_events_source(spark, sf_dir)
           .withColumn("obj", F.struct(F.col("user_id").alias("u"),
                                       F.col("event_type").alias("t"))))
    enc_df = objects.encode_json_columns(src, ["obj"])
    blocks = pl.encode_table(enc_df, columns=["event_id", "obj"]).persist()
    d = pl.decode_blocks(blocks)
    out = objects.decode_json_columns(d, {"obj": "struct<u:bigint,t:string>"})
    return out.select("event_id", F.col("obj.u").alias("u"),
                      F.col("obj.t").alias("t"))


def q_overwrite_repo(spark, sf_dir):
    """Partition overwrite + repo removal in one maintenance pass
    (fastparquet overwrite / remove_row_groups, writer.py:1497-1601,
    api.py:415-574): src3's rows are replaced with an updated copy
    (n_chars + 1000), src7 is dropped entirely; the decoded store then
    serves exactly the post-maintenance table."""
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="pqs_ovw_")
    try:
        src = _doc_source(spark, sf_dir)
        # 'repo' must be encoded: replacing one repo of a shared bucket
        # decodes the bucket and keeps the other repos' rows by label,
        # under their own part_key.  The overwrite encodes the store's
        # own column set, MAINT_COLS
        cols = MAINT_COLS
        _copy_maintenance_store(spark, sf_dir, f"{base}/s")
        repl = (src.where(F.col("source") == "src3")
                .withColumn("n_chars", F.col("n_chars") + F.lit(1000)))
        pl.overwrite_partitions(repl, f"{base}/s", columns=cols,
                                target_rows=2000)
        pl.remove_repos(spark, f"{base}/s", ["src7"])
        d = pl.decode_blocks(pl.read_blocks(spark, f"{base}/s"))
        return _lazy_result(spark, d.select("doc_id", "source", "n_chars"),
                            base, drop=f"{base}/s")
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise


def _last_verified_round() -> dict:
    """Latest round in which each query earned a GREEN driver row.

    Read from the newest ``CORRECTNESS_r*.json`` files next to this module.
    A row counts as green when it matched its oracle (rows+hash) or is the
    by-design rows-only check (``no_oracle``).  Failed rows do NOT advance
    the age, so a regression is re-fronted the following round.
    """
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    ages: dict = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except Exception:  # noqa: BLE001 — a corrupt artifact must not break queries()
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            green = (row.get("err") == "no_oracle") or (
                row.get("err") in (None, "") and row.get("rows_match")
                and row.get("hash_match"))
            if green:
                ages[name] = max(ages.get(name, -1), rnd)
    return ages


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver runs these in dict order with a ~50-row
    # budget over 59 entries, so a STATIC order leaves a permanent blind
    # spot (r4 VERDICT wrong #1: the last 9 entries never got a row two
    # rounds running).  Order dynamically by least-recently-verified:
    # never-green first, then oldest green round, stable on the hand
    # order below inside each age class — every query is re-verified
    # within ceil(59/50) = 2 rounds no matter where the sweep stops.
    ages = _last_verified_round()
    static = {
        "roundtrip_json": q_roundtrip_json,
        "overwrite_repo": q_overwrite_repo,
        "decode_filtered_dnf": q_decode_filtered_dnf,
        "hive_export": q_hive_export,
        "kv_metadata": q_kv_metadata,
        "compact_roundtrip": q_compact_roundtrip,
        "schema_evolution": q_schema_evolution,
        "sorted_scan": q_sorted_scan,
        "media_features": q_media_features,
        "roundtrip_sha": q_roundtrip_sha,
        "roundtrip_sha_gzip": q_roundtrip_sha_gzip,
        "roundtrip_events": q_roundtrip_events,
        "decode_projection": q_decode_projection,
        "decode_filtered": q_decode_filtered,
        "decode_filtered_numeric": q_decode_filtered_numeric,
        "block_stats": q_block_stats,
        "count_without_decode": q_count_without_decode,
        "stats_minmax": q_stats_minmax,
        "q1_pricing_decoded": q_q1_pricing_decoded,
        "q1_rollup": q_q1_rollup,
        "q3_shipping": q_q3_shipping,
        "roundtrip_embeddings": q_roundtrip_embeddings,
        "roundtrip_tags_array": q_roundtrip_tags_array,
        "roundtrip_nested_list": q_roundtrip_nested_list,
        "roundtrip_props_map": q_roundtrip_props_map,
        "roundtrip_struct": q_roundtrip_struct,
        "roundtrip_float_bss": q_roundtrip_float_bss,
        "merge_count": q_merge_count,
        "windowed_rollup": q_windowed_rollup,
        "token_count": q_token_count,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "redact": q_redact,
        "rarity": q_rarity,
        "boilerplate": q_boilerplate,
        "repetition": q_repetition,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "dedup_clusters": q_dedup_clusters,
        "dedup_near": q_dedup_near,
        "contamination": q_contamination,
        "para_dedup": q_para_dedup,
        "profile": q_profile,
        "sample_stratified": q_sample_stratified,
        "mix_corpus": q_mix_corpus,
        "pack_sequences": q_pack_sequences,
        "quality_topk": q_quality_topk,
        "knn_bruteforce": q_knn_bruteforce,
        "knn_ivf": q_knn_ivf,
        "knn_lsh": q_knn_lsh,
        "knn_blas": q_knn_blas,
        "near_dup": q_near_dup,
        "codec_choices": q_codec_choices,
        "simhash_pairs": q_simhash_pairs,
        "winnow_fingerprint": q_winnow_fingerprint,
        "point_lookup": q_point_lookup,
        "roundtrip_binary": q_roundtrip_binary,
        "repair_lineage": q_repair_lineage,
        "head_iter": q_head_iter,
    }
    order = sorted(range(len(static)),
                   key=lambda i: (ages.get(list(static)[i], -1), i))
    names = list(static)
    return {names[i]: static[names[i]] for i in order}


# --------------------------------------------------------------- oracles

_SHINGLE_CTE = """
toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         FROM documents),
sh0 AS (SELECT DISTINCT doc_id,
            unnest(list_transform(range(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        FROM toks WHERE len(t) >= 3),
hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 100),
sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot))
"""

_COS_PAIRS_CTE = """
q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS va FROM embeddings
      WHERE vec_id < 8),
d AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS vb FROM embeddings),
pairs AS (
  SELECT q_id, n_id,
    round(list_sum(list_transform(range(1, len(va) + 1), i -> va[i] * vb[i]))
      / (sqrt(list_sum(list_transform(range(1, len(va) + 1), i -> va[i] * va[i])))
         * sqrt(list_sum(list_transform(range(1, len(vb) + 1), i -> vb[i] * vb[i])))),
      3) AS cos_sim
  FROM q, d WHERE q_id != n_id{extra_join})
"""


def oracle_sql() -> dict[str, str]:
    return {
        "roundtrip_sha":
            "SELECT doc_id, sha256(text) AS sha FROM documents",
        "roundtrip_sha_gzip":
            "SELECT doc_id, sha256(text) AS sha FROM documents",
        "roundtrip_events":
            "SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s, "
            "user_id, event_type, value, props FROM events",
        "decode_projection":
            "SELECT doc_id, lang FROM documents",
        "decode_filtered":
            "SELECT doc_id, lang FROM documents WHERE lang = 'en'",
        "decode_filtered_numeric":
            "SELECT doc_id, n_chars FROM documents WHERE n_chars > 300",
        "point_lookup":
            "SELECT doc_id, lang, n_chars FROM documents "
            "WHERE doc_id IN (19, 277, 480)",
        "roundtrip_binary":
            "SELECT doc_id, upper(md5(text)) AS digest_hex FROM documents",
        "hive_export":
            "SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY lang",
        "roundtrip_json":
            "SELECT event_id, user_id AS u, event_type AS t FROM events",
        "decode_filtered_dnf":
            "SELECT doc_id, lang, n_chars FROM documents "
            "WHERE (lang = 'en' AND n_chars > 300) OR lang = 'de'",
        "overwrite_repo":
            "SELECT doc_id, source, "
            "(CASE WHEN source = 'src3' THEN n_chars + 1000 "
            "ELSE n_chars END)::BIGINT AS n_chars "
            "FROM documents WHERE source <> 'src7'",
        "kv_metadata":
            "SELECT 'max_doc' AS mkey, max(doc_id)::VARCHAR AS mval "
            "FROM documents UNION ALL "
            "SELECT 'n_docs', count(*)::VARCHAR FROM documents",
        "compact_roundtrip":
            "SELECT doc_id, sha256(text) AS sha FROM documents",
        "schema_evolution":
            "SELECT doc_id, n_chars::BIGINT AS n_chars, NULL::BIGINT AS stars "
            "FROM documents UNION ALL "
            "SELECT doc_id, n_chars::BIGINT, (n_chars * 2)::BIGINT "
            "FROM documents WHERE doc_id < 20",
        "sorted_scan":
            "SELECT doc_id, n_chars::BIGINT AS n_chars FROM documents "
            "WHERE n_chars < 250",
        "block_stats":
            " UNION ALL ".join(
                f"SELECT '{c}' AS col_name, count(*)::BIGINT AS n_values, "
                f"(count(*) - count({c}))::BIGINT AS n_nulls FROM documents"
                for c in DOC_COLS),
        "count_without_decode":
            "SELECT count(*)::BIGINT AS n_rows FROM documents",
        "stats_minmax":
            "SELECT 'lang' AS col_name, min(lang) AS min_s, max(lang) AS max_s "
            "FROM documents UNION ALL "
            "SELECT 'source', min(source), max(source) FROM documents",
        "q1_pricing_decoded": """
            SELECT l_returnflag, l_linestatus,
                   round(SUM(l_quantity), 2) AS sum_qty,
                   round(SUM(l_extendedprice), 2) AS sum_base_price,
                   round(SUM(l_extendedprice * (1.0::DOUBLE - l_discount)), 2)
                       AS sum_disc_price,
                   count(*)::BIGINT AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1997-06-30 00:00:00'
            GROUP BY l_returnflag, l_linestatus""",
        "q1_rollup": """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   round(SUM(l_quantity), 2) AS sum_qty,
                   count(*)::BIGINT AS n
            FROM lineitem GROUP BY ROLLUP (l_returnflag)""",
        "q3_shipping": """
            SELECT l_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS od,
                   o_orderpriority,
                   SUM(round(l_extendedprice * 100, 0)::BIGINT
                       * (100 - round(l_discount * 100, 0)::BIGINT))::BIGINT
                       AS rev_e4
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
              AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
            GROUP BY l_orderkey, od, o_orderpriority""",
        "roundtrip_embeddings": """
            SELECT vec_id, label, CAST(u.i - 1 AS INT) AS idx, u.v AS val
            FROM (SELECT vec_id, label,
                         unnest(list_transform(range(1, len(embedding) + 1),
                                i -> {'i': i, 'v': embedding[i]})) AS u
                  FROM embeddings)""",
        "roundtrip_struct":
            "SELECT event_id, user_id AS uid, event_type AS etype "
            "FROM events",
        "roundtrip_tags_array": """
            SELECT event_id, 0::INT AS idx, 'uid' AS k, user_id AS v
            FROM events
            UNION ALL
            SELECT event_id, 1::INT, 'etyl', length(event_type)
            FROM events""",
        "roundtrip_nested_list": """
            WITH base AS (
              SELECT event_id,
                     [[user_id], range(0, user_id % 3 + 1)] AS ll
              FROM events),
            outer_u AS (
              SELECT event_id,
                     unnest(list_transform(range(1, len(ll) + 1),
                            i -> {'i': i - 1, 'l': ll[i]})) AS u
              FROM base)
            SELECT event_id, CAST(u.i AS INT) AS i,
                   CAST(w.j AS INT) AS j, w.v AS val
            FROM (SELECT event_id, u,
                         unnest(list_transform(range(1, len(u.l) + 1),
                                j -> {'j': j - 1, 'v': u.l[j]})) AS w
                  FROM outer_u)""",
        "merge_count":
            "SELECT count(*)::BIGINT AS n_rows, "
            "count(DISTINCT doc_id)::BIGINT AS n_docs FROM documents",
        "roundtrip_props_map": r"""
            SELECT event_id,
                   regexp_extract(props, '"([^"]+)"', 1) AS mkey,
                   regexp_extract(props, ': (-?[0-9]+)', 1)::INT AS mval
            FROM events""",
        # sqrt is IEEE-754 correctly rounded in BOTH engines (java
        # Math.sqrt / libm), so the full-precision doubles compare exactly
        "roundtrip_float_bss":
            "SELECT event_id, sqrt(value + event_id) AS fval FROM events",
        "windowed_rollup": """
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   event_type,
                   count(*)::BIGINT AS n_events,
                   round(SUM(value::DECIMAL(18,6)), 3)::DOUBLE AS sum_value
            FROM events GROUP BY 1, 2""",
        "token_count": r"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '\S+'))::INT AS n_tokens,
                   len(regexp_extract_all(text,
                       ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+'))::INT
                       AS n_bpe_tokens,
                   length(text)::INT AS n_chars_len
            FROM documents""",
        "quality_score": r"""
            WITH t AS (
              SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                     length(text) AS n_len
              FROM documents),
            u AS (SELECT doc_id, len(toks)::INT AS n_words, n_alpha, n_len,
                         len(list_filter(toks,
                             x -> x IN ('the','a','and','of','in','to'))) AS n_stop
                  FROM t)
            SELECT doc_id, n_words,
                   round(n_alpha::DOUBLE / nullif(n_len, 0), 3) AS alpha_ratio,
                   round(n_stop::DOUBLE / nullif(n_words, 0), 3) AS stopword_ratio,
                   round(0.4::DOUBLE * least(n_words::DOUBLE / 100, 1.0::DOUBLE)
                         + 0.4::DOUBLE * (n_alpha::DOUBLE / nullif(n_len, 0))
                         + 0.2::DOUBLE * (n_stop::DOUBLE / nullif(n_words, 0)), 3)
                       AS quality
            FROM u""",
        "quality_topk": r"""
            WITH t AS (
              SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                     length(text) AS n_len
              FROM documents),
            u AS (SELECT doc_id, len(toks)::INT AS n_words, n_alpha, n_len,
                         len(list_filter(toks,
                             x -> x IN ('the','a','and','of','in','to'))) AS n_stop
                  FROM t),
            q AS (SELECT doc_id,
                   round(0.4::DOUBLE * least(n_words::DOUBLE / 100, 1.0::DOUBLE)
                         + 0.4::DOUBLE * (n_alpha::DOUBLE / nullif(n_len, 0))
                         + 0.2::DOUBLE * (n_stop::DOUBLE / nullif(n_words, 0)), 3)
                       AS quality
                  FROM u),
            r AS (SELECT d.doc_id, d.lang, q.quality,
                         row_number() OVER (PARTITION BY d.lang
                             ORDER BY q.quality DESC, d.doc_id)::INT AS rnk
                  FROM documents d JOIN q USING (doc_id))
            SELECT doc_id, lang, quality, rnk FROM r WHERE rnk <= 10""",
        "lang_id": """
            SELECT doc_id, CASE
                WHEN text LIKE '%#include%' THEN 'c'
                WHEN text LIKE '%import %' THEN 'python'
                WHEN text LIKE '%func %' THEN 'go'
                WHEN text LIKE '%fn %' THEN 'rust'
                WHEN text LIKE '%const %' THEN 'javascript'
                ELSE 'unknown' END AS pred_lang
            FROM documents""",
        "fingerprint": r"""
            SELECT doc_id,
                   md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
            FROM documents""",
        "redact": r"""
            WITH r AS (
              SELECT doc_id,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+',
                    '<EMAIL>', 'g'),
                  '[0-9]{7,}', '<NUM>', 'g') AS redacted,
                text
              FROM documents)
            SELECT doc_id, redacted, redacted != text AS changed FROM r""",
        "rarity": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                         AS tok
              FROM documents),
            v AS (SELECT tok, count(*)::BIGINT AS cnt FROM toks GROUP BY tok)
            SELECT doc_id, sum(cnt)::BIGINT AS tok_mass,
                   count(*)::BIGINT AS n_toks
            FROM toks JOIN v USING (tok) GROUP BY doc_id""",
        "boilerplate": """
            WITH s AS (SELECT doc_id, string_split(text, chr(10)) AS ls
                       FROM documents),
            l AS (SELECT doc_id, i AS pos, ls[i] AS line
                  FROM s, unnest(range(1, len(ls) + 1)) t(i)),
            hot AS (SELECT line FROM
                      (SELECT line, count(DISTINCT doc_id) AS docfreq
                       FROM l GROUP BY line)
                    WHERE docfreq >= 3),
            kept AS (SELECT * FROM l
                     WHERE line NOT IN (SELECT line FROM hot))
            SELECT doc_id,
                   array_to_string(list(line ORDER BY pos), chr(10))
                       AS clean_text,
                   count(*)::BIGINT AS n_kept
            FROM kept GROUP BY doc_id""",
        "repetition": """
            SELECT doc_id,
                   len(string_split(text, chr(10)))::BIGINT AS n_lines,
                   len(list_distinct(string_split(text, chr(10))))::BIGINT
                       AS n_distinct_lines,
                   len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT
                       AS n_toks,
                   len(list_distinct(
                       regexp_extract_all(lower(text), '[a-z0-9]+')))::BIGINT
                       AS n_distinct_toks,
                   coalesce(list_max(list_transform(
                       string_split(text, chr(10)), l -> length(l))),
                       0)::BIGINT AS max_line_len
            FROM documents""",
        "dedup_exact": """
            SELECT sha256(text) AS text_sha, min(doc_id) AS keep_id,
                   count(*)::BIGINT AS n_copies
            FROM documents GROUP BY sha256(text)""",
        "ngram_jaccard": f"""
            WITH {_SHINGLE_CTE},
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_inter
                      FROM sh x JOIN sh y
                        ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                      GROUP BY x.doc_id, y.doc_id)
            SELECT a, b,
                   round(n_inter::DOUBLE / (sa.sz + sb.sz - n_inter), 3) AS jaccard
            FROM inter JOIN sizes sa ON sa.doc_id = a
                       JOIN sizes sb ON sb.doc_id = b
            WHERE round(n_inter::DOUBLE / (sa.sz + sb.sz - n_inter), 3) >= 0.2""",
        "minhash_lsh": f"""
            WITH {_SHINGLE_CTE},
            mh AS (SELECT doc_id, j, min(md5(j::VARCHAR || ':' || shingle)) AS h
                   FROM sh, (SELECT unnest(range(0, 8)) AS j) js
                   GROUP BY doc_id, j),
            band AS (SELECT doc_id, CAST(j // 4 AS INT) AS band,
                            md5(string_agg(h, ',' ORDER BY j)) AS bh
                     FROM mh GROUP BY doc_id, CAST(j // 4 AS INT)),
            cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                     FROM band x JOIN band y
                       ON x.band = y.band AND x.bh = y.bh
                      AND x.doc_id < y.doc_id)
            SELECT c.a, c.b,
                   round(SUM(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END)::DOUBLE
                         / 8, 3) AS est_jaccard
            FROM cand c
            JOIN mh sa ON sa.doc_id = c.a
            JOIN mh sb ON sb.doc_id = c.b AND sb.j = sa.j
            GROUP BY c.a, c.b
            HAVING round(SUM(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END)::DOUBLE
                         / 8, 3) >= 0.25""",
        "sample_stratified": sampling.sample_stratified_sql(
            "documents", _SAMPLE_RATES, "lang", "doc_id",
            columns="doc_id, lang"),
        "mix_corpus": sampling.mix_proportions_sql(
            "documents", _MIX_TARGETS, "lang", "doc_id",
            columns="d.doc_id, d.lang"),
        "pack_sequences": sampling.pack_sequences_sql("documents",
                                                      budget=2048),
        "dedup_clusters": f"""
            WITH RECURSIVE {_SHINGLE_CTE},
            mh AS (SELECT doc_id, j, min(md5(j::VARCHAR || ':' || shingle)) AS h
                   FROM sh, (SELECT unnest(range(0, 8)) AS j) js
                   GROUP BY doc_id, j),
            band AS (SELECT doc_id, CAST(j // 4 AS INT) AS band,
                            md5(string_agg(h, ',' ORDER BY j)) AS bh
                     FROM mh GROUP BY doc_id, CAST(j // 4 AS INT)),
            cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                     FROM band x JOIN band y
                       ON x.band = y.band AND x.bh = y.bh
                      AND x.doc_id < y.doc_id),
            pairs AS (SELECT c.a, c.b
                      FROM cand c
                      JOIN mh sa ON sa.doc_id = c.a
                      JOIN mh sb ON sb.doc_id = c.b AND sb.j = sa.j
                      GROUP BY c.a, c.b
                      HAVING round(SUM(CASE WHEN sa.h = sb.h THEN 1 ELSE 0
                                       END)::DOUBLE / 8, 3) >= 0.25),
            edges AS (SELECT a AS src, b AS dst FROM pairs
                      UNION SELECT b AS src, a AS dst FROM pairs),
            reach AS (SELECT src, dst FROM edges
                      UNION
                      SELECT r.src, e.dst
                      FROM reach r JOIN edges e ON r.dst = e.src)
            SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
            FROM reach GROUP BY src""",
        "profile": profile.profile_sql("documents", _PROFILE_COLS),
        "para_dedup": r"""
            WITH toks AS (SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS t
                   FROM documents),
            p AS (SELECT doc_id, u.pos AS pos, u.para AS para FROM (
                    SELECT doc_id, unnest(list_transform(
                        range(0, (len(t) + 7) // 8),
                        i -> {'pos': i,
                              'para': array_to_string(
                                  t[i*8+1:i*8+8], ' ')})) AS u
                    FROM toks)),
            k AS (SELECT doc_id, pos, para,
                         row_number() OVER (PARTITION BY sha256(para)
                             ORDER BY doc_id, pos) AS rn
                  FROM p),
            tot AS (SELECT doc_id, count(*)::BIGINT AS n_total
                    FROM p GROUP BY doc_id),
            kept AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
                            string_agg(para, chr(10) || chr(10)
                                       ORDER BY pos) AS text_dedup
                     FROM k WHERE rn = 1 GROUP BY doc_id)
            SELECT kept.doc_id, n_total, n_kept, text_dedup
            FROM kept JOIN tot USING (doc_id)""",
        "contamination": """
            WITH toks AS (SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS t
                   FROM documents),
            shc AS (SELECT DISTINCT doc_id,
                     unnest(list_transform(range(1, len(t) - 3),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                            t[i+3] || ' ' || t[i+4])) AS shingle
                    FROM toks WHERE len(t) >= 5),
            ev AS (SELECT DISTINCT shingle FROM shc WHERE doc_id % 97 = 0)
            SELECT doc_id, count(*)::BIGINT AS n_hits
            FROM shc WHERE shingle IN (SELECT shingle FROM ev)
            GROUP BY doc_id HAVING count(*) >= 1""",
        "dedup_near": f"""
            WITH RECURSIVE {_SHINGLE_CTE},
            mh AS (SELECT doc_id, j, min(md5(j::VARCHAR || ':' || shingle)) AS h
                   FROM sh, (SELECT unnest(range(0, 8)) AS j) js
                   GROUP BY doc_id, j),
            band AS (SELECT doc_id, CAST(j // 4 AS INT) AS band,
                            md5(string_agg(h, ',' ORDER BY j)) AS bh
                     FROM mh GROUP BY doc_id, CAST(j // 4 AS INT)),
            cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                     FROM band x JOIN band y
                       ON x.band = y.band AND x.bh = y.bh
                      AND x.doc_id < y.doc_id),
            pairs AS (SELECT c.a, c.b
                      FROM cand c
                      JOIN mh sa ON sa.doc_id = c.a
                      JOIN mh sb ON sb.doc_id = c.b AND sb.j = sa.j
                      GROUP BY c.a, c.b
                      HAVING round(SUM(CASE WHEN sa.h = sb.h THEN 1 ELSE 0
                                       END)::DOUBLE / 8, 3) >= 0.25),
            edges AS (SELECT a AS src, b AS dst FROM pairs
                      UNION SELECT b AS src, a AS dst FROM pairs),
            reach AS (SELECT src, dst FROM edges
                      UNION
                      SELECT r.src, e.dst
                      FROM reach r JOIN edges e ON r.dst = e.src),
            dropped AS (SELECT src FROM reach
                        GROUP BY src HAVING least(src, min(dst)) <> src)
            SELECT doc_id, lang FROM documents
            WHERE doc_id NOT IN (SELECT src FROM dropped)""",
        "winnow_fingerprint": r"""
            WITH toks AS (
              SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS t
              FROM documents),
            kg0 AS (
              SELECT doc_id, len(t) - 4 AS m,
                     unnest(list_transform(
                       range(1, greatest(len(t) - 4, 0) + 1),
                       i -> {'pos': i,
                             'h': md5(t[i] || ' ' || t[i+1] || ' ' ||
                                      t[i+2] || ' ' || t[i+3] || ' ' ||
                                      t[i+4])})) AS u
              FROM toks WHERE len(t) >= 5),
            kg AS (SELECT doc_id, m, u.pos AS pos, u.h AS h FROM kg0),
            win AS (
              SELECT doc_id, pos, m,
                     min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                         AS mh
              FROM kg)
            SELECT DISTINCT doc_id, mh AS fp FROM win
            WHERE pos <= greatest(m - 3, 1)""",
        "simhash_pairs": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
              FROM documents),
            th AS (SELECT doc_id,
                          ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h
                   FROM toks),
            votes AS (SELECT doc_id, b,
                             SUM(CASE WHEN (h >> b) & 1 = 1
                                 THEN 1 ELSE -1 END) AS v
                      FROM th, (SELECT unnest(range(0, 60)) AS b) bs
                      GROUP BY doc_id, b),
            sh AS (SELECT doc_id,
                          SUM(CASE WHEN v > 0 THEN (1::BIGINT << b)
                              ELSE 0 END)::BIGINT AS simhash
                   FROM votes GROUP BY doc_id),
            banded AS (SELECT doc_id, simhash, i AS band,
                              (simhash >> (i * 15)::INT) & 32767 AS key
                       FROM sh, (SELECT unnest(range(0, 4)) AS i) bi),
            cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                            x.simhash AS ha, y.simhash AS hb
                     FROM banded x JOIN banded y
                       ON x.band = y.band AND x.key = y.key
                      AND x.doc_id < y.doc_id)
            SELECT a, b, bit_count(xor(ha, hb))::INT AS hamming
            FROM cand WHERE bit_count(xor(ha, hb)) <= 3""",
        "knn_bruteforce":
            "WITH " + _COS_PAIRS_CTE.format(extra_join="") + """
            SELECT q_id, n_id, cos_sim, rank FROM (
              SELECT q_id, n_id, cos_sim,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY cos_sim DESC, n_id ASC)::INT AS rank
              FROM pairs) WHERE rank <= 5""",
        "knn_ivf": """
            WITH qb AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS va,
                          list_sum(list_transform(range(0, 8),
                            i -> CASE WHEN embedding[1 + i * 8] > 0
                                 THEN (1::BIGINT << i) ELSE 0 END)) AS bucket
                        FROM embeddings WHERE vec_id < 8),
            qp AS (SELECT q_id, va,
                          unnest(list_prepend(bucket,
                            list_transform(range(0, 8),
                              i -> xor(bucket, 1::BIGINT << i)))) AS bucket
                   FROM qb),
            db AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS vb,
                     list_sum(list_transform(range(0, 8),
                       i -> CASE WHEN embedding[1 + i * 8] > 0
                            THEN (1::BIGINT << i) ELSE 0 END)) AS bucket
                   FROM embeddings),
            pairs AS (
              SELECT q_id, n_id,
                round(list_sum(list_transform(range(1, len(va) + 1),
                        i -> va[i] * vb[i]))
                  / (sqrt(list_sum(list_transform(range(1, len(va) + 1),
                          i -> va[i] * va[i])))
                     * sqrt(list_sum(list_transform(range(1, len(vb) + 1),
                            i -> vb[i] * vb[i])))), 3) AS cos_sim
              FROM qp JOIN db USING (bucket) WHERE q_id != n_id)
            SELECT q_id, n_id, cos_sim, rank FROM (
              SELECT q_id, n_id, cos_sim,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY cos_sim DESC, n_id ASC)::INT AS rank
              FROM pairs) WHERE rank <= 5""",
        "knn_lsh": _knn_lsh_oracle(),
        # same oracle as knn_bruteforce: the BLAS scorer is exact and both
        # rank on round(cos, 3)
        "knn_blas":
            "WITH " + _COS_PAIRS_CTE.format(extra_join="") + """
            SELECT q_id, n_id, cos_sim, rank FROM (
              SELECT q_id, n_id, cos_sim,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY cos_sim DESC, n_id ASC)::INT AS rank
              FROM pairs) WHERE rank <= 5""",
        "near_dup": """
            WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v
                          FROM embeddings),
            pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_sum(list_transform(range(1, len(a.v) + 1),
                        i -> a.v[i] * b.v[i]))
                  / (sqrt(list_sum(list_transform(range(1, len(a.v) + 1),
                        i -> a.v[i] * a.v[i])))
                   * sqrt(list_sum(list_transform(range(1, len(b.v) + 1),
                        i -> b.v[i] * b.v[i])))), 4) AS cos_sim
              FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id)
            SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.4""",
        "repair_lineage": """
            SELECT source, count(*) AS n_docs,
                   sum(n_chars) AS total_chars,
                   (SELECT count(*) FROM documents) AS store_rows
            FROM documents GROUP BY source""",
        # head_iter: head's row PICK is partitioner-dependent (not SQL-
        # expressible) so its contract is asserted Spark-side (exactly n
        # rows, all bit-matching the source) and surfaces here as two
        # constants; iter_row_groups has a true content oracle — the sums
        # accumulated across every yielded frame must equal the whole table.
        "head_iter": """
            SELECT CAST(120 AS BIGINT) AS head_rows,
                   CAST(120 AS BIGINT) AS head_valid,
                   count(*) AS iter_rows,
                   sum(n_chars) AS iter_chars
            FROM documents""",
        # media_features oracle (r4 VERDICT wrong #4): the fake media
        # payloads are seeded-deterministic, so the expected features were
        # computed by an INDEPENDENT per-row pure-Python implementation
        # (scripts/gen_media_oracle.py regenerates this block) and embedded
        # as a literal table — the last no_oracle data row becomes exact.
        "media_features": """
            SELECT media_id, n_bytes, byte_mean, feat_hash
            FROM (VALUES
        (0, 347, 125, -4454336900454128245),
        (1, 773, 130, -103017285014735614),
        (2, 938, 128, -7800835365503621533),
        (3, 1202, 126, 2925708608135514929),
        (4, 770, 128, 5810432697218622801),
        (5, 355, 125, 3404371787423322830),
        (6, 389, 126, -2361931204516165789),
        (7, 299, 124, -2991819456334153268),
        (8, 1056, 126, -8267309778835982936),
        (9, 649, 127, -1407134215121647485),
        (10, 1243, 124, 453906485541039602),
        (11, 1030, 126, 7773318551383248611),
        (12, 573, 125, -2286525537461705052),
        (13, 1242, 129, -4262564722287893685),
        (14, 631, 132, 7987271541524916751),
        (15, 322, 132, 6986883401715354652),
        (16, 778, 130, 8193351635810260796),
        (17, 1063, 128, 379580352037909590),
        (18, 434, 124, 5388403715394712311),
        (19, 689, 126, -1485077783777520936),
        (20, 714, 127, 8986683453617551319),
        (21, 722, 129, 4278873526243432939),
        (22, 778, 128, 8425598809433190580),
        (23, 434, 125, 1166102817253484277),
        (24, 1220, 127, -6874978795581406949),
        (25, 1057, 124, 1788843211641284741),
        (26, 754, 125, -7969618507501156784),
        (27, 310, 125, -8477012781820641960),
        (28, 918, 129, 5311240451963752687),
        (29, 1231, 128, -8158451128923247528),
        (30, 1231, 125, 8083194547023181222),
        (31, 1094, 123, -7782736849331769942),
        (32, 458, 131, 3611576626529454243),
        (33, 935, 127, 1801584781268078782),
        (34, 835, 129, 7279738337951459022),
        (35, 317, 133, -3127759325423489000),
        (36, 1006, 124, -3683153304077799771),
        (37, 365, 131, 1988501508705266936),
        (38, 1185, 127, -2679864097629719135),
        (39, 315, 128, 912444980325449277),
        (40, 990, 124, 2988294506488485189),
        (41, 1020, 125, 2890235059617060339),
        (42, 926, 131, 7231664914996313120),
        (43, 985, 129, -7998342529139510306),
        (44, 1236, 127, 1848804981254784203),
        (45, 886, 127, -1987191098709539411),
        (46, 768, 127, 4488438134435201375),
        (47, 1135, 124, 6615123845479230613),
        (48, 927, 125, 4249235983285747199),
        (49, 1008, 128, 4222601241519774264),
        (50, 715, 127, -5083279272856760684),
        (51, 1234, 126, 6123465040265748840),
        (52, 301, 122, -4399383522990402086),
        (53, 716, 131, 8716205256876599498),
        (54, 1102, 128, 8792282343153249401),
        (55, 397, 125, -1098513318592334215),
        (56, 598, 126, 2225194985222145652),
        (57, 1237, 128, -2794720709416889508),
        (58, 1041, 130, -5645184721062846092),
        (59, 573, 126, -289328156602931110),
        (60, 709, 131, -131336371408790506),
        (61, 821, 128, -1885814870673145120),
        (62, 976, 128, 8437957444785605268),
        (63, 541, 125, 7613469192432115069)) AS
            t(media_id, n_bytes, byte_mean, feat_hash)""",
    }


def _knn_lsh_oracle() -> str:
    """DuckDB twin of cosine_topk_lsh(bits=8, n_tables=8, radius=2):
    8 dim-interleaved tables, Hamming<=2 probe masks, id-level candidate
    dedup, then one cosine per surviving pair."""
    from itertools import combinations

    masks = [0] + [1 << i for i in range(8)] \
        + [(1 << i) | (1 << j) for i, j in combinations(range(8), 2)]
    mask_sql = ", ".join(str(m) for m in masks)
    bucket = ("list_sum(list_transform(range(0, 8), "
              "i -> CASE WHEN e.embedding[1 + i * 8 + ts.t] > 0 "
              "THEN (1::BIGINT << i) ELSE 0 END))")
    return f"""
        WITH ts AS (SELECT unnest(range(0, 8)) AS t),
        masks AS (SELECT unnest([{mask_sql}]) AS mask),
        db AS (SELECT e.vec_id AS n_id, ts.t, {bucket} AS bucket
               FROM embeddings e, ts),
        qb AS (SELECT e.vec_id AS q_id, ts.t, {bucket} AS bucket
               FROM embeddings e, ts WHERE e.vec_id < 8),
        qp AS (SELECT q_id, t, xor(bucket, mask) AS bucket FROM qb, masks),
        cand AS (SELECT DISTINCT q_id, n_id
                 FROM qp JOIN db USING (t, bucket) WHERE q_id != n_id),
        vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        pairs AS (
          SELECT c.q_id, c.n_id,
            round(list_sum(list_transform(range(1, len(qv.v) + 1),
                    i -> qv.v[i] * nv.v[i]))
              / (sqrt(list_sum(list_transform(range(1, len(qv.v) + 1),
                      i -> qv.v[i] * qv.v[i])))
                 * sqrt(list_sum(list_transform(range(1, len(nv.v) + 1),
                        i -> nv.v[i] * nv.v[i])))), 3) AS cos_sim
          FROM cand c JOIN vecs qv ON qv.vec_id = c.q_id
                      JOIN vecs nv ON nv.vec_id = c.n_id)
        SELECT q_id, n_id, cos_sim, rank FROM (
          SELECT q_id, n_id, cos_sim,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos_sim DESC, n_id ASC)::INT AS rank
          FROM pairs) WHERE rank <= 5"""
