"""Lineage commit is fully distributed (r3 VERDICT task 3).

The lineage table is a delta log: appends write O(batch) rollup rows,
``read_lineage`` applies the associative COMBINE on read, maintenance
commits swap a freshly-written directory — and at no point does a
per-part row land on the driver (the old ``toPandas()`` round-trip was
10^6–10^8 rows at 100 TB scale).  The reference's analogue is the
`_metadata` footer fastparquet rewrites per commit (writer.py:1464-1494);
a footer rewrite is O(row-groups) too, which is exactly what this design
avoids.
"""
import inspect

import pytest
from pyspark.sql import functions as F

from parquet_python_spark.operators import pipeline as pl

pytestmark = pytest.mark.spark


def _docs(spark, lo, hi):
    return (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .withColumn("repo", (F.col("doc_id") % 5).cast("string"))
            .withColumn("path", F.col("doc_id").cast("string"))
            .withColumn("commit", F.lit("0")))


COLS = ["doc_id", "text", "lang"]


def test_no_driver_materialization_in_commit_paths():
    """No toPandas / collect-of-parts in any lineage commit function."""
    for fn in (pl.write_blockstore, pl._commit_blocks_delta,
               pl._commit_manifest, pl.compact_store, pl.sort_store,
               pl.run_encode):
        src = inspect.getsource(fn)
        assert "toPandas" not in src, fn.__name__


def test_swap_write_plan_has_no_single_partition_exchange(spark, tmp_path):
    """The distributed lineage rewrite hash-partitions by part_key; a
    coalesce(1)/SinglePartition exchange would funnel 10^8 rollup rows
    through one task."""
    store = str(tmp_path / "s")
    pl.run_encode(_docs(spark, 0, 300), store, columns=COLS,
                  target_rows=100, resume=False)
    lin = pl.read_lineage(spark, store)
    plan = (lin.repartition(F.col("part_key"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "SinglePartition" not in plan
    assert "hashpartitioning(part_key" in plan


def test_append_is_delta_not_rewrite(spark, tmp_path):
    """A second append leaves the first commit's lineage files untouched
    on disk (O(batch) commit, never O(store))."""
    store = str(tmp_path / "s")
    pl.run_encode(_docs(spark, 0, 200), store, columns=COLS,
                  target_rows=100, resume=False)
    first_files = pl._list_part_files(f"{store}/lineage")
    assert first_files
    pl.run_encode(_docs(spark, 200, 500), store, columns=COLS,
                  target_rows=100, resume=False, generation=1)
    after = pl._list_part_files(f"{store}/lineage")
    assert first_files <= after and len(after) > len(first_files)
    # combined view stays one-row-per-part and truthful to decode
    lin = pl.read_lineage(spark, store)
    assert lin.groupBy("part_key").count().where("count > 1").count() == 0
    total = lin.agg(F.sum("n_rows")).collect()[0][0]
    assert total == pl.decode_blocks(pl.read_blocks(spark, store)).count()


def test_delta_log_folds_past_threshold(spark, tmp_path, monkeypatch):
    """Once the delta log fragments past LINEAGE_FOLD_FILES the commit
    folds it with a distributed rewrite + directory swap; totals are
    unchanged (the combine is associative)."""
    monkeypatch.setattr(pl, "LINEAGE_FOLD_FILES", 2)
    store = str(tmp_path / "s")
    for gen, (lo, hi) in enumerate([(0, 100), (100, 200), (200, 300),
                                    (300, 400)]):
        pl.run_encode(_docs(spark, lo, hi), store, columns=COLS,
                      target_rows=50, resume=False, generation=gen)
    assert len(pl._list_part_files(f"{store}/lineage")) <= 3
    summary = pl.store_summary(spark, store)
    assert summary["rows"] == 400
    dec = pl.decode_blocks(pl.read_blocks(spark, store))
    assert dec.count() == 400


def test_maintenance_commit_after_fold_roundtrips(spark, tmp_path):
    """compact_store over a delta-logged lineage: swap commit, combined
    reads, full fidelity."""
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


def test_manifest_crash_before_pointer_put_is_invisible(spark, tmp_path,
                                                        monkeypatch):
    """The pointer PUT is the commit point: a crash after the manifest
    directory is fully written but BEFORE the pointer file lands must
    leave the store reading its previous committed state, and the next
    successful commit must garbage-collect the orphaned manifest."""
    import os

    from parquet_python_spark.operators import fs as fs_mod

    store = str(tmp_path / "s")
    pl.run_encode(_docs(spark, 0, 300), store, columns=COLS,
                  target_rows=100, resume=False)
    before = pl.store_summary(spark, store)

    class CrashBeforePut(fs_mod.LocalFS):
        def put_atomic(self, path, data):
            if path.endswith(pl._LINEAGE_PTR):
                raise RuntimeError("injected crash before pointer PUT")
            super().put_atomic(path, data)

    fs_mod.register_fs(store, CrashBeforePut())
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            pl.repair_lineage(spark, store)
    finally:
        fs_mod.unregister_fs(store)
    # orphaned manifest exists but is unreferenced; reads serve old state
    orphans = fs_mod.get_fs(store).ls_dirs(f"{store}/manifests")
    assert len(orphans) == 1
    assert pl.store_summary(spark, store) == before
    # the next successful commit GCs the orphan and commits its own
    fixed = pl.repair_lineage(spark, store)
    assert fixed == before
    dirs = fs_mod.get_fs(store).ls_dirs(f"{store}/manifests")
    assert len(dirs) == 1 and dirs[0] not in orphans
    ptr = pl._read_lineage_ptr(store)
    assert ptr["manifest"] == os.path.basename(dirs[0])


def test_crash_after_pointer_put_reads_new_state(spark, tmp_path):
    """A crash AFTER the pointer PUT but before GC (superseded delta
    files and the old manifest still on disk) must read the NEW state:
    folded delta files are excluded by the pointer, not by deletion."""
    from parquet_python_spark.operators import fs as fs_mod

    store = str(tmp_path / "s")
    pl.run_encode(_docs(spark, 0, 300), store, columns=COLS,
                  target_rows=100, resume=False)
    before = pl.store_summary(spark, store)

    class CrashAfterPut(fs_mod.LocalFS):
        def delete(self, path):
            raise RuntimeError("injected crash during GC")

        def delete_dir(self, path):
            raise RuntimeError("injected crash during GC")

    fs_mod.register_fs(store, CrashAfterPut())
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            pl.repair_lineage(spark, store)
    finally:
        fs_mod.unregister_fs(store)
    # pointer landed -> new state committed; stale delta files remain on
    # disk but are excluded by the pointer's folded list
    assert pl._list_part_files(f"{store}/lineage")
    assert pl._live_delta_files(store) == []
    assert pl.store_summary(spark, store) == before
    lin = pl.read_lineage(spark, store)
    assert lin.groupBy("part_key").count().where("count > 1").count() == 0


def test_repair_lineage_recovers_lost_delta(spark, tmp_path):
    """Crash window: blocks committed, lineage delta lost.  Resume must
    not re-encode (completed_part_keys reads blocks), and repair_lineage
    must restore the rollups from the blocks table."""
    import os

    store = str(tmp_path / "s")
    pl.run_encode(_docs(spark, 0, 200), store, columns=COLS,
                  target_rows=100, resume=False)
    pl.run_encode(_docs(spark, 200, 500), store, columns=COLS,
                  target_rows=100, resume=False, generation=1)
    true_rows = pl.decode_blocks(pl.read_blocks(spark, store)).count()
    assert true_rows == 500
    # simulate the crash: drop the SECOND commit's lineage delta files
    files = sorted(pl._list_part_files(f"{store}/lineage"),
                   key=os.path.getmtime)
    for f in files[len(files) // 2:]:
        os.remove(f)
    spark.catalog.refreshByPath(f"{store}/lineage")
    assert pl.store_summary(spark, store)["rows"] < true_rows
    # resume with the same generation-1 input: nothing re-encodes
    # (blocks are the completion ground truth; the append may add an
    # EMPTY part file, so assert on rows, not file sets)
    pl.run_encode(_docs(spark, 200, 500), store, columns=COLS,
                  target_rows=100, resume=True, generation=1)
    assert pl.decode_blocks(pl.read_blocks(spark, store)).count() == 500
    fixed = pl.repair_lineage(spark, store)
    assert fixed["rows"] == true_rows
    lin = pl.read_lineage(spark, store)
    assert lin.groupBy("part_key").count().where("count > 1").count() == 0


def test_commit_keeps_delta_appended_after_its_read(spark, tmp_path,
                                                   monkeypatch):
    """A delta file that lands after a commit read its lineage is not
    folded unread: an append committed while repair_lineage's manifest
    is being committed stays live, and the summary counts its rows."""
    store = str(tmp_path / "s")
    pl.run_encode(_docs(spark, 0, 200), store, columns=COLS,
                  target_rows=100, resume=False)
    real_commit = pl._commit_manifest
    appended = []

    def commit_after_append(*args, **kwargs):
        if not appended:
            appended.append(True)
            pl.run_encode(_docs(spark, 200, 260), store, columns=COLS,
                          target_rows=100, generation=1)
        return real_commit(*args, **kwargs)

    monkeypatch.setattr(pl, "_commit_manifest", commit_after_append)
    fixed = pl.repair_lineage(spark, store)
    assert appended
    assert pl.decode_blocks(pl.read_blocks(spark, store)).count() == 260
    assert fixed["rows"] == pl.store_summary(spark, store)["rows"] == 260


def test_lineage_depth_stress_micro_commits(spark, tmp_path, monkeypatch):
    """Scale-shaped protocol stress (r4 VERDICT task 4): 10^4 parts
    across 100 micro-commits of synthetic lineage deltas, driven
    through the REAL append + fold + pointer-commit code paths, with
    crashes injected on both sides of the commit point mid-sequence.

    Invariants at every step: (a) the live (unfolded) delta-log file
    count stays bounded by LINEAGE_FOLD_FILES + the batch just written;
    (b) the combined read equals an independently-maintained model of
    the store (so combine-on-read == fold-then-read == ground truth);
    (c) an injected crash before the pointer PUT leaves the previous
    state readable, after the PUT the new state — at ANY commit index.

    Deltas are synthesized (the protocol under test is the metadata
    commit layer; encoding real blocks 200x would test the encoder's
    speed, not the log) and written through the same parquet-append +
    ``_commit_manifest`` calls ``write_blockstore`` makes.
    """
    from collections import defaultdict

    from parquet_python_spark.operators import fs as fs_mod

    monkeypatch.setattr(pl, "LINEAGE_FOLD_FILES", 8)
    store = str(tmp_path / "s")
    ldir = f"{store}/lineage"
    n_commits, parts_per_commit = 100, 100

    model = defaultdict(lambda: [0, 0, 0])  # part_key -> [n_rows, enc, hash]

    def delta_frame(k):
        rows = []
        for j in range(parts_per_commit):
            # 60% appends revisit an existing part (the combine path),
            # deterministic pseudo-randomness from (k, j)
            pk = ((k * 13 + j * 7) % 5000) if (k + j) % 5 < 3 else (
                k * parts_per_commit + j + 100_000)
            nr, eb = 10 + (k + j) % 90, 1000 + (k * j) % 5000
            rh = ((k + 1) * 2654435761 ^ (j + 1) * 40503) % (1 << 63)
            model[pk][0] += nr
            model[pk][1] += eb
            model[pk][2] ^= rh
            rows.append((pk, str(pk % 20), 0, 1, 2, eb * 8, eb, 1.0,
                         rh, ["plain"], nr, "complete"))
        return spark.createDataFrame(rows, schema=pl.LINEAGE_SCHEMA)

    class CrashBeforePut(fs_mod.LocalFS):
        def put_atomic(self, path, data):
            raise RuntimeError("crash before PUT")

    class CrashDuringGC(fs_mod.LocalFS):
        def delete(self, path):
            raise RuntimeError("crash during GC")

    def check_model():
        got = {r["part_key"]: (r["n_rows"], r["enc_bytes"], r["row_hash"])
               for r in pl.read_lineage(spark, store).collect()}
        assert len(got) == len(model)
        for pk, (nr, eb, rh) in model.items():
            assert got[pk] == (nr, eb, rh), f"part {pk} diverged"

    # inject a crash at the FIRST fold after each threshold commit index
    # (folds are where the commit point lives); both sides of the PUT
    crash_plan = [(30, CrashBeforePut), (65, CrashDuringGC)]
    crashes_fired = 0
    for k in range(n_commits):
        delta_frame(k).coalesce(1).write.mode("append").option(
            "compression", "none").parquet(ldir)
        spark.catalog.refreshByPath(ldir)
        if len(pl._live_delta_files(store)) > pl.LINEAGE_FOLD_FILES:
            if crash_plan and k >= crash_plan[0][0]:
                _, fs_cls = crash_plan.pop(0)
                fs_mod.register_fs(store, fs_cls())
                try:
                    with pytest.raises(RuntimeError, match="crash"):
                        pl._commit_manifest(spark, store,
                                            pl.read_lineage(spark, store))
                finally:
                    fs_mod.unregister_fs(store)
                crashes_fired += 1
                check_model()  # crash on either side never loses state
            pl._commit_manifest(spark, store, pl.read_lineage(spark, store))
        live = len(pl._live_delta_files(store))
        assert live <= pl.LINEAGE_FOLD_FILES + 1, f"commit {k}: {live} live"
        if k % 33 == 32:
            check_model()
    assert crashes_fired == 2
    check_model()
    assert len(model) > 5_000  # genuinely deep: >5k distinct parts
