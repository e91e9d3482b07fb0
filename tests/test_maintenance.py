"""Table maintenance: tombstone expiry + compaction keep visible state intact."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from cdc_core_spark.engine import CdcEngine

from tests.conftest import assert_final_equal


def test_expire_and_compact_preserve_state(spark, t1, registry, tmp_path):
    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)

    internal = eng.table.read(spark, with_internal_cols=True)
    n_tomb = internal.filter("_deleted").count()
    assert n_tomb > 0  # the fixture deletes ~15% of keys

    max_ts = internal.agg(F.max("_op_ts")).collect()[0][0]
    eng.expire_tombstones(watermark_op_ts=max_ts + 1)
    after = eng.table.read(spark, with_internal_cols=True)
    assert after.filter("_deleted").count() == 0
    assert_final_equal(eng.read_final_with_sha().toPandas(), t1["expected"])

    n_files_before = len(eng.table.latest().files)
    eng.compact()
    assert_final_equal(eng.read_final_with_sha().toPandas(), t1["expected"])
    # compaction leaves exactly one file group (current schema) per bucket
    snap = eng.table.latest()
    assert len({f["schema_id"] for f in snap.files}) == 1
    assert len(snap.files) <= max(n_files_before, 8)


def test_old_snapshots_remain_readable(spark, t1, registry, tmp_path):
    """Time travel: every published snapshot stays readable (files are never
    deleted by commits — the snapshot log is an immutable chain)."""
    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src, epochs=[0, 1])
    import json
    logs = sorted(glob.glob(os.path.join(str(tmp_path / "e"), "target", "_log", "v*.json")))
    with open(logs[1]) as f:  # snapshot after initial load
        from cdc_core_spark.lake import Snapshot
        snap0 = Snapshot(**json.load(f))
    rows_then = eng.table.read(spark, snap=snap0).count()
    assert rows_then == src.count()  # initial-load state still reconstructable


def test_rebucket_preserves_state_and_future_epochs(spark, t1, registry, tmp_path):
    """compact(n_buckets=N) re-buckets the table in one atomic commit: state
    is invariant, the snapshot owns the new count, and a FRESH engine
    instance constructed with a stale count resyncs and replays further
    epochs correctly under the new bucketing."""
    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    # replay all but the last two epochs, then re-bucket mid-stream
    eng.replay(f'{t1["dir"]}/change_events', source_df=src,
               epochs=list(range(6)))
    eng.compact(n_buckets=13)
    assert eng.table.latest().n_buckets == 13
    assert {f["bucket"] for f in eng.table.latest().files} <= set(range(13))

    # a new engine with the OLD count must pick 13 up from the snapshot
    eng2 = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    eng2.replay(f'{t1["dir"]}/change_events')
    assert eng2.n_buckets == 13
    assert_final_equal(eng2.read_final_with_sha().toPandas(), t1["expected"])


def test_manifest_list_splits_out_of_snapshot(spark, tmp_path):
    """Above inline_files_max the snapshot JSON stores a sidecar ref instead
    of the inline file list (Iceberg manifest-list shape); reads, carries,
    and lineage are unaffected."""
    import json

    from cdc_core_spark.lake import SnapshotTable, bucket_expr

    fields = [{"name": "k", "type": "string", "nullable": False, "key": True},
              {"name": "v", "type": "long", "nullable": True}]
    t = SnapshotTable.create(str(tmp_path / "t"), fields, ["k"], n_buckets=4)
    t.inline_files_max = 3
    for i in range(3):
        df = (spark.createDataFrame([(f"k{j}", i * 10 + j) for j in range(8)],
                                    "k string, v long")
              .withColumn("_op_ts", F.lit(i).cast("bigint"))
              .withColumn("_event_seq", F.lit(i).cast("bigint"))
              .withColumn("_deleted", F.lit(False))
              .withColumn("_bucket", bucket_expr(["k"], 4)))
        t.commit_delta(df, epoch=i, manifests=[
            {"checkpoint_epoch": i, "partition_id": 0, "events_read": 8,
             "events_applied": 8, "events_error": 0, "max_op_ts": i,
             "max_event_seq": i, "wall_ms": 0}])
    snap = t.latest()
    assert len(snap.files) > 3
    raw = json.load(open(sorted(glob.glob(
        os.path.join(t.log_dir, "v*.json")))[-1]))
    assert isinstance(raw["files"], dict) and raw["files"]["n"] == len(snap.files)
    assert os.path.exists(os.path.join(t.log_dir, raw["files"]["ref"]))
    # LWW fold over the resolved file list: epoch-2 values win
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {f"k{j}": 20 + j for j in range(8)}
    assert t.committed_epochs() == {0, 1, 2}
    assert len(t.all_manifests()) == 3


def test_time_travel_accessor_and_history(spark, t1, registry, tmp_path):
    """snapshot(v) + history(): versions chain by parent, reads at an old
    version reconstruct that state, unknown versions raise."""
    import pytest

    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src, epochs=[0, 1])
    t = eng.table

    hist = t.history()
    assert [h["version"] for h in hist] == list(range(len(hist)))
    assert all(h["parent"] == h["version"] - 1 for h in hist[1:])
    # time travel to the initial-load commit reconstructs the source rows
    assert t.read(spark, snap=t.snapshot(1)).count() == src.count()
    assert t.snapshot(t.latest().version).files == t.latest().files
    with pytest.raises(FileNotFoundError, match="never published"):
        t.snapshot(999)


def test_read_changes_rebuilds_state_incrementally(spark, t1, registry, tmp_path):
    """CDC-out invariant: state(base) + LWW-fold(read_changes(base→latest))
    == state(latest). The changelog alone carries every upsert/delete the
    epochs applied — downstream pipelines never re-scan the table."""
    from cdc_core_spark.lww import lww_reduce

    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src, epochs=[0, 1, 2])
    t = eng.table
    base_v = t.latest().version
    eng.replay(f'{t1["dir"]}/change_events', epochs=[3, 4, 5, 6, 7])

    changes = t.read_changes(spark, base_v)
    assert set(changes.select("_change_op").distinct().toPandas()["_change_op"]) \
        <= {"upsert", "delete"}
    assert changes.filter(F.col("_change_version") <= base_v).count() == 0

    snap = t.latest()
    payload = [c for c in snap.field_names() if c not in snap.key_cols]
    # the base predates the in-band RENAME/WIDEN DDL epochs — project it
    # onto the latest logical schema (alias map) before folding, exactly
    # what a downstream consumer of the changelog does
    from cdc_core_spark.lake import _normalize
    base = _normalize(
        t.read(spark, snap=t.snapshot(base_v), with_internal_cols=True),
        snap.fields, snap.aliases)
    folded = (lww_reduce(
        base.unionByName(changes.drop("_change_version", "_change_op")),
        snap.key_cols, payload + ["_deleted"])
        .filter(~F.col("_deleted")).select(*snap.field_names()))
    latest = t.read(spark)
    assert folded.exceptAll(latest).count() == 0
    assert latest.exceptAll(folded).count() == 0

    # compaction is a physical rewrite: contributes no changelog rows,
    # and strict mode refuses to scan across it (the Iceberg rule)
    import pytest
    v_pre = t.latest().version
    eng.compact()
    assert t.read_changes(spark, v_pre).count() == 0
    with pytest.raises(ValueError, match="rewrites files"):
        t.read_changes(spark, v_pre, strict=True)


def test_read_changes_raises_on_logical_rewrite(spark, t1, registry, tmp_path):
    """A logical copy-on-write commit — an epoch committed by rewriting its
    buckets, as older copy-on-write builds applied epochs — folds its
    changes into rewritten base files, so silently skipping it would lose
    data for every CDC-out consumer. Default raises with remediation;
    on_logical_rewrite='skip' is the explicit opt-out; a pure-maintenance
    rewrite (compact) still skips silently."""
    import pytest

    from cdc_core_spark.lake import ChangelogCursor
    from tests.conftest import as_older_logical_rewrite

    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src, epochs=[0, 1])
    t = eng.table
    base_v = t.latest().version
    # rewrite EVERY bucket under epoch 2, so the commit genuinely removes
    # files (a merge that only adds files stays incrementally readable)
    t.compact(spark)
    assert t.read_changes(spark, base_v).count() == 0
    as_older_logical_rewrite(t, epoch=2, manifests=[
        {"checkpoint_epoch": 2, "partition_id": 0}])

    with pytest.raises(ValueError, match="LOGICAL rewrite"):
        t.read_changes(spark, base_v)
    cur = ChangelogCursor(t, from_version=base_v)
    with pytest.raises(ValueError, match="LOGICAL rewrite"):
        cur.poll(spark)
    # explicit opt-out skips (consumer re-reads full state across it)
    assert t.read_changes(spark, base_v,
                          on_logical_rewrite="skip").count() == 0
    assert ChangelogCursor(t, from_version=base_v,
                           on_logical_rewrite="skip").poll(spark) is not None
    # the maintenance flag, not an epoch, marks a rewrite logical: an
    # epoch-less copy-on-write commit (an older build's rollup refresh)
    # raises the same way
    mid_v = t.latest().version
    t.compact(spark)
    as_older_logical_rewrite(t)
    with pytest.raises(ValueError, match="LOGICAL rewrite"):
        t.read_changes(spark, mid_v)


def test_expire_snapshots_frees_files_keeps_ledger(spark, t1, registry, tmp_path):
    """expire_snapshots physically removes files only old snapshots
    reference, while visible state, committed epochs (exactly-once resume)
    and lineage manifests all survive — even for a FRESH handle that never
    saw the expired snapshots."""
    import pytest

    from cdc_core_spark.lake import SnapshotTable

    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)
    t = eng.table
    epochs_before = t.committed_epochs()
    manifests_before = len(t.all_manifests())
    eng.compact()  # strands pre-compaction base+delta files in old snapshots

    n_disk_before = len(glob.glob(os.path.join(t.data_dir, "**", "*.parquet"),
                                  recursive=True))
    stats = t.expire_snapshots(keep_last=1)
    assert stats["snapshots_removed"] > 0 and stats["files_removed"] > 0
    n_disk_after = len(glob.glob(os.path.join(t.data_dir, "**", "*.parquet"),
                                 recursive=True))
    assert n_disk_after == n_disk_before - stats["files_removed"]

    assert_final_equal(eng.read_final_with_sha().toPandas(), t1["expected"])
    with pytest.raises(FileNotFoundError, match="expired"):
        t.snapshot(0)
    # the ledger survives retention — including for a fresh handle
    fresh = SnapshotTable(t.root)
    assert fresh.committed_epochs() == epochs_before
    assert len(fresh.all_manifests()) == manifests_before
    # idempotent rerun: nothing further to remove
    assert t.expire_snapshots(keep_last=1) == \
        {"snapshots_removed": 0, "files_removed": 0}


def test_remove_orphan_files(spark, t1, registry, tmp_path):
    """Crash debris (staged-but-never-published files) is swept; referenced
    files and files younger than the grace window are kept."""
    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src, epochs=[0, 1])
    t = eng.table

    junk_dir = os.path.join(t.data_dir, "commit-deadbeef")
    os.makedirs(junk_dir)
    junk = os.path.join(junk_dir, "part-00000.parquet")
    with open(junk, "w") as f:
        f.write("crashed stage")

    assert t.remove_orphan_files(grace_s=3600) == []  # inside grace window
    listed = t.remove_orphan_files(grace_s=0, dry_run=True)
    assert listed == [os.path.relpath(junk, t.root)]
    assert os.path.exists(junk)  # dry run touches nothing
    removed = t.remove_orphan_files(grace_s=0)
    assert removed == listed and not os.path.exists(junk)
    assert not os.path.exists(junk_dir)  # empty staging dir swept too
    # every referenced file is intact: a full read still works
    assert t.read(spark).count() > 0


def test_incremental_compact_rewrites_only_deep_buckets(spark, t1, registry, tmp_path):
    """compact(min_delta_files=K) selects buckets from snapshot METADATA
    (delta-file counts — no data scan) and rewrites only those; every other
    bucket's files are carried forward byte-identical, and state is
    invariant."""
    from cdc_core_spark.lake import bucket_expr

    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)
    eng.compact()  # base-only starting point: zero delta layers

    # craft ONE delta touching a single bucket: re-assert an existing row
    # with a bumped version (same content → final state unchanged)
    t = eng.table
    snap = t.latest()
    one = (t.read(spark, with_internal_cols=True).limit(1)
           .withColumn("_op_ts", F.col("_op_ts") + 1)
           .withColumn("_bucket", bucket_expr(snap.key_cols, snap.n_buckets)))
    t.commit_delta(one, epoch=None, manifests=[])
    hot = {f["bucket"] for f in t.latest().files if f.get("kind") == "delta"}
    assert len(hot) == 1
    cold_before = {f["path"] for f in t.latest().files
                   if f["bucket"] not in hot}

    v = t.latest().version
    eng.compact(min_delta_files=2)  # below threshold → metadata-only no-op
    assert t.latest().version == v

    eng.compact(min_delta_files=1)
    after = t.latest()
    assert after.version == v + 1
    assert not any(f.get("kind") == "delta" for f in after.files)
    cold_after = {f["path"] for f in after.files if f["bucket"] not in hot}
    assert cold_after == cold_before  # untouched buckets carried by reference
    assert_final_equal(eng.read_final_with_sha().toPandas(), t1["expected"])


def test_expire_tombstones_prunes_to_tombstone_buckets(spark, t1, registry, tmp_path):
    """expire_tombstones rewrites only buckets holding expirable tombstones;
    tombstone-free buckets keep their exact files."""
    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)
    eng.compact()
    t = eng.table
    internal = t.read(spark, with_internal_cols=True)
    max_ts = internal.agg(F.max("_op_ts")).collect()[0][0]

    from cdc_core_spark.lake import bucket_expr
    tomb_buckets = {r["b"] for r in internal.filter("_deleted").select(
        bucket_expr(t.latest().key_cols, 8).alias("b")).distinct().collect()}
    cold_before = {f["path"] for f in t.latest().files
                   if f["bucket"] not in tomb_buckets}
    assert cold_before or len(tomb_buckets) == 8  # fixture-dependent guard

    eng.expire_tombstones(watermark_op_ts=max_ts + 1)
    after = t.latest()
    assert t.read(spark, with_internal_cols=True).filter("_deleted").count() == 0
    cold_after = {f["path"] for f in after.files
                  if f["bucket"] not in tomb_buckets}
    assert cold_after == cold_before
    assert_final_equal(eng.read_final_with_sha().toPandas(), t1["expected"])

    v = after.version
    eng.expire_tombstones(watermark_op_ts=max_ts + 1)  # nothing left → no-op
    assert t.latest().version == v


def test_changelog_cursor_tails_new_commits(spark, t1, registry, tmp_path):
    """ChangelogCursor delivers each committed change exactly once: poll
    after new epochs returns just their rows, an idle poll returns None,
    and a compaction-only window returns an empty frame (no re-delivery)."""
    from cdc_core_spark.lake import ChangelogCursor

    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src, epochs=[0, 1])
    cur = ChangelogCursor(eng.table)

    assert cur.poll(spark) is None  # nothing new yet

    eng.replay(f'{t1["dir"]}/change_events', epochs=[2, 3])
    batch = cur.poll(spark)
    assert batch is not None and batch.count() > 0
    assert cur.version == eng.table.latest().version
    assert cur.poll(spark) is None  # delivered exactly once

    eng.compact()  # rewrite-only window
    batch = cur.poll(spark)
    assert batch is not None and batch.count() == 0  # advances, empty
    assert cur.poll(spark) is None


def test_block_deltas_lifecycle(spark, t1, registry, tmp_path):
    """block_deltas (BlockTransactionDelta analog): every file ever
    referenced gets one lifecycle row; live files are exactly the newest
    snapshot's; files dropped by compaction carry the compacting version."""
    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)
    pre_compact_files = {f["path"] for f in eng.table.latest().files}
    eng.compact()

    rows = eng.table.block_deltas()
    assert len(rows) == len({r["path"] for r in rows})  # one row per file
    live = {r["path"] for r in rows if not r["deleted"]}
    assert live == {f["path"] for f in eng.table.latest().files}
    # deleted rows carry the removing version; live rows carry none
    compact_v = eng.table.latest().version
    dropped = [r for r in rows if r["path"] in pre_compact_files
               and r["deleted"]]
    assert dropped and all(r["removed_version"] == compact_v for r in dropped)
    for r in rows:
        assert (r["removed_version"] is None) == (not r["deleted"])
        assert r["kind"] in ("base", "delta")
    # delta files record the epoch (tnx) that produced them
    assert any(r["kind"] == "delta" and r["tnx_epoch"] is not None
               for r in rows)


def test_changelog_cursor_ack_mode_redelivers_until_ack(
        spark, t1, registry, tmp_path):
    """auto_ack=False: the window is re-delivered until ack() — a consumer
    that crashes before committing its output re-polls the same changes
    (at-least-once), and process-then-ack composes to exactly-once."""
    from cdc_core_spark.lake import ChangelogCursor

    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src, epochs=[0, 1])
    cur = ChangelogCursor(eng.table, auto_ack=False)

    eng.replay(f'{t1["dir"]}/change_events', epochs=[2])
    b1 = cur.poll(spark)
    n1 = b1.count()
    assert n1 > 0
    b2 = cur.poll(spark)           # consumer "crashed": same window again
    assert b2 is not None and b2.count() == n1
    cur.ack()                      # downstream effect durable → commit
    assert cur.poll(spark) is None
    cur.ack()                      # idle ack is a no-op
    assert cur.poll(spark) is None


def test_expire_snapshots_crash_rerun_keeps_manifests_unique(
        spark, t1, registry, tmp_path):
    """Crash-rerun idempotency of retention: a crash AFTER the ledger
    rename but BEFORE the expired snapshot docs are deleted must not
    double-count manifests on rerun (epochs are a set; manifest rows dedupe
    on their (epoch, partition) key)."""
    import shutil

    from cdc_core_spark.lake import SnapshotTable

    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)
    t = eng.table
    eng.compact()
    want = sorted((m["checkpoint_epoch"], m["partition_id"])
                  for m in t.all_manifests())

    backup = str(tmp_path / "log_backup")
    shutil.copytree(t.log_dir, backup)
    t.expire_snapshots(keep_last=1)
    # crash simulation: the ledger (expired-base.json) survives as written,
    # but the snapshot docs + sidecars the completed run deleted come back
    for fn in os.listdir(backup):
        dst = os.path.join(t.log_dir, fn)
        if not os.path.exists(dst):
            shutil.copy(os.path.join(backup, fn), dst)

    fresh = SnapshotTable(t.root)   # rerun after the "crash"
    fresh.expire_snapshots(keep_last=1)
    got = sorted((m["checkpoint_epoch"], m["partition_id"])
                 for m in fresh.all_manifests())
    assert got == want              # no duplicates, nothing lost
    assert fresh.committed_epochs() == t.committed_epochs()


def test_expire_sweeps_orphaned_sidecars_and_never_dangles_refs(
        spark, t1, registry, tmp_path):
    """Deletion order inside expire_snapshots is doc-then-sidecar: a crash
    between the two leaves an unreferenced sidecar (harmless, swept by the
    next expire), never a live doc whose manifest-list file is gone (which
    would wedge every metadata walk). Simulate the crash debris directly."""
    import json as _json

    from cdc_core_spark.lake import SnapshotTable

    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)
    t = eng.table

    # crash debris: a sidecar whose snapshot doc no longer exists
    stray = os.path.join(t.log_dir, "v000000000099-files.json")
    with open(stray, "w") as f:
        _json.dump([], f)

    # every metadata walk must shrug the orphan off ...
    t2 = SnapshotTable(t.root)
    t2.read(spark).count()
    t2.block_deltas()
    t2.remove_orphan_files(grace_s=0, dry_run=True)
    # ... and retention sweeps it
    t2.expire_snapshots(keep_last=1)
    assert not os.path.exists(stray)
    # retained snapshots' sidecars (if any) still resolve
    for p in t2._snapshot_paths():
        t2._doc_files(t2._load_snapshot_doc(p))

    # the crash-rerun shape specifically: debris exists but there is
    # NOTHING left to expire — the sweep must run before the no-work
    # early return, or the orphan leaks forever
    with open(stray, "w") as f:
        _json.dump([], f)
    out = t2.expire_snapshots(keep_last=1)
    assert out["snapshots_removed"] == 0
    assert not os.path.exists(stray)


def test_engine_state_codec_pinned_per_write(spark, tmp_path):
    """Engine-owned state files are zstd regardless of the SESSION's parquet
    codec: the contractual invocation mode is spark-submit with a
    caller-built SparkSession (whose codec default is snappy), so the codec
    must ride the write itself (fsutil.parquet_codec), not the session conf
    — otherwise every spark-submit user silently pays 1.85x the state bytes
    the bench numbers were measured at."""
    import pyarrow.parquet as pq

    from cdc_core_spark.lake import SnapshotTable, bucket_expr

    fields = [{"name": "k", "type": "string", "nullable": False, "key": True},
              {"name": "v", "type": "long", "nullable": True}]
    t = SnapshotTable.create(str(tmp_path / "t"), fields, ["k"], n_buckets=2)
    old = spark.conf.get("spark.sql.parquet.compression.codec")
    spark.conf.set("spark.sql.parquet.compression.codec", "snappy")
    try:
        df = (spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
              .withColumn("_op_ts", F.lit(0).cast("bigint"))
              .withColumn("_event_seq", F.lit(0).cast("bigint"))
              .withColumn("_deleted", F.lit(False))
              .withColumn("_bucket", bucket_expr(["k"], 2)))
        t.commit_delta(df, epoch=0, manifests=[])
    finally:
        spark.conf.set("spark.sql.parquet.compression.codec", old)
    snap = t.latest()
    assert snap.files
    for f in snap.files:
        md = pq.ParquetFile(os.path.join(t.root, f["path"])).metadata
        codecs = {md.row_group(rg).column(0).compression
                  for rg in range(md.num_row_groups)}
        assert codecs == {"ZSTD"}, (f["path"], codecs)


def test_engine_zstd_level_rides_the_write(spark, tmp_path, monkeypatch):
    """The zstd LEVEL (not just the codec) must reach the engine write path
    as a per-write option: parquet footers don't record the level, so prove
    it behaviorally — the same commit under CDC_PARQUET_ZSTD_LEVEL=19 must
    produce measurably fewer state bytes than under level 1 on compressible
    rows. If the option silently stopped propagating to the write job's
    Hadoop conf, both runs would compress at parquet-mr's default and the
    sizes would be identical."""
    from cdc_core_spark import fsutil
    from cdc_core_spark.lake import SnapshotTable, bucket_expr

    import random
    rng = random.Random(7)
    vocab = [f"tok{v}" for v in range(500)]
    rows = [(f"k{i}", " ".join(rng.choice(vocab) for _ in range(60)))
            for i in range(2000)]

    def state_bytes(level: str) -> int:
        monkeypatch.setenv("CDC_PARQUET_ZSTD_LEVEL", level)
        assert fsutil.parquet_write_options()[
            "parquet.compression.codec.zstd.level"] == level
        fields = [{"name": "k", "type": "string", "nullable": False,
                   "key": True},
                  {"name": "v", "type": "string", "nullable": True}]
        t = SnapshotTable.create(str(tmp_path / f"lvl{level}"), fields,
                                 ["k"], n_buckets=1)
        df = (spark.createDataFrame(rows, "k string, v string")
              .coalesce(1)
              .withColumn("_op_ts", F.lit(0).cast("bigint"))
              .withColumn("_event_seq", F.lit(0).cast("bigint"))
              .withColumn("_deleted", F.lit(False))
              .withColumn("_bucket", bucket_expr(["k"], 1)))
        t.commit_delta(df, epoch=0, manifests=[])
        snap = t.latest()
        return sum(os.path.getsize(os.path.join(t.root, f["path"]))
                   for f in snap.files)

    b1, b19 = state_bytes("1"), state_bytes("19")
    assert b19 < b1 * 0.97, (b1, b19)
