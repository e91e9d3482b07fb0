"""Exactly-once / resume-from-checkpoint tests (SURVEY.md §5.3).

Reference semantics being reproduced: the read/committed offset split of
ReceiverOffset (messaging/.../ReceiverOffset.java:30-61) — at-least-once
delivery upstream, idempotent keyed apply downstream, committed manifests as
the resume point (MessageProcessor.doRun seek logic, :144-193).
"""

from __future__ import annotations

import collections
import glob
import os

from pyspark.sql import functions as F

from cdc_core_spark.engine import CdcEngine

from tests.conftest import assert_final_equal


def _replay_all(spark, t1, registry, root, **kw) -> CdcEngine:
    eng = CdcEngine(spark, root, registry, n_buckets=8, **kw)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)
    return eng


def test_rerun_epoch_is_noop(spark, t1, registry, tmp_path):
    """Re-applying an already-committed epoch leaves state unchanged
    (idempotent MERGE: winners carry the same version as target rows)."""
    eng = _replay_all(spark, t1, registry, str(tmp_path / "e"))
    before = eng.read_final_with_sha().toPandas()
    events = spark.read.parquet(f'{t1["dir"]}/change_events')
    eng.apply_epoch(events.filter(F.col("checkpoint_epoch") == 4), 4)  # force re-apply
    after = eng.read_final_with_sha().toPandas()
    assert_final_equal(after, before.rename(columns={}))


def test_resume_mid_run(spark, t1, registry, tmp_path):
    """Stop after 3 epochs ("kill"), resume with a fresh engine instance —
    identical final state, each epoch applied exactly once."""
    root = str(tmp_path / "e")
    eng1 = CdcEngine(spark, root, registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng1.replay(f'{t1["dir"]}/change_events', source_df=src, epochs=[0, 1, 2])

    eng2 = CdcEngine(spark, root, registry, n_buckets=8)  # fresh process analog
    eng2.replay(f'{t1["dir"]}/change_events')  # no source_df: must resume
    got = eng2.read_final_with_sha().toPandas()
    assert_final_equal(got, t1["expected"])
    # every data epoch committed exactly once
    mf = eng2.manifests_df().toPandas()
    per_epoch = mf[mf.checkpoint_epoch >= 0].groupby(
        ["checkpoint_epoch", "partition_id"]).size()
    assert (per_epoch == 1).all()


def test_crash_before_commit_is_invisible(spark, t1, registry, tmp_path):
    """Staged data files without a published snapshot (crash between write
    and the atomic log rename) must be ignored; re-running the epoch
    converges to the oracle state."""
    root = str(tmp_path / "e")
    eng = CdcEngine(spark, root, registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src, epochs=[0, 1])

    # simulate a crash: delete the last snapshot log entry but keep its files
    logs = sorted(glob.glob(os.path.join(root, "target", "_log", "v*.json")))
    os.remove(logs[-1])

    eng2 = CdcEngine(spark, root, registry, n_buckets=8)
    eng2.replay(f'{t1["dir"]}/change_events')  # re-applies epoch 1 + rest
    got = eng2.read_final_with_sha().toPandas()
    assert_final_equal(got, t1["expected"])


def test_delete_tombstone_blocks_late_duplicate(spark, registry, tmp_path):
    """A duplicate redelivery (next epoch) of an event older than a DELETE
    must NOT resurrect the row — the tombstone keeps the delete's version."""
    import pandas as pd
    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=4)
    src = spark.createDataFrame(
        [("r1", "a.py", "c0", "python", "body0")],
        "repo string, path string, commit string, lang string, content string")
    eng.initial_load(src, "1.0")
    ddl = ("op int, repo string, path string, commit string, lang string, "
           "language string, content string, size_bytes long, rev long, "
           "op_ts long, event_seq long, txid long, schema_version string, "
           "checkpoint_epoch int")
    upd = (4, "r1", "a.py", "c1", "python", None, "body1", None, 2, 100, 1, 1, "1.0", 0)
    dele = (5, "r1", "a.py", "c1", None, None, None, None, 3, 200, 2, 1, "1.0", 0)
    e0 = spark.createDataFrame([upd, dele], ddl)
    eng.apply_epoch(e0, 0)
    assert eng.read_final().count() == 0
    # epoch 1 redelivers the old UPDATE (same dedup key) — must stay deleted
    e1 = spark.createDataFrame([upd], ddl).withColumn("checkpoint_epoch", F.lit(1))
    eng.apply_epoch(e1, 1)
    assert eng.read_final().count() == 0
    # and a genuinely newer re-insert does resurrect it
    ins = (3, "r1", "a.py", "c2", "python", None, "body2", None, 4, 300, 3, 2, "1.0", 2)
    eng.apply_epoch(spark.createDataFrame([ins], ddl), 2)
    rows = eng.read_final().collect()
    assert len(rows) == 1 and rows[0]["content"] == "body2"


def test_group_commit_equivalence(spark, t1, registry, tmp_path):
    """Group-commit (every pending epoch in one job+snapshot, in-band DDL
    included) must be bit-identical to one epoch per job+snapshot, where
    each epoch arrives on its own through the standalone ``apply_epoch``
    (the streaming / flow / s3_events path): same converged rows, same
    per-(epoch, bucket) manifest values, same committed-epoch set — with
    ONE data commit and one live delta file per bucket."""
    evdir = f'{t1["dir"]}/change_events'
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    b = CdcEngine(spark, str(tmp_path / "b"), registry, n_buckets=8)
    b.replay(evdir, source_df=src)
    c = CdcEngine(spark, str(tmp_path / "c"), registry, n_buckets=8)
    c.initial_load(src)
    events = spark.read.parquet(evdir)
    epochs = sorted(int(p.rsplit("=", 1)[1]) for p in
                    glob.glob(os.path.join(evdir, "checkpoint_epoch=*")))
    for e in epochs:
        c.apply_epoch(events.filter(F.col("checkpoint_epoch") == e), e)

    cols = ["checkpoint_epoch", "partition_id", "events_read",
            "events_applied", "events_error", "max_op_ts", "max_event_seq"]
    mb = (b.manifests_df().toPandas()[cols]
          .sort_values(cols).reset_index(drop=True))
    got_b = b.read_final_with_sha().toPandas()
    assert_final_equal(got_b, t1["expected"])
    # full rows, every column, between the two paths — not only the CRC
    assert_final_equal(c.read_final_with_sha().toPandas(), got_b)
    mc = (c.manifests_df().toPandas()[cols]
          .sort_values(cols).reset_index(drop=True))
    assert mc.equals(mb)
    assert c.table.committed_epochs() == b.table.committed_epochs()
    assert len(b.table._snapshot_paths()) < len(c.table._snapshot_paths())
    # exactly one data commit for the whole replay, and so one live delta
    # file per bucket
    data_commits = sum(any(m["checkpoint_epoch"] >= 0 for m in
                           b.table._load_snapshot(p).manifests)
                       for p in b.table._snapshot_paths())
    assert data_commits == 1
    per_bucket = collections.Counter(
        f["bucket"] for f in b.table.latest().files if f.get("kind") == "delta")
    assert set(per_bucket) == set(range(8))
    assert set(per_bucket.values()) == {1}
    assert b.table.latest().props["schema_version"] == "2.1"

    # resume semantics: rerunning the grouped replay is a full no-op
    v_before = b.table.latest().version
    b.replay(f'{t1["dir"]}/change_events')
    assert b.table.latest().version == v_before


def test_group_commit_records_empty_epoch(spark, registry, t1, tmp_path):
    """An epoch with zero events inside a group must still be recorded as
    committed (zero marker manifest row), so resume stays a no-op."""
    from cdc_core_spark.registry import SchemaRegistry

    reg = SchemaRegistry.from_docs([{
        "entity": "source_repos", "major": 1, "minor": 0,
        "fields": [
            {"name": "repo", "type": "string", "nullable": False, "key": True},
            {"name": "path", "type": "string", "nullable": False, "key": True},
            {"name": "content", "type": "string", "nullable": True},
        ]}])
    ddl = ("op int, repo string, path string, content string, "
           "op_ts long, event_seq long, schema_version string, "
           "checkpoint_epoch int")
    rows = [(3, "r1", "pA", "c1", 10, 1, "1.0", 0),
            (4, "r1", "pA", "c2", 20, 2, "1.0", 2)]   # nothing in epoch 1
    evdir = str(tmp_path / "ev")
    (spark.createDataFrame(rows, ddl)
     .write.partitionBy("checkpoint_epoch").parquet(evdir))
    src = spark.createDataFrame([("r1", "p0", "c0")],
                                "repo string, path string, content string")
    eng = CdcEngine(spark, str(tmp_path / "s"), reg, n_buckets=4)
    # epoch 1 is named but has no partition/rows -> empty epoch in the group
    eng.replay(evdir, source_df=src, epochs=[0, 1, 2])
    assert eng.table.committed_epochs() == {0, 1, 2}
    v = eng.table.latest().version
    eng.replay(evdir, epochs=[0, 1, 2])   # resume: full no-op
    assert eng.table.latest().version == v
    assert {r["path"]: r["content"] for r in eng.read_final().collect()} == \
        {"p0": "c0", "pA": "c2"}


def test_crash_between_create_and_initial_data_commit(spark, t1, registry, tmp_path):
    """A crash after the schema-only v0 snapshot but before the initial data
    commit must NOT be mistaken for a loaded table on resume — replay() redoes
    the initial load (base rows would otherwise be silently lost)."""
    from cdc_core_spark.lake import SnapshotTable
    from cdc_core_spark import synth

    root = str(tmp_path / "e")
    docs = synth.registry_docs()[0]
    # simulate the crash: only the v0 snapshot exists, no data commit
    SnapshotTable.create(root + "/target", fields=docs["fields"],
                         key_cols=["repo", "path"], n_buckets=8,
                         props={"schema_version": "1.0"})
    eng = CdcEngine(spark, root, registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)
    assert_final_equal(eng.read_final_with_sha().toPandas(), t1["expected"])
    # and a COMPLETE table refuses a second initial_load
    import pytest
    with pytest.raises(FileExistsError):
        eng.initial_load(src)


def test_crash_rerun_initial_load_syncs_bucket_count(spark, t1, registry, tmp_path):
    """Crash-rerun initial_load with a DIFFERENT constructor n_buckets than
    the half-created table's snapshot: the engine must resync to the
    snapshot's count before computing _bucket, or base rows get hashed with
    one count and committed against the other (mis-bucketed → point lookups
    and merges read the wrong file group)."""
    from cdc_core_spark.lake import SnapshotTable
    from cdc_core_spark import synth

    root = str(tmp_path / "e")
    docs = synth.registry_docs()[0]
    SnapshotTable.create(root + "/target", fields=docs["fields"],
                         key_cols=["repo", "path"], n_buckets=8,
                         props={"schema_version": "1.0"})
    # fresh engine constructed with a stale/mismatched bucket count
    eng = CdcEngine(spark, root, registry, n_buckets=3)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.initial_load(src, "1.0")
    assert eng.n_buckets == 8
    # every row must live in the file group its key hashes to under the
    # SNAPSHOT's count (bucket id rides the file metadata, not a column)
    from cdc_core_spark.lake import bucket_expr
    total = 0
    for b in range(8):
        part = eng.table.read(spark, buckets=[b])
        bad = part.filter(bucket_expr(["repo", "path"], 8) != F.lit(b)).count()
        assert bad == 0
        total += part.count()
    assert total == src.count()


def test_committed_epochs_cached_one_log_read_per_run(spark, t1, registry, tmp_path):
    """The streaming exactly-once skip calls committed_epochs() once per
    microbatch; the snapshot log must be parsed ONCE per run, with our own
    commits folded in incrementally (counting stub on the JSON-read choke
    point), and an external writer's snapshot must invalidate the cache."""
    eng = _replay_all(spark, t1, registry, str(tmp_path / "e"))
    table = eng.table
    calls = {"n": 0}
    orig = type(table)._load_snapshot_doc

    def counting(self, path):
        calls["n"] += 1
        return orig(self, path)

    table._epochs_cache = None  # cold start (replay itself warmed it)
    type(table)._load_snapshot_doc = counting
    try:
        first = table.committed_epochs()
        n_after_first = calls["n"]
        assert n_after_first > 0
        for _ in range(50):  # 50 "microbatches"
            assert table.committed_epochs() == first
        assert calls["n"] == n_after_first  # zero re-reads on the hot path
        # our own commit folds in incrementally — still no re-read
        eng.compact()
        assert table.committed_epochs() == first
        assert calls["n"] == n_after_first
        # external writer (second handle on the same log) → invalidate
        from cdc_core_spark.lake import SnapshotTable
        other = SnapshotTable(table.root)
        other.commit_metadata(table.latest().fields, table.latest().aliases,
                              props={"external": True})
        assert table.committed_epochs() == first
        assert calls["n"] > n_after_first
    finally:
        type(table)._load_snapshot_doc = orig
