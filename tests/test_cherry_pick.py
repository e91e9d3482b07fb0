"""cherry_pick(): apply one append commit's delta onto the current head.

The Iceberg ``cherrypick_snapshot`` analog — the WAP publish path once main
has MOVED past the branch fork (``fast_forward`` / ``publish_branch`` both
require main at the fork). Reference analog: the staged-batch re-apply in
the processing loop after validation
(mapping/.../pipeline/PersistencePipeline.java:95-117), lifted to a
metadata-only snapshot operation. Rules pinned here:

* pickable = pure MOR delta APPEND (no removed files, no base files, not a
  rollback commit) — Iceberg's appends-only limit;
* metadata-only: no data files are copied (branch data is shared under the
  table root);
* exactly-once: the picked commit carries the source's epochs + manifests
  onto this ref's ledger; a duplicate epoch raises (Iceberg's
  duplicate-WAP-commit rule), INCLUDING an epoch a rollback undid — redo
  goes through a new epoch, never an old id;
* additive, so a concurrent commit rebases automatically; re-bucket /
  key-change / already-live files raise.
"""

from __future__ import annotations

import pytest

from cdc_core_spark.lake import CommitConflictError, SnapshotTable

from tests.test_occ import _commit, _delta_df, _mk, _state


def test_wap_publish_onto_moved_main(spark, tmp_path):
    """The headline scenario: audit on a branch while main keeps moving;
    fast_forward and publish_branch both refuse, cherry_pick lands it."""
    t = _mk(tmp_path)
    _commit(spark, t, [(1, 10, False), (2, 20, False)], 100, epoch=0)  # v1
    br = t.create_branch("wap")
    _commit(spark, br, [(1, 11, False), (3, 30, False)], 200, epoch=1)  # br v2
    _commit(spark, t, [(4, 40, False)], 300, epoch=2)     # main moved: v2

    with pytest.raises(CommitConflictError):
        t.fast_forward("wap")
    with pytest.raises(CommitConflictError):
        t.publish_branch("wap")

    snap = t.cherry_pick(2, from_branch="wap")
    assert snap.version == 3 and snap.parent == 2 and snap.epoch == 1
    assert _state(spark, t) == {1: 11, 2: 20, 3: 30, 4: 40}
    assert t.committed_epochs() == {0, 1, 2}              # ledger carried
    # manifests rode along (per-epoch lineage stays queryable on main)
    assert any(m["checkpoint_epoch"] == 1
               for m in t.snapshot(3).manifests)
    t.drop_branch("wap")
    assert _state(spark, t) == {1: 11, 2: 20, 3: 30, 4: 40}


def test_duplicate_pick_raises(spark, tmp_path):
    t = _mk(tmp_path)
    _commit(spark, t, [(1, 10, False)], 100, epoch=0)
    br = t.create_branch("wap")
    _commit(spark, br, [(2, 20, False)], 200, epoch=1)
    _commit(spark, t, [(3, 30, False)], 300, epoch=2)

    t.cherry_pick(2, from_branch="wap")
    with pytest.raises(CommitConflictError, match="already"):
        t.cherry_pick(2, from_branch="wap")               # epoch-ledger dup
    # an epoch-LESS branch commit dedupes structurally (live file paths)
    br2 = t.create_branch("anon")
    br2.commit_delta(_delta_df(spark, [(5, 50, False)], 400),
                     epoch=None, manifests=[])
    t.cherry_pick(br2.latest().version, from_branch="anon")
    with pytest.raises(CommitConflictError, match="already live"):
        t.cherry_pick(br2.latest().version, from_branch="anon")
    assert _state(spark, t) == {1: 10, 2: 20, 3: 30, 5: 50}


def test_only_pure_delta_appends_pick(spark, tmp_path):
    t = _mk(tmp_path)
    _commit(spark, t, [(1, 10, False), (2, 20, False)], 100, epoch=0)  # v1
    _commit(spark, t, [(1, 11, False)], 200, epoch=1)     # v2
    t.compact(spark)                                      # v3: rewrite
    t.rollback(2)                                         # v4

    with pytest.raises(ValueError, match="remove"):
        t.cherry_pick(3)                                  # compaction
    with pytest.raises(ValueError, match="rollback commit"):
        t.cherry_pick(4)
    # a BASE-file append (CoW merge into an empty table: adds base files,
    # removes none) is structurally an append but must not pick: base
    # files bypass the LWW fold once the target has no deltas
    t2 = _mk(tmp_path / "cow")
    t2.commit_merge(_delta_df(spark, [(9, 90, False)], 300),
                    touched_buckets=list(range(4)), manifests=[])
    assert all(f.get("kind", "base") == "base" for f in t2.latest().files)
    with pytest.raises(ValueError, match="non-delta"):
        t2.cherry_pick(1)


def test_undone_epoch_cannot_be_repicked(spark, tmp_path):
    """rollback leaves the epoch on the append-only ledger, so re-picking
    the undone commit raises — redo must arrive as a NEW epoch."""
    t = _mk(tmp_path)
    _commit(spark, t, [(1, 10, False)], 100, epoch=0)     # v1
    _commit(spark, t, [(2, 20, False)], 200, epoch=1)     # v2
    t.rollback(1)                                         # v3

    with pytest.raises(CommitConflictError, match="NEW epoch"):
        t.cherry_pick(2)
    _commit(spark, t, [(2, 20, False)], 200, epoch=2)     # the redo path
    assert _state(spark, t) == {1: 10, 2: 20}


def test_rebases_over_concurrent_commit(spark, tmp_path, monkeypatch):
    """Additive like commit_delta: a commit landing between the head read
    and the publish rebases instead of raising."""
    t = _mk(tmp_path)
    _commit(spark, t, [(1, 10, False)], 100, epoch=0)     # v1
    br = t.create_branch("wap")
    _commit(spark, br, [(2, 20, False)], 200, epoch=1)    # br v2
    _commit(spark, t, [(3, 30, False)], 300, epoch=2)     # main v2

    stale = t.latest()                                    # pin pre-race head…
    t2 = SnapshotTable(str(tmp_path))
    _commit(spark, t2, [(4, 40, False)], 400, epoch=3)    # …interloper: v3
    # first latest() (the head read) sees the pre-race head; the OCC retry's
    # reload sees the true head — exactly the lost-CAS interleaving
    real, calls = t.latest, iter([stale])
    monkeypatch.setattr(t, "latest", lambda: next(calls, None) or real())
    snap = t.cherry_pick(2, from_branch="wap")
    assert snap.version == 4 and snap.parent == 3         # rebased, not lost
    assert _state(spark, t2) == {1: 10, 2: 20, 3: 30, 4: 40}
    assert t2.committed_epochs() == {0, 1, 2, 3}


def test_rebucket_blocks_pick(spark, tmp_path):
    t = _mk(tmp_path)
    _commit(spark, t, [(k, k * 10, False) for k in range(8)], 100, epoch=0)
    br = t.create_branch("wap")
    _commit(spark, br, [(9, 90, False)], 200, epoch=1)
    t.compact(spark, n_buckets=8)                         # main re-buckets

    with pytest.raises(CommitConflictError, match="re-bucket"):
        t.cherry_pick(2, from_branch="wap")


def test_picked_files_read_through_schema_evolution(spark, tmp_path):
    """Branch delta written under the OLD schema picks onto a main that has
    since added a column — normal evolution path, added column → null."""
    t = _mk(tmp_path)
    _commit(spark, t, [(1, 10, False)], 100, epoch=0)     # v1
    br = t.create_branch("wap")
    _commit(spark, br, [(2, 20, False)], 200, epoch=1)    # br v2, old schema
    t.commit_metadata(
        new_fields=t.latest().fields + [{"name": "w", "type": "long"}],
        new_aliases=t.latest().aliases)                   # main v2: ADD w

    t.cherry_pick(2, from_branch="wap")
    rows = {r["k"]: (r["v"], r["w"]) for r in t.read(spark).collect()}
    assert rows == {1: (10, None), 2: (20, None)}


def test_missing_source_files_raise_not_corrupt(spark, tmp_path):
    """Picking a commit whose data files are gone from disk (expired /
    orphan-collected) must fail loudly BEFORE publishing, never produce a
    snapshot referencing missing data."""
    import os

    t = _mk(tmp_path)
    _commit(spark, t, [(1, 10, False)], 100, epoch=0)     # v1
    br = t.create_branch("wap")
    _commit(spark, br, [(2, 20, False)], 200, epoch=1)    # br v2
    parent_paths = {f["path"] for f in t.snapshot(1).files}
    for f in br.latest().files:
        if f["path"] not in parent_paths:
            os.remove(os.path.join(str(tmp_path), f["path"]))

    head = t.latest().version
    with pytest.raises(FileNotFoundError, match="no longer exist"):
        t.cherry_pick(2, from_branch="wap")
    assert t.latest().version == head                     # nothing published


def test_metadata_commit_is_not_pickable(spark, tmp_path):
    """A commit that changed table metadata (schema / aliases / props) must
    raise, even when it carries an epoch id: publishing would put the epoch
    on the exactly-once ledger while silently DROPPING the DDL — a resumed
    replay then skips the epoch and the schema change is lost permanently.
    Iceberg's cherrypick_snapshot likewise rejects non-append operations."""
    t = _mk(tmp_path)
    _commit(spark, t, [(1, 10, False)], 100, epoch=0)     # v1
    br = t.create_branch("wap")
    new_fields = br.latest().fields + [{"name": "w", "type": "long"}]
    br.commit_metadata(new_fields, dict(br.latest().aliases), epoch=7)  # br v2
    _commit(spark, t, [(2, 20, False)], 300, epoch=2)     # main moved: v2

    head = t.latest().version
    with pytest.raises(ValueError, match="changes table metadata"):
        t.cherry_pick(2, from_branch="wap")
    assert t.latest().version == head                     # nothing published
    assert 7 not in t.committed_epochs()                  # ledger untouched
    # a props-only staged change is refused the same way
    br2 = t.create_branch("props")
    tb = t.branch("props")
    tb.commit_metadata(list(tb.latest().fields), dict(tb.latest().aliases),
                       props={**tb.latest().props, "zorder": "k"})
    _commit(spark, t, [(3, 30, False)], 400, epoch=3)
    with pytest.raises(ValueError, match="changes table metadata"):
        t.cherry_pick(tb.latest().version, from_branch="props")


def test_pick_with_expired_parent_names_retention(spark, tmp_path):
    """When retention expired the pick target's parent, the file delta is
    uncomputable — the refusal must say so, not leak a FileNotFoundError
    about a version the caller never passed."""
    t = _mk(tmp_path)
    _commit(spark, t, [(1, 10, False)], 100, epoch=0)     # v1
    _commit(spark, t, [(2, 20, False)], 200, epoch=1)     # v2
    _commit(spark, t, [(3, 30, False)], 300, epoch=2)     # v3
    t.create_tag("keep", 2)
    t.expire_snapshots(keep_last=1)                       # v0, v1 expire
    with pytest.raises(ValueError, match="expired by retention"):
        t.cherry_pick(2)
