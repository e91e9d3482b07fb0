"""Optimistic concurrency on the snapshot log: concurrent commits either
REBASE (additive deltas over anything; maintenance rewrites over commits
that didn't take their input files) or raise CommitConflictError — never
lose data, never double-apply an epoch.

The operational scenario these pin down is maintenance-during-ingest at
100 TB: a compaction job reads the table, an ingest delta lands while it
rewrites, and the compaction's publish must keep that delta layered over
the new base (the LWW fold is commit-order-free, so the rebased result is
bit-identical to any serial order). The reference serializes writers
behind distributed locks (core/.../DistributedLock usage in
Processor.java); Iceberg's commit-retry + validation is the lake-native
shape, and this is its analog.

Races are injected DETERMINISTICALLY: two SnapshotTable handles on one
root, the victim pins ``base=`` to a pre-race snapshot, the interloper
commits, then the victim publishes — exactly the interleaving a scheduler
could produce, with no timing dependence. One threaded test keeps the
honest-race path covered.
"""

from __future__ import annotations

import glob
import os
import threading

import pytest
from pyspark.sql import functions as F

from cdc_core_spark.lake import (CommitConflictError, SnapshotTable,
                                 bucket_expr)

FIELDS = [{"name": "k", "type": "long"}, {"name": "v", "type": "long"}]
NB = 4


def _mk(root) -> SnapshotTable:
    return SnapshotTable.create(str(root), fields=FIELDS, key_cols=["k"],
                                n_buckets=NB)


def _delta_df(spark, rows, op_ts):
    """rows: list of (k, v, deleted)."""
    df = spark.createDataFrame(rows, "k long, v long, _deleted boolean")
    return (df.withColumn("_op_ts", F.lit(op_ts).cast("bigint"))
            .withColumn("_event_seq", F.col("k"))
            .withColumn("_bucket", bucket_expr(["k"], NB)))


def _commit(spark, t, rows, op_ts, epoch, base=None,
            entry="commit_delta"):
    """One delta commit of ``rows`` as ``epoch``, through ``commit_delta``
    or — with a ``checkpoint_epoch`` column, as the engine's group commit
    stages it — through ``commit_delta_grouped`` as a group of one."""
    df = _delta_df(spark, rows, op_ts)
    manifests = [{"checkpoint_epoch": epoch, "partition_id": 0,
                  "n_events": len(rows)}]
    if entry == "commit_delta_grouped":
        return t.commit_delta_grouped(
            df.withColumn("checkpoint_epoch", F.lit(epoch)), [epoch],
            manifests, base=base)
    return t.commit_delta(df, epoch=epoch, manifests=manifests, base=base)


#: both delta-commit entry points must keep the same rebase rules
DELTA_ENTRIES = pytest.mark.parametrize(
    "entry", ["commit_delta", "commit_delta_grouped"])


def _state(spark, t) -> dict:
    return {r["k"]: r["v"] for r in t.read(spark).collect()}


def _stage_dirs(root) -> set:
    """data/<stage>/ directories present on disk."""
    return {os.path.basename(p)
            for p in glob.glob(os.path.join(str(root), "data", "*"))}


def _referenced_stages(t) -> set:
    return {f["path"].split("/")[1] for f in t.latest().files}


@DELTA_ENTRIES
def test_delta_rebases_over_concurrent_delta(spark, tmp_path, entry):
    t1, t2 = _mk(tmp_path), SnapshotTable(str(tmp_path))
    _commit(spark, t1, [(1, 10, False), (2, 20, False)], 100, epoch=0)

    base = t1.latest()                       # victim loads head...
    _commit(spark, t2, [(3, 30, False)], 200, epoch=1)   # ...interloper lands
    snap = _commit(spark, t1, [(1, 11, False)], 300, epoch=2, base=base,
                   entry=entry)

    # the rebased snapshot parents the INTERLOPER's version, not base's
    assert snap.parent == base.version + 1
    assert snap.version == base.version + 2
    assert t1.committed_epochs() == {0, 1, 2}
    # one _bucket layer either way: no file record carries an epoch; the
    # grouped entry's rows store checkpoint_epoch as a data column
    mid = {f["path"] for f in t1.snapshot(base.version + 1).files}
    ours = [f for f in snap.files if f["path"] not in mid]
    assert ours and all("epoch" not in f for f in ours)
    if entry == "commit_delta_grouped":
        stored = spark.read.parquet(
            *[os.path.join(str(tmp_path), f["path"]) for f in ours])
        assert [r[0] for r in stored.select("checkpoint_epoch")
                .distinct().collect()] == [2]
    # state equals serial application of all three epochs
    assert _state(spark, t1) == {1: 11, 2: 20, 3: 30}


def test_compact_rebases_over_concurrent_ingest(spark, tmp_path):
    """THE headline scenario: a delta lands while compaction rewrites.
    The rebased maintenance commit must keep the delta layered over the
    new base, state must equal serial order, and read_changes must still
    see the delta as a logical change."""
    t1, t2 = _mk(tmp_path), SnapshotTable(str(tmp_path))
    _commit(spark, t1, [(1, 10, False), (2, 20, False)], 100, epoch=0)
    _commit(spark, t1, [(2, 21, False)], 200, epoch=1)

    base = t1.latest()                       # compaction pins its read here
    mid = _commit(spark, t2, [(1, 12, False), (4, 40, False)], 300, epoch=2)
    t1.compact(spark, base=base)             # CAS loses -> rebases

    head = t1.latest()
    assert head.maintenance and head.parent == mid.version
    # the interloper's delta files are still referenced, layered on top
    live = {f["path"] for f in head.files}
    assert {f["path"] for f in mid.files if f not in base.files} <= live
    # converged state equals serial application of every epoch
    assert _state(spark, t1) == {1: 12, 2: 21, 4: 40}
    # CDC-out still sees epoch 2's rows (the rebased rewrite is skipped
    # as maintenance, the delta is not)
    changes = t1.read_changes(spark, from_version=base.version)
    got = {(r["k"], r["v"]) for r in changes.collect()}
    assert got == {(1, 12), (4, 40)}


def test_incremental_compact_rebases_and_keeps_other_buckets(spark, tmp_path):
    """min_delta_files compaction of SOME buckets racing a delta: the
    rebase keeps both the delta and the untouched buckets' files."""
    t1, t2 = _mk(tmp_path), SnapshotTable(str(tmp_path))
    for e in range(3):
        _commit(spark, t1, [(k, k * 10 + e, False) for k in range(8)],
                100 + e, epoch=e)
    base = t1.latest()
    _commit(spark, t2, [(0, 99, False)], 500, epoch=3)
    t1.compact(spark, min_delta_files=2, base=base)
    assert _state(spark, t1) == {0: 99, **{k: k * 10 + 2 for k in range(1, 8)}}


def test_docstore_concurrent_disjoint_upserts(spark, tmp_path):
    """Two doc-store writers upserting keys in DIFFERENT buckets at the
    same time: the CAS loser's delta commit rebases over the winner's —
    both documents land, no error, no lock."""
    from cdc_core_spark.sinks.docstore import (read_documents,
                                               upsert_documents)
    root = str(tmp_path / "docs")
    seed = spark.createDataFrame([(0, "a"), (1, "b")], "k long, body string")
    upsert_documents(seed, root, ["k"], n_buckets=NB)

    barrier, errs = threading.Barrier(2), []

    def writer(key, body):
        try:
            df = spark.createDataFrame([(key, body)], "k long, body string")
            barrier.wait()
            upsert_documents(df, root, ["k"], n_buckets=NB)
        except Exception as e:          # surfaced below, never swallowed
            errs.append(e)

    ts = [threading.Thread(target=writer, args=a)
          for a in ((0, "a2"), (1, "b2"))]
    [x.start() for x in ts]
    [x.join() for x in ts]
    assert not errs, errs
    docs = {r["k"]: r["doc"] for r in read_documents(spark, root).collect()}
    assert docs == {0: '{"body":"a2"}', 1: '{"body":"b2"}'}


def test_docstore_concurrent_same_key_upserts(spark, tmp_path):
    """Two doc-store writers upserting the SAME key at the same time: both
    commit (deltas are additive, so the CAS loser rebases), and since each
    carries its own version tuple every read folds the same one doc —
    before and after compaction."""
    from cdc_core_spark.sinks.docstore import (find_document, read_documents,
                                               upsert_documents)
    root = str(tmp_path / "docs")
    seed = spark.createDataFrame([(0, "a"), (1, "b")], "k long, body string")
    upsert_documents(seed, root, ["k"], n_buckets=NB)

    barrier, errs = threading.Barrier(2, timeout=120), []

    def writer(body):
        try:
            df = spark.createDataFrame([(0, body)], "k long, body string")
            barrier.wait()
            upsert_documents(df, root, ["k"], n_buckets=NB)
        except Exception as e:          # surfaced below, never swallowed
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(b,)) for b in ("x", "y")]
    [x.start() for x in ts]
    [x.join(timeout=300) for x in ts]
    assert not any(x.is_alive() for x in ts) and not errs, errs
    assert SnapshotTable(root).latest().version == 3   # create, seed, 2 upserts

    def reads():
        every = [(r["k"], r["doc"]) for r in read_documents(spark, root)
                 .filter("k = 0").collect()]
        point = [(r["k"], r["doc"]) for r in
                 find_document(spark, root, {"k": 0}).collect()]
        return every, point

    every, point = reads()
    assert every == point and len(every) == 1, (every, point)
    assert every[0][1] in ('{"body":"x"}', '{"body":"y"}')
    SnapshotTable(root).compact(spark)
    assert reads() == (every, point)


def test_rebucket_conflicts_with_any_concurrent_commit(spark, tmp_path):
    """A re-bucket drops every file, so it conflicts with any interloper.
    A whole-table rewrite that consumed no files — the initial load into
    a fresh table — rebases instead and keeps the interloper's delta."""
    t1, t2 = _mk(tmp_path), SnapshotTable(str(tmp_path))
    _commit(spark, t1, [(k, k, False) for k in range(8)], 100, epoch=0)
    base = t1.latest()
    _commit(spark, t2, [(9, 90, False)], 200, epoch=1)
    with pytest.raises(CommitConflictError, match="re-bucket"):
        t1.compact(spark, n_buckets=8, base=base)
    assert _state(spark, t2)[9] == 90   # interloper survived

    fresh = _mk(tmp_path / "load")
    other = SnapshotTable(str(tmp_path / "load"))
    base = fresh.latest()
    _commit(spark, other, [(9, 90, False)], 200, epoch=0)
    load = _delta_df(spark, [(k, k, False) for k in range(8)], -1)
    snap = fresh.commit_merge(load, list(range(NB)), manifests=[],
                              props={"initial_loaded": True}, base=base)
    assert snap.parent == base.version + 1 and not snap.maintenance
    assert _state(spark, fresh) == {**{k: k for k in range(8)}, 9: 90}


@DELTA_ENTRIES
def test_duplicate_epoch_conflicts(spark, tmp_path, entry):
    """Two lease-less writers applying the SAME epoch: the CAS loser must
    refuse to rebase (it would double-apply the epoch)."""
    t1, t2 = _mk(tmp_path), SnapshotTable(str(tmp_path))
    _commit(spark, t1, [(1, 10, False)], 100, epoch=0)
    base = t1.latest()
    _commit(spark, t2, [(2, 20, False)], 200, epoch=1)
    with pytest.raises(CommitConflictError, match="epoch"):
        _commit(spark, t1, [(2, 20, False)], 200, epoch=1, base=base,
                entry=entry)
    assert t1.committed_epochs() == {0, 1}
    assert _stage_dirs(tmp_path) == _referenced_stages(t1)


def test_metadata_rebases_over_delta_but_not_metadata(spark, tmp_path):
    t1, t2 = _mk(tmp_path), SnapshotTable(str(tmp_path))
    _commit(spark, t1, [(1, 10, False)], 100, epoch=0)

    # DDL racing a delta: rebases, keeps the delta's files
    base = t1.latest()
    _commit(spark, t2, [(2, 20, False)], 200, epoch=1)
    wide = [{"name": "k", "type": "long"}, {"name": "v", "type": "long"},
            {"name": "extra", "type": "string", "nullable": True}]
    snap = t1.commit_metadata(wide, {}, base=base)
    assert snap.parent == base.version + 1
    assert _state(spark, t1) == {1: 10, 2: 20}
    assert "extra" in t1.latest().field_names()

    # DDL racing DDL: conflict (the evolution was computed on stale schema)
    base = t1.latest()
    wider = wide + [{"name": "extra2", "type": "string", "nullable": True}]
    t2.commit_metadata(wider, {})
    with pytest.raises(CommitConflictError, match="schema changed"):
        t1.commit_metadata(wide + [{"name": "other", "type": "long",
                                    "nullable": True}], {}, base=base)


def test_two_compactions_same_files_conflict(spark, tmp_path):
    """Two maintenance rewrites folding the SAME input files: the loser's
    inputs were removed by the winner — conflict, state intact."""
    t1, t2 = _mk(tmp_path), SnapshotTable(str(tmp_path))
    _commit(spark, t1, [(k, k, False) for k in range(8)], 100, epoch=0)
    _commit(spark, t1, [(1, 11, False)], 200, epoch=1)
    base = t1.latest()
    t2.compact(spark)
    staged = _stage_dirs(tmp_path)
    with pytest.raises(CommitConflictError, match="maintenance rebase"):
        t1.compact(spark, base=base)
    assert _state(spark, t1) == {**{k: k for k in range(8)}, 1: 11}
    # the loser's staged files are gone: only the winner's rewrite and the
    # files older snapshots reference remain
    assert _stage_dirs(tmp_path) == staged
    assert _referenced_stages(t1) <= staged


def test_threaded_contention_all_commits_land(spark, tmp_path):
    """Honest-race coverage: two threads commit distinct epochs with no
    pinned base — at most one CAS loss, the loser rebases, both land."""
    t = _mk(tmp_path)
    _commit(spark, t, [(1, 10, False)], 100, epoch=0)
    barrier = threading.Barrier(2)
    errs = []

    def worker(epoch, key):
        try:
            h = SnapshotTable(str(tmp_path))
            df = _delta_df(spark, [(key, key * 10, False)], 100 + epoch)
            barrier.wait()
            h.commit_delta(df, epoch=epoch, manifests=[])
        except Exception as e:          # surfaced below, never swallowed
            errs.append(e)

    ts = [threading.Thread(target=worker, args=(e, k))
          for e, k in ((1, 2), (2, 3))]
    [x.start() for x in ts]
    [x.join() for x in ts]
    assert not errs
    assert t.committed_epochs() == {0, 1, 2}
    assert _state(spark, t) == {1: 10, 2: 20, 3: 30}


def test_rollup_concurrent_refresh_conflicts(spark, tmp_path):
    """Two rollup maintainers refreshing the same rollup table: the loser
    conflicts instead of splicing two refreshes into one lineage."""
    from cdc_core_spark.operators.rollup import IncrementalRollup
    t = _mk(tmp_path / "src")
    _commit(spark, t, [(1, 10, False), (2, 20, False)], 100, epoch=0)
    r1 = IncrementalRollup.create(spark, t, str(tmp_path / "roll"), ["k"],
                                  [{"op": "sum", "col": "v"}])
    _commit(spark, t, [(1, 11, False)], 200, epoch=1)
    r2 = IncrementalRollup.load(t, str(tmp_path / "roll"))

    # inject the race deterministically: r1's refresh pins the rollup head
    # it loads FIRST (one latest() per refresh), so serve it the pre-race
    # head once, let r2 refresh in between, then let r1 publish
    stale, orig, served = r1.table.latest(), r1.table.latest, [False]

    def latest_once_stale():
        if not served[0]:
            served[0] = True
            return stale
        return orig()

    r2.refresh(spark)
    r1.table.latest = latest_once_stale
    with pytest.raises(CommitConflictError):
        r1.refresh(spark)
    r1.table.latest = orig
    got = {row["k"]: row["sum_v"] for row in r1.read(spark).collect()}
    assert got == {1: 11, 2: 20}


@pytest.mark.parametrize("seed", [7, 1234])
def test_occ_random_interleavings_never_lose_data(spark, tmp_path, seed):
    """Model-based randomized OCC check (the test_lake_model.py style,
    pointed at concurrency): two handles on one table take a seeded random
    walk of delta commits, incremental/full compactions and add-column
    evolutions, where any step may pin ``base=`` to a snapshot up to four
    commits STALE — i.e. every step is a potential read→commit race. The
    invariants are outcome-agnostic, so the test can't replicate the rebase
    rules it checks: (1) an ADDITIVE delta must never conflict, whatever it
    raced; (2) a successful commit's effect is applied to the model, a
    CommitConflictError leaves it untouched; (3) after EVERY step the
    visible table state equals the model and the committed-epoch ledger
    equals the model's epochs; (4) at the end every referenced file exists
    on disk (a rebase that carried a path its interloper deleted would
    surface here)."""
    import random as _random

    rng = _random.Random(seed)
    handles = [_mk(tmp_path), SnapshotTable(str(tmp_path))]
    model: dict[int, int | None] = {}
    epochs_done: set[int] = set()
    next_epoch = 0
    n_extra = 0
    bases: list = []

    def check():
        t = handles[0]
        got = {r["k"]: r["v"] for r in
               t.read(spark).select("k", "v").collect()}
        want = {k: v for k, v in model.items() if v is not None}
        assert got == want
        assert t.committed_epochs() == epochs_done

    for step in range(24):
        t = rng.choice(handles)
        base = rng.choice(bases[-4:]) if bases and rng.random() < 0.5 else None
        op = rng.choices(["delta", "compact", "metadata"],
                         weights=[6, 3, 1])[0]
        if op == "delta":
            rows = [(k, rng.randrange(1000),
                     rng.random() < 0.15)          # 15% tombstones
                    for k in rng.sample(range(16), rng.randrange(1, 6))]
            _commit(spark, t, rows, op_ts=1000 + step, epoch=next_epoch,
                    base=base)                     # invariant 1: never raises
            for k, v, dead in rows:
                model[k] = None if dead else v
            epochs_done.add(next_epoch)
            next_epoch += 1
        elif op == "compact":
            try:
                t.compact(spark, base=base,
                          min_delta_files=rng.choice([None, 1, 2]))
            except CommitConflictError:
                pass                               # invariant 2: no effect
        else:
            try:
                snap = base if base is not None else t.latest()
                fields = list(snap.fields) + [
                    {"name": f"extra{n_extra}", "type": "string",
                     "nullable": True}]
                t.commit_metadata(fields, dict(snap.aliases), base=base)
                n_extra += 1
            except CommitConflictError:
                pass
        bases.append(handles[0].latest())
        check()

    # invariant 4: every referenced file exists on disk
    head = handles[0].latest()
    for f in head.files:
        assert os.path.exists(os.path.join(str(tmp_path), f["path"])), f["path"]
