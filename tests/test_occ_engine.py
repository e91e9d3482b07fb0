"""Engine-level optimistic concurrency: maintenance racing a FULL replay.

tests/test_occ.py pins the lake-level rebase rules on toy tables; these
two tests prove the property end-to-end on the real pipeline — the t1
fixture with its quarantine routing, group commits and three in-band
schema episodes (v1.0 -> 1.1 -> 2.0 -> 2.1) — because that is where the
rebase rules actually have to compose: a compaction computed against a
PRE-evolution snapshot must rebase onto a post-evolution head whose
schema, aliases and delta layers it never saw, and the MOR fold must
still align its rewritten (old-schema-sid) files through the rename/widen
map. The reference cannot express this at all: Processor.java serializes
maintenance behind the same DistributedLock as ingest
(core/.../processing/Processor.java:71-84), so compaction-during-ingest
is THE capability the optimistic model buys at 100 TB.
"""

from __future__ import annotations

import threading
import time

import pytest

from cdc_core_spark.engine import CdcEngine
from cdc_core_spark.lake import CommitConflictError, SnapshotTable

from tests.conftest import assert_final_equal


def test_stale_compaction_rebases_over_evolved_replay(spark, t1, registry,
                                                      tmp_path):
    """Deterministic interleaving: compaction pinned to the epoch-3 head
    (schema v1.1, `lang`/int-`rev` files) commits AFTER epochs 4-7 landed
    (schema v2.1, renamed `language`, widened `rev`, four more delta
    layers). The rebase must keep every later delta, adopt the evolved
    schema, and fold the rewritten old-sid files through the alias map —
    final state bit-equal to the serial oracle."""
    eng = CdcEngine(spark, str(tmp_path / "eng"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src,
               epochs=[0, 1, 2, 3])
    stale = eng.table.latest()              # v1.1-era snapshot
    assert stale.props["schema_version"] == "1.1"

    eng.replay(f'{t1["dir"]}/change_events', epochs=[4, 5, 6, 7])
    evolved = eng.table.latest()
    assert evolved.props["schema_version"] == "2.1"

    # the stale rewrite: read, fold and commit all pinned to `stale`
    eng.table.compact(spark, base=stale)

    head = eng.table.latest()
    assert head.maintenance and head.parent == evolved.version
    # the evolved schema rode through the rebase untouched
    assert head.props["schema_version"] == "2.1"
    assert "language" in head.field_names() and "lang" not in head.field_names()
    # every post-pin delta file is still referenced
    later = {f["path"] for f in evolved.files} - {f["path"] for f in stale.files}
    assert later <= {f["path"] for f in head.files}
    # and the converged table equals the sequential pandas oracle
    assert_final_equal(eng.read_final_with_sha().toPandas(), t1["expected"])
    # exactly-once bookkeeping untouched by the maintenance commit
    assert eng.table.committed_epochs() == set(range(8))


def test_compaction_thread_during_live_replay(spark, t1, registry, tmp_path):
    """Honest race: a maintenance thread compacts the table repeatedly
    WHILE the leased replay loop is committing epochs (deltas, group
    commits, DDL). Additive deltas and input-preserving rewrites are
    mutually rebasable, so neither side may fail, and the converged state
    must equal the oracle regardless of interleaving. (A genuine conflict
    — e.g. the CAS-retry budget exhausted — would surface as a hard
    failure here, not get swallowed.)"""
    root = str(tmp_path / "eng")
    eng = CdcEngine(spark, root, registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.initial_load(src, "1.0")

    tbl = SnapshotTable(f"{root}/target")
    stop, errs, compactions = threading.Event(), [], [0]

    def maintainer():
        try:
            while not stop.is_set():
                v = tbl.latest_meta().version
                tbl.compact(spark)
                compactions[0] += 1
                # wait for fresh ingest so each pass races a new head
                deadline = time.monotonic() + 5.0
                while (tbl.latest_meta().version <= v + 1
                       and time.monotonic() < deadline
                       and not stop.is_set()):
                    time.sleep(0.05)
        except Exception as e:              # pragma: no cover - surfaced below
            errs.append(e)

    th = threading.Thread(target=maintainer)
    th.start()
    try:
        eng.replay(f'{t1["dir"]}/change_events')
    finally:
        stop.set()
        th.join()
    assert not errs, errs
    assert compactions[0] >= 1              # the race actually ran
    assert eng.table.committed_epochs() == set(range(8))
    assert eng.table.latest().props["schema_version"] == "2.1"
    assert_final_equal(eng.read_final_with_sha().toPandas(), t1["expected"])


def test_leaseless_double_replay_blocked_by_occ(spark, t1, registry,
                                                tmp_path):
    """Belt-and-braces behind the lease: if TWO drivers replay the same
    epochs lease-less (operator error — the lease exists to prevent it),
    the snapshot CAS plus the duplicate-epoch rebase guard must stop the
    second apply from double-committing, whichever epoch it races."""
    root = str(tmp_path / "eng")
    eng1 = CdcEngine(spark, root, registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng1.replay(f'{t1["dir"]}/change_events', source_df=src,
                epochs=[0, 1, 2, 3], lease=False)

    # driver 2 computes epoch 3's delta against a pre-commit base and
    # tries to publish after driver 1 already committed it
    eng2 = CdcEngine(spark, root, registry, n_buckets=8)
    stale_base = eng2.table.snapshot(eng2.table.latest().parent)
    winners = (eng2.table.read(spark, with_internal_cols=True,
                               snap=eng2.table.latest())
               .limit(1))
    from cdc_core_spark.lake import bucket_expr
    winners = winners.withColumn("_bucket",
                                 bucket_expr(eng2._key_cols(), 8))
    with pytest.raises(CommitConflictError, match="epoch"):
        eng2.table.commit_delta(
            winners, epoch=3,
            manifests=[{"checkpoint_epoch": 3, "partition_id": 0}],
            base=stale_base)
    # the committed-epoch ledger is intact — no double apply
    assert eng1.table.committed_epochs() == {0, 1, 2, 3}
