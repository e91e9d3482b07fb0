"""Iceberg conformance tests — jar-gated: this sandbox ships no Iceberg
runtime, so every test here SKIPS locally and runs for real on a cluster
with ``--packages org.apache.iceberg:iceberg-spark-runtime-*`` plus::

    spark.sql.catalog.ice                org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.ice.type           hadoop
    spark.sql.catalog.ice.warehouse      /tmp/ice_warehouse

The suite proves the SnapshotTable→Iceberg swap is real: the engine's
winner-delta + exactly-once + maintenance contract, executed against real
Iceberg snapshots (lake.py module docstring carries the per-call mapping
this suite executes)."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from cdc_core_spark.lake_iceberg import IcebergSnapshotTable, iceberg_available

FIELDS = [
    {"name": "repo", "type": "string", "nullable": False, "key": True},
    {"name": "path", "type": "string", "nullable": False, "key": True},
    {"name": "content", "type": "string", "nullable": True},
]


@pytest.fixture()
def ice(spark):
    if not iceberg_available(spark):
        pytest.skip("Iceberg runtime jars not on classpath (sandbox)")
    if "ice" not in [c.name for c in spark.catalog.listCatalogs()]:
        pytest.skip("no `ice` Iceberg catalog configured on the session")
    ident = f"ice.db.t_{uuid.uuid4().hex[:8]}"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice.db")
    t = IcebergSnapshotTable.create(spark, ident, FIELDS,
                                    key_cols=["repo", "path"], n_buckets=4)
    yield t
    spark.sql(f"DROP TABLE IF EXISTS {ident}")


def _rows(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, content string, _op_ts long, "
              "_event_seq long, _deleted boolean")


def test_delta_commits_lww_and_exactly_once_ledger(spark, ice):
    ice.commit_delta(_rows(spark, [("r", "a", "v1", 100, 1, False)]),
                     epoch=0, manifests=[{"checkpoint_epoch": 0,
                                          "partition_id": 0,
                                          "events_read": 1}])
    ice.commit_delta(_rows(spark, [("r", "a", "v2", 200, 2, False),
                                   ("r", "b", "x", 50, 3, False)]),
                     epoch=1, manifests=[{"checkpoint_epoch": 1,
                                          "partition_id": 0,
                                          "events_read": 2}])
    got = {(r["repo"], r["path"]): r["content"] for r in ice.read().collect()}
    assert got == {("r", "a"): "v2", ("r", "b"): "x"}  # MOR LWW fold
    assert ice.committed_epochs() == {0, 1}            # summary-prop ledger
    assert len(ice.all_manifests()) == 2


def test_tombstone_delete_and_incremental_read(spark, ice):
    ice.commit_delta(_rows(spark, [("r", "a", "v1", 100, 1, False)]),
                     epoch=0, manifests=[])
    first = ice.snapshots().orderBy("committed_at").collect()[-1]
    ice.commit_delta(_rows(spark, [("r", "a", None, 200, 2, True)]),
                     epoch=1, manifests=[])
    assert ice.read().count() == 0                     # tombstone wins LWW
    ch = ice.read_changes(first["snapshot_id"]).collect()
    assert [(r["path"], r["_change_op"]) for r in ch] == [("a", "delete")]


def test_compact_preserves_state(spark, ice):
    for e in range(3):
        ice.commit_delta(_rows(spark, [("r", f"p{e}", "v", 100 + e, e, False)]),
                         epoch=e, manifests=[])
    before = sorted(tuple(r) for r in ice.read().collect())
    ice.compact()
    assert sorted(tuple(r) for r in ice.read().collect()) == before
    assert ice.committed_epochs() == {0, 1, 2}


def test_expire_folds_ledger_forward(spark, ice):
    for e in range(4):
        ice.commit_delta(_rows(spark, [("r", f"p{e}", "v", 100 + e, e, False)]),
                         epoch=e,
                         manifests=[{"checkpoint_epoch": e,
                                     "partition_id": 0, "events_read": 1}])
    ice.expire_snapshots(keep_last=1)
    # resume safety: every epoch still visible to the exactly-once skip —
    # committed_epochs() itself must union the folded ledger
    assert ice.committed_epochs() == {0, 1, 2, 3}
    # and the lineage HALF of the ledger survives too (manifest rows of
    # expired snapshots fold into the table property, deduped vs live)
    eps = sorted(m["checkpoint_epoch"] for m in ice.all_manifests())
    assert eps == [0, 1, 2, 3]
    # idempotent: a second expire (nothing newly expiring) changes nothing
    ice.expire_snapshots(keep_last=1)
    assert sorted(m["checkpoint_epoch"] for m in ice.all_manifests()) == eps


def test_attach_to_existing_table_recovers_key_cols(spark, ice):
    """A resumed driver constructs the adapter WITHOUT re-running create —
    key_cols must come back from the cdc.key-cols table property."""
    ice.commit_delta(_rows(spark, [("r", "a", "v1", 100, 1, False)]),
                     epoch=0, manifests=[])
    t2 = IcebergSnapshotTable(spark, ice.ident)
    assert t2.key_cols == ["repo", "path"]
    assert {(r["repo"], r["path"]) for r in t2.read().collect()} == {("r", "a")}
    with pytest.raises(ValueError, match="key-cols"):
        bare = IcebergSnapshotTable(spark, ice.ident)
        bare._table_props = lambda: {}   # simulate a foreign table
        bare.key_cols


def test_merge_overwrites_only_touched_buckets(spark, ice):
    """The finding this layout exists for: two keys sharing the FIRST key
    column but living in different engine buckets — a merge frame carrying
    only one of them must not delete the other (identity `_bucket`
    partitioning makes overwritePartitions replace exactly the touched
    buckets; `bucket(n, repo)` partitioning would clobber both)."""
    from cdc_core_spark.lake import bucket_expr

    # find two paths of the same repo that hash to DIFFERENT buckets
    probe = spark.createDataFrame(
        [("r", f"p{i}") for i in range(32)], "repo string, path string"
    ).withColumn("_bucket", bucket_expr(["repo", "path"], 4)).collect()
    by_bucket: dict[int, str] = {}
    for r in probe:
        by_bucket.setdefault(r["_bucket"], r["path"])
        if len(by_bucket) >= 2:
            break
    (b1, pa), (b2, pb) = list(by_bucket.items())[:2]
    assert b1 != b2

    ice.commit_delta(_rows(spark, [("r", pa, "v1", 100, 1, False),
                                   ("r", pb, "w1", 100, 2, False)]),
                     epoch=0, manifests=[])
    # merge frame holds ONLY pa's bucket content
    ice.commit_merge(_rows(spark, [("r", pa, "v2", 200, 3, False)]),
                     touched_buckets=[b1], manifests=[])
    got = {(r["repo"], r["path"]): r["content"] for r in ice.read().collect()}
    assert got == {("r", pa): "v2", ("r", pb): "w1"}


def test_callable_manifests_rejected_loudly(spark):
    """Sandbox-runnable (no jars touched): the engine's write-volume
    manifests are a CALLABLE — the adapter must reject it with guidance,
    not json.dumps a function into a snapshot property."""
    t = IcebergSnapshotTable(spark, "ice.db.unused")
    t.key_cols = ["repo"]
    t.n_buckets = 4
    with pytest.raises(TypeError, match="callable manifests"):
        t.commit_delta(spark.range(1), epoch=0, manifests=lambda files: [])


def test_rebucket_flag_rejected_loudly(spark):
    t = IcebergSnapshotTable(spark, "ice.db.unused")
    t.key_cols = ["repo"]
    t.n_buckets = 4
    with pytest.raises(NotImplementedError, match="REPLACE PARTITION FIELD"):
        t.commit_merge(spark.range(1), [0], manifests=[], n_buckets=8)


def test_expire_keep_last_zero_rejected(spark):
    """keep_last=0 would slice snaps[:-0] == [] and silently expire NOTHING
    — same ValueError guard as lake.SnapshotTable."""
    t = IcebergSnapshotTable(spark, "ice.db.unused")
    with pytest.raises(ValueError, match="keep_last"):
        t.expire_snapshots(keep_last=0)


def test_commit_signature_parity_with_lake():
    """Jar-independent: every keyword the engine/sinks/maintenance paths can
    pass to a SnapshotTable commit method must be accepted by the shim too
    (extras like ``base`` are parity no-ops documented in the shim's
    docstrings) — otherwise the 'mechanical swap' claim breaks with a
    TypeError the first time a maintenance job pins ``base=``. The shim
    takes no keyword the lake lacks either, so it cannot grow its own."""
    import inspect

    from cdc_core_spark.lake import SnapshotTable

    for name in ("commit_delta", "commit_delta_grouped", "commit_merge",
                 "commit_metadata"):
        lake_kw = set(inspect.signature(
            getattr(SnapshotTable, name)).parameters) - {"self"}
        shim_kw = set(inspect.signature(
            getattr(IcebergSnapshotTable, name)).parameters) - {"self"}
        missing = lake_kw - shim_kw
        assert not missing, f"{name}: shim missing kwargs {sorted(missing)}"
        assert shim_kw == lake_kw, f"{name}: shim-only kwargs " \
            f"{sorted(shim_kw - lake_kw)}"


def test_wap_branch_stage_audit_publish(spark, ice):
    """Refs parity: stage a commit on a branch (invisible on main), then
    fast_forward publishes it — the WAP flow lake.SnapshotTable ships,
    executed against real Iceberg refs."""
    ice.commit_delta(_rows(spark, [("r", "a", "v1", 100, 1, False)]),
                     epoch=0, manifests=[])
    ice.create_branch("audit")
    (_rows(spark, [("r", "b", "v2", 200, 2, False)])
     .withColumn("_bucket", F.pmod(F.xxhash64("repo", "path"), F.lit(4)))
     .writeTo(ice.branch_ident("audit")).append())
    assert {r["path"] for r in ice.read().collect()} == {"a"}   # isolated
    assert {r["path"] for r in ice.read_branch("audit").collect()} == {"a", "b"}
    ice.fast_forward("audit")
    assert {r["path"] for r in ice.read().collect()} == {"a", "b"}
    names = {r["name"] for r in ice.refs().collect()}
    assert "audit" in names
    ice.drop_branch("audit")
    ice.create_tag("pin")
    assert {r["name"] for r in ice.refs().collect()} >= {"main", "pin"}
    ice.drop_tag("pin")
