"""Replay-equality: the correctness contract (SURVEY.md §5.1).

Synthesize the source table + CDC event log (seeded), replay through the
engine epoch by epoch, assert per-row content sha256 equality (plus every
payload column) of the final table state against the independent pandas
oracle that applies events sequentially in (op_ts, event_seq) order per key.
"""

from __future__ import annotations

import pytest

from cdc_core_spark.engine import CdcEngine
from cdc_core_spark.oracle import expected_quarantine_count

from tests.conftest import assert_final_equal


def test_replay_matches_oracle(spark, t1, registry, tmp_path):
    eng = CdcEngine(spark, str(tmp_path / "eng"), registry, n_buckets=16)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)
    got = eng.read_final_with_sha().toPandas()
    assert_final_equal(got, t1["expected"])
    # quarantine received exactly the malformed deliveries
    assert eng.errors_df().count() == expected_quarantine_count(t1["fx"].change_events)


def test_schema_evolved_final_schema(spark, t1, registry, tmp_path):
    """After the three in-band episodes the target exposes v2.1: size_bytes
    added, lang renamed to language, rev widened to long (values > 2^31)."""
    eng = CdcEngine(spark, str(tmp_path / "eng"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)
    final = eng.read_final()
    dt = dict(final.dtypes)
    assert dt["language"] == "string" and "lang" not in dt
    assert dt["size_bytes"] == "bigint"
    assert dt["rev"] == "bigint"
    assert final.filter("rev > 2147483647").count() > 0  # widened values flowed
    assert eng.table.latest().props["schema_version"] == "2.1"


def test_null_version_events_quarantined(spark, tmp_path):
    """A data event with a null op_ts or event_seq has no LWW position (the
    reference requires a TransactionId.sequence): it must route to the DLQ
    as null_version — applying it would make it invisible on read yet
    counted, and out-versioned by any redelivered OLDER event."""
    from cdc_core_spark.registry import SchemaRegistry

    reg = SchemaRegistry.from_docs([{
        "entity": "source_repos", "major": 1, "minor": 0,
        "fields": [
            {"name": "repo", "type": "string", "nullable": False, "key": True},
            {"name": "path", "type": "string", "nullable": False, "key": True},
            {"name": "content", "type": "string", "nullable": True},
        ]}])
    ddl = ("op int, repo string, path string, content string, "
           "op_ts long, event_seq long, schema_version string")
    rows = [
        (4, "r1", "p1", "null-ts", None, 9, "1.0"),   # null op_ts
        (4, "r1", "p1", "null-seq", 99, None, "1.0"),  # null event_seq
        (4, "r1", "p1", "winner", 10, 1, "1.0"),
    ]
    eng = CdcEngine(spark, str(tmp_path / "e"), reg, n_buckets=4)
    eng.initial_load(spark.createDataFrame(
        [("r1", "p1", "c0")], "repo string, path string, content string"))
    m = eng.apply_epoch(spark.createDataFrame(rows, ddl), 0)
    assert sum(r["events_error"] for r in m) == 2
    assert sum(r["events_applied"] for r in m) == 1
    errs = eng.errors_df().collect()
    assert {r["error_reason"] for r in errs} == {"null_version"}
    got = {(r["repo"], r["path"]): r["content"]
           for r in eng.read_final().collect()}
    assert got == {("r1", "p1"): "winner"}


def test_manifest_stats_survive_narrow_key_types(spark, tmp_path):
    """Event files may carry a NARROWER physical key type than the table
    schema (int32 ids written before a widening): per-bucket lineage stats
    must land in the same buckets as the winners — xxhash64 hashes int and
    bigint differently, so the stats scan casts keys to the declared types
    first. Regression: events_read silently read 0 in every applied bucket
    while the raw-hash buckets' counts were dropped."""
    from cdc_core_spark.registry import SchemaRegistry

    reg = SchemaRegistry.from_docs([{
        "entity": "source_repos", "major": 1, "minor": 0,
        "fields": [
            {"name": "k", "type": "long", "nullable": False, "key": True},
            {"name": "v", "type": "string", "nullable": True},
        ]}])
    evdir = str(tmp_path / "ev")
    (spark.createDataFrame(
        [(4, 7, "v1", 10, 1, "1.0", 0), (4, 9, "v2", 11, 2, "1.0", 0)],
        "op int, k int, v string, op_ts long, event_seq long, "
        "schema_version string, checkpoint_epoch int")
     .write.partitionBy("checkpoint_epoch").parquet(evdir))
    eng = CdcEngine(spark, str(tmp_path / "e"), reg, n_buckets=16)
    eng.initial_load(spark.createDataFrame([(7, "v0")], "k long, v string"))
    eng.replay(evdir)
    per = {r["partition_id"]: r for r in eng.manifests_df().collect()
           if r["checkpoint_epoch"] == 0}
    assert sum(r["events_read"] for r in per.values()) == 2
    for r in per.values():   # stats attribute to the buckets data landed in
        assert r["events_read"] == r["events_applied"]
    got = {r["k"]: r["v"] for r in eng.read_final().collect()}
    assert got == {7: "v1", 9: "v2"}


def test_null_op_quarantined_consistently(spark, tmp_path):
    """A null op must land in the DLQ AND the error count — on both the
    standalone apply_epoch path and the replay fast path (the predicate is
    null-safe via coalesce, so counting/quarantining/filtering agree)."""
    from pyspark.sql import functions as F
    from cdc_core_spark.registry import SchemaRegistry

    reg = SchemaRegistry.from_docs([{
        "entity": "source_repos", "major": 1, "minor": 0,
        "fields": [
            {"name": "repo", "type": "string", "nullable": False, "key": True},
            {"name": "path", "type": "string", "nullable": False, "key": True},
            {"name": "content", "type": "string", "nullable": True},
        ]}])
    rows = [
        (3, "r1", "p2", "c1", 10, 1, "1.0"),
        (None, "r1", "p3", "cX", 11, 2, "1.0"),   # null op → invalid_op
        (9, "r1", "p4", "cY", 12, 3, "1.0"),      # bad op code → invalid_op
        (4, "r1", "p1", "c2", 13, 4, "1.0"),
    ]
    ddl = ("op int, repo string, path string, content string, "
           "op_ts long, event_seq long, schema_version string")
    src = spark.createDataFrame([("r1", "p1", "c0")],
                                "repo string, path string, content string")

    # standalone apply_epoch path
    eng = CdcEngine(spark, str(tmp_path / "a"), reg, n_buckets=4)
    eng.initial_load(src)
    m = eng.apply_epoch(spark.createDataFrame(rows, ddl), 0)
    assert sum(r["events_error"] for r in m) == 2
    errs = eng.errors_df().collect()
    assert len(errs) == 2
    assert {r["error_reason"] for r in errs} == {"invalid_op"}

    # replay fast path (pre-counted stats + dynamic-partition DLQ write)
    evdir = str(tmp_path / "ev")
    (spark.createDataFrame(rows, ddl).withColumn("checkpoint_epoch", F.lit(0))
     .write.partitionBy("checkpoint_epoch").parquet(evdir))
    eng2 = CdcEngine(spark, str(tmp_path / "b"), reg, n_buckets=4)
    eng2.replay(evdir, source_df=src)
    mf = eng2.manifests_df().toPandas()
    assert mf[mf.checkpoint_epoch == 0]["events_error"].sum() == 2
    assert eng2.errors_df().count() == 2
    # converged state identical on both paths
    a = sorted(tuple(r) for r in eng.read_final().collect())
    b = sorted(tuple(r) for r in eng2.read_final().collect())
    assert a == b


def test_manifest_lineage(spark, t1, registry, tmp_path):
    """Manifests exist per (epoch, partition) with correct event counts
    (FIXTURES.md §5): sum(events_read) over data epochs = valid deliveries."""
    eng = CdcEngine(spark, str(tmp_path / "eng"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)
    mf = eng.manifests_df().toPandas()
    data_mf = mf[mf.checkpoint_epoch >= 0]
    # uniqueness on (epoch, partition)
    assert not data_mf.duplicated(["checkpoint_epoch", "partition_id"]).any()
    ev = t1["fx"].change_events
    from cdc_core_spark.oracle import is_valid_event
    n_valid = int(is_valid_event(ev[~ev["op"].isin([0, 1, 2])]).sum())
    assert data_mf["events_read"].sum() == n_valid
    assert (data_mf["wall_ms"] >= 0).all()
    assert set(data_mf["checkpoint_epoch"].unique()) == set(range(8))


#: Spark jobs of a standalone apply_epoch on t1 at default AQE (8 buckets,
#: 8 shuffle partitions): the DDL probe, then the lineage aggregate and the
#: DLQ write on the worker thread (its jobs inherit the caller's job group)
#: beside the grouped delta write. Measured: 8 on epoch 1 and on the first
#: DDL-carrying epoch.
STANDALONE_EPOCH_JOBS = 8

#: Spark jobs of a whole t1 replay onto a loaded table at default AQE (8
#: buckets): the DDL probe, the lineage aggregate and the DLQ write (both
#: on the worker, in the caller's job group) and ONE group commit, in-band
#: DDL included; no event-log schema inference. Measured: 8.
REPLAY_JOBS = 8


def _jobs_of(spark, group, fn):
    """Spark job ids that ``fn`` submits, tagged by a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        fn()
        return sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None, False)


def test_epoch_apply_job_counts(spark, t1, registry, tmp_path):
    """PERF CONTRACT, two parts. (1) With the epoch's inputs pre-counted
    (``_epoch_prestats``'s probe and its resolved lineage worker), the
    grouped merge-on-read write is exactly ONE Spark action — the staged
    delta write; every logical manifest value comes from the pre-stats.
    (2) A standalone ``apply_epoch`` — the streaming, flow and s3_events
    path — launches exactly the measured jobs, the worker's included: a
    worker job outside the caller's job group would show as a missing
    one, an extra job on the epoch path as one too many."""
    from pyspark.sql import functions as F

    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.initial_load(src)
    events = spark.read.parquet(f'{t1["dir"]}/change_events')
    batch = events.filter(F.col("checkpoint_epoch") == 0)
    stats = eng._epoch_prestats(batch, [0])
    stats.lineage.result()  # its jobs ran outside the window below

    # AQE splits one action into a job per shuffle stage; count ACTIONS by
    # disabling it for the window (the contract is one action per group)
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        jobs = _jobs_of(spark, "grouped_write",
                        lambda: eng.apply_epoch_group(batch, [0], stats))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    assert len(jobs) == 1, f"grouped write took {len(jobs)} jobs: {jobs}"

    # a DDL-free epoch, then the first DDL-carrying one, applied in order
    ev = t1["fx"].change_events
    ddl_epoch = int(ev[ev["op"].isin([0, 1, 2])]["checkpoint_epoch"].min())
    assert ddl_epoch > 1
    for e in range(1, ddl_epoch + 1):
        jobs = _jobs_of(spark, f"standalone_epoch_{e}", lambda: eng.apply_epoch(
            events.filter(F.col("checkpoint_epoch") == e), e))
        if e in (1, ddl_epoch):
            assert len(jobs) == STANDALONE_EPOCH_JOBS, \
                f"standalone apply_epoch {e} took {len(jobs)} jobs: {jobs}"


def test_replay_job_count(spark, t1, registry, tmp_path):
    """PERF CONTRACT: a replay of all eight t1 epochs, three in-band DDL
    episodes among them, is one group: its Spark jobs are the DDL probe,
    the lineage aggregate and the DLQ write (on the worker, in the
    caller's job group) and one delta commit — no job per DDL segment and
    no event-log schema inference."""
    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    eng.initial_load(spark.read.parquet(f'{t1["dir"]}/source_repos.parquet'))
    v = eng.table.latest().version
    jobs = _jobs_of(spark, "replay", lambda: eng.replay(
        f'{t1["dir"]}/change_events', lease=False))
    assert len(jobs) == REPLAY_JOBS, f"replay took {len(jobs)} jobs: {jobs}"
    assert eng.table.latest().version == v + 1   # one snapshot, DDL with it
    assert eng.table.latest().props["schema_version"] == "2.1"


def test_sparse_column_log_matches_dense(spark, t1, registry, tmp_path):
    """Each epoch file keeps only the columns it has values in — what a
    producer writing its own schema version emits: epochs 0-2 lack
    ``language`` and ``size_bytes``, epochs 6-7 lack ``lang`` — and stores
    ``rev`` as int32 wherever it fits. Read through the registry-derived
    event schema, the replay converges row for row to the dense log's
    state (a schema inferred from one file's footer lacks the columns that
    file lacks, and reads them as NULL everywhere)."""
    import os

    evdir = str(tmp_path / "sparse")
    for ep, part in t1["fx"].change_events.groupby("checkpoint_epoch"):
        part = part.drop(columns=["checkpoint_epoch"]).dropna(axis=1, how="all")
        if part["rev"].max() < 2 ** 31:
            part["rev"] = part["rev"].astype("Int32")
        os.makedirs(f"{evdir}/checkpoint_epoch={ep}")
        part.to_parquet(f"{evdir}/checkpoint_epoch={ep}/part-0.parquet",
                        index=False)
    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=4)
    eng.replay(evdir, source_df=spark.read.parquet(
        f'{t1["dir"]}/source_repos.parquet'))
    assert_final_equal(eng.read_final_with_sha().toPandas(), t1["expected"])


def test_errors_df_clean_run_schema(spark, t1, registry, tmp_path):
    """Clean run: errors_df() returns the documented minimal schema, and
    passing the event DDL keeps both paths column-compatible."""
    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=4)
    empty = eng.errors_df()
    assert empty.columns == ["checkpoint_epoch", "error_reason"]
    assert empty.count() == 0
    ddl = "op bigint, repo string, path string"
    wide = eng.errors_df(empty_schema=ddl)
    assert wide.columns == ["op", "repo", "path",
                            "checkpoint_epoch", "error_reason"]
    assert wide.select("repo", "error_reason").count() == 0
    # the docstring-recommended EVENT_DDL already ends in checkpoint_epoch —
    # it must not be duplicated (duplicate names break name resolution)
    from cdc_core_spark.streaming.stream import EVENT_DDL
    ev = eng.errors_df(empty_schema=EVENT_DDL)
    assert len(ev.columns) == len(set(ev.columns))
    assert ev.columns[-1] == "error_reason"
    assert ev.select("checkpoint_epoch", "error_reason").count() == 0
    # parameterized/nested types carry commas — a string-split tokenizer
    # would see phantom columns ("2)" etc.); the real DDL parser must not
    nested = ("amount decimal(10,2), "
              "attrs array<struct<a int,b int>>, error_reason string")
    ndf = eng.errors_df(empty_schema=nested)
    assert ndf.columns == ["amount", "attrs", "error_reason",
                           "checkpoint_epoch"]
    assert dict(ndf.dtypes)["amount"] == "decimal(10,2)"
    assert ndf.count() == 0


def test_replay_with_pipeline_transform(spark, t1, registry, tmp_path):
    """replay(transform=...) — the InputReader → Pipeline → DataStore hook
    (PersistencePipeline.java): a decision-table rule rewrites a payload
    column on the change stream before the engine sees it. Final state must
    equal the oracle replay of the SAME transformed events; envelope
    columns, exactly-once bookkeeping, and lineage stay intact."""
    from cdc_core_spark.functions.decision_table import (
        DecisionRule, apply_decision_table)
    from cdc_core_spark.oracle import expected_final

    rule = DecisionRule("upper_commit", "commit IS NOT NULL",
                        {"commit": "upper(commit)"})

    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src,
               transform=lambda df: apply_decision_table(df, [rule]))

    ev = t1["fx"].change_events.copy()
    ev["commit"] = ev["commit"].str.upper()
    expected = expected_final(t1["fx"].source_repos, ev)
    assert_final_equal(eng.read_final_with_sha().toPandas(), expected)
    # untouched initial-load rows keep their original (lowercase) commits
    got = eng.read_final_with_sha().toPandas()
    assert (got["commit"].dropna().str.islower().any()
            and got["commit"].dropna().str.isupper().any())


def test_reprocess_errors_dlq_retry(spark, t1, registry, tmp_path):
    """DLQ retry (MessageMode Error→Retry, MessageObject.java:32-43): repair
    the delete-with-content quarantine rows (null the content) and re-apply
    them as a new epoch. Final state must equal the oracle replay where the
    SAME rows became valid deletes; rows the repair does not fix re-quarantine
    under the repair epoch; re-running the repair epoch is a no-op."""
    from pyspark.sql import functions as F
    from cdc_core_spark.oracle import expected_final

    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)
    n_bad = eng.errors_df().count()
    assert n_bad > 0

    def repair(df):
        return df.withColumn(
            "content",
            F.when((F.col("op") == 5) & F.col("content").isNotNull(),
                   F.lit(None).cast("string")).otherwise(F.col("content")))

    manifests = eng.reprocess_errors(repair, repair_epoch=99)
    assert manifests and all(m["checkpoint_epoch"] == 99 for m in manifests)
    assert eng.reprocess_errors(repair, repair_epoch=99) == []  # exactly-once

    ev2 = t1["fx"].change_events.copy()
    fixed = (ev2["op"] == 5) & ev2["content"].notna()
    ev2.loc[fixed, "content"] = None
    expected = expected_final(t1["fx"].source_repos, ev2)
    assert_final_equal(eng.read_final_with_sha().toPandas(), expected)
    # the state actually moved: repaired deletes removed rows
    assert len(expected) < len(t1["expected"]) or not fixed.any()

    left = eng.errors_df().filter("checkpoint_epoch = 99")
    n_fixed = int(fixed.sum())
    assert left.count() == n_bad - n_fixed
    reasons = {r["error_reason"] for r in left.select("error_reason").distinct().collect()}
    assert "delete_with_content" not in reasons and reasons <= {"invalid_op", "null_key"}


def test_manifest_write_volume_matches_staged_bytes(spark, t1, registry,
                                                    tmp_path):
    """bytes_written/files_written in the manifests are the exact staged
    MOR-delta write volume: their totals must equal the byte/file counts of
    the delta files the snapshot references (write-amplification lineage an
    operator trends against events_applied to pick compact's
    min_delta_files)."""
    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)

    m = eng.manifests_df().toPandas()
    deltas = [f for f in eng.table.latest().files if f.get("kind") == "delta"]
    assert deltas and all(f.get("bytes", 0) > 0 for f in deltas)
    assert int(m["bytes_written"].sum()) == sum(f["bytes"] for f in deltas)
    assert int(m["files_written"].sum()) == len(deltas)
    # the initial-load row carries zeros (merge commit, not a delta stage)
    init = m[m["checkpoint_epoch"] == -1]
    assert (init["bytes_written"] == 0).all()
    # block_deltas exposes the same per-file sizes
    bd = {d["path"]: d for d in eng.table.block_deltas()}
    assert all(bd[f["path"]]["bytes"] == f["bytes"] for f in deltas)


@pytest.fixture(scope="module")
def replayed(spark, t1, registry, tmp_path_factory):
    eng = CdcEngine(spark, str(tmp_path_factory.mktemp("replayed")),
                    registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)
    return eng


def _assert_df_equal(a, b):
    assert a.columns == b.columns
    assert a.schema == b.schema
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_columns_projection_pruned_and_equal(spark, replayed):
    """``columns=`` must (a) return values identical to a post-hoc select on
    the full read — across the evolved ADD+RENAME+WIDEN history, so the
    restricted fields list still drives alias/widen normalization — and
    (b) actually prune the Spark scan: the MOR fold's max_by struct blocks
    Catalyst column pruning, which is the whole reason the parameter
    exists, so ReadSchema must not contain the unprojected wide column."""
    import re

    t = replayed.table
    cols = ["path", "language", "rev"]   # key + renamed + widened
    _assert_df_equal(t.read(spark).select(*cols), t.read(spark, columns=cols))

    plan = t.read(spark, columns=cols)._jdf.queryExecution() \
        .executedPlan().toString()
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas and all("content" not in s for s in schemas), plan

    with pytest.raises(ValueError, match="unknown columns"):
        t.read(spark, columns=["language", "no_such_col"])
    with pytest.raises(ValueError, match="non-empty"):
        t.read(spark, columns=[])


def test_count_final_equals_full_fold_count(spark, replayed):
    """count_final's keys-only projected fold must agree with the full
    fold's count on a history containing tombstones and multi-epoch
    re-deliveries — the cases where a metadata count would be wrong."""
    assert replayed.count_final() == replayed.read_final().count()


def test_fold_keeps_null_payload_of_winner(spark, tmp_path):
    """The winner's OWN null must survive the MOR fold: a newer delta with
    a null payload beats an older non-null one."""
    import pandas as pd
    from cdc_core_spark.lake import SnapshotTable

    fields = [{"name": "repo", "type": "string"},
              {"name": "path", "type": "string"},
              {"name": "content", "type": "string"}]
    t = SnapshotTable.create(str(tmp_path / "nulls"), fields,
                             ["repo", "path"], n_buckets=2)
    mk = lambda rows: spark.createDataFrame(
        pd.DataFrame(rows), schema=("repo string, path string, content string, "
                                    "_op_ts bigint, _event_seq bigint, "
                                    "_deleted boolean, _bucket int"))
    t.commit_delta(mk([{"repo": "r", "path": "p", "content": "old",
                        "_op_ts": 1, "_event_seq": 1, "_deleted": False,
                        "_bucket": 0}]), epoch=0, manifests=[])
    t.commit_delta(mk([{"repo": "r", "path": "p", "content": None,
                        "_op_ts": 2, "_event_seq": 2, "_deleted": False,
                        "_bucket": 0}]), epoch=1, manifests=[])
    got = t.read(spark).toPandas()
    assert len(got) == 1
    assert got["content"].isna().all()   # null wins, not "old"


def _no_work_left(spark):
    """Nothing the apply started outlives it: no running Spark job and no
    live lineage worker thread."""
    import threading

    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    assert not [t for t in threading.enumerate()
                if t.name == "cdc-lineage" and t.is_alive()]


@pytest.mark.parametrize("entry", ["apply_epoch", "replay"])
def test_dlq_write_error_aborts_the_publish(spark, t1, registry, tmp_path,
                                            monkeypatch, entry):
    """The DLQ write runs on the lineage worker beside the stage write; when
    it raises, the error reaches the caller, nothing publishes (ledger and
    head snapshot unchanged), nothing keeps running, and a rerun reaches
    the oracle."""
    from pyspark.sql import DataFrameWriter
    from pyspark.sql import functions as F

    from cdc_core_spark.oracle import is_valid_event

    ev = t1["fx"].change_events
    data = ev[~ev["op"].isin([0, 1, 2])]
    bad_epoch = int(data[~is_valid_event(data)]["checkpoint_epoch"].min())
    log = f'{t1["dir"]}/change_events'
    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=4)
    eng.initial_load(spark.read.parquet(f'{t1["dir"]}/source_repos.parquet'))
    events = spark.read.parquet(log)

    def apply(epochs):
        for e in epochs:
            eng.apply_epoch(events.filter(F.col("checkpoint_epoch") == e), e)

    if entry == "apply_epoch":
        apply(range(bad_epoch))
    head, done = eng.table.latest().version, eng.table.committed_epochs()

    write_parquet = DataFrameWriter.parquet

    def failing(self, path, *args, **kwargs):
        if path == eng.errors_dir:
            raise OSError("DLQ write failed")
        return write_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    with pytest.raises(OSError, match="DLQ write failed"):
        if entry == "apply_epoch":
            apply([bad_epoch])
        else:
            eng.replay(log)
    _no_work_left(spark)
    assert eng.table.latest().version == head
    assert eng.table.committed_epochs() == done

    monkeypatch.undo()
    if entry == "apply_epoch":
        apply(range(bad_epoch, 8))
    else:
        eng.replay(log)
    assert_final_equal(eng.read_final_with_sha().toPandas(), t1["expected"])
    assert eng.errors_df().count() == expected_quarantine_count(ev)


def test_stage_write_error_joins_the_worker(spark, t1, registry, tmp_path,
                                            monkeypatch):
    """When the stage write raises, the lineage worker (here slowed inside
    its DLQ write) has finished before the error reaches the caller."""
    import time

    from pyspark.sql import DataFrameWriter

    from cdc_core_spark.lake import SnapshotTable

    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=4)
    eng.initial_load(spark.read.parquet(f'{t1["dir"]}/source_repos.parquet'))
    head = eng.table.latest().version
    dlq_done = []
    write_parquet = DataFrameWriter.parquet

    def slow_dlq(self, path, *args, **kwargs):
        if path == eng.errors_dir:
            time.sleep(2)
            write_parquet(self, path, *args, **kwargs)
            dlq_done.append(path)
            return None
        return write_parquet(self, path, *args, **kwargs)

    def failing_stage(self, *args, **kwargs):
        raise OSError("stage write failed")

    monkeypatch.setattr(DataFrameWriter, "parquet", slow_dlq)
    monkeypatch.setattr(SnapshotTable, "_stage_files", failing_stage)
    with pytest.raises(OSError, match="stage write failed"):
        eng.replay(f'{t1["dir"]}/change_events', lease=False)
    assert dlq_done == [eng.errors_dir]
    _no_work_left(spark)
    assert eng.table.latest().version == head
