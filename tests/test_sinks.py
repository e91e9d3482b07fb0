"""DataStore write-back sink: keyed upsert/delete MERGE into embedded Derby
(AbstractDataStore create/update/upsert/delete surface,
persistence/.../AbstractDataStore.java:140-226, RdbmsDataStore.java:45-98)."""

from __future__ import annotations

import pytest

from cdc_core_spark.sinks import datastore as ds
from cdc_core_spark.sources import readers

PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
DDL = "id long, name string, v long, deleted boolean"
CT = None  # key is BIGINT; nullable "name" must stay CLOB (null VARCHAR bind fails)


def _url(tmp_path, name):
    return f"jdbc:derby:{tmp_path}/{name};create=true"


def _state(spark, url):
    back = readers.read_jdbc(spark, url, "target", properties=PROPS)
    return {r["id"]: (r["name"], r["v"]) for r in back.collect()}


def test_upsert_insert_update_delete(spark, tmp_path):
    url = _url(tmp_path, "db1")
    b1 = spark.createDataFrame(
        [(1, "a", 1, False), (2, "b", 1, False)], DDL)
    ds.upsert_jdbc(b1, url, "target", ["id"], properties=PROPS,
                   deleted_col="deleted", column_types=CT)
    assert _state(spark, url) == {1: ("a", 1), 2: ("b", 1)}

    # update existing, insert new, skip unmatched tombstone
    b2 = spark.createDataFrame(
        [(2, "b2", 2, False), (3, "c", 2, False), (4, "ghost", 2, True)], DDL)
    ds.upsert_jdbc(b2, url, "target", ["id"], properties=PROPS,
                   deleted_col="deleted", column_types=CT)
    assert _state(spark, url) == {1: ("a", 1), 2: ("b2", 2), 3: ("c", 2)}

    # matched tombstone deletes
    b3 = spark.createDataFrame([(3, None, 3, True)], DDL)
    ds.upsert_jdbc(b3, url, "target", ["id"], properties=PROPS,
                   deleted_col="deleted", column_types=CT)
    assert _state(spark, url) == {1: ("a", 1), 2: ("b2", 2)}

    # idempotent re-run: same batch, same final state
    ds.upsert_jdbc(b3, url, "target", ["id"], properties=PROPS,
                   deleted_col="deleted", column_types=CT)
    assert _state(spark, url) == {1: ("a", 1), 2: ("b2", 2)}


def test_upsert_version_guard_rejects_stale(spark, tmp_path):
    """Optimistic-concurrency arm: a stale (lower-version) replayed row must
    not regress the target (BaseEntity @Version / StaleDataError analog)."""
    url = _url(tmp_path, "db2")
    b1 = spark.createDataFrame([(1, "new", 5, False)], DDL)
    ds.upsert_jdbc(b1, url, "target", ["id"], properties=PROPS,
                   deleted_col="deleted", version_col="v", column_types=CT)
    stale = spark.createDataFrame(
        [(1, "stale", 3, False), (1, "stale-del", 4, True)], DDL)
    # two rows same key would break MERGE — apply one at a time (stale order)
    for row in stale.collect():
        one = spark.createDataFrame([tuple(row)], DDL)
        ds.upsert_jdbc(one, url, "target", ["id"], properties=PROPS,
                       deleted_col="deleted", version_col="v", column_types=CT)
    assert _state(spark, url) == {1: ("new", 5)}
    newer = spark.createDataFrame([(1, "v6", 6, False)], DDL)
    ds.upsert_jdbc(newer, url, "target", ["id"], properties=PROPS,
                   deleted_col="deleted", version_col="v", column_types=CT)
    assert _state(spark, url) == {1: ("v6", 6)}


def test_insert_and_delete_jdbc(spark, tmp_path):
    url = _url(tmp_path, "db3")
    df = spark.createDataFrame([(1, "a", 1, False), (2, "b", 1, False)], DDL)
    ds.insert_jdbc(df.drop("deleted"), url, "target",
                   properties=PROPS, column_types=CT)
    keys = spark.createDataFrame([(1,)], "id long")
    ds.delete_jdbc(spark, url, "target", ["id"], keys, properties=PROPS)
    assert set(_state(spark, url)) == {2}


def test_journal_write_read_pruned(spark, tmp_path):
    """Hour-bucketed audit layout (JournalWriter yyyy/MM/dd/HH analog):
    write spreads rows across hour directories; a time-ranged read prunes
    to only the matching partition directories."""
    from cdc_core_spark.sinks import journal

    root = str(tmp_path / "journal")
    hour = 3_600_000
    base = 1_700_000_000_000 - (1_700_000_000_000 % hour)  # hour-aligned
    rows = [(i, base + i * hour // 2) for i in range(8)]   # 4 distinct hours
    df = spark.createDataFrame(rows, "event_id long, op_ts long")
    journal.write_journal(df, root)

    import glob as g
    hours = g.glob(f"{root}/_y=*/_m=*/_d=*/_h=*")
    assert len(hours) == 4

    back = journal.read_journal(spark, root)
    assert back.count() == 8 and "_h" not in back.columns
    # the range is ms-precise: partition pruning trims to hour dirs, then a
    # row-level op_ts predicate trims the boundary hours — a non-aligned
    # range must NOT return every event of the touched hours
    exact = journal.read_journal(spark, root, start_ms=base + hour,
                                 end_ms=base + hour)
    assert sorted(r["event_id"] for r in exact.collect()) == [2]
    one_hour = journal.read_journal(spark, root, start_ms=base + hour,
                                    end_ms=base + 2 * hour - 1)
    assert sorted(r["event_id"] for r in one_hour.collect()) == [2, 3]
    # partition pruning: the range predicate references only partition
    # columns, so it must land in PartitionFilters (pruned before any file
    # is opened), not in the post-scan data filters
    plan = one_hour._jdf.queryExecution().executedPlan().toString()
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "_y" in pf.group(1), plan
    # append mode: a second write adds rows without clobbering
    journal.write_journal(df.limit(1), root)
    assert journal.read_journal(spark, root).count() == 9


def test_registry_from_jdbc_roundtrip(spark, tmp_path):
    """JdbcSchemaGenerator analog: derive a versioned SchemaDef from Derby
    table metadata and round-trip it through the registry."""
    from cdc_core_spark import registry as R

    url = _url(tmp_path, "dbschema")
    df = spark.createDataFrame(
        [(1, "a", 2.5, True)], "id long, name string, score double, ok boolean")
    df.write.jdbc(url, "entities", properties=PROPS)
    sdef = R.from_jdbc(spark, url, "entities", key_cols=["id"],
                       properties=PROPS, major=1, minor=0)
    types = {f["name"]: f["type"] for f in sdef.fields}
    assert types == {"id": "long", "name": "string",
                     "score": "double", "ok": "boolean"}
    kf = sdef.field_map()["id"]
    assert kf.get("key") and not kf["nullable"]   # keys forced non-null
    reg = R.SchemaRegistry([])
    reg.register(sdef)
    assert reg.get("entities", "1.0").key_cols() == ["id"]
    assert reg.latest("entities") is sdef


def test_upsert_composite_key(spark, tmp_path):
    url = _url(tmp_path, "db4")
    ddl = "repo string, path string, content string, deleted boolean"
    ct = "repo VARCHAR(32), path VARCHAR(64)"  # string KEYS need VARCHAR for MERGE ON
    b1 = spark.createDataFrame(
        [("r1", "p1", "c1", False), ("r1", "p2", "c2", False)], ddl)
    ds.upsert_jdbc(b1, url, "target", ["repo", "path"], properties=PROPS,
                   deleted_col="deleted", column_types=ct)
    b2 = spark.createDataFrame(
        [("r1", "p1", "c1b", False), ("r2", "p1", "c3", False),
         ("r1", "p2", None, True)], ddl)
    ds.upsert_jdbc(b2, url, "target", ["repo", "path"], properties=PROPS,
                   deleted_col="deleted", column_types=ct)
    back = readers.read_jdbc(spark, url, "target", properties=PROPS)
    got = {(r["repo"], r["path"]): r["content"] for r in back.collect()}
    assert got == {("r1", "p1"): "c1b", ("r2", "p1"): "c3"}


def test_journal_buckets_are_utc_under_any_session_tz(spark, tmp_path):
    """Bucketing must be UTC regardless of spark.sql.session.timeZone, or
    write-side buckets shear away from read_journal's UTC range keys."""
    from cdc_core_spark.sinks import journal

    root = str(tmp_path / "jtz")
    # 2024-01-03T02:00:00Z — in America/New_York this is Jan 2, 21:00
    ts = 1704247200000
    df = spark.createDataFrame([(1, ts)], "event_id long, op_ts long")
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        journal.write_journal(df, root)
        got = journal.read_journal(spark, root, start_ms=ts, end_ms=ts).collect()
        assert [r["event_id"] for r in got] == [1]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    import glob as g
    assert g.glob(f"{root}/_y=2024/_m=01/_d=03/_h=02")  # UTC bucket, not local


# ---------------------------------------------------------------- docstore

def _doc_rows(spark):
    return spark.createDataFrame(
        [("r1", "a.py", "python", "body-a"),
         ("r1", "b.py", "python", "body-b"),
         ("r2", "c.go", "go", "body-c")],
        "repo string, path string, lang string, content string")


def test_docstore_upsert_replace_and_delete(spark, tmp_path):
    """replaceOne semantics (MongoDbDataStore.java:243, :267): matched docs
    are replaced WHOLE, new keys insert, tombstones remove."""
    from cdc_core_spark.sinks import docstore
    from pyspark.sql import functions as F

    root = str(tmp_path / "docs")
    docstore.upsert_documents(_doc_rows(spark), root, ["repo", "path"])
    got = docstore.read_documents(spark, root)
    assert got.count() == 3 and set(got.columns) == {"repo", "path", "doc"}

    # replace one whole doc (lang dropped from payload → must NOT survive
    # from the old doc: whole-document replace, not column merge),
    # insert a new key, tombstone another
    batch = spark.createDataFrame(
        [("r1", "a.py", "body-a2", False),
         ("r3", "d.rs", "body-d", False),
         ("r1", "b.py", None, True)],
        "repo string, path string, content string, deleted boolean")
    docstore.upsert_documents(batch, root, ["repo", "path"],
                              deleted_col="deleted")
    state = docstore.shred_documents(
        docstore.read_documents(spark, root),
        "lang string, content string")
    rows = {(r["repo"], r["path"]): (r["lang"], r["content"])
            for r in state.collect()}
    assert rows == {("r1", "a.py"): (None, "body-a2"),   # replaced whole
                    ("r2", "c.go"): ("go", "body-c"),    # untouched
                    ("r3", "d.rs"): (None, "body-d")}    # inserted
    # point read
    one = docstore.find_document(spark, root, {"repo": "r2", "path": "c.go"})
    assert one.count() == 1
    # keyed bulk delete
    docstore.delete_documents(
        spark, root, ["repo", "path"],
        spark.createDataFrame([("r2", "c.go")], "repo string, path string"))
    assert docstore.read_documents(spark, root).count() == 2


def test_docstore_upsert_idempotent_and_crash_invisible(spark, tmp_path):
    from cdc_core_spark.sinks import docstore
    import os

    root = str(tmp_path / "docs")
    docstore.upsert_documents(_doc_rows(spark), root, ["repo", "path"])
    before = sorted(map(tuple, docstore.read_documents(spark, root).collect()))
    # same winner set re-applied (at-least-once replay) → identical state
    docstore.upsert_documents(_doc_rows(spark), root, ["repo", "path"])
    after = sorted(map(tuple, docstore.read_documents(spark, root).collect()))
    assert after == before
    # crash: staged data files without a published snapshot are invisible
    import glob
    logs = sorted(glob.glob(os.path.join(root, "_log", "v*.json")))
    os.remove(logs[-1])
    got = sorted(map(tuple, docstore.read_documents(spark, root).collect()))
    assert got == before  # fell back to the previous committed snapshot


def test_docstore_upsert_stages_one_delta_in_its_bucket(spark, tmp_path):
    """The 100-TB property: an upsert stages merge-on-read delta files for
    its own keys only — a one-key batch writes one bucket — and every
    existing file is carried forward BY REFERENCE (same paths in the new
    snapshot); the point read prunes to one bucket and folds the delta."""
    from cdc_core_spark.lake import SnapshotTable, bucket_expr
    from cdc_core_spark.sinks import docstore

    root = str(tmp_path / "docs")
    wide = spark.createDataFrame(
        [(f"r{i}", f"p{i}.py", f"body-{i}") for i in range(200)],
        "repo string, path string, content string")
    docstore.upsert_documents(wide, root, ["repo", "path"], n_buckets=16)
    tbl = SnapshotTable(root)
    files_before = {f["path"] for f in tbl.latest().files}

    one = spark.createDataFrame([("r7", "p7.py", "body-7b")],
                                "repo string, path string, content string")
    docstore.upsert_documents(one, root, ["repo", "path"])
    snap = tbl.latest()
    staged = [f for f in snap.files if f["path"] not in files_before]
    key_bucket = one.select(bucket_expr(["repo", "path"], 16)).first()[0]
    assert staged and all(f.get("kind") == "delta" for f in staged)
    assert {f["bucket"] for f in staged} == {key_bucket}
    assert files_before <= {f["path"] for f in snap.files}   # by reference
    # state correct: replaced doc visible, count unchanged
    assert docstore.read_documents(spark, root).count() == 200
    got = docstore.shred_documents(
        docstore.find_document(spark, root, {"repo": "r7", "path": "p7.py"}),
        "content string").first()
    assert got["content"] == "body-7b"


def test_docstore_null_delete_flag_is_not_a_delete(spark, tmp_path):
    """A NULL value in deleted_col means 'not a delete' — under three-valued
    logic an un-coalesced NULL tombstone flag fails the read filter
    (``NOT _deleted``) and hides the new doc: a silent delete."""
    from cdc_core_spark.sinks import docstore

    root = str(tmp_path / "docs")
    docstore.upsert_documents(
        spark.createDataFrame([("r1", "a.py", "v1")],
                              "repo string, path string, content string"),
        root, ["repo", "path"])
    batch = spark.createDataFrame(
        [("r1", "a.py", "v2", None)],
        "repo string, path string, content string, deleted boolean")
    docstore.upsert_documents(batch, root, ["repo", "path"],
                              deleted_col="deleted")
    rows = docstore.read_documents(spark, root).collect()
    assert len(rows) == 1
    assert '"content":"v2"' in rows[0]["doc"].replace(" ", "")


def test_find_document_key_order_independent_of_field_order(spark, tmp_path):
    """find_document's bucket probe must bind key VALUES to key COLUMNS by
    key_cols order, not snapshot-field declaration order — for a table whose
    field order differs, swapped binding would hash swapped values and
    silently probe the wrong bucket (empty result)."""
    from pyspark.sql import functions as F

    from cdc_core_spark.lake import SnapshotTable, bucket_expr
    from cdc_core_spark.sinks import docstore

    root = str(tmp_path / "docs")
    # field order (path, repo, doc) deliberately differs from key_cols order
    fields = [{"name": "path", "type": "string", "nullable": False},
              {"name": "repo", "type": "string", "nullable": False},
              {"name": "doc", "type": "string", "nullable": True}]
    tbl = SnapshotTable.create(root, fields=fields,
                               key_cols=["repo", "path"], n_buckets=16)
    rows = spark.createDataFrame(
        [(f"p{i}.py", f"r{i % 3}", "{}") for i in range(30)],
        "path string, repo string, doc string")
    state = (rows.withColumn("_op_ts", F.lit(-1).cast("bigint"))
             .withColumn("_event_seq", F.lit(-1).cast("bigint"))
             .withColumn("_deleted", F.lit(False))
             .withColumn("_bucket", bucket_expr(["repo", "path"], 16)))
    tbl.commit_merge(state, list(range(16)), manifests=[])
    hit = docstore.find_document(spark, root, {"repo": "r1", "path": "p1.py"})
    assert hit.count() == 1


def test_docstore_upsert_is_readable_as_change_data(spark, tmp_path):
    """A docstore upsert commits a merge-on-read delta, so CDC-out reads
    it incrementally: ``read_changes`` returns exactly the batch's rows,
    a replaced or inserted doc as ``upsert`` and a tombstone as
    ``delete``."""
    from cdc_core_spark.lake import SnapshotTable
    from cdc_core_spark.sinks import docstore

    root = str(tmp_path / "docs")
    docstore.upsert_documents(_doc_rows(spark), root, ["repo", "path"])
    t = SnapshotTable(root)
    v1 = t.latest().version
    batch = spark.createDataFrame(
        [("r1", "a.py", "body-a2", False),
         ("r9", "z.py", "body-z", False),
         ("r2", "c.go", None, True)],
        "repo string, path string, content string, deleted boolean")
    docstore.upsert_documents(batch, root, ["repo", "path"],
                              deleted_col="deleted")
    got = sorted((r["repo"], r["path"], r["_change_op"])
                 for r in t.read_changes(spark, v1).collect())
    assert got == [("r1", "a.py", "upsert"), ("r2", "c.go", "delete"),
                   ("r9", "z.py", "upsert")]


def test_read_journal_rejects_wrong_ts_col(spark, tmp_path):
    """A ranged read of a journal written with a custom ts_col must fail
    loudly when the reader's ts_col doesn't exist — not trim on the wrong
    column or die with an unresolved-column error deep in the plan."""
    import pytest

    from cdc_core_spark.sinks import journal

    root = str(tmp_path / "j2")
    df = spark.createDataFrame([(1, 1_700_000_000_000)],
                               "event_id long, created_ms long")
    journal.write_journal(df, root, ts_col="created_ms")
    with pytest.raises(ValueError, match="created_ms|ts_col"):
        journal.read_journal(spark, root, start_ms=0, end_ms=2_000_000_000_000)
    back = journal.read_journal(spark, root, start_ms=0,
                                end_ms=2_000_000_000_000, ts_col="created_ms")
    assert back.count() == 1


def test_docstore_upsert_key_type_drift_normalized(spark, tmp_path):
    """A batch whose key column arrives NARROWER than the table's declared
    type (int rev vs stored bigint — the JSON/CSV reader shape) must hash
    into the SAME bucket as the stored doc: xxhash64 is type-sensitive, so
    an un-normalized key would miss the old doc's bucket and strand a
    stale duplicate that find_document returns forever."""
    from cdc_core_spark.sinks import docstore

    root = str(tmp_path / "docs")
    first = spark.createDataFrame([(7, "v1")], "rev bigint, content string")
    docstore.upsert_documents(first, root, ["rev"], n_buckets=16)
    drifted = spark.createDataFrame([(7, "v2")], "rev int, content string")
    docstore.upsert_documents(drifted, root, ["rev"])
    got = docstore.read_documents(spark, root)
    assert got.count() == 1  # replaced, not duplicated across buckets
    one = docstore.find_document(spark, root, {"rev": 7}).collect()
    assert len(one) == 1 and '"v2"' in one[0]["doc"]


def test_table_exists_scoped_to_connection_schema(spark, tmp_path):
    """A same-named table in a FOREIGN schema must not suppress target
    creation: the probe is scoped to the connection's schema."""
    url = _url(tmp_path, "scoped")
    conn = ds._connect(spark, url, PROPS)
    try:
        st = conn.createStatement()
        st.execute("CREATE SCHEMA AUDIT")
        st.execute('CREATE TABLE AUDIT."TARGET" (x INT)')
        st.close()
    finally:
        conn.close()
    # foreign-schema TARGET exists; the connection's own schema has none
    assert ds._table_exists(spark, url, PROPS, "target") is False
    df = spark.createDataFrame([(1, "a", 1, False)], DDL)
    ds.upsert_jdbc(df, url, "target", ["id"], properties=PROPS,
                   deleted_col="deleted", column_types=CT)
    assert _state(spark, url) == {1: ("a", 1)}
