"""key_history: per-key audit trail equals the independent per-epoch-winner
model; maintenance rewrites stay out unless asked for."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from cdc_core_spark import oracle
from cdc_core_spark.engine import CdcEngine
from cdc_core_spark.synth import OP_DELETE


def _valid_events(fx) -> pd.DataFrame:
    ev = fx.change_events
    return ev[oracle.is_valid_event(ev)]


def _winners_per_epoch(ev: pd.DataFrame, repo: str, path: str) -> pd.DataFrame:
    """Independent model of what each epoch committed for one key: the
    (op_ts, event_seq)-max valid event of that epoch (within-epoch dup
    deliveries collapse to the same winner by definition)."""
    k = ev[(ev["repo"] == repo) & (ev["path"] == path)]
    return (k.sort_values(["op_ts", "event_seq"], kind="stable")
            .groupby("checkpoint_epoch").tail(1)
            .sort_values("checkpoint_epoch"))


def test_key_history_matches_per_epoch_winner_model(spark, t1, registry,
                                                    tmp_path):
    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)

    ev = _valid_events(t1["fx"])
    # the busiest key: most distinct epochs touched (maximal history)
    busiest = (ev.groupby(["repo", "path"])["checkpoint_epoch"].nunique()
               .idxmax())
    repo, path = busiest
    exp = _winners_per_epoch(ev, repo, path)

    hist = (eng.table.key_history(spark, {"repo": repo, "path": path})
            .toPandas())
    # the engine stamps initial-load rows at the (-1, -1) LWW floor, NOT
    # NULL (NULL would mean a non-engine writer)
    init_rows = hist[hist["op_ts"] == -1]
    applied = hist[hist["op_ts"].notna() & (hist["op_ts"] != -1)]

    # initial snapshot load contributes exactly one 'U' row iff the key
    # was in the source table
    in_src = ((t1["fx"].source_repos["repo"] == repo)
              & (t1["fx"].source_repos["path"] == path)).any()
    assert len(init_rows) == (1 if in_src else 0)
    if in_src:
        assert init_rows.iloc[0]["op"] == "U"

    # non-vacuous init coverage: a key that IS in the source table
    src0 = t1["fx"].source_repos.iloc[0]
    h0 = (eng.table.key_history(
        spark, {"repo": src0["repo"], "path": src0["path"]}).toPandas())
    first = h0.iloc[0]
    assert first["op_ts"] == -1 and first["event_seq"] == -1
    assert first["op"] == "U" and first["content"] == src0["content"]

    assert applied["epoch"].tolist() == exp["checkpoint_epoch"].tolist()
    assert applied["op_ts"].tolist() == exp["op_ts"].astype("int64").tolist()
    assert applied["event_seq"].tolist() == \
        exp["event_seq"].astype("int64").tolist()
    assert applied["op"].tolist() == \
        ["D" if o == OP_DELETE else "U" for o in exp["op"]]
    # COMMIT order (a later epoch may carry an earlier-timestamped
    # out-of-order event, so op_ts is NOT monotone); initial load first
    assert hist["version"].is_monotonic_increasing
    assert hist["epoch"].fillna(-1).is_monotonic_increasing


def test_key_history_excludes_maintenance_rewrites(spark, t1, registry,
                                                   tmp_path):
    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)

    ev = _valid_events(t1["fx"])
    # a key that survives (last event not a delete) so compaction carries it
    last = (ev.sort_values(["op_ts", "event_seq"], kind="stable")
            .groupby(["repo", "path"]).tail(1))
    alive = last[last["op"] != OP_DELETE].iloc[0]
    key = {"repo": alive["repo"], "path": alive["path"]}

    before = eng.table.key_history(spark, key).toPandas()
    eng.compact()
    after = eng.table.key_history(spark, key).toPandas()
    # the rewrite adds NO logical versions to the default view...
    pd.testing.assert_frame_equal(
        before.reset_index(drop=True), after.reset_index(drop=True))
    # ...and shows up only when explicitly asked for
    with_rw = eng.table.key_history(spark, key,
                                    include_rewrites=True).toPandas()
    assert len(with_rw) > len(after)


def test_key_history_survives_rebucketing(spark, t1, registry, tmp_path):
    """compact(n_buckets=N) changes the key's bucket id going forward; the
    walk must prune with each snapshot's OWN bucket count or the whole
    pre-rebucket trail silently vanishes (regression)."""
    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)
    ev = _valid_events(t1["fx"])
    busiest = (ev.groupby(["repo", "path"])["checkpoint_epoch"].nunique()
               .idxmax())
    key = {"repo": busiest[0], "path": busiest[1]}
    before = eng.table.key_history(spark, key).toPandas()
    assert len(before) > 0
    eng.compact(n_buckets=13)
    after = eng.table.key_history(spark, key).toPandas()
    pd.testing.assert_frame_equal(
        before.reset_index(drop=True), after.reset_index(drop=True))


def test_key_history_empty_result_with_long_field(spark, tmp_path):
    """The empty-history branch must build its DDL from the already-SQL
    tmap — a table carrying long fields used to crash there on the
    double-converted type name (regression)."""
    from cdc_core_spark.lake import SnapshotTable
    t = SnapshotTable.create(
        str(tmp_path / "t"),
        fields=[{"name": "k", "type": "string"},
                {"name": "v", "type": "long"}],
        key_cols=["k"], n_buckets=4)
    got = t.key_history(spark, {"k": "x"})
    assert got.count() == 0
    assert "op_ts" in got.columns and "version" in got.columns


def test_key_history_missing_key_and_null_key(spark, t1, registry, tmp_path):
    import pytest
    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src, epochs=[0])
    assert eng.table.key_history(
        spark, {"repo": "no-such", "path": "nope"}).count() == 0
    with pytest.raises(ValueError, match="non-null"):
        eng.table.key_history(spark, {"repo": "r1", "path": None})


def test_key_history_oldest_retained_is_maintenance(spark, t1, registry,
                                                    tmp_path):
    """After expire_snapshots leaves a COMPACTION as the oldest retained
    snapshot, its first-seen files are originals — the only carrier of the
    key's surviving versions — and must appear under the default
    include_rewrites=False view (attribute-to-oldest rule, same as
    block_deltas); skipping them as rewrites would silently return an
    empty audit trail (ADVICE r4)."""
    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)

    ev = _valid_events(t1["fx"])
    last = (ev.sort_values(["op_ts", "event_seq"], kind="stable")
            .groupby(["repo", "path"]).tail(1))
    alive = last[last["op"] != OP_DELETE].iloc[0]
    key = {"repo": alive["repo"], "path": alive["path"]}

    eng.compact()
    eng.table.expire_snapshots(keep_last=1)   # head == the compaction
    hist = eng.table.key_history(spark, key).toPandas()
    assert len(hist) == 1, hist               # the surviving version
    cur = (eng.table.read(spark)
           .filter((F.col("repo") == key["repo"])
                   & (F.col("path") == key["path"])).toPandas())
    assert hist["content"].tolist() == cur["content"].tolist()
    assert hist["op"].tolist() == ["U"]


def _to_epoch_layer_layout(table) -> int:
    """Rewrite every delta file of ``table`` into the layout group commits
    staged before the one-layer change: one ``checkpoint_epoch=<e>/
    _bucket=<b>/`` file per (epoch, bucket), the epoch in the path and in
    the file record's ``epoch`` key instead of a stored column, plus the
    ``_max_seq`` lineage column. Every snapshot doc is rewritten to match.
    Returns the number of old-layout files written."""
    import glob
    import json
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    moved: dict[str, list[dict]] = {}
    for f in table.latest().files:
        if f.get("kind") != "delta":
            continue
        src = os.path.join(table.root, f["path"])
        data = pq.read_table(src)
        stage = os.path.dirname(os.path.dirname(f["path"]))
        recs = []
        for e in sorted(set(data.column("checkpoint_epoch").to_pylist())):
            part = (data.filter(pc.equal(data["checkpoint_epoch"], e))
                    .drop_columns(["checkpoint_epoch"]))
            part = part.append_column("_max_seq", part["_event_seq"])
            rel = os.path.join(stage, f"checkpoint_epoch={e}",
                               f"_bucket={f['bucket']}",
                               os.path.basename(f["path"]))
            os.makedirs(os.path.join(table.root, os.path.dirname(rel)),
                        exist_ok=True)
            pq.write_table(part, os.path.join(table.root, rel))
            recs.append({**f, "path": rel, "epoch": e,
                         "bytes": os.path.getsize(
                             os.path.join(table.root, rel))})
        moved[f["path"]] = recs
        os.remove(src)
    for doc_path in glob.glob(os.path.join(table.log_dir, "v*.json")):
        with open(doc_path) as fh:
            doc = json.load(fh)
        assert isinstance(doc["files"], list)   # no manifest-list sidecar
        doc["files"] = [r for f in doc["files"]
                        for r in moved.get(f["path"], [f])]
        with open(doc_path, "w") as fh:
            json.dump(doc, fh)
    return sum(len(v) for v in moved.values())


def test_epoch_layer_layout_stays_readable(spark, t1, registry, tmp_path):
    """A table whose older delta files use the per-epoch layer layout
    (epoch in the path and file record, ``_max_seq`` column) keeps reading
    exactly like one written at the one-layer layout after new epochs
    commit over it: final state, key_history epochs on old and new rows,
    read_changes and compaction."""
    evdir = f'{t1["dir"]}/change_events'
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    epochs = sorted(t1["fx"].change_events["checkpoint_epoch"].unique()
                    .tolist())
    first, rest = epochs[:len(epochs) // 2], epochs[len(epochs) // 2:]
    engines = {}
    for name in ("old", "new"):
        eng = CdcEngine(spark, str(tmp_path / name), registry, n_buckets=4)
        eng.replay(evdir, source_df=src, epochs=first)
        if name == "old":
            assert _to_epoch_layer_layout(eng.table) > 0
            eng = CdcEngine(spark, str(tmp_path / name), registry,
                            n_buckets=4)
        eng.replay(evdir, epochs=rest)
        engines[name] = eng
    old, new = engines["old"], engines["new"]
    old_files = [f for f in old.table.latest().files if "epoch" in f]
    assert old_files and all("checkpoint_epoch=" in f["path"]
                             for f in old_files)

    def same(a, b):
        assert a.columns == b.columns
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    same(old.read_final(), new.read_final())
    v0 = min(h["version"] for h in new.table.history()
             if h["n_files"] and h["epoch"] is None)
    same(old.table.read_changes(spark, v0), new.table.read_changes(spark, v0))

    # a key with committed versions in both halves: old and new rows
    ev = _valid_events(t1["fx"])
    span = ev.groupby(["repo", "path"])["checkpoint_epoch"].agg(["min", "max"])
    repo, path = span[(span["min"] < rest[0]) & (span["max"] >= rest[0])].index[0]
    key = {"repo": repo, "path": path}
    hist = old.table.key_history(spark, key).toPandas()
    pd.testing.assert_frame_equal(
        hist, new.table.key_history(spark, key).toPandas())
    applied = hist[hist["op_ts"] != -1]
    assert applied["epoch"].tolist() == \
        _winners_per_epoch(ev, repo, path)["checkpoint_epoch"].tolist()
    assert min(applied["epoch"]) in first and max(applied["epoch"]) in rest

    for eng in (old, new):
        eng.compact()
    same(old.read_final(), new.read_final())
    assert old.count_final() == len(t1["expected"])
