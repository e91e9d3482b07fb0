"""IncrementalRollup: changelog-maintained aggregates equal direct GROUP BY.

The invariant under test at every step: after any sequence of engine epochs
(inserts, updates, deletes, in-band DDL — column add, rename, type-widen),
``rollup.refresh(); rollup.read()`` must equal a from-scratch aggregate over
the source table's converged state. The t1 engine fixture exercises the full
CDC surface; the synthetic tables pin the per-aggregate edge semantics
(NULL groups, all-NULL value groups, emptied groups, out-of-order losers).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_core_spark.engine import CdcEngine
from cdc_core_spark.lake import SnapshotTable, bucket_expr
from cdc_core_spark.operators.rollup import (IncrementalRollup,
                                             RollupSpecError, _canon_spec)

GROUP = ["lang"]
AGGS = [{"op": "count"}, {"op": "sum", "col": "rev"},
        {"op": "avg", "col": "rev"}, {"op": "min", "col": "rev"},
        {"op": "max", "col": "rev"}]


def _direct(spark, table):
    """From-scratch aggregate over converged state, spec-aligned: the
    creation-time group column `lang` reads as `language` post-rename."""
    snap = table.latest()
    g = snap.aliases.get("lang", "lang")
    df = table.read(spark)
    return df.groupBy(F.col(g).alias("lang")).agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("rev").alias("sum_rev"),
        F.avg("rev").alias("avg_rev"), F.min("rev").alias("min_rev"),
        F.max("rev").alias("max_rev"))


def _as_map(df):
    out = {}
    for r in df.collect():
        vals = []
        for c in ("cnt", "sum_rev", "avg_rev", "min_rev", "max_rev"):
            v = r[c]
            vals.append(round(v, 6) if isinstance(v, float) else v)
        out[r["lang"]] = tuple(vals)
    return out


def test_rollup_tracks_engine_replay_per_epoch(spark, t1, registry, tmp_path):
    """Refresh after EVERY epoch of the t1 replay (through the add-column,
    rename and int→long widen DDLs) and compare against the direct
    aggregate each time — the incremental state never drifts."""
    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src, epochs=[])
    roll = IncrementalRollup.create(spark, eng.table, str(tmp_path / "r"),
                                    GROUP, AGGS)
    assert _as_map(roll.read(spark)) == _as_map(_direct(spark, eng.table))

    epochs = sorted(
        int(p.split("=")[1].split("/")[0])
        for p in __import__("glob").glob(
            f'{t1["dir"]}/change_events/checkpoint_epoch=*'))
    for ep in epochs:
        eng.replay(f'{t1["dir"]}/change_events', epochs=[ep])
        roll.refresh(spark)
        assert roll.base_version == eng.table.latest().version
        assert _as_map(roll.read(spark)) == _as_map(_direct(spark, eng.table)), \
            f"drift after epoch {ep}"


def _mk_src(spark, root, rows_, ts):
    fields = [{"name": "k", "type": "long"}, {"name": "g", "type": "string"},
              {"name": "v", "type": "long"}]
    t = SnapshotTable.create(root, fields=fields, key_cols=["k"], n_buckets=4)
    t.commit_delta(_rows(spark, rows_, ts), epoch=0, manifests=[])
    return t


def _rows(spark, data, ts):
    df = spark.createDataFrame(data, "k long, g string, v long, _deleted boolean")
    return (df.withColumn("_op_ts", F.lit(ts).cast("bigint"))
            .withColumn("_event_seq", F.col("k"))
            .withColumn("_bucket", bucket_expr(["k"], 4)))


SPEC5 = [{"op": "count"}, {"op": "sum", "col": "v"}, {"op": "avg", "col": "v"},
         {"op": "min", "col": "v"}, {"op": "max", "col": "v"}]


def test_rollup_edge_semantics(spark, tmp_path):
    """NULL group key, all-NULL value group, emptied group, key moving
    between groups, and an out-of-order in-range event that must LOSE to
    the base row's version tuple."""
    t = _mk_src(spark, str(tmp_path / "s"),
                [(1, "a", 10, False), (2, "a", 20, False), (3, "b", 5, False),
                 (4, "b", None, False), (5, None, 7, False), (6, "c", 1, False)],
                ts=100)
    r = IncrementalRollup.create(spark, t, str(tmp_path / "r"), ["g"], SPEC5)
    # k=2's change carries op_ts=50 < base 100: the table keeps v=20 and so
    # must the rollup (post-image folds base-version tuples with winners)
    ev = _rows(spark, [(1, "a", 100, False), (3, "b", 5, True),
                       (6, "a", 2, False), (2, "a", 999, False)], 200)
    ev = ev.withColumn("_op_ts", F.when(F.col("k") == 2, F.lit(50))
                       .otherwise(F.col("_op_ts")))
    t.commit_delta(ev, epoch=1, manifests=[])
    r.refresh(spark)

    got = {row["g"]: (row["cnt"], row["sum_v"], row["min_v"], row["max_v"])
           for row in r.read(spark).collect()}
    assert got == {
        "a": (3, 122, 2, 100),       # 100 + 20 (stale loser kept) + 2 (moved in)
        "b": (1, None, None, None),  # only the all-NULL-value row remains
        None: (1, 7, 7, 7),          # NULL is a real group
    }
    # group c emptied -> dropped from the rollup entirely
    assert r.table.read(spark).filter("g = 'c'").count() == 0
    # and the rollup equals the direct aggregate
    direct = t.read(spark).groupBy("g").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("sum_v"),
        F.avg("v").alias("avg_v"), F.min("v").alias("min_v"),
        F.max("v").alias("max_v"))
    assert _as_map2(r.read(spark)) == _as_map2(
        direct.select("g", "cnt", "sum_v", "avg_v", "min_v", "max_v"))


def test_rollup_idempotent_resume_and_maintenance(spark, tmp_path):
    t = _mk_src(spark, str(tmp_path / "s"),
                [(1, "a", 10, False), (2, "b", 20, False)], ts=100)
    r = IncrementalRollup.create(spark, t, str(tmp_path / "r"), ["g"], SPEC5)
    assert r.refresh(spark) is None  # already caught up

    t.commit_delta(_rows(spark, [(3, "a", 5, False)], 200), epoch=1,
                   manifests=[])
    assert r.refresh(spark) is not None
    v = r.base_version
    assert r.refresh(spark) is None  # same version: exactly-once no-op

    # a maintenance rewrite (compaction) is state-preserving: refresh
    # advances the consumed version without touching any aggregate
    t.compact(spark)
    before = _as_map2(r.read(spark))
    r.refresh(spark)
    assert r.base_version == t.latest().version > v
    assert _as_map2(r.read(spark)) == before

    # resume from disk: load() restores spec + base version from props
    r2 = IncrementalRollup.load(t, str(tmp_path / "r"))
    assert r2.group_cols == ["g"]
    assert r2.refresh(spark) is None
    assert _as_map2(r2.read(spark)) == before


def test_rollup_refresh_is_readable_as_change_data(spark, tmp_path):
    """A refresh commits one merge-on-read delta holding only the groups
    it changed, so CDC-out reads the rollup incrementally: a changed group
    comes back as an ``upsert`` with its new accumulators and an emptied
    group as a ``delete``; every file the refresh adds is a delta and every
    earlier file stays live."""
    t = _mk_src(spark, str(tmp_path / "s"),
                [(1, "a", 10, False), (2, "b", 20, False), (3, "c", 5, False)],
                ts=100)
    r = IncrementalRollup.create(spark, t, str(tmp_path / "r"), ["g"], SPEC5)
    before = r.table.latest()
    t.commit_delta(_rows(spark, [(1, "a", 11, False), (3, "c", 5, True)], 200),
                   epoch=1, manifests=[])
    snap = r.refresh(spark)

    got = {(row["g"], row["_change_op"], row["cnt"], row["sum_v"])
           for row in r.table.read_changes(spark, before.version).collect()}
    assert got == {("a", "upsert", 1, 11), ("c", "delete", 0, 0)}
    old = {f["path"] for f in before.files}
    new = [f for f in snap.files if f["path"] not in old]
    assert old <= {f["path"] for f in snap.files}
    assert new and all(f.get("kind") == "delta" for f in new)
    assert _as_map2(r.read(spark)) == {"a": (1, 11, 11.0, 11, 11),
                                       "b": (1, 20, 20.0, 20, 20)}


def _as_map2(df):
    return {r["g"]: tuple(round(v, 6) if isinstance(v, float) else v
                          for v in r[1:]) for r in df.collect()}


def test_rollup_cow_upstream_raises(spark, tmp_path):
    """A logical copy-on-write commit upstream cannot be read incrementally:
    refresh must surface read_changes' error, not silently lose changes."""
    from tests.conftest import as_older_logical_rewrite

    t = _mk_src(spark, str(tmp_path / "s"), [(1, "a", 10, False)], ts=100)
    r = IncrementalRollup.create(spark, t, str(tmp_path / "r"), ["g"], SPEC5)
    # an older copy-on-write build's engine epoch rewrote the touched
    # buckets' files: a compaction's doc carrying that epoch is the same
    # commit (it genuinely removes files — a merge that only adds files is
    # a pure-additive append and stays incrementally readable)
    t.compact(spark)
    as_older_logical_rewrite(t, epoch=1, manifests=[
        {"checkpoint_epoch": 1, "partition_id": 0, "events_read": 1,
         "events_applied": 1, "events_error": 0, "max_event_seq": 2}])
    with pytest.raises(ValueError, match="LOGICAL rewrite"):
        r.refresh(spark)


def test_rollup_spec_validation(spark, tmp_path):
    types = {"k": "long", "g": "string", "v": "long", "s": "string"}
    with pytest.raises(RollupSpecError, match="unsupported op"):
        _canon_spec(["g"], [{"op": "median", "col": "v"}], types)
    with pytest.raises(RollupSpecError, match="not numeric"):
        _canon_spec(["g"], [{"op": "sum", "col": "s"}], types)
    with pytest.raises(RollupSpecError, match="requires a col"):
        _canon_spec(["g"], [{"op": "sum"}], types)
    with pytest.raises(RollupSpecError, match="duplicate"):
        _canon_spec(["g"], [{"op": "sum", "col": "v", "as": "x"},
                            {"op": "avg", "col": "v", "as": "x"}], types)
    t = _mk_src(spark, str(tmp_path / "s"), [(1, "a", 10, False)], ts=100)
    with pytest.raises(RollupSpecError, match="unknown group column"):
        IncrementalRollup.create(spark, t, str(tmp_path / "r"), ["nope"],
                                 [{"op": "count"}])


def test_rollup_random_model(spark, tmp_path):
    """Randomized sequences of insert/update/delete epochs: the incremental
    rollup equals the direct aggregate after every refresh (seeded)."""
    import random
    rng = random.Random(0xC0FFEE)
    keys = list(range(40))
    groups = ["g0", "g1", "g2", None]
    t = _mk_src(spark, str(tmp_path / "s"),
                [(k, rng.choice(groups), rng.choice([None, rng.randint(-50, 50)]),
                  False) for k in keys[:20]], ts=0)
    r = IncrementalRollup.create(spark, t, str(tmp_path / "r"), ["g"], SPEC5)
    for epoch in range(1, 6):
        n = rng.randint(1, 12)
        batch = [(rng.choice(keys), rng.choice(groups),
                  rng.choice([None, rng.randint(-50, 50)]),
                  rng.random() < 0.2) for _ in range(n)]
        # one row per key per epoch (the engine's LWW contract upstream)
        batch = list({b[0]: b for b in batch}.values())
        t.commit_delta(_rows(spark, batch, ts=epoch * 10), epoch=epoch,
                       manifests=[])
        if epoch % 2 == 0:
            continue  # exercise multi-version refresh ranges
        r.refresh(spark)
    r.refresh(spark)
    direct = t.read(spark).groupBy("g").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("sum_v"),
        F.avg("v").alias("avg_v"), F.min("v").alias("min_v"),
        F.max("v").alias("max_v"))
    assert _as_map2(r.read(spark)) == _as_map2(
        direct.select("g", "cnt", "sum_v", "avg_v", "min_v", "max_v"))


def test_rollup_group_col_widen_and_crash_create(spark, tmp_path):
    """(a) an int→long widen DDL on the GROUP column between refreshes must
    not wrap/overflow the rollup's stored group key (stored wide from
    creation); (b) an interrupted create() — metadata commit published,
    initial aggregate never written — must refuse load()/refresh() loudly
    rather than fold deltas onto empty state."""
    from cdc_core_spark.operators.rollup import RollupStateError

    fields = [{"name": "k", "type": "long"}, {"name": "g", "type": "int"},
              {"name": "v", "type": "long"}]
    t = SnapshotTable.create(str(tmp_path / "s"), fields=fields,
                             key_cols=["k"], n_buckets=4)
    df = spark.createDataFrame([(1, 7, 10, False), (2, 7, 20, False)],
                               "k long, g int, v long, _deleted boolean")
    t.commit_delta(df.withColumn("_op_ts", F.lit(100).cast("bigint"))
                   .withColumn("_event_seq", F.col("k"))
                   .withColumn("_bucket", bucket_expr(["k"], 4)),
                   epoch=0, manifests=[])
    r = IncrementalRollup.create(spark, t, str(tmp_path / "r"), ["g"],
                                 [{"op": "count"}, {"op": "sum", "col": "v"}])
    # widen g int→long, then a group value beyond int range arrives
    t.commit_metadata([{"name": "k", "type": "long"},
                       {"name": "g", "type": "long"},
                       {"name": "v", "type": "long"}], {})
    big = 2_147_483_648 + 5
    df2 = spark.createDataFrame([(3, big, 5, False)],
                                "k long, g long, v long, _deleted boolean")
    t.commit_delta(df2.withColumn("_op_ts", F.lit(200).cast("bigint"))
                   .withColumn("_event_seq", F.col("k"))
                   .withColumn("_bucket", bucket_expr(["k"], 4)),
                   epoch=1, manifests=[])
    r.refresh(spark)
    got = {row["g"]: (row["cnt"], row["sum_v"])
           for row in r.read(spark).collect()}
    assert got == {7: (2, 30), big: (1, 5)}

    # interrupted create: metadata-only v0, no initial aggregate commit
    broken = SnapshotTable.create(
        str(tmp_path / "broken"), fields=[{"name": "g", "type": "long"},
                                          {"name": "cnt", "type": "long"}],
        key_cols=["g"], props={"rollup_spec": "{\"group_cols\": [\"g\"], \"aggs\": []}"})
    assert broken is not None
    with pytest.raises(RollupStateError, match="never finalized"):
        IncrementalRollup.load(t, str(tmp_path / "broken"))
