"""Incremental table statistics (table_stats.py): accuracy, churn-
proportional refresh, delete correctness, type handling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_core_spark import table_stats
from cdc_core_spark.engine import CdcEngine


def _replayed(spark, t1, registry, tmp_path, **kw):
    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src, **kw)
    return eng


def _exact(df, cols):
    aggs = []
    for c in cols:
        aggs += [F.count_distinct(F.col(c)).alias(f"ndv_{c}"),
                 F.sum(F.col(c).isNull().cast("long")).alias(f"nl_{c}")]
    return df.agg(*aggs).collect()[0].asDict()


def test_analyze_accuracy_vs_exact(spark, t1, registry, tmp_path):
    eng = _replayed(spark, t1, registry, tmp_path)
    doc = table_stats.analyze(spark, eng.table)
    st = table_stats.stats(spark, eng.table, doc)
    vis = eng.table.read(spark)
    assert st["row_count"] == vis.count()
    exact = _exact(vis, ["repo", "path", "language", "rev"])
    for c in ("repo", "path", "language", "rev"):
        est, true = st["columns"][c]["ndv"], exact[f"ndv_{c}"]
        # lg_k=12 HLL: ±~2.5% standard error; allow 5% (and exact smalls)
        assert abs(est - true) <= max(3, 0.05 * true), (c, est, true)
        assert st["columns"][c]["null_count"] == exact[f"nl_{c}"]
    # min/max exact on a string key column
    mm = vis.agg(F.min("repo"), F.max("repo")).collect()[0]
    assert st["columns"]["repo"]["min"] == mm[0]
    assert st["columns"]["repo"]["max"] == mm[1]


def test_refresh_is_churn_proportional_and_correct(spark, t1, registry,
                                                   tmp_path):
    """Analyze after 6 epochs, replay the rest, refresh: only buckets whose
    files changed recompute, and the merged numbers equal a from-scratch
    analyze of the final state."""
    eng = _replayed(spark, t1, registry, tmp_path, epochs=[0, 1, 2, 3, 4, 5])
    table_stats.analyze(spark, eng.table)
    eng.replay(f'{t1["dir"]}/change_events',
               source_df=spark.read.parquet(
                   f'{t1["dir"]}/source_repos.parquet'))
    doc = table_stats.refresh(spark, eng.table)
    assert doc["table_version"] == eng.table.latest().version
    n_changed = len(doc["refreshed_buckets"])
    assert 0 < n_changed <= 8
    got = table_stats.stats(spark, eng.table, doc)
    full = table_stats.stats(
        spark, eng.table, table_stats.analyze(spark, eng.table))
    assert got["row_count"] == full["row_count"]
    for c in got["columns"]:
        assert got["columns"][c]["null_count"] == full["columns"][c]["null_count"]
        assert got["columns"][c]["min"] == full["columns"][c]["min"]
        assert got["columns"][c]["max"] == full["columns"][c]["max"]
        # identical per-bucket inputs → identical HLL estimates
        assert got["columns"][c]["ndv"] == full["columns"][c]["ndv"], c


def test_refresh_noop_when_version_unchanged(spark, t1, registry, tmp_path):
    eng = _replayed(spark, t1, registry, tmp_path)
    table_stats.analyze(spark, eng.table)
    doc = table_stats.refresh(spark, eng.table)
    assert doc["refreshed_buckets"] == []


def test_deletes_reflected_after_refresh(spark, t1, registry, tmp_path):
    """Tombstone expiry rewrites touched buckets; a refresh must pick up the
    shrunken row count exactly (bucket recompute, not sketch subtraction)."""
    eng = _replayed(spark, t1, registry, tmp_path)
    table_stats.analyze(spark, eng.table)
    internal = eng.table.read(spark, with_internal_cols=True)
    max_ts = internal.agg(F.max("_op_ts")).collect()[0][0]
    eng.expire_tombstones(watermark_op_ts=max_ts + 1)
    eng.compact()
    doc = table_stats.refresh(spark, eng.table)
    st = table_stats.stats(spark, eng.table, doc)
    assert st["row_count"] == eng.table.read(spark).count()


def test_unknown_and_unsupported_columns_raise(spark, t1, registry, tmp_path):
    eng = _replayed(spark, t1, registry, tmp_path, epochs=[0])
    with pytest.raises(ValueError, match="unknown columns"):
        table_stats.analyze(spark, eng.table, columns=["nope"])
    # every t1 column is a supported scalar; the skipped list is empty here
    doc = table_stats.analyze(spark, eng.table)
    assert doc["skipped_columns"] == []


def test_refresh_across_schema_evolution(spark, t1, registry, tmp_path):
    """Analyze in the schema-1.0 era, replay through ADD + RENAME + WIDEN
    (epochs 3/5/6), refresh: stored stats remap lang→language (rename is a
    metadata-only commit — NO bucket recomputes for it), size_bytes appears
    with exact synthetic all-null entries for unchanged buckets, and every
    merged number equals a from-scratch analyze of the final state."""
    eng = _replayed(spark, t1, registry, tmp_path, epochs=[0, 1, 2])
    doc0 = table_stats.analyze(spark, eng.table)
    assert "lang" in doc0["columns"] and "size_bytes" not in doc0["columns"]
    eng.replay(f'{t1["dir"]}/change_events',
               source_df=spark.read.parquet(
                   f'{t1["dir"]}/source_repos.parquet'))
    doc = table_stats.refresh(spark, eng.table)
    assert "language" in doc["columns"] and "lang" not in doc["columns"]
    assert "size_bytes" in doc["columns"]
    got = table_stats.stats(spark, eng.table, doc)
    full = table_stats.stats(
        spark, eng.table, table_stats.analyze(spark, eng.table))
    assert got["row_count"] == full["row_count"]
    for c in full["columns"]:
        for k in ("ndv", "null_count", "min", "max"):
            assert got["columns"][c][k] == full["columns"][c][k], (c, k)


def test_string_bounds_truncated_iceberg_style(spark, t1, registry, tmp_path):
    from cdc_core_spark.table_stats import _trunc_max, _trunc_min
    long = "x" * 100 + "zzz"
    assert _trunc_min(long) == "x" * 64
    tm = _trunc_max(long)
    assert len(tm) == 64 and tm > long and tm == "x" * 63 + "y"
    assert _trunc_min("short") == "short" and _trunc_max("short") == "short"


def test_engine_refresh_stats(spark, t1, registry, tmp_path):
    """eng.refresh_stats() after a replay leaves stats current with the
    final table version (first run = full analyze; reruns are
    churn-priced)."""
    eng = _replayed(spark, t1, registry, tmp_path)
    eng.refresh_stats()
    st = table_stats.stats(spark, eng.table)
    assert st["table_version"] == eng.table.latest().version
    assert st["row_count"] == eng.table.read(spark).count()


def test_inspect_stats_table(spark, t1, registry, tmp_path):
    """inspect(spark, 'stats') — the Iceberg-inspection-table face of the
    stats doc: one row per analyzed column, numbers matching stats()."""
    eng = _replayed(spark, t1, registry, tmp_path)
    eng.refresh_stats()
    df = eng.table.inspect(spark, "stats").toPandas().set_index("column")
    st = table_stats.stats(spark, eng.table)
    assert set(df.index) == set(st["columns"])
    for c, v in st["columns"].items():
        assert df.loc[c, "ndv"] == v["ndv"]
        assert df.loc[c, "null_count"] == v["null_count"]
    assert (df["row_count"] == st["row_count"]).all()


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_refresh_model_random_schedules(spark, t1, registry, tmp_path, seed):
    """Randomized model check: interleave replay epochs with compaction,
    re-bucketing, tombstone expiry and refreshes in a seeded random order —
    after every refresh, the merged numbers must equal a from-scratch
    analyze of the same state (the refresh==full invariant under arbitrary
    maintenance schedules, incl. across the ADD/RENAME/WIDEN DDL epochs)."""
    import os
    import random
    rng = random.Random(seed)
    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    events = f'{t1["dir"]}/change_events'

    applied = 0
    actions = 0
    while applied < 8:
        step = ("epochs" if applied == 0 else  # table must exist first
                rng.choice(["epochs", "epochs", "compact", "rebucket",
                            "refresh"]))
        if step == "epochs":
            upto = min(8, applied + rng.randint(1, 3))
            eng.replay(events, source_df=src, epochs=list(range(upto)))
            applied = upto
        elif step == "compact":
            eng.compact()
        elif step == "rebucket":
            eng.compact(n_buckets=rng.choice([5, 8, 11]))
        else:
            table_stats.refresh(spark, eng.table)
        actions += 1
        if actions % 2 == 0 or applied >= 8:
            got = table_stats.stats(
                spark, eng.table, table_stats.refresh(spark, eng.table))
            full_doc = table_stats.analyze(spark, eng.table, lg_k=12)
            full = table_stats.stats(spark, eng.table, full_doc)
            assert got["row_count"] == full["row_count"], (seed, actions)
            assert set(got["columns"]) == set(full["columns"])
            for c in full["columns"]:
                for k in ("ndv", "null_count", "min", "max"):
                    assert got["columns"][c][k] == full["columns"][c][k], (
                        seed, actions, c, k)
            # drop the analyze's published doc so the NEXT refresh keeps
            # extending the incremental chain instead of diffing against
            # a fresh full analyze (that chain is what's under test)
            os.remove(table_stats._doc_path(
                eng.table, full_doc["stats_version"]))


def test_stats_without_analyze_raises(spark, t1, registry, tmp_path):
    eng = _replayed(spark, t1, registry, tmp_path, epochs=[0])
    with pytest.raises(FileNotFoundError, match="no statistics"):
        table_stats.stats(spark, eng.table)


def test_refresh_expired_fallback_publishes_annotated_doc(spark, t1,
                                                          registry,
                                                          tmp_path):
    """The expired-snapshot fallback must publish ONE doc that already
    carries refreshed_buckets — the on-disk sidecar and the returned dict
    are the same object (ADVICE r4: the old path published via analyze()
    and annotated only the in-memory copy)."""
    eng = _replayed(spark, t1, registry, tmp_path)
    table_stats.analyze(spark, eng.table)
    eng.compact()                              # new version
    eng.table.expire_snapshots(keep_last=1)    # drop the analyzed snapshot
    doc = table_stats.refresh(spark, eng.table)
    assert doc["refreshed_buckets"] == sorted(int(b) for b in doc["buckets"])
    stored = table_stats.latest_stats_doc(eng.table)
    assert stored["stats_version"] == doc["stats_version"]
    assert stored.get("refreshed_buckets") == doc["refreshed_buckets"]


def test_compact_auto_buckets_from_stats(spark, t1, registry, tmp_path):
    """compact(n_buckets="auto") sizes the re-bucket from the stats doc's
    row count (no scan): ceil(rows/target) snapped UP to a power of two;
    state is invariant under re-bucketing; without a stats doc it raises
    with guidance."""
    eng = _replayed(spark, t1, registry, tmp_path)
    with pytest.raises(FileNotFoundError, match="analyze"):
        eng.compact(n_buckets="auto")
    doc = table_stats.analyze(spark, eng.table)
    rows = sum(b["rows"] for b in doc["buckets"].values())
    def _canon(d):
        pdf = d.toPandas()
        return (pdf.sort_values(list(pdf.columns))
                .reset_index(drop=True))

    before = _canon(eng.table.read(spark))

    target = max(1, rows // 3)           # force a multi-bucket count
    eng.compact(n_buckets="auto", target_rows_per_bucket=target)
    k = (rows + target - 1) // target
    want = 1 << max(0, (k - 1).bit_length())
    assert eng.table.latest().n_buckets == want == eng.n_buckets
    import pandas as pd
    pd.testing.assert_frame_equal(before, _canon(eng.table.read(spark)))
