"""Table ``sort_order`` prop → sorted compaction (Iceberg sort-order analog).

Compaction is the right place to pay for clustering at 100 TB: the hot
commit path stays sort-free while the long-lived base files get row-group
statistics tight enough that the parquet reader skips non-matching groups
for pushed-down key predicates. These tests pin three things: state
invariance (sorting is physical only), actual within-file ordering, and
the row-group-pruning payoff (a point predicate matches strictly fewer
row groups than the file holds — impossible without clustering once keys
are spread across groups).
"""
from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cdc_core_spark.lake import SnapshotTable, bucket_expr


FIELDS = [{"name": "repo", "type": "string"},
          {"name": "path", "type": "string"},
          {"name": "content", "type": "string"}]
KEYS = ["repo", "path"]


def _mk_table(spark, root: str, n_rows: int, props: dict) -> SnapshotTable:
    tbl = SnapshotTable.create(root, fields=FIELDS, key_cols=KEYS,
                               n_buckets=4, props=props)
    # deliberately UNCLUSTERED intake: path ids are bit-reversed so
    # consecutive rows land far apart in key order
    df = (spark.range(n_rows)
          .select(F.concat(F.lit("repo-"), (F.col("id") % 3).cast("string")).alias("repo"),
                  F.concat(F.lit("src/f"),
                           F.conv(F.reverse(F.conv(F.col("id").cast("string"), 10, 2)), 2, 10)
                           ).alias("path"),
                  F.sha2(F.col("id").cast("string"), 256).alias("content"),
                  F.lit(1).cast("bigint").alias("_op_ts"),
                  F.col("id").alias("_event_seq"),
                  F.lit(False).alias("_deleted"))
          .withColumn("_bucket", bucket_expr(KEYS, 4)))
    tbl.commit_merge(df, list(range(4)), manifests=[])
    return tbl


def test_sorted_compaction_state_invariant_and_clustered(spark, tmp_path):
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    # tiny row groups so a single small file holds many — the unit the
    # reader prunes at; restored below (session-scoped fixture)
    hconf.set("parquet.block.size", "16384")
    try:
        tbl = _mk_table(spark, str(tmp_path / "t"), 3000,
                        props={"sort_order": ["repo", "path"]})
        before = tbl.read(spark).toPandas().sort_values(
            ["repo", "path"]).reset_index(drop=True)
        tbl.compact(spark)
        after = tbl.read(spark).toPandas().sort_values(
            ["repo", "path"]).reset_index(drop=True)
        assert before.equals(after)

        files = [os.path.join(str(tmp_path / "t"), f["path"])
                 for f in tbl.latest().files]
        assert files
        pruned_somewhere = False
        for path in files:
            pf = pq.ParquetFile(path)
            tab = pf.read(columns=["repo", "path"]).to_pandas()
            assert tab.equals(tab.sort_values(["repo", "path"])
                              .reset_index(drop=True)), f"unsorted: {path}"
            if pf.metadata.num_row_groups < 2:
                continue
            schema_names = pf.schema_arrow.names
            ri, pi = schema_names.index("repo"), schema_names.index("path")
            probe = (tab["repo"].iloc[0], tab["path"].iloc[0])
            hit = 0
            for g in range(pf.metadata.num_row_groups):
                rs = pf.metadata.row_group(g).column(ri).statistics
                ps = pf.metadata.row_group(g).column(pi).statistics
                if (rs.min <= probe[0] <= rs.max
                        and (probe[0] != rs.min or probe[1] >= ps.min)
                        and (probe[0] != rs.max or probe[1] <= ps.max)):
                    hit += 1
            assert hit < pf.metadata.num_row_groups, (
                f"{path}: point key matched every row group — no pruning")
            pruned_somewhere = True
        assert pruned_somewhere, "fixture produced no multi-row-group file"
    finally:
        if old_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_block)


def test_unsorted_compaction_unchanged_without_prop(spark, tmp_path):
    tbl = _mk_table(spark, str(tmp_path / "u"), 400, props={})
    tbl.compact(spark)
    # no ordering contract without the prop — just state sanity
    assert tbl.read(spark).count() == 400


def test_engine_sort_order_prop_survives_replay(spark, t1, registry, tmp_path):
    """Engine-level wiring: sort_order rides the table props through initial
    load, in-band schema evolution and every epoch commit, so a later
    compact() clusters the base files; replay equality is untouched."""
    from cdc_core_spark.engine import CdcEngine
    from tests.conftest import assert_final_equal

    import pytest
    with pytest.raises(ValueError, match="sort_order"):
        CdcEngine(spark, str(tmp_path / "bad"), registry,
                  sort_order=["repo", "nope"]).initial_load(
            spark.read.parquet(f'{t1["dir"]}/source_repos.parquet'))

    eng = CdcEngine(spark, str(tmp_path / "eng"), registry, n_buckets=4,
                    sort_order=["repo", "path"])
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)
    assert eng.table.latest_meta().props.get("sort_order") == ["repo", "path"]
    eng.table.compact(spark)

    def assert_clustered():
        for f in eng.table.latest().files:
            tab = pq.read_table(os.path.join(eng.table.root, f["path"]),
                                columns=["repo", "path"]).to_pandas()
            assert tab.equals(tab.sort_values(["repo", "path"])
                              .reset_index(drop=True)), f"unsorted: {f['path']}"

    got = eng.read_final_with_sha().toPandas()
    assert_final_equal(got, t1["expected"])
    assert_clustered()
    # EVERY maintenance rewrite honors the prop — tombstone expiry must not
    # un-cluster the buckets it rewrites (visible state unchanged)
    eng.expire_tombstones(watermark_op_ts=2**62)
    assert_final_equal(eng.read_final_with_sha().toPandas(), t1["expected"])
    assert_clustered()


def test_sort_order_prop_validated(spark, tmp_path):
    tbl = _mk_table(spark, str(tmp_path / "v"), 50,
                    props={"sort_order": ["repo", "nope"]})
    with pytest.raises(ValueError, match="sort_order"):
        tbl.compact(spark)


def test_sort_order_survives_column_rename(spark, tmp_path):
    """A RENAME evolution must not brick maintenance: the prop keeps the
    creation-time name, so compact remaps it through the alias map."""
    # rename a NON-key sort column (key columns can never change —
    # registry.validate_evolution rejects that at the engine level)
    tbl = _mk_table(spark, str(tmp_path / "r"), 200,
                    props={"sort_order": ["repo", "content"]})
    new_fields = [{"name": "repo", "type": "string"},
                  {"name": "path", "type": "string"},
                  {"name": "body", "type": "string"}]
    tbl.commit_metadata(new_fields, {"content": "body"})
    before = tbl.read(spark).count()
    tbl.compact(spark)  # would raise "unknown columns ['content']" unmapped
    assert tbl.read(spark).count() == before
    for f in tbl.latest().files:
        tab = pq.read_table(os.path.join(tbl.root, f["path"]),
                            columns=["repo", "body"]).to_pandas()
        assert tab.equals(tab.sort_values(["repo", "body"])
                          .reset_index(drop=True))


def test_engine_sort_order_on_existing_table_rejected(spark, t1, registry,
                                                      tmp_path):
    """sort_order on an already-created table must be loud, not a silent
    no-op; re-opening with the SAME order stays fine."""
    from cdc_core_spark.engine import CdcEngine

    root = str(tmp_path / "eng")
    eng = CdcEngine(spark, root, registry, n_buckets=4,
                    sort_order=["repo", "path"])
    eng.initial_load(spark.read.parquet(f'{t1["dir"]}/source_repos.parquet'))
    # same order → fine (resume path)
    CdcEngine(spark, root, registry, n_buckets=4, sort_order=["repo", "path"])
    with pytest.raises(ValueError, match="already exists"):
        CdcEngine(spark, root, registry, n_buckets=4, sort_order=["repo"])
    # plain table (no prop) + requested order → also loud
    root2 = str(tmp_path / "plain")
    CdcEngine(spark, root2, registry, n_buckets=4).initial_load(
        spark.read.parquet(f'{t1["dir"]}/source_repos.parquet'))
    with pytest.raises(ValueError, match="already exists"):
        CdcEngine(spark, root2, registry, n_buckets=4,
                  sort_order=["repo", "path"])
