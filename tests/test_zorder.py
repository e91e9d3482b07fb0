"""Z-order clustering: multi-column row-group pruning that linear sort can't.

The payoff under test: after a z-ordered compaction of a 2-D grid, a point
predicate on EITHER coordinate alone skips row groups. A linear sort_order
on (x, y) gets this only for x — its y envelopes span the whole domain in
every group — so the y-axis assertion is exactly what distinguishes the
Morton layout. State invariance and the engine prop plumbing mirror the
sort_order tests.
"""
from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cdc_core_spark.lake import SnapshotTable, bucket_expr
from cdc_core_spark.zorder import zorder_column

FIELDS = [{"name": "k", "type": "long"}, {"name": "x", "type": "long"},
          {"name": "y", "type": "long"}, {"name": "s", "type": "string"},
          {"name": "content", "type": "string"}]
KEYS = ["k"]
SIDE = 64  # 64x64 grid


def _mk_grid(spark, root: str, props: dict) -> SnapshotTable:
    tbl = SnapshotTable.create(root, fields=FIELDS, key_cols=KEYS,
                               n_buckets=2, props=props)
    # scrambled intake: row order is id, which walks the grid row-major —
    # already maximally unclustered in y; shuffle x too via bit tricks
    df = (spark.range(SIDE * SIDE)
          .select(F.col("id").alias("k"),
                  ((F.col("id") * 2654435761) % SIDE).alias("x"),
                  (F.col("id") % SIDE).alias("y"),
                  F.concat(F.lit("s"), (F.col("id") % 16).cast("string")).alias("s"),
                  F.sha2(F.col("id").cast("string"), 256).alias("content"),
                  F.lit(1).cast("bigint").alias("_op_ts"),
                  F.col("id").alias("_event_seq"),
                  F.lit(False).alias("_deleted"))
          .withColumn("_bucket", bucket_expr(KEYS, 2)))
    tbl.commit_merge(df, [0, 1], manifests=[])
    return tbl


def _groups_hit(path: str, col: str, probe) -> tuple[int, int]:
    pf = pq.ParquetFile(path)
    names = pf.schema_arrow.names
    ci = names.index(col)
    hit = 0
    for g in range(pf.metadata.num_row_groups):
        st = pf.metadata.row_group(g).column(ci).statistics
        if st.min <= probe <= st.max:
            hit += 1
    return hit, pf.metadata.num_row_groups


def test_zorder_compaction_prunes_on_every_axis(spark, tmp_path):
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", "16384")
    try:
        tbl = _mk_grid(spark, str(tmp_path / "t"),
                       props={"zorder": ["x", "y"]})
        before = tbl.read(spark).toPandas().sort_values("k").reset_index(drop=True)
        tbl.compact(spark)
        after = tbl.read(spark).toPandas().sort_values("k").reset_index(drop=True)
        assert before.equals(after)  # clustering is physical only

        checked = False
        for f in tbl.latest().files:
            path = os.path.join(str(tmp_path / "t"), f["path"])
            if pq.ParquetFile(path).metadata.num_row_groups < 4:
                continue
            checked = True
            for col in ("x", "y"):  # BOTH axes prune — the zorder claim
                hit, total = _groups_hit(path, col, SIDE // 2)
                assert hit < total, (
                    f"{path}: {col}={SIDE // 2} matched all {total} row "
                    "groups — no multi-axis clustering")
        assert checked, "fixture produced no multi-row-group file"
    finally:
        if old_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_block)


def test_zorder_hash_kind_clusters_equality(spark, tmp_path):
    """A string column gets hash codes: no range order, but equal values
    cluster, so an equality probe's value spans few row groups."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", "16384")
    try:
        tbl = _mk_grid(spark, str(tmp_path / "t"),
                       props={"zorder": ["s", "y"]})
        tbl.compact(spark)
        checked = False
        for f in tbl.latest().files:
            path = os.path.join(str(tmp_path / "t"), f["path"])
            if pq.ParquetFile(path).metadata.num_row_groups < 4:
                continue
            checked = True
            hit, total = _groups_hit(path, "s", "s7")
            assert hit < total, f"{path}: equality probe matched every group"
        assert checked
    finally:
        if old_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_block)


def test_zorder_expression_validation(spark):
    df = spark.range(4).select(F.col("id").alias("a"),
                               (F.col("id") * 2).alias("b"))
    with pytest.raises(ValueError, match=">= 2 columns"):
        zorder_column(df, ["a"])
    with pytest.raises(ValueError, match="not in frame"):
        zorder_column(df, ["a", "nope"])
    with pytest.raises(ValueError, match="at most"):
        zorder_column(df, ["a", "b", "a", "b", "a"])
    # constant / all-null columns degrade to code 0, never error
    dfc = df.withColumn("c", F.lit(7)).withColumn("d",
                                                  F.lit(None).cast("long"))
    assert dfc.select(zorder_column(dfc, ["c", "d"])).distinct().count() == 1


def test_zorder_morton_order_is_monotone_per_axis(spark):
    """Fixing one coordinate, the z-value is monotone in the other — the
    property that makes range predicates prune on every axis."""
    df = spark.createDataFrame([(x, y) for x in range(16) for y in range(16)],
                               "x long, y long")
    rows = df.select("x", "y", zorder_column(df, ["x", "y"])).collect()
    z = {(r["x"], r["y"]): r["_zvalue"] for r in rows}
    for fixed in range(16):
        ys = [z[(fixed, y)] for y in range(16)]
        xs = [z[(x, fixed)] for x in range(16)]
        assert ys == sorted(ys), f"not monotone in y at x={fixed}"
        assert xs == sorted(xs), f"not monotone in x at y={fixed}"


def test_engine_zorder_prop_wiring(spark, t1, registry, tmp_path):
    from cdc_core_spark.engine import CdcEngine

    with pytest.raises(ValueError, match="not both"):
        CdcEngine(spark, str(tmp_path / "b1"), registry,
                  sort_order=["repo"], zorder=["repo", "path"])
    with pytest.raises(ValueError, match="unknown columns"):
        CdcEngine(spark, str(tmp_path / "b2"), registry,
                  zorder=["repo", "nope"]).initial_load(
            spark.read.parquet(f'{t1["dir"]}/source_repos.parquet'))

    eng = CdcEngine(spark, str(tmp_path / "eng"), registry, n_buckets=4,
                    zorder=["repo", "rev"])
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)
    assert eng.table.latest_meta().props.get("zorder") == ["repo", "rev"]
    eng.table.compact(spark)

    from tests.conftest import assert_final_equal
    assert_final_equal(eng.read_final_with_sha().toPandas(), t1["expected"])

    # a second engine on the existing table must declare a matching layout
    with pytest.raises(ValueError, match="already exists with"):
        CdcEngine(spark, str(tmp_path / "eng"), registry,
                  zorder=["repo", "path"])
