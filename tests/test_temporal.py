"""Temporal join operators: semantics vs independent oracles + plan shape.

asof_join is cross-checked against pandas.merge_asof (an independent
implementation of the identical contract) on randomized fixtures covering
both directions, tolerance, ties, unmatched keys and NULL timestamps.
range_join is checked against a naive cartesian-filter oracle. Plan audits
pin the scale story: asof = ONE exchange (no join operator at all);
range_join = an equi-join (sort-merge/hash), never BroadcastNestedLoop or
cartesian.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cdc_core_spark.operators.temporal import asof_join, range_join


def _rand_frames(seed: int, n_left=200, n_right=60, n_keys=7):
    rng = np.random.default_rng(seed)
    left = pd.DataFrame({
        "k": rng.integers(0, n_keys, n_left),
        "ts": rng.integers(0, 10_000, n_left).astype("float64"),
        "lv": rng.normal(size=n_left).round(3),
        "lid": np.arange(n_left, dtype="int64"),
    })
    right = pd.DataFrame({
        "k": rng.integers(0, n_keys, n_right),
        "ts": rng.integers(0, 10_000, n_right).astype("float64"),
        "rv": rng.normal(size=n_right).round(3),
    })
    # force some exact-tie timestamps across sides (inclusive-bound probes)
    right.loc[: n_right // 4, "ts"] = left.loc[: n_right // 4, "ts"].values
    # dedupe right on (k, ts): merge_asof tie-break inside equal keys+ts is
    # unspecified in BOTH implementations — remove the ambiguity, not hide it
    right = right.sort_values("rv").drop_duplicates(["k", "ts"]).reset_index(
        drop=True)
    return left, right


def _expected_asof(left, right, direction, tolerance=None):
    e = pd.merge_asof(
        left.sort_values(["ts", "lid"]), right.sort_values("ts"),
        on="ts", by="k", direction=direction, suffixes=("", "_r"),
        tolerance=tolerance)
    m = e["rv"].notna()
    e["ts_asof"] = np.where(m, e["ts"], np.nan)  # matched at exact ts only
    return e


@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize("seed", [1, 2])
def test_asof_matches_pandas(spark, direction, seed):
    left, right = _rand_frames(seed)
    got = (asof_join(spark.createDataFrame(left),
                     spark.createDataFrame(right), ["k"], "ts",
                     direction=direction)
           .toPandas().sort_values("lid").reset_index(drop=True))
    exp = (_expected_asof(left, right, direction)
           .sort_values("lid").reset_index(drop=True))
    pd.testing.assert_series_equal(got["rv"], exp["rv"], check_names=False)
    # the attached match timestamp equals the matched right row's ts
    mm = got["rv"].notna()
    assert got.loc[~mm, "ts_asof"].isna().all()
    merged = got[mm].merge(right, left_on=["k", "ts_asof"],
                           right_on=["k", "ts"], how="left",
                           suffixes=("", "_chk"))
    assert (merged["rv"] == merged["rv_chk"]).all()


def test_asof_tolerance_and_ties(spark):
    left = pd.DataFrame({"k": [1, 1, 1, 2], "ts": [10.0, 20.0, 99.0, 10.0],
                         "lid": [0, 1, 2, 3]})
    right = pd.DataFrame({"k": [1, 1, 2], "ts": [10.0, 15.0, 50.0],
                          "rv": [1.0, 2.0, 3.0]})
    got = (asof_join(spark.createDataFrame(left),
                     spark.createDataFrame(right), ["k"], "ts",
                     tolerance=10.0)
           .toPandas().sort_values("lid").reset_index(drop=True))
    # lid0: exact tie matched inclusively; lid1: ts15 within 10s; lid2: ts15
    # is 84s stale -> nulled by tolerance; lid3: right ts50 is in the future
    assert got["rv"].tolist()[:2] == [1.0, 2.0]
    assert np.isnan(got["rv"][2]) and np.isnan(got["rv"][3])


def test_asof_null_ts_and_collision_suffix(spark):
    left = pd.DataFrame({"k": [1, 1], "ts": [10.0, np.nan], "rv": [7.0, 8.0],
                         "lid": [0, 1]})
    right = pd.DataFrame({"k": [1], "ts": [5.0], "rv": [1.5]})
    got = (asof_join(spark.createDataFrame(left),
                     spark.createDataFrame(right), ["k"], "ts")
           .toPandas().sort_values("lid").reset_index(drop=True))
    assert "rv_asof" in got.columns and "ts_asof" in got.columns
    assert got["rv"].tolist() == [7.0, 8.0]          # left col untouched
    assert got["rv_asof"][0] == 1.5                   # matched
    assert np.isnan(got["rv_asof"][1])                # NULL ts -> no match
    # the WINDOW plan refuses a global as-of (one-task sort); broadcast=False
    # pins that contract — the "auto" default instead routes a small global
    # history onto the broadcast plan (covered below)
    with pytest.raises(ValueError, match="at least one key"):
        asof_join(spark.createDataFrame(left),
                  spark.createDataFrame(right), [], "ts", broadcast=False)
    auto_global = (asof_join(spark.createDataFrame(left),
                             spark.createDataFrame(right), [], "ts")
                   .toPandas().sort_values("lid").reset_index(drop=True))
    assert auto_global["rv_asof"][0] == 1.5


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_broadcast_equivalent_to_sort_path(spark, direction):
    """broadcast=True must produce identical results to the window path on
    tie-free fixtures, for both directions and with tolerance."""
    left, right = _rand_frames(11)
    l, r = spark.createDataFrame(left), spark.createDataFrame(right)
    for tol in (None, 500.0):
        a = (asof_join(l, r, ["k"], "ts", direction=direction, tolerance=tol)
             .toPandas().sort_values("lid").reset_index(drop=True))
        b = (asof_join(l, r, ["k"], "ts", direction=direction, tolerance=tol,
                       broadcast=True)
             .toPandas().sort_values("lid").reset_index(drop=True))
        pd.testing.assert_frame_equal(a, b)


def test_asof_broadcast_global_key(spark):
    """on=[] is legal ONLY on the broadcast path: one global history array
    (e.g. a market-wide rate curve) matched without any shuffle or sort of
    the probe side."""
    left = pd.DataFrame({"ts": [5.0, 25.0, np.nan], "lid": [0, 1, 2]})
    right = pd.DataFrame({"ts": [10.0, 20.0], "rate": [1.1, 2.2]})
    got = (asof_join(spark.createDataFrame(left),
                     spark.createDataFrame(right), [], "ts", broadcast=True)
           .toPandas().sort_values("lid").reset_index(drop=True))
    assert np.isnan(got["rate"][0])        # nothing at or before ts=5
    assert got["rate"][1] == 2.2
    assert np.isnan(got["rate"][2])        # NULL ts never matches


@pytest.mark.parametrize("broadcast", [False, True])
def test_asof_nearest_exact_midpoint_tie_goes_backward(spark, broadcast):
    """Timestamp axis, left exactly midway between two right versions:
    the tie must go backward on BOTH plans — distances compare in exact
    integer microseconds, not double seconds (whose ~1e-7 s rounding at
    epoch magnitude can flip an exact tie)."""
    base = 1_700_000_000
    left = spark.createDataFrame(
        [(0, 1)], "lid long, k long").withColumn(
        "ts", F.timestamp_millis(F.lit(base * 1000 + 2000)))
    right = spark.createDataFrame(
        [(1, base * 1000 + 1000, 10.0), (1, base * 1000 + 3000, 30.0)],
        "k long, ms long, rv double").select(
        "k", F.timestamp_millis("ms").alias("ts"), "rv")
    got = asof_join(left, right, ["k"], "ts", direction="nearest",
                    broadcast=broadcast).toPandas()
    assert got["rv"][0] == 10.0  # backward wins the exact tie


def test_asof_broadcast_global_empty_right_keeps_left(spark):
    """on=[] against an EMPTY global history: every probe row survives
    with NULL matches (left-outer contract), never silently deleted."""
    left = pd.DataFrame({"ts": [5.0, 9.0], "lid": [0, 1]})
    right = pd.DataFrame({"ts": [float("nan")], "rv": [1.0]})  # filtered out
    got = (asof_join(spark.createDataFrame(left),
                     spark.createDataFrame(right), [], "ts", broadcast=True)
           .toPandas().sort_values("lid"))
    assert len(got) == 2
    assert got["rv"].isna().all()


def test_asof_broadcast_deep_history_guard(spark):
    """Broadcast match cost is O(history) per probe row — a key history
    deeper than max_history must fail loudly (measured 50x slowdown at 42
    versions/key, TEMPORAL_PROBE.json), not silently burn cores."""
    left = pd.DataFrame({"k": [1], "ts": [50.0], "lid": [0]})
    right = pd.DataFrame({"k": [1] * 80,
                          "ts": np.arange(80, dtype="float64"),
                          "rv": np.arange(80, dtype="float64")})
    l, r = spark.createDataFrame(left), spark.createDataFrame(right)
    with pytest.raises(Exception, match="max_history"):
        asof_join(l, r, ["k"], "ts", broadcast=True).collect()
    got = asof_join(l, r, ["k"], "ts", broadcast=True,
                    max_history=128).toPandas()
    assert got["rv"][0] == 50.0


def test_asof_broadcast_plan_no_probe_shuffle(spark):
    """The probe (left) side must reach the join without an exchange: the
    only hash exchange in the plan is the tiny dimension-side groupBy, the
    join is BroadcastHashJoin, and no Window/Sort touches the probe rows.
    At 10^10 probe rows this IS the feature."""
    left, right = _rand_frames(13)
    plan = (asof_join(spark.createDataFrame(left),
                      spark.createDataFrame(right), ["k"], "ts",
                      broadcast=True)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan  # dim agg only
    assert "Window" not in plan and "SortMergeJoin" not in plan, plan


@pytest.mark.parametrize("broadcast", [False, True])
@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_nan_ts_has_no_position(spark, broadcast, direction):
    """Float-NaN timestamps match nothing on EITHER side in EITHER
    direction (Spark's total order sorts NaN above every double — an
    unguarded NaN left row would grab the latest right row backward)."""
    left = pd.DataFrame({"k": [1, 1], "ts": [float("nan"), 10.0],
                         "lid": [0, 1]})
    right = pd.DataFrame({"k": [1, 1], "ts": [5.0, float("nan")],
                          "rv": [1.0, 99.0]})
    got = (asof_join(spark.createDataFrame(left),
                     spark.createDataFrame(right), ["k"], "ts",
                     direction=direction, broadcast=broadcast)
           .toPandas().sort_values("lid").reset_index(drop=True))
    assert np.isnan(got["rv"][0])          # NaN left ts: no match
    if direction == "backward":
        assert got["rv"][1] == 1.0         # NaN right row never matches
    else:
        assert np.isnan(got["rv"][1])


@pytest.mark.parametrize("broadcast", [False, True])
def test_asof_null_keys_group_like_window(spark, broadcast):
    """Documented semantic: NULL keys group together (window-partition
    rule) on BOTH paths — the broadcast join uses eqNullSafe to match."""
    left = pd.DataFrame({"k": pd.array([None, 1], dtype="Int64"),
                         "ts": [10.0, 10.0], "lid": [0, 1]})
    right = pd.DataFrame({"k": pd.array([None, 1], dtype="Int64"),
                          "ts": [5.0, 6.0], "rv": [7.0, 8.0]})
    got = (asof_join(spark.createDataFrame(left),
                     spark.createDataFrame(right), ["k"], "ts",
                     broadcast=broadcast)
           .toPandas().sort_values("lid").reset_index(drop=True))
    assert got["rv"].tolist() == [7.0, 8.0]


@pytest.mark.parametrize("broadcast", [False, True])
def test_asof_output_collision_raises(spark, broadcast):
    """Re-enriching an already-enriched frame with the same suffix must
    fail loudly instead of emitting duplicate column names."""
    left, right = _rand_frames(17)
    l, r = spark.createDataFrame(left), spark.createDataFrame(right)
    once = asof_join(l, r, ["k"], "ts", broadcast=broadcast)
    with pytest.raises(ValueError, match="output column collision"):
        asof_join(once, r, ["k"], "ts", broadcast=broadcast)
    # a fresh suffix resolves it
    twice = asof_join(once, r, ["k"], "ts", suffix="_asof2",
                      broadcast=broadcast)
    assert "ts_asof2" in twice.columns


def _naive_range(points, intervals, closed="left"):
    x = points.merge(intervals, on="k", suffixes=("", "_iv"))
    lo = x["ts"] >= x["s"] if closed in ("left", "both") else x["ts"] > x["s"]
    hi = x["ts"] <= x["e"] if closed in ("right", "both") else x["ts"] < x["e"]
    return x[lo & hi]


@pytest.mark.parametrize("closed", ["left", "both"])
@pytest.mark.parametrize("bin_width", [7.0, 100.0, 5000.0])
def test_range_join_matches_naive(spark, closed, bin_width):
    rng = np.random.default_rng(5)
    points = pd.DataFrame({"k": rng.integers(0, 5, 300),
                           "ts": rng.integers(0, 5_000, 300).astype("float64"),
                           "pid": np.arange(300, dtype="int64")})
    s = rng.integers(0, 5_000, 40).astype("float64")
    intervals = pd.DataFrame({
        "k": rng.integers(0, 5, 40), "s": s,
        "e": s + rng.integers(0, 600, 40).astype("float64"),
        "ivid": np.arange(40, dtype="int64")})
    # boundary probes: one interval starting exactly on a point, one reversed
    intervals.loc[0, ["s", "e"]] = [points.loc[0, "ts"], points.loc[0, "ts"]]
    intervals.loc[1, ["s", "e"]] = [100.0, 50.0]
    got = (range_join(spark.createDataFrame(points),
                      spark.createDataFrame(intervals), ["k"], "ts", "s", "e",
                      bin_width=bin_width, closed=closed)
           .toPandas().sort_values(["pid", "ivid"]).reset_index(drop=True))
    exp = (_naive_range(points, intervals, closed)
           .sort_values(["pid", "ivid"])[got.columns].reset_index(drop=True))
    pd.testing.assert_frame_equal(got, exp)


def _naive_overlap(left, right, inclusive=False):
    x = left.merge(right, on="k", suffixes=("", "_r"))
    if inclusive:
        m = (x["s"] <= x["e_r"]) & (x["s_r"] <= x["e"])
    else:
        m = (x["s"] < x["e_r"]) & (x["s_r"] < x["e"])
    return x[m]


@pytest.mark.parametrize("inclusive", [False, True])
@pytest.mark.parametrize("bin_width", [3.0, 50.0, 2000.0])
def test_overlap_join_matches_naive(spark, inclusive, bin_width):
    """Interval x interval overlap vs a cartesian-filter oracle — small
    bin_width forces pairs to share MANY bins, so this also proves the
    canonical-bin dedup emits each pair exactly once."""
    from cdc_core_spark.operators.temporal import overlap_join
    rng = np.random.default_rng(23)
    mk = lambda n, tag: pd.DataFrame({  # noqa: E731
        "k": rng.integers(0, 4, n),
        "s": (s := rng.integers(0, 2_000, n).astype("float64")),
        "e": s + rng.integers(0, 300, n).astype("float64"),
        tag: np.arange(n, dtype="int64")})
    left, right = mk(80, "lid"), mk(60, "rid")
    # touching pair probe: right starts exactly where a left ends
    right.loc[0, ["k", "s", "e"]] = [left.loc[0, "k"], left.loc[0, "e"],
                                     left.loc[0, "e"] + 10]
    got = (overlap_join(spark.createDataFrame(left),
                        spark.createDataFrame(right), ["k"],
                        "s", "e", "s", "e", bin_width=bin_width,
                        inclusive=inclusive)
           .toPandas().sort_values(["lid", "rid"]).reset_index(drop=True))
    exp = (_naive_overlap(left, right, inclusive)
           .sort_values(["lid", "rid"])[got.columns].reset_index(drop=True))
    pd.testing.assert_frame_equal(got, exp)
    assert not got.duplicated(["lid", "rid"]).any()


def test_overlap_join_plan_is_equi_join(spark):
    from cdc_core_spark.operators.temporal import overlap_join
    rng = np.random.default_rng(29)
    iv = pd.DataFrame({"k": rng.integers(0, 3, 50),
                       "s": (s := rng.integers(0, 500, 50).astype("float64")),
                       "e": s + 40.0, "iid": np.arange(50, dtype="int64")})
    plan = (overlap_join(spark.createDataFrame(iv),
                         spark.createDataFrame(iv.rename(
                             columns={"iid": "jid"})), ["k"],
                         "s", "e", "s", "e", bin_width=50.0)
            ._jdf.queryExecution().executedPlan().toString())
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan), plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_range_join_oversized_interval_raises(spark):
    points = spark.createDataFrame(pd.DataFrame(
        {"k": [1], "ts": [5.0], "pid": [0]}))
    intervals = spark.createDataFrame(pd.DataFrame(
        {"k": [1], "s": [0.0], "e": [1000.0], "ivid": [0]}))
    with pytest.raises(Exception, match="range_join: interval spans"):
        range_join(points, intervals, ["k"], "ts", "s", "e",
                   bin_width=1.0, max_bins_per_interval=16).collect()


def test_asof_plan_single_exchange_no_join(spark):
    """The as-of plan is union -> ONE exchange -> sort -> window: no join
    operator of any kind, no second shuffle. This is the property that
    survives a 100x scale-up. (broadcast=False pins the window plan — the
    "auto" default would route this tiny shallow fixture to broadcast.)"""
    left, right = _rand_frames(3)
    plan = (asof_join(spark.createDataFrame(left),
                      spark.createDataFrame(right), ["k"], "ts",
                      broadcast=False)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_range_join_plan_is_equi_join(spark):
    """Binning turns the inequality join into an equi-join: the physical
    plan must contain a sort-merge/shuffled-hash join and NEVER the
    nested-loop shapes Catalyst picks for raw theta-joins."""
    rng = np.random.default_rng(7)
    points = spark.createDataFrame(pd.DataFrame(
        {"k": rng.integers(0, 5, 100),
         "ts": rng.integers(0, 500, 100).astype("float64"),
         "pid": np.arange(100, dtype="int64")}))
    intervals = spark.createDataFrame(pd.DataFrame(
        {"k": [1, 2], "s": [0.0, 50.0], "e": [60.0, 99.0], "ivid": [0, 1]}))
    plan = (range_join(points, intervals, ["k"], "ts", "s", "e",
                       bin_width=50.0)
            ._jdf.queryExecution().executedPlan().toString())
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan), plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_asof_timestamp_columns(spark):
    """Timestamp (not numeric) axis: engine events enriched with the state
    current at event time — the CDC dimension-enrichment shape."""
    ev = spark.range(6).select(
        F.col("id").alias("lid"), (F.col("id") % 2).alias("k"),
        F.timestamp_seconds(F.col("id") * 100 + 1_700_000_000).alias("ts"))
    dim = spark.range(2).select(
        (F.col("id") % 2).alias("k"),
        F.timestamp_seconds(F.col("id") * 250 + 1_700_000_000).alias("ts"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("state"))
    got = asof_join(ev, dim, ["k"], "ts").orderBy("lid").toPandas()
    assert got["state"].tolist() == ["v0", None, "v0", "v1", "v0", "v1"]
    # tolerance on the timestamp axis (seconds)
    tol = asof_join(ev, dim, ["k"], "ts", tolerance=120.0) \
        .orderBy("lid").toPandas()
    assert tol["state"].tolist() == ["v0", None, None, "v1", None, None]


def test_asof_auto_plan_choice(spark):
    """broadcast="auto" (the default) picks broadcast ONLY for a small AND
    shallow right side: deep per-key histories get the window plan, so the
    measured 50x-misuse shape (TEMPORAL_PROBE.json) is unreachable without
    an explicit broadcast=True opt-in; a keyless history too deep for
    either plan raises at probe time."""
    from cdc_core_spark.operators.temporal import choose_asof_plan

    shallow = spark.createDataFrame(pd.DataFrame(
        {"k": [1, 2, 3], "ts": [1.0, 2.0, 3.0], "rv": [1.0, 2.0, 3.0]}))
    deep = spark.createDataFrame(pd.DataFrame(
        {"k": np.zeros(40, dtype="int64"),
         "ts": np.arange(40, dtype="float64"),
         "rv": np.arange(40, dtype="float64")}))
    assert choose_asof_plan(shallow, ["k"]) is True
    assert choose_asof_plan(deep, ["k"]) is False

    left = spark.createDataFrame(pd.DataFrame(
        {"k": [1, 2], "ts": [5.0, 5.0], "lid": [0, 1]}))
    # auto → broadcast: BroadcastHashJoin, no Window over the probes
    p1 = (asof_join(left, shallow, ["k"], "ts")
          ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in p1 and "Window" not in p1, p1
    # auto → window: deep history must NOT hit the broadcast guard
    left0 = spark.createDataFrame(pd.DataFrame(
        {"k": [0], "ts": [39.0], "lid": [0]}))
    got = asof_join(left0, deep, ["k"], "ts").toPandas()
    assert got["rv"][0] == 39.0
    # keyless: the whole right side is ONE history. Within max_history it
    # broadcasts; deeper, no plan fits (the window plan needs a key), so
    # the probe raises a keyless-specific error naming the ways out rather
    # than route to the broadcast guard, whose message points at the
    # window plan
    gleft = spark.createDataFrame(pd.DataFrame({"ts": [2.5], "lid": [0]}))
    gdeep = spark.createDataFrame(pd.DataFrame(
        {"ts": np.arange(80, dtype="float64"),
         "rate": np.arange(80, dtype="float64")}))
    got = asof_join(gleft, gdeep, [], "ts", max_history=128).toPandas()
    assert got["rate"][0] == 2.0
    with pytest.raises(ValueError,
                       match=r"keyless.*coarse bucket key.*range_join"):
        asof_join(gleft, gdeep, [], "ts")


def test_asof_tolerance_boundary_exact_micros(spark):
    """A match sitting EXACTLY at the tolerance boundary on a timestamp
    axis must survive: the tolerance distance is computed in exact integer
    microseconds (like nearest-direction distances), not double
    epoch-seconds whose ~1e-7 s per-operand rounding can flip the
    comparison (ADVICE r4). 86400.0 s at epoch magnitude is exactly the
    case the oracle's epoch_us arithmetic checks."""
    base = 1_700_000_000
    ev = spark.createDataFrame(pd.DataFrame({"k": [1, 1], "lid": [0, 1]})) \
        .select("k", "lid",
                F.timestamp_seconds(F.lit(base) + F.col("lid") * 0)
                .alias("ts"))
    dim = spark.createDataFrame(pd.DataFrame({"k": [1]})) \
        .select("k", F.timestamp_seconds(F.lit(base - 86400)).alias("ts"),
                F.lit(7.0).alias("rv"))
    for bc in (False, True):
        got = asof_join(ev, dim, ["k"], "ts", tolerance=86400.0,
                        broadcast=bc).orderBy("lid").toPandas()
        assert got["rv"].tolist() == [7.0, 7.0], (bc, got)
        # one microsecond past the boundary must NOT match
        got2 = asof_join(ev, dim, ["k"], "ts", tolerance=86400.0 - 1e-6,
                         broadcast=bc).orderBy("lid").toPandas()
        assert np.isnan(got2["rv"]).all(), (bc, got2)


def test_asof_broadcast_internal_name_collision(spark):
    """A left frame that already carries _arr / _m columns must not break
    the broadcast path (internal refs are alias-qualified; the working
    column is collision-checked) — ADVICE r4."""
    left = spark.createDataFrame(pd.DataFrame(
        {"k": [1, 1], "ts": [10.0, 3.0], "lid": [0, 1],
         "_arr": ["x", "y"], "_m": [1, 2]}))
    right = spark.createDataFrame(pd.DataFrame(
        {"k": [1], "ts": [5.0], "rv": [1.5]}))
    got = (asof_join(left, right, ["k"], "ts", broadcast=True)
           .orderBy("lid").toPandas())
    assert got["_arr"].tolist() == ["x", "y"]      # left cols untouched
    assert got["_m"].tolist() == [1, 2]
    assert got["rv"][0] == 1.5 and np.isnan(got["rv"][1])
