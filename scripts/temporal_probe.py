"""Temporal-join perf probe at bench-fixture scale (5.16M probe rows).

Measures, on `local[N]` (default 16):
* asof_join window plan vs broadcast plan against a broadcastable
  dimension (~1/97 of events as per-repo "quotes") — the broadcast plan's
  claim is no probe-side shuffle, so its wall should beat the sort plan
  as the probe side grows;
* range_join points-in-intervals and overlap_join interval-intersection
  at the same scale (day bins).

One timed run per shape after a shared warmup scan (disclosed — this is a
relative-shape probe, not a headline bench). Writes TEMPORAL_PROBE.json.

    python scripts/temporal_probe.py [scale] [cores]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    scale = sys.argv[1] if len(sys.argv) > 1 else "bench"
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    from pyspark.sql import functions as F

    from cdc_core_spark import synth
    from cdc_core_spark.operators import temporal
    from cdc_core_spark.session import get_spark
    from cdc_core_spark.synth import DEFAULT_CACHE as CACHE

    fixture = synth.ensure_fixture(CACHE, scale)
    spark = get_spark(app_name="temporal_probe", cores=cores,
                      shuffle_partitions=64)

    ev = spark.read.parquet(os.path.join(fixture, "change_events"))
    probes = ev.select("repo", "path", "op_ts", "event_seq") \
        .filter(F.col("op_ts").isNotNull())
    n_probes = probes.count()  # warms the page cache too
    quotes = (ev.filter(F.xxhash64("event_seq") % 97 == 0)
              .filter(F.col("op_ts").isNotNull())
              .groupBy("repo", "op_ts")
              .agg(F.max("event_seq").alias("qval")))
    n_quotes = quotes.count()

    n_repos = quotes.select("repo").distinct().count()

    def timed(name, df):
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        return {"shape": name, "wall_sec": round(time.monotonic() - t0, 3)}

    out = {"scale": scale, "cores": cores, "probe_rows": n_probes,
           "deep_dim": {"rows": n_quotes, "keys": n_repos,
                        "avg_history": round(n_quotes / max(n_repos, 1), 1)},
           "runs": []}
    # DEEP per-key history (tick-store shape): the window plan's territory
    out["runs"].append(timed(
        "asof_window_plan_deep_history",
        temporal.asof_join(probes, quotes, ["repo"], "op_ts",
                           broadcast=False)))
    out["runs"].append(timed(
        "asof_broadcast_plan_deep_history",
        # max_history raised on purpose: this run MEASURES the deep-history
        # penalty the default guard exists to prevent
        temporal.asof_join(probes, quotes, ["repo"], "op_ts",
                           broadcast=True, max_history=100_000)))
    # SHALLOW history (dimension-table shape: ~1 version per key, many
    # keys): the broadcast plan's intended territory — no probe shuffle
    dim = (ev.filter(F.col("op_ts").isNotNull())
           .groupBy("repo", "path")
           .agg(F.min("op_ts").alias("op_ts"),
                F.max("event_seq").alias("dval")))
    n_dim = dim.count()
    out["shallow_dim"] = {"rows": n_dim, "keys": n_dim, "avg_history": 1.0}
    out["runs"].append(timed(
        "asof_window_plan_shallow_dim",
        temporal.asof_join(probes, dim, ["repo", "path"], "op_ts",
                           broadcast=False)))
    out["runs"].append(timed(
        "asof_broadcast_plan_shallow_dim",
        temporal.asof_join(probes, dim, ["repo", "path"], "op_ts",
                           broadcast=True)))

    day_ms = 86_400_000.0
    iv = quotes.select(
        "repo", F.col("op_ts").alias("start_ts"),
        (F.col("op_ts") + int(day_ms)).alias("end_ts"),
        F.col("qval").alias("iv_id"))
    out["runs"].append(timed(
        "range_join_points_in_intervals",
        temporal.range_join(probes, iv, ["repo"], "op_ts",
                            "start_ts", "end_ts", bin_width=day_ms,
                            point_cols=["repo", "path", "event_seq"],
                            interval_cols=["iv_id"])))
    jv = iv.withColumnRenamed("iv_id", "jv_id") \
        .filter(F.xxhash64("jv_id") % 7 == 0)
    out["runs"].append(timed(
        "overlap_join_intervals",
        temporal.overlap_join(iv, jv, ["repo"], "start_ts", "end_ts",
                              "start_ts", "end_ts", bin_width=day_ms,
                              left_cols=["repo", "iv_id"],
                              right_cols=["jv_id"])))
    out["note"] = (
        "single timed run per shape after a shared warmup count; "
        "relative-shape probe, host-window wall noise applies (see "
        "BASELINE.md). Reading: the broadcast as-of is ~50x SLOWER than "
        "the window plan on deep per-key histories (its match is a linear "
        "array scan per probe row) and at par on shallow dimensions in "
        "LOCAL mode, where the exchange it removes is only an in-JVM "
        "copy — its real win (no probe-side network shuffle) exists on a "
        "real cluster. The default "
        "max_history=64 guard turns the deep-history misuse into a loud "
        "error; this probe raises it deliberately to measure the penalty")
    with open(os.path.join(REPO, "TEMPORAL_PROBE.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
