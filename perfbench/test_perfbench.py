"""Tests of the benchmark's own logic; none of them starts Spark.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

import json
import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import bench_trace as bt  # noqa: E402


# -------------------------------------- job intervals and driver-only time

def _job(jid, start_ms, end_ms, stages):
    return [json.dumps({"Event": "SparkListenerJobStart", "Job ID": jid,
                        "Submission Time": start_ms, "Stage IDs": stages}),
            json.dumps({"Event": "SparkListenerJobEnd", "Job ID": jid,
                        "Completion Time": end_ms,
                        "Job Result": {"Result": "JobSucceeded"}})]


def _task(stage, launch_ms, finish_ms, failed=False, written=0, read=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms,
                      "Failed": failed},
        "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written,
                                      "Shuffle Records Written": written // 10},
            "Shuffle Read Metrics": {"Total Records Read": read}}})


def _synthetic_log():
    lines = (_job(0, 1000, 3000, [0]) + _job(1, 2000, 4000, [1])
             + _job(2, 6000, 7000, [2]) + _job(3, 20000, 21000, [3]))
    lines += [_task(0, 1000, 2000, written=100),
              _task(0, 1000, 2500, written=300),
              _task(1, 2000, 3000, read=5), _task(1, 2000, 3000, read=5),
              _task(1, 2000, 6000, read=5),
              _task(2, 6000, 6500, failed=True), _task(2, 6000, 6900),
              _task(3, 20000, 20500), "\n"]
    return bt.parse_event_log(lines)


def test_union_length_merges_overlaps_and_clips():
    assert bt.union_length([(1, 3), (2, 4), (6, 7)]) == 4
    assert bt.union_length([(0, 2), (1, 3), (5, 6)], lo=1.5, hi=5.5) == 2.0
    assert bt.union_length([(3, 1)]) == 0
    assert bt.union_length([]) == 0


def test_call_stats_on_synthetic_event_log():
    log = _synthetic_log()
    stats = bt.call_stats(log, bt.Span("engine.replay", 0.5, 10.0))
    # job 3 starts after the call ended; jobs 0-2 cover 1-4 s and 6-7 s
    assert stats["jobs"] == 3
    assert stats["tasks"] == 7
    assert stats["wall_s"] == pytest.approx(9.5)
    assert stats["driver_only_s"] == pytest.approx(9.5 - 4.0)
    assert bt.driver_only(0.5, 10.0, [(1, 4), (6, 7)]) == pytest.approx(5.5)


def test_shuffle_stats_and_failed_tasks():
    log = _synthetic_log()
    sh = bt.shuffle_stats(log, [bt.Span("engine.replay", 0.5, 10.0)])
    assert sh["write_bytes"] == 400
    assert sh["write_records"] == 40
    assert sh["skew"] == pytest.approx(4.0)   # reduce stage: 1 s, 1 s, 4 s
    assert log.failed_tasks() == 1


# --------------------------------------------------------- fixture cache

def test_fixture_cache_key_is_per_scale_and_seed():
    import bench_fixtures as bf
    from cdc_core_spark import synth
    key = bf.cache_key(bf.SCALE, 1, "f00d")
    assert key == bf.cache_key(bf.SCALE, 1, "f00d")
    assert key != bf.cache_key(bf.SCALE, 2, "f00d")
    assert key != bf.cache_key(bf.SCALE, 1, "beef")
    other = synth.Scale(bf.SCALE.name, n_paths=bf.SCALE.n_paths,
                        n_events=bf.SCALE.n_events + 1)
    assert key != bf.cache_key(other, 1, "f00d")


def test_generate_follows_the_seed_and_restores_the_global():
    import bench_fixtures as bf
    from cdc_core_spark import synth
    tiny = synth.Scale("tiny", n_paths=60, n_events=400)
    before = synth.SEED
    a, b, c = bf.generate(7, tiny), bf.generate(7, tiny), bf.generate(8, tiny)
    assert synth.SEED == before
    assert a.change_events.equals(b.change_events)
    assert not a.change_events.equals(c.change_events)


def test_recut_files_are_stamped_in_epoch_order(tmp_path):
    import pandas as pd
    import bench_fixtures as bf
    from cdc_core_spark import synth
    fx = bf.generate(3, synth.Scale("tiny", n_paths=60, n_events=400))
    bf.write_recut(fx.change_events, str(tmp_path), 5)
    paths = [tmp_path / f"checkpoint_epoch={e}" / "part-0.parquet"
             for e in range(5)]
    mtimes = [p.stat().st_mtime for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 5
    seqs = pd.concat([pd.read_parquet(p) for p in paths])["event_seq"]
    assert seqs.is_monotonic_increasing
    assert len(seqs) == len(fx.change_events)


# -------------------------------------------------------------- wrappers

def test_wrappers_leave_return_values_unchanged():
    class Table:
        def latest(self, x, *, y=1):
            return (x, y, self)

        def boom(self):
            raise ValueError("boom")

    mod = types.ModuleType("fake_module")

    def find(a):
        return [a]
    mod.find = find
    original = Table.__dict__["latest"]

    tracer = bt.Tracer()
    tracer.install([(Table, "latest", "lake.latest"),
                    (Table, "boom", "lake.boom"),
                    (mod, "find", "docstore.find_document")])
    t = Table()
    assert t.latest(3, y=4) == (3, 4, t)       # disabled: no span
    assert tracer.spans == []
    tracer.enabled = True
    assert t.latest(3, y=4) == (3, 4, t)
    assert mod.find(5) == [5]
    with pytest.raises(ValueError):
        t.boom()
    assert [s.name for s in tracer.spans] == [
        "lake.latest", "docstore.find_document", "lake.boom"]
    assert all(s.end >= s.start for s in tracer.spans)
    tracer.uninstall()
    assert Table.__dict__["latest"] is original
    assert mod.find is find
