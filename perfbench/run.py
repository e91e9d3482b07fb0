#!/usr/bin/env python3
"""Benchmark of the CDC engine, driven through the public API of
``cdc_core_spark``. The two workloads load different ingest layers:

* ``backlog_replay``: ``CdcEngine.replay`` of synth's whole 8-epoch log onto
  a freshly loaded table, then ``count_final``. The replay loop's ~19 Spark
  jobs, the DDL scan, LWW reduce, delta staging and group commits. At this
  log size the per-event share (LWW reduce, shuffle) is small next to the
  fixed cost of the replay's jobs; the ``lww.*`` layer metrics of the
  traced run show it.
* ``microbatch_tail``: ``streaming.stream.stream_ingest`` drains the same
  log re-cut into 3 epoch files, one file per micro-batch and one
  ``apply_epoch`` commit each. Per-commit fixed cost: Spark job floor,
  snapshot publish, streaming overhead.

A run is one untimed warm-up, then cycles until ``--seconds`` have passed
(at least ``MIN_CYCLES``; a traced run makes ``TRACE_CYCLES`` and traces
those in ``TRACED_CYCLES``). A cycle sets up a fresh table with the initial
load (timed as set-up) and runs the workload's timed work on it;
``setup_s`` and ``work_s`` are medians over the cycles. The run then
serves the last cycle's table with no ingest, each step timed once, as
``serve_s``: keyed point reads through ``sinks.docstore.find_document`` on
hot and cold repos, ``SnapshotTable.read_changes`` since the initial load,
a full merge-on-read fold and ``CdcEngine.compact``. Every answer is
checked against the pandas oracle of ``cdc_core_spark.oracle``.

Usage, from the repository root::

    python3 perfbench/run.py --workload backlog_replay --seed 1 \\
        --seconds 15 --trace 0

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. The line before it
is the detail record: host, versions, fixture, per-cycle samples and each
workload's own metrics. A failed check exits with code 1.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections import Counter
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

import bench_trace as bt  # noqa: E402  (this file's directory is on sys.path)

#: at least two cycles after the warm-up, and more while ``--seconds`` has
#: not passed: on a 4-CPU host the JVM start and the warm-up take 15-30 s
#: and a cycle 4-10 s, as other load on the host comes and goes, and a
#: whole run has to stay near a minute
MIN_CYCLES = 2
#: a traced run traces its first and third cycles and not the one between,
#: so the warming JVM speeds both sides alike and their difference is the
#: tracing overhead
TRACED_CYCLES = (0, 2)
TRACE_CYCLES = 3
#: the session default is sized for a 32-CPU host; this fits a 4-CPU one
DRIVER_MEM = "2g"
#: one bucket per core of a 4-CPU host; at the engine's default of 16 the
#: per-task overhead makes a cycle ~30% longer and a run outgrows its budget
N_BUCKETS = 4


@dataclass
class Cycle:
    begin: float          # epoch seconds at the start of set-up
    start: float          # start of the timed work
    end: float
    setup_s: float
    traced: bool
    engine: object
    lake: dict
    loaded: int = 0       # table version right after the initial load
    #: micro-batches only: each non-empty batch's ``durationMs``
    progress: list = field(default_factory=list)

    @property
    def work_s(self) -> float:
        return self.end - self.start


class Bench:
    """One benchmark process: Spark session, fixture facts, check counters
    and the tracer."""

    def __init__(self, spark, fx, work: str, tracer: bt.Tracer):
        from cdc_core_spark import synth
        from cdc_core_spark.registry import SchemaRegistry
        self.spark = spark
        self.fx = fx
        self.facts = fx.facts()
        self.work = work
        self.tracer = tracer
        self.registry = SchemaRegistry.from_docs(synth.registry_docs())
        self.source = spark.read.parquet(fx.source)
        self.attempted = 0
        self.failed = 0
        self.state_crc: int | None = None   # the oracle's, once Spark is warm
        self._state: str | None = None
        self._n_states = 0

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    def fresh_engine(self):
        """Drop the previous cycle's state, flush its writes to disk so they
        cannot land inside the next timed region, and open an engine on a
        new state directory."""
        from cdc_core_spark.engine import CdcEngine
        if self._state:
            shutil.rmtree(self._state, ignore_errors=True)
        os.sync()
        self._n_states += 1
        self._state = os.path.join(self.work, f"state{self._n_states}")
        return CdcEngine(self.spark, self._state, self.registry,
                         n_buckets=N_BUCKETS)

    def timed(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` and return ``(result, seconds)``. In traced cycles the
        call is recorded as span ``call.<name>``; its Spark jobs are the ones
        submitted inside the span, since every call runs alone."""
        t0 = time.time()
        try:
            out = fn(*args, **kwargs)
        finally:
            t1 = time.time()
            self.tracer.record("call." + name, t0, t1)
        return out, t1 - t0


def lake_state(table) -> dict:
    """Live files, deepest per-bucket delta stack, snapshot docs and staged
    delta bytes at the table's head."""
    snap = table.latest()
    deltas = [f for f in snap.files if f.get("kind") == "delta"]
    depth = Counter(f["bucket"] for f in deltas)
    return {"files_live": len(snap.files),
            "delta_depth_max": max(depth.values(), default=0),
            "snapshot_docs": len(table.history()),
            "bytes_written": sum(f.get("bytes", 0) for f in deltas)}


# ---------------------------------------------------------------- workloads

def backlog_replay(b: Bench, warmup: bool = False) -> Cycle:
    """Replay the whole 8-epoch log onto a freshly loaded table and count
    the converged rows. The warm-up replays only the first three epochs."""
    eng = b.fresh_engine()
    begin = time.time()
    b.timed("initial_load", eng.initial_load, b.source)
    loaded = eng.table.latest_meta().version
    start = time.time()
    b.timed("replay", eng.replay, b.fx.events,
            epochs=b.facts["epochs"][:3] if warmup else None)
    rows, _ = b.timed("count_final", eng.count_final)
    end = time.time()
    if not warmup:
        b.check(rows == b.facts["rows"],
                f"count_final {rows} != oracle {b.facts['rows']}")
    return Cycle(begin, start, end, start - begin, b.tracer.enabled, eng,
                 lake_state(eng.table), loaded=loaded)


def microbatch_tail(b: Bench, warmup: bool = False) -> Cycle:
    """Drain the re-cut log through Structured Streaming, one file per
    micro-batch; each micro-batch is one ``apply_epoch`` commit. The
    warm-up drains only the first files."""
    from bench_fixtures import RECUT_EPOCHS, WARMUP_EPOCHS
    from cdc_core_spark.streaming import stream
    n = WARMUP_EPOCHS if warmup else RECUT_EPOCHS
    eng = b.fresh_engine()
    begin = time.time()
    b.timed("initial_load", eng.initial_load, b.source)
    loaded = eng.table.latest_meta().version
    start = time.time()
    query, _ = b.timed("stream_ingest", stream.stream_ingest, eng,
                       b.fx.warmup if warmup else b.fx.recut,
                       os.path.join(eng.root, "checkpoint"),
                       max_files_per_trigger=1, available_now=True)
    end = time.time()
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    b.check(len(progress) == n,
            f"{len(progress)} non-empty micro-batches, not {n}")
    return Cycle(begin, start, end, start - begin, b.tracer.enabled, eng,
                 lake_state(eng.table), loaded=loaded,
                 progress=[dict(p["durationMs"]) for p in progress])


def _point_read(spark, root: str, key: dict) -> list:
    from cdc_core_spark.sinks import docstore
    return docstore.find_document(
        spark, root, {"repo": key["repo"], "path": key["path"]}).collect()


def _same_doc(rows: list, sha256: str | None) -> bool:
    if sha256 is None:
        return not rows
    return (len(rows) == 1 and hashlib.sha256(
        rows[0]["content"].encode()).hexdigest() == sha256)


WORKLOADS = {"backlog_replay": backlog_replay,
             "microbatch_tail": microbatch_tail}


def serve(b: Bench, cycle: Cycle) -> dict:
    """Serve the cycle's table, each answer checked against the oracle:
    keyed point reads on hot and cold repos, the changelog since the
    initial load, a full merge-on-read fold, then compaction and a second
    fold of the compacted table. Returns the walls."""
    from cdc_core_spark import oracle
    eng = cycle.engine
    t0 = time.time()
    applied = sum(m["events_applied"] for m in eng.table.all_manifests()
                  if m["checkpoint_epoch"] >= 0)
    lookups = []
    for key in b.facts["lookups"]:
        rows, dt = b.timed("find_document", _point_read, b.spark,
                           eng.table.root, key)
        lookups.append(dt * 1000)
        b.check(_same_doc(rows, key["sha256"]),
                f"point read of {key['repo']} {key['path']}")
    changes, changelog_s = b.timed(
        "read_changes",
        lambda: eng.table.read_changes(b.spark, cycle.loaded).count())
    b.check(changes == applied,
            f"read_changes returned {changes} rows, manifests say {applied}")

    def fold(what: str) -> float:
        crc, dt = b.timed(
            "fold", lambda: oracle.state_crc(eng.read_final_with_sha()))
        b.check(crc == b.state_crc,
                f"{what}: state crc {crc} != oracle {b.state_crc}")
        return dt

    walls = {"lookup_ms": statistics.median(lookups),
             "lookup_max_ms": max(lookups), "changelog_s": changelog_s,
             "fold_s": fold("fold")}
    _, walls["compact_s"] = b.timed("compact", eng.compact)
    walls["compacted_fold_s"] = fold("fold after compaction")
    walls["serve_s"] = time.time() - t0
    return walls


def final_checks(b: Bench, cycle: Cycle, workload: str) -> tuple[float, dict]:
    """Check the last cycle's table against the oracle and serve it (see
    ``serve``). Returns the live megabytes before compaction and the serve
    walls."""
    from bench_fixtures import RECUT_EPOCHS
    eng = cycle.engine
    table_mb = sum(f.get("bytes", 0) for f in eng.table.latest().files) / 1e6
    dlq = eng.errors_df().count()
    b.check(dlq == b.facts["quarantine"],
            f"{dlq} DLQ rows, oracle quarantines {b.facts['quarantine']}")
    want = (set(range(RECUT_EPOCHS)) if workload == "microbatch_tail"
            else set(b.facts["epochs"]))
    b.check(eng.table.committed_epochs() == want,
            "committed epochs are not the input epochs")
    return table_mb, serve(b, cycle)


# ------------------------------------------------------------------ metrics

def end_to_end(cycles: list[Cycle], table_mb: float, rss_mb: float,
               walls: dict) -> dict:
    return {"setup_s": statistics.median(c.setup_s for c in cycles),
            "work_s": statistics.median(c.work_s for c in cycles),
            "table_mb": table_mb,
            "peak_rss_mb": rss_mb, **walls}


def workload_metrics(workload: str, cycles: list[Cycle], facts: dict,
                     e2e: dict) -> dict:
    """The workload's own names for its numbers: the replay wall, or the
    median micro-batch commit (``triggerExecution``) and their count."""
    out = {**e2e, "events_per_s": facts["events"] / e2e["work_s"]}
    if workload == "backlog_replay":
        out["replay_s"] = e2e["work_s"]
    else:
        commits = [d["triggerExecution"] for c in cycles for d in c.progress]
        out["commit_p50_ms"] = statistics.median(commits)
        out["commits"] = len(commits)
    return out


def layer_metrics(workload: str, cycles: list[Cycle], log: bt.EventLog,
                  tracer: bt.Tracer, facts: dict) -> dict:
    traced = [c for c in cycles if c.traced]
    plain = [c for c in cycles if not c.traced]

    def spans(c: Cycle, *names: str) -> list[bt.Span]:
        return [s for s in tracer.within(c.begin, c.end) if s.name in names]

    def call(name: str, key: str, scale: float = 1.0) -> float:
        # every recorded call: traced cycles and the traced final checks
        return scale * bt.median_or_zero(
            bt.call_stats(log, s)[key] for s in tracer.spans if s.name == name)

    def per_cycle(fn) -> float:
        return bt.median_or_zero(fn(c) for c in traced)

    def count(name: str) -> float:
        return per_cycle(lambda c: len(spans(c, name)))

    def progress(key: str) -> float:
        return bt.median_or_zero(d.get(key, 0) for c in traced
                                 for d in c.progress)

    def shuffle(key: str) -> float:
        return per_cycle(lambda c: bt.shuffle_stats(
            log, spans(c, "engine.replay", "engine.apply_epoch"))[key])

    def unaccounted(c: Cycle) -> float:
        # not the stream_ingest call, which spans the whole drain: Spark's
        # streaming overhead around the commits stays unaccounted
        layer = [(s.start, s.end) for s in tracer.within(c.start, c.end)
                 if s.name.split(".")[0] in ("engine", "lake", "docstore")]
        return c.work_s - bt.union_length(layer, c.start, c.end)

    in_bytes = (facts["recut_bytes"] if workload == "microbatch_tail"
                else facts["event_bytes"])
    written = per_cycle(lambda c: c.lake["bytes_written"])
    return {
        "engine.initial_load.wall_s": call("engine.initial_load", "wall_s"),
        "engine.initial_load.jobs": call("engine.initial_load", "jobs"),
        "engine.replay.wall_s": call("engine.replay", "wall_s"),
        "engine.replay.jobs": call("engine.replay", "jobs"),
        "engine.replay.tasks": call("engine.replay", "tasks"),
        "engine.replay.driver_only_s": call("engine.replay", "driver_only_s"),
        "engine.count_final.wall_s": call("engine.count_final", "wall_s"),
        "engine.count_final.jobs": call("engine.count_final", "jobs"),
        "engine.count_final.driver_only_s":
            call("engine.count_final", "driver_only_s"),
        "engine.apply_epoch.wall_ms":
            call("engine.apply_epoch", "wall_s", 1000),
        "engine.apply_epoch.jobs": call("engine.apply_epoch", "jobs"),
        "engine.apply_epoch.driver_only_ms":
            call("engine.apply_epoch", "driver_only_s", 1000),
        "engine.compact.wall_s": call("engine.compact", "wall_s"),
        "engine.compact.jobs": call("engine.compact", "jobs"),
        "lww.shuffle_write_mb": shuffle("write_bytes") / 1e6,
        "lww.shuffle_records": shuffle("write_records"),
        "lww.task_skew": shuffle("skew"),
        "lake.commit.wall_ms": call("lake.commit", "wall_s", 1000),
        "lake.commit.count": count("lake.commit"),
        "lake.committed_epochs.wall_ms":
            call("lake.committed_epochs", "wall_s", 1000),
        "lake.latest.wall_ms": call("lake.latest", "wall_s", 1000),
        "lake.latest.count": count("lake.latest"),
        "lake.snapshot_docs": per_cycle(lambda c: c.lake["snapshot_docs"]),
        "lake.read.plan_ms": call("lake.read", "wall_s", 1000),
        "lake.files_live": per_cycle(lambda c: c.lake["files_live"]),
        "lake.delta_depth_max":
            per_cycle(lambda c: c.lake["delta_depth_max"]),
        "lake.bytes_written_mb": written / 1e6,
        "lake.write_amp": written / in_bytes,
        "streaming.latest_offset_ms": progress("latestOffset"),
        "streaming.query_planning_ms": progress("queryPlanning"),
        "streaming.add_batch_ms": progress("addBatch"),
        "streaming.wal_commit_ms": progress("walCommit"),
        "coordination.lease_ms": call("coordination.lease", "wall_s", 1000),
        "coordination.heartbeats": count("coordination.heartbeat"),
        "coordination.heartbeat_ms":
            call("coordination.heartbeat", "wall_s", 1000),
        # a point read is find_document and the collect of its answer
        "docstore.find_document.jobs": call("call.find_document", "jobs"),
        "docstore.find_document.driver_only_ms":
            call("call.find_document", "driver_only_s", 1000),
        "spark.failed_tasks": log.failed_tasks(),
        "trace.overhead_s": (statistics.median(c.work_s for c in traced)
                             - statistics.median(c.work_s for c in plain)),
        "trace.unaccounted_s": per_cycle(unaccounted),
    }


def trace_targets() -> list:
    """Public functions the traced cycles time: ``(owner, attribute,
    span name)``."""
    from cdc_core_spark import coordination
    from cdc_core_spark.engine import CdcEngine
    from cdc_core_spark.lake import SnapshotTable
    from cdc_core_spark.sinks import docstore
    out = [(CdcEngine, m, "engine." + m)
           for m in ("initial_load", "replay", "count_final", "apply_epoch",
                     "compact")]
    out += [(SnapshotTable, m, "lake.commit")
            for m in ("commit_delta", "commit_delta_grouped", "commit_merge",
                      "commit_metadata")]
    out += [(SnapshotTable, "latest", "lake.latest"),
            (SnapshotTable, "latest_meta", "lake.latest"),
            (SnapshotTable, "committed_epochs", "lake.committed_epochs"),
            (SnapshotTable, "read", "lake.read"),
            (coordination.ProcessLock, "acquire", "coordination.lease"),
            (coordination, "write_heartbeat", "coordination.heartbeat"),
            (docstore, "find_document", "docstore.find_document")]
    return out


# ------------------------------------------------------------------ process

def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus the Spark JVM."""
    jvm = spark.sparkContext._jvm
    return (_vm_hwm_mb("self")
            + _vm_hwm_mb(jvm.java.lang.ProcessHandle.current().pid()))


def host_info(spark) -> dict:
    import pandas
    import pyarrow
    with open("/proc/meminfo") as f:
        mem_kb = int(next(x for x in f if x.startswith("MemTotal:")).split()[1])
    return {"cores": len(os.sched_getaffinity(0)), "cpu_count": os.cpu_count(),
            "mem_gb": round(mem_kb / 2**20, 1), "driver_memory": DRIVER_MEM,
            "spark": spark.version, "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__,
            "python": platform.python_version()}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait until it exits."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()      # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def measure(args, spark, fixture: Future, tracer: bt.Tracer,
            work: str) -> dict:
    """Warm-up, the measured cycles and the final checks. A failure inside
    them is counted as a failed operation; the run still reports."""
    t0 = time.time()
    b = Bench(spark, fixture.result(), work, tracer)
    out = {"bench": b, "fixture_wait_s": time.time() - t0,
           "host": host_info(spark), "cycles": [], "values": None}
    if args.trace:
        tracer.install(trace_targets())
    run_cycle = WORKLOADS[args.workload]
    try:
        # untimed: a short cycle and one point read, so neither the first
        # measured cycle nor the serve phase pays the cold JVM; then the
        # oracle's state CRC, on the warm JVM
        from cdc_core_spark import oracle
        warm0 = time.time()
        warm = run_cycle(b, warmup=True)
        _point_read(spark, warm.engine.table.root, b.facts["lookups"][0])
        b.state_crc = oracle.state_crc(spark.read.parquet(b.fx.expected))
        loop0 = time.time()
        out["warmup_s"] = loop0 - warm0
        while (len(out["cycles"]) < (TRACE_CYCLES if args.trace
                                     else MIN_CYCLES)
               or time.time() - loop0 < args.seconds):
            tracer.enabled = (bool(args.trace)
                              and len(out["cycles"]) in TRACED_CYCLES)
            try:
                out["cycles"].append(run_cycle(b))
            finally:
                tracer.enabled = False
        # traced runs also trace the final checks: their serve calls are
        # the point-read, changelog and compaction layers
        tracer.enabled = bool(args.trace)
        try:
            table_mb, walls = final_checks(b, out["cycles"][-1],
                                           args.workload)
        finally:
            tracer.enabled = False
        out["values"] = end_to_end(out["cycles"], table_mb,
                                   peak_rss_mb(spark), walls)
    except Exception as e:  # noqa: BLE001 — reported as a failed operation
        traceback.print_exc()
        b.check(False, f"{type(e).__name__}: {e}")
    return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        from cdc_core_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp, eventlog = os.path.join(work, "tmp"), os.path.join(work, "eventlog")
    os.makedirs(tmp)
    os.makedirs(eventlog)
    os.environ.update({
        "CDC_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = None
    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + eventlog,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})

    import bench_fixtures as bf
    tracer = bt.Tracer()
    # the fixture is pandas work: build it while the JVM starts
    with ThreadPoolExecutor(1) as pool:
        fixture = pool.submit(bf.ensure, os.path.join(WORK, "fixtures"),
                              args.seed)
        t0 = time.time()
        spark = get_spark("perfbench", cores=len(os.sched_getaffinity(0)),
                          extra_conf=conf)
        session_s = time.time() - t0
        try:
            out = measure(args, spark, fixture, tracer, work)
        finally:
            tracer.uninstall()
            stop_spark(spark)

    b, cycles, values = out["bench"], out["cycles"], out["values"]
    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "host": out["host"], "fixture_key": b.fx.key,
              "fixture": {**{k: b.facts[k] for k in
                             ("scale", "generator", "events", "rows",
                              "quarantine")}, "state_crc": b.state_crc},
              "session_s": session_s,
              "fixture_wait_s": out["fixture_wait_s"],
              "warmup_s": out.get("warmup_s"),
              "cycles": [{"setup_s": c.setup_s, "work_s": c.work_s,
                          "traced": c.traced} for c in cycles]}
    wanted = spec["end_to_end"]
    if values is not None:
        detail["workload_metrics"] = workload_metrics(
            args.workload, cycles, b.facts, values)
        if args.trace:
            lines = []
            for path in sorted(glob.glob(os.path.join(eventlog, "*"))):
                with open(path) as f:
                    lines.extend(f)
            values = layer_metrics(args.workload, cycles,
                                   bt.parse_event_log(lines), tracer, b.facts)
            wanted = spec["per_layer"]
    detail["failed_ops_ratio"] = b.failed / max(b.attempted, 1)
    shutil.rmtree(work, ignore_errors=True)

    correct = values is not None and b.failed == 0
    metrics = ({m["name"]: {"value": float(values[m["name"]]),
                            "unit": m["unit"]} for m in wanted}
               if values is not None else {})
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
