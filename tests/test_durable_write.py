"""Crash sweep over the one durable-write primitive, ``fsutil.publish_local``.

Every protocol that publishes local state runs with the primitive raising
just before or just after its k-th call; the protocol is then rerun from
scratch, the way a restarted driver would. ``publish_local`` is the only
place a file becomes visible, so a single monkeypatch reaches every
durable write. The guard test at the bottom keeps it that way.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
from pathlib import Path

import numpy as np
import pytest

from cdc_core_spark import coordination as coord
from cdc_core_spark import fsutil
from cdc_core_spark.sources import remote_fs as rfs


class Crash(Exception):
    pass


@contextlib.contextmanager
def crash_at(k: int, when: str):
    """Run the body with the k-th ``publish_local`` call raising ``Crash``
    before (nothing published) or after (published, caller interrupted)
    the real publish; the crash must fire. Yields ``when``."""
    real = fsutil.publish_local
    calls: list[str] = []

    def patched(path, fill, exclusive=False):
        calls.append(path)
        if len(calls) == k and when == "before":
            raise Crash(path)
        real(path, fill, exclusive)
        if len(calls) == k and when == "after":
            raise Crash(path)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(fsutil, "publish_local", patched)
        with pytest.raises(Crash):
            yield when


def _load(path) -> dict:
    return json.loads(Path(path).read_text())


def _tmp_debris(root: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(root)
            for f in fs if f.endswith(".tmp")]


def _only_live(path: str, sidecar: str) -> None:
    """After a successful publish the store holds its sidecar and exactly
    the generation the sidecar names."""
    gen = _load(os.path.join(path, sidecar))["gen"]
    assert sorted(os.listdir(path)) == [sidecar, f"g{gen}"]


def _lease(tmp_path, request, crash):
    """Acquire publishes one complete lease doc with the exclusive CAS; a
    failed acquire leaves no lock behind, so the next acquire succeeds at
    once even with a long TTL (a stranded lease would raise
    ``LockHeldError`` for ten minutes)."""
    root = str(tmp_path / "t")
    with crash:
        coord.ProcessLock(root, owner="a", ttl_ms=600_000).acquire()
    assert not os.path.exists(os.path.join(root, "_lock.json"))
    assert not _tmp_debris(root)
    lock = coord.ProcessLock(root, owner="b", ttl_ms=600_000).acquire()
    assert _load(lock.path)["owner"] == "b"
    lock.release()


def _sync(tmp_path, request, crash):
    """Five files, state doc every two: the publish sequence is
    f0 f1 state f2 f3 state f4 state (8 calls). After a crash anywhere,
    every recorded file is on disk, no temp file is visible, and a rerun
    fetches exactly the unrecorded files."""
    remote = tmp_path / "remote"
    remote.mkdir()
    names = [f"f{i}.txt" for i in range(5)]
    for i, n in enumerate(names):
        (remote / n).write_text(f"v{i}")
    staging = tmp_path / "staging"
    be = rfs.LocalBackend(str(remote))
    with crash:
        rfs.sync_remote_dir(be, str(staging), state_every=2)
    state_p = staging / "_sync_state.json"
    recorded = set(_load(state_p)) if state_p.exists() else set()
    assert not _tmp_debris(str(staging))
    for n in recorded:
        assert (staging / n).read_text() == (remote / n).read_text()
    got = rfs.sync_remote_dir(be, str(staging), state_every=2)
    assert sorted(got) == sorted(set(names) - recorded)
    assert set(_load(state_p)) == set(names)
    for n in names:
        assert (staging / n).read_text() == (remote / n).read_text()


def _docs(spark, lo: int, hi: int, salt: str):
    rows = [(i, f"alpha w{i % 7} {salt} " + ("merge " * (i % 4)))
            for i in range(lo, hi)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _text_answers(spark, path):
    from cdc_core_spark.operators import textsearch as ts
    return [tuple(r) for r in ts.search_text_stored(
        spark, path, ["merge", "alpha", "beta"], scoring="tfidf").collect()]


def _store_crash(path, sidecar, answers, publish, crash, same_answers):
    """Shared store checks: the crash leaves the old answers (before the
    sidecar publish) or the new ones (after it) — never a mix of new data
    with old metadata — and a rerun converges with only the live
    generation left."""
    _only_live(path, sidecar)
    old = answers()
    with crash as when:
        publish()
    mid = answers()
    publish()
    new = answers()
    _only_live(path, sidecar)
    assert (new == old) == same_answers
    assert mid == (old if when == "before" else new)


def _write_text_index(tmp_path, request, crash):
    from cdc_core_spark.operators import textsearch as ts
    spark = request.getfixturevalue("spark")
    path = str(tmp_path / "tidx")
    ts.write_text_index(ts.build_text_index(_docs(spark, 0, 40, "beta"),
                                            "doc_id", "text"), path, 4)
    new = ts.build_text_index(_docs(spark, 20, 90, "gamma"), "doc_id", "text")
    _store_crash(path, "_index_meta.json", lambda: _text_answers(spark, path),
                 lambda: ts.write_text_index(new, path, 4), crash,
                 same_answers=False)


def _compact_text_index(tmp_path, request, crash):
    from cdc_core_spark.operators import textsearch as ts
    spark = request.getfixturevalue("spark")
    path = str(tmp_path / "tidx")
    ts.write_text_index(ts.build_text_index(_docs(spark, 0, 40, "beta"),
                                            "doc_id", "text"), path, 4)
    ts.append_text_index(ts.build_text_index(_docs(spark, 40, 80, "gamma"),
                                             "doc_id", "text"), path)
    _store_crash(path, "_index_meta.json", lambda: _text_answers(spark, path),
                 lambda: ts.compact_text_index(spark, path), crash,
                 same_answers=True)


def _ivf_write(tmp_path, request, crash):
    from cdc_core_spark.operators import similarity
    spark = request.getfixturevalue("spark")
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((120, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        "vec_id long, embedding array<double>")
    q = [float(x) for x in vecs[70]]
    path = str(tmp_path / "ivf")
    similarity.ivf_write(df.filter("vec_id < 60"), "vec_id", "embedding",
                         path, n_cells=4)

    def answers():
        return [r["vec_id"] for r in similarity.ivf_topk_stored(
            spark, path, "vec_id", "embedding", q, k=5, nprobe=2).collect()]

    _store_crash(path, "_ivf_centroids.json", answers,
                 lambda: similarity.ivf_write(
                     df.filter("vec_id >= 40"), "vec_id", "embedding", path,
                     n_cells=4),
                 crash, same_answers=False)


def _engine_crash(tmp_path, request, crash, run):
    """Shared delta-protocol check on the t1 fixture: ``run(engine, t1)``
    drives every epoch from whatever state the table is in; it is
    interrupted once by the crash, then rerun by a fresh engine (a
    restarted process). The rerun must reach the oracle state with an exact
    epoch ledger, no retained snapshot may reference a missing file, and
    the orphan sweep must leave only referenced stage directories. Returns
    the rerun's engine."""
    from cdc_core_spark.engine import CdcEngine
    from tests.conftest import assert_final_equal
    spark, t1, registry = (request.getfixturevalue(n)
                           for n in ("spark", "t1", "registry"))
    root = str(tmp_path / "e")
    with crash:
        run(CdcEngine(spark, root, registry, n_buckets=4), t1)
    eng = CdcEngine(spark, root, registry, n_buckets=4)
    run(eng, t1)
    assert_final_equal(eng.read_final_with_sha().toPandas(), t1["expected"])
    t = eng.table
    assert t.committed_epochs() == set(_t1_epochs(t1))
    _referenced_stages_after_sweep(t)
    return eng


def _t1_epochs(t1) -> list[int]:
    return sorted(int(d.split("=")[1]) for d in
                  os.listdir(os.path.join(t1["dir"], "change_events"))
                  if d.startswith("checkpoint_epoch="))


def _run_replay(eng, t1):
    """Grouped replay under the writer lease (lease, heartbeats, renewals,
    the initial load and the one group commit, schema changes included,
    all publish)."""
    src = eng.spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)


def _run_apply_epoch(eng, t1):
    """One standalone ``apply_epoch`` per epoch (the streaming path), after
    the initial load, skipping what the ledger already holds."""
    from pyspark.sql import functions as F
    spark = eng.spark
    if not (eng.table.exists()
            and eng.table.latest_meta().props.get("initial_loaded")):
        eng.initial_load(
            spark.read.parquet(f'{t1["dir"]}/source_repos.parquet'))
    events = spark.read.parquet(f'{t1["dir"]}/change_events')
    done = eng.table.committed_epochs()
    for e in _t1_epochs(t1):
        if e not in done:
            eng.apply_epoch(events.filter(F.col("checkpoint_epoch") == e), e)


def _run_compact(eng, t1):
    """The grouped replay, then the one compaction entry point as an
    explicit maintenance step: every delta-bearing bucket re-bases."""
    _run_replay(eng, t1)
    eng.compact(min_delta_files=1)


def _replay(tmp_path, request, crash):
    _engine_crash(tmp_path, request, crash, _run_replay)


def _compact(tmp_path, request, crash):
    head = _engine_crash(tmp_path, request, crash, _run_compact).table.latest()
    assert head.maintenance
    assert not [f for f in head.files if f.get("kind") == "delta"]


def _apply_epoch(tmp_path, request, crash):
    _engine_crash(tmp_path, request, crash, _run_apply_epoch)


def _rollup(tmp_path, request, crash):
    """The rollup's create, then two refreshes, each after one source
    commit (the second empties group "b", so its refresh stages a
    tombstone). A restarted driver lets the source writer finish its
    epochs, loads the rollup (re-creating it when create never
    finalized) and refreshes once: the rollup equals a direct GROUP BY at
    the source head with an exact base version, and the orphan sweep
    leaves only referenced stage directories."""
    import shutil

    from pyspark.sql import functions as F

    from cdc_core_spark.lake import SnapshotTable, bucket_expr
    from cdc_core_spark.operators.rollup import (IncrementalRollup,
                                                 RollupStateError)
    spark = request.getfixturevalue("spark")
    src = SnapshotTable.create(
        str(tmp_path / "src"), key_cols=["k"], n_buckets=4,
        fields=[{"name": "k", "type": "long"}, {"name": "g", "type": "string"},
                {"name": "v", "type": "long"}])
    batches = [[(1, "a", 10, False), (2, "b", 20, False), (3, "a", 5, False)],
               [(1, "a", 11, False), (4, "c", 7, False)],
               [(2, "b", 20, True), (4, "a", 8, False)]]

    def commit(e):
        df = spark.createDataFrame(
            batches[e], "k long, g string, v long, _deleted boolean")
        src.commit_delta(
            df.withColumn("_op_ts", F.lit(100 * (e + 1)).cast("bigint"))
            .withColumn("_event_seq", F.col("k"))
            .withColumn("_bucket", bucket_expr(["k"], 4)),
            epoch=e, manifests=[])

    root = str(tmp_path / "roll")
    spec = [{"op": "count"}, {"op": "sum", "col": "v"},
            {"op": "max", "col": "v"}]
    commit(0)
    with crash:
        r = IncrementalRollup.create(spark, src, root, ["g"], spec)
        for e in (1, 2):
            commit(e)
            r.refresh(spark)
    for e in (1, 2):
        if e not in src.committed_epochs():
            commit(e)
    try:
        r = IncrementalRollup.load(src, root)
    except (RollupStateError, FileNotFoundError):
        shutil.rmtree(root, ignore_errors=True)
        r = IncrementalRollup.create(spark, src, root, ["g"], spec)
    r.refresh(spark)
    want = {row["g"]: tuple(row[1:]) for row in src.read(spark).groupBy("g")
            .agg(F.count(F.lit(1)), F.sum("v"), F.max("v")).collect()}
    assert {row["g"]: (row["cnt"], row["sum_v"], row["max_v"])
            for row in r.read(spark).collect()} == want
    assert r.base_version == src.latest().version
    _referenced_stages_after_sweep(r.table)


def _referenced_stages_after_sweep(t) -> None:
    """Every file any retained snapshot references exists, and the orphan
    sweep leaves exactly the referenced stage directories."""
    referenced = set()
    for p in t._snapshot_paths():
        for f in t._load_snapshot(p).files:
            assert os.path.exists(os.path.join(t.root, f["path"])), f
            referenced.add(f["path"].split(os.sep)[1])
    t.remove_orphan_files(grace_s=0)
    assert set(os.listdir(t.data_dir)) == referenced


def _docstore(tmp_path, request, crash):
    """The document store's three publishes: the first upsert creates the
    store and commits a batch, the second replaces two docs, inserts one
    and deletes one through ``deleted_col``. Interrupted once, both
    upserts are rerun from scratch; the docs read back the same through a
    scan and through the one-bucket point read."""
    from cdc_core_spark.lake import SnapshotTable
    from cdc_core_spark.sinks import docstore
    spark = request.getfixturevalue("spark")
    root = str(tmp_path / "docs")
    first = spark.createDataFrame([(i, f"v{i}") for i in range(12)],
                                  "k long, body string")
    second = spark.createDataFrame(
        [(1, "w1", False), (5, "w5", None), (3, None, True), (20, "w20", False)],
        "k long, body string, gone boolean")

    def run():
        docstore.upsert_documents(first, root, ["k"], n_buckets=4)
        docstore.upsert_documents(second, root, ["k"], deleted_col="gone")

    with crash:
        run()
    run()
    body = {i: f"v{i}" for i in range(12) if i != 3}
    body.update({1: "w1", 5: "w5", 20: "w20"})
    want = {k: '{"body":"%s"}' % v for k, v in body.items()}
    assert {r["k"]: r["doc"] for r in
            docstore.read_documents(spark, root).collect()} == want
    for k in (1, 3, 5, 7, 20):
        got = [r["doc"] for r in
               docstore.find_document(spark, root, {"k": k}).collect()]
        assert got == ([want[k]] if k in want else []), (k, got)
    _referenced_stages_after_sweep(SnapshotTable(root))


# The two delta protocols make 8 (replay) and 10 (apply_epoch) durable
# calls on t1 with 4 buckets, and each case replays t1 up to twice, so k is
# sampled to fit the Tier-1 budget: one of each kind of write.
# replay: 1 lease acquire, 3 initial-load commit, 5 lease renew, 6 the one
# group commit (all eight epochs, with the three in-band schema changes in
# the same snapshot), 8 the final renew; the table create (2) crashes like
# apply_epoch's 1, and the heartbeats (4, 7) sit just before a renew and
# unwind the same way.
# apply_epoch: 1 table create (the rerun finishes a half-created table),
# 3 first epoch commit, 6 the first DDL-carrying epoch's schema+data
# commit, 10 the last epoch's commit; its initial load and the other epoch
# commits crash the same way as replay's 3 and 6.
# compact: the replay's 8 calls, then 9 the compaction's only durable
# call, its snapshot doc (Spark writes the rewritten files to a stage
# directory). The rerun's replay commits nothing; its compaction redoes the
# rewrite (before) or finds no delta left (after).
# docstore: every call, all three — 1 the store's create, 2 the first
# upsert's delta, 3 the second upsert's delta (replacements and a
# tombstone).
# rollup: 6 calls — 1 the rollup table's create, 2 the initial aggregate's
# delta (with the first rollup_base_version), 3 and 5 the source commits,
# 4 and 6 the two refreshes' deltas. Sampled: 2 (before it the rollup
# never finalized and is re-created; after it the crash cuts off both
# source commits) and 6 (the refresh with the tombstone); 4 unwinds like
# 6, and 1 like 2's before.
REPLAY_KS = (1, 3, 5, 6, 8)
APPLY_EPOCH_KS = (1, 3, 6, 10)
COMPACT_KS = (9,)
DOCSTORE_KS = (1, 2, 3)
ROLLUP_KS = (2, 6)

PROTOCOLS = {"lease": (_lease, [1]), "sync": (_sync, range(1, 9)),
             "write_text_index": (_write_text_index, [1]),
             "compact_text_index": (_compact_text_index, [1]),
             "ivf_write": (_ivf_write, [1]),
             # sampled k: see the comment above
             "replay": (_replay, REPLAY_KS),
             "apply_epoch": (_apply_epoch, APPLY_EPOCH_KS),
             "compact": (_compact, COMPACT_KS),
             "docstore": (_docstore, DOCSTORE_KS),
             "rollup": (_rollup, ROLLUP_KS)}


@pytest.mark.parametrize("protocol,k,when", [
    (p, k, when) for p, (_, ks) in PROTOCOLS.items()
    for k in ks for when in ("before", "after")])
def test_crash_at_publish_then_rerun(protocol, k, when, tmp_path, request):
    PROTOCOLS[protocol][0](tmp_path, request, crash_at(k, when))


@pytest.mark.parametrize("ahead", ["1.1", "2.1"])
def test_rerun_over_separate_schema_commit(ahead, tmp_path, request):
    """Tables written before schema changes rode the data commit published
    each in-band DDL as its own ``commit_metadata`` ahead of the data. A
    crash between the two leaves the schema ahead of the committed
    epochs: "1.1" is that state (epochs 0-2 committed, epoch 3's DDL
    published, its data not). "2.1" is a table whose every later schema
    change landed without data: all pending DDL then reads as replayed and
    every pending epoch is projected under 2.1, which on t1 gives the same
    rows. Either way the rerun must reach the oracle's full-row state with
    an exact epoch ledger, in one more snapshot."""
    from cdc_core_spark.engine import CdcEngine
    from tests.conftest import assert_final_equal
    spark, t1, registry = (request.getfixturevalue(n)
                           for n in ("spark", "t1", "registry"))
    root = str(tmp_path / "e")
    eng = CdcEngine(spark, root, registry, n_buckets=4)
    eng.replay(f'{t1["dir"]}/change_events', epochs=[0, 1, 2],
               source_df=spark.read.parquet(
                   f'{t1["dir"]}/source_repos.parquet'))
    new = registry.get("source_repos", ahead)
    eng.table.commit_metadata(
        [dict(f) for f in new.fields], dict(new.aliases),
        props={**eng.table.latest().props, "schema_version": ahead})
    v = eng.table.latest().version

    eng = CdcEngine(spark, root, registry, n_buckets=4)
    _run_replay(eng, t1)
    assert_final_equal(eng.read_final_with_sha().toPandas(), t1["expected"])
    assert eng.table.committed_epochs() == set(_t1_epochs(t1))
    assert eng.table.latest().version == v + 1
    assert eng.table.latest().props["schema_version"] == "2.1"


def test_durable_writes_live_only_in_fsutil():
    """Every rename/link/fsync/temp-file/exclusive-create publish in the
    package goes through fsutil, so the crash sweep above and any future
    one intercept them all with one monkeypatch."""
    pat = re.compile(r"\bos\.(rename|replace|link|fsync)\(|mkstemp|O_EXCL")
    home = Path(fsutil.__file__).resolve()
    hits = [f"{p}:{i}: {line.strip()}"
            for p in sorted(home.parent.rglob("*.py")) if p != home
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if pat.search(line)]
    assert not hits, "durable-write code outside fsutil:\n" + "\n".join(hits)


def test_no_logical_copy_on_write_commits():
    """Every logical keyed write (engine epochs, document store, rollup
    refreshes) publishes merge-on-read deltas: ``commit_merge`` is called
    only where base files are written — the engine's initial load and the
    two maintenance rewrites, compaction and tombstone expiry. A new
    copy-on-write writer anywhere in the package fails here."""
    import ast

    pkg = Path(fsutil.__file__).resolve().parent
    calls = []
    for p in sorted(pkg.rglob("*.py")):
        for fn in ast.walk(ast.parse(p.read_text())):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                calls += [(str(p.relative_to(pkg)), fn.name)
                          for node in ast.walk(fn)
                          if isinstance(node, ast.Call)
                          and isinstance(node.func, ast.Attribute)
                          and node.func.attr == "commit_merge"]
    assert sorted(calls) == [("engine.py", "expire_tombstones"),
                             ("engine.py", "initial_load"),
                             ("lake.py", "compact"), ("lake.py", "compact")]
