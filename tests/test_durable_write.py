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


PROTOCOLS = {"lease": (_lease, 1), "sync": (_sync, 8),
             "write_text_index": (_write_text_index, 1),
             "compact_text_index": (_compact_text_index, 1),
             "ivf_write": (_ivf_write, 1)}


@pytest.mark.parametrize("protocol,k,when", [
    (p, k, when) for p, (_, n) in PROTOCOLS.items()
    for k in range(1, n + 1) for when in ("before", "after")])
def test_crash_at_publish_then_rerun(protocol, k, when, tmp_path, request):
    PROTOCOLS[protocol][0](tmp_path, request, crash_at(k, when))


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
