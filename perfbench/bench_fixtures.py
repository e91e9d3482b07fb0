"""Seeded benchmark fixtures, cached per (scale, seed).

``synth.generate`` reads the module-global ``synth.SEED`` at call time, so a
fixture for any seed comes from setting it around the call. The cache key
carries the scale, the seed and the generator fingerprint, so a second seed
never reuses another seed's data and an edited generator never reuses stale
files. The oracle's converged table and the values every run checks against
are computed once per fixture and stored next to it.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

from cdc_core_spark import oracle, synth

#: bumped whenever the files or facts ``ensure`` writes change
LAYOUT = 2

#: one fixture serves every workload: 12k initial rows and ~60k change
#: events over synth's 8 checkpoint epochs, with every property of the
#: bigger scales (4 DDL episodes, ~3% duplicates, ~0.1% malformed, a hot
#: repo with 32% of keys, ~2% out-of-order events)
SCALE = synth.Scale("perfbench", n_paths=12_000, n_events=60_000,
                    repeat=(2, 4))

#: epochs the log is re-cut into for the micro-batch tail, one file each
RECUT_EPOCHS = 3

#: leading re-cut files the micro-batch warm-up drains
WARMUP_EPOCHS = 1

#: keyed point reads of the serve phase, half on the hot repo
LOOKUPS = 2

HOT_REPO = "org0/repo0"

#: mtime of the first re-cut file; the others follow one second apart
RECUT_MTIME = 1_700_000_000


def cache_key(scale: synth.Scale, seed: int, fingerprint: str) -> str:
    """Directory name of one cached fixture."""
    return (f"{scale.name}-p{scale.n_paths}-e{scale.n_events}"
            f"-r{scale.repeat[0]}.{scale.repeat[1]}"
            f"-seed{seed}-gen{fingerprint}-l{LAYOUT}")


@dataclass
class Fixture:
    root: str

    @property
    def key(self) -> str:
        return os.path.basename(self.root)

    @property
    def source(self) -> str:
        return os.path.join(self.root, "source_repos.parquet")

    @property
    def events(self) -> str:
        """synth's 8-epoch change log, hive-partitioned by epoch."""
        return os.path.join(self.root, "change_events")

    @property
    def expected(self) -> str:
        """The oracle's converged table: repo, path, content_sha256."""
        return os.path.join(self.root, "expected_final.parquet")

    @property
    def recut(self) -> str:
        """The same events re-cut into ``RECUT_EPOCHS`` epoch files."""
        return os.path.join(self.root, "recut_events")

    @property
    def warmup(self) -> str:
        """The first ``WARMUP_EPOCHS`` files of the re-cut log."""
        return os.path.join(self.root, "warmup_events")

    def facts(self) -> dict:
        with open(os.path.join(self.root, "facts.json")) as f:
            return json.load(f)


def generate(seed: int, scale: synth.Scale = SCALE) -> synth.Fixture:
    saved = synth.SEED
    synth.SEED = seed
    try:
        return synth.generate(scale)
    finally:
        synth.SEED = saved


def write_recut(events: pd.DataFrame, out_dir: str, n_epochs: int) -> None:
    """Re-cut the log into ``n_epochs`` equal-count epochs in event_seq
    order, and stamp each file's mtime in epoch order: the file stream
    source takes files oldest first, and the DDL batches must apply before
    the data that uses the columns they add, rename or widen."""
    ev = events.sort_values("event_seq", kind="stable").reset_index(drop=True)
    epoch = (np.arange(len(ev)) * n_epochs) // len(ev)
    for ep in range(n_epochs):
        d = os.path.join(out_dir, f"checkpoint_epoch={ep}")
        os.makedirs(d)
        path = os.path.join(d, "part-0.parquet")
        (ev[epoch == ep].drop(columns=["checkpoint_epoch"])
         .to_parquet(path, index=False, row_group_size=65536))
        os.utime(path, (RECUT_MTIME + ep, RECUT_MTIME + ep))


def _parquet_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(p, f))
               for p, _, files in os.walk(d) for f in files
               if f.endswith(".parquet"))


def lookup_keys(fx: synth.Fixture, expected: pd.DataFrame,
                seed: int) -> list[dict]:
    """Point-read sample: half hot-repo keys, half cold, drawn from every
    key the initial table or the log knows (so deleted keys appear too),
    each with the oracle's content hash (None: the key must be absent)."""
    ev = fx.change_events
    ev = ev[ev["repo"].notna() & ev["path"].notna()
            & (ev["op"].isin(synth.DATA_OPS))]
    keys = (pd.concat([fx.source_repos[["repo", "path"]],
                       ev[["repo", "path"]]])
            .astype(str).drop_duplicates()
            .sort_values(["repo", "path"]).reset_index(drop=True))
    rng = np.random.default_rng(seed)
    hot = keys[keys["repo"] == HOT_REPO]
    cold = keys[keys["repo"] != HOT_REPO]
    picked = pd.concat([
        hot.iloc[rng.choice(len(hot), LOOKUPS // 2, replace=False)],
        cold.iloc[rng.choice(len(cold), LOOKUPS - LOOKUPS // 2,
                             replace=False)]])
    sha = dict(zip(zip(expected["repo"], expected["path"]),
                   expected["content_sha256"]))
    return [{"repo": r, "path": p, "sha256": sha.get((r, p))}
            for r, p in zip(picked["repo"], picked["path"])]


def ensure(cache_root: str, seed: int) -> Fixture:
    """The fixture for ``seed``, generated on first use. It is built in a
    temporary directory and renamed into place, so an interrupted build
    never leaves a directory that looks complete."""
    root = os.path.join(cache_root, cache_key(
        SCALE, seed, synth.generator_fingerprint()))
    if os.path.exists(os.path.join(root, "facts.json")):
        return Fixture(root)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    fx = generate(seed, SCALE)
    os.makedirs(tmp)
    fx.source_repos.to_parquet(os.path.join(tmp, "source_repos.parquet"),
                               index=False, row_group_size=65536)
    for ep, part in fx.change_events.groupby("checkpoint_epoch"):
        d = os.path.join(tmp, "change_events", f"checkpoint_epoch={ep}")
        os.makedirs(d)
        part.drop(columns=["checkpoint_epoch"]).to_parquet(
            os.path.join(d, "part-0.parquet"), index=False,
            row_group_size=65536)
    write_recut(fx.change_events, os.path.join(tmp, "recut_events"),
                RECUT_EPOCHS)
    for ep in range(WARMUP_EPOCHS):
        part = f"checkpoint_epoch={ep}"
        shutil.copytree(os.path.join(tmp, "recut_events", part),
                        os.path.join(tmp, "warmup_events", part))

    ev = fx.change_events
    expected = oracle.expected_final(fx.source_repos, ev)
    expected[["repo", "path", "content_sha256"]].to_parquet(
        os.path.join(tmp, "expected_final.parquet"), index=False)
    facts = {
        "seed": seed,
        "scale": SCALE.name,
        "generator": synth.generator_fingerprint(),
        "events": int(len(ev)),
        "epochs": sorted(int(e) for e in ev["checkpoint_epoch"].unique()),
        "event_bytes": _parquet_bytes(os.path.join(tmp, "change_events")),
        "recut_bytes": _parquet_bytes(os.path.join(tmp, "recut_events")),
        "rows": int(len(expected)),
        "quarantine": oracle.expected_quarantine_count(ev),
        "lookups": lookup_keys(fx, expected, seed),
    }
    with open(os.path.join(tmp, "facts.json"), "w") as f:
        json.dump(facts, f)
    shutil.rmtree(root, ignore_errors=True)
    os.rename(tmp, root)
    return Fixture(root)
