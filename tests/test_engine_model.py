"""Randomized model check of the WHOLE engine (generator ≠ synth, oracle ≠
engine): seeded random event logs — random DDL placement, heavy out-of-order
and tied (op_ts, event_seq) versions, malformed deliveries, at-least-once
duplicates, and payload columns arriving AHEAD of their schema episode — are
replayed through ``CdcEngine`` under a random maintenance schedule (chunked
resume, chunk re-runs, incremental/re-bucketing compaction, snapshot-log
crash + new-process recovery, retention), and the final table must equal a
pure-pandas interpreter of the reference semantics:

* per-key single-threaded apply == max-(op_ts, event_seq) winner
  (core/.../executor/BaseShardedExecutor.java:137-209,
  persistence/.../model/BaseEntity.java:125-128);
* in-band DDL applies before the data of its epoch, monotone + idempotent
  (entity/.../model/AvroChangeType.java:40-49);
* events project onto the APPLY-TIME schema — a column delivered before its
  ADD episode is dropped, a pre-RENAME name after the episode resolves via
  the alias map (SchemaManager evolution rules, entity/.../schema/);
* malformed deliveries (null key, bad op, DELETE-with-content) quarantine
  (MessageProcessor.java:216-225) and never touch state.

The fixed synth fixture can't produce several of these shapes (ahead-of-
episode columns, same-epoch double DDL, arbitrary epoch mixes); this test
covers the space around it.
"""

from __future__ import annotations

import glob
import hashlib
import os

import numpy as np
import pandas as pd
import pytest

from cdc_core_spark import synth
from cdc_core_spark.engine import CdcEngine
from cdc_core_spark.registry import SchemaRegistry

N_EPOCHS = 6
LANGS = ["python", "go", "rust", "markdown"]
DOCS = {f'{d["major"]}.{d["minor"]}': d for d in synth.registry_docs()}
VERSIONS = ["1.0", "1.1", "2.0", "2.1"]


# --------------------------------------------------------------- generator
def gen_case(seed: int):
    """One random universe: initial table + event log + DDL schedule."""
    rng = np.random.default_rng(seed)
    n_keys, n_events = 60, 420
    repos = np.array([f"repo{i % 6}" for i in range(n_keys)])
    paths = np.array([f"src/f{i}.py" for i in range(n_keys)])

    init_n = 25
    src = pd.DataFrame({
        "repo": repos[:init_n], "path": paths[:init_n],
        "commit": [hashlib.sha1(f"i{i}".encode()).hexdigest() for i in range(init_n)],
        "lang": rng.choice(LANGS, size=init_n),
        "content": [f"init:{r}/{p}" for r, p in zip(repos[:init_n], paths[:init_n])],
    })

    # DDL schedule: 1.1 / 2.0 / 2.1 land at sorted random epochs (duplicates
    # allowed → two upgrades inside one epoch, applied by event_seq order)
    ddl_epochs = sorted(rng.integers(1, N_EPOCHS, size=3).tolist())
    schedule = list(zip(ddl_epochs, VERSIONS[1:]))

    def active_version(epoch: int) -> str:
        ver = "1.0"
        for ep, v in schedule:
            if ep <= epoch:
                ver = v
        return ver

    widen_epoch = ddl_epochs[2]  # rev goes long at 2.1

    k = rng.integers(0, n_keys, size=n_events)
    op = rng.choice([3, 4, 5], size=n_events, p=[0.35, 0.45, 0.20]).astype(object)
    op_ts = (1_700_000_000_000 + rng.integers(0, 4_000, size=n_events)).astype(np.int64)
    seq = rng.permutation(np.arange(1, n_events + 1)).astype(np.int64)
    epoch = rng.integers(0, N_EPOCHS, size=n_events)

    rev = rng.integers(1, 1_000, size=n_events).astype(object)
    wide = (epoch >= widen_epoch) & (rng.random(n_events) < 0.2)
    rev[wide] = rev[wide] + 2**31  # ANSI: only legal once 2.1 is active

    is_del = op == 5
    content = np.array([f"c:{repos[i]}|{paths[i]}|{s}" for i, s in zip(k, seq)],
                       dtype=object)
    content[is_del] = None
    # size/lang/language delivered INDEPENDENTLY of the schema episode —
    # apply-time projection must drop or alias-resolve them
    size = rng.integers(10, 9_000, size=n_events).astype(object)
    size[rng.random(n_events) < 0.3] = None
    langv = rng.choice(LANGS, size=n_events).astype(object)
    which = rng.random(n_events)
    lang_col = np.where(which < 0.5, langv, None)
    language_col = np.where(which >= 0.4, langv, None)  # 10% carry BOTH
    commit = np.array([hashlib.sha1(f"c{s}".encode()).hexdigest() for s in seq],
                      dtype=object)
    commit[is_del] = None

    ev = pd.DataFrame({
        "op": op, "repo": repos[k], "path": paths[k], "commit": commit,
        "lang": lang_col, "language": language_col, "content": content,
        "size_bytes": size, "rev": rev, "op_ts": op_ts, "event_seq": seq,
        "txid": seq, "schema_version": [active_version(e) for e in epoch],
        "checkpoint_epoch": epoch,
    })

    # malformed deliveries (~6%), fresh seqs so they never tie a valid event
    n_bad = max(8, n_events // 16)
    bad = ev.sample(n=n_bad, random_state=int(rng.integers(1 << 30))).copy()
    bad["event_seq"] = np.arange(n_events + 1, n_events + 1 + n_bad, dtype=np.int64)
    kinds = rng.integers(0, 6, size=n_bad)
    bad["op_ts"] = bad["op_ts"].astype("Int64")
    bad["event_seq"] = bad["event_seq"].astype("Int64")
    bad.iloc[kinds == 0, bad.columns.get_loc("repo")] = None
    bad.iloc[kinds == 1, bad.columns.get_loc("path")] = None
    bad.iloc[kinds == 2, bad.columns.get_loc("op")] = 9
    sel = np.flatnonzero(kinds == 3)
    bad.iloc[sel, bad.columns.get_loc("op")] = 5
    bad.iloc[sel, bad.columns.get_loc("content")] = "corrupt"
    # null VERSION components: no LWW position -> must quarantine, never
    # enter the fold as a smallest-possible version
    bad.iloc[kinds == 4, bad.columns.get_loc("op_ts")] = None
    bad.iloc[kinds == 5, bad.columns.get_loc("event_seq")] = None
    ev = pd.concat([ev, bad], ignore_index=True)

    # at-least-once: exact same-epoch duplicate deliveries (~5%)
    dups = ev[ev["op"].isin([3, 4, 5])].sample(
        frac=0.05, random_state=int(rng.integers(1 << 30)))
    ev = pd.concat([ev, dups], ignore_index=True)

    # in-band DDL rows; negative seqs order multiple DDLs within an epoch
    ddl = pd.DataFrame([{
        "op": 1, "repo": "__schema__", "path": "source_repos", "commit": None,
        "lang": None, "language": None, "content": None, "size_bytes": None,
        "rev": None, "op_ts": 0, "event_seq": -(len(schedule) - i),
        "txid": 0, "schema_version": v, "checkpoint_epoch": ep,
    } for i, (ep, v) in enumerate(schedule)])
    ev = pd.concat([ev, ddl], ignore_index=True)
    return src, ev, schedule, active_version


def write_events(ev: pd.DataFrame, out_dir: str) -> None:
    for c in ("repo", "path", "commit", "lang", "language", "content",
              "schema_version"):
        ev[c] = ev[c].astype("string")
    for c in ("op", "rev", "size_bytes"):
        ev[c] = pd.array(ev[c], dtype="Int64")
    for ep, part in ev.groupby("checkpoint_epoch"):
        pdir = os.path.join(out_dir, f"checkpoint_epoch={ep}")
        os.makedirs(pdir, exist_ok=True)
        part.drop(columns=["checkpoint_epoch"]).to_parquet(
            os.path.join(pdir, "part-0.parquet"), index=False)


# ------------------------------------------------------------ interpreter
def _project(row: dict, ver: str) -> dict:
    """Mirror of CdcEngine._normalize_events for one event: apply-time
    fields only, alias-candidate coalesce in engine order."""
    doc = DOCS[ver]
    inv: dict[str, list[str]] = {}
    for old, new in doc["aliases"].items():
        inv.setdefault(new, []).append(old)
    out = {}
    for f in doc["fields"]:
        name = f["name"]
        vals = [row.get(c) for c in [name] + inv.get(name, [])]
        out[name] = next((v for v in vals if v is not None and v == v), None)
    return out


def _valid(r: dict) -> bool:
    if r["op"] not in (3, 4, 5) or r["op"] != r["op"]:
        return False
    if r["repo"] is None or r["path"] is None:
        return False
    if pd.isna(r["op_ts"]) or pd.isna(r["event_seq"]):
        return False   # null version has no LWW position
    return not (r["op"] == 5 and r["content"] is not None)


def model_final(src: pd.DataFrame, ev: pd.DataFrame, active_version):
    state: dict[tuple, tuple] = {}  # key -> ((op_ts, seq), op, payload, n_valid_tally separate)
    n_valid = 0
    for ep in sorted(ev["checkpoint_epoch"].unique()):
        ver = active_version(ep)
        sub = ev[ev["checkpoint_epoch"] == ep]
        for r in sub.astype(object).where(sub.notna(), None).to_dict("records"):
            if r["op"] in (0, 1, 2):
                continue
            if not _valid(r):
                continue
            n_valid += 1
            key, v = (r["repo"], r["path"]), (r["op_ts"], r["event_seq"])
            if key not in state or v > state[key][0]:
                state[key] = (v, r["op"], _project(r, ver))

    final_doc = DOCS[active_version(N_EPOCHS - 1)]
    alias_inv = {}
    for old, new in final_doc["aliases"].items():
        alias_inv.setdefault(new, []).append(old)

    def lift(stored: dict) -> dict:
        return {f["name"]: next(
            (stored[c] for c in [f["name"]] + alias_inv.get(f["name"], [])
             if c in stored and stored[c] is not None), None)
            for f in final_doc["fields"]}

    rows = {}
    for _, r in src.iterrows():
        rows[(r["repo"], r["path"])] = lift(_project(dict(r), "1.0"))
    for key, (_, op, payload) in state.items():
        if op == 5:
            rows.pop(key, None)
        else:
            rows[key] = lift(payload)
    out = pd.DataFrame(list(rows.values()))
    out["content_sha256"] = out["content"].map(
        lambda c: hashlib.sha256(c.encode()).hexdigest() if isinstance(c, str) else None)
    return out.sort_values(["repo", "path"]).reset_index(drop=True), n_valid


# ------------------------------------------------------------------- test
SOAK = [int(s) for s in os.environ.get("CDC_MODEL_SEEDS", "").split(",") if s]


@pytest.mark.parametrize("seed", [7, 23, 61] + SOAK)
def test_engine_matches_model_under_random_schedule(spark, registry, tmp_path, seed):
    rng = np.random.default_rng(seed + 1000)
    src, ev, schedule, active_version = gen_case(seed)
    # the shapes this test exists for must actually occur in the universe:
    data = ev[ev["op"].isin([3, 4, 5])]
    ver = data["checkpoint_epoch"].map(active_version)
    assert ((ver == "1.0") & data["size_bytes"].notna()).any(), \
        "no ahead-of-episode size_bytes (dropped-column case)"
    assert ((ver >= "2.0") & data["lang"].notna()).any(), \
        "no pre-rename column name after the rename episode (alias case)"
    events_path = str(tmp_path / "events")
    write_events(ev.copy(), events_path)
    src_df = spark.createDataFrame(src)
    root = str(tmp_path / "state")

    eng = CdcEngine(spark, root, registry, n_buckets=8)
    epochs = sorted(ev["checkpoint_epoch"].unique().tolist())
    cut = sorted(rng.choice(range(1, len(epochs)), size=2, replace=False).tolist())
    chunks = [epochs[:cut[0]], epochs[cut[0]:cut[1]], epochs[cut[1]:]]

    for chunk in chunks:
        eng.replay(events_path, source_df=src_df, epochs=chunk, lease=False)
        act = rng.integers(0, 5)
        if act == 0:   # redelivery of the whole chunk → exactly-once noop
            eng.replay(events_path, source_df=src_df, epochs=chunk, lease=False)
        elif act == 1:  # maintenance: incremental or re-bucketing compaction
            eng.compact(n_buckets=int(rng.choice([4, 8, 16])),
                        min_delta_files=None)
        elif act == 2:  # crash: newest snapshot commit lost, new process resumes
            logs = sorted(glob.glob(os.path.join(root, "target", "_log", "v*.json")))
            os.remove(logs[-1])
            eng = CdcEngine(spark, root, registry, n_buckets=8)
            eng.replay(events_path, source_df=src_df, epochs=chunk, lease=False)
        elif act == 3:  # retention must preserve committed-epoch bookkeeping
            eng.table.expire_snapshots(keep_last=3)

    # final full pass is a committed-manifest noop
    eng.replay(events_path, source_df=src_df, epochs=epochs, lease=False)

    expected, n_valid = model_final(src, ev, active_version)
    got = (eng.read_final_with_sha().toPandas()
           .sort_values(["repo", "path"]).reset_index(drop=True))
    assert list(got["repo"]) == list(expected["repo"])
    assert list(got["path"]) == list(expected["path"])
    for c in ("commit", "language", "content", "content_sha256"):
        assert list(got[c].fillna("~")) == \
            [x if x is not None else "~" for x in expected[c]], c
    for c in ("size_bytes", "rev"):
        g = got[c].astype("Int64").fillna(-9).tolist()
        e = expected[c].astype("float").astype("Int64").fillna(-9).tolist()
        assert g == e, (c, [(a, b) for a, b in zip(g, e) if a != b][:5])

    mf = eng.manifests_df().toPandas()
    applied = int(mf[mf.checkpoint_epoch >= 0]["events_read"].sum())
    assert applied == n_valid
    n_bad_expected = int(len(ev) - 3 - n_valid)  # minus the DDL rows
    assert eng.errors_df().count() == n_bad_expected
