"""Independent (non-Spark) oracle: sequential per-key event applier.

Computes the expected converged table state the way the reference would —
applying each change event in ``(op_ts, event_seq)`` order per key on top of
the initial table (reference semantics: per-key single-threaded shard =
per-key total order, core/.../executor/BaseShardedExecutor.java:137-209;
``version() == updatedTime`` last-writer-wins,
persistence/.../model/BaseEntity.java:125-128; idempotent keyed replace,
persistence/.../impl/mongo/MongoDbDataStore.java:240-243).

This is the correctness gate for the engine: per-row sha256(content) equality
(FIXTURES.md §4). It is pure pandas — a deliberately different mechanism from
the engine's distributed merge.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from cdc_core_spark.synth import DATA_OPS, OP_DELETE


def is_valid_event(ev: pd.DataFrame) -> pd.Series:
    """Validity rules (mirrors the engine's quarantine predicate; reference
    DLQ routing MessageProcessor.java:216-225): data op code, non-null key,
    DELETE carries no payload content."""
    ok_op = ev["op"].isin(DATA_OPS)
    ok_key = ev["repo"].notna() & ev["path"].notna()
    # null version = no LWW position (engine quarantines as null_version)
    ok_ver = ev["op_ts"].notna() & ev["event_seq"].notna()
    ok_del = ~((ev["op"] == OP_DELETE) & ev["content"].notna())
    return ok_op & ok_key & ok_ver & ok_del


def expected_final(source_repos: pd.DataFrame, change_events: pd.DataFrame,
                   max_epoch: int | None = None) -> pd.DataFrame:
    """Replay all (valid, deduped) events in (op_ts, event_seq) order per key;
    return the expected final table: repo, path, commit, language, content,
    size_bytes, rev, content_sha256 — sorted by (repo, path)."""
    ev = change_events
    if max_epoch is not None:
        ev = ev[ev["checkpoint_epoch"] <= max_epoch]
    ev = ev[is_valid_event(ev)]
    # at-least-once → exactly-once: drop exact duplicate deliveries
    ev = ev.drop_duplicates(subset=["repo", "path", "op_ts", "event_seq"], keep="first")
    # sequential apply per key == take the (op_ts, event_seq)-max event
    ev = ev.sort_values(["op_ts", "event_seq"], kind="stable")
    last = ev.groupby(["repo", "path"], sort=False).tail(1)

    # rename episode: unify lang/language into the final column name
    last = last.assign(language=last["language"].combine_first(last["lang"]))

    init = source_repos.rename(columns={"lang": "language"}).copy()
    init["size_bytes"] = pd.array([None] * len(init), dtype="Int64")
    init["rev"] = pd.array([None] * len(init), dtype="Int64")
    init = init[["repo", "path", "commit", "language", "content", "size_bytes", "rev"]]

    touched = set(map(tuple, last[["repo", "path"]].itertuples(index=False, name=None)))
    keep_init = init[~init.set_index(["repo", "path"]).index.isin(touched)]

    survivors = last[last["op"] != OP_DELETE][
        ["repo", "path", "commit", "language", "content", "size_bytes", "rev"]
    ]
    final = pd.concat([keep_init, survivors], ignore_index=True)
    final["content_sha256"] = final["content"].map(
        lambda c: hashlib.sha256(c.encode()).hexdigest() if isinstance(c, str) else None
    )
    final["size_bytes"] = pd.array(final["size_bytes"], dtype="Int64")
    final["rev"] = pd.array(final["rev"], dtype="Int64")
    return final.sort_values(["repo", "path"]).reset_index(drop=True)


def expected_quarantine_count(change_events: pd.DataFrame) -> int:
    """Malformed deliveries only — in-band schema ops (op 0/1/2) are DDL
    routing, not errors."""
    ev = change_events[~change_events["op"].isin([0, 1, 2])]
    return int((~is_valid_event(ev)).sum())


def state_crc(final_df) -> int:
    """CRC of the converged state (one value over repo|path|content_sha256
    rows) — the cross-harness invariant the verify recipe and the scaling
    runs both quote; keeping the expression in one place keeps them
    comparable."""
    row = final_df.selectExpr(
        "sum(crc32(concat_ws('|', repo, path, content_sha256))) AS c"
    ).first()
    # a legitimately empty converged state (every key deleted) sums to NULL
    return int(row["c"]) if row["c"] is not None else 0


def row_crc(final_df) -> int:
    """CRC over every column of the converged rows (one crc32 per row's
    JSON form, summed): unlike ``state_crc`` it sees the payload columns,
    so a column read as NULL, or under a wrong name, changes it."""
    from cdc_core_spark.lake import ident
    cols = ", ".join(map(ident, final_df.columns))
    row = final_df.selectExpr(
        f"sum(crc32(to_json(struct({cols})))) AS c").first()
    return int(row["c"]) if row["c"] is not None else 0
