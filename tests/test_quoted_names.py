"""Field names that need SQL quoting survive the expression-string plans.

The read and apply plans are built as SQL expression strings
(``lake.field_projection``, ``lww.lww_reduce``, ``bucket_expr``, the
validity predicate), with every name quoted by ``lake.ident``. These tests
run names that a naive string builder would mis-parse — a space, a dot (as
a ``Column`` name it resolves a nested field), a backtick, and an
injection-shaped name — through a whole replay: the initial load, the
pre-stats and DLQ pass, ``_normalize_events`` with an alias rename from one
such name to another, the LWW reduce, and ``SnapshotTable.read`` over two
write-time schema groups. Every value must come back under its own name.
"""
from __future__ import annotations

import os

import pandas as pd

from cdc_core_spark.engine import CdcEngine
from cdc_core_spark.lake import ident
from cdc_core_spark.lww import lww_reduce
from cdc_core_spark.registry import SchemaRegistry

KEY = "k.id"                # a dot: F.col("k.id") is field `id` of struct `k`
SPACE = "a b"
TICK = "a`b"
INJ = "x) AS y, (z"        # would split one projection into three
RENAMED = "c`d) AS e.f"     # alias target of SPACE, itself needing quotes

V1 = [{"name": KEY, "type": "string", "nullable": False, "key": True},
      {"name": SPACE, "type": "string", "nullable": True},
      {"name": TICK, "type": "int", "nullable": True},
      {"name": INJ, "type": "string", "nullable": True}]
V2 = [({**f, "name": RENAMED} if f["name"] == SPACE else dict(f)) for f in V1]
DOCS = [{"entity": "odd", "major": 1, "minor": 0, "fields": V1, "aliases": {}},
        {"entity": "odd", "major": 2, "minor": 0, "fields": V2,
         "aliases": {SPACE: RENAMED}}]


def test_ident_quotes_and_doubles_backticks():
    assert ident("a b") == "`a b`"
    assert ident("a`b") == "`a``b`"
    assert ident(INJ) == "`x) AS y, (z`"


def _event(op, key, op_ts, seq, **cols):
    return {"op": op, KEY: key, "op_ts": op_ts, "event_seq": seq,
            "schema_version": None, SPACE: None, RENAMED: None, TICK: None,
            INJ: None, **cols}


def _write_events(root, by_epoch):
    for e, rows in by_epoch.items():
        d = os.path.join(root, f"checkpoint_epoch={e}")
        os.makedirs(d)
        pdf = pd.DataFrame(rows)
        for c in (KEY, SPACE, RENAMED, INJ, "schema_version"):
            pdf[c] = pdf[c].astype("string")
        for c in ("op", TICK):
            pdf[c] = pdf[c].astype("Int32")
        for c in ("op_ts", "event_seq"):
            pdf[c] = pdf[c].astype("Int64")
        pdf.to_parquet(os.path.join(d, "part-0.parquet"), index=False)


def test_replay_and_read_with_names_needing_quotes(spark, tmp_path):
    src = spark.createDataFrame(pd.DataFrame({
        KEY: ["k1", "k2", "k3"], SPACE: ["s1", "s2", "s3"],
        TICK: pd.array([1, 2, 3], dtype="Int32"), INJ: ["i1", "i2", "i3"]}))
    events = str(tmp_path / "events")
    _write_events(events, {
        # schema 1.0 writers: old name SPACE
        0: [_event(4, "k1", 10, 1, **{SPACE: "s1b", TICK: 11}),
            _event(3, "k4", 10, 2, **{SPACE: "s4", TICK: 4, INJ: "i4"}),
            _event(5, "k3", 10, 3),
            _event(4, None, 10, 4, **{SPACE: "lost"})],   # null key → DLQ
        # in-band rename to 2.0; new writers use RENAMED, a straggler the
        # old name (coalesced onto RENAMED)
        1: [_event(1, None, 20, 5, schema_version="2.0"),
            _event(4, "k2", 20, 6, **{RENAMED: "r2", INJ: "i2b"}),
            _event(4, "k1", 20, 7, **{SPACE: "s1c"}),
            _event(4, "k4", 5, 8, **{RENAMED: "stale"})],  # older op_ts
    })
    reg = SchemaRegistry.from_docs(DOCS)
    eng = CdcEngine(spark, str(tmp_path / "t"), reg, entity="odd",
                    n_buckets=2)
    eng.replay(events, source_df=src)

    snap = eng.table.latest()
    assert len({f["schema_id"] for f in snap.files}) >= 2
    out = eng.read_final()
    assert out.columns == [KEY, RENAMED, TICK, INJ]
    got = {r[KEY]: (r[RENAMED], r[TICK], r[INJ]) for r in out.collect()}
    assert got == {"k1": ("s1c", None, None),
                   "k2": ("r2", None, "i2b"),
                   "k4": ("s4", 4, "i4")}
    assert eng.count_final() == 3
    assert ({r[KEY]: r[RENAMED]
             for r in eng.read_final(columns=[KEY, RENAMED]).collect()}
            == {k: v[0] for k, v in got.items()})
    err = eng.errors_df().collect()
    assert [(r["error_reason"], r[SPACE]) for r in err] == [("null_key", "lost")]

    # lww_reduce on its own, keyed and carrying payload by the same names
    raw = spark.read.parquet(events).filter("op >= 3 AND `k.id` IS NOT NULL")
    ev = eng._normalize_events(raw, reg.get("odd", "2.0"))
    won = lww_reduce(ev, [KEY], [RENAMED, INJ, "op"])
    assert won.columns == [KEY, "_op_ts", "_event_seq", RENAMED, INJ, "op"]
    assert {r[KEY]: (r[RENAMED], r["op"]) for r in won.collect()} == {
        "k1": ("s1c", 4), "k2": ("r2", 4), "k3": (None, 5), "k4": ("s4", 3)}


def test_docstore_key_with_a_dot_round_trips(spark, tmp_path):
    """The document store names its key columns quoted: a ``k.id`` key
    upserts, replaces, deletes and reads back through ``find_document``
    and ``find_by_key`` (unquoted, ``F.col("k.id")`` asks for field ``id``
    of a struct ``k`` and the plan fails to resolve)."""
    from cdc_core_spark.query import find_by_key
    from cdc_core_spark.sinks import docstore

    root = str(tmp_path / "docs")
    cols = f"{ident(KEY)} string, {ident(SPACE)} string"
    docstore.upsert_documents(spark.createDataFrame(
        [("d1", "v1"), ("d2", "v2"), ("d3", "v3")], cols), root, [KEY],
        n_buckets=4)
    docstore.upsert_documents(spark.createDataFrame(
        [("d1", "v1b")], cols), root, [KEY])
    docstore.delete_documents(spark, root, [KEY],
                              spark.createDataFrame([("d3",)], [KEY]))

    def doc(k):
        return [r["doc"] for r in
                docstore.find_document(spark, root, {KEY: k}).collect()]

    assert doc("d1") == ['{"a b":"v1b"}']
    assert doc("d2") == ['{"a b":"v2"}']
    assert doc("d3") == []
    every = docstore.read_documents(spark, root)
    assert [r[KEY] for r in find_by_key(every, {KEY: "d2"}).collect()] == ["d2"]
    assert sorted(r[KEY] for r in every.collect()) == ["d1", "d2"]
