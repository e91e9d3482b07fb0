"""Unit tests for the LWW reduction: ties, out-of-order, duplicate delivery
(SURVEY.md §5.2)."""

from __future__ import annotations

from cdc_core_spark.lww import lww_reduce

DDL = "repo string, path string, v string, _op_ts long, _event_seq long"


def _df(spark, rows):
    return spark.createDataFrame(rows, schema=DDL)


def _winners(df):
    out = lww_reduce(df, ["repo", "path"], ["v"])
    return {(r["repo"], r["path"]): (r["v"], r["_op_ts"], r["_event_seq"])
            for r in out.collect()}


def test_basic_last_writer_wins(spark):
    df = _df(spark, [("r", "a", "v1", 100, 1), ("r", "a", "v2", 200, 2)])
    assert _winners(df)[("r", "a")] == ("v2", 200, 2)


def test_tie_broken_by_event_seq(spark):
    # equal op_ts (the ~1% ties fixture): event_seq is the total-order tiebreak,
    # mirroring TransactionId.sequence (TransactionId.java:30-43)
    df = _df(spark, [("r", "a", "lo", 100, 5), ("r", "a", "hi", 100, 9)])
    assert _winners(df)[("r", "a")] == ("hi", 100, 9)


def test_out_of_order_delivery(spark):
    # an event with lower (op_ts, seq) arriving later in the batch loses
    df = _df(spark, [("r", "a", "new", 500, 7), ("r", "a", "old", 100, 2)])
    assert _winners(df)[("r", "a")] == ("new", 500, 7)


def test_duplicate_delivery_collapses(spark):
    # exact duplicates (same dedup key, same payload) need no dropDuplicates:
    # the max_by tie collapses them
    df = _df(spark, [("r", "a", "x", 100, 1), ("r", "a", "x", 100, 1),
                     ("r", "a", "x", 100, 1)])
    out = lww_reduce(df, ["repo", "path"], ["v"])
    assert out.count() == 1
    assert _winners(df)[("r", "a")] == ("x", 100, 1)


def test_with_stats_emits_max_seq_lineage(spark):
    """with_stats adds exactly one lineage column, ``_max_seq``: the max
    event_seq seen per key, which under out-of-order op_ts is NOT the
    winner's own seq."""
    rows = [("r", "a", "late-ts", 300, 1),   # winner: max op_ts, low seq
            ("r", "a", "early", 100, 9),     # max seq, loses on op_ts
            ("r", "b", "only", 50, 4)]
    df = _df(spark, rows)
    out = lww_reduce(df, ["repo", "path"], ["v"], with_stats=True)
    assert out.columns == ["repo", "path", "_op_ts", "_event_seq", "v",
                           "_max_seq"]
    got = {(r["path"], r["v"], r["_event_seq"], r["_max_seq"])
           for r in out.collect()}
    assert got == {("a", "late-ts", 1, 9), ("b", "only", 4, 4)}
