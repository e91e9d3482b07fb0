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
