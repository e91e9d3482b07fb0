"""Last-writer-wins reduction over change events.

The reference serializes all events of a key through a single-threaded shard
(core/.../executor/BaseShardedExecutor.java:137-209) so the last write by
``TransactionId.sequence`` wins (persistence/.../model/BaseEntity.java:125-128).
Order-insensitively, that is: *per key, keep the event with the maximum
version tuple ``(op_ts, event_seq)``*.

Spark-first realization: an **algebraic ``max_by`` aggregation**, not a
``row_number`` window. (Physically Spark plans ``max_by`` over a struct as a
SortAggregate — struct buffers aren't hash-aggregable — but crucially still
in partial+final mode.) Rationale at 10^10-event scale:

* partial aggregation gives a map-side combine (each task reduces its
  slice of a hot key to one row before the shuffle), so a hot repo with 30%
  of all events ships ~one row per upstream task instead of 3·10^9 rows to a
  single reducer — the window variant would shuffle-sort the entire hot
  partition with no pre-shuffle reduction. That map-side combine is the
  engine's whole hot-key defense: ``max_by`` over the version struct is
  algebraic, so partial aggregation always applies, and an explicit
  two-stage reduce over a hash-spread key lost to it at every measured hot
  share (SKEW_PROBE.json, BASELINE.md skew row);
* exact duplicate deliveries (same ``(repo, path, op_ts, event_seq)``) need
  no separate ``dropDuplicates`` shuffle — duplicates carry identical
  payloads, so the max_by tie collapses them for free.

Tie-break totality: the version struct compares ``op_ts`` first then
``event_seq`` (globally unique), never timestamp alone (SURVEY §7 risk 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_core_spark.lake import ident

VERSION_ORDER = ("_op_ts", "_event_seq")


def lww_reduce(events: DataFrame, key_cols: list[str],
               payload_cols: list[str]) -> DataFrame:
    """Reduce to one winner row per key: the max-(op_ts, event_seq) event.

    ``events`` must carry ``_op_ts``/``_event_seq`` version columns. The
    aggregate is ONE expression string, ``max_by(struct(<versions>,
    <payload>), struct(<versions>)) AS _w``, every name quoted by
    ``lake.ident`` — one JVM call instead of a ``Column`` per struct
    field — and the winner struct is expanded back to columns by name."""
    ver = ", ".join(map(ident, VERSION_ORDER))
    pay = ", ".join(map(ident, VERSION_ORDER + tuple(payload_cols)))
    keys = [ident(k) for k in key_cols]
    won = events.groupBy(*keys).agg(
        F.expr(f"max_by(struct({pay}), struct({ver})) AS _w"))
    return won.selectExpr(*keys, "_w.*")
