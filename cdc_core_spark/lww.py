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
  partition with no pre-shuffle reduction;
* ``max_by`` over the version struct is associative/commutative, so an
  explicit **salted two-stage** variant (stage 1 per (key, salt), stage 2 per
  key) is available as a belt-and-braces skew defense and provably returns
  identical results (tested for any salt count);
* exact duplicate deliveries (same ``(repo, path, op_ts, event_seq)``) need
  no separate ``dropDuplicates`` shuffle — duplicates carry identical
  payloads, so the max_by tie collapses them for free.

Tie-break totality: the version struct compares ``op_ts`` first then
``event_seq`` (globally unique), never timestamp alone (SURVEY §7 risk 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

VERSION_ORDER = ("_op_ts", "_event_seq")


def lww_reduce(events: DataFrame, key_cols: list[str],
               payload_cols: list[str], salt: int | None = None,
               with_stats: bool = False) -> DataFrame:
    """Reduce to one winner row per key: the max-(op_ts, event_seq) event.

    ``events`` must carry ``_op_ts``/``_event_seq`` version columns.
    ``salt`` enables the explicit two-stage skew path (None = rely on
    Spark's built-in partial aggregation).

    ``with_stats`` additionally emits the per-key lineage column ``_max_seq``
    in the SAME aggregation (no extra scan job): the max event_seq seen —
    NOT necessarily the winner's seq under out-of-order op_ts. Winner op_ts
    is already the key's max op_ts (first component of the lexicographic
    version max). Together they give the epoch commit's manifest watermark.
    """
    ver = F.struct(*[F.col(c) for c in VERSION_ORDER])
    pay = F.struct(*[F.col(c) for c in VERSION_ORDER + tuple(payload_cols)])
    if salt is None:
        aggs = [F.max_by(pay, ver).alias("_w")]
        if with_stats:
            aggs.append(F.max("_event_seq").alias("_max_seq"))
        won = events.groupBy(*key_cols).agg(*aggs)
    else:
        salted = events.withColumn(
            "_salt", F.pmod(F.xxhash64(*VERSION_ORDER), F.lit(salt)))
        aggs1 = [F.max_by(pay, ver).alias("_w")]
        if with_stats:
            aggs1.append(F.max("_event_seq").alias("_max_seq"))
        stage1 = salted.groupBy(*key_cols, "_salt").agg(*aggs1)
        ver1 = F.struct(F.col("_w._op_ts"), F.col("_w._event_seq"))
        aggs2 = [F.max_by(F.col("_w"), ver1).alias("_w")]
        if with_stats:
            aggs2.append(F.max("_max_seq").alias("_max_seq"))
        won = stage1.groupBy(*key_cols).agg(*aggs2)
    return won.select(*key_cols, "_w.*", *(["_max_seq"] if with_stats else []))


def choose_lww_salt(events: DataFrame, key_cols: list[str],
                    sample_fraction: float = 0.001,
                    hot_share_threshold: float = 0.5,
                    min_sample_rows: int = 1_000,
                    salt: int = 16) -> int | None:
    """Cheap key-histogram probe → salt decision for ``lww_reduce``.

    One sampled aggregation job (``sample(fraction)`` pushes a Bernoulli
    filter into the scan; the probe moves ~``fraction`` of the key bytes,
    nothing else) measures the hottest key's share of events. Returns
    ``salt`` when that share ≥ ``hot_share_threshold``, else ``None``
    (plain single-stage ``max_by``).

    **Threshold rationale (measured, BENCH skew_defense)**: plain
    ``max_by``'s partial aggregation already collapses a hot key to ~one
    row per map task before the shuffle, so on this engine the salted
    two-stage path costs ~2.7× when skew is absent and wins only in the
    regime partial aggregation can't cover — a single key so dominant
    (≥ ~half the stream) that stage-1 fan-out of its per-task partials
    across ``salt`` reducers beats funneling them to one, e.g. when wide
    payload structs make the final-stage buffer the bottleneck. Hence the
    deliberately HIGH default threshold: salting is the exception, and a
    mis-probe in the common case costs 2.7×, while a mis-probe under
    extreme skew costs far less. An undersized sample (< ``min_sample_rows``
    rows) returns ``None`` — too little signal to justify the exception."""
    agg = (events.select(*key_cols).sample(fraction=sample_fraction, seed=7)
           .groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_n"))
           .agg(F.max("_n").alias("_hot"), F.sum("_n").alias("_tot"))
           .first())
    if agg["_tot"] is None or agg["_tot"] < min_sample_rows:
        return None
    return salt if agg["_hot"] / agg["_tot"] >= hot_share_threshold else None


def lww_reduce_adaptive(events: DataFrame, key_cols: list[str],
                        payload_cols: list[str],
                        with_stats: bool = False, **probe_kwargs) -> DataFrame:
    """``lww_reduce`` with the salt chosen by ``choose_lww_salt`` instead of
    a caller knob — removes the footgun of salting an unskewed stream
    (2.7× measured) or not salting a pathologically hot one. Equivalence
    (adaptive ≡ plain ≡ salted) is pinned by tests for both probe
    outcomes; the probe costs one sampled aggregation job."""
    salt = choose_lww_salt(events, key_cols, **probe_kwargs)
    return lww_reduce(events, key_cols, payload_cols, salt=salt,
                      with_stats=with_stats)
