"""Temporal joins Spark lacks as built-ins: as-of join and range (interval)
join, expressed as shuffle-bounded compositions of DataFrame ops.

Why these exist in a CDC engine: the canonical enrichment problem for a
change stream is "attach the dimension state that was current WHEN the event
happened" — the reference does it row-at-a-time with live lookups against
the target store per message (`DataStore.find` from inside processor loops,
`persistence/src/main/java/io/zyient/core/persistence/AbstractDataStore.java:146-183`);
Flink calls the set-based form a temporal/versioned join, kdb calls it `aj`.
Spark has no ASOF JOIN operator (SPARK-22947 is open), and the naive SQL
formulation — an inequality theta-join plus an argmax — plans as
BroadcastNestedLoopJoin or a cartesian at scale. Both operators here avoid
range-explosion entirely:

* ``asof_join`` — union-and-scan: tag both inputs, union them, and take a
  per-key ordered window's ``last(match, ignorenulls=True)``. ONE shuffle on
  the join keys (the window sort), no theta-join, no per-row Python. This is
  the classic distributed as-of formulation (a merge of two sorted streams,
  done by Spark's window machinery). Cost model at 10^10 rows: identical to
  any per-key window — the hot-key caveat is the same as the engine's LWW
  (one key = one task's sort), so key design carries the skew story; when a
  finite ``tolerance`` is acceptable, ``range_join`` over
  tolerance-width validity intervals is the binned, skew-spreading
  alternative.
* ``range_join`` — bin-and-equi-join: points land in exactly one
  fixed-width time bin; intervals explode to the bins they overlap
  (`explode(sequence(...))`); the join becomes an EQUI-join on
  ``(keys…, bin)`` that Catalyst plans as a shuffled sort-merge/hash join —
  never a nested-loop — and the boundary predicate is re-checked exactly.
  A point matches a qualifying interval exactly once (its own bin), so no
  dedup pass is needed. Replication is bounded and LOUD: an interval wider
  than ``max_bins_per_interval`` bins fails with a clear message instead of
  silently exploding the build side (pick ``bin_width`` near the median
  interval length; replication factor ≈ avg(interval_len)/bin_width + 1).
  Binning also spreads a hot key across its time range — the skew defense
  the pure as-of shape cannot have.

Both return results identical to the textbook SQL semantics and are gated
against DuckDB oracles (native ``ASOF JOIN`` / inequality join) in
`__spark_entry__.py`.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sec_col(col, dtype: str):
    """THE epoch-seconds rule (one definition — tolerance paths and binning
    share it): timestamps (tz or ntz) go through a TZ cast first (session
    tz is UTC everywhere in this engine); numerics cast directly."""
    if dtype.startswith("timestamp"):
        return col.cast("timestamp").cast("double")
    return col.cast("double")


def _seconds(df: DataFrame, name: str):
    return _sec_col(F.col(name), dict(df.dtypes)[name])


def _exact_pos(col, dtype: str):
    """Exact position on the axis for DISTANCE COMPARISONS: integer
    microseconds for timestamps (double seconds at epoch magnitude carry
    ~1e-7 s rounding per operand — enough to flip an exact-midpoint
    'nearest' tie), the raw double otherwise."""
    if dtype.startswith("timestamp"):
        return F.unix_micros(col.cast("timestamp"))
    return col.cast("double")


def _tol_pred(lcol, l_dt: str, mcol, r_dt: str, tolerance):
    """Tolerance test at the SAME precision as nearest-direction distances:
    exact integer microseconds when both axes are timestamps (double
    epoch-seconds carry ~1e-7 s rounding per operand — enough to flip a
    match sitting exactly AT the tolerance boundary vs an exact oracle),
    double column units otherwise (mixed ts/numeric axes keep the
    seconds rule, the only unit both sides share)."""
    if l_dt.startswith("timestamp") and r_dt.startswith("timestamp"):
        dist = F.abs(_exact_pos(lcol, l_dt) - _exact_pos(mcol, r_dt))
        return dist <= F.lit(int(round(float(tolerance) * 1e6)))
    dist = F.abs(_sec_col(lcol, l_dt) - _sec_col(mcol, r_dt))
    return dist <= F.lit(float(tolerance))


def _no_position(col, dtype: str):
    """True when a ts value has no position on the axis: NULL always; NaN
    for float axes (Spark's total order sorts NaN above every double and
    compares NaN >= everything, so an unguarded NaN left ts would grab the
    LAST right row backward and none forward — direction-dependent garbage
    instead of 'no match')."""
    if dtype in ("float", "double"):
        return col.isNull() | F.isnan(col)
    return col.isNull()


def _check_out_names(left_cols, out_names, suffix: str) -> None:
    dups = {n for n in out_names if out_names.count(n) > 1} | \
           (set(out_names) & set(left_cols))
    if dups:
        raise ValueError(
            f"asof_join: output column collision on {sorted(dups)} — pass "
            f"a different suffix than {suffix!r} (e.g. when re-enriching "
            "an already-enriched frame against the same right table)")


#: auto-plan thresholds (asof_join(broadcast="auto")): the broadcast plan
#: is chosen only for a right side that is both SMALL (fits a broadcast
#: comfortably) and SHALLOW (the per-probe-row linear array scan stays
#: cheap — TEMPORAL_PROBE.json measured ~50x slower than the window plan
#: at 42 versions/key, at par at 1/key); anything else gets the
#: one-shuffle window plan, which is never catastrophically wrong
_AUTO_BROADCAST_MAX_ROWS = 1_000_000
_AUTO_BROADCAST_MAX_DEPTH = 16


def choose_asof_plan(right: DataFrame, keys: Sequence[str],
                     max_history: int = 64) -> bool:
    """Probe-based plan pick for ``asof_join(broadcast="auto")``: measure
    the cheap thing (size, then per-key depth), decide, let the caller
    override. Returns True for the broadcast plan.

    Cost: the size gate is a ``limit(N+1).count()`` — Spark stops scanning
    at N+1 rows, so a 10^10-row right side pays O(threshold), not a full
    scan; only a right side that passed the size gate (≤1M rows) pays the
    per-key depth aggregation.

    A keyless (global) right side is ONE history: the window plan cannot
    run it (one-task sort), and the broadcast plan refuses a history deeper
    than ``max_history``. Past that depth no plan fits, so the probe raises
    here rather than route to a plan whose error points at the other."""
    n = right.limit(_AUTO_BROADCAST_MAX_ROWS + 1).count()
    if n > _AUTO_BROADCAST_MAX_ROWS:
        return False
    if not keys:
        if n > max_history:
            raise ValueError(
                f"asof_join: a keyless (global) as-of against {n} right "
                f"rows is one history deeper than max_history="
                f"{max_history}; the broadcast plan caps history depth and "
                "the window plan needs a key — add a coarse bucket key to "
                "`on` or use range_join")
        return True
    depth = (right.groupBy(*keys).count()
             .agg(F.max("count").alias("d")).first()["d"])
    return depth is not None and int(depth) <= _AUTO_BROADCAST_MAX_DEPTH


def asof_join(left: DataFrame, right: DataFrame, on: Sequence[str],
              left_ts: str, right_ts: str | None = None, *,
              direction: str = "backward", tolerance: float | None = None,
              right_cols: Sequence[str] | None = None,
              suffix: str = "_asof", broadcast: bool | str = "auto",
              allow_exact_matches: bool = True,
              max_history: int = 64) -> DataFrame:
    """For every left row, attach the single right row with the greatest
    ``right_ts <= left_ts`` (``direction="backward"``, inclusive), the
    least ``right_ts >= left_ts`` (``"forward"``), or the smallest
    ``|right_ts - left_ts|`` (``"nearest"``; distance ties prefer the
    backward match, the pandas rule) within the same ``on`` keys — pandas
    ``merge_asof`` semantics, left-outer: unmatched left rows keep NULL
    match columns, as do rows whose match misses ``tolerance`` (max
    |right_ts - left_ts| in seconds). ``allow_exact_matches=False`` makes
    the bounds strict (``<`` / ``>``): "the state strictly before the
    event", never the event's own version.

    Mechanics: both sides are tagged and unioned; a window partitioned by
    the keys and ordered by ``(ts, side)`` — right rows sorting BEFORE left
    rows at equal ts, which is what makes the bound inclusive — carries the
    last non-null right payload forward (or backward for ``"forward"``).
    One shuffle total; the plan is Exchange → Sort → Window → Filter.

    Ties inside the right side (two right rows with identical keys+ts) are
    resolved by which sorts last — nondeterministic, exactly as in pandas;
    pre-reduce the right side (e.g. ``max_by``) when that matters. NULL
    keys group together (window-partition semantics) rather than matching
    nothing as a SQL join would — filter them out if SQL semantics matter.

    ``right_cols`` limits the attached payload (default: every right column
    that is neither a key nor the timestamp). Attached columns keep their
    names unless they collide with a left column, in which case ``suffix``
    is appended. The matched timestamp is always attached as
    ``{right_ts}{suffix}``.

    ``broadcast=True`` switches to the dimension-enrichment plan: the right
    side collapses to one sorted per-key history array
    (``sort_array(collect_list(...))``), is broadcast, and each left row
    picks its match with JVM array expressions (``filter`` +
    ``element_at``) — the LEFT side never shuffles or sorts, which at
    10^10 probe rows against a broadcastable dimension is the only plan
    that survives a cluster's network. Constraints: each key's history
    must fit one row AND stay SHALLOW — the match is a linear array scan
    per probe row, measured ~50× slower than the window plan at 42
    versions/key and at par at 1 version/key in local mode where the
    removed exchange is only an in-JVM copy (``TEMPORAL_PROBE.json``);
    histories deeper than ``max_history`` (default 64) fail loudly.
    (key, ts) ties resolve deterministically by payload order rather than
    arbitrarily. Results are otherwise identical — equivalence is
    property-tested.

    The default ``broadcast="auto"`` picks the plan from a cheap probe
    (``choose_asof_plan``: limit-bounded size gate, then per-key depth) —
    the 50x-misuse broadcast shape (deep histories) is unreachable
    without an explicit ``broadcast=True`` opt-in, and small shallow
    dimensions get the no-probe-shuffle plan without the caller having to
    know. Pass ``broadcast=False``/``True`` to skip the probe jobs and
    force a plan (e.g. inside loops where the dimension shape is known).
    The probe is EAGER: under ``"auto"`` building the plan runs 1-2 Spark
    jobs over the right side, and the join later re-executes it. A
    nondeterministic right side (``sample``, ``rand``, a source that
    changes between reads) can therefore be probed on different rows than
    it is joined on, and the plan picked for the probed rows may be wrong
    for the joined ones — ``persist()`` such a right side first, or pass
    ``broadcast`` explicitly. A keyless ``on=[]`` right side deeper than
    ``max_history`` rows raises at probe time: no plan can run it.
    """
    if broadcast == "auto":
        broadcast = choose_asof_plan(right, list(on), max_history)
    if broadcast:
        return _asof_join_broadcast(left, right, on, left_ts, right_ts,
                                    direction=direction, tolerance=tolerance,
                                    right_cols=right_cols, suffix=suffix,
                                    allow_exact_matches=allow_exact_matches,
                                    max_history=max_history)
    if not on:
        raise ValueError("asof_join requires at least one key column; a "
                         "global as-of would sort the world in one task — "
                         "add a coarse bucket key or use range_join")
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest: {direction!r}")
    keys = list(on)
    rts = right_ts or left_ts
    payload = list(right_cols) if right_cols is not None else [
        c for c in right.columns if c not in keys and c != rts]

    r_dt = dict(right.dtypes)[rts]
    l_dt = dict(left.dtypes)[left_ts]
    r2 = (right.filter(~_no_position(F.col(rts), r_dt))
          .select(*keys, F.col(rts).alias("_ts"), F.lit(0).alias("_side"),
                  F.struct(F.col(rts).alias("_mts"),
                           *[F.col(c) for c in payload]).alias("_match")))
    match_t = r2.schema["_match"].dataType
    l2 = left.select(*keys, F.col(left_ts).alias("_ts"),
                     F.lit(1).alias("_side"),
                     F.lit(None).cast(match_t).alias("_match"),
                     F.struct(*left.columns).alias("_row"))
    r2 = r2.withColumn("_row", F.lit(None).cast(l2.schema["_row"].dataType))
    u = l2.unionByName(r2)

    # side order decides the equal-ts bound: right rows (side 0) sorting
    # BEFORE left rows makes the bound inclusive; after = exclusive
    side_order = (F.col("_side").asc() if allow_exact_matches
                  else F.col("_side").desc())
    nop = _no_position(F.col("_ts"), l_dt)

    def _pick(asc: bool):
        o = F.col("_ts").asc() if asc else F.col("_ts").desc()
        w = (Window.partitionBy(*keys).orderBy(o, side_order)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        m = F.last("_match", ignorenulls=True).over(w)
        # a NULL (or float-NaN) left ts has no position → no match
        return F.when(nop, F.lit(None).cast(match_t)).otherwise(m)

    if direction == "backward":
        matched = _pick(True)
    elif direction == "forward":
        matched = _pick(False)
    else:  # nearest: both scans over the SAME exchange (two sorts, one
        # shuffle), then the smaller |distance| wins; ties go backward
        # (pandas merge_asof rule — property-tested)
        mb, mf = _pick(True), _pick(False)
        lpos = _exact_pos(F.col("_ts"), l_dt)
        db = F.abs(lpos - _exact_pos(mb.getField("_mts"), r_dt))
        df_ = F.abs(_exact_pos(mf.getField("_mts"), r_dt) - lpos)
        matched = (F.when(mb.isNull(), mf).when(mf.isNull(), mb)
                   .when(db <= df_, mb).otherwise(mf))

    out = (u.withColumn("_m", matched)
           .filter(F.col("_side") == 1)
           .select("_row", "_m"))
    if tolerance is not None:
        out = out.withColumn(
            "_m", F.when(_tol_pred(F.col("_row").getField(left_ts), l_dt,
                                   F.col("_m").getField("_mts"), r_dt,
                                   tolerance),
                         F.col("_m")))

    def _out_name(c: str) -> str:
        return c + suffix if c in left.columns else c

    out_names = [rts + suffix] + [_out_name(c) for c in payload]
    _check_out_names(left.columns, out_names, suffix)
    cols = [F.col("_row").getField(c).alias(c) for c in left.columns]
    cols.append(F.col("_m").getField("_mts").alias(rts + suffix))
    cols += [F.col("_m").getField(c).alias(_out_name(c)) for c in payload]
    return out.select(*cols)


def _asof_join_broadcast(left: DataFrame, right: DataFrame,
                         on: Sequence[str], left_ts: str,
                         right_ts: str | None = None, *,
                         direction: str = "backward",
                         tolerance: float | None = None,
                         right_cols: Sequence[str] | None = None,
                         suffix: str = "_asof",
                         allow_exact_matches: bool = True,
                         max_history: int = 64) -> DataFrame:
    """Broadcast as-of: see ``asof_join(broadcast=True)``. Unlike the sort
    path this also accepts ``on=[]`` — a GLOBAL as-of against one broadcast
    history array (e.g. a market-wide rate curve), which the window path
    refuses because it would sort everything in one task."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest: {direction!r}")
    keys = list(on)
    rts = right_ts or left_ts
    payload = list(right_cols) if right_cols is not None else [
        c for c in right.columns if c not in keys and c != rts]

    r_dt, l_dt = dict(right.dtypes)[rts], dict(left.dtypes)[left_ts]
    hist = (right.filter(~_no_position(F.col(rts), r_dt))
            .groupBy(*keys)
            .agg(F.sort_array(F.collect_list(F.struct(
                F.col(rts).alias("_mts"),
                *[F.col(c) for c in payload]))).alias("_arr")))
    # the match is a linear array filter per probe row: fine for dimension
    # shapes (a few versions per key), catastrophic for tick-store depths —
    # measured 50x slower than the window plan at 42 versions/key
    # (TEMPORAL_PROBE.json). Fail loudly instead of silently burning cores.
    hist = hist.withColumn("_arr", F.when(F.coalesce(F.assert_true(
        F.size("_arr") <= max_history,
        F.concat(F.lit("asof_join(broadcast=True): key history has "),
                 F.size("_arr").cast("string"),
                 F.lit(f" versions (> max_history={max_history}) — deep "
                       "histories belong on the window plan (broadcast "
                       "match cost is O(history) per probe row); raise "
                       "max_history only if you accept that"))
    ).cast("int"), F.lit(0)) == 0, F.col("_arr")))
    # qualified sides: left and right routinely share a parent frame.
    # eqNullSafe, not == : the window path partitions by key, so NULL keys
    # group together there — the broadcast plan must match that semantic
    # (the paths are property-tested equivalent)
    l2, h2 = left.alias("_aj_l"), F.broadcast(hist.alias("_aj_h"))
    cond = None
    for k in keys:
        eq = F.col(f"_aj_l.{k}").eqNullSafe(F.col(f"_aj_h.{k}"))
        cond = eq if cond is None else (cond & eq)
    # on=[]: a TRUE-conditioned LEFT join, not crossJoin — an empty global
    # history must keep every left row with NULL matches (left-outer
    # contract), not delete the probe stream
    joined = (l2.join(h2, F.lit(True), "left") if cond is None
              else l2.join(h2, cond, "left"))

    # qualified _arr: a left frame legitimately carrying its own _arr
    # column must not make these references ambiguous
    arr = F.col("_aj_h._arr")
    lts = F.col(f"_aj_l.{left_ts}")
    if allow_exact_matches:
        back_c = F.filter(arr, lambda x: x["_mts"] <= lts)
        fwd_c = F.filter(arr, lambda x: x["_mts"] >= lts)
    else:
        back_c = F.filter(arr, lambda x: x["_mts"] < lts)
        fwd_c = F.filter(arr, lambda x: x["_mts"] > lts)
    back_p, fwd_p = F.element_at(back_c, -1), F.element_at(fwd_c, 1)
    if direction == "backward":
        cands, pick = back_c, back_p
    elif direction == "forward":
        cands, pick = fwd_c, fwd_p
    else:  # nearest: smaller |distance| wins, ties go backward
        db = F.abs(_exact_pos(lts, l_dt)
                   - _exact_pos(back_p.getField("_mts"), r_dt))
        df_ = F.abs(_exact_pos(fwd_p.getField("_mts"), r_dt)
                    - _exact_pos(lts, l_dt))
        cands = F.concat(back_c, fwd_c)
        pick = (F.when(F.size(back_c) == 0, fwd_p)
                .when(F.size(fwd_c) == 0, back_p)
                .when(db <= df_, back_p).otherwise(fwd_p))
    # NULL left ts yields no candidates by itself; float NaN would compare
    # greater-than-everything and match — same guard as the window path
    m = F.when((F.size(cands) > 0) & ~_no_position(lts, l_dt), pick)
    if tolerance is not None:
        m = F.when(_tol_pred(lts, l_dt, m.getField("_mts"), r_dt,
                             tolerance), m)

    def _out_name(c: str) -> str:
        return c + suffix if c in left.columns else c

    out_names = [rts + suffix] + [_out_name(c) for c in payload]
    _check_out_names(left.columns, out_names, suffix)
    # collision-checked working column: withColumn("_m") on a left frame
    # that already has _m would silently REPLACE it (unlike output-name
    # collisions, which _check_out_names rejects loudly)
    mcol = "_m"
    while mcol in left.columns:
        mcol += "_"
    out = joined.withColumn(mcol, m)
    cols = [F.col(f"_aj_l.{c}").alias(c) for c in left.columns]
    cols.append(F.col(mcol).getField("_mts").alias(rts + suffix))
    cols += [F.col(mcol).getField(c).alias(_out_name(c)) for c in payload]
    return out.select(*cols)


def temporal_table_join(spark, events: DataFrame, table, event_ts: str, *,
                        payload: Sequence[str] | None = None,
                        suffix: str = "_dim",
                        broadcast: bool | str = False,
                        from_version: int = 0,
                        allow_exact_matches: bool = True,
                        max_history: int = 64) -> DataFrame:
    """Versioned temporal join over a ``SnapshotTable`` — Flink's
    ``FOR SYSTEM_TIME AS OF e.ts`` against a changelog-defined versioned
    table, composed from two existing primitives: ``read_changes`` (the
    committed changelog) and ``asof_join``.

    Each event is enriched with the dimension-row version that was valid
    at the event's time, where the version set is exactly the versions the
    table ever CONTAINED: committed changelog rows keyed by their LWW
    position (``_op_ts``; redelivered/equal-ts versions collapse to the
    ``(_event_seq, _change_version)``-max — deterministic). An event whose
    as-of version is a tombstone gets NULL enrichment (the key did not
    exist at that time), as do events before the key first appeared.
    Initial-load rows keep the engine's initial-load LWW position (op_ts
    −1 — below every real epoch-ms event); changelog rows with a truly
    NULL ``_op_ts`` (tables fed by non-engine writers) are valid from the
    beginning of time.
    Events that within-epoch LWW discarded never became table state,
    so they are — correctly — not versions here; this is the "versioned
    table from a changelog" semantic, not a per-delivered-event replay.

    ``event_ts`` must be in the same unit as the engine's ``_op_ts``
    (epoch ms in this engine). ``payload`` defaults to every non-key
    table column. ``broadcast=True`` uses the no-probe-shuffle as-of plan
    (right choice when the dimension table is broadcastable AND per-key
    version counts stay shallow — ``max_history`` forwards to the
    broadcast guard).
    ``allow_exact_matches=False`` returns the PRE-image: the version
    strictly before the event's own position — enriching a change stream
    with what each row looked like JUST BEFORE the change, the CDC
    before/after shape. Requires the changelog to be incrementally
    readable from ``from_version`` (``read_changes`` raises on CoW
    rewrites in range — commit dimension changes in MOR mode for this,
    and keep version ``from_version`` retained)."""
    snap = table.latest()
    keys = snap.key_cols
    pay = list(payload) if payload is not None else [
        f["name"] for f in snap.fields if f["name"] not in keys]
    hist = table.read_changes(spark, from_version)
    floor = F.lit(-(1 << 62)).cast("bigint")
    h = hist.withColumn(
        "_valid_from", F.coalesce(F.col("_op_ts").cast("bigint"), floor))
    h = (h.groupBy(*keys, "_valid_from")
         .agg(F.max_by(
             F.struct(*[F.col(c) for c in pay], F.col("_deleted")),
             F.struct(F.col("_event_seq"),
                      F.col("_change_version"))).alias("_v"))
         .select(*keys, "_valid_from",
                 *[F.col(f"_v.{c}").alias(c) for c in pay],
                 F.col("_v._deleted").alias("_dim_deleted")))
    out = asof_join(events, h, keys, event_ts, right_ts="_valid_from",
                    right_cols=pay + ["_dim_deleted"], suffix=suffix,
                    broadcast=broadcast,
                    allow_exact_matches=allow_exact_matches,
                    max_history=max_history)

    def _name(c: str) -> str:
        return c + suffix if c in events.columns else c

    tomb = F.col(_name("_dim_deleted"))
    for c in pay:
        n = _name(c)
        out = out.withColumn(
            n, F.when(tomb, F.lit(None).cast(dict(out.dtypes)[n]))
               .otherwise(F.col(n)))
    out = out.withColumn(
        "_valid_from" + suffix,
        F.when(tomb, F.lit(None).cast("bigint"))
         .otherwise(F.col("_valid_from" + suffix)))
    return out.drop(_name("_dim_deleted"))


def range_join(points: DataFrame, intervals: DataFrame, on: Sequence[str],
               point_ts: str, start_ts: str, end_ts: str, *,
               bin_width: float, closed: str = "left",
               max_bins_per_interval: int = 4096,
               point_cols: Sequence[str] | None = None,
               interval_cols: Sequence[str] | None = None) -> DataFrame:
    """Inner interval join: every (point, interval) pair sharing the ``on``
    keys where the point's timestamp falls inside ``[start_ts, end_ts)``
    (``closed="left"``; also ``"both"``/``"right"``/``"neither"``).

    Plan shape: points get ONE bin column (``floor(ts / bin_width)``),
    intervals explode to the bins they overlap, and the join is a pure
    equi-join on ``(keys…, bin)`` — sort-merge/shuffled-hash, never
    BroadcastNestedLoopJoin — with the exact boundary predicate applied
    after. Each qualifying pair appears exactly once (a point has one bin).

    ``bin_width`` is in seconds for timestamp columns, column units
    otherwise. Choose it near the typical interval length: the build-side
    replication factor is ``len/bin_width + 1``. An interval wider than
    ``max_bins_per_interval`` bins raises at execution (assert, not a
    silent explosion); reversed intervals (end < start) match nothing and
    are dropped early.

    Output columns: the point side's (``point_cols`` or all), then the
    interval side's (``interval_cols`` or all non-key), suffixed ``_iv`` on
    collision.
    """
    if closed not in ("left", "right", "both", "neither"):
        raise ValueError(f"closed must be left|right|both|neither: {closed!r}")
    if bin_width <= 0:
        raise ValueError(f"bin_width must be positive: {bin_width}")
    keys = list(on)
    pcols = list(point_cols) if point_cols is not None else points.columns
    ivcols = list(interval_cols) if interval_cols is not None else [
        c for c in intervals.columns if c not in keys]

    bw = F.lit(float(bin_width))
    p = (points.filter(F.col(point_ts).isNotNull())
         .withColumn("_psec", _seconds(points, point_ts))
         .withColumn("_bin", F.floor(F.col("_psec") / bw)))
    iv = (intervals
          .withColumn("_ssec", _seconds(intervals, start_ts))
          .withColumn("_esec", _seconds(intervals, end_ts))
          .filter(F.col("_ssec").isNotNull() & F.col("_esec").isNotNull()
                  & (F.col("_ssec") <= F.col("_esec"))))
    sbin, ebin = F.floor(F.col("_ssec") / bw), F.floor(F.col("_esec") / bw)
    # the assert rides inside the sequence start (null + 0 when it passes,
    # throws when it doesn't) so the guard cannot be pruned as a dead column
    guard = F.coalesce(
        F.assert_true(
            ebin - sbin < max_bins_per_interval,
            F.concat(F.lit("range_join: interval spans "),
                     (ebin - sbin + 1).cast("string"),
                     F.lit(f" bins (> {max_bins_per_interval}); raise "
                           "bin_width or max_bins_per_interval"))
        ).cast("long"), F.lit(0))
    iv = iv.withColumn("_bin", F.explode(F.sequence(sbin + guard, ebin)))

    # explicit side aliases: points and intervals routinely derive from the
    # SAME parent frame (e.g. an event stream joined to windows cut from
    # it), where bare p[k] == iv[k] hits Spark's self-join attribute
    # ambiguity; qualified names are unambiguous by construction
    p, iv = p.alias("_rj_p"), iv.alias("_rj_iv")
    pc = lambda c: F.col(f"_rj_p.{c}")   # noqa: E731
    ic = lambda c: F.col(f"_rj_iv.{c}")  # noqa: E731
    # plain (not null-safe) key equality — SQL inequality-join semantics:
    # NULL keys match nothing
    cond = [pc(k) == ic(k) for k in keys] + [pc("_bin") == ic("_bin")]
    lo = (pc("_psec") >= ic("_ssec")) if closed in ("left", "both") \
        else (pc("_psec") > ic("_ssec"))
    hi = (pc("_psec") <= ic("_esec")) if closed in ("right", "both") \
        else (pc("_psec") < ic("_esec"))
    joined = p.join(iv, cond, "inner").where(lo & hi)

    def _ivname(c: str) -> str:
        return c + "_iv" if c in pcols else c

    return joined.select(*[pc(c).alias(c) for c in pcols],
                         *[ic(c).alias(_ivname(c)) for c in ivcols])


def _explode_bins(df: DataFrame, start: str, end: str, bw,
                  max_bins: int, side: str) -> DataFrame:
    """Shared bin-explosion for interval sides: adds ``_ssec/_esec/_bin``
    (prefixed with ``side``), drops reversed/null intervals, and rides the
    oversized-interval assert inside the sequence start so it cannot be
    pruned."""
    out = (df.withColumn(f"{side}ssec", _seconds(df, start))
           .withColumn(f"{side}esec", _seconds(df, end))
           .filter(F.col(f"{side}ssec").isNotNull()
                   & F.col(f"{side}esec").isNotNull()
                   & (F.col(f"{side}ssec") <= F.col(f"{side}esec"))))
    sbin = F.floor(F.col(f"{side}ssec") / bw)
    ebin = F.floor(F.col(f"{side}esec") / bw)
    guard = F.coalesce(
        F.assert_true(
            ebin - sbin < max_bins,
            F.concat(F.lit("overlap_join: interval spans "),
                     (ebin - sbin + 1).cast("string"),
                     F.lit(f" bins (> {max_bins}); raise bin_width or "
                           "max_bins_per_interval"))).cast("long"),
        F.lit(0))
    return out.withColumn("_bin", F.explode(F.sequence(sbin + guard, ebin)))


def overlap_join(left: DataFrame, right: DataFrame, on: Sequence[str],
                 left_start: str, left_end: str,
                 right_start: str, right_end: str, *,
                 bin_width: float, inclusive: bool = False,
                 max_bins_per_interval: int = 4096,
                 left_cols: Sequence[str] | None = None,
                 right_cols: Sequence[str] | None = None) -> DataFrame:
    """Interval-OVERLAP inner join: every (left, right) interval pair
    sharing the ``on`` keys whose spans intersect — the session-merge /
    meeting-conflict / genomic-region shape. Half-open semantics by
    default (``l_start < r_end AND r_start < l_end``); ``inclusive=True``
    also matches intervals that merely touch at an endpoint.

    Same plan family as ``range_join``: both sides explode to the
    fixed-width bins they cover and the join is an EQUI-join on
    ``(keys…, bin)`` — but an overlapping pair shares up to
    ``len/bin_width`` bins, so each pair is kept exactly once via the
    canonical-bin rule: only the bin containing ``max(l_start, r_start)``
    (the first shared instant) reports the pair. No post-hoc distinct —
    the dedup is a filter, not a shuffle. Replication and the loud
    oversized-interval guard follow ``range_join``.

    Output: the left side's columns (``left_cols`` or all), then the
    right side's (``right_cols`` or all non-key), suffixed ``_r`` on
    collision."""
    if bin_width <= 0:
        raise ValueError(f"bin_width must be positive: {bin_width}")
    keys = list(on)
    lcols = list(left_cols) if left_cols is not None else left.columns
    rcols = list(right_cols) if right_cols is not None else [
        c for c in right.columns if c not in keys]
    bw = F.lit(float(bin_width))
    l2 = _explode_bins(left, left_start, left_end, bw,
                       max_bins_per_interval, "_l").alias("_ov_l")
    r2 = _explode_bins(right, right_start, right_end, bw,
                       max_bins_per_interval, "_r").alias("_ov_r")
    lc = lambda c: F.col(f"_ov_l.{c}")   # noqa: E731
    rc = lambda c: F.col(f"_ov_r.{c}")   # noqa: E731
    cond = [lc(k) == rc(k) for k in keys] + [lc("_bin") == rc("_bin")]
    if inclusive:
        ov = (lc("_lssec") <= rc("_resec")) & (rc("_rssec") <= lc("_lesec"))
    else:
        ov = (lc("_lssec") < rc("_resec")) & (rc("_rssec") < lc("_lesec"))
    canonical = F.floor(F.greatest(lc("_lssec"), rc("_rssec")) / bw) \
        == lc("_bin")
    joined = l2.join(r2, cond, "inner").where(ov & canonical)

    def _rname(c: str) -> str:
        return c + "_r" if c in lcols else c

    return joined.select(*[lc(c).alias(c) for c in lcols],
                         *[rc(c).alias(_rname(c)) for c in rcols])
