"""Changelog-maintained materialized rollup (continuous aggregate).

The reference keeps derived aggregate state hot by re-running queries over
the converged store; time-series stores call the same shape a *hypertable
rollup* / continuous aggregate, and Iceberg v2 calls it an incrementally
maintained materialized view. This module maintains a GROUP BY aggregate
over a :class:`~cdc_core_spark.lake.SnapshotTable` **from its changelog**
(``read_changes``, the Iceberg incremental-append-scan analog) instead of
re-scanning the base table per refresh:

* **O(delta) refresh.** A refresh reads only the change rows committed
  since the stored base version, the *pre-image* of the changed keys
  (a bucket-pruned, column-projected time-travel read — only the storage
  buckets containing changed keys are scanned, at the old snapshot), and
  the rollup's own touched buckets. At 100 TB the table never gets
  re-scanned for invertible aggregates; cost tracks the change volume.
* **Invertible aggregates exactly** — ``count(*)``, ``count(col)``,
  ``sum``, ``avg`` are maintained by retraction arithmetic: the pre-image
  row of every changed key contributes with sign −1, the post-image LWW
  winner with sign +1, folded into the stored accumulators
  (per group: ``cnt``, and per column ``sum_<c>`` + ``nn_<c>`` non-null
  count, so SQL's NULL-sum/avg-of-empty semantics reproduce exactly).
* **min/max via affected-group recompute.** Retraction cannot invert
  min/max; groups touched by the delta are recomputed from the source's
  current state with the group predicate pushed into the scan. This is the
  one knowingly non-O(delta) path (documented cost: one filtered pass of
  the source per refresh, prunable when the table's ``sort_order`` clusters
  the group column) — omit min/max specs to stay strictly incremental.
* **Exactly-once / resumable.** Each refresh commits the new state of
  the groups it touched and the consumed source version atomically in one
  snapshot (``props["rollup_base_version"]``); re-running a refresh for an
  already-consumed version is a no-op, and a crash between reading the
  changelog and publishing leaves the previous consistent state. The spec
  itself is persisted in table props, so ``load()`` needs no re-declaration.
* **Merge-on-read state.** The rollup is written like any keyed table:
  each refresh stages one delta holding only its affected groups,
  versioned ``(source version, 0)``, and a group whose count falls to 0
  stages as a tombstone. So ``rollup.table.read_changes`` serves the
  rollup's own change data (changed groups as ``upsert``, emptied ones
  as ``delete``) to downstream consumers.
* **Logical copy-on-write upstream raises.** ``read_changes`` raises on
  logical copy-on-write rewrites (their changes are folded into rewritten
  base files and cannot be recovered incrementally); only tables written
  by older copy-on-write builds carry them. Maintenance rewrites
  (compaction, re-bucket, tombstone expiry) are state-preserving and skip
  cleanly mid-range.

Reference parity: the derived-state shape mirrors the reference's
DataStore-backed summary entities recomputed per pipeline run
(core/src/main/java/.../stores/AbstractDataStore.java query surface);
re-expressed Spark-first as delta-folded aggregate maintenance.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_core_spark.lake import (Snapshot, SnapshotTable, _normalize,
                                 bucket_expr, sql_type)

_SUPPORTED = ("count", "sum", "avg", "min", "max")
#: accumulator type for sums, by source logical type
_SUM_TYPE = {"short": "long", "int": "long", "integer": "long",
             "long": "long", "float": "double", "double": "double"}
_ORDERABLE = {"short", "int", "integer", "long", "float", "double",
              "string", "timestamp"}


class RollupSpecError(ValueError):
    """Bad aggregate spec (unknown op, non-numeric sum column, name clash)."""


class RollupStateError(RuntimeError):
    """The rollup's on-disk state is unusable (interrupted create)."""


def _canon_spec(group_cols: list[str], aggs: list[dict],
                src_types: dict[str, str]) -> list[dict]:
    """Validate + normalize the agg spec: each entry {op, col?, as?} becomes
    {op, col, out} with a deterministic output name."""
    out, seen = [], set(group_cols)
    for a in aggs:
        op = a.get("op")
        if op not in _SUPPORTED:
            raise RollupSpecError(f"unsupported op {op!r} (use {_SUPPORTED})")
        col = a.get("col")
        if op == "count" and col is None:
            name = a.get("as", "cnt")
        else:
            if col is None:
                raise RollupSpecError(f"{op} requires a col")
            if col not in src_types:
                raise RollupSpecError(f"unknown source column {col!r}")
            if op in ("sum", "avg") and src_types[col] not in _SUM_TYPE:
                raise RollupSpecError(
                    f"{op}({col}): type {src_types[col]} is not numeric")
            if op in ("min", "max") and src_types[col] not in _ORDERABLE:
                raise RollupSpecError(
                    f"{op}({col}): type {src_types[col]} is not orderable")
            name = a.get("as", f"{op}_{col}")
        if name in seen:
            raise RollupSpecError(f"duplicate output column {name!r}")
        seen.add(name)
        out.append({"op": op, "col": col, "out": name})
    return out


def _phys_fields(group_cols: list[str], spec: list[dict],
                 src_types: dict[str, str]) -> list[dict]:
    """Stored schema: group cols + cnt + per-column accumulators.

    ``cnt`` (count(*)) is ALWAYS stored — it is how a group's emptiness
    (drop from the rollup) is detected. sum/avg share ``sum_<c>``/``nn_<c>``
    per source column; count(col) shares ``nn_<c>``; min/max store the
    extreme directly.
    """
    # group columns, like the min/max accumulators below, store NUMERIC
    # types at the widest width: an upstream int→long widen DDL on a group
    # column must not overflow (ANSI) or wrap (non-ANSI) the rollup's own
    # read-normalization cast. Bucket hashing uses these stored types via
    # bucket_expr(cast_types=...), so codes stay consistent across refreshes.
    fields = [{"name": g, "type": _SUM_TYPE.get(src_types[g], src_types[g])}
              for g in group_cols]
    fields.append({"name": "cnt", "type": "long"})
    added = {"cnt"}
    for a in spec:
        names: list[tuple[str, str]] = []
        if a["op"] in ("sum", "avg"):
            names = [(f"sum_{a['col']}", _SUM_TYPE[src_types[a["col"]]]),
                     (f"nn_{a['col']}", "long")]
        elif a["op"] == "count" and a["col"] is not None:
            names = [(f"nn_{a['col']}", "long")]
        elif a["op"] in ("min", "max"):
            # numeric extremes stored at the WIDEST type (long/double): an
            # upstream int→long type-widen DDL between refreshes must not
            # overflow a creation-time-narrow accumulator
            t = src_types[a["col"]]
            names = [(f"{a['op']}_{a['col']}", _SUM_TYPE.get(t, t))]
        for n, t in names:
            if n not in added:
                added.add(n)
                fields.append({"name": n, "type": t})
    return fields


class IncrementalRollup:
    """A materialized GROUP BY over a SnapshotTable, refreshed from deltas.

    ``create`` computes the full aggregate once at the source's current
    version; every later ``refresh()`` folds only the changes since the
    last consumed version (see module docstring for the algorithm and its
    scale shape). The rollup state is itself a SnapshotTable keyed by the
    group columns — time-travelable, atomically published, bucket-pruned,
    written through the same merge-on-read delta commit as engine epochs.
    Each refresh adds one delta layer to the buckets it touches, and reads
    fold every layer until ``rollup.table.compact(spark)`` re-bases them —
    the same unbounded fold depth as the document store's upserts.
    """

    def __init__(self, source: SnapshotTable, table: SnapshotTable,
                 group_cols: list[str], spec: list[dict]):
        self.source = source
        self.table = table
        self.group_cols = group_cols
        self.spec = spec

    # ---------------- lifecycle ----------------

    @classmethod
    def create(cls, spark: SparkSession, source: SnapshotTable, root: str,
               group_cols: list[str], aggs: list[dict],
               n_buckets: int = 8) -> "IncrementalRollup":
        src_snap = source.latest()
        src_types = {f["name"]: f["type"] for f in src_snap.fields}
        for g in group_cols:
            if g not in src_types:
                raise RollupSpecError(f"unknown group column {g!r}")
        spec = _canon_spec(group_cols, aggs, src_types)
        fields = _phys_fields(group_cols, spec, src_types)
        # rollup_base_version deliberately does NOT ride the metadata-only
        # create commit: it is published atomically WITH the initial full
        # aggregate (_commit). A crash between the two leaves a table whose
        # props carry only the spec — load() refuses it loudly instead of
        # silently refreshing deltas onto empty state (negative counts,
        # dropped groups). Same pattern as the engine's initial_loaded flag.
        props = {"rollup_spec": json.dumps(
            {"group_cols": group_cols, "aggs": spec})}
        table = SnapshotTable.create(root, fields=fields, key_cols=group_cols,
                                     n_buckets=n_buckets, props=props)
        r = cls(source, table, group_cols, spec)
        v0 = table.latest()
        state = r._full_state(spark, src_snap, v0)
        r._commit(state, src_snap.version, v0)
        return r

    @classmethod
    def load(cls, source: SnapshotTable, root: str) -> "IncrementalRollup":
        table = SnapshotTable(root)
        props = table.latest().props
        if "rollup_base_version" not in props:
            raise RollupStateError(
                f"rollup at {root} was never finalized (create() crashed "
                "between the metadata commit and the initial aggregate) — "
                "delete the directory and re-create")
        doc = json.loads(props["rollup_spec"])
        return cls(source, table, doc["group_cols"], doc["aggs"])

    @property
    def base_version(self) -> int:
        props = self.table.latest().props
        if "rollup_base_version" not in props:
            raise RollupStateError(
                f"rollup at {self.table.root} was never finalized — "
                "delete the directory and re-create")
        return int(props["rollup_base_version"])

    # ---------------- column plumbing ----------------

    def _needed_src_cols(self) -> list[str]:
        cols = list(self.group_cols)
        for a in self.spec:
            if a["col"] is not None and a["col"] not in cols:
                cols.append(a["col"])
        return cols

    def _minmax(self) -> list[dict]:
        return [a for a in self.spec if a["op"] in ("min", "max")]

    def _acc_cols(self, roll: Snapshot) -> list[str]:
        """Stored accumulator column names, group cols excluded."""
        return [f["name"] for f in roll.fields
                if f["name"] not in self.group_cols]

    def _delta_aggs(self, stype: dict[str, str]):
        """Signed-contribution aggregates over (group, sign, value-cols)."""
        aggs = [F.sum("_sign").cast("long").alias("cnt")]
        done = {"cnt"}
        for a in self.spec:
            c = a["col"]
            if a["op"] in ("sum", "avg") and f"sum_{c}" not in done:
                done.add(f"sum_{c}")
                done.add(f"nn_{c}")
                aggs.append(F.coalesce(
                    F.sum(F.when(F.col(c).isNotNull(),
                                 F.col(c) * F.col("_sign"))),
                    F.lit(0)).cast(stype[f"sum_{c}"])
                    .alias(f"sum_{c}"))
                aggs.append(F.coalesce(
                    F.sum(F.when(F.col(c).isNotNull(), F.col("_sign"))),
                    F.lit(0)).cast("long").alias(f"nn_{c}"))
            elif a["op"] == "count" and c is not None and f"nn_{c}" not in done:
                done.add(f"nn_{c}")
                aggs.append(F.coalesce(
                    F.sum(F.when(F.col(c).isNotNull(), F.col("_sign"))),
                    F.lit(0)).cast("long").alias(f"nn_{c}"))
        return aggs

    @staticmethod
    def _stored_types(roll: Snapshot) -> dict[str, str]:
        """name → SQL type of the rollup's stored fields."""
        return {f["name"]: sql_type(f["type"]) for f in roll.fields}

    def _full_aggs(self, stype: dict[str, str]):
        """Direct aggregates for the initial full compute (and tests)."""
        aggs = [F.count(F.lit(1)).alias("cnt")]
        done = {"cnt"}
        for a in self.spec:
            c = a["col"]
            if a["op"] in ("sum", "avg") and f"sum_{c}" not in done:
                done.add(f"sum_{c}")
                done.add(f"nn_{c}")
                aggs.append(F.coalesce(F.sum(c), F.lit(0))
                            .cast(stype[f"sum_{c}"])
                            .alias(f"sum_{c}"))
                aggs.append(F.count(c).alias(f"nn_{c}"))
            elif a["op"] == "count" and c is not None and f"nn_{c}" not in done:
                done.add(f"nn_{c}")
                aggs.append(F.count(c).alias(f"nn_{c}"))
            elif a["op"] in ("min", "max"):
                name = f"{a['op']}_{c}"
                if name not in done:
                    done.add(name)
                    aggs.append(getattr(F, a["op"])(c).alias(name))
        return aggs

    def _full_state(self, spark: SparkSession, src_snap: Snapshot,
                    roll: Snapshot) -> DataFrame:
        src = self.source.read(spark, snap=src_snap,
                               columns=self._needed_src_cols())
        return src.groupBy(*self.group_cols).agg(
            *self._full_aggs(self._stored_types(roll)))

    # ---------------- refresh ----------------

    def refresh(self, spark: SparkSession,
                to_version: int | None = None) -> Snapshot | None:
        """Fold source changes in ``(base_version, to_version]`` into the
        rollup. Returns the new rollup snapshot, or None when already
        caught up (idempotent — safe to re-run after a crash)."""
        to_v = (self.source.latest().version if to_version is None
                else to_version)
        roll = self.table.latest()  # ONE log read per refresh, threaded down
        if "rollup_base_version" not in roll.props:
            raise RollupStateError(
                f"rollup at {self.table.root} was never finalized — "
                "delete the directory and re-create")
        base_v = int(roll.props["rollup_base_version"])
        if to_v <= base_v:
            return None
        to_snap = self.source.snapshot(to_v)
        base_snap = self.source.snapshot(base_v)
        src_keys = to_snap.key_cols
        payload = [c for c in to_snap.field_names() if c not in src_keys]

        from cdc_core_spark.lww import lww_reduce
        changes = self.source.read_changes(spark, base_v, to_v)
        winners = lww_reduce(
            changes.drop("_change_version", "_change_op"),
            src_keys, payload + ["_deleted"]).localCheckpoint(eager=False)

        # pre-image: bucket-pruned time-travel read of ONLY the changed keys'
        # buckets at the base snapshot (hashed with the base key types — a
        # key-column type widen between versions changes xxhash64 buckets).
        # Read WITH internal cols: the base row's version tuple participates
        # in the post-image fold below, and base tombstones can still outrank
        # an out-of-order in-range change.
        base_key_types = {f["name"]: f["type"] for f in base_snap.fields
                          if f["name"] in src_keys}
        pre_bkts = sorted({r[0] for r in winners.select(
            bucket_expr(src_keys, base_snap.n_buckets,
                        cast_types=base_key_types).alias("b"))
            .distinct().collect()})  # O(n_buckets) driver metadata
        pre_all = self.source.read(spark, buckets=pre_bkts, snap=base_snap,
                                   with_internal_cols=True)
        # lift onto the to-version schema: alias renames, columns added
        # since base_v as NULL, widening casts
        pre_all = _normalize(pre_all, to_snap.fields, to_snap.aliases)
        changed_keys = winners.select(*src_keys).distinct()
        pre_all = (pre_all.join(changed_keys, on=src_keys, how="inner")
                   .localCheckpoint(eager=False))

        # post-image = LWW fold of {base row, in-range winner} per key: an
        # in-range change whose version tuple is OLDER than the base row
        # (late out-of-order event) must lose, exactly as the table's own
        # merge-on-read fold decides — using the raw winner here would
        # retract a row that never left the table
        post = lww_reduce(pre_all.unionByName(winners),
                          src_keys, payload + ["_deleted"])

        # spec columns keep their CREATION-time names (same convention as the
        # table sort_order prop): a source-column rename between refreshes is
        # resolved through the to-version alias map, and the rollup's own
        # stored schema never churns
        sel = [F.col(to_snap.aliases.get(c, c)).alias(c)
               for c in self._needed_src_cols()]
        contrib = (pre_all.filter(~F.col("_deleted"))
                   .select(*sel, F.lit(-1).alias("_sign"))
                   .unionByName(post.filter(~F.col("_deleted"))
                                .select(*sel, F.lit(1).alias("_sign"))))
        delta = contrib.groupBy(*self.group_cols).agg(
            *self._delta_aggs(self._stored_types(roll)))

        return self._merge_delta(spark, delta, to_snap, to_v, roll)

    def _merge_delta(self, spark: SparkSession, delta: DataFrame,
                     to_snap: Snapshot, to_v: int, roll: Snapshot) -> Snapshot:
        """Fold signed deltas into the groups they touch and stage only
        those groups: union(old rows of the touched buckets, delta rows) →
        one groupBy re-fold kept to the delta's groups, min/max replaced by
        the affected-group recompute; a group whose count falls to 0 stages
        as a tombstone. Unaffected groups sharing a touched bucket are
        read, never rewritten."""
        group_types = {f["name"]: f["type"] for f in roll.fields
                       if f["name"] in self.group_cols}
        delta = delta.localCheckpoint(eager=False)
        touched = sorted({r[0] for r in delta.select(
            bucket_expr(self.group_cols, roll.n_buckets,
                        cast_types=group_types).alias("b"))
            .distinct().collect()})  # O(n_buckets) driver metadata
        if not touched:
            # nothing changed in range (e.g. maintenance-only commits):
            # still advance the consumed version so refresh stays O(1)
            return self._commit(None, to_v, roll)

        stype = self._stored_types(roll)
        mm = {f"{a['op']}_{a['col']}": a for a in self._minmax()}
        inv = [c for c in self._acc_cols(roll) if c not in mm]
        old = self.table.read(spark, buckets=touched, snap=roll)
        merged = (old.select(*self.group_cols, *inv,
                             F.lit(False).alias("_aff"))
                  .unionByName(delta.select(*self.group_cols, *inv,
                                            F.lit(True).alias("_aff")))
                  .groupBy(*self.group_cols)
                  .agg(*[F.sum(c).cast(stype[c]).alias(c) for c in inv],
                       F.max("_aff").alias("_aff"))
                  .filter("_aff"))

        if mm:
            # affected-group recompute: the one non-O(delta) path (module
            # docstring) — group-predicate-pushed scan of current state
            aff = delta.select(*self.group_cols)
            cur = {c: to_snap.aliases.get(c, c) for c in dict.fromkeys(
                self.group_cols + [a["col"] for a in mm.values()])}
            state_now = self.source.read(
                spark, snap=to_snap, columns=list(dict.fromkeys(cur.values())))
            # alias renamed source columns back to the spec's creation names
            state_now = state_now.select(
                *[F.col(v).alias(k) for k, v in cur.items()])
            cond = None
            for g in self.group_cols:
                c = state_now[g].eqNullSafe(aff[g])  # NULL is a group value
                cond = c if cond is None else cond & c
            rec = (state_now.join(F.broadcast(aff), cond, "inner")
                   .drop(*[aff[g] for g in self.group_cols])
                   .groupBy(*self.group_cols)
                   .agg(*[getattr(F, a["op"])(a["col"]).alias(c)
                          for c, a in mm.items()]))
            jcond = None
            for g in self.group_cols:
                c = merged[g].eqNullSafe(rec[g])
                jcond = c if jcond is None else jcond & c
            # an emptied group has no recompute row: its extremes read
            # NULL, and it stages as a tombstone anyway
            merged = merged.join(F.broadcast(rec), jcond, "left").select(
                *[merged[g] for g in self.group_cols],
                *[merged[c] for c in inv], *[rec[c] for c in mm])
        return self._commit(merged, to_v, roll)

    def _commit(self, state: DataFrame | None, base_version: int,
                roll: Snapshot) -> Snapshot:
        """Publish ``state`` (the new rows of the groups it holds) as one
        merge-on-read delta, versioned ``(base_version, 0)`` so each
        refresh out-versions the last, with ``rollup_base_version`` in the
        same snapshot. ``state=None`` advances the version alone through a
        metadata-only commit."""
        props = {**roll.props, "rollup_base_version": base_version}
        # base=roll: the whole refresh (old-state read, merge, commit) is
        # pinned to one rollup snapshot; a concurrent refresher changed the
        # props this commit sets, so the loser conflicts
        # (CommitConflictError) instead of splicing two refreshes
        if state is None:
            return self.table.commit_metadata(roll.fields, roll.aliases,
                                              props=props, base=roll)
        group_types = {f["name"]: f["type"] for f in roll.fields
                       if f["name"] in self.group_cols}
        # every staged file must PHYSICALLY match the stored schema: state
        # frames arrive with source-side widths (e.g. an int group value
        # pre-widen, long post-widen) and all rollup commits share one
        # schema_id, so without this cast a read would merge int32/int64
        # files under whichever schema the first-listed file carries
        stype = self._stored_types(roll)
        df = (state
              .select(*[F.col(f["name"]).cast(stype[f["name"]])
                        .alias(f["name"]) for f in roll.fields],
                      F.lit(base_version).cast("bigint").alias("_op_ts"),
                      F.lit(0).cast("bigint").alias("_event_seq"),
                      (F.col("cnt") <= 0).alias("_deleted"))
              .withColumn("_bucket",
                          bucket_expr(self.group_cols, roll.n_buckets,
                                      cast_types=group_types)))
        return self.table.commit_delta_grouped(df, [], [], props=props,
                                               base=roll)

    # ---------------- read ----------------

    def read(self, spark: SparkSession) -> DataFrame:
        """User-facing aggregate values derived from the stored accumulators
        (SQL semantics: sum/avg of a group with no non-null values is NULL)."""
        df = self.table.read(spark)
        cols = [F.col(g) for g in self.group_cols]
        for a in self.spec:
            c, op, out = a["col"], a["op"], a["out"]
            if op == "count" and c is None:
                cols.append(F.col("cnt").alias(out))
            elif op == "count":
                cols.append(F.col(f"nn_{c}").alias(out))
            elif op == "sum":
                cols.append(F.when(F.col(f"nn_{c}") > 0, F.col(f"sum_{c}"))
                            .alias(out))
            elif op == "avg":
                cols.append(F.when(F.col(f"nn_{c}") > 0,
                                   F.col(f"sum_{c}") / F.col(f"nn_{c}"))
                            .cast("double").alias(out))
            else:
                cols.append(F.col(f"{op}_{c}").alias(out))
        return df.select(*cols)
