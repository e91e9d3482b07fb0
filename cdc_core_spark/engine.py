"""CdcEngine — the epoch-driven replay loop (the MessageProcessor analog).

Reference control flow (messaging/.../processing/MessageProcessor.java:144-193):
acquire lock → load ProcessingState → compare stored vs live offset → seek →
``nextBatch`` → handle (ack / DLQ) → commit offset. Our Spark-first
equivalent is a driver epoch loop:

    for epoch not yet committed (manifest check = the offset seek):
        read event-log partition `checkpoint_epoch=e`   (partition-pruned scan)
        split schema ops (op 0/1/2) → registry → metadata-only evolution
        split malformed → quarantine table              (DLQ, MessageProcessor.sendError)
        LWW-reduce valid events to per-key winners      (sharded-executor analog)
        stage winners as a merge-on-read delta commit   (keyed upsert/delete)
        atomically commit snapshot + per-partition manifests  (exactly-once)

Every pending epoch applies as ONE group — one stage-write job, one delta
layer, one snapshot (``apply_epoch_group``), in-band DDL included: each DDL
segment of the group is projected with the schema in force for it, lifted
to the group's final schema, and the schema change publishes in the same
snapshot as the data. A standalone ``apply_epoch`` is a group of one, so
every commit takes the same path. The DDL rows come from one narrow probe
on the calling thread (``_epoch_prestats``), the only input the stage
write's plan needs; every logical manifest value comes from the lineage
aggregate, which runs with the DLQ write on a worker thread beside the
stage write and is resolved before the publish — never from reading the
staged files back. The event log is read through one schema derived from
the registry (``event_schema``), never through a file footer.

Idempotence: re-running an epoch is a no-op — winners carry the same version
tuple as the target rows they produced, and LWW max_by of identical rows is
identity; the committed-epoch check skips it entirely on resume.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import Future
from typing import NamedTuple

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_core_spark import fsutil
from cdc_core_spark.lake import (SnapshotTable, bucket_expr,
                                 field_projection, ident, sql_type)
from cdc_core_spark.lww import lww_reduce
from cdc_core_spark.registry import (WIDENING, SchemaDef, SchemaEvolutionError,
                                     SchemaRegistry, validate_evolution)

OP_INSERT, OP_UPDATE, OP_DELETE = 3, 4, 5
SCHEMA_OPS = (0, 1, 2)
DATA_OPS = (OP_INSERT, OP_UPDATE, OP_DELETE)
# the op-code sets as SQL ``IN`` lists, for expression-string predicates
_IN_SCHEMA_OPS = f"IN ({', '.join(map(str, SCHEMA_OPS))})"
_IN_DATA_OPS = f"IN ({', '.join(map(str, DATA_OPS))})"
#: a data (non-DDL) event; a null op counts as data, so it reaches the DLQ
_DATA_EVENT = f"NOT (coalesce(op, -1) {_IN_SCHEMA_OPS})"


#: the change-event envelope around an entity's payload columns: op code,
#: version tuple, transaction id and the producer's schema version
#: (AvroChangeRecord.java:42-99); ``checkpoint_epoch`` is the log partition
_ENVELOPE = {"op": "bigint", "op_ts": "bigint", "event_seq": "bigint",
             "txid": "bigint", "schema_version": "string"}


def event_schema(registry: SchemaRegistry, entity: str,
                 extra: dict[str, str] | None = None) -> str:
    """The read schema of ``entity``'s change-event log as a DDL string:
    every field name of every registered version (alias sources included)
    at the widest type of the version chain, the envelope, any ``extra``
    columns ({name: SQL type}) and ``checkpoint_epoch``. Reading through
    it costs no footer-inference job, and a column some epoch files lack
    reads NULL in those files instead of vanishing from the whole scan. A
    file storing a narrower integer type (int32 under ``bigint``) reads
    widened."""
    types: dict[str, str] = {}
    for sdef in registry.versions(entity):
        fmap = sdef.field_map()
        for name, f in [*fmap.items(),
                        *[(old, fmap[new]) for old, new in sdef.aliases.items()
                          if new in fmap]]:
            have, t = types.get(name), f["type"].lower()
            if have is None or (have, t) in WIDENING:
                types[name] = t
            elif have != t and (t, have) not in WIDENING:
                raise SchemaEvolutionError(
                    f"{entity}.{name} is {have} in one registered version "
                    f"and {t} in another; no event schema reads both")
    cols = [f"{ident(n)} {sql_type(t)}" for n, t in types.items()
            if n not in _ENVELOPE]
    cols += [f"{n} {t}" for n, t in _ENVELOPE.items()]
    cols += [f"{ident(n)} {t}" for n, t in (extra or {}).items()]
    return ", ".join(cols + ["checkpoint_epoch int"])


class _Worker:
    """``fn`` (Spark actions only) on one thread beside the caller, started
    at construction. An ``InheritableThread``: its jobs carry the caller's
    job group, description and scheduler pool. ``result()`` joins it and
    returns ``fn``'s value or re-raises its error on the caller's thread;
    ``join()`` only waits."""

    def __init__(self, fn):
        self._out = Future()

        def run():
            try:
                self._out.set_result(fn())
            except BaseException as ex:  # re-raised by result()
                self._out.set_exception(ex)

        self._thread = InheritableThread(run, name="cdc-lineage")
        self._thread.start()

    def join(self) -> None:
        self._thread.join()

    def result(self):
        self._thread.join()
        return self._out.result()


class _Prestats(NamedTuple):
    """Per-epoch inputs of ``apply_epoch_group``, from ``_epoch_prestats``:
    ``ddl[e]`` the schema versions of epoch e's in-band DDL events in
    event_seq order (already probed), and ``lineage``, the running worker
    whose ``result()`` is ``(read, err)``: ``read[e][b]`` bucket b's
    valid-event manifest values as ``_manifest_row`` keywords, ``err[e][b]``
    its malformed-event count."""
    ddl: dict[int, list[str]]
    lineage: _Worker


class WapAuditError(RuntimeError):
    """wap_replay's audit rejected the staged branch state; main was never
    touched and the branch is retained for inspection."""


def _list_epochs(events_path: str) -> list[int] | None:
    """Epoch ids from the hive partition layout — a filesystem listing, not a
    Spark job. Returns None when the path isn't epoch-partitioned."""
    import glob as _glob
    dirs = _glob.glob(os.path.join(events_path, "checkpoint_epoch=*"))
    if not dirs:
        return None
    return sorted(int(os.path.basename(d).split("=")[1]) for d in dirs)


def _epoch_in(epochs: list[int]) -> str:
    """SQL predicate selecting ``epochs`` of the event log (partition-pruned
    like ``F.col("checkpoint_epoch").isin(epochs)``)."""
    return f"checkpoint_epoch IN ({', '.join(str(int(e)) for e in epochs)})"


def _manifest_row(epoch: int, partition_id: int, **vals) -> dict:
    """One commit-manifest row — the exactly-once ledger record per
    (epoch, storage bucket = partition_id). Counts, wall and write volume
    default to 0, the (max_op_ts, max_event_seq) watermark to -1."""
    row = {"checkpoint_epoch": epoch, "partition_id": partition_id,
           "events_read": 0, "events_applied": 0, "events_error": 0,
           "max_op_ts": -1, "max_event_seq": -1, "wall_ms": 0,
           "bytes_written": 0, "files_written": 0}
    row.update(vals)
    return row


def valid_event_pred(key_cols: list[str] = ("repo", "path"),
                     content_col: str | None = "content"):
    """Quarantine predicate (reference DLQ: MessageProcessor.java:216-225):
    data op code, non-null KEY columns (schema-driven, not hardcoded — the
    engine serves any registered entity), non-null VERSION columns (the
    reference requires a TransactionId.sequence; a null (op_ts, event_seq)
    would enter LWW as the smallest-possible version — invisible on read
    yet counted as applied, and out-versioned by any redelivered older
    event — so it must quarantine, not apply), and DELETE must not carry
    content.

    Null-safe by construction: a null op makes the raw conjunction NULL,
    which `filter(pred)` drops but `filter(~pred)` ALSO drops — the counting
    and quarantine paths would disagree. coalesce(False) pins null-op rows
    to invalid on every consumer. Built as one SQL expression string."""
    terms = [f"op {_IN_DATA_OPS}",
             *[f"{ident(k)} IS NOT NULL" for k in key_cols],
             "op_ts IS NOT NULL", "event_seq IS NOT NULL"]
    if content_col is not None:
        terms.append(f"NOT (op = {OP_DELETE} AND "
                     f"{ident(content_col)} IS NOT NULL)")
    return F.expr(f"coalesce({' AND '.join(terms)}, false)")


def _error_reason(key_cols: list[str] = ("repo", "path")):
    """DLQ reason tag, null-safe on op: the first ``valid_event_pred``
    term an event fails, as one SQL ``CASE`` expression string."""
    null_key = " OR ".join(f"{ident(k)} IS NULL" for k in key_cols) or "false"
    return F.expr(
        f"CASE WHEN NOT coalesce(op {_IN_DATA_OPS}, false) THEN 'invalid_op' "
        f"WHEN {null_key} THEN 'null_key' "
        "WHEN op_ts IS NULL OR event_seq IS NULL THEN 'null_version' "
        "ELSE 'delete_with_content' END")


class CdcEngine:
    def __init__(self, spark: SparkSession, root: str, registry: SchemaRegistry,
                 entity: str = "source_repos", n_buckets: int = 16,
                 sort_order: list[str] | None = None,
                 zorder: list[str] | None = None,
                 bloom_filters: list[str] | None = None):
        self.spark = spark
        self.root = root
        self.registry = registry
        self.entity = entity
        self.n_buckets = n_buckets
        # Table sort-order prop (Iceberg write sort-order analog): recorded
        # at table creation; compact() clusters base files by these columns
        # so pushed-down key predicates prune parquet row groups WITHIN the
        # bucket-pruned file. Deliberately maintenance-time only — the hot
        # replay path stays sort-free (the MOR fold reads whole buckets, so
        # clustering buys nothing there; point lookups are where it pays).
        self.sort_order = list(sort_order) if sort_order else None
        # Z-order variant of the same contract: >= 2 columns, maintenance
        # rewrites cluster by the interleaved Morton key (zorder.py) so
        # predicates on ANY named column prune row groups. Exclusive with
        # sort_order (competing physical layouts).
        self.zorder = list(zorder) if zorder else None
        if self.zorder:
            from cdc_core_spark.zorder import validate_zorder_cols
            validate_zorder_cols(self.zorder)
        if self.sort_order and self.zorder:
            raise ValueError("pass sort_order OR zorder, not both")
        # Parquet bloom filters on the named columns for EVERY engine-owned
        # write, hot-path delta files included (fsutil.parquet_write_options)
        # — equality row-group skipping where clustering can't reach.
        # Composes with either clustering prop.
        self.bloom_filters = list(bloom_filters) if bloom_filters else None
        self.table = SnapshotTable(os.path.join(root, "target"))
        self.errors_dir = os.path.join(root, "errors")
        # sort_order is recorded at CREATION — on an existing table it
        # would otherwise be a silent no-op (initial_load skips, epoch
        # commits carry prev.props, compact keeps writing unclustered
        # files while the caller believes clustering is on). Compare
        # through the alias map so a post-rename caller passing the
        # CURRENT column names still matches a creation-time prop.
        meta = (self.table.latest_meta()
                if (self.sort_order or self.zorder or self.bloom_filters)
                and self.table.exists() else None)
        for prop, want_raw in (("sort_order", self.sort_order),
                               ("zorder", self.zorder),
                               ("bloom_filters", self.bloom_filters)):
            if want_raw and meta is not None:
                have = [meta.aliases.get(c, c)
                        for c in meta.props.get(prop, [])]
                want = [meta.aliases.get(c, c) for c in want_raw]
                if have != want:
                    raise ValueError(
                        f"table at {self.table.root} already exists with "
                        f"{prop}={meta.props.get(prop)!r}; "
                        f"requested {want_raw!r}. Retrofit via "
                        "table.commit_metadata(fields, aliases, "
                        f"props={{**props, '{prop}': [...]}}) then compact()")

    # ------------------------------------------------------------------ state
    @property
    def current_schema(self) -> SchemaDef:
        ver = self.table.latest_meta().props["schema_version"]
        return self.registry.get(self.entity, ver)

    def _key_cols(self) -> list[str]:
        return self.table.latest_meta().key_cols

    def _sync_buckets(self) -> None:
        """The table snapshot owns the bucket count (it can change via
        compact(n_buckets=...)); resync so a fresh engine instance
        constructed with a stale count never mis-buckets."""
        if self.table.exists():
            self.n_buckets = self.table.latest_meta().n_buckets

    def _pred_args(self, events: DataFrame) -> tuple[list[str], str | None]:
        """(key_cols, content_col) for the validity predicate — key columns
        from the table (evolution can never change them), content rule only
        when the event stream carries a content column."""
        key_cols = self._key_cols()
        return key_cols, ("content" if "content" in events.columns else None)

    # ----------------------------------------------------------- initial load
    def initial_load(self, source_df: DataFrame, schema_version: str = "1.0") -> None:
        """Snapshot/full-load path (reference: MessageMode.Snapshot,
        EntityReadState SNAPSHOT gate, entity/.../model/EntityReadState.java:53-55).
        Initial rows get version (-1, -1) so every real event out-versions them."""
        # resync the bucket count BEFORE computing _bucket: on the crash-rerun
        # branch (table exists, data commit never landed) the half-created
        # table's snapshot owns n_buckets — a fresh engine constructed with a
        # different count would otherwise hash rows with one count and commit
        # against the other, mis-bucketing every base row
        self._sync_buckets()
        sdef = self.registry.get(self.entity, schema_version)
        fields = [dict(f) for f in sdef.fields]
        base_props = {"schema_version": schema_version}
        for prop, cols in (("sort_order", self.sort_order),
                           ("zorder", self.zorder),
                           ("bloom_filters", self.bloom_filters)):
            if not cols:
                continue
            known = {f["name"] for f in fields}
            bad = [c for c in cols if c not in known]
            if bad:
                raise ValueError(
                    f"{prop} names unknown columns {bad!r} for entity "
                    f"{self.entity!r} schema {schema_version}")
            base_props[prop] = cols
        if not self.table.exists():
            self.table = SnapshotTable.create(
                self.table.root, fields=fields, key_cols=sdef.key_cols(),
                n_buckets=self.n_buckets, aliases=dict(sdef.aliases),
                props=base_props)
        elif self.table.latest_meta().props.get("initial_loaded"):
            raise FileExistsError(
                f"table at {self.table.root} is already initial-loaded")
        # else: crash-rerun — the schema-only v0 snapshot was published but
        # the data commit never landed; fall through and redo the load. The
        # "initial_loaded" flag only rides the DATA commit below, so replay()
        # can tell a half-created table from a loaded one (a crash between
        # create() and commit would otherwise silently skip the initial load
        # on resume and lose every never-updated base row).
        from pyspark.sql import Observation
        # a zero-row source (bootstrap purely from the change stream) plans
        # zero tasks, so its Observation never fires and .get would die in
        # the JVM — detect up front (take(1), trivial next to the load)
        empty_source = source_df.isEmpty()
        obs = Observation("initial_load")
        # the bucket hashes the PROJECTED (declared-type) keys, so it is
        # a column over the projection, not part of it
        df = (source_df.selectExpr(
                  *field_projection(set(source_df.columns), fields, {}),
                  "CAST(-1 AS bigint) AS _op_ts",
                  "CAST(-1 AS bigint) AS _event_seq", "false AS _deleted")
              .withColumn("_bucket", bucket_expr(sdef.key_cols(), self.n_buckets))
              .observe(obs, F.count(F.lit(1)).alias("n")))

        def manifest():
            # evaluated post-write: the row count rides the write job's
            # observe metrics instead of a separate counting scan
            n = 0 if empty_source else int(obs.get["n"])
            return [_manifest_row(-1, -1, events_read=n, events_applied=n)]

        self.table.commit_merge(df, list(range(self.n_buckets)), manifest,
                                props={**base_props, "initial_loaded": True})

    # -------------------------------------------------------- schema evolution
    def _apply_schema_ops(self, epochs: list[int], ddl: dict[int, list[str]],
                          cur: SchemaDef) -> list[tuple[SchemaDef, list[int]]]:
        """In-band DDL path (op codes 0/1/2, AvroChangeType.isSchemaChange,
        entity/.../model/AvroChangeType.java:40-49): cut ``epochs`` into
        segments at the DDL-carrying epochs and return ``[(schema, segment
        epochs), ...]``; the last segment's schema is the group's final
        one. This only computes schemas — ``apply_epoch_group`` publishes
        the change together with the data.

        An epoch's DDL applies before its own data. Each DDL event names
        its schema by version, looked up in the registry, and every step of
        the chain passes ``validate_evolution``. ``cur`` is the table's
        schema: it is in force for a first segment without DDL, and a DDL
        at or below the schema in force is a replay and is skipped
        (monotone + idempotent). The table can be ahead of its data only by
        the first pending epoch's own DDL (a table whose DDL commit landed
        before its data commit under the separate-publish protocol of
        earlier builds), so a DDL segment's schema is always its DDL's
        registry version, never a later one."""
        segments: list[tuple[SchemaDef, list[int]]] = []
        for e in epochs:
            before = cur
            for ver in ddl[e]:
                new = self.registry.get(self.entity, ver)
                if (new.major, new.minor) <= (cur.major, cur.minor):
                    continue  # replayed DDL — idempotent skip
                validate_evolution(cur, new)
                cur = new
            if segments and cur is before:
                segments[-1][1].append(e)
            else:
                segments.append((cur, [e]))
        return segments

    # ----------------------------------------------------------- event intake
    def _normalize_events(self, events: DataFrame, sdef: SchemaDef,
                          final: SchemaDef | None = None) -> DataFrame:
        """Project raw events onto the schema ``sdef`` in force for them:
        alias-map renamed payload columns (old writers → new name), cast
        (covers widening), null-fill added columns; attach the version
        columns (the storage bucket is computed on the WINNER set —
        attaching it per raw event here would be a dead expression).
        ``checkpoint_epoch`` passes through as an int: winners reduce per
        (epoch, key) and store it. When ``final`` differs, the projection
        is then lifted onto it exactly as a read lifts a file written under
        ``sdef`` (``lake._normalize``), so a group spanning DDL stores one
        schema. Expression strings only: one JVM call per ``selectExpr``."""
        # the projection itself is THE shared lake.field_projection — the
        # LWW merge depends on events being projected identically to stored
        # files, so the alias/coalesce/cast logic must have one definition
        out = events.selectExpr(
            *field_projection(set(events.columns), sdef.fields, sdef.aliases),
            "CAST(op AS int) AS op", "CAST(op_ts AS bigint) AS _op_ts",
            "CAST(event_seq AS bigint) AS _event_seq",
            "CAST(checkpoint_epoch AS int) AS checkpoint_epoch")
        if final is None or final == sdef:
            return out
        return out.selectExpr(
            *field_projection({f["name"] for f in sdef.fields},
                              final.fields, final.aliases),
            "op", "_op_ts", "_event_seq", "checkpoint_epoch")

    # ------------------------------------------------------------- epoch apply
    def _epoch_prestats(self, scope: DataFrame, epochs: list[int]) -> _Prestats:
        """The per-epoch inputs of ``apply_epoch_group`` for every epoch in
        ``scope`` (events carrying ``checkpoint_epoch``), in two parts.

        The DDL probe runs here, on the calling thread: the in-band DDL
        rows (``op IN (0, 1, 2)``, whose pushed-down predicate lets parquet
        skip row groups without DDL) projected to ``(checkpoint_epoch,
        event_seq, schema_version)``, one small collect sorted here with
        null ``event_seq`` first. They are the only input the stage write's
        plan needs.

        The lineage aggregate and the DLQ write then start on a worker
        (``_Worker``) and run beside the stage write. The aggregate,
        column-pruned to key cols + op + versions + epoch, groups the data
        events by (epoch, bucket, valid): valid events give ``events_read``,
        ``events_applied`` (distinct keys: the reduce keeps one winner per
        (epoch, key)) and the ``(max_op_ts, max_event_seq)`` watermark (the
        max-op_ts event wins its key, so these are the winners' maxima
        too); malformed ones give the error counts. The exact distinct-key
        count costs the aggregate a second shuffle; it stays because
        ``events_applied`` must be exact and the write job cannot report a
        per-(epoch, bucket) count (``Observation`` metrics do not group,
        and the footer read-back is gone). Malformed events are written to
        the DLQ by the same worker: malformed-ness is state-independent, so
        routing needs no per-epoch loop, and the dynamic partition
        overwrite keeps re-runs idempotent without clobbering other epochs'
        DLQ. Every metadata-derived input (key types, the validity
        predicate, the bucket expression, the DLQ path) is built here
        first, so the worker only runs Spark actions and never reads the
        table's snapshot caches."""
        ddl: dict[int, list[str]] = {e: [] for e in epochs}
        for e, _, ver in sorted(
                scope.filter(f"op {_IN_SCHEMA_OPS}")
                .select("checkpoint_epoch", "event_seq", "schema_version")
                .collect(),
                key=lambda d: (d[0], d[1] is not None, d[1] or 0)):
            ddl[e].append(ver)

        key_cols, cc = self._pred_args(scope)
        vpred = valid_event_pred(key_cols, cc)
        reason = _error_reason(key_cols)
        # bucket_expr is total on null keys (xxhash64 skips nulls); keys
        # CAST to their declared types so these stats bucket and count
        # exactly like the normalized winners (raw event files may carry
        # narrower physical types — see bucket_expr's cast_types
        # contract). Key TYPES are stable across the stream: widening a
        # key would change the whole storage bucketing and requires an
        # explicit re-bucket
        ktypes = {f["name"]: f["type"]
                  for f in self.table.latest_meta().fields
                  if f["name"] in key_cols}
        nb = bucket_expr(key_cols, self.n_buckets, cast_types=ktypes)
        distinct_keys = ("count(DISTINCT " + ", ".join(
            f"CAST({ident(k)} AS {sql_type(ktypes[k])})"
            for k in key_cols) + ") AS keys")
        data = scope.filter(_DATA_EVENT)
        errors_dir = self.errors_dir

        def lineage():
            read = {e: {} for e in epochs}
            err = {e: {} for e in epochs}
            for r in (data.withColumn("_bucket", nb).withColumn("_ok", vpred)
                      .groupBy("checkpoint_epoch", "_bucket", "_ok")
                      .agg(F.expr("count(1) AS n"), F.expr(distinct_keys),
                           F.expr("max(CAST(op_ts AS bigint)) AS mts"),
                           F.expr("max(CAST(event_seq AS bigint)) AS mseq"))
                      .collect()):
                e, b = r["checkpoint_epoch"], r["_bucket"]
                if r["_ok"]:
                    read[e][b] = {
                        "events_read": r["n"], "events_applied": r["keys"],
                        "max_op_ts": r["mts"], "max_event_seq": r["mseq"]}
                else:
                    err[e][b] = r["n"]
            if any(err.values()):
                # DLQ: original event + reason (reference: error messages
                # re-tagged mode=Error, MessageProcessor.sendError); the
                # epoch is the partition DIRECTORY, never a column in the
                # files
                (data.filter(~vpred).withColumn("error_reason", reason)
                 .write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .options(**fsutil.parquet_write_options())
                 .partitionBy("checkpoint_epoch").parquet(errors_dir))
            return read, err

        return _Prestats(ddl, _Worker(lineage))

    def apply_epoch(self, events: DataFrame, epoch: int) -> list[dict]:
        """Process one epoch end-to-end and atomically commit: a group of
        one through ``apply_epoch_group``, with its DDL probe, lineage
        pre-stats and DLQ write from the same helper the replay loop uses,
        so a batch carrying DDL publishes its schema change and its data as
        one snapshot, and an empty batch commits the empty-epoch marker.
        This is the path of streaming ``foreachBatch``, ``flow``,
        ``s3_events`` and ``reprocess_errors``. ``epoch`` overrides any
        ``checkpoint_epoch`` the events carry (the stream envelope has
        one). Returns the manifest rows written (one per touched storage
        bucket = partition_id)."""
        self._sync_buckets()
        events = events.withColumn("checkpoint_epoch", F.lit(epoch))
        return self.apply_epoch_group(events, [epoch],
                                      self._epoch_prestats(events, [epoch]))

    def apply_epoch_group(self, events: DataFrame, epochs: list[int],
                          stats: _Prestats) -> list[dict]:
        """Apply one or more epochs with ONE stage-write job + ONE atomic
        merge-on-read snapshot — the engine's only epoch-apply path
        (``events`` must carry ``checkpoint_epoch`` restricted to
        ``epochs``; ``stats``, from ``_epoch_prestats``, holds their DDL
        rows and the running lineage worker). The worker's aggregate and
        DLQ write run beside the stage write; its per-(epoch, bucket)
        manifest values are resolved in the ``manifests`` hook, after the
        stage write and before the publish, so DLQ rows land before the
        snapshot and a worker error aborts the publish. The worker is
        joined on every exit path, errors included.

        Every Spark job pays a constant planning/scheduling cost that doesn't
        parallelize — measured ~1.2s/epoch at local[4] on the 20M-event
        fixture, the dominant N→4N scaling-efficiency loss when draining a
        deep backlog of small epochs. One group per call amortizes it (the
        reference acks a whole poll batch per ``receiver.commit()``,
        MessageProcessor.java:195-214 — same batching, one level up).

        In-band DDL does not split the group: ``_apply_schema_ops`` cuts it
        into segments, each segment's events are projected with the schema
        in force for them and lifted to the group's final schema (a union
        of per-segment ``selectExpr``s over one scan), and a schema change
        rides the data's snapshot (``commit_delta_grouped(new_fields=...)``)
        — a crash leaves neither, and a concurrent schema change conflicts.

        Winners reduce per (epoch, key) and stage as ONE delta layer per
        commit (``_bucket=<b>``), each row keeping its epoch in the stored
        ``checkpoint_epoch`` column. DELETE winners become tombstone rows —
        they must keep out-versioning late duplicate redeliveries of older
        events in future epochs (exactly-once under at-least-once
        delivery). Manifests stay per (epoch, bucket): every logical value
        (events_read/applied/error and the (max_op_ts, max_event_seq)
        watermark) comes from the pre-stats, so the converged state and
        the logical manifests are identical however the epochs are
        grouped. The physical write volume (bytes_written / files_written)
        is per bucket for the whole group: it rides the bucket's row in the
        group's last epoch that applied events to it, 0 on the others."""
        t0 = time.monotonic()
        try:
            self._sync_buckets()
            base = self.table.latest()
            segments = self._apply_schema_ops(
                epochs, stats.ddl,
                self.registry.get(self.entity, base.props["schema_version"]))
            final = segments[-1][0]
            key_cols = final.key_cols()
            payload_cols = [f["name"] for f in final.fields
                            if f["name"] not in key_cols]

            kc, cc = self._pred_args(events)
            valid = (events.filter(_DATA_EVENT)
                     .filter(valid_event_pred(kc, cc)))
            ev = None
            for sdef, seg in segments:
                part = self._normalize_events(
                    valid if len(segments) == 1
                    else valid.filter(_epoch_in(seg)), sdef, final)
                ev = part if ev is None else ev.unionByName(part)
            winners = lww_reduce(ev, ["checkpoint_epoch"] + key_cols,
                                 payload_cols + ["op"])
            delta = (winners
                     .withColumn("_bucket",
                                 bucket_expr(key_cols, self.n_buckets))
                     .withColumn("_deleted", F.expr(f"op = {OP_DELETE}"))
                     .drop("op"))

            def manifests(new_files: list[dict]) -> list[dict]:
                read_all, err_all = stats.lineage.result()
                wall_ms = int((time.monotonic() - t0) * 1000)
                volume: dict[int, tuple[int, int]] = {}
                for f in new_files:
                    nbytes, nfiles = volume.get(f["bucket"], (0, 0))
                    volume[f["bucket"]] = (nbytes + f["bytes"], nfiles + 1)
                rows = {}
                for e in epochs:
                    read, err = read_all.get(e, {}), err_all.get(e, {})
                    rows[e] = [_manifest_row(e, b, **read.get(b, {}),
                                             events_error=err.get(b, 0),
                                             wall_ms=wall_ms)
                               for b in sorted(set(read) | set(err))]
                for e in reversed(epochs):
                    for r in rows[e]:
                        if (r["events_applied"]
                                and r["partition_id"] in volume):
                            r["bytes_written"], r["files_written"] = \
                                volume.pop(r["partition_id"])
                # an EMPTY epoch still needs a committed record (the
                # snapshot's epoch field names only the group's last
                # epoch) — a zero marker row, partition_id=-1 like the
                # initial-load convention, so committed_epochs() sees it
                # and resume stays a no-op
                return [r for e in epochs for r in
                        rows[e] or [_manifest_row(e, -1, wall_ms=wall_ms)]]

            evolve = {}
            if final.version != base.props["schema_version"]:
                # merge, don't replace: props also carries the
                # initial_loaded marker (and any future table-level flags)
                evolve = {"new_fields": [dict(f) for f in final.fields],
                          "new_aliases": dict(final.aliases),
                          "props": {**base.props,
                                    "schema_version": final.version}}
            snap = self.table.commit_delta_grouped(delta, epochs,
                                                   manifests=manifests,
                                                   base=base, **evolve)
            return snap.manifests
        finally:
            stats.lineage.join()

    # ------------------------------------------------------------------ replay
    def replay(self, events_path: str, source_df: DataFrame | None = None,
               schema_version: str = "1.0", epochs: list[int] | None = None,
               lease: bool = True, transform=None) -> None:
        """Resume-from-checkpoint replay loop. Skips epochs whose manifests are
        already committed (the ReceiverOffset committed-split analog).

        ``transform`` (optional ``DataFrame -> DataFrame``) is the ingest
        pipeline hook — the ``InputReader → Pipeline → DataStore``
        composition point (mapping/.../pipeline/PersistencePipeline.java:
        the reference runs its Mapping + rules over every record between
        read and persist). Compiled per-record plans slot in here:
        ``functions.mapping.compile_mapping`` / ``apply_rules`` chains or a
        ``functions.decision_table`` agenda. The callable receives the raw
        change-event frame ONCE per run (still a lazy plan — Catalyst fuses
        it into every epoch scan, so filters behind it still push down) and
        must preserve the envelope columns (op, repo, path, op_ts,
        event_seq, checkpoint_epoch, schema_version); it rewrites payload
        columns only. Because it applies before the lineage pre-stats scan,
        manifest counts, DLQ routing, and exactly-once bookkeeping all see
        the transformed stream — identical to the reference's ordering,
        where the pipeline runs before the DataStore ever sees a record.
        The log is read through ``event_schema``; a transform that reads
        further log columns (the router's entity column) names them in an
        ``event_columns`` attribute, ``{name: SQL type}``.

        ``lease`` guards the run with the single-writer lease and emits
        liveness heartbeats (coordination.py — DistributedLock /
        HeartbeatThread analogs); a second driver on the same table fails
        fast with LockHeldError instead of computing doomed commits. The
        snapshot CAS remains the correctness arbiter either way.

        Replay only ingests: every pending epoch, in-band DDL included,
        lands as ONE snapshot (``apply_epoch_group``), so a replay adds one
        merge-on-read delta layer per bucket. Maintenance is separate and explicit — ``compact()``
        (may run concurrently from another thread; the lake's optimistic
        commit rules rebase the two) and ``refresh_stats()``."""
        from cdc_core_spark import coordination as coord
        if lease:
            lock = coord.ProcessLock(self.root, owner=self.entity).acquire()
            try:
                self._replay_locked(events_path, source_df, schema_version,
                                    epochs, transform=transform,
                                    beat=lambda st, ep=None, err=None:
                                    (coord.write_heartbeat(self.root,
                                                           self.entity, st,
                                                           epoch=ep, error=err),
                                     lock.renew()))
            except Exception as ex:
                coord.write_heartbeat(self.root, self.entity, "failed",
                                      error=repr(ex))
                raise
            finally:
                lock.release()
        else:
            self._replay_locked(events_path, source_df, schema_version,
                                epochs, transform=transform,
                                beat=lambda st, ep=None, err=None: None)

    def refresh_stats(self) -> dict:
        """Churn-proportional column-statistics maintenance
        (``table_stats.refresh``: per-bucket HLL NDV sketches + null/min/
        max, recomputing only buckets whose files changed since the last
        analyze — the Iceberg post-write ANALYZE step). Call it after a
        replay's commits land; it reads table state and writes only
        ``_stats/`` sidecars, so it needs no lease and cannot perturb
        exactly-once bookkeeping."""
        from cdc_core_spark import table_stats
        return table_stats.refresh(self.spark, self.table)

    def wap_replay(self, events_path: str, branch: str = "wap-audit",
                   audit=None, source_df: DataFrame | None = None,
                   schema_version: str = "1.0",
                   drop_branch: bool = True, **replay_kw) -> None:
        """Write-audit-publish replay (the Iceberg ``spark.wap.branch``
        flow over ``lake`` refs): every epoch commit is staged on an
        isolated BRANCH of the target table — invisible to main-ref
        readers — then ``audit`` validates the staged state, and only on
        success is the branch published atomically as ONE squash commit
        (``publish_branch``: a single version CAS, so readers see the whole
        audited state or none of it — per-epoch history of the staged
        interval lives in the manifests, not as separate main commits).
        This is the reference's validation-before-persist quality
        gate (rules → quarantine, mapping/.../rules/RulesExecutor.java;
        EntityValidationError upserts, PersistencePipeline.java:80-93)
        lifted from per-row to whole-staged-state: downstream consumers
        can never observe a batch that failed its audit.

        ``audit`` is a callable receiving THIS engine bound to the branch
        state (``read_final``/``count_final``/``manifests_df`` all resolve
        against the staged table); return False or raise to reject. On
        rejection the branch is KEPT for inspection
        (``eng.table.branch(name)``) and ``WapAuditError`` (or the
        audit's own exception) propagates — main is untouched. Re-running
        ``wap_replay`` with the same branch resumes: branch-committed
        epochs are skipped by the exactly-once manifests, the audit runs
        again over the completed state, and a crash between audit and
        publish re-enters ``publish_branch`` idempotently.

        The initial snapshot load (``source_df`` on a fresh table) commits
        to MAIN — it is the bootstrap readers must see; WAP stages the
        incremental epochs on top of it. At 100 TB the cost over a plain
        replay is zero data movement: branch and publish are both pure
        metadata."""
        main = self.table
        if main.ref is not None:
            raise ValueError("engine is already bound to a branch handle")
        # same completeness rule as _replay_locked: a crash between table
        # CREATE and the initial data commit leaves exists()==True with the
        # initial_loaded prop unset — the rerun must finish the load, not
        # skip it (initial_load itself is crash-idempotent)
        loaded = (main.exists()
                  and main.latest_meta().props.get("initial_loaded"))
        if source_df is not None and not loaded:
            self.initial_load(source_df, schema_version=schema_version)
        elif not loaded:
            raise FileNotFoundError(
                "wap_replay needs a completed initial load to fork "
                "(run initial_load / pass source_df first)")
        try:
            br = main.branch(branch)
        except FileNotFoundError:
            br = main.create_branch(branch)
        self.table = br
        try:
            self.replay(events_path, schema_version=schema_version,
                        **replay_kw)
            if audit is not None and audit(self) is False:
                raise WapAuditError(
                    f"audit rejected the staged state on branch "
                    f"{branch!r}; main is untouched — inspect via "
                    f"table.branch({branch!r}), repair (reprocess_errors / "
                    "drop_branch + re-stage), then rerun wap_replay")
        finally:
            self.table = main
        # squash publish: ONE commit behind one CAS — main readers see the
        # whole audited state or none of it, never an un-audited prefix
        # (fast_forward would expose intermediate epochs mid-copy)
        main.publish_branch(branch)
        if drop_branch:
            main.drop_branch(branch)
        self._sync_buckets()

    def _replay_locked(self, events_path: str, source_df: DataFrame | None,
                       schema_version: str, epochs: list[int] | None,
                       beat, transform=None) -> None:
        if (not self.table.exists()
                or not self.table.latest_meta().props.get("initial_loaded")):
            if source_df is None:
                raise ValueError(
                    "table missing or initial load incomplete, and no "
                    "initial source_df given")
            self.initial_load(source_df, schema_version)
        self._sync_buckets()
        # one schema from the registry, never a footer (see event_schema);
        # a transform reading log columns outside it names them
        events = self.spark.read.schema(event_schema(
            self.registry, self.entity,
            getattr(transform, "event_columns", None))).parquet(events_path)
        if transform is not None:
            # ingest pipeline hook — see replay() docstring; lazy, so it
            # fuses into every downstream epoch scan
            events = transform(events)
        if epochs is None:
            epochs = _list_epochs(events_path) or sorted(
                r["checkpoint_epoch"] for r in
                events.select("checkpoint_epoch").distinct().collect())
        done = self.table.committed_epochs()
        todo = [e for e in epochs if e not in done]
        if not todo:
            beat("idle")
            return
        beat("running")
        # every pending epoch is one group, DDL-carrying ones included
        scope = events.filter(_epoch_in(todo))
        self.apply_epoch_group(scope, todo, self._epoch_prestats(scope, todo))
        beat("idle", ep=todo[-1])

    # ------------------------------------------------------------- maintenance
    def expire_tombstones(self, watermark_op_ts: int) -> None:
        """Drop delete tombstones older than the watermark (table maintenance,
        run once the at-least-once redelivery window has passed — after this,
        a duplicate redelivery older than the watermark could resurrect a row,
        so pick the watermark ≤ min uncommitted upstream offset, exactly the
        ReceiverOffset committed-watermark contract).

        Bucket-pruned: one column-pruned scan finds which buckets actually
        hold expirable tombstones, and ONLY those are rewritten — at 100-TB
        scale the write cost follows the delete distribution, not the table
        size. Buckets without old tombstones are carried by reference."""
        self._sync_buckets()
        # the probe, the rewrite read and the commit are pinned to ONE
        # snapshot; the commit rebases over concurrent ingest (lake OCC)
        snap = self.table.latest()
        old_tomb = F.col("_deleted") & (F.col("_op_ts") < F.lit(watermark_op_ts))
        probe = (self.table.read(self.spark, with_internal_cols=True,
                                 snap=snap)
                 .filter(old_tomb)
                 .select(bucket_expr(self._key_cols(), self.n_buckets)
                         .alias("_bucket")))
        # O(buckets) driver list — the justified collect (cf. replay stats)
        todo = sorted(r["_bucket"] for r in probe.distinct().collect())
        if not todo:
            return
        df = (self.table.read(self.spark, buckets=todo,
                              with_internal_cols=True, snap=snap)
              .filter(~old_tomb)
              .withColumn("_bucket", bucket_expr(self._key_cols(), self.n_buckets)))
        self.table.commit_merge(df, todo, manifests=[], base=snap)

    def compact(self, n_buckets: int | str | None = None,
                min_delta_files: int | None = None,
                target_rows_per_bucket: int = 1_000_000) -> None:
        """Rewrite buckets into one base file set under the current schema —
        bounds small-file count and delta-fold depth, and re-materializes
        alias/widen normalization (the Iceberg rewrite_data_files analog).
        This is the engine's one compaction entry point: ``replay`` never
        compacts, so callers run it explicitly, as a separate maintenance
        step or from a thread beside ingest (its commit is pinned to the
        snapshot at entry and rebases over concurrent delta commits).

        ``min_delta_files`` makes the rewrite INCREMENTAL: only buckets whose
        delta-layer depth (file count from snapshot metadata — no data scan)
        reaches the threshold are rewritten; the rest carry forward by
        reference. This is the steady-state maintenance shape at 100 TB —
        compaction I/O follows where the churn went, not the table size
        (Iceberg ``rewriteDataFiles`` with a file filter). Default (None)
        rewrites everything.

        ``n_buckets`` RE-BUCKETS the table in the same atomic commit — the
        growth knob for 100-TB scale (static bucket counts eventually
        under-parallelize or over-fragment; re-bucket when average bucket
        size drifts out of range). Re-bucketing is necessarily full-table
        (old bucket ids are meaningless under the new hash), so it ignores
        ``min_delta_files``. Results are invariant: bucketing is pure key
        hashing, and subsequent engine instances pick the new count up from
        the snapshot (_sync_buckets).

        ``n_buckets="auto"`` sizes the new count from the table's
        STATISTICS instead of a scan (the stats earning their keep as a
        planner input): live-key count = the stored stats doc's row count
        (the merged state is keyed, so rows == keys), divided by
        ``target_rows_per_bucket`` and snapped to a power of two (so
        successive auto re-buckets halve/double instead of thrashing
        between near-equal counts). Requires a prior
        ``table_stats.analyze``/``refresh`` (raises FileNotFoundError
        otherwise — run one, or pass an explicit count); a stats doc a few
        epochs stale is fine, bucket sizing needs the magnitude, not the
        exact count."""
        self._sync_buckets()
        if n_buckets == "auto":
            from cdc_core_spark import table_stats as _ts
            doc = _ts.latest_stats_doc(self.table)
            if doc is None:
                raise FileNotFoundError(
                    "compact(n_buckets='auto') needs a statistics doc — "
                    "run table_stats.analyze()/refresh() first, or pass "
                    "an explicit bucket count")
            rows = sum(b["rows"] for b in doc["buckets"].values())
            n_buckets = max(1, 1 << max(
                0, (max(1, (rows + target_rows_per_bucket - 1)
                       // target_rows_per_bucket) - 1).bit_length()))
        nb = n_buckets or self.n_buckets
        self.table.compact(self.spark, n_buckets=n_buckets,
                           min_delta_files=min_delta_files)
        self.n_buckets = nb

    # ------------------------------------------------------------------- reads
    def read_final(self, columns: list[str] | None = None) -> DataFrame:
        # ``columns`` prunes the projection into the scan (a .select on the
        # result cannot — the MOR fold blocks Catalyst column pruning).
        return self.table.read(self.spark, columns=columns)

    def count_final(self) -> int:
        """Converged-row count via a keys-only projected fold: the MOR fold
        must still run (tombstones and cross-epoch dedup make any metadata
        count wrong), but counting needs no payload column — at 100 TB a
        count that scans and shuffles every content byte is the wrong plan.
        Equal to ``read_final().count()`` by construction (winner identity
        is decided by key + version alone); pinned by test."""
        keys = self._key_cols()
        return self.table.read(self.spark, columns=[keys[0]]).count()

    def read_final_with_sha(self) -> DataFrame:
        """Final state + per-row content sha256 — the correctness invariant
        (FIXTURES.md §4; F.sha2 = ChecksumUtils.computeSHA256 analog)."""
        return self.read_final().withColumn("content_sha256", F.sha2(F.col("content"), 256))

    def manifests_df(self) -> DataFrame:
        """Per-(epoch, partition) lineage ledger. ``bytes_written`` /
        ``files_written`` are the MOR delta commit's staged write volume —
        the write-amplification signal an operator trends against
        ``events_applied`` to pick ``compact(min_delta_files=)``. A group
        commit stages one layer per bucket for all its epochs, so a bucket's
        volume sits on its row in the group's last epoch that applied events
        to it (0 on that bucket's other rows, and on initial-load,
        quarantine-only and empty-epoch marker rows); per-bucket sums are
        exact."""
        # default the write-volume fields: manifests committed by older
        # builds (or hand-written in tests) may predate them
        rows = [{"bytes_written": 0, "files_written": 0, **r}
                for r in self.table.all_manifests()]
        ddl = ("checkpoint_epoch int, partition_id int, events_read bigint, "
               "events_applied bigint, events_error bigint, max_op_ts bigint, "
               "max_event_seq bigint, wall_ms bigint, bytes_written bigint, "
               "files_written bigint")
        return self.spark.createDataFrame(rows, schema=ddl)

    def errors_df(self, empty_schema: str | None = None) -> DataFrame:
        """DLQ contents. A populated DLQ carries ALL original event columns
        plus (checkpoint_epoch, error_reason); an all-clean run never writes
        the directory, so the empty frame carries ONLY the minimal
        ``checkpoint_epoch int, error_reason string`` contract — callers
        selecting event columns must either guard on those two, or pass
        ``empty_schema`` (the event DDL, e.g. ``event_schema(registry,
        entity)``)
        so both paths stay column-compatible."""
        if not os.path.isdir(self.errors_dir):
            from pyspark.sql.types import (IntegerType, StringType,
                                           StructField, StructType)
            if empty_schema:
                # append only the DLQ columns the caller's DDL doesn't carry
                # (event_schema already ends in checkpoint_epoch — a blind
                # concat would duplicate it and break name resolution).
                # Parse with the real DDL parser, not string-splitting:
                # parameterized/nested types (decimal(10,2),
                # array<struct<a int,b int>>) contain commas that a split
                # would mis-tokenize into phantom column names
                st = StructType.fromDDL(empty_schema)
                have = {f.name.lower() for f in st.fields}
                for name, typ in (("checkpoint_epoch", IntegerType()),
                                  ("error_reason", StringType())):
                    if name not in have:
                        st = st.add(StructField(name, typ))
                return self.spark.createDataFrame([], schema=st)
            return self.spark.createDataFrame(
                [], schema="checkpoint_epoch int, error_reason string")
        return self.spark.read.parquet(self.errors_dir)

    def reprocess_errors(self, repair, repair_epoch: int,
                         source_epochs: list[int] | None = None) -> list[dict]:
        """DLQ retry path — the Error→Retry message-mode cycle
        (MessageObject.java:32-43 modes ``Error``/``Retry``; errors are
        produced by the sendError route, MessageProcessor.java:216-225).
        Reads the quarantine table (optionally only ``source_epochs``'
        partitions — partition-pruned scan), runs the caller's ``repair``
        plan over it (same contract as ``replay(transform=...)``: rewrite
        payload/envelope fields, keep the column set), and applies the
        result as NEW epoch ``repair_epoch`` with full bookkeeping:

        * exactly-once: ``repair_epoch`` gets its own commit manifests, so
          re-running the same repair is skipped up front;
        * rows STILL invalid after repair re-quarantine under
          ``repair_epoch`` (the unresolved remainder — original DLQ
          partitions are immutable audit and are never rewritten);
        * repaired events keep their ORIGINAL ``(op_ts, event_seq)``
          versions, so a repaired event that was long since superseded
          correctly loses the LWW merge instead of resurrecting stale data.

        Returns the manifest rows committed (empty when the DLQ selection
        is empty or the epoch was already committed)."""
        if repair_epoch in self.table.committed_epochs():
            return []
        bad = self.errors_df()
        if source_epochs is not None:
            bad = bad.filter(F.col("checkpoint_epoch").isin(source_epochs))
        bad = bad.drop("error_reason", "checkpoint_epoch")
        if bad.limit(1).count() == 0:
            return []
        return self.apply_epoch(repair(bad), repair_epoch)
