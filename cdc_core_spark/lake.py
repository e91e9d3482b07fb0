"""SnapshotTable — a minimal atomic-snapshot parquet table format.

The sandbox has no Iceberg/Delta jars, so the engine ships its own tiny
lakehouse layer with the three properties the CDC sink needs (all of which
the reference implements by hand):

1. **Atomic commits** — data files are staged first, then a single JSON
   snapshot file is published by an exclusive hard-link CAS
   (``fsutil.publish_local(..., exclusive=True)``: fsynced temp file,
   ``link`` that fails if the version exists, directory fsync). Mirrors the
   reference's temp-file → ``commit()`` atomic writer
   (filesystem/.../Writer.java:43-127, FileSystem.java:909-943). A crash
   between staging and publish leaves unreferenced orphans; readers only ever
   see the last published snapshot.
2. **Bucketed layout + merge-on-read deltas** — rows are hash-bucketed by
   key ``pmod(xxhash64(repo, path), n_buckets)``; every engine epoch commit
   and every other keyed write (document store, rollup refresh) appends
   bucket-tagged DELTA files (``commit_delta_grouped``) that reads
   LWW-fold over the base; base files come only from ``commit_merge`` —
   the initial load and the maintenance rewrites (compaction, tombstone
   expiry), which rewrite the buckets they touch and carry the rest
   forward by reference. At 10^10-event scale this is what bounds commit
   I/O to the touched subset.
3. **Metadata-only schema evolution** — each commit records the schema its
   files were written under (``schema_id``); column add / rename / widen
   changes only snapshot metadata, and reads normalize every file group to
   the current schema (missing → null, renamed via the alias map, widened via
   cast). Mirrors EntitySchema.apply semantics
   (entity/.../schema/EntitySchema.java:327-453) without rewrites.

Snapshots also embed the per-partition commit **manifests**
``(checkpoint_epoch, partition_id, events_read, events_applied, events_error,
max_op_ts, max_event_seq, wall_ms)`` — the exactly-once ledger (reference:
read/committed offset split, messaging/.../ReceiverOffset.java:30-61).

**Iceberg API audit** — the production answer at 100 TB is Iceberg; the
public surface here is deliberately Iceberg-shaped so the swap is mechanical
(each call maps onto ONE Iceberg operation, same commit granularity):

=====================  ==========================================  =========
SnapshotTable call     Iceberg operation                           notes
=====================  ==========================================  =========
``create``             ``Catalog.createTable`` + bucket partition  bucketing
                       spec ``bucket(N, repo, path)``              identical
``commit_delta``       ``Transaction.newAppend().appendFile(...)`` MOR delta
(group form            + snapshot-summary props for the manifest   = Iceberg
``commit_delta_        rows; one epoch or a group of epochs is     v2 MOR
grouped``)             the same single append transaction
``commit_merge``       ``newRewrite()/RewriteFiles`` (replace      initial
                       touched-bucket files, carry rest)           load +
                                                                   maint.
``commit_metadata``    ``updateSchema().addColumn/renameColumn/``  metadata-
                       ``updateColumn`` (widen)                    only, same
``read``               ``IcebergGenerics/scan`` via Spark's        MOR fold →
                       catalog read; the LWW fold maps to          equality
                       equality-delete semantics                   deletes
``compact``            ``rewriteDataFiles`` (+ new partition       re-bucket
(``n_buckets=``)       spec via ``updateSpec`` — Iceberg evolves   = spec
                       specs without rewriting history)            evolution
``committed_epochs``   snapshot-summary scan (``table.snapshots``  cached the
                       with ``wap.id``-style epoch props)          same way
``expire_tombstones``  ``expireSnapshots`` + a delete-file         |
                       rewrite                                     |
``snapshot(v)`` /      snapshot-id time-travel scan /              same
``history``            ``history``/``snapshots`` metadata tables   semantics
``expire_snapshots``   ``expireSnapshots().retainLast(n)``         epoch
                                                                   ledger
                                                                   survives
``remove_orphan_``     ``removeOrphanFiles().olderThan(ts)``       same grace
``files``                                                          rule
``read_changes``       incremental append scan                     same skip-
                       (``TableScan.appendsBetween``)              on-rewrite
                                                                   rule
``create_branch`` /    ``manageSnapshots().createBranch`` / SQL    WAP =
``fast_forward`` /     ``ALTER TABLE t CREATE BRANCH b`` +         Iceberg's
``drop_branch``        ``system.fast_forward(t,'main',b)``         wap.branch
``create_tag`` /       ``manageSnapshots().createTag`` — tagged    same
``drop_tag``           snapshots survive ``expireSnapshots``       retention
                                                                   rule
=====================  ==========================================  =========

Nothing in the engine calls a primitive Iceberg lacks; the only behavioral
delta is that Iceberg's manifests track column stats per file (we keep
the writer's pre-stats scan values in commit manifests instead), which only
makes scan pruning better after the swap.

Commit concurrency follows Iceberg's optimistic model (commit-retry +
validation, ``CommitFailedException``/``ValidationException``): every
commit flavor CASes on the next version and, on losing to a concurrent
writer, REBASES when provably safe — additive MOR deltas over anything
structural-compatible, base-file rewrites over commits that didn't take
their input files, metadata evolutions over data commits — and raises
``CommitConflictError`` otherwise (a rewrite whose input files are gone,
re-bucket racing anything, duplicate epochs, two schema or props
changes). Pass ``base=`` to pin a read-compute-commit pipeline to one
snapshot; the payoff at 100 TB is that compaction/retention run
concurrently with ingest instead of behind the reference's distributed
locks.

The mapping above is executable, not just prose: ``lake_iceberg.
IcebergSnapshotTable`` routes each call to the real Iceberg operation when
the runtime jars are present, and ``tests/test_lake_iceberg.py`` is the
jar-gated conformance suite (skips in this jar-less sandbox, runs on any
cluster with the Iceberg Spark runtime + a catalog conf).
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import time
import uuid

from cdc_core_spark import fsutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# internal sink columns: row version tuple + delete tombstone flag.
# Tombstones are how at-least-once redelivery across epochs stays
# exactly-once: a late duplicate of an event older than a DELETE must lose
# the LWW comparison against the remembered delete version instead of
# resurrecting the row. (Reference analog: idempotent keyed replace +
# stale-write rejection, MongoDbDataStore.java:240-243,
# SchemaManager.java:382-387.)
VERSION_COLS = ("_op_ts", "_event_seq")
INTERNAL_COLS = {"_op_ts": "bigint", "_event_seq": "bigint", "_deleted": "boolean"}
# a delta row's committing epoch, stored by the engine's group commit (one
# file layer holds several epochs' winners); read only by key_history
EPOCH_COL = "checkpoint_epoch"

_TYPES = {
    "boolean": "boolean", "short": "smallint", "int": "int", "integer": "int",
    "long": "bigint", "float": "float", "double": "double", "string": "string",
    "binary": "binary", "timestamp": "timestamp",
}


class CommitConflictError(RuntimeError):
    """A concurrent commit changed state this commit depends on, and the
    commit cannot be rebased over it safely (Iceberg's
    ``ValidationException`` / ``CommitFailedException`` analog). The staged
    data files were already cleaned up; recompute against fresh state and
    retry the whole operation. Commits that CAN rebase safely — additive
    MOR deltas over anything, base-file rewrites over commits that didn't
    take their input files — retry internally and never raise this."""


def sql_type(t: str) -> str:
    return _TYPES[t.lower()]


def ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (a backtick inside it
    doubled), so a plan piece built as an expression string references
    exactly that column: spaces, dots and SQL syntax in a name stay part of
    the name."""
    return "`" + name.replace("`", "``") + "`"


def bucket_expr(key_cols: list[str], n_buckets: int,
                cast_types: dict[str, str] | None = None):
    """Deterministic storage bucket of a key — xxhash64 over the full key so
    a hot repo spreads across buckets (unlike bucket(repo) alone).

    ``cast_types`` ({col: logical type}): consumers hashing RAW event
    columns (lineage stats over un-normalized scans) MUST cast to the
    declared key types first — xxhash64 hashes the same value differently
    per physical type (int 7 and bigint 7 land in different buckets), and
    the write path buckets AFTER normalization casts, so an event file
    carrying a narrower type than the table schema would otherwise put
    stats and data in disagreeing buckets."""
    cols = ", ".join(
        f"CAST({ident(c)} AS {sql_type(cast_types[c])})"
        if cast_types is not None else ident(c) for c in key_cols)
    return F.expr(f"CAST(pmod(xxhash64({cols}), {int(n_buckets)}) AS int)")


@dataclass
class Snapshot:
    version: int
    epoch: int | None
    n_buckets: int
    key_cols: list[str]
    fields: list[dict]                 # current logical schema
    aliases: dict                      # cumulative old_name -> new_name
    schemas: dict                      # schema_id -> fields list (write-time schemas)
    files: list[dict] = field(default_factory=list)   # {path, bucket, schema_id}
    manifests: list[dict] = field(default_factory=list)  # this commit's manifests
    parent: int | None = None
    props: dict = field(default_factory=dict)         # e.g. current schema_version
    # True for state-preserving physical rewrites ONLY (compaction,
    # re-bucket, tombstone expiry) — read_changes uses it to tell a
    # skippable maintenance rewrite from a logical copy-on-write change
    maintenance: bool = False
    # extra committed-epoch ids beyond `epoch`/manifest rows: a squash
    # publish (publish_branch) folds a whole branch chain into ONE commit
    # and must carry every branch epoch for the exactly-once ledger even
    # when a branch commit had no manifest rows
    epochs: list | None = None
    # wall-clock publish instant, stamped by _publish (the Iceberg snapshot
    # `timestamp-ms`): drives snapshot_as_of() time travel and age-based
    # expire_snapshots(older_than_ms=). None only for docs written by
    # pre-timestamp builds. fast_forward copies docs verbatim, so branch
    # commits keep their original publish instant on main (Iceberg rule).
    committed_at_ms: int | None = None
    # set ONLY on a rollback() commit: the version whose data state this
    # commit restores. A doc field (not a props entry) because props
    # propagate forward onto every later commit — the marker must annotate
    # exactly one point in history.
    rollback_of: int | None = None

    def field_names(self) -> list[str]:
        return [f["name"] for f in self.fields]


def _validate_ref_name(name: str) -> None:
    import re
    if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]{0,63}", name):
        raise ValueError(
            f"invalid ref name {name!r}: letters/digits/._- only (max 64, "
            "must start alphanumeric) — ref names become directory / file "
            "names under _log")


class SnapshotTable:
    #: max file entries stored inline in the snapshot JSON; above this the
    #: list is split into a sidecar manifest-list file (the Iceberg
    #: snapshot→manifest-list→manifest shape, one level deep). Keeps the
    #: per-commit metadata write O(1)-ish instead of O(total files) json in
    #: one document at 10^6-file scale. Overridable per instance (tests).
    INLINE_FILES_MAX = 4096

    def __init__(self, root: str, ref: str | None = None):
        self.root = root
        self.main_log_dir = os.path.join(root, "_log")
        if ref is None:
            self.log_dir = self.main_log_dir
        else:
            _validate_ref_name(ref)
            self.log_dir = os.path.join(self.main_log_dir, "refs", ref)
            if not os.path.isfile(os.path.join(self.log_dir, "base.json")):
                raise FileNotFoundError(
                    f"branch {ref!r} does not exist under {self.root} — "
                    "create it with table.create_branch(name)")
        self.ref = ref
        self._fork_cache: int | None = None
        self.data_dir = os.path.join(root, "data")
        self.inline_files_max = self.INLINE_FILES_MAX
        # committed-epochs cache: (snapshot basenames tuple, epoch set);
        # see committed_epochs() for the invalidation contract
        self._epochs_cache: tuple[tuple[str, ...], set[int]] | None = None

    # ---------------- snapshot log ----------------
    @staticmethod
    def create(root: str, fields: list[dict], key_cols: list[str],
               n_buckets: int = 16, aliases: dict | None = None,
               props: dict | None = None) -> "SnapshotTable":
        t = SnapshotTable(root)
        os.makedirs(t.log_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        snap = Snapshot(version=0, epoch=None, n_buckets=n_buckets, key_cols=key_cols,
                        fields=fields, aliases=aliases or {},
                        schemas={"s0": fields}, files=[], manifests=[],
                        props=props or {})
        t._publish(snap)
        return t

    @staticmethod
    def _doc_version(path: str) -> int:
        return int(os.path.basename(path)[1:-5])

    @staticmethod
    def _dir_doc_paths(d: str) -> list[str]:
        # strict v{digits}.json — excludes the v*-files.json manifest-list
        # sidecars living in the same directory
        import re
        return [p for p in glob.glob(os.path.join(d, "v*.json"))
                if re.fullmatch(r"v\d+\.json", os.path.basename(p))]

    def _snapshot_paths(self) -> list[str]:
        if self.ref is None:
            return sorted(self._dir_doc_paths(self.log_dir))
        # a branch's chain = main's docs up to the fork version + the
        # branch's own commits after it (versions continue main's numbering
        # at the fork, so fast_forward is a pure metadata publish) — main
        # commits made AFTER the fork belong to a diverged history and are
        # excluded. v%012d basenames keep the cross-directory sort correct.
        fork = self._fork_version()
        main = [p for p in self._dir_doc_paths(self.main_log_dir)
                if self._doc_version(p) <= fork]
        return sorted(main + self._dir_doc_paths(self.log_dir),
                      key=os.path.basename)

    def _fork_version(self) -> int:
        """The main-ref version this branch forked from (immutable, cached)."""
        if self._fork_cache is None:
            with open(os.path.join(self.log_dir, "base.json")) as f:
                self._fork_cache = int(json.load(f)["fork_version"])
        return self._fork_cache

    def _doc_path(self, version: int) -> str:
        """Where version's snapshot doc lives — ref-aware (a branch resolves
        versions at-or-before its fork from the main log)."""
        name = f"v{version:012d}.json"
        if self.ref is not None and version <= self._fork_version():
            return os.path.join(self.main_log_dir, name)
        return os.path.join(self.log_dir, name)

    def _require_main(self, what: str) -> None:
        if self.ref is not None:
            raise ValueError(f"{what} operates on the main ref — this handle "
                             f"is bound to branch {self.ref!r}")

    def exists(self) -> bool:
        return bool(self._snapshot_paths())

    def latest(self) -> Snapshot:
        paths = self._snapshot_paths()
        if not paths:
            raise FileNotFoundError(f"no snapshots under {self.log_dir}")
        return self._load_snapshot(paths[-1])

    def latest_meta(self) -> Snapshot:
        """``latest()`` WITHOUT resolving the manifest-list sidecar — for
        metadata-only consumers (schema / key_cols / n_buckets / props
        lookups, which the engine performs several times per epoch): one
        O(1) doc read instead of an O(total-files) sidecar parse at
        10^6-file scale (the same rule ``history()`` follows). ``files``
        is deliberately ``None`` so a consumer that actually touches data
        fails loudly instead of silently seeing an empty table — call
        ``latest()`` for those."""
        paths = self._snapshot_paths()
        if not paths:
            raise FileNotFoundError(f"no snapshots under {self.log_dir}")
        with open(paths[-1]) as f:
            d = json.load(f)
        d["files"] = None
        return Snapshot(**d)

    def _load_snapshot(self, path: str) -> Snapshot:
        # plain read, NOT _load_snapshot_doc: that choke point counts
        # committed-epochs log scans (test_exactly_once counting stub);
        # latest()/snapshot() loads are ordinary metadata reads
        with open(path) as f:
            d = json.load(f)
        files = d["files"]
        if isinstance(files, dict):   # split-out manifest list (see _publish)
            # a sidecar lives NEXT TO its doc (branch docs carry branch-dir
            # sidecars until fast_forward copies both) — resolve against the
            # doc's directory, not this handle's log_dir
            with open(os.path.join(os.path.dirname(path), files["ref"])) as f:
                d["files"] = json.load(f)
        return Snapshot(**d)

    def snapshot(self, version: int) -> Snapshot:
        """Time-travel accessor (Iceberg ``snapshot-id`` scan): load a
        specific published version; pass it to ``read(spark, snap=...)`` to
        read the table as of that commit. Raises ``FileNotFoundError`` for a
        version never published or already expired."""
        path = self._doc_path(version)
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"snapshot v{version} not found under {self.log_dir} "
                "(never published, or expired)")
        return self._load_snapshot(path)

    def history(self) -> list[dict]:
        """Commit history, oldest→newest (the Iceberg ``history`` /
        ``snapshots`` metadata-table analog) — one dict per retained
        snapshot with version, epoch, parent, file/manifest counts and
        props. Reads each snapshot doc but never resolves manifest-list
        sidecars, so it stays cheap on huge tables."""
        out = []
        for p in self._snapshot_paths():
            with open(p) as f:
                d = json.load(f)
            files = d["files"]
            out.append({
                "version": d["version"], "epoch": d.get("epoch"),
                "parent": d.get("parent"), "n_buckets": d["n_buckets"],
                "n_files": files["n"] if isinstance(files, dict) else len(files),
                "n_manifests": len(d.get("manifests") or []),
                "committed_at_ms": d.get("committed_at_ms"),
                "rollback_of": d.get("rollback_of"),
                "props": d.get("props") or {},
            })
        return out

    def snapshot_as_of(self, ts_ms: int) -> Snapshot:
        """Time travel by wall clock (the Iceberg ``TIMESTAMP AS OF`` scan):
        the newest retained snapshot published at-or-before ``ts_ms``
        (epoch milliseconds) — pass the result to ``read(spark, snap=...)``.

        Publish instants are made effectively NON-DECREASING by a
        running-max clamp over the version chain, so a backwards wall-clock
        step between two commits cannot make as-of reads non-monotone (the
        later version wins, exactly as Iceberg resolves its snapshot log).
        Docs from pre-timestamp builds inherit the running clamp (and are
        unreachable by-time when no earlier doc carries a timestamp).

        Raises ``FileNotFoundError`` when every retained snapshot is newer
        than ``ts_ms`` — the table did not exist yet at that instant, or
        retention (``expire_snapshots``) dropped the history that old.
        O(retained snapshots) doc reads; never resolves manifest sidecars
        until the one chosen snapshot is loaded."""
        best = None
        for _, doc, _, eff in self._walk_instants():
            if eff is not None and eff <= ts_ms:
                best = doc["version"]
        if best is None:
            raise FileNotFoundError(
                f"no snapshot under {self.log_dir} was published at or "
                f"before ts_ms={ts_ms} — the table is newer than that "
                "instant, or retention expired the history (tag versions "
                "to pin them)")
        return self.snapshot(best)

    def _walk_instants(self) -> list[tuple]:
        """Shared effective-publish-instant walk: one
        ``(path, doc, raw_ts, eff_ts)`` tuple per retained snapshot doc,
        oldest→newest. ``eff_ts`` is the running-max clamp over
        ``committed_at_ms`` (non-decreasing; legacy docs without a stamp
        inherit it). ``expire_snapshots`` PINS every retained doc's
        effective instant into the ledger (``eff_overrides``) before
        deleting anything, so expiring the snapshot that anchored the
        running max cannot rewind — and retaining a TAGGED doc amid newer
        expired ones cannot inflate — the effective instants of survivors:
        as-of reads and age retention give the same answers before and
        after retention. Ledgers from pre-override builds fall back to
        seeding the clamp with their ``clock_floor_ms``. Single source of
        the clamp rule for ``snapshot_as_of`` and ``expire_snapshots``."""
        base = self._expired_base_doc()
        overrides = {int(v): e
                     for v, e in (base.get("eff_overrides") or {}).items()}
        # legacy ledger (floor, no overrides): seed the clamp as before
        running = None if overrides else base["clock_floor_ms"]
        out = []
        for p in self._snapshot_paths():
            doc = self._load_snapshot_doc(p)
            ts = doc.get("committed_at_ms")
            # pins are keyed by MAIN version numbers; a branch doc above the
            # fork can share a number with a diverged main doc — never pin it
            pinned = (overrides.get(doc["version"])
                      if os.path.dirname(p) == self.main_log_dir else None)
            if pinned is not None:
                eff = pinned
                running = pinned if running is None else max(running, pinned)
            else:
                if ts is not None:
                    running = ts if running is None else max(running, ts)
                eff = running
            out.append((p, doc, ts, eff))
        return out

    def block_deltas(self) -> list[dict]:
        """Per-data-file change lifecycle over the retained snapshot chain —
        the block-delta-tracking analog (entity/.../model/
        BlockTransactionDelta.java:24-30 ``{startOffset, endOffset, tnxId,
        timestamp, deleted}``): the reference tracks which byte range of a
        stored block each transaction touched; our unit of storage is a
        bucket-sharded data FILE, so the view reports, per file, the
        transaction (epoch/version) that created it and the version whose
        rewrite (compaction / merge) dropped it.

        Returns one row per file ever referenced by a retained snapshot:
        ``{path, bucket, kind, bytes, tnx_epoch, added_version,
        removed_version, deleted}`` — ``deleted=False``/
        ``removed_version=None`` for files live in the newest snapshot;
        ``bytes`` is the staged file size (``None`` for files committed by
        pre-size builds — guard before summing). After ``expire_snapshots`` the walk
        starts at the oldest RETAINED snapshot (same as Iceberg metadata
        after expiration). Driver-side O(snapshots × files) metadata walk
        resolving manifest-list sidecars; reads no data files."""
        seen: dict[str, dict] = {}
        for p in self._snapshot_paths():
            s = self._load_snapshot(p)
            now = set()
            for f in s.files:
                now.add(f["path"])
                if f["path"] not in seen:
                    seen[f["path"]] = {
                        "path": f["path"], "bucket": f["bucket"],
                        "kind": f.get("kind", "base"),
                        "bytes": f.get("bytes"),   # None pre-upgrade
                        "tnx_epoch": f.get("epoch", s.epoch),
                        "added_version": s.version,
                        "removed_version": None, "deleted": False}
                elif seen[f["path"]]["deleted"]:
                    # rollback() resurrects files a rolled-past rewrite had
                    # dropped — a live file must not report as deleted
                    seen[f["path"]]["deleted"] = False
                    seen[f["path"]]["removed_version"] = None
            for path, row in seen.items():
                if not row["deleted"] and path not in now:
                    row["deleted"] = True
                    row["removed_version"] = s.version
        return list(seen.values())

    def key_history(self, spark: SparkSession, key: dict,
                    include_rewrites: bool = False) -> DataFrame:
        """Row-level audit trail for ONE key: every committed version of
        the row across the retained snapshot chain, with the epoch and
        table version that applied it — "who changed this row, when"
        (the per-row view of the reference's transaction lineage,
        entity/.../model/BlockTransactionDelta.java; Iceberg has no
        built-in row-history — this is the changelog filtered to a key,
        without paying a changelog scan).

        Scale shape: the key hashes to ONE bucket (same typed probe as the
        doc-store point read), candidate files are that bucket's
        non-maintenance additions across the snapshot walk (driver-side
        metadata, O(snapshots)), and the key equality predicate pushes
        into every file scan — sort-order/bloom row-group skipping applies.
        All file groups union into ONE lazy plan. History depth equals
        retention depth: files swept from disk (expired/orphaned) are
        skipped silently, and — as in ``block_deltas`` after
        ``expire_snapshots`` — a still-live file committed BEFORE the
        oldest retained snapshot is attributed to that snapshot (its true
        transaction id was expired with the metadata; a row's stored
        ``checkpoint_epoch`` — or, in files staged before the one-layer
        group commit, the file record's ``epoch`` — keeps the epoch
        exact).

        Maintenance rewrites (compaction/re-bucket/expiry) re-materialize
        the same logical row, so they are excluded unless
        ``include_rewrites=True``. The bucket prune follows each
        snapshot's OWN ``n_buckets`` — a re-bucketing ``compact`` changes
        the key's bucket id going forward without losing the pre-rebucket
        trail.

        Returns the payload columns plus ``op`` ('D' for a tombstone
        version, 'U' otherwise), ``epoch``, ``version``, ``op_ts`` and
        ``event_seq`` (op_ts −1/event_seq −1 = the initial snapshot load,
        the engine's initial-load LWW floor; NULL only for rows written by
        non-engine writers), ordered by COMMIT order (version, then
        epoch) — not by op_ts: a
        later epoch can deliver an earlier-timestamped out-of-order event,
        and the audit question is "what was committed when"; compare op_ts
        across rows to see which commits actually moved the LWW winner."""
        snap = self.latest()
        if any(key.get(k) is None for k in snap.key_cols):
            raise ValueError(f"key must bind every key column non-null: "
                             f"{snap.key_cols} got {key}")
        tmap = {f["name"]: sql_type(f["type"]) for f in snap.fields}
        ddl = ", ".join(f"{k} {tmap[k]}" for k in snap.key_cols)
        probe = spark.createDataFrame(
            [tuple(key[k] for k in snap.key_cols)], ddl)

        # the key's bucket id depends on the bucket COUNT, which a
        # re-bucketing compact can change mid-history: resolve it per
        # distinct n_buckets seen in the walk (one tiny probe job each;
        # almost always exactly one)
        bucket_of: dict[int, int] = {}

        def _bucket_for(n: int) -> int:
            if n not in bucket_of:
                bucket_of[n] = int(probe.select(bucket_expr(
                    snap.key_cols, n).alias("b")).first()["b"])
            return bucket_of[n]

        # first-seen walk: attribute each candidate file to the commit
        # that created it (rollbacks re-add old files — first-seen keeps
        # the original attribution, matching block_deltas)
        seen: set[str] = set()
        found: list[dict] = []
        snap_paths = self._snapshot_paths()
        for i, p in enumerate(snap_paths):
            s = self._load_snapshot(p)
            b = _bucket_for(s.n_buckets)
            # the OLDEST retained snapshot's first-seen files are originals
            # even when that snapshot is a maintenance commit (expire can
            # leave a compaction as the chain head): they are the only
            # carrier of the key's surviving pre-expiry versions — skipping
            # them as "rewrites" would silently drop history, violating the
            # documented attribute-to-oldest rule (same as block_deltas)
            skip_maint = s.maintenance and not include_rewrites and i > 0
            for f in s.files:
                if f["path"] in seen:
                    continue
                seen.add(f["path"])
                if f["bucket"] != b or skip_maint:
                    continue
                if not os.path.exists(os.path.join(self.root, f["path"])):
                    continue  # swept from disk — beyond retention
                found.append({**f, "epoch": f.get("epoch", s.epoch),
                              "version": s.version})

        out_names = [f["name"] for f in snap.fields]
        out = _scan(spark, self.root, snap, found, tags=("epoch", "version"),
                    row_epoch=True)
        if out is None:
            # tmap already holds SQL types (probe DDL above)
            ddl_out = ", ".join(
                [f"{n} {tmap[n]}" for n in out_names]
                + ["op string", "epoch bigint", "version bigint",
                   "op_ts bigint", "event_seq bigint"])
            return spark.createDataFrame([], schema=ddl_out)
        for k in snap.key_cols:
            out = out.filter(F.col(k) == F.lit(key[k]))
        return out.select(
            *out_names,
            F.when(F.col("_deleted"), F.lit("D")).otherwise(
                F.lit("U")).alias("op"),
            F.coalesce(F.col(EPOCH_COL).cast("bigint"),
                       F.col("epoch")).alias("epoch"),
            "version",
            F.col("_op_ts").alias("op_ts"),
            F.col("_event_seq").alias("event_seq")).orderBy(
            "version", F.col("epoch").asc_nulls_first(), "op_ts", "event_seq")

    def inspect(self, spark: SparkSession, kind: str = "history") -> DataFrame:
        """Metadata tables as DataFrames — the Iceberg inspection surface
        (``SELECT * FROM tbl.history / .files / .refs``; reference keeps
        the same facts row-at-a-time in its transaction/lineage entities).
        Driver-side O(metadata) builds: they read snapshot docs (plus, for
        files/block_deltas, the one manifest-list sidecar per big commit),
        never data files. Fixed DDL schemas per kind, so empty tables and
        pre-timestamp docs (null ``committed_at_ms``) are well-typed.

        kinds — ``history``: one row per retained snapshot;
        ``files``: the newest snapshot's live data files (``epoch`` is
        NULL for delta files staged by the one-layer group commit — their
        rows store the epoch, see ``key_history`` — and set only on files
        staged before it);
        ``block_deltas``: per-file add/remove lifecycle (block_deltas());
        ``refs``: current head + branches (at fork version) + tags;
        ``stats``: per-column merged table statistics from the latest
        ``table_stats`` doc (one ``hll_union_agg`` metadata job for NDV;
        raises FileNotFoundError until ``analyze``/``refresh`` has run)."""
        if kind == "history":
            rows = [(h["version"], h["epoch"], h["parent"], h["n_buckets"],
                     h["n_files"], h["n_manifests"], h["committed_at_ms"],
                     h["rollback_of"], json.dumps(h["props"], sort_keys=True))
                    for h in self.history()]
            ddl = ("version bigint, epoch bigint, parent bigint, "
                   "n_buckets int, n_files bigint, n_manifests bigint, "
                   "committed_at_ms bigint, rollback_of bigint, props string")
        elif kind == "files":
            rows = [(f["path"], f["bucket"], f.get("kind", "base"),
                     f["schema_id"], f.get("epoch"), f.get("bytes"))
                    for f in self.latest().files]
            ddl = ("path string, bucket int, kind string, schema_id string, "
                   "epoch bigint, bytes bigint")
        elif kind == "block_deltas":
            rows = [(r["path"], r["bucket"], r["kind"], r["bytes"],
                     r["tnx_epoch"], r["added_version"],
                     r["removed_version"], r["deleted"])
                    for r in self.block_deltas()]
            ddl = ("path string, bucket int, kind string, bytes bigint, "
                   "tnx_epoch bigint, added_version bigint, "
                   "removed_version bigint, deleted boolean")
        elif kind == "refs":
            head = "main" if self.ref is None else self.ref
            rows = ([(head, "head", self.latest_meta().version)]
                    + [(n, "branch", v)
                       for n, v in self.branches().items()]
                    + [(n, "tag", v) for n, v in self.tags().items()])
            ddl = "name string, type string, version bigint"
        elif kind == "stats":
            from cdc_core_spark import table_stats
            st = table_stats.stats(spark, self)
            txt = lambda v: None if v is None else str(v)  # noqa: E731
            rows = [(c, st["table_version"], st["stats_version"],
                     st["row_count"], v["ndv"], v["null_count"],
                     txt(v["min"]), txt(v["max"]))
                    for c, v in st["columns"].items()]
            ddl = ("column string, table_version bigint, "
                   "stats_version bigint, row_count bigint, ndv bigint, "
                   "null_count bigint, min string, max string")
        else:
            raise ValueError(f"unknown inspect kind {kind!r} — one of: "
                             "history, files, block_deltas, refs, stats")
        return spark.createDataFrame(rows, schema=ddl)

    def _publish(self, snap: Snapshot) -> None:
        path = os.path.join(self.log_dir, f"v{snap.version:012d}.json")
        if os.path.exists(path):  # fast path; the REAL arbiter is below
            raise FileExistsError(f"snapshot {snap.version} already committed")
        # stamp the publish instant (Iceberg `timestamp-ms`) — on the snap
        # itself, not just the doc, so the in-memory object a committer
        # holds matches what latest() reloads. Wall clocks can step
        # backwards; readers (snapshot_as_of, age expiry) apply a
        # running-max clamp instead of this hot path paying a parent read.
        snap.committed_at_ms = int(time.time() * 1000)
        doc = dict(snap.__dict__)
        if len(snap.files) > self.inline_files_max:
            # split the file list into a sidecar manifest-list document:
            # sidecar first, snapshot rename last — a crash in between
            # leaves an unreferenced sidecar, never a dangling ref
            # per-writer-UNIQUE ref: two lease-less writers racing the same
            # version both stage a sidecar, and a shared name would let the
            # CAS loser clobber the winner's committed file list via the
            # rename publish — the doc's {"ref": ...} pointer is the only
            # binding, so uniqueness makes the loser's sidecar harmless
            # debris (the expire-time sweep collects unreferenced ones)
            ref = f"v{snap.version:012d}-files-{uuid.uuid4().hex[:8]}.json"
            fsutil._atomic_write_json(os.path.join(self.log_dir, ref),
                                      snap.files)
            doc["files"] = {"ref": ref, "n": len(snap.files)}
        # exclusive=True is the version CAS itself: a rename-based publish
        # silently REPLACES an existing v{N}.json, so two lease-less writers
        # racing the same version could both "succeed" with one commit
        # (files, manifests, epoch) vanishing from the chain
        fsutil._atomic_write_json(path, doc, exclusive=True)
        if self._epochs_cache is not None:
            # fold our own commit into the cache incrementally — the hot
            # streaming path never re-reads the snapshot log
            key, eps = self._epochs_cache
            eps = set(eps)
            self._fold_epochs({"epoch": snap.epoch,
                               "manifests": snap.manifests,
                               "epochs": snap.epochs}, eps)
            self._epochs_cache = (key + (os.path.basename(path),), eps)

    # ---------------- read ----------------
    def read(self, spark: SparkSession, buckets: list[int] | None = None,
             snap: Snapshot | None = None, with_internal_cols: bool = False,
             columns: list[str] | None = None) -> DataFrame:
        """Read current state, normalized to the snapshot's logical schema.

        ``columns`` projects the result to that payload subset — and, unlike
        a ``.select`` on the returned frame, prunes the projection INTO the
        parquet scan. Catalyst cannot do this by itself here: the
        merge-on-read fold aggregates a struct of every payload column
        (``max_by``), which blocks column pruning through the fold, so a
        narrow ``.select`` over a wide table still scans every byte
        (verified on the physical plan's ReadSchema). The LWW winner per key
        is determined by the version tuple alone, so folding only
        ``key ∪ columns`` returns bit-identical values for those columns.
        Key columns are always read (the fold groups on them) but only
        ``columns`` come back.

        Files are grouped by their write-time schema_id and each group is
        normalized (alias/rename, missing → null, cast-widen) before a
        unionByName — this is how rename + int→long widen stay metadata-only.

        **Merge-on-read**: when the selection contains delta files (per-commit
        winner sets committed without rewriting the base — the Iceberg-v2
        delete-file analog), the union is LWW-folded per key so the latest
        version wins; ``compact()`` materializes the fold back into base
        files. With base files only, the fold is skipped — reads of a
        compacted table stay a plain scan.

        ``with_internal_cols`` additionally exposes the version tuple and the
        tombstone flag; without it, tombstone rows are filtered out (the
        user-visible table has no deleted keys).
        """
        snap = snap or self.latest()
        files = snap.files
        if buckets is not None:
            bset = set(buckets)
            files = [f for f in files if f["bucket"] in bset]
        fields, out_names = _projected_fields(snap, columns)
        out_cols = out_names + (list(INTERNAL_COLS) if with_internal_cols else [])
        if not files:
            tmap = {f["name"]: f["type"] for f in fields}
            ddl = ", ".join(
                [f'{ident(n)} {sql_type(tmap[n])}' for n in out_names]
                + ([f"{c} {t}" for c, t in INTERNAL_COLS.items()] if with_internal_cols else [])
            )
            return spark.createDataFrame([], schema=ddl)
        out = _scan(spark, self.root, snap, files, fields=fields)
        if any(f.get("kind", "base") == "delta" for f in files):
            from cdc_core_spark.lww import lww_reduce
            payload = [f["name"] for f in fields
                       if f["name"] not in snap.key_cols]
            out = lww_reduce(out, snap.key_cols, payload + ["_deleted"])
        if not with_internal_cols:
            out = out.filter("NOT _deleted")
        return out.selectExpr(*map(ident, out_cols))

    # ---------------- write / commit ----------------
    def commit_merge(self, df: DataFrame, touched_buckets: list[int],
                     manifests, props: dict | None = None,
                     n_buckets: int | None = None,
                     base: Snapshot | None = None) -> Snapshot:
        """Copy-on-write rewrite: stage new BASE files for
        ``touched_buckets`` from ``df`` (must carry ``_bucket``), drop the
        files those buckets held, carry every other file forward by
        reference, publish atomically. Three callers write base files this
        way: the initial load (into an empty table, so it consumes no
        files) and the two maintenance rewrites, ``compact`` and
        ``CdcEngine.expire_tombstones``. Logical changes publish as
        merge-on-read deltas (``commit_delta_grouped``). ``manifests`` may
        be a list, or a zero-arg callable evaluated after the stage write
        and before the publish (same contract as ``commit_delta`` — lets
        callers derive manifest stats from ``df.observe`` metrics of the
        write job instead of paying a separate counting scan).

        A commit that consumes files, or re-buckets, is a state-preserving
        maintenance rewrite: its snapshot carries ``maintenance=True``
        (``read_changes`` skips it) and its files are clustered by the
        table's ``sort_order`` / ``zorder`` prop.

        ``n_buckets`` re-buckets the table: ``df`` must carry ``_bucket``
        computed with the NEW count and ``touched_buckets`` must cover its
        full range — every old file is dropped (old bucket ids are
        meaningless under the new hashing). This is the growth knob for
        10^10-key scale: start at 32 buckets, re-bucket to 1024 when bucket
        file sizes outgrow the target, all in one atomic commit.

        ``base`` pins the commit to an already-loaded snapshot — the one
        the caller computed ``df`` FROM. This closes the read→commit race
        (a concurrent delta landing between a maintenance job's read and
        its publish must not be dropped from the rewritten buckets) and
        arms the optimistic-concurrency rebase, one rule for every caller:
        each file this commit consumed must still be live in the new head,
        and every other file of the head rides forward (the LWW fold is
        commit-order-free, so a fresh delta layers exactly over the new
        base). A re-bucket racing anything, a concurrent props change
        while this commit sets props, or a key or bucket-count change
        raises ``CommitConflictError`` instead of losing data."""
        prev = base if base is not None else self.latest()
        if prev.props.get("sort_order") and prev.props.get("zorder"):
            raise ValueError(
                "table props carry BOTH sort_order and zorder — they are "
                "competing clustering layouts; keep exactly one")
        rebucket = n_buckets is not None and n_buckets != prev.n_buckets
        out_buckets = n_buckets if n_buckets is not None else prev.n_buckets
        if rebucket and set(touched_buckets) != set(range(out_buckets)):
            raise ValueError("re-bucketing must rewrite every new bucket")
        touched = set(touched_buckets)
        # the input set this commit folds/replaces — what a rebase must
        # verify is still live (nobody else rewrote it) and what it
        # removes from the new head's file list
        consumed = {f["path"] for f in prev.files if f["bucket"] in touched}
        maintenance = rebucket or bool(consumed)
        sort_cols = None
        if maintenance:
            # EVERY maintenance rewrite (compact, tombstone expiry) honors
            # the clustering prop, or it would silently un-cluster what
            # compaction paid for; hot-path commits stay sort-free. The
            # prop keeps creation-time names: remap through the alias map
            # so a renamed clustering column can't brick maintenance
            names = set(prev.field_names())
            for prop in ("sort_order", "zorder"):
                cols = [prev.aliases.get(c, c)
                        for c in prev.props.get(prop) or []]
                bad = [c for c in cols if c not in names]
                if bad:
                    raise ValueError(
                        f"{prop} prop names unknown columns {bad!r} — "
                        f"table schema has {sorted(names)}")
                if cols and prop == "sort_order":
                    sort_cols = cols
                elif cols:
                    # the sort key is the ONE interleaved z-value
                    # expression (zorder.py, which validates the column
                    # count) — costs one stats agg job over the rewrite
                    # input, nothing on the hot path
                    from cdc_core_spark.zorder import zorder_column
                    sort_cols = [zorder_column(df, cols)]
        sid = _sid_for(prev, prev.fields)

        stage_abs = os.path.join(self.root, "data",
                                 f"commit-{uuid.uuid4().hex[:12]}")
        new_files: list[dict] = []
        if touched_buckets:
            new_files = self._stage_files(df, stage_abs,
                                          len(touched_buckets), sid, None,
                                          sort_cols=sort_cols, snap=prev)
        manifest_rows = manifests() if callable(manifests) else manifests

        def rebuild(b: Snapshot) -> Snapshot:
            if b is not prev:
                self._rebase_guard(prev, b, [], "merge rebase")
                if rebucket:
                    raise CommitConflictError(
                        "re-bucket rebase: a re-bucket drops every "
                        "pre-existing file, so ANY concurrent commit would "
                        "be silently lost — recompute against fresh state")
                if props is not None and b.props != prev.props:
                    raise CommitConflictError(
                        "merge rebase: table props changed concurrently "
                        "while this commit also sets props")
                gone = consumed - {f["path"] for f in b.files}
                if gone:
                    raise CommitConflictError(
                        f"maintenance rebase: {len(gone)} input "
                        "file(s) this rewrite folded were removed by "
                        "a concurrent rewrite")
            carried = [] if rebucket else [f for f in b.files
                                           if f["path"] not in consumed]
            schemas_b = dict(b.schemas)
            schemas_b.setdefault(sid, prev.fields)
            return Snapshot(version=b.version + 1, epoch=None,
                            n_buckets=out_buckets, key_cols=b.key_cols,
                            fields=b.fields, aliases=b.aliases,
                            schemas=schemas_b, files=carried + new_files,
                            manifests=manifest_rows, parent=b.version,
                            props=props if props is not None else b.props,
                            maintenance=maintenance)

        return self._occ_publish(prev, stage_abs, rebuild)

    def _stage_files(self, df: DataFrame, stage_abs: str,
                     n_partitions: int, sid: str, kind: str | None,
                     sort_cols: list[str] | None = None,
                     snap: "Snapshot | None" = None) -> list[dict]:
        """THE shared stage-write used by every commit flavor (delta,
        merge): write ``df`` as one ``_bucket=<b>`` layer under
        ``stage_abs`` and return one record per staged parquet
        (``{path, bucket, schema_id, bytes[, kind]}``, paths relative to
        the table root). One definition so the staged layout and record
        shape can never drift between the commit paths.

        ``sort_cols`` adds a task-local ``sortWithinPartitions`` between the
        shuffle and the write (Iceberg write ``sort-order`` analog): rows
        land clustered by those columns, so each parquet row group covers a
        narrow key range and the parquet reader's row-group statistics can
        skip non-matching groups for pushed-down key predicates — the file-
        level half of that pruning already comes from bucketing; this is
        the within-file half. No extra shuffle: the sort happens inside the
        write task. ``_bucket`` is prefixed onto the sort so the
        ``partitionBy`` writer's required ordering is already satisfied —
        otherwise FileFormatWriter injects its own (non-stable) sort on the
        partition column alone and destroys the key clustering."""
        staged = df.repartition(max(n_partitions, 1), "_bucket")
        if sort_cols:
            # entries may be names OR computed Column expressions (the
            # zorder path sorts by an interleaved z-value that never
            # materializes as a stored column)
            staged = staged.sortWithinPartitions(
                "_bucket", *[c for c in sort_cols
                             if not isinstance(c, str) or c != "_bucket"])
        # bloom_filters prop rides EVERY commit flavor (delta, merge):
        # equality row-group skipping inside the hot path's unsorted delta
        # files is the whole point. Creation-time names, alias-remapped;
        # columns absent from this frame (e.g. a pre-ADD write-time
        # schema) are simply not built by parquet-mr.
        # `snap` is the caller's already-loaded parent snapshot — never
        # re-read the log (each latest() also resolves the manifest-list
        # sidecar, pure redundant I/O per hot-path commit)
        snap = snap if snap is not None else self.latest()
        bloom = [snap.aliases.get(c, c)
                 for c in snap.props.get("bloom_filters", [])] or None
        (staged.write.partitionBy("_bucket")
         .options(**fsutil.parquet_write_options(
             bloom_cols=bloom,
             bloom_ndv=snap.props.get("bloom_ndv")))
         .mode("overwrite").parquet(stage_abs))
        new_files: list[dict] = []
        for f in glob.glob(os.path.join(stage_abs, "_bucket=*", "*.parquet")):
            # size recorded per file (Iceberg manifests carry
            # file_size_in_bytes): feeds write-amplification metrics in
            # commit manifests and size-aware maintenance
            rec = {"path": os.path.relpath(f, self.root),
                   "bucket": int(os.path.basename(os.path.dirname(f))
                                 .split("=")[1]),
                   "schema_id": sid, "bytes": os.path.getsize(f)}
            if kind is not None:
                rec["kind"] = kind
            new_files.append(rec)
        return new_files

    #: bounded CAS retries before a commit gives up as a conflict — losing
    #: the version race this many times in a row means pathological
    #: contention (many lease-less writers on one table), which should
    #: surface, not spin (Iceberg: commit.retry.num-retries, default 4)
    OCC_MAX_RETRIES = 5

    #: first-retry backoff ceiling in seconds; doubles per attempt with
    #: full jitter, capped at 1 s (Iceberg: commit.retry.min/max-wait-ms).
    #: Every CAS round has a winner, so progress is system-wide either
    #: way — the backoff only de-synchronizes the losers so N writers
    #: don't re-collide in lockstep and burn their whole retry budget
    OCC_RETRY_BACKOFF_S = 0.05

    def _occ_publish(self, prev: Snapshot, stage_abs: str | None,
                     rebuild) -> Snapshot:
        """Optimistic-concurrency publish (the Iceberg commit-retry loop):
        attempt the version CAS at ``base.version + 1``; on losing to a
        concurrent writer, reload the new head and ask ``rebuild(base)``
        for a snapshot REBASED on top of it. ``rebuild`` owns the safety
        rules per commit flavor — it raises ``CommitConflictError`` when
        the interloping commit changed state this commit depends on
        (bucket layout, schema, its input files); then the staged files
        are removed and the error propagates to the caller. ``rebuild``
        must be pure metadata (no Spark jobs): the staged data files are
        written once, only the snapshot document is rebuilt per attempt."""
        base = prev
        try:
            for attempt in range(self.OCC_MAX_RETRIES + 1):
                try:
                    snap = rebuild(base)
                    self._publish(snap)
                    return snap
                except FileExistsError:
                    newest = self.latest()
                    if newest.version <= base.version:
                        # v{base+1}.json exists yet the newest doc is not
                        # newer: an out-of-sequence external write — not
                        # rebasable
                        raise
                    if attempt >= 2:
                        # observability at scale: steady rebases are normal
                        # for one background maintainer, but a writer
                        # repeatedly losing the CAS means real multi-writer
                        # contention the operator should know about before
                        # the retry budget (OCC_MAX_RETRIES) turns it into
                        # CommitConflictError
                        import warnings
                        warnings.warn(
                            f"commit under {self.log_dir} lost the version "
                            f"CAS {attempt + 1} times (now rebasing "
                            f"v{base.version}->v{newest.version}); "
                            "concurrent writers are contending on this "
                            "table", RuntimeWarning, stacklevel=2)
                    base = newest
                    # first retry is free — contention is usually 2 writers
                    if attempt:
                        time.sleep(random.uniform(
                            0, min(self.OCC_RETRY_BACKOFF_S * (1 << attempt),
                                   1.0)))
            raise CommitConflictError(
                f"lost the version CAS {self.OCC_MAX_RETRIES + 1} times in a "
                f"row under {self.log_dir} — giving up; too many concurrent "
                "writers on one table")
        except (CommitConflictError, FileExistsError):
            # both prove our snapshot was NOT published, so the staged
            # files are garbage; any other error may come after the doc
            # landed, where deleting them would corrupt a committed snapshot
            if stage_abs:
                shutil.rmtree(stage_abs, ignore_errors=True)
            raise

    def _rebase_guard(self, prev: Snapshot, b: Snapshot,
                      epochs: list[int], what: str) -> None:
        """Invariants EVERY rebase needs, whatever the commit flavor:
        same bucket count (bucket ids are meaningless across a re-bucket,
        so files staged under the old hashing cannot ride forward), same
        key columns, and none of this commit's epochs already committed by
        the interloper (two lease-less writers applying the same epoch —
        rebasing would double-apply it; the exactly-once manifest check
        happens BEFORE staging, so only a concurrent duplicate can trip
        this)."""
        if b.n_buckets != prev.n_buckets:
            raise CommitConflictError(
                f"{what}: table was re-bucketed concurrently "
                f"({prev.n_buckets} -> {b.n_buckets} buckets)")
        if b.key_cols != prev.key_cols:
            raise CommitConflictError(f"{what}: key columns changed "
                                      "concurrently")
        if epochs:
            dup = set(epochs) & self.committed_epochs()
            if dup:
                raise CommitConflictError(
                    f"{what}: epoch(s) {sorted(dup)} were committed "
                    "concurrently — duplicate writer on one table")

    def commit_delta(self, df: DataFrame, epoch: int | None,
                     manifests, base: Snapshot | None = None) -> Snapshot:
        """Merge-on-read commit of ONE epoch (or of none: ``epoch=None``):
        a group of one through ``commit_delta_grouped``, the single
        delta-staging body. ``df`` holds per-key LWW winners carrying
        ``_bucket`` + internal cols; they stage as one ``_bucket=<b>``
        layer."""
        return self.commit_delta_grouped(
            df, [] if epoch is None else [epoch], manifests, base=base)

    def commit_delta_grouped(self, df: DataFrame, epochs: list[int],
                             manifests,
                             new_fields: list[dict] | None = None,
                             new_aliases: dict | None = None,
                             props: dict | None = None,
                             base: Snapshot | None = None) -> Snapshot:
        """Merge-on-read commit: stage ``df`` (per-key LWW winners carrying
        ``_bucket`` + internal cols) as DELTA files and keep every existing
        file — per-epoch write cost is O(epoch winners), not O(table). The
        read path LWW-folds base+deltas; ``compact()`` re-bases. This is the
        scale-correct CDC sink shape (the reference applies per-row upserts
        to a mutable store — MergeOnRead mirrors that without rewriting the
        table per batch). Every logical keyed write takes this path —
        engine epochs, document-store upserts, rollup refreshes;
        ``commit_merge`` writes base files for the initial load and
        maintenance only).

        GROUP COMMIT: the winners of SEVERAL epochs stage in ONE write job
        as ONE ``_bucket=<b>`` layer and publish as a single atomic
        snapshot, so file count and fold depth grow with commits, not
        epochs. A ``checkpoint_epoch`` column in ``df`` (restricted to
        ``epochs``) is stored as a plain data column: ``key_history`` reads
        each row's epoch from it. Each Spark job
        carries a constant planning/scheduling cost that doesn't
        parallelize; replaying a deep backlog of small epochs
        one-job-per-epoch pays it per epoch (measured ~1.2s/epoch at
        local[4] on the 20M-event fixture — the dominant scaling-efficiency
        loss). Grouping every pending epoch into one job amortizes it, the
        same way the reference consumer acks a whole poll batch at once
        (``receiver.commit()`` per batch, not per message,
        MessageProcessor.java:195-214). A crash before publish leaves every
        epoch of the group uncommitted and the rerun re-applies the group
        idempotently; ``committed_epochs`` reports all epochs via the
        per-epoch manifest rows.

        ``manifests`` may be a list, or a callable evaluated after the stage
        write and before the snapshot publish — called with the staged file
        list (each ``{path, bucket, bytes, ...}``, paths relative to the
        table root) so the caller can record the write volume of the very
        same job.

        ``new_fields`` / ``new_aliases`` / ``props`` publish a schema
        evolution (and the table props naming it) in the SAME snapshot as
        the data: ``df`` is then already projected onto ``new_fields``, its
        files carry that schema's id, and a crash leaves neither the schema
        change nor the data. This is how in-band DDL lands with the epochs
        that carry it.

        Deltas are purely ADDITIVE, so a commit that loses the version CAS
        to a concurrent writer rebases automatically (new head's files +
        these delta files) — ingest never fails because maintenance or
        another entity's writer got there first. The only conflicts are
        structural: a concurrent re-bucket (these files' bucket ids are
        stale), a duplicate writer committing one of the same epochs, and,
        when this commit also changes the schema or props, a concurrent
        change to them (``commit_metadata``'s rule)."""
        prev = base if base is not None else self.latest()
        fields = new_fields if new_fields is not None else prev.fields
        sid = _sid_for(prev, fields)
        stage_abs = os.path.join(self.root, "data",
                                 f"delta-{uuid.uuid4().hex[:12]}")
        new_files = self._stage_files(df, stage_abs,
                                      max(prev.n_buckets // 2, 1), sid,
                                      "delta", snap=prev)
        manifest_rows = manifests(new_files) if callable(manifests) else manifests

        def rebuild(b: Snapshot) -> Snapshot:
            if b is not prev:
                self._rebase_guard(prev, b, list(epochs), "delta rebase")
                if new_fields is not None and (
                        b.fields != prev.fields or b.aliases != prev.aliases
                        or b.schemas.get(sid, fields) != fields):
                    raise CommitConflictError(
                        "delta rebase: schema changed concurrently while "
                        "this commit also changes it")
                if props is not None and b.props != prev.props:
                    raise CommitConflictError(
                        "delta rebase: table props changed concurrently "
                        "while this commit also sets props")
            schemas_b = dict(b.schemas)
            schemas_b.setdefault(sid, fields)
            return Snapshot(version=b.version + 1,
                            epoch=epochs[-1] if epochs else None,
                            n_buckets=b.n_buckets, key_cols=b.key_cols,
                            fields=fields if new_fields is not None
                            else b.fields,
                            aliases=new_aliases if new_aliases is not None
                            else b.aliases,
                            schemas=schemas_b, files=b.files + new_files,
                            manifests=manifest_rows, parent=b.version,
                            props=props if props is not None else b.props)

        return self._occ_publish(prev, stage_abs, rebuild)

    def commit_metadata(self, new_fields: list[dict], new_aliases: dict,
                        epoch: int | None = None,
                        props: dict | None = None,
                        base: Snapshot | None = None) -> Snapshot:
        """Metadata-only evolution commit (add/rename/widen — no data rewrite),
        the Iceberg-ALTER-TABLE analog of EntitySchema.apply.

        Rebases over concurrent DATA commits (the evolution was computed
        against a schema the interloper didn't change, so it still
        applies, and the interloper's files ride forward); two concurrent
        SCHEMA or prop changes conflict."""
        prev = base if base is not None else self.latest()
        our_epochs = [epoch] if epoch is not None else []

        def rebuild(b: Snapshot) -> Snapshot:
            if b is not prev:
                self._rebase_guard(prev, b, our_epochs, "metadata rebase")
                if b.fields != prev.fields or b.aliases != prev.aliases:
                    raise CommitConflictError(
                        "metadata rebase: schema changed concurrently — "
                        "recompute the evolution against the new schema")
                if props is not None and b.props != prev.props:
                    raise CommitConflictError(
                        "metadata rebase: table props changed concurrently "
                        "while this commit also sets props")
            return Snapshot(version=b.version + 1, epoch=epoch,
                            n_buckets=b.n_buckets, key_cols=b.key_cols,
                            fields=new_fields, aliases=new_aliases,
                            schemas=dict(b.schemas), files=b.files,
                            manifests=[], parent=b.version,
                            props=props if props is not None else b.props)

        return self._occ_publish(prev, None, rebuild)

    # ---------------- lineage ----------------
    def _expired_base_doc(self) -> dict:
        """Ledger of what ``expire_snapshots`` folded away: committed epochs
        and lineage manifests from expired snapshots survive retention here,
        so exactly-once resume and metrics stay correct after cleanup.
        Always the MAIN ref's ledger: expiration runs on main only, and a
        branch's history below its fork IS main's history."""
        p = os.path.join(self.main_log_dir, "expired-base.json")
        if not os.path.exists(p):
            return {"epochs": [], "manifests": [], "clock_floor_ms": None}
        with open(p) as f:
            d = json.load(f)
        d.setdefault("clock_floor_ms", None)
        return d

    def all_manifests(self) -> list[dict]:
        rows = list(self._expired_base_doc()["manifests"])
        for p in self._snapshot_paths():
            with open(p) as f:
                d = json.load(f)
            rows.extend(d.get("manifests") or [])
        return rows

    def _load_snapshot_doc(self, path: str) -> dict:
        """Single choke point for snapshot-JSON reads (tests count calls
        through it to assert the committed-epochs cache really caches).
        A torn/empty doc gets a remediation message instead of a bare
        JSONDecodeError: every snapshot doc is published complete and
        fsynced through ``fsutil.publish_local`` (exclusive link-CAS), so
        this indicates an EXTERNAL writer or filesystem fault, and the fix
        (restore the doc or expire past it) is not guessable from the
        stack trace alone."""
        with open(path) as f:
            try:
                return json.load(f)
            except json.JSONDecodeError as e:
                raise RuntimeError(
                    f"snapshot doc {path} is torn or empty ({e}). The "
                    "snapshot log is corrupt at this version — restore the "
                    "doc from a backup, or if the version is disposable "
                    "debris from a non-fsyncing writer, delete the doc AND "
                    "every later v*.json, then rerun from the previous "
                    "checkpoint (exactly-once makes the rerun safe).") from e

    @staticmethod
    def _fold_epochs(doc: dict, eps: set[int]) -> None:
        if doc.get("epoch") is not None:
            eps.add(doc["epoch"])
        # a group commit covers several epochs in one snapshot — every
        # epoch with a manifest row in the published snapshot is committed
        for m in doc.get("manifests") or []:
            if m.get("checkpoint_epoch", -1) >= 0:
                eps.add(m["checkpoint_epoch"])
        # a squash publish carries the folded branch chain's epoch ids
        for e in doc.get("epochs") or []:
            eps.add(e)

    def committed_epochs(self) -> set[int]:
        """Committed-epoch set for the exactly-once skip, CACHED: a long
        streaming run calls this once per microbatch, and re-reading every
        snapshot JSON is O(snapshots) driver work per batch — a 10^5-epoch
        backlog would spend more time re-parsing the log than merging. The
        cache is keyed on the snapshot file list, so an EXTERNAL writer
        publishing a snapshot (new file appears) invalidates it, and our own
        ``_publish`` folds the new snapshot in incrementally (zero re-reads
        on the hot path)."""
        key = tuple(os.path.basename(p) for p in self._snapshot_paths())
        if self._epochs_cache is not None and self._epochs_cache[0] == key:
            return set(self._epochs_cache[1])
        eps: set[int] = set(self._expired_base_doc()["epochs"])
        for p in self._snapshot_paths():
            self._fold_epochs(self._load_snapshot_doc(p), eps)
        self._epochs_cache = (key, eps)
        return set(eps)

    # ---------------- refs: branches + tags ----------------
    # The Iceberg branch/tag surface (Iceberg refs; spark.wap.branch flow),
    # re-expressed over the snapshot log. A BRANCH is an isolated commit
    # chain under _log/refs/<name>/ whose versions CONTINUE main's numbering
    # from an immutable fork point — so publishing it is fast_forward's pure
    # metadata copy, never a data rewrite. A TAG pins one version against
    # retention. The reference has no refs concept (its stores are mutable);
    # the CDC use is WRITE-AUDIT-PUBLISH: stage epochs on a branch, validate
    # the staged state, publish atomically by fast-forwarding main — the
    # quality gate the reference runs row-by-row (validation rules →
    # quarantine, mapping/.../rules/RulesExecutor.java) applied instead to a
    # whole staged table state before downstream readers can see it.

    def create_branch(self, name: str) -> "SnapshotTable":
        """Fork a branch at the current main head; returns a handle bound to
        it. All commit flavors (delta / merge / metadata / compact) work on
        the branch handle unchanged — same OCC rules, CASed within the
        branch's own log."""
        self._require_main("create_branch")
        _validate_ref_name(name)
        d = os.path.join(self.main_log_dir, "refs", name)
        if os.path.isdir(d):
            raise FileExistsError(f"branch {name!r} already exists")
        head = self.latest_meta().version
        os.makedirs(d, exist_ok=True)
        # exclusive: two drivers racing create_branch must not silently
        # share a branch forked at different heads
        fsutil._atomic_write_json(os.path.join(d, "base.json"),
                                  {"fork_version": head}, exclusive=True)
        return SnapshotTable(self.root, ref=name)

    def branch(self, name: str) -> "SnapshotTable":
        """Handle to an existing branch (FileNotFoundError if absent)."""
        self._require_main("branch")
        return SnapshotTable(self.root, ref=name)

    def branches(self) -> dict[str, int]:
        """Live branches: name -> fork_version."""
        out: dict[str, int] = {}
        for base in glob.glob(os.path.join(self.main_log_dir, "refs", "*",
                                           "base.json")):
            with open(base) as f:
                out[os.path.basename(os.path.dirname(base))] = \
                    int(json.load(f)["fork_version"])
        return dict(sorted(out.items()))

    def drop_branch(self, name: str) -> None:
        """Discard a branch: metadata-only removal of its log. Data files
        referenced only by the dropped branch become unreferenced debris —
        ``remove_orphan_files`` collects them after its grace window (the
        Iceberg pattern: dropping a ref never deletes data inline)."""
        self._require_main("drop_branch")
        _validate_ref_name(name)
        d = os.path.join(self.main_log_dir, "refs", name)
        if not os.path.isdir(d):
            raise FileNotFoundError(f"branch {name!r} does not exist")
        shutil.rmtree(d)

    def fast_forward(self, name: str) -> Snapshot:
        """Publish branch ``name`` onto main by copying its commit chain
        (Iceberg ``fast_forward``): requires main's head to be the branch's
        fork point (or already a prefix of the branch — reruns after a
        crash mid-publish resume idempotently). Each branch commit doc (+
        its manifest-list sidecar) is copied into the main log oldest-first
        with the same exclusive version CAS every commit uses, so a
        concurrent main writer makes this raise ``CommitConflictError``
        instead of splicing histories — divergence is never silently merged
        (rebase by replaying the branch epochs on a fresh fork instead;
        exactly-once manifests make the replay safe). Crash-safe: any
        prefix of the copy is itself a valid main chain, and the sidecar is
        copied before the doc that references it.

        Visibility: atomic PER COMMIT, not per chain — while a multi-commit
        publish is in flight, main readers can observe intermediate
        prefixes (each is exactly the state a plain non-staged replay would
        have exposed at that epoch). When the publish must be
        all-or-nothing — the WAP contract that no un-audited intermediate
        is ever visible — use ``publish_branch``, which folds the chain
        into ONE commit behind a single CAS. Use fast_forward when main
        should preserve the branch's per-commit history (per-epoch time
        travel and changelog granularity)."""
        self._require_main("fast_forward")
        br = self.branch(name)
        fork = br._fork_version()
        bpaths = sorted(self._dir_doc_paths(br.log_dir),
                        key=os.path.basename)
        head = self.latest_meta().version
        if not bpaths:
            if head != fork:
                raise CommitConflictError(
                    f"fast_forward({name!r}): branch has no commits and "
                    f"main advanced past its fork (v{fork} -> v{head})")
            return self.latest()
        if head > self._doc_version(bpaths[-1]):
            raise CommitConflictError(
                f"fast_forward({name!r}): main head v{head} is past the "
                f"branch head v{self._doc_version(bpaths[-1])} — histories "
                "diverged")
        for p in bpaths:
            v = self._doc_version(p)
            doc = self._load_snapshot_doc(p)
            files = doc["files"]
            if isinstance(files, dict):
                src = os.path.join(br.log_dir, files["ref"])
                dst = os.path.join(self.log_dir, files["ref"])
                if not os.path.exists(dst):   # ref names are writer-unique
                    with open(src) as f:
                        fsutil._atomic_write_json(dst, json.load(f))
            target = os.path.join(self.log_dir, f"v{v:012d}.json")
            try:
                fsutil._atomic_write_json(target, doc, exclusive=True)
            except FileExistsError:
                if self._load_snapshot_doc(target) == doc:
                    continue   # already published (rerun / crash resume)
                raise CommitConflictError(
                    f"fast_forward({name!r}): main already holds a "
                    f"DIFFERENT v{v} — histories diverged; replay the "
                    "branch epochs on a fresh fork") from None
        self._epochs_cache = None
        return self.latest()

    def publish_branch(self, name: str) -> Snapshot:
        """Atomically publish branch ``name`` as ONE squash commit on main
        (the WAP publish): the new main snapshot carries the branch HEAD's
        files/schema/layout plus the concatenated manifests and epoch ids
        of every branch commit, behind a single version CAS at
        ``fork + 1`` — main readers see the entire audited state at once or
        not at all, never an intermediate prefix. Idempotent: a rerun
        (crash between publish and branch drop) recognizes the identical
        already-published squash and no-ops; any OTHER commit at that
        version raises ``CommitConflictError`` (divergence is never
        spliced). Trade-off vs ``fast_forward``: main's history records one
        commit for the whole publish, so per-epoch time travel of the
        staged interval lives only in manifests, and ``read_changes``
        consumers see publish-granularity deltas — with the corollary that
        a branch containing a REWRITE (compaction/CoW) squashes into a
        file-removing logical commit that ``read_changes`` will refuse to
        cross (keep WAP branches MOR-pure for CDC-out sources, or let
        changelog consumers re-baseline)."""
        self._require_main("publish_branch")
        br = self.branch(name)
        fork = br._fork_version()
        bpaths = sorted(self._dir_doc_paths(br.log_dir), key=os.path.basename)
        if not bpaths:
            if self.latest_meta().version != fork:
                raise CommitConflictError(
                    f"publish_branch({name!r}): branch has no commits and "
                    "main advanced past its fork")
            return self.latest()
        bhead = br.latest()
        manifests: list[dict] = []
        epochs: set[int] = set()
        for p in bpaths:
            doc = self._load_snapshot_doc(p)
            self._fold_epochs(doc, epochs)
            manifests.extend(doc.get("manifests") or [])
        squash = Snapshot(version=fork + 1, epoch=None,
                          n_buckets=bhead.n_buckets, key_cols=bhead.key_cols,
                          fields=bhead.fields, aliases=bhead.aliases,
                          schemas=bhead.schemas, files=bhead.files,
                          manifests=manifests, parent=fork,
                          props=bhead.props,
                          maintenance=False, epochs=sorted(epochs))
        try:
            self._publish(squash)
        except FileExistsError:
            have = self._load_snapshot_doc(self._doc_path(fork + 1))
            want = dict(squash.__dict__)
            if len(squash.files) > self.inline_files_max:
                # the published doc's file list was split to a sidecar;
                # compare through resolution
                have["files"], _ = self._doc_files(have, self.log_dir)
            # the publish instant is stamped at write time — an identical
            # rerun can never reproduce it, so it is not part of identity
            have.pop("committed_at_ms", None)
            want.pop("committed_at_ms", None)
            # a doc published by a pre-rollback_of build lacks the key
            have.setdefault("rollback_of", None)
            if have == want:
                # already published by an earlier (crashed) run — no-op
                # even if main has since moved on
                return self.latest()
            raise CommitConflictError(
                f"publish_branch({name!r}): main already holds a different "
                f"v{fork + 1} (or advanced past it) — histories diverged; "
                "replay the branch epochs on a fresh fork") from None
        return self.latest()

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin ``version`` (default: head) against ``expire_snapshots`` and
        give it a name for time travel. One file per tag under _log/tags/,
        exclusive create — re-tagging a live name raises."""
        self._require_main("create_tag")
        _validate_ref_name(name)
        v = self.latest_meta().version if version is None else int(version)
        if not os.path.exists(self._doc_path(v)):
            raise FileNotFoundError(
                f"cannot tag v{v}: snapshot not found (never published, or "
                "expired)")
        d = os.path.join(self.main_log_dir, "tags")
        os.makedirs(d, exist_ok=True)
        fsutil._atomic_write_json(os.path.join(d, f"{name}.json"),
                                  {"version": v}, exclusive=True)
        return v

    def tags(self) -> dict[str, int]:
        """Live tags: name -> version."""
        out: dict[str, int] = {}
        for p in glob.glob(os.path.join(self.main_log_dir, "tags", "*.json")):
            with open(p) as f:
                out[os.path.basename(p)[:-5]] = int(json.load(f)["version"])
        return dict(sorted(out.items()))

    def drop_tag(self, name: str) -> None:
        self._require_main("drop_tag")
        _validate_ref_name(name)   # '../x' would os.remove outside tags/
        p = os.path.join(self.main_log_dir, "tags", f"{name}.json")
        if not os.path.exists(p):
            raise FileNotFoundError(f"tag {name!r} does not exist")
        os.remove(p)

    def ref_snapshot(self, name: str) -> Snapshot:
        """Resolve a ref by name: a tag yields its pinned version's
        snapshot, a branch yields the branch head (``VERSION AS OF``-style
        named reads)."""
        t = self.tags()
        if name in t:
            return self.snapshot(t[name])
        return self.branch(name).latest()

    def rollback(self, version: int) -> Snapshot:
        """Iceberg ``rollback_to_snapshot``: append a NEW head commit whose
        DATA state (file set + bucket layout) is exactly that of retained
        snapshot ``version`` — the undo for a bad epoch/publish. History
        stays append-only and monotonic, so time travel, tags, changelog
        cursors and concurrent readers never observe a version number
        moving backwards; ``snapshot_as_of`` an instant before the rollback
        still yields the undone state, and the rolled-PAST snapshots remain
        readable until retention expires them.

        Iceberg rules followed deliberately:

        * **schema does not revert** — fields/aliases/schemas stay the
          CURRENT ones (schema is table-level metadata, not snapshot
          state); the target's files read through the normal
          evolution path (columns added since the target come back null,
          renames/widens resolve via the cumulative alias/schema maps).
          Layout (``n_buckets``) DOES revert with the files it bucketed.
        * **the exactly-once ledger is untouched** — epochs applied after
          the target stay committed, so a resumed replay of the same event
          log skips them and the state STAYS rolled back; to re-apply
          repaired events, submit them as a NEW epoch (the
          ``reprocess_errors`` path), never by replaying old epoch ids.
        * **no auto-rebase** — a concurrent commit landing between the head
          read and the publish raises ``CommitConflictError`` instead of
          retrying on the new head: rebasing would silently undo a commit
          the caller never saw. Re-read state and decide again.

        The commit is metadata-only (no data I/O), ``maintenance=False``:
        it CHANGES logical state, so ``read_changes`` refuses to cross it
        (a rollback is not incrementally readable — downstream consumers
        must re-baseline). Reference analog: transaction rollback /
        replayable-offset reset in the processing loop
        (core/src/main/java/io/zyient/base/core/processing/Processor.java),
        lifted from per-batch to whole-table state."""
        head = self.latest_meta()
        if head.version == version:
            return self.latest()                       # already there
        if version > head.version:
            raise ValueError(
                f"rollback: v{version} is ahead of head v{head.version}")
        target = self.snapshot(version)
        snap = Snapshot(version=head.version + 1, epoch=None,
                        n_buckets=target.n_buckets, key_cols=head.key_cols,
                        fields=head.fields, aliases=head.aliases,
                        schemas={**target.schemas, **head.schemas},
                        files=target.files, manifests=[],
                        parent=head.version, props=head.props,
                        maintenance=False, rollback_of=version)
        try:
            self._publish(snap)
        except FileExistsError:
            raise CommitConflictError(
                f"rollback to v{version}: a concurrent commit took "
                f"v{head.version + 1} — state moved since the head was "
                "read; re-read and decide again (rollback never "
                "auto-rebases over a commit the caller has not seen)"
            ) from None
        return self.latest()

    def cherry_pick(self, version: int,
                    from_branch: str | None = None) -> Snapshot:
        """Iceberg ``cherrypick_snapshot``: apply ONE commit's file delta
        onto the CURRENT head as a new commit. This is the WAP publish path
        once main has MOVED past the branch fork — ``fast_forward`` and
        ``publish_branch`` both require main at the fork point, so a
        concurrent writer landing during the audit would force a full
        re-stage; cherry-pick instead lifts the audited epoch onto the new
        head, metadata-only, because MOR deltas are order-independent under
        the LWW fold (the same property that lets ``commit_delta`` rebase).

        Only pure MOR APPENDS are pickable (Iceberg limits cherry-pick to
        appends / dynamic overwrites): the source commit must add
        delta-kind files and remove none relative to its parent. Rewrites
        (compaction / CoW merge), ``rollback()`` commits, and base-file
        loads all raise — re-applying those onto a different head would
        change semantics (a base file added to an already-based table
        bypasses the fold entirely when no deltas remain).

        Exactly-once: the picked commit carries the source's epoch ids and
        manifests into this ref's ledger. An epoch already on the ledger
        raises ``CommitConflictError`` (Iceberg's duplicate-WAP-commit
        rule) — including an epoch a ``rollback()`` undid, because the
        ledger is append-only by design; redo repaired data as a NEW epoch
        (the ``reprocess_errors`` path), never by re-picking old ids.

        Cross-ref rules: data files are shared under the table root, so
        picking FROM a branch copies no data; ``from_branch`` resolution
        requires a main handle (branches have no sub-branches), while
        picking from this ref's own history works on any handle. Conflicts:
        a concurrent commit rebases automatically (additive), but a
        concurrent re-bucket / key change / duplicate epoch / already-live
        source file raises."""
        src_tab = self.branch(from_branch) if from_branch is not None else self
        src = src_tab.snapshot(version)
        if src.rollback_of is not None:
            raise ValueError(
                f"cherry_pick: v{version} is a rollback commit — its delta "
                "is the undo of earlier commits, not an append; roll this "
                "ref back directly instead")
        src_parent = None
        if src.parent is not None:
            try:
                src_parent = src_tab.snapshot(src.parent)
            except FileNotFoundError:
                raise ValueError(
                    f"cherry_pick: v{version}'s parent v{src.parent} was "
                    "expired by retention, so the commit's file delta "
                    "(added-vs-parent) is no longer computable — only "
                    "commits whose parent snapshot is retained can be "
                    "picked") from None
        if src_parent is not None and (src.fields != src_parent.fields
                                       or src.aliases != src_parent.aliases
                                       or src.props != src_parent.props):
            # Iceberg's cherrypick_snapshot rejects non-append operations;
            # silently keeping the head's metadata would publish the commit's
            # epoch ids to the exactly-once ledger while DROPPING its DDL —
            # a resumed replay then skips the epoch and the schema change is
            # lost permanently
            raise ValueError(
                f"cherry_pick: v{version} changes table metadata "
                "(schema / aliases / props) — only pure data appends are "
                "pickable; re-apply the DDL on this ref via commit_metadata, "
                "then pick the data commits")
        parent_paths = {f["path"] for f in
                        (src_parent.files if src_parent is not None else [])}
        removed = parent_paths - {f["path"] for f in src.files}
        if removed:
            raise ValueError(
                f"cherry_pick: v{version} removes {len(removed)} file(s) — "
                "only pure appends (MOR delta commits) can be cherry-picked; "
                "rewrites must be recomputed against the current head")
        added = [f for f in src.files if f["path"] not in parent_paths]
        non_delta = [f["path"] for f in added
                     if f.get("kind", "base") != "delta"]
        if non_delta:
            raise ValueError(
                f"cherry_pick: v{version} adds {len(non_delta)} "
                "non-delta file(s) (base load) — base files bypass the LWW "
                "fold on a compacted table; only MOR delta appends pick "
                "safely onto an arbitrary head")
        eps: set[int] = set()
        self._fold_epochs({"epoch": src.epoch, "manifests": src.manifests,
                           "epochs": src.epochs}, eps)
        if not added and not eps:
            raise ValueError(
                f"cherry_pick: v{version} adds no files and carries no "
                "epochs — nothing to apply")
        missing = [f["path"] for f in added
                   if not os.path.exists(os.path.join(self.root, f["path"]))]
        if missing:
            raise FileNotFoundError(
                f"cherry_pick: {len(missing)} source data file(s) no longer "
                f"exist (expired / orphan-collected), e.g. {missing[0]!r}")
        prev = self.latest()
        if src.n_buckets != prev.n_buckets:
            raise CommitConflictError(
                f"cherry_pick: v{version} was written under "
                f"{src.n_buckets} buckets but the head has "
                f"{prev.n_buckets} — bucket ids do not transfer across a "
                "re-bucket; replay the epoch instead")
        if src.key_cols != prev.key_cols:
            raise CommitConflictError(
                "cherry_pick: key columns changed since the source commit")

        def rebuild(b: Snapshot) -> Snapshot:
            if b is not prev:
                # epochs=[] — the dup check below runs on EVERY attempt
                # (first included) with a cherry-pick-specific message
                self._rebase_guard(prev, b, [], "cherry-pick rebase")
            live = {f["path"] for f in b.files}
            if live & {f["path"] for f in added}:
                raise CommitConflictError(
                    f"cherry_pick: file(s) of v{version} are already live "
                    "on this ref — the commit was already picked or "
                    "published")
            dup = eps & self.committed_epochs()
            if dup:
                raise CommitConflictError(
                    f"cherry_pick: epoch(s) {sorted(dup)} are already on "
                    "this ref's exactly-once ledger (committed earlier, or "
                    "undone by a rollback — the ledger is append-only); "
                    "submit repaired data as a NEW epoch instead")
            schemas_b = dict(b.schemas)
            for f in added:
                schemas_b.setdefault(f["schema_id"], src.schemas[f["schema_id"]])
            return Snapshot(version=b.version + 1, epoch=src.epoch,
                            n_buckets=b.n_buckets, key_cols=b.key_cols,
                            fields=b.fields, aliases=b.aliases,
                            schemas=schemas_b, files=b.files + added,
                            manifests=list(src.manifests or []),
                            parent=b.version, props=b.props,
                            epochs=src.epochs)

        return self._occ_publish(prev, None, rebuild)

    # ---------------- retention / maintenance ----------------
    def _doc_files(self, doc: dict,
                   doc_dir: str | None = None) -> tuple[list[dict], str | None]:
        """File list of a snapshot doc (resolving a manifest-list sidecar),
        plus the sidecar's relative name if one exists. ``doc_dir`` is the
        directory the doc was read from (sidecars live next to their doc);
        defaults to this handle's log_dir."""
        files = doc["files"]
        if isinstance(files, dict):
            ref = files["ref"]
            with open(os.path.join(doc_dir or self.log_dir, ref)) as f:
                return json.load(f), ref
        return files, None

    def expire_snapshots(self, keep_last: int | None = None,
                         older_than_ms: int | None = None) -> dict:
        """Retention (the Iceberg ``expireSnapshots`` analog): drop expired
        snapshot docs and physically delete data files referenced ONLY by
        them. ``keep_last=n`` retains the newest n docs
        (``retainLast(n)``); ``older_than_ms=ts`` expires only docs whose
        publish instant (running-max clamped, same rule as
        ``snapshot_as_of``) is strictly before ``ts``
        (``expireOlderThan(ts)``) — given both, a doc must fail BOTH
        retention rules to be expired, exactly Iceberg's conjunction; with
        ``older_than_ms`` alone the head is still always retained
        (``keep_last`` defaults to 1). Docs from pre-timestamp builds are
        never expired BY AGE (their instant is unknowable) — use
        ``keep_last`` to reclaim those. Time-travel to expired versions
        stops working (``snapshot()`` raises); everything the engine needs
        beyond the retained window — committed epochs for the exactly-once
        skip, lineage manifests for metrics — is folded into
        ``_log/expired-base.json`` FIRST, so a crash mid-expire is safe to
        rerun (union-idempotent) and never loses the ledger.

        Caller must hold the writer lease (``coordination.ProcessLock``) —
        concurrent expire + commit can race on the live-file computation."""
        self._require_main("expire_snapshots")
        if keep_last is None and older_than_ms is None:
            raise ValueError(
                "expire_snapshots needs keep_last and/or older_than_ms")
        if keep_last is not None and keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        if keep_last is None:
            keep_last = 1   # never expire the head by age alone
        walk = self._walk_instants()
        paths = [w[0] for w in walk]
        # sweep sidecars orphaned by a previous run's crash between its
        # doc-delete and sidecar-delete loops — BEFORE the no-work early
        # return, because exactly that rerun usually has nothing left to
        # expire (the crashed run already deleted the docs)
        # a sidecar is live iff some live doc REFERENCES it (refs are
        # per-writer unique, so a CAS loser's sidecar and a crashed run's
        # leftovers are both collected here)
        live_refs = set()
        # one (raw_ts, eff) pair per doc path — raw None marks a legacy doc
        info: dict[str, tuple[int | None, int | None]] = {}
        for p, doc, ts, eff in walk:
            _, ref = self._doc_files(doc)
            if ref:
                live_refs.add(ref)
            info[p] = (ts, eff)
        for abs_sc in glob.glob(os.path.join(self.log_dir, "v*-files*.json")):
            if os.path.basename(abs_sc) not in live_refs:
                os.remove(abs_sc)
        # refs protect snapshots from expiration (the Iceberg rule): a
        # TAGGED version's doc is pinned, and every doc at-or-after the
        # OLDEST live branch fork is pinned — a branch reads main's docs up
        # to its fork, and files its staged commits carry forward by
        # reference are live exactly because the fork doc still references
        # them. Protected docs simply stay retained (the live-file union
        # below then keeps their data); expiration of the unprotected
        # prefix remains union-idempotent across reruns.
        protected = set(self.tags().values())
        forks = list(self.branches().values())
        min_fork = min(forks) if forks else None
        cand = paths[:-keep_last]
        if older_than_ms is not None:
            # legacy docs (raw stamp None) are never expired BY AGE — their
            # instant is unknowable, even though as-of reads clamp them
            cand = [p for p in cand
                    if info[p][0] is not None and info[p][1] < older_than_ms]
        expired = [p for p in cand
                   if self._doc_version(p) not in protected
                   and (min_fork is None or self._doc_version(p) < min_fork)]
        ex = set(expired)
        retained = [p for p in paths if p not in ex]
        if not expired:
            return {"snapshots_removed": 0, "files_removed": 0}
        live: set[str] = set()
        for p in retained:
            files, _ = self._doc_files(self._load_snapshot_doc(p))
            live.update(f["path"] for f in files)
        base = self._expired_base_doc()
        eps = set(base["epochs"])
        manifests = list(base["manifests"])
        # fold manifests under their natural key so a crash-rerun (ledger
        # renamed, snapshot docs still present) is union-idempotent for the
        # MANIFEST rows too, not just the epoch set — exactly-once writes
        # one manifest per (epoch, partition), so the key is unique
        seen = {(m["checkpoint_epoch"], m["partition_id"]) for m in manifests}
        dead: set[str] = set()
        sidecars: list[str] = []
        for p in expired:
            doc = self._load_snapshot_doc(p)
            self._fold_epochs(doc, eps)
            for m in doc.get("manifests") or []:
                k = (m["checkpoint_epoch"], m["partition_id"])
                if k not in seen:
                    seen.add(k)
                    manifests.append(m)
            files, ref = self._doc_files(doc)
            dead.update(f["path"] for f in files if f["path"] not in live)
            if ref:
                sidecars.append(ref)
        # 1) persist the ledger, 2) delete data files, 3) delete each
        # snapshot DOC then its manifest-list sidecar — doc strictly before
        # sidecar, because the doc holds the {"ref": ...} pointer: a crash
        # in between leaves an unreferenced sidecar (harmless debris the
        # sweep below collects on rerun), never a live doc whose sidecar is
        # gone (which would wedge every metadata walk with FileNotFoundError)
        # pin every RETAINED doc's effective instant into the ledger BEFORE
        # deleting anything: the next clamp walk reads these back verbatim,
        # so expiring the doc that anchored the running max cannot rewind —
        # and retaining a tagged doc amid newer expired ones cannot inflate —
        # any survivor's instant. The map is recomputed whole each expiry
        # (the walk already honors the previous pins, so values are stable
        # and crash-reruns — including reruns with laxer retention — are
        # idempotent); clock_floor_ms is still max-folded for ledger readers
        # from pre-override builds.
        floor = base["clock_floor_ms"]
        for p in expired:
            e = info[p][1]
            if e is not None and (floor is None or e > floor):
                floor = e
        overrides = {str(self._doc_version(p)): info[p][1]
                     for p in retained if info[p][1] is not None}
        fsutil._atomic_write_json(
            os.path.join(self.log_dir, "expired-base.json"),
            {"epochs": sorted(eps), "manifests": manifests,
             "clock_floor_ms": floor, "eff_overrides": overrides})
        for rel in dead:
            try:
                os.remove(os.path.join(self.root, rel))
            except FileNotFoundError:
                pass
        for p in expired:
            os.remove(p)
        for rel in sidecars:
            try:
                os.remove(os.path.join(self.log_dir, rel))
            except FileNotFoundError:
                pass
        # (a crash between the doc loop and the sidecar loop leaves orphan
        # sidecars; the entry sweep above collects them on the next call)
        self._epochs_cache = None
        return {"snapshots_removed": len(expired), "files_removed": len(dead)}

    def remove_orphan_files(self, grace_s: float = 3600.0,
                            dry_run: bool = False) -> list[str]:
        """Delete data files no snapshot references (the Iceberg
        ``removeOrphanFiles`` analog) — crash debris from commits that
        staged files but never published. ``grace_s`` is the safety window
        (Iceberg's ``olderThan``): files younger than it are kept because a
        LIVE writer may be mid-stage, its snapshot not yet published. Run
        with the writer lease held, or with ``grace_s`` comfortably above
        the longest stage-to-publish latency."""
        import time
        self._require_main("remove_orphan_files")
        referenced: set[str] = set()
        # every ref keeps its files live: an unpublished WAP branch's staged
        # deltas are referenced ONLY by branch docs, and sweeping them would
        # corrupt the branch before its audit ever ran
        doc_paths = list(self._snapshot_paths())
        for name in self.branches():
            doc_paths.extend(self._dir_doc_paths(
                os.path.join(self.main_log_dir, "refs", name)))
        for p in doc_paths:
            files, _ = self._doc_files(self._load_snapshot_doc(p),
                                       os.path.dirname(p))
            referenced.update(os.path.normpath(f["path"]) for f in files)
        cutoff = time.time() - grace_s
        removed: list[str] = []
        for abs_p in glob.glob(os.path.join(self.data_dir, "**", "*"),
                               recursive=True):
            # _-/. - prefixed files are Hadoop-convention hidden metadata
            # (_SUCCESS markers) — never data, never referenced; leave them
            if not os.path.isfile(abs_p) or os.path.basename(abs_p)[0] in "_.":
                continue
            rel = os.path.normpath(os.path.relpath(abs_p, self.root))
            if rel in referenced or os.path.getmtime(abs_p) > cutoff:
                continue
            removed.append(rel)
            if not dry_run:
                os.remove(abs_p)
        if not dry_run:   # sweep now-empty staging directories bottom-up
            for d, _subdirs, _files in os.walk(self.data_dir, topdown=False):
                if d == self.data_dir:
                    continue
                # live view, not the walk's snapshot: children removed
                # earlier in this same bottom-up pass must count as gone
                entries = list(os.scandir(d))
                only_hidden = entries and all(
                    e.is_file() and e.name[0] in "_." for e in entries)
                if only_hidden and all(e.stat().st_mtime <= cutoff
                                       for e in entries):
                    # a crashed commit's staging dir retains its _SUCCESS
                    # marker forever (hidden files are skipped above) —
                    # once a dir holds ONLY hidden metadata older than the
                    # grace window, the markers are debris too: remove them
                    # so the rmdir can land instead of accumulating
                    # crash-debris directories without bound
                    for e in entries:
                        try:
                            os.remove(e.path)
                        except OSError:
                            pass
                    entries = []
                if not entries:
                    try:
                        os.rmdir(d)
                    except OSError:
                        pass
        return sorted(removed)

    def compact(self, spark: SparkSession, n_buckets: int | None = None,
                min_delta_files: int | None = None,
                base: Snapshot | None = None) -> None:
        """Re-base MOR delta layers into one base file set per bucket (the
        Iceberg ``rewriteDataFiles`` analog) — the table's one compaction
        entry point; no write path compacts on its own. Three forms: a full
        rewrite (default); ``min_delta_files=K``, INCREMENTAL: buckets are
        selected by delta-layer file count from snapshot metadata alone (no
        data scan) and only those are rewritten — maintenance I/O follows
        the churn distribution, not table size; and ``n_buckets``, which
        re-buckets (necessarily full-table) in the same atomic commit.
        State is invariant in all forms.

        If the table carries a ``sort_order`` prop (a list of column names —
        the Iceberg table sort-order analog), compaction rewrites each
        bucket's rows clustered by those columns. Maintenance is exactly
        where that belongs at 100 TB: the hot commit path stays sort-free,
        while the long-lived base files — the bytes every subsequent read
        scans — get row-group statistics tight enough for the parquet
        reader to skip non-matching groups under pushed-down key predicates
        (bucket pruning picks the file; the sort order prunes within it),
        plus better zstd locality on repo/path-prefixed text.

        A ``zorder`` prop (list of >= 2 column names) clusters by the
        interleaved Morton key instead (zorder.py): row-group envelopes
        get tight on EVERY named column, so predicates on any one of them
        prune — the multi-dimensional complement to the linear
        ``sort_order`` (which only helps prefixes). The two props are
        mutually exclusive.

        The whole rewrite — bucket selection, the fold read, the commit —
        is pinned to ONE snapshot (``base``, default the head at entry),
        and the commit rebases over anything that lands meanwhile (see
        ``commit_merge``): compaction runs CONCURRENTLY with ingest, the
        100-TB operational requirement (you cannot pause a CDC stream to
        compact). Only a racing rewrite of the same files conflicts."""
        prev = base if base is not None else self.latest()
        nb = n_buckets or prev.n_buckets
        key_cols = prev.key_cols

        if nb == prev.n_buckets and min_delta_files is not None:
            from collections import Counter
            depth = Counter(f["bucket"] for f in prev.files
                            if f.get("kind") == "delta")
            todo = sorted(b for b in depth if depth[b] >= min_delta_files)
            if not todo:
                return
            df = (self.read(spark, buckets=todo, with_internal_cols=True,
                            snap=prev)
                  .withColumn("_bucket", bucket_expr(key_cols, nb)))
            self.commit_merge(df, todo, manifests=[], base=prev)
            return
        df = (self.read(spark, with_internal_cols=True, snap=prev)
              .withColumn("_bucket", bucket_expr(key_cols, nb)))
        self.commit_merge(df, list(range(nb)), manifests=[], n_buckets=nb,
                          base=prev)

    # ---------------- incremental changelog read ----------------
    def read_changes(self, spark: SparkSession, from_version: int,
                     to_version: int | None = None,
                     strict: bool = False,
                     on_logical_rewrite: str = "raise") -> DataFrame:
        """CDC-out: the per-key change rows committed AFTER ``from_version``
        up to and including ``to_version`` (default: latest), as a changelog
        DataFrame in the TO-version's logical schema plus ``_change_version``
        (committing snapshot) and ``_change_op`` (``upsert``/``delete``).
        Turns the sink back into a source, so downstream incremental
        pipelines consume deltas instead of re-scanning the table — the
        Iceberg incremental-append-scan analog.

        Semantics follow Iceberg's rule: only APPEND commits (MOR deltas,
        and pure-additive merges like the initial load) carry logical
        changes. A commit that also REMOVED files is distinguished by what
        it carries:

        * **maintenance rewrite** (compaction, re-bucket, tombstone expiry
          — ``commit_merge`` flags every commit that consumes files
          ``maintenance``; state-preserving by construction): a physical
          rewrite, not a logical change — contributes no rows and is
          skipped;
        * **logical rewrite** (an engine epoch, docstore upsert or
          rollup refresh an older copy-on-write build committed, without
          the maintenance flag): its changes are folded into rewritten
          base files and CANNOT be recovered incrementally, so skipping
          would silently lose data downstream — this RAISES by default.
          Pass ``on_logical_rewrite="skip"`` only when the consumer
          re-reads full state across such commits. This build commits
          every logical change as a MOR delta, so only tables written by
          older builds carry such commits.

        A ``rollback()`` commit in range ALWAYS raises under the default
        (and under ``strict``) regardless of its file delta — its "changes"
        undo earlier commits and resurrected files would re-deliver rows
        already consumed; ``on_logical_rewrite="skip"`` skips it like any
        other rewrite. ``strict=True`` raises on ANY rewrite commit in
        range, maintenance included (matching Iceberg's refusal to scan
        across a replace commit). Metadata-only commits contribute no rows.
        A version range that predates retention (``expire_snapshots``)
        raises FileNotFoundError.
        """
        if on_logical_rewrite not in ("raise", "skip"):
            raise ValueError("on_logical_rewrite must be 'raise' or 'skip'")
        to_snap = (self.latest() if to_version is None
                   else self.snapshot(to_version))
        if from_version > to_snap.version:
            raise ValueError(
                f"from_version {from_version} > to_version {to_snap.version}")
        prev_paths = {f["path"] for f in self.snapshot(from_version).files}
        change_cols = [("_change_version", "bigint"), ("_change_op", "string")]
        added_all: list[dict] = []
        for v in range(from_version + 1, to_snap.version + 1):
            doc_path = self._doc_path(v)
            if not os.path.exists(doc_path):
                # a TAG pins its own doc through retention but not its
                # successors — a changelog range starting at a tagged
                # version can cross an expired gap; name the cause instead
                # of surfacing a bare open() failure
                raise FileNotFoundError(
                    f"read_changes: snapshot v{v} in range "
                    f"({from_version}, {to_snap.version}] was expired by "
                    "retention (tagged versions survive expire_snapshots; "
                    "the versions after them need not) — the range is not "
                    "incrementally readable; re-baseline the consumer from "
                    "a full read of a retained snapshot")
            doc = self._load_snapshot_doc(doc_path)
            files, _ = self._doc_files(doc, os.path.dirname(doc_path))
            cur_paths = {f["path"] for f in files}
            added = [f for f in files if f["path"] not in prev_paths]
            removed = prev_paths - cur_paths
            prev_paths = cur_paths
            if doc.get("rollback_of") is not None:
                # a rollback() commit is never incrementally readable,
                # whatever its file delta looks like: its "changes" are the
                # UNDO of earlier commits, and a resurrected file would
                # re-deliver rows the consumer already saw as fresh upserts.
                # Checked BEFORE the added/removed split so a net-additive
                # rollback cannot slip through as an append.
                if strict or on_logical_rewrite == "raise":
                    raise ValueError(
                        f"snapshot v{v} rolls the table back to "
                        f"v{doc['rollback_of']} — a rollback is not "
                        "incrementally readable; re-baseline the consumer "
                        "from a full read of the rolled-back state, or pass "
                        "on_logical_rewrite='skip' if the consumer re-reads "
                        "full state across this commit")
                continue
            if removed:
                if strict:
                    raise ValueError(
                        f"snapshot v{v} rewrites files (compaction/"
                        "re-bucket) — not incrementally readable")
                # pre-flag docs (older tables) carry no `maintenance` key:
                # fall back to epoch/manifest presence as the logical signal
                # (compaction always committed with neither)
                logical = (not doc["maintenance"] if "maintenance" in doc
                           else (doc.get("epoch") is not None
                                 or bool(doc.get("manifests"))))
                if logical and on_logical_rewrite == "raise":
                    raise ValueError(
                        f"snapshot v{v} is a LOGICAL rewrite (epoch "
                        f"{doc.get('epoch')!r}, {len(doc.get('manifests') or [])}"
                        " manifests) committed copy-on-write: its changes are"
                        " folded into rewritten base files and cannot be read"
                        " incrementally. Commit logical changes as MOR deltas"
                        " (commit_delta) for CDC-out, or pass"
                        " on_logical_rewrite='skip' if the consumer re-reads"
                        " full state across this commit.")
                continue
            added_all.extend({**f, "_change_version": v} for f in added)
        out = _scan(spark, self.root, to_snap, added_all,
                    tags=("_change_version",))
        if out is None:
            ddl = ", ".join(
                [f'{f["name"]} {sql_type(f["type"])}' for f in to_snap.fields]
                + [f"{c} {t}" for c, t in INTERNAL_COLS.items()]
                + [f"{c} {t}" for c, t in change_cols])
            return spark.createDataFrame([], schema=ddl)
        return out.withColumn(
            "_change_op",
            F.when(F.col("_deleted"), F.lit("delete")).otherwise(F.lit("upsert")))


class ChangelogCursor:
    """Poll-based CDC-out consumer over ``read_changes``: remembers the last
    version delivered and each ``poll`` returns only the changes committed
    since — the tailing-consumer shape for downstream incremental pipelines
    (the engine's own run-loop applied to its OUTPUT side). ``poll`` returns
    ``None`` when nothing new was committed; a MAINTENANCE-rewrite-only
    window (pure compaction) advances the cursor and returns an empty frame,
    so consumers never re-deliver across it. A LOGICAL rewrite in the window
    (an older build's copy-on-write epoch, upsert or rollup refresh) raises
    through ``poll`` rather than silently dropping its changes — see
    ``read_changes``; pass ``on_logical_rewrite="skip"`` to opt out.

    Delivery contract: the returned DataFrame is LAZY, so advancing the
    cursor before the consumer has acted on it would be at-MOST-once under
    consumer failure. Two modes:

    * ``auto_ack=True`` (default): ``poll`` advances immediately — fine for
      consumers whose downstream action is idempotent or best-effort.
    * ``auto_ack=False``: ``poll`` leaves the cursor in place and records
      the pending window; re-polling before ``ack()`` re-delivers the SAME
      window (at-least-once), and ``ack()`` after the consumer's own commit
      advances it. Process-and-ack inside the consumer's transactional sink
      is the standard exactly-once composition (the engine's own
      checkpoint-manifest pattern, applied client-side)."""

    def __init__(self, table: SnapshotTable, from_version: int | None = None,
                 auto_ack: bool = True, on_logical_rewrite: str = "raise"):
        self.table = table
        self.version = (table.latest().version if from_version is None
                        else from_version)
        self.auto_ack = auto_ack
        self.on_logical_rewrite = on_logical_rewrite
        self._pending: int | None = None

    def poll(self, spark: SparkSession) -> DataFrame | None:
        latest = self.table.latest().version
        if latest == self.version:
            return None
        df = self.table.read_changes(
            spark, self.version, latest,
            on_logical_rewrite=self.on_logical_rewrite)
        if self.auto_ack:
            self.version = latest
        else:
            self._pending = latest
        return df

    def ack(self) -> None:
        """Commit the last un-acked ``poll`` window (no-op when nothing is
        pending). Call AFTER the downstream effect is durable."""
        if self._pending is not None:
            self.version = self._pending
            self._pending = None


def _sid_for(prev: Snapshot, fields: list[dict]) -> str:
    for sid, fl in prev.schemas.items():
        if fl == fields:
            return sid
    return f"s{len(prev.schemas)}"


def field_projection(present: set[str], fields: list[dict],
                     aliases: dict) -> list[str]:
    """THE single definition of the schema-projection columns — alias-map
    rename (old writers → new name, coalesced), null-fill missing columns,
    cast to the declared type (covers widening). Shared by the read-side
    file normalization (``_normalize``) and the engine's write-side event
    projection (``CdcEngine._normalize_events``): the LWW merge depends on
    events being projected IDENTICALLY to stored files, so the logic must
    not be able to drift between the two.

    Returns one SQL expression string per field, ``CAST(<src> AS <type>)
    AS <name>`` with ``<src>`` the present column, ``coalesce(<new>,
    <old>...)`` over the present names of a renamed field, or ``NULL``.
    Every name goes through ``ident`` (backtick-quoted, inner backticks
    doubled), so a field name is never parsed as SQL or as a nested-field
    path. Callers apply the strings, plus their own columns, in one
    ``selectExpr``: one JVM call, where a ``Column`` per field costs ~35
    py4j round trips."""
    inv: dict[str, list[str]] = {}
    for old, new in aliases.items():
        inv.setdefault(new, []).append(old)
    cols = []
    for f in fields:
        name = f["name"]
        candidates = ([name] if name in present else []) + \
            [o for o in inv.get(name, []) if o in present]
        if len(candidates) > 1:
            src = f"coalesce({', '.join(ident(x) for x in candidates)})"
        elif candidates:
            src = ident(candidates[0])
        else:
            src = "NULL"
        cols.append(f"CAST({src} AS {sql_type(f['type'])}) AS {ident(name)}")
    return cols


def _projected_fields(snap, columns: list[str] | None):
    """(fields to read, output column names) for a projected scan: the scan
    set is ``key_cols ∪ columns`` in snapshot declaration order (the MOR
    fold groups on the keys, so they are always read), the output is exactly
    ``columns`` in caller order (keys only if asked for). ``None`` → the
    full schema."""
    names = list(snap.field_names())
    if columns is None:
        return snap.fields, names
    if not columns:
        raise ValueError("columns must be a non-empty list (or None for all)")
    unknown = [c for c in columns if c not in names]
    if unknown:
        raise ValueError(
            f"unknown columns {unknown!r} — table schema has {names} "
            "(internal columns are selected via with_internal_cols)")
    if len(set(columns)) != len(columns):
        # a duplicated output name would produce an ambiguous frame that
        # fails far downstream — fail at the API boundary instead
        raise ValueError(f"duplicate columns in projection: {columns!r}")
    keep = set(columns) | set(snap.key_cols)
    return [f for f in snap.fields if f["name"] in keep], list(columns)


def _read_group(spark: SparkSession, schemas: dict, sid: str,
                paths: list[str], row_epoch: bool = False) -> DataFrame:
    """Read one write-time schema group with an EXPLICIT schema built from
    the snapshot's stored per-``schema_id`` field list + the engine's
    system columns — the physical layout every engine write produces.

    Why: without a schema, every ``spark.read.parquet`` plans a
    footer-inference pass first — measured as a string of 1-task jobs on
    the replay path (round-5 event-log decomposition), pure serial driver
    latency, and on an object store it is a footer GET per group BEFORE
    any task can launch. The engine already persists the exact write-time
    schema, so inference is information we paid for twice. Parquet
    resolution is by NAME (column order in the file is irrelevant);
    pre-upgrade snapshot docs without a stored schema for ``sid`` fall
    back to inference. ``row_epoch`` adds the stored ``EPOCH_COL`` (NULL
    in files without it)."""
    flds = (schemas or {}).get(sid)
    if flds is None:
        return spark.read.parquet(*paths)
    ddl = ", ".join(
        [f'{ident(f["name"])} {sql_type(f["type"])}' for f in flds]
        + [f"{c} {t}" for c, t in INTERNAL_COLS.items()]
        + ([f"{EPOCH_COL} int"] if row_epoch else []))
    return spark.read.schema(ddl).parquet(*paths)


def _scan(spark: SparkSession, root: str, snap: Snapshot, files: list[dict],
          fields: list[dict] | None = None,
          tags: tuple[str, ...] = (),
          row_epoch: bool = False) -> DataFrame | None:
    """THE file-scan body of every table read: group ``files`` (records
    with table-relative ``path`` and ``schema_id``) by write-time schema,
    read each group with its stored schema (``_read_group``), normalize it
    onto ``fields`` (default: the snapshot's full schema) and union the
    groups. Each record key named in ``tags`` also splits the groups and
    comes back as a bigint literal column of that name (the changelog's
    version, the key history's epoch and version). ``row_epoch`` also
    keeps each row's stored ``EPOCH_COL`` (NULL where a file has none).
    ``None`` when ``files`` is empty, so each caller builds its own typed
    empty frame."""
    groups: dict[tuple, list[str]] = {}
    for f in files:
        groups.setdefault((f["schema_id"], *(f[t] for t in tags)),
                          []).append(os.path.join(root, f["path"]))
    out = None
    for (sid, *vals), paths in groups.items():
        df = _normalize(_read_group(spark, snap.schemas, sid, paths,
                                    row_epoch),
                        fields if fields is not None else snap.fields,
                        snap.aliases, row_epoch)
        if tags:
            df = df.selectExpr("*", *[
                f"CAST({'NULL' if v is None else int(v)} AS bigint) AS {t}"
                for t, v in zip(tags, vals)])
        out = df if out is None else out.unionByName(df)
    return out


def _normalize(df: DataFrame, fields: list[dict], aliases: dict,
               row_epoch: bool = False) -> DataFrame:
    """Project any historical file schema onto the current logical schema:
    rename via alias map, null-fill missing columns, cast (covers widening).
    ``row_epoch`` keeps ``EPOCH_COL`` (NULL when absent). One ``selectExpr``
    of ``field_projection``'s strings plus the internal columns (a missing
    ``_deleted`` reads as false)."""
    present = set(df.columns)
    cols = field_projection(present, fields, aliases)
    internal = {**INTERNAL_COLS, **({EPOCH_COL: "int"} if row_epoch else {})}
    for vc, typ in internal.items():
        src = (vc if vc in present
               else "false" if typ == "boolean" else "NULL")
        cols.append(f"CAST({src} AS {typ}) AS {vc}")
    return df.selectExpr(*cols)
