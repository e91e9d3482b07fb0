"""Iceberg conformance shim — the SnapshotTable surface routed to REAL
Iceberg operations when the runtime jars are present.

``lake.SnapshotTable``'s docstring carries the operation-by-operation audit
(each call ↔ one Iceberg operation); this module makes that mapping code
instead of prose. It is deliberately thin: every method is one Spark-SQL /
DataFrameWriterV2 call against an Iceberg catalog, because the point is to
PROVE the engine's commit granularity and metadata contract line up with
Iceberg's, not to re-implement a lakehouse.

Sandbox note: this container ships no Iceberg jars, so
``iceberg_available(spark)`` returns False here and the conformance tests
(tests/test_lake_iceberg.py) skip. On a cluster, add
``--packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:<ver>`` and a
catalog conf, and the same tests run against real Iceberg tables.

Contract parity with ``lake.SnapshotTable``:

* **Bucketing**: the table is partitioned by the IDENTITY of the engine's
  own ``_bucket`` column (``lake.bucket_expr`` — xxhash64 over ALL key
  columns), NOT by Iceberg's ``bucket(n, col)`` transform of one key
  column. This is load-bearing for merge correctness: the engine computes
  ``touched_buckets`` by hashing the full key, so a ``commit_merge`` frame
  contains the complete content of exactly those buckets. If the physical
  partition were ``bucket(n, repo)``, two keys ``(r, a)`` and ``(r, b)``
  could share a partition while only one is in the merge frame — dynamic
  partition overwrite would silently delete the other. Identity-partitioning
  the engine's bucket makes ``overwritePartitions`` replace exactly the
  touched-bucket set, byte-for-byte the SnapshotTable rule.
* **commit_delta_grouped** (and ``commit_delta``, its group of one) →
  ``writeTo(...).append()`` with ``snapshot-property.cdc.epoch`` /
  ``.cdc.manifests`` summary props: the exactly-once ledger rides Iceberg
  snapshot summaries as it rides our snapshot docs, every epoch's rows in
  one snapshot, folded per ``checkpoint_epoch`` like ``_fold_epochs``.
* **commit_merge** → ``overwritePartitions()`` (the bucket-pruned
  copy-on-write of the initial load and maintenance: only ``_bucket``
  partitions present in ``df`` are replaced, the rest carried by
  reference).
* **commit_metadata** → Iceberg DDL (``ADD COLUMN`` / ``RENAME COLUMN`` /
  ``ALTER COLUMN TYPE``) — metadata-only evolution, no data rewrite.
* **committed_epochs** → scan of the ``.snapshots`` metadata table's
  summary maps (what SnapshotTable folds from its log docs, cached).
* **read** → table scan + the same LWW fold / tombstone filter
  (``lww.lww_reduce``), so MOR semantics are byte-identical to the
  engine's.
* **read_changes** → Iceberg incremental append scan
  (``start/end-snapshot-id`` read options) — the rule SnapshotTable's
  changelog mirrors, including refusal across replace snapshots.
* **compact** → ``CALL <catalog>.system.rewrite_data_files`` (maintenance
  rewrite: changes no logical rows, same invariant ``compact()`` keeps).
  The stand-in's ``sort_order`` table prop maps onto a real Iceberg write
  sort order (``ALTER TABLE ... WRITE ORDERED BY`` /
  ``rewrite_data_files(strategy => 'sort', sort_order => ...)``) — same
  design point both sides: clustering is paid at maintenance time, the
  hot commit path stays sort-free, point predicates prune row groups.
* **expire_snapshots** → ``CALL <catalog>.system.expire_snapshots`` after
  folding epoch/manifest summaries forward (retention must not lose the
  exactly-once ledger — same rule as SnapshotTable's expired-base doc).

Scope — what this adapter is and is not: it proves the COMMIT AND METADATA
substrate swap (signatures mirror ``SnapshotTable``'s, epoch/lineage
semantics identical; table-level ``props`` map onto Iceberg table
properties, a separate metadata commit — benign because the engine's props
are idempotent markers), but it is not yet a drop-in ``engine.table``. Two
engine conveniences are explicitly out of scope and rejected loudly rather
than mis-handled: callable ``manifests`` (the engine's callable records
the write volume of OUR staged files; Iceberg manages its own files, so
manifest rows must be materialized pre-commit — pass a list), and in-commit
re-bucketing (``n_buckets=`` on ``commit_merge``; Iceberg evolves partition
specs via ``ALTER TABLE ... REPLACE PARTITION FIELD`` + a rewrite, a
maintenance flow, not a merge flag).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_core_spark.lake import INTERNAL_COLS, bucket_expr, sql_type

#: snapshot-summary keys carrying the exactly-once ledger
EPOCH_PROP = "cdc.epoch"
MANIFESTS_PROP = "cdc.manifests"
#: table properties: key columns + bucket count (so an adapter can attach to
#: an existing table) and the ledger folded forward by expire_snapshots
KEY_COLS_PROP = "cdc.key-cols"
N_BUCKETS_PROP = "cdc.n-buckets"
EXPIRED_EPOCHS_PROP = "cdc.expired-epochs"
EXPIRED_MANIFESTS_PROP = "cdc.expired-manifests"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the classpath (the jar-gate
    for the conformance tests)."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class _IcebergCommit:
    """The fields the engine reads off a commit's return (``manifests``,
    ``epoch``); ``version`` is the Iceberg snapshot id."""

    def __init__(self, version: int | None, epoch: int | None,
                 manifests: list[dict]):
        self.version = version
        self.epoch = epoch
        self.manifests = manifests


class IcebergSnapshotTable:
    """SnapshotTable-shaped adapter over a real Iceberg v2 table.

    ``ident`` is the fully-qualified table identifier
    (``catalog.db.table``); the catalog must be configured on the session
    (``spark.sql.catalog.<name>`` confs). Method-for-method mapping and the
    scope boundary in the module docstring.
    """

    def __init__(self, spark: SparkSession, ident: str):
        self.spark = spark
        self.ident = ident
        self.catalog = ident.split(".", 1)[0]
        self._key_cols: list[str] | None = None
        self._n_buckets: int | None = None

    @property
    def key_cols(self) -> list[str]:
        """Key columns — recovered from the ``cdc.key-cols`` table property
        when the adapter is attached to an existing table (a resumed driver
        never re-runs ``create``), settable for tables made elsewhere."""
        if self._key_cols is None:
            raw = self._table_props().get(KEY_COLS_PROP)
            if raw is None:
                raise ValueError(
                    f"table {self.ident} has no {KEY_COLS_PROP!r} property — "
                    "it was not created by IcebergSnapshotTable.create; set "
                    ".key_cols explicitly before reading")
            self._key_cols = json.loads(raw)
        return self._key_cols

    @key_cols.setter
    def key_cols(self, cols: list[str]) -> None:
        self._key_cols = list(cols)

    @property
    def n_buckets(self) -> int:
        if self._n_buckets is None:
            raw = self._table_props().get(N_BUCKETS_PROP)
            if raw is None:
                raise ValueError(
                    f"table {self.ident} has no {N_BUCKETS_PROP!r} property — "
                    "set .n_buckets explicitly for tables made elsewhere")
            self._n_buckets = int(raw)
        return self._n_buckets

    @n_buckets.setter
    def n_buckets(self, n: int) -> None:
        self._n_buckets = int(n)

    # ---------------- DDL ----------------
    @staticmethod
    def create(spark: SparkSession, ident: str, fields: list[dict],
               key_cols: list[str], n_buckets: int = 16
               ) -> "IcebergSnapshotTable":
        """Create the target table partitioned by the engine's OWN bucket
        column (identity partition over ``_bucket`` = xxhash64 of the FULL
        key, ``lake.bucket_expr``) — see the module docstring for why
        ``bucket(n, key_cols[0])`` would corrupt multi-key merges."""
        cols = ", ".join(
            [f'{f["name"]} {sql_type(f["type"])}' for f in fields]
            + [f"{c} {t}" for c, t in INTERNAL_COLS.items()]
            + ["_bucket int"])
        spark.sql(
            f"CREATE TABLE {ident} ({cols}) USING iceberg "
            "PARTITIONED BY (_bucket) "
            "TBLPROPERTIES ('format-version'='2', "
            f"'{KEY_COLS_PROP}'='{json.dumps(key_cols)}', "
            f"'{N_BUCKETS_PROP}'='{n_buckets}')")
        t = IcebergSnapshotTable(spark, ident)
        t.key_cols = key_cols
        t.n_buckets = n_buckets
        return t

    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.ident)

    def commit_metadata(self, new_fields: list[dict],
                        new_aliases: dict | None = None,
                        epoch: int | None = None,
                        props: dict | None = None,
                        base=None) -> None:
        """Metadata-only evolution (SnapshotTable.commit_metadata analog):
        renames from ``new_aliases`` (old→resolved name, applied when the
        old name is still live), then ADD COLUMN for new fields, then ALTER
        COLUMN TYPE for widenings — each one Iceberg DDL statement, no data
        rewrite. Validation (is the widen legal, is the rename unambiguous)
        belongs to the registry, same as the lake path."""
        current = {f.name: f.dataType.simpleString()
                   for f in self.spark.table(self.ident).schema.fields}
        for old, new in (new_aliases or {}).items():
            if old in current and new not in current:
                self.spark.sql(f"ALTER TABLE {self.ident} "
                               f"RENAME COLUMN {old} TO {new}")
                current[new] = current.pop(old)
        for f in new_fields:
            t = sql_type(f["type"])
            if f["name"] not in current:
                self.spark.sql(f"ALTER TABLE {self.ident} "
                               f"ADD COLUMN {f['name']} {t}")
            elif current[f["name"]] != t:
                self.spark.sql(f"ALTER TABLE {self.ident} "
                               f"ALTER COLUMN {f['name']} TYPE {t}")
        self._set_props(props)

    def _set_props(self, props: dict | None) -> None:
        """Table-level flags (initial_loaded, schema_version, ...) map onto
        Iceberg table properties — a separate metadata commit, NOT atomic
        with a data commit the way lake.SnapshotTable folds props into the
        snapshot doc; the engine's props are idempotent markers, so a crash
        between the two leaves a benign re-settable flag."""
        for k, v in (props or {}).items():
            kq = str(k).replace("'", "''")
            vq = json.dumps(v) if not isinstance(v, str) else v
            vq = vq.replace("'", "''")
            self.spark.sql(f"ALTER TABLE {self.ident} SET TBLPROPERTIES "
                           f"('{kq}'='{vq}')")

    # ---------------- commits ----------------
    def _writer(self, df: DataFrame, epoch: int | None,
                manifests: list[dict]):
        if callable(manifests):
            raise TypeError(
                "IcebergSnapshotTable does not accept callable manifests: "
                "the engine's callable records the write volume of "
                "SnapshotTable's OWN staged files, which Iceberg manages "
                "internally — materialize the manifest rows before the "
                "commit and pass a list (module docstring, Scope)")
        df = self._ensure_bucket(df)
        # fanout: partitioned v2 append without requiring a sort by _bucket
        writer = df.writeTo(self.ident).option("fanout-enabled", "true")
        if epoch is not None:
            writer = writer.option(f"snapshot-property.{EPOCH_PROP}",
                                   str(epoch))
        if manifests:
            writer = writer.option(f"snapshot-property.{MANIFESTS_PROP}",
                                   json.dumps(manifests))
        return writer

    def _ensure_bucket(self, df: DataFrame) -> DataFrame:
        if "_bucket" in df.columns:
            return df
        return df.withColumn(
            "_bucket", bucket_expr(self.key_cols, self.n_buckets))

    def _last_snapshot_id(self) -> int | None:
        """The table head right after this writer's commit (the main ref,
        not a committed_at sort). With CONCURRENT writers it can already be
        someone else's snapshot: hold the writer lease (as engine.replay
        does) when chaining read_changes from it."""
        try:
            row = (self.spark.table(f"{self.ident}.refs")
                   .filter(F.col("name") == "main")
                   .select("snapshot_id").limit(1).collect())
            if row:
                return int(row[0]["snapshot_id"])
        except Exception:
            pass  # older runtimes without the refs metadata table
        row = (self.snapshots().orderBy(F.col("committed_at").desc())
               .select("snapshot_id").limit(1).collect())
        return int(row[0]["snapshot_id"]) if row else None

    def commit_delta(self, df: DataFrame, epoch: int | None,
                     manifests, base=None) -> _IcebergCommit:
        """MOR delta of one epoch: a group of one through
        ``commit_delta_grouped``, as in ``SnapshotTable``."""
        return self.commit_delta_grouped(
            df, [] if epoch is None else [epoch], manifests, base=base)

    def commit_delta_grouped(self, df: DataFrame, epochs: list[int],
                             manifests, new_fields: list[dict] | None = None,
                             new_aliases: dict | None = None,
                             props: dict | None = None,
                             base=None) -> _IcebergCommit:
        """MOR delta: one append snapshot for one epoch or a group of them,
        with the last epoch + every epoch's manifest rows in the snapshot
        summary (Transaction.newAppend + summary props); per-epoch
        committedness folds from the rows' ``checkpoint_epoch`` as in
        SnapshotTable. A schema change (``new_fields``/``new_aliases``/
        ``props``) runs as ``commit_metadata`` BEFORE the append — NOT
        atomic here, unlike SnapshotTable's one snapshot: a crash between
        leaves the schema ahead of its data, which the engine's rerun
        absorbs as a replayed DDL. ``base`` is accepted for parity and
        unused: Iceberg's commit loop retries appends natively
        (``commit.retry.*``), what SnapshotTable's delta rebase does."""
        if new_fields is not None or props is not None:
            self.commit_metadata(new_fields or [], new_aliases, props=props)
        last = epochs[-1] if epochs else None
        self._writer(df, last, manifests).append()
        return _IcebergCommit(self._last_snapshot_id(), last, manifests)

    def commit_merge(self, df: DataFrame, touched_buckets: list[int],
                     manifests, props: dict | None = None,
                     n_buckets: int | None = None,
                     base=None) -> _IcebergCommit:
        """Copy-on-write base-file rewrite (initial load, maintenance):
        dynamic partition overwrite replaces exactly the ``_bucket``
        partitions present in ``df`` and carries the rest — the Iceberg form
        of SnapshotTable's touched-bucket rewrite (the identity-partition
        layout makes the two partition sets identical; ``touched_buckets``
        is accepted for signature parity and the frame's own partitions are
        the authority, as with overwritePartitions). Props ride ahead of the
        data commit as table properties.

        ``base`` (the lake's optimistic-concurrency pin) is accepted for
        parity; the conflict rules it arms map onto Iceberg's NATIVE
        validation rather than adapter code: overwrite/rewrite commits
        validate concurrently-changed partitions per the table's
        ``write.*.isolation-level`` (snapshot = the lake's one rebase
        rule), retries come from ``commit.retry.*``, and a failed
        validation surfaces as ``ValidationException`` — the
        ``CommitConflictError`` analog. Clustering belongs to the table's
        ``write.sort-order`` (SORT ORDERED BY), as the lake derives it from
        the ``sort_order`` prop, not from a per-commit flag."""
        if n_buckets is not None and n_buckets != self.n_buckets:
            raise NotImplementedError(
                "re-bucketing via commit_merge(n_buckets=) is a lake-path "
                "flag; with Iceberg, evolve the partition spec (ALTER TABLE "
                "... REPLACE PARTITION FIELD) and rewrite_data_files "
                "instead (module docstring, Scope)")
        self._set_props(props)
        self._writer(df, None, manifests).overwritePartitions()
        return _IcebergCommit(self._last_snapshot_id(), None,
                              manifests if isinstance(manifests, list) else [])

    # ---------------- reads ----------------
    def read(self, with_internal_cols: bool = False,
             as_of_ts_ms: int | None = None) -> DataFrame:
        """Current state (LWW-folded); ``as_of_ts_ms`` time-travels the
        scan (Iceberg ``TIMESTAMP AS OF`` / the ``as-of-timestamp`` read
        option) — parity with ``SnapshotTable.snapshot_as_of`` +
        ``read(snap=...)``."""
        from cdc_core_spark.lww import lww_reduce
        if as_of_ts_ms is None:
            df = self.spark.table(self.ident)
        else:
            df = (self.spark.read.format("iceberg")
                  .option("as-of-timestamp", str(int(as_of_ts_ms)))
                  .table(self.ident))
        keys = self.key_cols
        payload = [c for c in df.columns
                   if c not in keys and c not in INTERNAL_COLS
                   and c != "_bucket"]
        out = lww_reduce(df, keys, payload + ["_deleted"])
        if not with_internal_cols:
            out = out.filter(~F.col("_deleted")).drop("_bucket",
                                                      *INTERNAL_COLS)
        return out

    def snapshots(self) -> DataFrame:
        return self.spark.table(f"{self.ident}.snapshots")

    def committed_epochs(self) -> set[int]:
        """Live snapshot summaries ∪ per-manifest-row epochs (group commits)
        ∪ the expired-ledger table property — exactly-once resume must
        survive retention, same as SnapshotTable's expired-base doc and
        ``_fold_epochs`` rule."""
        rows = (self.snapshots()
                .select(F.element_at("summary", EPOCH_PROP).alias("e"),
                        F.element_at("summary", MANIFESTS_PROP).alias("m"))
                .filter(F.col("e").isNotNull() | F.col("m").isNotNull())
                .collect())
        eps = {int(r["e"]) for r in rows if r["e"] is not None}
        for r in rows:
            for m in json.loads(r["m"]) if r["m"] else []:
                if m.get("checkpoint_epoch", -1) >= 0:
                    eps.add(m["checkpoint_epoch"])
        return eps | self._ledger_epochs()

    def all_manifests(self) -> list[dict]:
        """Lineage rows from live snapshot summaries PLUS the manifests
        folded into the expired-ledger property — the audit trail survives
        retention, not just the epoch ids."""
        out: list[dict] = list(self._ledger_manifests())
        # canonical-JSON dedupe: between ledger-fold and snapshot expiry a
        # crashed expire leaves the same rows in BOTH places
        seen = {json.dumps(m, sort_keys=True) for m in out}
        rows = (self.snapshots()
                .select(F.element_at("summary", MANIFESTS_PROP).alias("m"))
                .filter(F.col("m").isNotNull()).collect())
        for r in rows:
            for m in json.loads(r["m"]):
                if json.dumps(m, sort_keys=True) not in seen:
                    out.append(m)
        return out

    def read_changes(self, from_snapshot_id: int,
                     to_snapshot_id: int | None = None) -> DataFrame:
        """Incremental append scan (appendsBetween): Iceberg itself raises
        across replace snapshots — the same strict rule SnapshotTable's
        changelog enforces for logical rewrites."""
        r = (self.spark.read.format("iceberg")
             .option("start-snapshot-id", str(from_snapshot_id)))
        if to_snapshot_id is not None:
            r = r.option("end-snapshot-id", str(to_snapshot_id))
        df = r.load(self.ident)
        return df.withColumn(
            "_change_op",
            F.when(F.col("_deleted"), F.lit("delete")).otherwise(
                F.lit("upsert")))

    # ---------------- refs: branches + tags ----------------
    # lake.SnapshotTable's refs map 1:1 onto Iceberg refs; write-audit-
    # publish = stage commits on the branch (writeTo(branch_ident(name)) or
    # session conf spark.wap.branch), audit the branch read, then
    # fast_forward main. Same retention rule: Iceberg never expires
    # snapshots a ref points to.

    def create_branch(self, name: str) -> None:
        self.spark.sql(f"ALTER TABLE {self.ident} CREATE BRANCH `{name}`")

    def drop_branch(self, name: str) -> None:
        self.spark.sql(f"ALTER TABLE {self.ident} DROP BRANCH `{name}`")

    def create_tag(self, name: str, version: int | None = None) -> None:
        """``version`` is the Iceberg snapshot id (the shim's version
        domain, same as ``read_changes``); default = current head —
        signature-parity with ``SnapshotTable.create_tag``."""
        as_of = f" AS OF VERSION {int(version)}" if version is not None else ""
        self.spark.sql(
            f"ALTER TABLE {self.ident} CREATE TAG `{name}`{as_of}")

    def drop_tag(self, name: str) -> None:
        self.spark.sql(f"ALTER TABLE {self.ident} DROP TAG `{name}`")

    def fast_forward(self, name: str) -> None:
        self.spark.sql(
            f"CALL {self.catalog}.system.fast_forward"
            f"(table => '{self.ident.split('.', 1)[1]}', "
            f"branch => 'main', to => '{name}')")

    def rollback(self, version: int) -> None:
        """``SnapshotTable.rollback`` analog: Iceberg's
        ``rollback_to_snapshot`` procedure. ``version`` is the snapshot id
        (the shim's version domain). Same semantics the stand-in pins in
        tests/test_rollback.py: data state reverts, schema and the
        (prop-carried) epoch ledger do not, history stays time-travelable."""
        self.spark.sql(
            f"CALL {self.catalog}.system.rollback_to_snapshot"
            f"(table => '{self.ident.split('.', 1)[1]}', "
            f"snapshot_id => {int(version)})")

    def cherry_pick(self, version: int) -> None:
        """``SnapshotTable.cherry_pick`` analog: Iceberg's
        ``cherrypick_snapshot`` procedure — applies a staged (WAP) or
        ancestor append snapshot onto the current head. Iceberg enforces
        the same limits natively: appends/dynamic-overwrites only, and a
        duplicate ``wap.id`` raises (the stand-in's epoch-ledger rule)."""
        self.spark.sql(
            f"CALL {self.catalog}.system.cherrypick_snapshot"
            f"(table => '{self.ident.split('.', 1)[1]}', "
            f"snapshot_id => {int(version)})")

    def refs(self) -> DataFrame:
        """The `refs` metadata table: one row per branch/tag with its
        pinned snapshot id."""
        return self.spark.read.format("iceberg").load(f"{self.ident}.refs")

    def branch_ident(self, name: str) -> str:
        """Writable identifier for a branch (``df.writeTo(...)`` target /
        ``INSERT INTO`` — the Iceberg ``table.branch_<name>`` form)."""
        return f"{self.ident}.branch_{name}"

    def read_branch(self, name: str) -> DataFrame:
        return (self.spark.read.format("iceberg").option("branch", name)
                .load(self.ident))

    # ---------------- maintenance ----------------
    def compact(self, min_delta_files: int | None = None) -> None:
        """rewrite_data_files — the shim's one compaction entry point, as
        ``SnapshotTable.compact`` is the local table's; no write path
        compacts on its own. ``min_delta_files`` maps onto Iceberg's
        ``min-input-files`` (file-count trigger per rewrite group — same
        throttling direction as SnapshotTable's); other tuning goes through
        ``target-file-size-bytes`` on the table."""
        opts = []
        if min_delta_files is not None:
            opts.append(f"'min-input-files', '{int(min_delta_files)}'")
        extra = f", options => map({', '.join(opts)})" if opts else ""
        self.spark.sql(
            f"CALL {self.catalog}.system.rewrite_data_files"
            f"(table => '{self.ident.split('.', 1)[1]}'{extra})")

    def expire_snapshots(self, keep_last: int | None = None,
                         older_than_ms: int | None = None) -> None:
        """Retention with the ledger folded forward: epoch/manifest summary
        props of to-be-expired snapshots are re-committed as table
        properties first (the expired-base-doc analog), then Iceberg
        expires. Exactly-once resume survives retention. Signature parity
        with ``SnapshotTable.expire_snapshots``: ``older_than_ms`` expires
        by age (maps to the procedure's ``older_than``), ``keep_last`` maps
        to ``retain_last``; given both, Iceberg applies the conjunction —
        the local ledger fold below mirrors it."""
        if keep_last is None and older_than_ms is None:
            raise ValueError(
                "expire_snapshots needs keep_last and/or older_than_ms")
        if keep_last is not None and keep_last < 1:
            # same guard as SnapshotTable: keep_last=0 would otherwise slice
            # snaps[:-0] == [] and silently expire NOTHING
            raise ValueError("keep_last must be >= 1")
        if keep_last is None:
            keep_last = 1   # never expire the head by age alone
        snaps = (self.snapshots().orderBy("committed_at").collect())
        expiring = snaps[:-keep_last]
        if older_than_ms is not None:
            # committed_at collects as a naive datetime in the DRIVER OS
            # timezone (TimestampType.fromInternal uses
            # datetime.fromtimestamp, not the Spark session tz);
            # .timestamp() interprets naive under that same OS tz, so this
            # recovers the true epoch instant
            expiring = [s for s in expiring
                        if s["committed_at"].timestamp() * 1000
                        < older_than_ms]
        eps = {int(s["summary"][EPOCH_PROP]) for s in expiring
               if s["summary"] and EPOCH_PROP in s["summary"]}
        # group commits carry only their LAST epoch in EPOCH_PROP; the
        # earlier epochs live as manifest-row checkpoint_epochs — fold them
        # too, or retention would forget them and a resume re-applies them
        # (same _fold_epochs rule as lake.SnapshotTable's expired-base doc)
        for sn in expiring:
            if sn["summary"] and MANIFESTS_PROP in sn["summary"]:
                for m in json.loads(sn["summary"][MANIFESTS_PROP]):
                    if m.get("checkpoint_epoch", -1) >= 0:
                        eps.add(m["checkpoint_epoch"])
        eps = sorted(eps | self._ledger_epochs())
        # manifests fold forward too (the lineage half of the ledger);
        # dedup by canonical JSON so a retried expire (props set, CALL
        # failed) never double-counts rows still carried by live snapshots
        mans = list(self._ledger_manifests())
        seen = {json.dumps(m, sort_keys=True) for m in mans}
        for s in expiring:
            if s["summary"] and MANIFESTS_PROP in s["summary"]:
                for m in json.loads(s["summary"][MANIFESTS_PROP]):
                    key = json.dumps(m, sort_keys=True)
                    if key not in seen:
                        seen.add(key)
                        mans.append(m)
        self.spark.sql(
            f"ALTER TABLE {self.ident} SET TBLPROPERTIES "
            f"('{EXPIRED_EPOCHS_PROP}'='{json.dumps(eps)}', "
            f"'{EXPIRED_MANIFESTS_PROP}'='{json.dumps(mans)}')")
        if expiring:
            import datetime as _dt
            if older_than_ms is not None:
                cut_s = older_than_ms / 1000.0
            else:
                # naive OS-local datetime → true epoch instant (see above)
                cut_s = snaps[-keep_last]["committed_at"].timestamp()
            # render the literal WITH an explicit zone offset: a bare
            # TIMESTAMP literal is parsed in spark.sql.session.timeZone,
            # which need not match the driver-OS tz the instant was
            # computed under — the +00:00 suffix makes the literal
            # instant-exact regardless of either setting, so the Iceberg
            # expire cutoff and the local ledger fold above agree
            ts = _dt.datetime.fromtimestamp(
                cut_s, tz=_dt.timezone.utc).isoformat(sep=" ")
            self.spark.sql(
                f"CALL {self.catalog}.system.expire_snapshots"
                f"(table => '{self.ident.split('.', 1)[1]}', "
                f"older_than => TIMESTAMP '{ts}', "
                f"retain_last => {keep_last})")

    def _table_props(self) -> dict[str, str]:
        return {r["key"]: r["value"] for r in self.spark.sql(
            f"SHOW TBLPROPERTIES {self.ident}").collect()}

    def _ledger_epochs(self) -> set[int]:
        raw = self._table_props().get(EXPIRED_EPOCHS_PROP)
        return set(json.loads(raw)) if raw else set()

    def _ledger_manifests(self) -> list[dict]:
        raw = self._table_props().get(EXPIRED_MANIFESTS_PROP)
        return json.loads(raw) if raw else []
