"""Document-store write-back: keyed whole-document replace/upsert/delete —
the reference's second DataStore implementation (Mongo), interface-matched
over a lake-resident JSON-document table.

Reference surface (persistence module):
* keyed ``replaceOne`` — the document with the same key is REPLACED whole,
  never column-merged — impl/mongo/MongoDbDataStore.java:243;
* ``upsertEntity`` (insert-or-replace) — MongoDbDataStore.java:267;
* keyed delete — MongoDbDataStore.java:289-309.

No document database ships in this container, so the store is a keyed
table of ``(key_cols..., doc: string<json>)`` rows on ``lake.SnapshotTable``
— which supplies the three properties a document sink needs at scale:

1. **Merge-on-read upserts.** A batch stages its rows as one delta layer
   (``commit_delta_grouped``, the engine's own write path): every
   existing file is carried forward by reference, so cost is O(batch),
   NOT O(table) — the property that makes keyed upserts viable against a
   100-TB doc table. Reads LWW-fold the deltas per key, so replace-whole
   semantics come from the fold (the new doc is the whole document) and a
   delete is a tombstone row the reads filter out; ``compact()`` folds
   the layers back into base files.
2. **Atomic versioned publish** — the snapshot CAS; a crash mid-write is
   invisible (unreferenced orphan files, never a torn state).
3. **Keyed point reads prune to one bucket** (``find_document``) — the
   same file-group pruning a document DB gets from its primary index.

With a real document DB the same per-key-unique winner frame streams
through a foreachPartition bulk write of replaceOne ops — the call shape
is kept identical so the swap is mechanical. Idempotent under
at-least-once replay: re-upserting the same winner set reproduces the
identical final state (replace is absorbing).
"""

from __future__ import annotations

import secrets

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_core_spark.lake import SnapshotTable, bucket_expr, ident, sql_type

# reverse of lake.sql_type for deriving SnapshotTable field docs from a
# DataFrame schema (doc-store keys are scalars by contract)
_FROM_SPARK = {"bigint": "long", "int": "int", "smallint": "short",
               "string": "string", "boolean": "boolean", "double": "double",
               "float": "float", "timestamp": "timestamp", "binary": "binary"}


def _key_fields(df: DataFrame, key_cols: list[str]) -> list[dict]:
    by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out = []
    for k in key_cols:
        t = _FROM_SPARK.get(by_name[k])
        if t is None:
            raise ValueError(f"unsupported doc-store key type {by_name[k]!r} "
                             f"for column {k!r}")
        out.append({"name": k, "type": t, "nullable": False, "key": True})
    return out


def store_exists(root: str) -> bool:
    return SnapshotTable(root).exists()


def read_documents(spark: SparkSession, root: str) -> DataFrame:
    """Current state: ``(key_cols..., doc)`` rows of the latest snapshot."""
    return SnapshotTable(root).read(spark)


def shred_documents(df: DataFrame, schema_ddl: str) -> DataFrame:
    """Open the JSON doc back into typed columns (the read-side projection a
    document store serves; SchemaHelper JSON-shred analog)."""
    keys = [F.col(ident(c)) for c in df.columns if c != "doc"]
    return df.select(*keys,
                     F.from_json("doc", schema_ddl).alias("_d")).select(
        *keys, "_d.*")


def find_document(spark: SparkSession, root: str, key: dict) -> DataFrame:
    """Keyed point read (MongoDbDataStore.findEntity analog), pruned to the
    single bucket the key hashes to — one file group touched, not a scan.

    The bucket comes from a probe typed exactly like the stored key
    columns (xxhash64 is type-sensitive, so an inferred, wider probe type
    would mis-bucket): ``SELECT CAST(k0 AS <type>) AS <key>, … FROM VALUES
    (:k0, …)``, the key values bound as named SQL parameters in
    ``key_cols`` order, hashed by the writers' ``bucket_expr``. The
    optimizer folds the inline table to a local relation, so the probe's
    ``collect`` runs no Spark job and starts no Python worker: a point
    read's jobs are those of the returned frame's action (2 on a
    merge-on-read bucket: scan and fold)."""
    from cdc_core_spark.query import find_by_key
    tbl = SnapshotTable(root)
    snap = tbl.latest()
    key_cols = snap.key_cols
    tmap = {f["name"]: sql_type(f["type"]) for f in snap.fields}
    params = [f"k{i}" for i in range(len(key_cols))]
    probe = spark.sql(
        "SELECT " + ", ".join(f"CAST({p} AS {tmap[k]}) AS {ident(k)}"
                              for p, k in zip(params, key_cols))
        + f" FROM VALUES ({', '.join(':' + p for p in params)})"
        + f" AS probe({', '.join(params)})",
        args={p: key[k] for p, k in zip(params, key_cols)})
    b = probe.select(bucket_expr(key_cols, snap.n_buckets)).collect()[0][0]
    # reuse the snapshot already loaded — read() without snap= would parse
    # the snapshot log + manifest-list sidecar a second time per point read
    return find_by_key(tbl.read(spark, buckets=[int(b)], snap=snap), key)


def upsert_documents(df: DataFrame, root: str, key_cols: list[str],
                     deleted_col: str | None = None,
                     n_buckets: int = 64) -> None:
    """Keyed whole-document upsert (replaceOne semantics) with optional
    tombstone deletes.

    ``df`` must carry per-key UNIQUE rows (LWW winners): key columns, any
    payload columns (serialized into the doc), and optionally a boolean
    ``deleted_col``. Matched docs are replaced whole, new keys insert,
    tombstones remove the doc (matched or not — removing an absent key is
    a no-op, as in replaceOne+delete bulk writes).

    The batch publishes as one merge-on-read delta layer pinned to the
    snapshot it read. Its version tuple is ``(version + 1, one random
    63-bit draw)``: every row sorts after everything that snapshot holds
    (rows of older stores carry ``(-1, -1)``), and two upserts pinned to
    the same snapshot still differ, so every read folds the same winner.
    Concurrent upserts both commit (deltas rebase); on the same key one of
    the two docs wins.

    ``n_buckets`` applies on first use only (afterwards the snapshot owns
    it; grow via ``SnapshotTable.compact(n_buckets=...)``).
    """
    payload = [c for c in df.columns
               if c not in key_cols and c != deleted_col]
    doc = (F.to_json(F.struct(*[F.col(ident(c)) for c in payload]))
           if payload else F.lit("{}"))
    # coalesce: a NULL delete flag means "not a delete" — an un-coalesced
    # NULL would store a NULL tombstone flag, which the read filter
    # (NOT _deleted) drops like a delete: a silent delete
    deleted = (F.coalesce(F.col(ident(deleted_col)), F.lit(False))
               if deleted_col else F.lit(False))

    tbl = SnapshotTable(root)
    if not tbl.exists():
        fields = _key_fields(df, key_cols) + [
            {"name": "doc", "type": "string", "nullable": True}]
        tbl = SnapshotTable.create(root, fields=fields, key_cols=key_cols,
                                   n_buckets=n_buckets,
                                   props={"store": "documents"})
    # full latest() (not latest_meta): the commit is pinned to this
    # snapshot, whose file list it extends; a concurrent writer rebases
    meta = tbl.latest()
    # normalize incoming key types to the TABLE'S declared types BEFORE
    # hashing: xxhash64 hashes int 7 and bigint 7 differently (the
    # bucket_expr contract), so a type-drifted batch (rev int from JSON vs
    # the stored bigint) would land in another bucket than the stored doc
    # and leave a duplicate the fold never meets — a stale doc that
    # find_document's correctly-typed probe then returns forever.
    # find_document types its probe the same way (see above).
    tmap = {f["name"]: sql_type(f["type"]) for f in meta.fields}
    delta = df.select(
        *[F.col(ident(k)).cast(tmap[k]).alias(k) for k in key_cols],
        doc.alias("doc"),
        F.lit(meta.version + 1).cast("bigint").alias("_op_ts"),
        F.lit(secrets.randbits(63)).cast("bigint").alias("_event_seq"),
        deleted.alias("_deleted"))
    delta = delta.withColumn("_bucket", bucket_expr(key_cols, meta.n_buckets))
    tbl.commit_delta_grouped(delta, [], manifests=[], base=meta)


def delete_documents(spark: SparkSession, root: str, key_cols: list[str],
                     keys_df: DataFrame) -> None:
    """Keyed bulk delete (MongoDbDataStore delete analog): one upsert of
    tombstone rows, which reads filter out."""
    tomb = (keys_df.select(*[F.col(ident(k)) for k in key_cols])
            .withColumn("_deleted_flag", F.lit(True)))
    upsert_documents(tomb, root, key_cols, deleted_col="_deleted_flag")
