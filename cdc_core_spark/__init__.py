"""cdc_core_spark — a from-scratch PySpark-native CDC / incremental-ingest engine.

Reproduces the change-event semantics of the reference framework
(vikrantzyient/cdc-core, a Java row-at-a-time CDC/ingest framework) with an
idiomatic Spark design:

* change events are rows of a partitioned parquet event log, read in epochs
  (reference: pull-based ``MessageReceiver.nextBatch`` batches,
  messaging/.../MessageReceiver.java:86-96);
* per-key ordering/last-writer-wins is an algebraic ``max_by`` reduction over
  the version tuple ``(op_ts, event_seq)`` (reference: per-key single-threaded
  sharded executors, core/.../executor/BaseShardedExecutor.java:137-209, and
  ``version() == updatedTime`` LWW, persistence/.../model/BaseEntity.java:125-128);
* keyed INSERT/UPDATE/DELETE upserts become merge-on-read delta commits of
  the per-key winners into a bucketed atomic-snapshot parquet table
  (reference: keyed create/update/upsert/delete,
  persistence/.../AbstractDataStore.java:140-226, and the atomic temp-file → commit writer, filesystem/.../Writer.java:43-127);
* exactly-once is enforced with idempotent commit manifests keyed
  ``(checkpoint_epoch, partition_id)`` (reference: read/committed offset split,
  messaging/.../ReceiverOffset.java:30-61, + ZK ``OffsetStateManager``);
* schema evolution flows through a versioned registry with a
  widen-only/nullable-add validator and a rename alias map (reference:
  entity/.../schema/SchemaEvolutionValidator.java, EntitySchema.apply).

Everything is DataFrame ops + vectorized Arrow/pandas UDFs; no per-row Python.
"""

__version__ = "0.1.0"

from cdc_core_spark.session import get_spark  # noqa: F401
